package graft

import org.apache.spark.sql.SparkSession

import graft.core.Tables
import graft.functions.GraftFunctions

/** Library front door: one call gives a session with the engine's
  * recommended runtime settings, the optimizer extensions installed
  * (`plans.GraftExtensions` — e.g. the automatic non-equi range-join
  * rewrite, conf-gated per query), the custom Catalyst functions
  * registered (usable from SQL as `graft_dot`, `graft_minhash_sig`,
  * `graft_simhash64`, `graft_sorted_intersect_count`,
  * `graft_first_equal_index`, `graft_rhp_sig`,
  * `graft_bloom_contains`, plus the Count-Min trio `graft_cms_build` /
  * `graft_cms_union` / `graft_cms_estimate`), and — optionally — a
  * warehouse directory attached as queryable views.
  *
  * A user of the reference runs `configuration.properties` through
  * `config.JobConfig` and `core.ReconcilePipeline`; a SQL user attaches
  * a warehouse and writes `spark.sql` against the views; a DataFrame
  * user calls the operator objects directly. All three share this
  * session setup.
  */
object GraftSession {

  /** Build a new session with the engine's recommended configuration.
    * `cores` sizes both the local master and shuffle parallelism —
    * on a real cluster pass a master URL instead and size
    * `spark.sql.shuffle.partitions` to the cluster (2–3× total cores).
    */
  def create(master: String = "local[*]", shufflePartitions: Int = 0): SparkSession =
    configure(builder(master, shufflePartitions).getOrCreate())

  /** The base builder every entry point (library front door, Bench,
    * Verify, dev tools) shares, so the runtime confs the fixtures
    * require — UTC session zone (Tables.normalizeEvents requires it),
    * legacy nanos parquet reads (nanos-flavor events fixture), parquet
    * aggregate pushdown — are declared exactly once.
    */
  def builder(master: String, shufflePartitions: Int = 0): SparkSession.Builder = {
    val b = SparkSession.builder()
      .master(master)
      .config("spark.sql.session.timeZone", "UTC")
      // engine optimizer extensions (plans.GraftExtensions). Each
      // injected rule gates on its own conf and ships disabled, so this
      // changes no plan until a query opts in (e.g.
      // plans.RangeBinJoinRule.BinSecondsKey for the automatic
      // non-equi range-join rewrite).
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      // nanosecond parquet timestamps arrive as long micros-convertible
      // values instead of failing the read (see core.Tables.events)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.aggregatePushdown", "true")
      // the graft-delim partition-DDL catalog (SHOW PARTITIONS /
      // ALTER TABLE ADD|DROP PARTITION on k=v trees)
      .config(s"spark.sql.catalog.${graft.sources.v2.GraftCatalog.Name}",
        classOf[graft.sources.v2.GraftCatalog].getName)
      // storage-partitioned reads: honor a V2 scan's reported
      // key-grouped partitioning (graft-delim `clustered` reads elide
      // the Exchange for groupBy/join on the layout key)
      .config("spark.sql.sources.v2.bucketing.enabled", "true")
      // RocksDB is the DEFAULT state store provider for every stateful
      // streaming query, not just the transformWithState tier that
      // requires it: at production state volume the in-memory provider
      // is the scale killer (state must fit the executor heap), and
      // certifying recovery/emission under one provider while deploying
      // another certifies nothing. Changelog checkpointing rides along —
      // per-commit uploads are the delta, not a full snapshot, which is
      // the only checkpoint shape that survives 100 TB-scale state.
      .config("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      .config("spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled",
        "true")
      // file:// through graft's one local filesystem
      // (core/BareLocalFileSystem.scala) on both Hadoop APIs, so neither
      // data writes nor Spark's stock checkpoint manager fork a process
      // per call. Scheme-scoped: hdfs and object stores are untouched.
      .config("spark.hadoop.fs.file.impl",
        classOf[graft.core.BareLocalFileSystem].getName)
      .config(s"spark.hadoop.${graft.core.BareLocalFs.Key}",
        classOf[graft.core.BareLocalFs].getName)
      // runtime bloom-filter join filtering: when one side of a shuffle
      // join carries a selective predicate, inject a bloom filter into
      // the other side's scan — at warehouse scale this drops
      // non-joining fact rows BEFORE the shuffle. Pinned explicitly
      // (production thresholds left at their defaults: creation side
      // ≤10 MB, application scan ≥10 GB, so it engages exactly at the
      // scale it pays for). RuntimeFilterSpec certifies the injection.
      .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
      // Driver-side hygiene for a RESIDENT engine (round-13 drift
      // postmortem, measured in the bench experiments): with a heap
      // large enough that ordinary GC rarely runs, Spark's
      // REFERENCE-TRIGGERED ContextCleaner never fires — broadcast
      // blocks, shuffle files, and accumulator refs pile up across
      // hundreds of queries — and the SQL status store retains every
      // execution's (AQE-churned) plan graphs. Neither shows up as GC
      // time; both show up as a creeping per-query driver tax on
      // whatever runs late in the session (measured: a 0.7 s window
      // query at 2.5 s after 150 preceding queries, back to 0.9 s with
      // these two bounds). Periodic GC arms the cleaner on a clock
      // instead of heap pressure; the retention bound caps the status
      // store. Both are overridable downstream.
      .config("spark.cleaner.periodicGC.interval", "1min")
      .config("spark.sql.ui.retainedExecutions", "8")
      // Compiled generated classes must outlive the query that made
      // them: Spark's default cache of 100 classes is smaller than the
      // engine's working set (one nearDupClusters call alone needs about
      // 180), so with it the LRU evicts each class before its next use
      // and every call pays Janino again. One cold pass over all 233
      // certifications in one JVM compiles about 3,000 distinct classes
      // (sf0.01); 4,000 holds them with room for a second scale's
      // variants. Static and JVM-wide: it takes effect only if set
      // before the first query compiles anything.
      .config("spark.sql.codegen.cache.maxEntries", 4000L)
      // One executor class loader for every session of the SparkContext.
      // The compiled-class cache is keyed by the loader, and by default
      // each session (every newSession() and every streaming query's
      // clone) gets its own, so each would recompile code another
      // session already compiled. Per-session loaders exist to isolate
      // artifacts added with addArtifact or through Spark Connect; graft
      // does neither. Read only when a session is created, so it is set
      // here and not per session.
      .config("spark.sql.artifact.isolation.enabled", "false")
    if (shufflePartitions > 0)
      b.config("spark.sql.shuffle.partitions", shufflePartitions)
    else b
  }

  /** Register the engine's custom functions on an existing session and
    * return it (idempotent).
    */
  def configure(spark: SparkSession): SparkSession = {
    GraftFunctions.register(spark)
    graft.functions.CmsSketch.registerSql(spark)
    // the post-subquery copy of the range-join rewrite (EXISTS/NOT
    // EXISTS sandwiches decorrelate after the extension batch runs)
    graft.plans.RangeBinJoinRule.installLate(spark)
    // the correlated-scalar as-of sandwich likewise only exists after
    // decorrelation; its rewrite targets the native as-of operator
    graft.plans.AsOfRewriteRule.installLate(spark)
    // the SQL DDL front door for graft-delim partition trees
    // (SHOW PARTITIONS / ALTER TABLE ADD|DROP PARTITION)
    graft.sources.v2.GraftCatalog.register(spark)
    spark
  }

  /** Attach every known table found under `dir` as a temp view (events
    * gets its timestamp normalization), so `spark.sql` works against the
    * warehouse exactly like the reference's Hive database. Returns the
    * view names created.
    */
  def attach(spark: SparkSession, dir: String): Seq[String] = {
    configure(spark)
    val names = Seq("region", "nation", "customer", "supplier", "part",
      "orders", "lineitem", "events", "documents", "embeddings")
    names.filter { n =>
      val f = new java.io.File(s"$dir/$n.parquet")
      if (!f.exists()) false
      else {
        (if (n == "events") Tables.events(spark, dir)
         else Tables.load(spark, dir, n)).createOrReplaceTempView(n)
        true
      }
    }
  }
}
