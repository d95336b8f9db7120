package graft.sources.v2

import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.functions.{count, lit, max}

import graft.SparkFunSuite

/** Round-20 code-health regressions (ADVICE.md):
  * - a second ALTER must not re-mint field IDs a prior RENAME commit
  *   already persisted (name inheritance cannot cross the rename;
  *   re-minting orphans every pre-rename generation's column as
  *   `__dropped_<id>` — NULL on read);
  * - a commit whose just-landed segments were swept while still
  *   unreferenced (a concurrent GC past the grace window, or a
  *   cross-process remove_orphans) must re-verify and re-land them
  *   after its generation claim, not publish an index pointing at
  *   missing files;
  * - an all-null tracked column must not report distinctCount=0 to
  *   the CBO (degenerate selectivity/division paths);
  * - the delta commit's ConcurrentModificationException rollback must
  *   delete the promoted bloom sidecars along with the data files.
  */
class Round20AdviceSpec extends SparkFunSuite {
  import spark.implicits._

  private def fs(t: String) =
    new HPath(t).getFileSystem(spark.sessionState.newHadoopConf())
  private def manifest(t: String) =
    DelimLog.readManifest(fs(t), new HPath(t)).get

  test("a second ALTER keeps the field IDs a prior RENAME committed") {
    val t = s"${tempDir("advice20-fid")}/t"
    spark.sql("DROP TABLE IF EXISTS graft_cat.default.fid20_t")
    spark.sql(s"""CREATE TABLE graft_cat.default.fid20_t
      (id BIGINT, a DOUBLE, b STRING) USING `graft-delim` LOCATION '$t'""")
    (1L to 10L).map(i => (i, i.toDouble, s"s$i")).toDF("id", "a", "b")
      .coalesce(1).writeTo("graft_cat.default.fid20_t").append()
    spark.sql("ALTER TABLE graft_cat.default.fid20_t RENAME COLUMN a TO x")
    spark.sql("ALTER TABLE graft_cat.default.fid20_t RENAME COLUMN b TO y")
    // mechanism: across the recorded lineage, `a`'s original ID flowed
    // to `x` and `b`'s to `y` — the second ALTER's retro pass kept the
    // first RENAME's persisted IDs instead of re-deriving by name
    val schemas = manifest(t).schemas.toSeq.sortBy(_._1).map(_._2.struct)
    def idOf(st: org.apache.spark.sql.types.StructType, n: String): Long =
      DelimV2.fieldId(st.fields.find(_.name == n).get).get
    val first = schemas.head
    val last = schemas.last
    assert(idOf(first, "a") == idOf(last, "x"),
      s"rename lineage broken for a->x: ${schemas.map(_.fields.toSeq)}")
    assert(idOf(first, "b") == idOf(last, "y"),
      s"rename lineage broken for b->y: ${schemas.map(_.fields.toSeq)}")
    // behavior: pre-rename data reads under both renamed names
    val got = spark.table("graft_cat.default.fid20_t").orderBy("id")
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getString(2))).toSeq
    assert(got == (1L to 10L).map(i => (i, i.toDouble, s"s$i")),
      s"pre-rename generation nulled out: ${got.take(3)}")
  }

  test("a commit re-lands segments swept while they were unreferenced") {
    val saved = sys.props.get("graft.segment.gc.graceMs")
    sys.props("graft.segment.gc.graceMs") = "0"
    try {
      val t = s"${tempDir("advice20-seggc")}/t"
      // 2 partitions x 4 appends = 8 files, segSize 4 -> segmented index
      for (a <- 0 until 4) {
        (0 until 8).map(i => (a * 8L + i, if (i % 2 == 0) "a" else "b"))
          .toDF("id", "pc").coalesce(1)
          .write.format("graft-delim")
          .option("partitionBy", "pc")
          .option("manifestSegmentSize", "4")
          .mode(if (a == 0) "overwrite" else "append").save(t)
      }
      val pointer = {
        val in = fs(t).open(new HPath(t, DelimLog.ManifestFile))
        try scala.io.Source.fromInputStream(in, "UTF-8").mkString
        finally in.close()
      }
      assert(pointer.contains("#segment\t"), "fixture is not segmented")
      // the chunk holding partition pc=a, swept OUT-OF-BAND (simulating
      // a cross-process sweep the in-JVM memo eviction never saw: the
      // run memo still vouches for it at the next commit)
      val sweptName = pointer.linesIterator
        .filter(_.startsWith("#segment\t")).map(_.split('\t'))
        .collectFirst { case a if a(3).startsWith("pc=a") => a(1) }
        .getOrElse(fail("no pc=a segment in the index"))
      assert(fs(t).delete(new HPath(t, sweptName), false))
      // append to pc=b ONLY: pc=a's run memo-hits and references the
      // swept chunk; the post-claim re-verify must land it again
      Seq((100L, "b"), (101L, "b")).toDF("id", "pc")
        .coalesce(1).write.format("graft-delim")
        .option("partitionBy", "pc")
        .option("manifestSegmentSize", "4")
        .mode("append").save(t)
      assert(fs(t).exists(new HPath(t, sweptName)),
        "commit published an index referencing a swept segment " +
          "without re-landing it")
      val back = spark.read.format("graft-delim")
        .schema("id BIGINT, pc STRING").load(t)
      assert(back.count() == 34L)
      assert(back.filter($"pc" === "b").count() == 18L)
    } finally {
      saved match {
        case Some(v) => sys.props("graft.segment.gc.graceMs") = v
        case None => sys.props.remove("graft.segment.gc.graceMs")
      }
    }
  }

  test("a mixed-layout multi-root read rejects loudly; same-layout unions stay exact") {
    // review finding (deepened here): partition columns resolve per
    // SCAN, so a column that is a partition directory in one root but
    // a data column in another silently read NULL for the second
    // root's rows — and a tombstone referencing it silently
    // resurrected that root's MoR-deleted rows (a stats-certainty
    // mis-class was just the visible symptom). Mixed layouts now
    // reject at LISTING; same-layout tombstone-bearing unions stay
    // exact and per-root.
    val dir = tempDir("advice20-nullpv")
    // root A: PARTITIONED by pc
    (1L to 20L).map(i => (i, i.toDouble, if (i % 2 == 0) "x" else "y"))
      .toDF("id", "v", "pc").coalesce(1)
      .write.format("graft-delim").option("partitionBy", "pc")
      .mode("overwrite").save(s"$dir/a")
    // root B: UNPARTITIONED, pc is a data column, with a live
    // tombstone whose predicate references pc
    spark.sql("DROP TABLE IF EXISTS graft_cat.default.npv20_b")
    spark.sql(s"""CREATE TABLE graft_cat.default.npv20_b
      (id BIGINT, v DOUBLE, pc STRING)
      USING `graft-delim` LOCATION '$dir/b'""")
    (21L to 40L).map(i => (i, i.toDouble, if (i % 2 == 0) "x" else "y"))
      .toDF("id", "v", "pc").coalesce(1)
      .writeTo("graft_cat.default.npv20_b").append()
    spark.sql("""DELETE FROM graft_cat.default.npv20_b
      WHERE pc = 'x' AND v > 25.0""")
    val e = intercept[Exception] {
      spark.read.format("graft-delim")
        .schema("id BIGINT, v DOUBLE, pc STRING")
        .option("paths", s"$dir/a,$dir/b").load().count()
    }
    val chain = Iterator.iterate(e: Throwable)(_.getCause)
      .takeWhile(_ != null).map(x => Option(x.getMessage).getOrElse(""))
      .mkString("|")
    assert(chain.contains("partition layouts"), s"unexpected error: $e")
    // SAME layout (both partitioned by pc): the union works, applies
    // B's tombstone to B's files only, and counts exactly
    spark.sql("DROP TABLE IF EXISTS graft_cat.default.npv20_c")
    spark.sql(s"""CREATE TABLE graft_cat.default.npv20_c
      (id BIGINT, v DOUBLE, pc STRING)
      USING `graft-delim` PARTITIONED BY (pc) LOCATION '$dir/c'""")
    (21L to 40L).map(i => (i, i.toDouble, if (i % 2 == 0) "x" else "y"))
      .toDF("id", "v", "pc").coalesce(1)
      .writeTo("graft_cat.default.npv20_c").append()
    spark.sql("""DELETE FROM graft_cat.default.npv20_c
      WHERE pc = 'x' AND v > 25.0""")
    def both = spark.read.format("graft-delim")
      .schema("id BIGINT, v DOUBLE, pc STRING")
      .option("paths", s"$dir/a,$dir/c").load()
    // C deleted ids 26,28,...,40 (8 rows): 40 - 8 = 32 remain
    assert(both.groupBy().count().collect()(0).getLong(0) == 32L)
    val r = both.agg(count(lit(1)).as("n"), max($"id").as("mx")).collect()(0)
    assert((r.getLong(0), r.getLong(1)) == (32L, 39L))
    // root A's own pc='x' partition is untouched by C's tombstone
    assert(both.filter($"pc" === "x").count() == 10L + 2L)
  }

  test("the retro pass never mints an ID a later generation already records") {
    // review finding: a pre-scheme generation processed first minted
    // IDs from the max over EARLIER generations only, colliding with
    // IDs a later (scheme-era) generation keeps verbatim — two
    // different columns aliasing one field ID reads the old column's
    // bytes under the new column's name.
    val t = s"${tempDir("advice20-presch")}/t"
    // gen 1: (id, a) — then strip its recorded field IDs to simulate a
    // pre-ID-scheme table
    (1L to 5L).map(i => (i, i * 1.1)).toDF("id", "a")
      .coalesce(1).write.format("graft-delim").mode("overwrite").save(t)
    val m1 = DelimLog.readManifest(fs(t), new HPath(t)).get
    val stripped = m1.schemas.map { case (g, ms) =>
      g -> DelimLog.ManifestSchema(ms.partCols,
        org.apache.spark.sql.types.StructType(ms.struct.fields.map(
          _.copy(metadata = org.apache.spark.sql.types.Metadata.empty))))
    }
    DelimLog.commitManifest(fs(t), new HPath(t),
      m1.copy(gen = m1.gen + 1, schemas = stripped))
    // a scheme-era append with a DIFFERENT column set: its write
    // records {id->1, q->2} (minted against the ID-less lineage)
    (6L to 10L).map(i => (i, s"s$i")).toDF("id", "q")
      .coalesce(1).write.format("graft-delim").mode("append").save(t)
    // the ALTER triggers the retro pass over the mixed lineage
    spark.sql("DROP TABLE IF EXISTS graft_cat.default.presch20_t")
    spark.sql(s"""CREATE TABLE graft_cat.default.presch20_t
      (id BIGINT, q STRING) USING `graft-delim` LOCATION '$t'""")
    spark.sql("ALTER TABLE graft_cat.default.presch20_t RENAME COLUMN q TO r")
    // no two schemas may record the same ID for different names
    val m = DelimLog.readManifest(fs(t), new HPath(t)).get
    val idToNames = m.schemas.values.flatMap(_.struct.fields)
      .flatMap(f => DelimV2.fieldId(f).map(_ -> f.name)).toSeq
      .groupBy(_._1).map { case (i, ns) => i -> ns.map(_._2).distinct }
    val collided = idToNames.filter { case (_, ns) =>
      // a rename legitimately moves one column's ID to its new name;
      // a COLLISION is two names alive in the SAME generation family
      // (here: 'a' vs 'q'/'r')
      ns.contains("a") && (ns.contains("q") || ns.contains("r"))
    }
    assert(collided.isEmpty, s"field-ID collision across columns: $idToNames")
    // pre-scheme rows read id correctly and NULL under the renamed
    // scheme-era column (never 'a's bytes)
    val got = spark.table("graft_cat.default.presch20_t").orderBy("id")
      .collect().map(row => (row.getLong(0),
        if (row.isNullAt(1)) null else row.getString(1))).toSeq
    assert(got == ((1L to 5L).map(i => (i, null)) ++
      (6L to 10L).map(i => (i, s"s$i"))),
      s"pre-scheme generation aliased into the renamed column: $got")
  }

  test("an all-null tracked column reports distinctCount >= 1 to the CBO") {
    val t = s"${tempDir("advice20-ndv0")}/t"
    spark.range(0L, 100L)
      .selectExpr("id", "CAST(NULL AS DOUBLE) AS nv")
      .coalesce(1).write.format("graft-delim").mode("overwrite").save(t)
    val confs = Seq("spark.sql.cbo.enabled" -> "true")
    val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val df = spark.read.format("graft-delim")
        .schema("id BIGINT, nv DOUBLE").load(t)
      val scans = df.queryExecution.optimizedPlan.collect {
        case r: org.apache.spark.sql.execution.datasources.v2
          .DataSourceV2ScanRelation => r
      }
      assert(scans.size == 1)
      val stats = scans.head.stats
      val nv = stats.attributeStats.collectFirst {
        case (a, cs) if a.name == "nv" => cs }
      assert(nv.isDefined, "all-null column lost its stats entirely")
      assert(nv.get.distinctCount.exists(_ >= 1),
        s"distinctCount must clamp >= 1, got ${nv.get.distinctCount}")
      assert(nv.get.nullCount.contains(BigInt(100)))
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("a delta commit CME rollback leaves no orphan bloom sidecars") {
    val t = s"${tempDir("advice20-deltabloom")}/t"
    spark.sql("DROP TABLE IF EXISTS graft_cat.default.dbr20_t")
    spark.sql(s"""CREATE TABLE graft_cat.default.dbr20_t
      (id BIGINT NOT NULL, v DOUBLE)
      USING `graft-delim`
      OPTIONS (mergeMode 'merge-on-read', rowId 'id')
      LOCATION '$t'""")
    (1L to 20L).map(i => (i, i.toDouble)).toDF("id", "v")
      .coalesce(1).write.format("graft-delim")
      .option("bloomFor", "id").mode("append").save(t)
    val m1 = manifest(t)
    assert(m1.bloomCols == Seq("id"))
    // claim the next generation out-of-band: the MERGE's delta commit
    // loses the CAS and must roll back its promoted files AND sidecars
    val fake = new HPath(t, s"${DelimLog.ManifestFile}.v${m1.gen + 1}")
    val out = fs(t).create(fake, false); out.close()
    Seq((5L, 500.0), (105L, 1050.0)).toDF("id", "v")
      .createOrReplaceTempView("dbr20_src")
    val e = intercept[Exception] {
      spark.sql("""MERGE INTO graft_cat.default.dbr20_t t
        USING dbr20_src s ON t.id = s.id
        WHEN MATCHED THEN UPDATE SET v = s.v
        WHEN NOT MATCHED THEN INSERT (id, v) VALUES (s.id, s.v)""")
    }
    val chain = Iterator.iterate(e: Throwable)(_.getCause)
      .takeWhile(_ != null).map(x => Option(x.getMessage).getOrElse(""))
      .mkString("|")
    assert(chain.contains("already claimed"), s"unexpected failure: $e")
    // every bloom sidecar on disk belongs to a data file that exists
    // and is listed — the rollback deleted the promoted pair together
    val blooms = Option(fs(t).globStatus(
      new HPath(t, s"*${DelimBloom.Suffix}"))).map(_.toSeq).getOrElse(Nil)
    val listed = manifest(t).files.map(_.rel).toSet
    blooms.foreach { st =>
      val dataName = st.getPath.getName.stripSuffix(DelimBloom.Suffix)
      assert(fs(t).exists(new HPath(t, dataName)),
        s"orphan bloom sidecar survived the rollback: ${st.getPath}")
      assert(listed.contains(dataName),
        s"bloom sidecar for an unlisted file: ${st.getPath}")
    }
    assert(manifest(t).gen == m1.gen)
    fs(t).delete(fake, false)
  }
}
