package graft.ext

import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.CacheScope
import graft.functions.GraftFunctions

/** Deduplication operators for large-scale text corpora
  * (SURVEY.md §2b X1/X2; BASELINE.json north-star).
  *
  * Four families, in increasing fuzziness:
  *  - [[exact]] / [[exactByKey]] — hash-groupBy exact dedup (X1)
  *  - [[jaccardPairsExact]]      — exact n-gram Jaccard over all pairs
  *  - MinHash + LSH ([[minhashNearDupPairs]]) — the 100 TB path: banding
  *    turns the O(N²) pair space into per-bucket joins
  *  - SimHash ([[simhashNearDupPairs]]) — Hamming-ball near-dup via a
  *    custom codegen'd Catalyst expression
  *
  * Scale notes (100 TB posture):
  *  - Every candidate generator is a shuffle-on-key join, never a cross
  *    join; the only cross join in this file is the small-N exact-pair
  *    oracle path, which prunes by the size-ratio bound first.
  *  - Oversized LSH buckets (degenerate bands: empty docs, boilerplate)
  *    are dropped with a documented cap instead of letting one hot key
  *    produce quadratic work — the standard skew guard for LSH joins.
  */
object Dedup {

  // ---------------------------------------------------------------- exact

  /** X1: exact dedup on the given key columns (whole row if empty). */
  def exact(df: DataFrame, keyCols: Seq[String] = Nil): DataFrame =
    if (keyCols.isEmpty) df.dropDuplicates() else df.dropDuplicates(keyCols)

  /** X1 with lineage: one row per distinct key with the minimum id kept
    * and the duplicate count — one hash aggregation.
    */
  def exactByKey(df: DataFrame, idCol: String, keyCol: String): DataFrame =
    df.groupBy(col(keyCol))
      .agg(min(col(idCol)).as("kept_" + idCol), count(lit(1)).as("n_copies"))
      .select(col("kept_" + idCol), col("n_copies"))

  /** X1, incremental-ingest form: persist the accepted corpus's exact
    * content fingerprints as a parquet store. The store is 16-byte md5
    * keys, distinct — at 100 TB of text that is a few hundred GB of
    * fingerprints, which [[dedupAgainstStore]] reads back as an ordinary
    * distributed relation (never broadcast, never collected). The write
    * is the append point of the ingest loop: after a batch is accepted,
    * union its fingerprints in and overwrite (or append a new partition,
    * which parquet directory layout supports for free).
    */
  def writeFingerprintStore(docs: DataFrame, textCol: String, path: String): Unit =
    docs.select(md5(col(textCol)).as("fp")).distinct()
      .write.mode("overwrite").parquet(path)

  /** The ingest-loop append (round-6 verdict ask #5): one accepted
    * batch's fingerprints land as a DATED PARTITION of the store —
    * `path/ingest_date=<date>/` — which is the parquet layout the store
    * scaladoc promises. Appending a partition never rewrites prior
    * cycles (100 TB store, daily cadence: an overwrite would re-shuffle
    * years of fingerprints); [[dedupAgainstStore]] reads the partitioned
    * layout unchanged (the partition column is discovered and unused),
    * and audits prune to single dates via partition filters
    * (DedupStoreSpec pins both).
    */
  def appendFingerprints(
      docs: DataFrame, textCol: String, path: String, ingestDate: String): Unit =
    docs.select(md5(col(textCol)).as("fp")).distinct()
      .withColumn("ingest_date", lit(ingestDate))
      // dynamic partition overwrite, NOT SaveMode.Append: only the
      // partitions present in this batch (= this ingest date) are
      // replaced, so prior dates stay immutable AND a scheduler retry
      // of a crashed cycle is idempotent — a plain Append would land a
      // second copy of the date's files on every retry
      .write.partitionBy("ingest_date")
      .option("partitionOverwriteMode", "dynamic")
      .mode("overwrite").parquet(path)

  /** New-batch survivors against a persisted [[writeFingerprintStore]]:
    * rows of `batch` whose fingerprint is absent from the store. A hash
    * anti-join on the 16-byte key — both sides shuffle on `fp`, so the
    * store never has to fit anywhere; this is the pattern that replaces
    * re-deduplicating the full corpus every ingest cycle.
    */
  def dedupAgainstStore(
      spark: SparkSession, batch: DataFrame, textCol: String, path: String): DataFrame =
    batch.withColumn("__fp", md5(col(textCol)))
      .join(spark.read.parquet(path).select(col("fp").as("__fp")), Seq("__fp"), "left_anti")
      .drop("__fp")

  /** [[dedupAgainstStore]] with a BLOOM pre-screen — the shape that
    * removes the store-side SHUFFLE entirely. The plain anti-join
    * shuffles BOTH sides on `fp`; at a 100 TB-corpus store that shuffle
    * is the nightly bill. Here:
    *
    *  1. a Bloom filter over xxhash64(store.fp) is built distributively
    *     (`stat.bloomFilter` aggregates per-partition bitsets) — the
    *     only driver-materialized object, ~1.2 MB per million keys at
    *     1% fpp, shipped into codegen as [[graft.functions.BloomMightContainLong]];
    *  2. batch rows the filter CLEARS are definitely-new — they pass
    *     with zero join work (at 1% fpp that is ~99% of a
    *     mostly-novel batch);
    *  3. the SUSPECTS (true duplicates + fpp false positives) resolve
    *     exactly: the store is LEFT-SEMI joined against the BROADCAST
    *     suspect set (full store scan, zero store shuffle) to find the
    *     true duplicate fps, and the suspects anti-join that
    *     (broadcast again — it is ≤ the suspect set).
    *
    * Result is row-identical to [[dedupAgainstStore]] (false positives
    * are resolved, never dropped) — certified under the same oracle by
    * `dedup_incremental_bloom`. The broadcast legs assume the SUSPECT
    * set is small (fpp·|batch| + true dups); a batch that is mostly
    * duplicates should use the plain shuffle form instead — that trade
    * is the caller's, both forms share one contract.
    */
  def dedupAgainstStoreBloom(
      spark: SparkSession, batch: DataFrame, textCol: String, path: String,
      fpp: Double = 0.01): DataFrame = {
    val store = spark.read.parquet(path).select(col("fp"))
    val hashes = store.select(xxhash64(col("fp")).as("h"))
    val expected = math.max(hashes.count(), 1L)
    val bloom = hashes.stat.bloomFilter("h", expected, fpp)
    val withFp = batch.withColumn("__fp", md5(col(textCol)))
    val maybeSeen = graft.functions.GraftFunctions.bloomContainsLong(
      spark, xxhash64(col("__fp")), bloom)
    val cleared = withFp.filter(!maybeSeen)
    val suspects = withFp.filter(maybeSeen)
    val dupFps = store.select(col("fp").as("__fp"))
      .join(broadcast(suspects.select(col("__fp")).distinct()),
        Seq("__fp"), "left_semi")
    cleared.unionByName(
        suspects.join(broadcast(dupFps), Seq("__fp"), "left_anti"))
      .drop("__fp")
  }

  // ------------------------------------------------------ exact Jaccard

  /** Exact n-gram Jaccard near-dup pairs (id_a < id_b, jaccard >= threshold).
    *
    * All-pairs comparison pruned by the size-ratio bound: J(A,B) <=
    * min(|A|,|B|)/max(|A|,|B|), so pairs failing the ratio test are
    * skipped without touching the arrays. Still O(N²) worst case — this
    * is the small-N / oracle path; use MinHash at scale.
    */
  def jaccardPairsExact(
      docs: DataFrame, idCol: String, textCol: String,
      threshold: Double, shingleN: Int = 1): DataFrame =
    jaccardPairsFromSets(
      docs.select(col(idCol).as("id"),
        Text.hashedShingleSet(col(textCol), shingleN).as("s")),
      threshold)

  /** Same as [[jaccardPairsExact]] over precomputed (id, s) shingle
    * sets — callers that already materialized the sets (e.g. the
    * clustering path's group keys) skip a second tokenize pass.
    */
  private[ext] def jaccardPairsFromSets(
      setsDf: DataFrame, threshold: Double): DataFrame = {
    GraftFunctions.register(setsDf.sparkSession)
    val sets = setsDf
      .withColumn("sz", size(col("s")))
      .filter(col("sz") > 0)
    // The streamed side of the nested-loop pair join inherits the input's
    // split count — a single-file corpus would run the whole O(N²) loop
    // on one core. Spread it across the cluster explicitly.
    val par = setsDf.sparkSession.sparkContext.defaultParallelism
    val a = sets.repartition(par)
      .select(col("id").as("id_a"), col("s").as("s_a"), col("sz").as("sz_a"))
    val b = sets.select(col("id").as("id_b"), col("s").as("s_b"), col("sz").as("sz_b"))
    // The jaccard predicate lives INSIDE the join condition: a nested-loop
    // join copies both shingle arrays into an output row for every pair
    // that survives the condition, so filtering after the join was paying
    // that copy for millions of pairs the threshold then discarded
    // (measured: 170s → 9s at sf0.1). Condition order matters — id and
    // size-ratio short-circuit before the merge-loop kernel runs.
    a.join(b,
        col("id_a") < col("id_b") &&
        least(col("sz_a"), col("sz_b")).cast("double") >=
          lit(threshold) * greatest(col("sz_a"), col("sz_b")) &&
        Text.jaccardSorted(col("s_a"), col("s_b")) >= threshold)
      .select(col("id_a"), col("id_b"),
        round(Text.jaccardSorted(col("s_a"), col("s_b")), 6).as("jaccard"))
  }

  // ----------------------------------------------------------- MinHash

  /** MinHash parameters: k = numBands * rowsPerBand hash functions. */
  final case class MinHashParams(
      numBands: Int = 8,
      rowsPerBand: Int = 2,
      shingleN: Int = 1,
      seed: Long = 42L,
      /** LSH buckets larger than this are dropped as degenerate (skew
        * guard). Size it ABOVE the largest genuine near-dup clique the
        * corpus can contain: a true cluster of n docs occupies one
        * bucket of size n in many bands, and capping below that silently
        * deletes its pairs (observed at sf0.1: a 1000 cap kept 56k of
        * 965k true pairs on the low-entropy fixture corpus). The guard
        * exists for adversarial banding collisions, not for real
        * clusters — when pair volume from real clusters is the problem,
        * the quadratic pair listing itself is the wrong output; use
        * [[nearDupClusters]].
        */
      maxBucketSize: Int = 10000,
      /** Verification joins broadcast the per-doc shingle-set table when
        * the corpus has at most this many docs (≈ a few hundred MB of
        * sets); larger corpora use shuffle joins on the pair ids.
        */
      maxBroadcastDocs: Long = 200000L,
      /** Adaptive strategy cutover: at or below this many docs the
        * blocked all-pairs exact join is cheaper than LSH — banding
        * re-enumerates every true near-dup clique once per band, so on
        * small-but-dense corpora LSH does numBands× the irreducible
        * pair work (measured 25s LSH vs 0.7s exact on 5k docs with ~1M
        * true pairs). Both paths produce the same exact-verified pairs.
        * Set to 0 to force LSH (tests do).
        */
      bruteForceMaxDocs: Long = 20000L) {
    def k: Int = numBands * rowsPerBand
  }

  /** k-permutation MinHash signature of a string array, as array<bigint>.
    * Universal hashing (a*h + b) mod p over 31-bit reduced xxhash64
    * values, computed by the codegen'd MinHashSig kernel over pre-hashed
    * shingles. Evolution (each step measured at sf0.01/sf0.1):
    * k × array_min(transform) — inlined per band by CollapseProject,
    * 120s+; single aggregate(zip_with) — flat plan but INTERPRETED
    * lambda evaluation with a k-array copy per shingle, 19s of the 22s
    * query; native expression — one primitive nested loop, sub-second.
    */
  def minhashSignature(shingleSet: Column, params: MinHashParams): Column = {
    SparkSession.getActiveSession.foreach(GraftFunctions.register)
    val hashed = transform(shingleSet, s => xxhash64(s))
    call_function("graft_minhash_sig", hashed, lit(params.k), lit(params.seed))
  }

  /** (id, band, band_hash) — one row per band per doc; the LSH index.
    *
    * The (id, signature) projection is cached BEFORE the band keys are
    * derived: the signature expression (tokenize → shingle → hash →
    * k-minima) would otherwise be inlined by CollapseProject into every
    * downstream reference — one per band key — re-running the whole
    * interpreted tokenization chain ~numBands times per document
    * (profiled: 18s of the 22s query at sf0.1).
    */
  def minhashBands(
      docs: DataFrame, idCol: String, textCol: String,
      params: MinHashParams): DataFrame = {
    val sig = minhashSignature(
      Text.shingleSet(col(textCol), params.shingleN), params)
    val sigDf = CacheScope.cached(docs.select(col(idCol).as("id"), sig.as("sig")))
    val bandKeys = array((0 until params.numBands).map { j =>
      xxhash64(lit(j), slice(col("sig"), j * params.rowsPerBand + 1, params.rowsPerBand))
    }: _*)
    // each row also carries the full band-key vector ("keys"): the pair
    // join uses it to emit a multi-band collision exactly once (at its
    // first colliding band) without a pair-level distinct
    sigDf.filter(size(col("sig")) > 0)
      .select(col("id"), bandKeys.as("keys"))
      .select(col("id"), col("keys"), posexplode(col("keys")).as(Seq("band", "band_hash")))
  }

  /** Candidate pairs from banded MinHash: docs sharing any band bucket.
    * One shuffle to size buckets (skew guard), one shuffle-join per side
    * on (band, band_hash), then pair-level distinct.
    */
  def minhashCandidatePairs(
      docs: DataFrame, idCol: String, textCol: String,
      params: MinHashParams = MinHashParams()): DataFrame = {
    // The band index feeds three consumers (bucket sizing + both join
    // sides); caching avoids recomputing signatures and stops the
    // optimizer from inlining the signature expression into each.
    val bands = CacheScope.cached(minhashBands(docs, idCol, textCol, params))
    // each colliding pair is emitted once, at its first healthy band —
    // no pair-level distinct() (see LshJoin for the construction)
    LshJoin.candidatePairs(bands, params.numBands, params.maxBucketSize)
  }

  /** Skew-cap drop audit for the MinHash banding join (verdict ask #4):
    * per band, the buckets [[minhashCandidatePairs]] would drop and the
    * rows inside them. Runs over the same cached band index, so auditing
    * alongside the dedup costs one extra aggregation, not a second
    * signature pass.
    */
  def minhashDropAudit(
      docs: DataFrame, idCol: String, textCol: String,
      params: MinHashParams = MinHashParams()): DataFrame =
    LshJoin.dropAudit(
      CacheScope.cached(minhashBands(docs, idCol, textCol, params)),
      params.numBands, params.maxBucketSize)

  /** X2 end-to-end: LSH candidates verified with exact shingle Jaccard.
    * Verification joins the (small) candidate pair set back to the
    * shingle sets — broadcast-able when candidates fit, shuffle join
    * otherwise; Catalyst/AQE picks.
    */
  def minhashNearDupPairs(
      docs: DataFrame, idCol: String, textCol: String,
      threshold: Double,
      params: MinHashParams = MinHashParams()): DataFrame = {
    GraftFunctions.register(docs.sparkSession)
    // size-based physical strategy: exact blocked all-pairs under the
    // cutover (same output — LSH candidates are exactly verified anyway).
    // A disabled cutover (bruteForceMaxDocs <= 0, the force-LSH
    // certifications) skips the corpus count entirely — at 100 TB that
    // count is a full metadata pass paid for an answer that cannot
    // matter (round 22).
    if (params.bruteForceMaxDocs > 0 && docs.count() <= params.bruteForceMaxDocs)
      return jaccardPairsExact(docs, idCol, textCol, threshold, params.shingleN)
    val cand = minhashCandidatePairs(docs, idCol, textCol, params)
    // cached: both verification join sides consume the shingle sets, and
    // the tokenize→shingle→hash→sort chain is the expensive part
    val sets = CacheScope.cached(docs.select(
      col(idCol).as("id"), Text.hashedShingleSet(col(textCol), params.shingleN).as("s")))
    // On a low-entropy corpus the candidate set is orders of magnitude
    // larger than the true pair set, so the dominant cost is moving the
    // candidate×shingle-set rows. When the per-doc set table fits in a
    // broadcast, ship IT to the candidates (pairs never shuffle and the
    // failed ones are dropped during the broadcast-hash probe); beyond
    // broadcast size, fall back to shuffle joins on the pair ids.
    // decided once: both join sides share the one count job
    val broadcastSets = sets.count() <= params.maxBroadcastDocs
    val side = (df: DataFrame) => if (broadcastSets) broadcast(df) else df
    val withA = cand
      .join(side(sets.select(col("id").as("id_a"), col("s").as("s_a"))), Seq("id_a"))
    val bSets = sets.select(col("id").as("rid"), col("s").as("s_b"))
    // Jaccard verification inside the second join's condition: candidate
    // rows that fail the threshold are dropped before their (wide) joined
    // row is ever materialized — same copy-avoidance as jaccardPairsExact.
    withA
      .join(side(bSets), withA("id_b") === bSets("rid") &&
        Text.jaccardSorted(col("s_a"), col("s_b")) >= threshold)
      .select(col("id_a"), col("id_b"),
        round(Text.jaccardSorted(col("s_a"), col("s_b")), 6).as("jaccard"))
  }

  // ----------------------------------------------------------- SimHash

  /** (id, simhash) per document via the codegen'd SimHash64 expression. */
  def simhashes(
      spark: SparkSession, docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(
      col(idCol).as("id"),
      GraftFunctions.simhash64(spark, Text.hashed(Text.tokenSet(col(textCol)))).as("simhash"))

  /** Near-dup pairs at Hamming distance <= maxHamming, using the
    * pigeonhole block trick: split 64 bits into (maxHamming+1) blocks —
    * any pair within the ball agrees exactly on at least one block, so
    * exact-match joins on block values find all candidates. Same
    * shuffle-on-key shape as MinHash banding; no cross join.
    */
  /** Pigeonhole block index for a simhash column: per doc, one row per
    * block with (id, payload = simhash, keys = block-value vector, band,
    * band_hash). With (maxHamming+1) blocks, any pair within the Hamming
    * ball agrees exactly on at least one block.
    */
  def simhashBlocks(
      spark: SparkSession, docs: DataFrame, idCol: String, textCol: String,
      maxHamming: Int): DataFrame = {
    val nBlocks = maxHamming + 1
    val width = 64 / nBlocks
    // cache the sketch projection: the tokenize→hash→simhash chain would
    // otherwise be inlined once per block key (same CollapseProject
    // behavior as the MinHash signature). Streaming inputs can't cache —
    // they evaluate the chain per block, which is fine at per-batch
    // volumes.
    val sh0 = simhashes(spark, docs, idCol, textCol)
    val sh = if (docs.isStreaming) sh0 else CacheScope.cached(sh0)
    val blockKeys = array((0 until nBlocks).map { j =>
      val shifted = shiftrightunsigned(col("simhash"), j * width)
      val w = if (j == nBlocks - 1) 64 - j * width else width
      val mask = if (w >= 64) -1L else (1L << w) - 1L
      shifted.bitwiseAND(lit(mask))
    }: _*)
    sh.select(col("id"), col("simhash").as("payload"), blockKeys.as("keys"))
      .select(col("id"), col("payload"), col("keys"),
        posexplode(col("keys")).as(Seq("band", "band_hash")))
  }

  def simhashNearDupPairs(
      spark: SparkSession, docs: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 3,
      /** Skew guard, same rationale as MinHash banding: low-entropy
        * corpora make many non-near documents agree on one 16-bit block,
        * and one hot block value produces quadratic join work. Dropping
        * oversized blocks trades recall on degenerate buckets for
        * bounded work — the pigeonhole guarantee still holds through the
        * document's other blocks unless ALL of them are hot.
        */
      maxBucketSize: Int = 2000): DataFrame = {
    val blocks = CacheScope.cached(simhashBlocks(spark, docs, idCol, textCol, maxHamming))
    // Hamming bound INSIDE the join condition (far pairs are rejected
    // during the probe, never materialized); first-healthy-collision
    // emission makes each pair unique with no distinct() (see LshJoin)
    LshJoin.candidatePairs(blocks, maxHamming + 1, maxBucketSize,
        ordered = true,
        pairFilter = Some((a, b) => bit_count(a.bitwiseXOR(b)) <= maxHamming))
      .select(col("id_a"), col("id_b"),
        bit_count(col("payload_a").bitwiseXOR(col("payload_b"))).as("hamming"))
  }

  /** Exact Hamming-ball pairs (id_a < id_b, hamming <= maxHamming) by
    * brute force over all simhash pairs — the O(N²) verification
    * baseline for the pigeonhole block path. The Hamming bound lives in
    * the join condition (far pairs never materialize) and the streamed
    * side is spread across the cluster; each comparison is two codegen'd
    * long ops, so N up to ~10⁵ is tractable. Not a scale path.
    *
    * Cache lifecycle: the simhash projection is cached (two join sides
    * consume it) and stays cached until the caller's action completes —
    * library callers own the lifecycle (`spark.catalog.clearCache()` or
    * a surrounding cache scope); the bench/verify harnesses flush after
    * every query.
    */
  def simhashPairsExact(
      spark: SparkSession, docs: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 3): DataFrame = {
    val sh = CacheScope.cached(simhashes(spark, docs, idCol, textCol))
    val par = spark.sparkContext.defaultParallelism
    val a = sh.repartition(par)
      .select(col("id").as("id_a"), col("simhash").as("sh_a"))
    val b = sh.select(col("id").as("id_b"), col("simhash").as("sh_b"))
    a.join(b,
        col("id_a") < col("id_b") &&
        bit_count(col("sh_a").bitwiseXOR(col("sh_b"))) <= maxHamming)
      .select(col("id_a"), col("id_b"),
        bit_count(col("sh_a").bitwiseXOR(col("sh_b"))).as("hamming"))
  }

  /** Streaming ingest dedup: flag incoming docs that are simhash-near
    * an existing static corpus. The corpus block index is computed once
    * (batch side of a stream-static join); each micro-batch's docs are
    * sketched row-wise and joined on block value with the Hamming bound
    * inside the join condition. Stateless (append mode, no watermark
    * needed); a pair matching in several blocks is emitted once via the
    * first-collision condition on the block-key vectors.
    * Output: (in_id, corpus_id, hamming).
    */
  def streamSimhashMatches(
      spark: SparkSession, incoming: DataFrame, corpus: DataFrame,
      idCol: String, textCol: String, maxHamming: Int = 3): DataFrame = {
    val in = simhashBlocks(spark, incoming, idCol, textCol, maxHamming)
      .withColumnsRenamed(Map("id" -> "in_id", "payload" -> "in_sh", "keys" -> "in_keys"))
    val corp = simhashBlocks(spark, corpus, idCol, textCol, maxHamming)
      .withColumnsRenamed(Map("id" -> "corpus_id", "payload" -> "c_sh", "keys" -> "c_keys"))
    in.join(corp,
        in("band") === corp("band") && in("band_hash") === corp("band_hash") &&
        GraftFunctions.firstEqualIndex(spark, col("in_keys"), col("c_keys"))
          === in("band") &&
        bit_count(col("in_sh").bitwiseXOR(col("c_sh"))) <= maxHamming)
      .select(col("in_id"), col("corpus_id"),
        bit_count(col("in_sh").bitwiseXOR(col("c_sh"))).as("hamming"))
  }

  // --------------------------------------- Embedding-space dedup (ANN)

  /** SemDeDup-shaped embedding near-dup pipeline — the scalable
    * replacement for the exact all-pairs [[SimSearch.cosinePairs]]
    * path: IVF cell-mate candidate generation → exact cosine threshold
    * → [[connectedComponents]] → keep-best (min id representative).
    *
    * Candidate generation assigns every vector to its `nProbe` nearest
    * IVF cells (multi-probe: a cluster split across two adjacent cells
    * by the coarse quantizer still meets in their shared second-nearest
    * cell) and pairs cell-mates — per-cell equi-joins, never all-pairs,
    * so the scored pair count is Σ_cells |c|² · nProbe² instead of N².
    * At 100 TB: cells shuffle on the cell key, candidate dedup and the
    * vector re-attach shuffle on ids, and the CC loop is the certified
    * distributed path — no driver materialization anywhere.
    *
    * Returns (assignment, candidates): assignment = (id, cluster_rep)
    * for EVERY corpus id (singletons map to themselves — the same
    * contract as [[nearDupClusters]]); candidates = the scored
    * candidate pairs (id_a, id_b, cos) BEFORE thresholding, so callers
    * can measure the sublinearity of the candidate set and the recall
    * of the thresholded pairs against an exact baseline.
    */
  def embeddingNearDups(
      emb: DataFrame, idCol: String, vecCol: String, threshold: Double,
      nCentroids: Int, nProbe: Int = 2, lloydIters: Int = 2,
      trainSample: Int = 4096,
      /** Forwarded to [[connectedComponents]]; 0 forces the distributed
        * label-propagation loop (the 100 TB path). */
      maxDriverEdges: Long = 2000000L): (DataFrame, DataFrame) = {
    require(nCentroids > 0, "embeddingNearDups: nCentroids must be explicit " +
      "(self-sizing would pay a corpus count per call)")
    val vecs = CacheScope.cached(SimSearch.withNorm(emb, idCol, vecCol, ""))
    val centroids =
      SimSearch.buildCentroids(vecs, nCentroids, lloydIters, trainSample)
    // (id, cell) multi-assignment; the vector payload is NOT attached
    // here — the cell join moves (id, cell) pairs only
    val cells = SimSearch.nearestCells(vecs, centroids, nProbe, "id")
    // cell-mate pairs, deduped on (id_a, id_b) BEFORE the vectors are
    // re-attached (a pair sharing both probe cells must score once)
    val candIds = cells.select(col("cell"), col("id").as("id_a"))
      .join(cells.select(col("cell"), col("id").as("id_b")), Seq("cell"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b")).distinct()
    val candidates = candIds
      .join(vecs.select(col("id").as("id_a"), col("v").as("v_a"), col("n").as("n_a")),
        Seq("id_a"))
      .join(vecs.select(col("id").as("id_b"), col("v").as("v_b"), col("n").as("n_b")),
        Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        round(SimSearch.dot(col("v_a"), col("v_b")) / (col("n_a") * col("n_b")), 6)
          .as("cos"))
    val pairs = candidates.filter(col("cos") >= threshold)
      .select(col("id_a"), col("id_b"))
    val nodes = emb.select(col(idCol).as("id"))
    val assignment =
      connectedComponents(nodes, pairs, maxDriverEdges = maxDriverEdges)
    (assignment, candidates)
  }

  // ------------------------------------------------- Dedup clustering

  /** Convergence/volume stats of one [[connectedComponents]] run:
    * `iters` = distributed label-propagation rounds executed (0 on the
    * driver cutover), `converged` = fixpoint reached within maxIters,
    * `edges` = input pair count after materialization, `activeNodes` =
    * non-isolated nodes that entered the loop. The observability hook
    * the scale-stress harness and specs pin convergence with.
    */
  final case class CcStats(
      iters: Int, converged: Boolean, edges: Long, activeNodes: Long)

  /** [[connectedComponentsWithStats]] without the stats — the common
    * call shape for pipelines that don't instrument convergence.
    */
  def connectedComponents(
      nodes: DataFrame, pairs: DataFrame, maxIters: Int = 20,
      maxDriverEdges: Long = 2000000L): DataFrame =
    connectedComponentsWithStats(nodes, pairs, maxIters, maxDriverEdges)._1

  /** Connected components over an undirected pair graph by min-label
    * propagation: every node starts labeled with its own id; each round
    * every node takes the minimum label among itself and its neighbors;
    * at fixpoint all nodes of a component carry the component's minimum
    * id. Rounds needed = graph diameter — near-dup components are
    * tight (a dup cluster is near-cliquish), so a handful of rounds
    * suffices; `maxIters` bounds pathological chains. Each round is one
    * join + one aggregation, all shuffles keyed by node id; at larger
    * diameters swap in path-doubling (large-star/small-star) for
    * O(log n) rounds — same per-round plan shape.
    *
    * `nodes` = (id); `pairs` = (id_a, id_b) undirected edges.
    * Returns ((id, cluster_rep), [[CcStats]]).
    */
  def connectedComponentsWithStats(
      nodes: DataFrame, pairs: DataFrame, maxIters: Int = 20,
      /** Edge sets at or below this size are solved with driver-side
        * union-find instead of the iterative distributed loop — the same
        * size-based physical-strategy cutover as
        * [[MinHashParams.bruteForceMaxDocs]]. 2M edges is ~32 MB
        * collected and milliseconds of union-find, while every
        * distributed round pays multiple shuffle/checkpoint/codegen
        * fixed costs (measured: 3.5 s of per-round overhead for a
        * 29k-edge graph). Set to 0 to force the distributed loop. Note
        * the bound is on EDGES (near-dup pairs after identical-set
        * collapse), not corpus rows — a 100 TB corpus whose pair graph
        * exceeds it takes the loop path.
        */
      maxDriverEdges: Long = 2000000L): (DataFrame, CcStats) = {
    val spark = nodes.sparkSession
    // Iterative dataflow MUST truncate lineage each round — a cached-but
    // -uncheckpointed loop builds a plan that doubles per iteration
    // (explain alone OOMs past ~15 rounds). localCheckpoint keeps the
    // materialized partitions and drops the plan; a cluster deployment
    // with reliable storage would use checkpoint() on a checkpoint dir.
    //
    // `pairs` is usually a live (expensive) join plan and both edge
    // directions consume it — materialize it exactly once.
    val p = pairs.select(col("id_a"), col("id_b")).localCheckpoint(true)
    val keyType = p.schema.head.dataType
    val driverable = keyType match {
      case org.apache.spark.sql.types.LongType   => true
      case org.apache.spark.sql.types.StringType => true
      case _ => false
    }
    // The cutover budget is really bytes, not edges: 2M Long pairs is
    // ~32 MB collected, but string ids are arbitrary-length, so their
    // edge budget is cut by an assumed ~4x per-key overhead (ids longer
    // than ~16 bytes should lower maxDriverEdges themselves).
    val edgeCut = keyType match {
      case org.apache.spark.sql.types.StringType => maxDriverEdges / 4
      case _ => maxDriverEdges
    }
    // cheap: p is already materialized by the localCheckpoint
    val nEdges = p.count()
    if (driverable && edgeCut > 0 && nEdges <= edgeCut) {
      val labels = keyType match {
        case org.apache.spark.sql.types.LongType =>
          val es = p.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
          spark.createDataFrame(unionFind(es)).toDF("id", "label")
        case _ =>
          // UTF-8 byte order, NOT Ordering[String] (UTF-16 code units):
          // the distributed loop's min() compares UTF8String bytes, and
          // supplementary characters vs U+E000–U+FFFF order differently
          // under the two — the representative must not depend on which
          // physical strategy ran.
          val es = p.collect().map(r => (r.getString(0), r.getString(1))).toSeq
          spark.createDataFrame(unionFind(es)(utf8ByteOrdering)).toDF("id", "label")
      }
      // the edge list lives on the driver now; its checkpoint blocks are
      // dead weight (clearCache() does NOT free localCheckpoint storage,
      // and leaked blocks pressure every later query — measured as a 3x
      // slowdown on the alphabetically-next bench queries)
      p.unpersist(blocking = false)
      return (nodes.join(broadcast(labels), Seq("id"), "left_outer")
        .select(col("id"), coalesce(col("label"), col("id")).as("cluster_rep")),
        CcStats(0, converged = true, nEdges, 0L))
    }
    val edges = p.select(col("id_a").as("src"), col("id_b").as("dst"))
      .unionByName(p.select(col("id_b").as("src"), col("id_a").as("dst")))
    // Size the iteration's parallelism to the WORKING SET, not the
    // session default: AQE cannot coalesce through localCheckpoint's
    // materialization, and below ~500k rows/partition the per-round
    // scheduler + codegen fixed costs dominate the actual work
    // (measured: 32-partition rounds were 3x slower than 1-partition
    // rounds on a 4k-node graph). Sized from the EDGE count (known for
    // free from the materialized p; the hop join's shuffle volume is
    // edge-sized — 2·nEdges rows — so edges, not nodes, are the right
    // unit). The loop runs on a separate session carrying the reduced
    // setting — mutating the shared session conf would shrink every
    // concurrent query's shuffles for the duration of the loop. The
    // final (lazy) expansion join runs on the caller's session at full
    // width.
    val sessParts = scala.util.Try(
      spark.conf.get("spark.sql.shuffle.partitions").toLong)
      .getOrElse(spark.sparkContext.defaultParallelism.toLong)
    val nParts = math.max(1L, math.min(sessParts, 2L * nEdges / 500000L + 1L))
    val loop = loopSession(spark, nParts)
    // one Row-conversion pass moves a frame into the loop session; the
    // result is immediately localCheckpoint'd, so the cost is paid once
    def inLoop(df: DataFrame): DataFrame =
      loop.createDataFrame(df.rdd, df.schema)
    // Self-loop rows fold each node's own label into the neighbor-min
    // aggregation (min over {label(x)} ∪ {label(n)}) — one join+agg
    // per step instead of join+agg plus a left join of the label table
    // against the neighbor minima. The `orig` column (label at the
    // start of the current round) rides through the self row so the
    // change flag needs no extra join.
    //
    // Only nodes with at least one edge can ever change label — isolated
    // nodes skip the loop entirely and come back as singletons at the
    // end. On a near-dup graph most docs ARE singletons, so this shrinks
    // every per-round shuffle to the (much smaller) connected subgraph.
    // The active-node set is FOLDED INTO this one checkpoint as the
    // self rows (round-22: it was previously its own localCheckpoint +
    // count + session conversion — three driver actions whose only
    // consumer was this union and the label seed, both of which read
    // the materialized withSelf for free).
    val withSelf = inLoop(
      edges.select(col("src"), col("dst"), lit(false).as("self"))
        .unionByName(edges.select(col("src")).distinct().select(
          col("src"), col("src").as("dst"), lit(true).as("self"))))
      .localCheckpoint(true)
    // every consumer of the raw edge list is now materialized — free its
    // checkpoint immediately. Checkpoint blocks are NOT SQL cache:
    // spark.catalog.clearCache() leaves them pinned until the RDD is
    // GC'd, and an iterative loop that leaks one per round measurably
    // degrades everything running after it.
    p.unpersist(blocking = false)
    val selfRows = withSelf.filter(col("self"))
    val nActive = selfRows.count()
    if (nActive == 0) {
      withSelf.unpersist(blocking = false)
      return (nodes.select(col("id"), col("id").as("cluster_rep")),
        CcStats(0, converged = true, nEdges, 0L))
    }
    // one min-propagation hop + one pointer jump through the label
    // table (label(label(x)) is in the same component, so the
    // min-of-component invariant holds — chains converge in
    // O(log diameter) rounds). Input/output schema: (id, label, orig).
    //
    // Both joins are left outer with the label table on the right. Every
    // dst is an active node and `l` holds a label for each, so the hop
    // returns exactly the inner join's rows; what the outer join fixes is
    // the plan. Both inputs are checkpoints with no size estimate, so AQE
    // picks a broadcast side from whichever shuffle stage finishes
    // first. With an inner join that was either side, run to run, and
    // each choice compiles its own classes; a left outer join can only
    // broadcast `l`.
    def step(l: DataFrame): DataFrame = {
      val hop = withSelf
        .join(l.select(col("id").as("dst"), col("label").as("nl"),
          col("orig").as("no")), Seq("dst"), "left_outer")
        .groupBy(col("src").as("id"))
        .agg(min(col("nl")).as("cand"), min(when(col("self"), col("no"))).as("orig"))
      hop
        .join(l.select(col("id").as("cand"), col("label").as("j")),
          Seq("cand"), "left_outer")
        .select(col("id"),
          least(col("cand"), coalesce(col("j"), col("cand"))).as("label"),
          col("orig"))
    }
    // label seed = the self rows of the materialized withSelf (no extra
    // checkpoint or session conversion — withSelf already lives in the
    // loop session)
    var labels = selfRows.select(col("src").as("id"), col("src").as("label"))
    var prevCkpt: Option[DataFrame] = None
    var iters = 0
    var converged = false
    while (!converged && iters < maxIters) {
      // TWO hop+jump steps per materialization: the checkpoint is the
      // expensive fixed cost per round, so batching steps halves it;
      // labels only ever decrease, so `label < orig` detects a change
      // anywhere in the batch, and the half-step past fixpoint is a
      // no-op. (Round-22 measured FOUR steps per materialization — one
      // fewer round (3→2) on the certification graph but a SLOWER wall
      // (5.1 s vs 3.9 s warm): the per-step plan execution, not the
      // checkpoint, is the per-round cost at fixture scale, so deeper
      // batches lose.)
      //
      // The change count is observed by the checkpoint's own job. A
      // separate `limit(1)` probe would cost two more jobs per round and
      // compile a fresh class each time (the limit counter's name comes
      // from a JVM-global sequence, so no codegen cache can hit it).
      val changed = new Observation("cc_changed")
      val next = step(step(labels.withColumn("orig", col("label"))))
        .observe(changed, count_if(col("label") < col("orig")).as("n"))
        .select(col("id"), col("label"))
        .localCheckpoint(true)
      converged = changed.get("n") == 0L
      // `next` is materialized: the round that produced the previous
      // label checkpoint is fully consumed — release those blocks now,
      // not at GC time
      prevCkpt.foreach(_.unpersist(blocking = false))
      prevCkpt = Some(next)
      labels = next
      iters += 1
    }
    withSelf.unpersist(blocking = false)
    // hand the (materialized) label table back to the caller's session.
    // The FINAL label checkpoint stays alive by necessity — the returned
    // plan reads it; it is released with the caller's cache scope or GC.
    val labelsOut = spark.createDataFrame(labels.rdd, labels.schema)
    (nodes.join(labelsOut, Seq("id"), "left_outer")
      .select(col("id"), coalesce(col("label"), col("id")).as("cluster_rep")),
      CcStats(iters, converged, nEdges, nActive))
  }

  /** A fresh session for one CC loop, carrying the loop's confs so the
    * caller's are never touched. A session costs no recompile:
    * `GraftSession.builder` gives every session of a SparkContext one
    * executor class loader, so the loop's generated classes hit the
    * compiled-class cache from call to call.
    */
  private[ext] def loopSession(spark: SparkSession, nParts: Long): SparkSession = {
    val s = spark.newSession()
    s.conf.set("spark.sql.shuffle.partitions", nParts.toString)
    // AQE numbers whole-stage codegen stages in the order it creates
    // them, and that order follows which shuffle stage finished first.
    // Left out of the class name, the number no longer makes one stage
    // shape a new class on a call whose stages finished in another order.
    s.conf.set("spark.sql.codegen.useIdInClassName", "false")
    s
  }

  /** Unsigned lexicographic order on UTF-8 bytes — matches Spark's
    * UTF8String binary comparison (code-point order), which the
    * distributed loop's min() uses.
    */
  private val utf8ByteOrdering: Ordering[String] = new Ordering[String] {
    def compare(a: String, b: String): Int = {
      val ab = a.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      val bb = b.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      val n = math.min(ab.length, bb.length)
      var i = 0
      while (i < n) {
        val c = (ab(i) & 0xff) - (bb(i) & 0xff)
        if (c != 0) return c
        i += 1
      }
      ab.length - bb.length
    }
  }

  /** Driver-side union-find with path compression and union-by-min (the
    * smaller root wins every merge, so each final root IS its
    * component's minimum id — the invariant the distributed loop
    * converges to). Near-linear in the edge count.
    */
  private def unionFind[T](edges: Seq[(T, T)])(implicit ord: Ordering[T]): Seq[(T, T)] = {
    val parent = scala.collection.mutable.HashMap.empty[T, T]
    def find(x: T): T = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var c = x
      while (parent(c) != r) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    edges.foreach { case (a, b) =>
      parent.getOrElseUpdate(a, a)
      parent.getOrElseUpdate(b, b)
      val ra = find(a)
      val rb = find(b)
      if (ra != rb) {
        if (ord.lt(ra, rb)) parent(rb) = ra else parent(ra) = rb
      }
    }
    // snapshot the key set first: find() path-compresses (mutates values)
    // and mutation during HashMap iteration is formally undefined
    parent.keys.toVector.map(k => (k, find(k)))
  }

  /** X1/X2 end-to-end: near-dup pairs collapsed into clusters; every doc
    * maps to its cluster representative (the minimum doc id in its
    * component — singletons map to themselves).
    *
    * Identical-token-set docs are collapsed to one representative BEFORE
    * the pair graph is built: within such a group every pair has
    * jaccard 1 (internally connected for any threshold ≤ 1), and every
    * cross pair duplicates its reps' pair, so components over reps
    * expand exactly to components over docs — while the graph shrinks
    * quadratically in group sizes (the fixture's 248-doc identical group
    * alone is 30k redundant edges). Empty-token-set docs never pair
    * (Jaccard is undefined) and stay singletons, matching the pair
    * semantics.
    */
  def nearDupClusters(
      docs: DataFrame, idCol: String, textCol: String, threshold: Double,
      params: MinHashParams = MinHashParams(),
      /** Forwarded to [[connectedComponents]]; 0 forces the distributed
        * label-propagation loop (the 100 TB path) even on small graphs.
        */
      maxDriverEdges: Long = 2000000L): DataFrame = {
    // NULL text shingles to NULL, and size(NULL) ≠ 0 would let every
    // NULL-text doc fall through the empty-set escape below into ONE
    // shared group — coalesce to the empty set so they stay singletons,
    // matching the pair semantics (NULL docs never pair).
    val sets = CacheScope.cached(docs.select(col(idCol).as("id"),
      coalesce(Text.hashedShingleSet(col(textCol), params.shingleN),
        array().cast("array<bigint>")).as("s")))
    // group key = the set itself; empty sets get an id-unique key so
    // each empty doc forms its own group
    val groups = CacheScope.cached(sets
      .groupBy(col("s"), when(size(col("s")) === 0, col("id")).otherwise(lit(0L)).as("ek"))
      .agg(min("id").as("rep"), collect_list("id").as("members"))
      .select(col("s"), col("rep"), col("members")))
    // rep pairs reuse the already-materialized group-key sets: one
    // tokenize pass for the whole pipeline
    val repSets = groups.select(col("rep").as("id"), col("s"))
    val nReps = repSets.count()
    val repPairs =
      (if (nReps <= params.bruteForceMaxDocs)
         jaccardPairsFromSets(repSets, threshold)
       else minhashNearDupPairs(
         docs.join(groups.select(col("rep").as(idCol)), Seq(idCol)),
         idCol, textCol, threshold, params))
        .select("id_a", "id_b")
    val comp = connectedComponents(
      groups.select(col("rep").as("id")), repPairs, maxDriverEdges = maxDriverEdges)
    groups.select(col("rep"), explode(col("members")).as("member"))
      .join(comp, col("rep") === col("id"))
      .select(col("member").as(idCol), col("cluster_rep"))
  }

  // ----------------------------------------------- asymmetric containment

  /** Asymmetric containment near-dup pairs — |A∩B| / min(|A|,|B|) >=
    * `threshold` — via PREFIX FILTERING, the scale path the all-pairs
    * containment lens verifies against. Containment is the second dedup
    * lens a corpus needs: a short document embedded verbatim in a long
    * one scores ~1.0 here while symmetric Jaccard scores it low, and no
    * size-ratio prefilter can apply (the size mismatch IS the target).
    *
    * The prefix-filter principle (Chaudhuri/Ganti/Kaushik's SSJoin;
    * PPJoin's ordering refinement): order every document's shingles by
    * a GLOBAL rarest-first total order (ascending document frequency,
    * shingle value as tie-break). If C(A,B) >= t with |A| <= |B|, then B
    * misses at most |A| - ceil(t·|A|) < (1-t)·|A| + 1 of A's shingles —
    * so among the first floor((1-t)·|A|) + 1 shingles of A (its
    * "prefix"), at least one is in B. Candidate generation is therefore
    * an EQUI join of the smaller side's prefix postings against the
    * full inverted index, never a cartesian, and it loses NOTHING: every
    * qualifying pair is guaranteed to collide, so after exact
    * verification the output is IDENTICAL to the all-pairs lens
    * (recall 1.0, certified by the oracle compare, not sampled).
    *
    * Scale shape at 100 TB:
    *  - one shuffle to size the vocabulary (document frequencies);
    *  - prefix selection is a per-document window (hash-partitioned by
    *    doc id — no global sort);
    *  - the candidate join keys on the shingle hash. Rarest-first
    *    ordering makes prefix postings short by construction — a
    *    stopword enters a prefix only for documents made almost
    *    entirely of stopwords — so the Σ |prefix(tok)|·|postings(tok)|
    *    candidate volume stays near-linear on natural corpora;
    *  - verification joins the deduplicated candidates back to the
    *    (cached) shingle sets with the containment predicate INSIDE the
    *    join condition — failing pairs never materialize a joined row.
    */
  def containmentPairs(
      docs: DataFrame, idCol: String, textCol: String,
      threshold: Double, shingleN: Int = 1,
      /** HOT-TOKEN skew lever (0 = off). Duplicate-heavy cliques defeat
        * task-level parallelism structurally: every pair of a clique
        * meets at the SAME df-rarest shared prefix token, so that one
        * token's join task emits (and sorted-intersect-verifies) the
        * whole clique's quadratic pair count — measured 24 s of a 31 s
        * wall in one task under 8× density amplification, invisible to
        * AQE's skew split because the partition is tiny in BYTES (the
        * skew is compute-bound, not size-bound). With `hotTokenDf > 0`,
        * tokens whose document frequency exceeds it get their POSTINGS
        * side salted by hash(container id) into `hotTokenSalts` lanes
        * and their (far smaller) prefix side replicated across the
        * lanes, turning the one hot task into `hotTokenSalts` tasks.
        * Every pair still meets exactly once (the first-shared-prefix
        * rule is salt-independent; the pair lands in the lane of its
        * container's hash) — recall stays 1.0, unlike a df-cut.
        */
      hotTokenDf: Long = 0L, hotTokenSalts: Int = 16,
      /** BROADCAST cutover budget for the candidate join (ESTIMATED
        * prefix-side bytes at or below this broadcast the prefix side):
        * a BroadcastHashJoin probes from the POSTINGS side's uniform
        * partitioning, so the candidate production parallelism follows
        * data placement, not the token-key distribution — on a
        * small-vocabulary corpus the shuffle join funnels all work
        * through |distinct prefix tokens| tasks (measured 4.6 s → 1.5 s
        * at sf0.1, 18 tokens on 32 cores). The estimate is MEASURED
        * from the rep sets (Σ_reps prefixLen × (8·|set| + 8·prefixLen
        * + row overhead)) in one metadata-cheap action over the cached
        * group table — a doc-count cutover under-prices long documents
        * (100 k reps of 100-token sets ≈ 200 MB of driver broadcast).
        * At 100 TB the prefix side is corpus-sized, the estimate blows
        * the budget, and the shuffle join (+ hot-token lanes for clique
        * skew) is the path. Same size-gated physical-strategy
        * discipline as `MinHashParams.bruteForceMaxDocs`; 0 forces the
        * shuffle join AND skips the sizing action entirely (the plan
        * builder then launches no job at construction time).
        */
      broadcastPrefixMaxBytes: Long = 64L << 20): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0, s"threshold: $threshold")
    GraftFunctions.register(docs.sparkSession)
    import org.apache.spark.sql.expressions.Window
    // IDENTICAL-SET COLLAPSE: docs with the same shingle set are one
    // node in the join (the same move nearDupClusters makes) — the
    // prefix join, dedup, and verification all run on group
    // REPRESENTATIVES, and member pairs are expanded afterwards by
    // cheap keyed joins (within a group, containment is exactly 1.0;
    // across groups, every member pair shares its reps' value). On the
    // dup-dense fixture this cuts the verified candidate volume ~40%.
    val groups = CacheScope.cached(docs.select(
        col(idCol).as("id"),
        Text.hashedShingleSet(col(textCol), shingleN).as("s"))
      .withColumn("sz", size(col("s")))
      .filter(col("sz") > 0)
      .groupBy(col("s"), col("sz"))
      .agg(min("id").as("id"), collect_list("id").as("members")))
    val sets = groups.select(col("id"), col("s"), col("sz"))
    val toks = sets.select(col("id"), col("sz"), explode(col("s")).as("tok"))
    val dfreq = toks.groupBy("tok").agg(count(lit(1)).as("df"))
    // Rarest-first rank within each document; the prefix keeps the
    // first sz - ceil(t·sz) + 2 shingles. Exact-arithmetic minimum is
    // sz - ceil(t·sz) + 1 (a qualifying pair shares ≥ ceil(t·sz) of
    // the smaller set's shingles, so ≤ sz - ceil(t·sz) can be missing)
    // — but the verification predicate compares i/sz ≥ t in DOUBLES,
    // where rounding can admit one overlap fewer than the real-number
    // ceil (observed: t=0.9, sz=10 → 0.9·10 = 9.000000000000002,
    // ceil = 10, yet i = 9 passes because 9/10 rounds to exactly the
    // 0.9 literal). One extra prefix position covers that slack at
    // negligible cost; recall stays 1.0 by construction.
    val rk = Window.partitionBy("id").orderBy(col("df"), col("tok"))
    val prefixToks = toks.join(dfreq, Seq("tok"))
      .withColumn("rk", row_number().over(rk))
      .filter(col("rk") <=
        col("sz") - ceil(lit(threshold) * col("sz")).cast("int") + 2)
    // Each containee row carries its ORDERED prefix array (df-rank
    // order, value tie-break — struct sort gives exactly the window's
    // order) and its full shingle set; each container row carries its
    // full set. ONE equi join on the shingle hash then does candidate
    // generation, pair dedup, and exact verification in a single pass:
    //  - size orientation picks the containee side;
    //  - `tok == first prefix shingle present in s_y` emits every
    //    qualifying pair EXACTLY ONCE (at its df-first shared prefix
    //    shingle) — the LshJoin first-healthy-collision idea, which
    //    deletes the candidate-level distinct() that dominated the
    //    measured cost (a 38M-row shuffle+agg, 16 of the query's 20 s
    //    at sf0.1 — prefixes are short, so a duplicate-heavy clique
    //    meets once per shared prefix token);
    //  - the sorted-intersect kernel verifies in the join condition,
    //    so failing pairs never materialize a joined row.
    // The arrays ride the (small) prefix side: one row per PREFIX
    // token, not per shingle, so the payload is bounded by the prefix
    // fan-out, and Catalyst broadcasts the side when it fits.
    val pArr = prefixToks.groupBy("id").agg(
      transform(array_sort(collect_list(struct(col("df"), col("tok")))),
        e => e.getField("tok")).as("parr"))
    val px0 = sets.join(pArr, Seq("id"))
      .select(col("id").as("id_x"), col("sz").as("sz_x"),
        col("s").as("s_x"), col("parr"))
      .select(col("id_x"), col("sz_x"), col("s_x"), col("parr"),
        posexplode(col("parr")).as(Seq("pi", "tok")))
    val fy0 = sets
      .select(col("id").as("id_y"), col("sz").as("sz_y"),
        col("s").as("s_y"), explode(col("s")).as("tok"))
    // hot-token lane assignment (see the parameter doc): postings rows
    // pick ONE lane by container-id hash, prefix rows fan out to every
    // lane; cold tokens ride lane 0 on both sides, so the join key
    // becomes (tok, lane) at zero cost to them. The hot set is a
    // broadcast map-side join — it is df-bounded and tiny.
    val (px, fy) =
      if (hotTokenDf <= 0L) {
        (px0.withColumn("lane", lit(0)),
          fy0.withColumn("lane", lit(0)))
      } else {
        val hot = dfreq.filter(col("df") > hotTokenDf)
          .select(col("tok"), lit(true).as("is_hot"))
        val pxh = px0.join(broadcast(hot), Seq("tok"), "left")
          .withColumn("lane", explode(when(col("is_hot"),
            sequence(lit(0), lit(hotTokenSalts - 1))).otherwise(array(lit(0)))))
          .drop("is_hot")
        val fyh = fy0.join(broadcast(hot), Seq("tok"), "left")
          .withColumn("lane", when(col("is_hot"),
            pmod(hash(col("id_y")), lit(hotTokenSalts))).otherwise(lit(0)))
          .drop("is_hot")
        (pxh, fyh)
      }
    // FUSED codegen'd kernel (functions.ContainmentVerify): first-shared
    // dedup + merge-intersect with the PPJoin positional early abort in
    // ONE generated block per joined row — the HOF spelling
    // (element_at(filter(...))) is interpreted and knocks the join out
    // of whole-stage codegen, and the unfused two-kernel form paid a
    // second array decode plus full merges on failing candidates
    def ver = call_function("graft_containment_verify",
      col("parr"), col("pi"), col("s_x"), col("s_y"), lit(threshold))
      .cast("double")
    def orient = col("sz_x") < col("sz_y") ||
      (col("sz_x") === col("sz_y") && col("id_x") < col("id_y"))
    def verified = ver >= lit(threshold) * least(col("sz_x"), col("sz_y"))
    // the broadcast cutover needs the prefix side's size estimate;
    // groups is cached, so this is a metadata-cheap action (same move
    // the LSH cutover makes) — skipped entirely when the cutover is
    // disabled, so the 100 TB force-shuffle caller never pays a sizing
    // pass for an unused answer
    lazy val estPrefixBytes: Long = {
      val pl = (col("sz") - ceil(lit(threshold) * col("sz")).cast("int") + lit(2))
        .cast("long")
      Option(sets.agg(sum(pl * (col("sz").cast("long") * 8L + pl * 8L + lit(48L))))
        .head.get(0)).map(_.asInstanceOf[Long]).getOrElse(0L)
    }
    val joined =
      if (broadcastPrefixMaxBytes > 0 && estPrefixBytes <= broadcastPrefixMaxBytes) {
        // skew-free shape: probe-side partitioning (uniform round-robin)
        // carries the parallelism; lanes are pointless here
        val par = docs.sparkSession.sparkContext.defaultParallelism
        fy0.repartition(par).join(broadcast(px0),
          px0("tok") === fy0("tok") && orient && verified)
      } else
        px.join(fy,
          px("tok") === fy("tok") && px("lane") === fy("lane") &&
            orient && verified)
    val repPairs = joined
      .select(col("id_x"), col("id_y"),
        // the pair passed, so no abort can fire: the plain merge kernel
        // recomputes the count without re-walking the prefix scan
        round(call_function("graft_sorted_intersect_count",
            col("s_x"), col("s_y")).cast("double")
          / least(col("sz_x"), col("sz_y")), 6).as("containment"))
    // expand rep pairs to member pairs (keyed joins against the small
    // group table), plus the intra-group pairs (identical sets:
    // containment exactly 1.0, qualifying at any threshold <= 1)
    val mem = groups.select(col("id").as("rep"), col("members"))
    val cross = repPairs
      .join(mem.select(col("rep").as("id_x"), col("members").as("mx")), Seq("id_x"))
      .join(mem.select(col("rep").as("id_y"), col("members").as("my")), Seq("id_y"))
      .select(col("containment"), explode(col("mx")).as("ida"), col("my"))
      .select(col("containment"), col("ida"), explode(col("my")).as("idb"))
      .select(least(col("ida"), col("idb")).as("id_a"),
        greatest(col("ida"), col("idb")).as("id_b"), col("containment"))
    val intra = groups.filter(size(col("members")) > 1)
      .select(explode(col("members")).as("ida"), col("members"))
      .select(col("ida"), explode(col("members")).as("idb"))
      .filter(col("ida") < col("idb"))
      .select(col("ida").as("id_a"), col("idb").as("id_b"),
        lit(1.0).as("containment"))
    cross.unionByName(intra)
  }

  /** Exact n-gram Jaccard pairs from the INVERTED INDEX — the same
    * output as [[jaccardPairsExact]], computed cartesian-free:
    * |A∩B| falls out of a postings self-join (count of shared
    * shingles per pair) and |A∪B| = |A| + |B| - |A∩B|, so the exact
    * similarity needs no per-pair array kernel at all. The shuffles
    * are all equi-keyed (shingle hash, then pair); the cost model is
    * Σ_tok df(tok)² candidate rows — the right trade when documents
    * are short or the corpus is too big for the blocked all-pairs
    * loop but exactness is required (e.g. as a certification edge
    * source). Hot-shingle skew is the documented lever: boilerplate
    * shingles with huge df dominate the quadratic term, exactly the
    * df-cut knob SparseSim exposes for the cosine analogue.
    */
  def jaccardPairsPostings(
      docs: DataFrame, idCol: String, textCol: String,
      threshold: Double, shingleN: Int = 1): DataFrame = {
    val sets = docs.select(
        col(idCol).as("id"),
        Text.hashedShingleSet(col(textCol), shingleN).as("s"))
      .withColumn("sz", size(col("s")))
      .filter(col("sz") > 0)
    val toks = CacheScope.cached(
      sets.select(col("id"), col("sz"), explode(col("s")).as("tok")))
    val a = toks.select(col("id").as("id_a"), col("sz").as("sz_a"), col("tok"))
    val b = toks.select(col("id").as("id_b"), col("sz").as("sz_b"), col("tok"))
    a.join(b, a("tok") === b("tok") && col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b", "sz_a", "sz_b")
      .agg(count(lit(1)).cast("double").as("i"))
      .withColumn("jaccard",
        round(col("i") / (col("sz_a") + col("sz_b") - col("i")), 6))
      .filter(col("i") / (col("sz_a") + col("sz_b") - col("i")) >= threshold)
      .select("id_a", "id_b", "jaccard")
  }
}
