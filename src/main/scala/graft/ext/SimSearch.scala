package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.CacheScope
import graft.functions.GraftFunctions

/** Similarity search over embedding columns (SURVEY.md §2b X3;
  * north-star ANN requirement).
  *
  * Two paths:
  *  - [[cosinePairs]] / [[topKBruteForce]] — exact, O(N·M) pair space.
  *    Baseline and verification path; also correct choice when one side
  *    is small enough to broadcast (query batches).
  *  - Random-hyperplane LSH ([[rhpBands]], [[annPairs]], [[annTopK]]) —
  *    the 100 TB path: sign-pattern bands turn all-pairs cosine into
  *    exact-match bucket joins, then only bucket-mates get scored.
  *
  * All vector math is `zip_with`/`aggregate` over array<float> — codegen'd
  * built-ins, no UDF serialization on the hot path.
  */
object SimSearch {

  /** dot(a, b) in double precision — the codegen'd ArrayDotProduct
    * kernel (an fma loop; the `aggregate(zip_with(...))` built-in form
    * allocates an intermediate array per pair, which dominated the
    * all-pairs similarity queries at sf0.1).
    */
  def dot(a: Column, b: Column): Column = GraftFunctions.dot(a, b)

  def l2Norm(v: Column): Column = sqrt(dot(v, v))

  def cosine(a: Column, b: Column): Column = dot(a, b) / (l2Norm(a) * l2Norm(b))

  /** Vectors with pre-computed norms — compute the norm once per vector,
    * not once per pair (N·k times cheaper on the pair side).
    */
  private[ext] def withNorm(df: DataFrame, idCol: String, vecCol: String, suffix: String): DataFrame =
    df.select(
      col(idCol).as(s"id$suffix"),
      col(vecCol).as(s"v$suffix"),
      l2Norm(col(vecCol)).as(s"n$suffix"))
      .filter(col(s"n$suffix") > 0)

  /** Exact: all pairs (id_a < id_b) with cosine >= threshold. The
    * threshold predicate lives in the join condition (pairs failing it
    * are never materialized) and the streamed side is spread across the
    * cluster (a single-file corpus would otherwise run the O(N²) loop
    * on one core).
    */
  def cosinePairs(emb: DataFrame, idCol: String, vecCol: String, threshold: Double): DataFrame = {
    val par = emb.sparkSession.sparkContext.defaultParallelism
    val a = withNorm(emb, idCol, vecCol, "_a").repartition(par)
    val b = withNorm(emb, idCol, vecCol, "_b")
    a.join(b,
        col("id_a") < col("id_b") &&
        dot(col("v_a"), col("v_b")) / (col("n_a") * col("n_b")) >= threshold)
      .select(col("id_a"), col("id_b"))
  }

  /** Exact top-k neighbors for each query vector against the corpus.
    * Per-query ranking is a window over the scored pairs; Catalyst plans
    * rank<=k as a per-partition top-k (WindowGroupLimit), so only k rows
    * per query survive the shuffle.
    */
  def topKBruteForce(
      queries: DataFrame, corpus: DataFrame,
      idCol: String, vecCol: String, k: Int): DataFrame = {
    val par = queries.sparkSession.sparkContext.defaultParallelism
    val q = withNorm(queries, idCol, vecCol, "_q").repartition(par)
    val c = withNorm(corpus, idCol, vecCol, "_c")
    val scored = q.join(c, col("id_q") =!= col("id_c"))
      // rank on the 6-dp-rounded score (ties broken by neighbor id) so the
      // ordering is reproducible across engines/float orders
      .withColumn("cos", round(
        dot(col("v_q"), col("v_c")) / (col("n_q") * col("n_c")), 6))
    val w = Window.partitionBy(col("id_q")).orderBy(col("cos").desc, col("id_c"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      // the rounded score rides along so verification queries can pin
      // content checksums, not just pair identity
      .select(col("id_q"), col("id_c").as("neighbor_id"), col("rank"), col("cos"))
  }

  /** (id, band, band_hash): random-hyperplane sign-pattern LSH index.
    * numBands bands × bitsPerBand hyperplanes; band key packs the sign
    * bits of its hyperplane block into a long. The signature is the
    * codegen'd RhpSignature kernel — one reference-object plane matrix,
    * one nested loop (the equivalent per-plane `dot(vec, lit) > 0`
    * column forest cost seconds of Janino compile per query).
    */
  def rhpBands(
      emb: DataFrame, idCol: String, vecCol: String,
      numBands: Int = 8, bitsPerBand: Int = 8, dim: Int = 64,
      seed: Long = 42L): DataFrame = {
    // "keys" (the full band-key vector) rides along for the
    // first-collision pair dedup in the candidate joins
    emb.select(col(idCol).as("id"),
        GraftFunctions.rhpSig(col(vecCol),
          numBands, bitsPerBand, dim, seed).as("keys"))
      .select(col("id"), col("keys"),
        posexplode(col("keys")).as(Seq("band", "band_hash")))
  }


  /** ANN candidate pairs: bucket-mates in any band (skew-capped), scored
    * and thresholded exactly. Recall < 1 by construction; tune bands/bits
    * against the threshold.
    */
  def annPairs(
      emb: DataFrame, idCol: String, vecCol: String, threshold: Double,
      numBands: Int = 8, bitsPerBand: Int = 8, dim: Int = 64,
      maxBucketSize: Int = 10000): DataFrame = {
    // multiple consumers (bucket sizing + both join sides): cache the index
    val bands = CacheScope.cached(rhpBands(emb, idCol, vecCol, numBands, bitsPerBand, dim))
    val cand = LshJoin.candidatePairs(bands, numBands, maxBucketSize, ordered = true)
    val vecs = withNorm(emb, idCol, vecCol, "")
    cand
      .join(vecs.select(col("id").as("id_a"), col("v").as("v_a"), col("n").as("n_a")), Seq("id_a"))
      .join(vecs.select(col("id").as("id_b"), col("v").as("v_b"), col("n").as("n_b")), Seq("id_b"))
      .withColumn("cos", dot(col("v_a"), col("v_b")) / (col("n_a") * col("n_b")))
      .filter(col("cos") >= threshold)
      .select(col("id_a"), col("id_b"))
  }

  /** ANN top-k: exact scoring restricted to LSH bucket-mates. */
  def annTopK(
      emb: DataFrame, idCol: String, vecCol: String, k: Int,
      numBands: Int = 16, bitsPerBand: Int = 6, dim: Int = 64,
      maxBucketSize: Int = 10000): DataFrame = {
    // multiple consumers (bucket sizing + both join sides): cache the index
    val bands = CacheScope.cached(rhpBands(emb, idCol, vecCol, numBands, bitsPerBand, dim))
    val cand = LshJoin.candidatePairs(bands, numBands, maxBucketSize, ordered = false)
      .withColumnRenamed("id_a", "id_q").withColumnRenamed("id_b", "id_c")
    val vecs = withNorm(emb, idCol, vecCol, "")
    val scored = cand
      .join(vecs.select(col("id").as("id_q"), col("v").as("v_q"), col("n").as("n_q")), Seq("id_q"))
      .join(vecs.select(col("id").as("id_c"), col("v").as("v_c"), col("n").as("n_c")), Seq("id_c"))
      .withColumn("cos", dot(col("v_q"), col("v_c")) / (col("n_q") * col("n_c")))
    val w = Window.partitionBy(col("id_q")).orderBy(col("cos").desc, col("id_c"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("id_q"), col("id_c").as("neighbor_id"), col("rank"))
  }

  /** IVF (inverted-file) ANN: partition the corpus into Voronoi cells
    * around `nCentroids` centroids; each query probes only its `nProbe`
    * nearest cells and exactly scores their members — the classic
    * coarse-quantizer index (FAISS IVF-Flat shape) expressed as two
    * broadcast joins plus one cell-keyed equi join.
    *
    * Centroids start as a deterministic corpus sample (every
    * (N/nCentroids)-th vector by id — reproducible with no RNG) and are
    * refined with `lloydIters` k-means iterations over a bounded
    * deterministic sample of the corpus ([[refineCentroids]]), the
    * standard IVF training recipe (train on a sample, assign the full
    * corpus once). The centroid table is tiny and broadcast, so cell
    * assignment never shuffles the corpus; the probe join shuffles by
    * cell id only.
    *
    * Ranking uses the 6-dp-rounded cosine with id tie-break, same as
    * [[topKBruteForce]], so results are reproducible across runs.
    *
    * `nCentroids = 0` (default) self-sizes to ceil(sqrt(nProbe·N)): cell
    * assignment costs N·c dot products and probing costs N·nProbe·(N/c),
    * so c = sqrt(nProbe·N) balances the two — the standard IVF sizing.
    */
  def ivfTopK(
      emb: DataFrame, idCol: String, vecCol: String, k: Int,
      nCentroids: Int = 0, nProbe: Int = 4, lloydIters: Int = 2,
      trainSample: Int = 4096,
      /** When > 0, overrides nProbe with ceil(probeFrac * nCells): a
        * CONSTANT corpus coverage fraction across corpus sizes. With the
        * self-sized cell count, a fixed nProbe covers sqrt(nProbe/N) of
        * the corpus — recall silently decays as N grows. On corpora with
        * real cluster structure a small fraction suffices; unclustered
        * (near-random) embeddings need a larger one for top-k recall.
        */
      probeFrac: Double = 0.0,
      /** Corpus size for cell self-sizing, when the caller knows it.
        * Construction runs no Spark job at all when `nCentroids > 0` or
        * `corpusCount >= 0`; only the self-sizing fallback pays one
        * count — at 100 TB a full metadata pass per query call, which is
        * why the parameter exists (the round-5 version ran two.)
        */
      corpusCount: Long = -1L,
      /** Query set to rank (must carry idCol/vecCol); defaults to the
        * whole corpus (all-pairs self-search). A query batch is the
        * production shape — ranking every corpus vector as a query is
        * N²/probe work no index can make cheap.
        */
      queries: Option[DataFrame] = None): DataFrame = {
    val vecs = CacheScope.cached(withNorm(emb, idCol, vecCol, ""))
    val nCells =
      if (nCentroids > 0) nCentroids
      else {
        val n = if (corpusCount >= 0) corpusCount else vecs.count()
        math.max(8, math.ceil(math.sqrt(
          math.max(1.0, nProbe.toDouble) * n)).toInt)
      }
    val probe =
      if (probeFrac > 0) math.max(1, math.ceil(probeFrac * nCells).toInt)
      else nProbe
    val centroids = buildCentroids(vecs, nCells, lloydIters, trainSample)
    def nearestCells(src: DataFrame, keep: Int, outId: String): DataFrame =
      SimSearch.nearestCells(src, centroids, keep, outId)
    val qVecs = queries.map(withNorm(_, idCol, vecCol, "")).getOrElse(vecs)
    val corpusCells = nearestCells(vecs, 1, "id_c")
      .join(vecs.select(col("id").as("id_c"), col("v").as("v_c"), col("n").as("n_c")), Seq("id_c"))
    val queryCells = nearestCells(qVecs, probe, "id_q")
      .join(qVecs.select(col("id").as("id_q"), col("v").as("v_q"), col("n").as("n_q")), Seq("id_q"))
    val scored = queryCells.join(corpusCells,
        queryCells("cell") === corpusCells("cell") && col("id_q") =!= col("id_c"))
      .withColumn("cos", round(
        dot(col("v_q"), col("v_c")) / (col("n_q") * col("n_c")), 6))
    val w = Window.partitionBy(col("id_q")).orderBy(col("cos").desc, col("id_c"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("id_q"), col("id_c").as("neighbor_id"), col("rank"))
  }

  /** Broadcast IVF centroid table (cell, cv, cn): deterministic
    * count-free init — the nCells first vectors in xxhash64 order (a
    * TakeOrdered, not a full sort, uniformly spread over the corpus
    * without knowing N) — refined by [[refineCentroids]].
    */
  private[ext] def buildCentroids(
      vecs: DataFrame, nCells: Int, lloydIters: Int, trainSample: Int): DataFrame = {
    noteTraining()
    val init = vecs.orderBy(xxhash64(col("id")), col("id")).limit(nCells)
      .select(col("id").as("cell"), col("v").as("cv"), col("n").as("cn"))
    broadcast(refineCentroids(vecs, init, lloydIters, trainSample))
  }

  /** (outId, cell) assignments against a broadcast centroid table. The
    * vector payload is projected away BEFORE the ranking shuffle: the
    * N×c scored rows move as (id, cell, score) triples, not with the
    * embedding arrays attached.
    */
  private[ext] def nearestCells(
      src: DataFrame, centroids: DataFrame, keep: Int, outId: String): DataFrame = {
    val scored = src.select(col("id").as(outId), col("v"), col("n"))
      .join(centroids)
      .select(col(outId), col("cell"),
        round(dot(col("v"), col("cv")) / (col("n") * col("cn")), 6).as("ccos"))
    if (keep == 1) {
      // the corpus-assignment case (every vector, one cell): a hash
      // aggregation with map-side combine — argmax(ccos, tie: min cell)
      // — beats a window here because the N×c rows reduce to N before
      // the shuffle instead of sorting inside it
      scored.groupBy(col(outId))
        .agg(max_by(col("cell"), struct(col("ccos"), -col("cell"))).as("cell"))
    } else {
      val w = Window.partitionBy(col(outId)).orderBy(col("ccos").desc, col("cell"))
      scored.withColumn("crank", row_number().over(w))
        .filter(col("crank") <= keep)
        .select(col(outId), col("cell"))
    }
  }

  /** Product-quantization ANN (FAISS PQ/ADC shape): compress each
    * corpus vector to `m` one-byte codes — subspace `j`'s code is the
    * nearest of `k` codewords to the vector's j-th sub-vector — and
    * answer queries from the CODES: approx dot(q, x) =
    * Σ_j dot(q_sub[j], codeword[j][code_x[j]]), a per-query lookup
    * table of m·k partial dots instead of any corpus-vector access.
    * The top `rerank·topK` candidates by approximate score are then
    * exactly re-ranked (the standard PQ + re-rank pipeline), so the
    * emitted neighbors carry true cosines.
    *
    * Why this exists at 100 TB: IVF prunes WHICH vectors get scored;
    * PQ shrinks WHAT a scored vector costs — 64 floats (256 B) become
    * m = 8 codes (8 B), a 32× memory compression that is the
    * difference between an in-memory corpus index and re-reading
    * parquet per query. Expressed relationally: codes are (id, j,
    * code) triples, the ADC scan is an equi join of the code table
    * against the broadcast per-query LUT on (j, code) followed by a
    * sum — every step map-side-combining, no vector arrays on the
    * scan side.
    *
    * Determinism: codewords are the sub-vectors of the first `k`
    * corpus vectors in xxhash64(id) order (the IVF init recipe — a
    * TakeOrdered, no RNG, no corpus count), refined by `lloydIters`
    * per-subspace k-means steps over a bounded deterministic sample;
    * assignment ties break toward the smaller code; ranking uses the
    * 6-dp-rounded score with id tie-break like every ranker here.
    */
  def pqTopK(
      emb: DataFrame, idCol: String, vecCol: String, topK: Int,
      m: Int = 8, k: Int = 16, dim: Int = 64,
      rerank: Int = 16, lloydIters: Int = 1, trainSample: Int = 2048,
      queries: Option[DataFrame] = None): DataFrame = {
    require(dim % m == 0, s"dim $dim must split into $m subspaces")
    val sub = dim / m
    val vecs = CacheScope.cached(withNorm(emb, idCol, vecCol, ""))
    val codebook = buildPqCodebook(vecs, m, k, sub, lloydIters, trainSample)
    val corpusCodes = pqEncode(vecs, codebook, "id_c", m, sub)
    val qVecs = queries.map(withNorm(_, idCol, vecCol, "")).getOrElse(vecs)
    val lut = pqLut(qVecs, codebook, m, sub)
    val approx = corpusCodes.join(lut, Seq("j", "code"))
      .filter(col("id_q") =!= col("id_c"))
      .groupBy(col("id_q"), col("id_c"))
      .agg(sum(col("pdot")).as("adot"))
    pqRerank(approx, qVecs, vecs, topK, rerank)
  }

  /** IVF-PQ composition — the standard 100 TB ANN shape: the IVF coarse
    * quantizer prunes WHICH corpus vectors a query scores (only its
    * `nProbe` nearest cells' members) and PQ shrinks WHAT a scored
    * vector costs (m one-byte codes instead of the float array), so a
    * query batch touches a sublinear, 32×-compressed slice of the
    * corpus. Flat [[pqTopK]] joins the LUT against ALL corpus codes —
    * linear scan per query batch, correct for the memory story only;
    * here the ADC join's corpus side is the cell-restricted candidate
    * set by construction: `routed` (query cell ⨝ corpus cell) gates the
    * code table BEFORE any scoring.
    *
    * Pipeline: one shared centroid table (broadcast) assigns corpus
    * cells (argmax agg) and routes queries (top-`probe` window);
    * `routed` candidate pairs = cell-mates; PQ codebook + one-time
    * full-corpus encoding (at 100 TB the codes are the stored index —
    * built once, not per query); ADC scores routed pairs via the
    * broadcast per-query LUT; the top `rerank·topK` approximate
    * candidates are exactly re-ranked. Determinism matches the
    * siblings: xxhash64-ordered seeds, min-code/min-cell tie-breaks,
    * 6-dp-rounded final scores with id tie-break.
    *
    * `withScanCount = true` adds an `n_scored` column (candidates ADC-
    * scored for that query) — the certification query's measured proof
    * that the scan was sublinear, priced at one extra count-window over
    * the already-shuffled approx partitions.
    */
  def ivfPqTopK(
      emb: DataFrame, idCol: String, vecCol: String, topK: Int,
      nCentroids: Int = 0, nProbe: Int = 4, lloydIters: Int = 2,
      trainSample: Int = 4096, probeFrac: Double = 0.0,
      m: Int = 8, k: Int = 16, dim: Int = 64, rerank: Int = 16,
      pqLloydIters: Int = 1, pqTrainSample: Int = 2048,
      corpusCount: Long = -1L,
      queries: Option[DataFrame] = None,
      withScanCount: Boolean = false): DataFrame = {
    require(dim % m == 0, s"dim $dim must split into $m subspaces")
    val sub = dim / m
    val vecs = CacheScope.cached(withNorm(emb, idCol, vecCol, ""))
    val nCells =
      if (nCentroids > 0) nCentroids
      else {
        val n = if (corpusCount >= 0) corpusCount else vecs.count()
        math.max(8, math.ceil(math.sqrt(
          math.max(1.0, nProbe.toDouble) * n)).toInt)
      }
    val probe =
      if (probeFrac > 0) math.max(1, math.ceil(probeFrac * nCells).toInt)
      else nProbe
    val centroids = buildCentroids(vecs, nCells, lloydIters, trainSample)
    val qVecs = queries.map(withNorm(_, idCol, vecCol, "")).getOrElse(vecs)
    // the IVF gate: candidate pairs are cell-mates ONLY — this join is
    // what makes the downstream ADC scan sublinear in the corpus
    val routed = nearestCells(qVecs, centroids, probe, "id_q")
      .join(nearestCells(vecs, centroids, 1, "id_c"), Seq("cell"))
      .filter(col("id_q") =!= col("id_c"))
      .select(col("id_q"), col("id_c"))
    val codebook = buildPqCodebook(vecs, m, k, sub, pqLloydIters, pqTrainSample)
    val corpusCodes = pqEncode(vecs, codebook, "id_c", m, sub)
    val lut = pqLut(qVecs, codebook, m, sub)
    // ADC over the routed subset: codes fan out ×m only for candidates
    val approx = routed.join(corpusCodes, Seq("id_c"))
      .join(lut, Seq("id_q", "j", "code"))
      .groupBy(col("id_q"), col("id_c"))
      .agg(sum(col("pdot")).as("adot"))
    val counted =
      if (!withScanCount) approx
      else approx.withColumn("n_scored",
        count(lit(1)).over(Window.partitionBy(col("id_q"))))
    val ranked = pqRerank(counted, qVecs, vecs, topK, rerank,
      extra = if (withScanCount) Seq("n_scored") else Nil)
    ranked
  }

  /** Training-path observability: buildCentroids / buildPqCodebook
    * bump this. The persisted-index certification requires the QUERY
    * path to leave it untouched — at 100 TB the index is an ARTIFACT
    * (built once, queried many times), not a per-query subexpression.
    */
  private val trainJobs = new java.util.concurrent.atomic.AtomicLong
  def trainJobCount: Long = trainJobs.get()
  private[ext] def noteTraining(): Unit = { trainJobs.incrementAndGet(); () }

  /** BUILD + PERSIST the IVF-PQ index artifacts under `indexPath`
    * (parquet): `centroids` (cell, cv, cn), `codebook` (j, code, cw),
    * `cells` (id_c, cell — the corpus assignments), `codes` (id_c, j,
    * code — the PQ-compressed corpus), and a one-row `meta` pinning
    * the geometry. [[ivfPqTopKWith]] then answers queries from these
    * artifacts alone: no k-means, no codebook training, no corpus
    * assignment pass per query — the build cost amortizes across
    * every query batch, which is the 100 TB posture (rebuilding
    * centroids inside every query re-reads the corpus each time).
    */
  def buildIvfPqIndex(
      emb: DataFrame, idCol: String, vecCol: String, indexPath: String,
      nCentroids: Int = 0, nProbe: Int = 4, lloydIters: Int = 2,
      trainSample: Int = 4096, m: Int = 8, k: Int = 16, dim: Int = 64,
      pqLloydIters: Int = 1, pqTrainSample: Int = 2048,
      corpusCount: Long = -1L): Unit = {
    require(dim % m == 0, s"dim $dim must split into $m subspaces")
    val sub = dim / m
    val spark = emb.sparkSession
    import spark.implicits._
    val vecs = CacheScope.cached(withNorm(emb, idCol, vecCol, ""))
    val nCells =
      if (nCentroids > 0) nCentroids
      else {
        val n = if (corpusCount >= 0) corpusCount else vecs.count()
        math.max(8, math.ceil(math.sqrt(
          math.max(1.0, nProbe.toDouble) * n)).toInt)
      }
    val centroids = buildCentroids(vecs, nCells, lloydIters, trainSample)
    val codebook = buildPqCodebook(vecs, m, k, sub, pqLloydIters, pqTrainSample)
    // Two independent artifact chains (coarse quantizer → assignments,
    // PQ codebook → codes) plus the coverage count: run them as
    // concurrent jobs so the corpus-assignment pass back-fills the
    // cluster while the (driver-light) quantizer write commits —
    // a build was measured fully serial (job-time sum ≈ wall). Each
    // chain first WRITES its quantizer, then encodes against the
    // READ-BACK parquet rather than the training plan: the k-means
    // refinement subtree otherwise re-executes inside every encode
    // job's broadcast (training is deterministic, so the bytes are
    // identical either way, but it runs once instead of twice).
    inParallel(
      () => {
        centroids.write.mode("overwrite").parquet(s"$indexPath/centroids")
        val stored = broadcast(spark.read.parquet(s"$indexPath/centroids"))
        nearestCells(vecs, stored, 1, "id_c")
          .write.mode("overwrite").parquet(s"$indexPath/cells")
      },
      () => {
        codebook.write.mode("overwrite").parquet(s"$indexPath/codebook")
        val stored = broadcast(spark.read.parquet(s"$indexPath/codebook"))
        pqEncode(vecs, stored, "id_c", m, sub)
          .write.mode("overwrite").parquet(s"$indexPath/codes")
      })
    val nIndexed = vecs.count()
    Seq((m, k, sub, dim, nCells, nIndexed))
      .toDF("m", "k", "sub", "dim", "n_cells", "n_indexed")
      .coalesce(1).write.mode("overwrite").parquet(s"$indexPath/meta")
  }

  /** Run independent Spark ACTIONS concurrently from a bounded pool and
    * propagate the first failure with its original exception type. The
    * scheduler runs concurrent jobs FIFO, so a later action's tasks
    * back-fill executors freed by the earlier action's stragglers —
    * the standard overlap-independent-jobs pattern. Used where an
    * operator must materialize several independent artifacts (index
    * build/append) that were measured executing strictly serially.
    */
  private def inParallel(tasks: (() => Unit)*): Unit = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(tasks.size)
    try {
      val fs = tasks.map(t => pool.submit(new java.util.concurrent.Callable[Unit] {
        def call(): Unit = t()
      }))
      // collect EVERY failure before rethrowing (round-22 advice): with
      // await-in-submission-order + first-throw, a failed early task
      // left later tasks running — still appending to index artifacts
      // while the caller unwound — and their own failures were silently
      // dropped, leaving a torn append only partially reported. On the
      // first failure, cancel what has not started (running Spark jobs
      // are not killed, but no new ones begin) and drain the rest.
      val failures = Seq.newBuilder[Throwable]
      fs.foreach { f =>
        try f.get()
        catch {
          case e: java.util.concurrent.ExecutionException =>
            failures += e.getCause
            fs.foreach(_.cancel(false))
          case _: java.util.concurrent.CancellationException => ()
        }
      }
      val errs = failures.result()
      errs.headOption.foreach { primary =>
        errs.drop(1).foreach(primary.addSuppressed)
        throw primary
      }
    } finally pool.shutdownNow()
  }

  /** INCREMENTAL index maintenance (round-20): append a vector DELTA
    * to a persisted IVF-PQ index by encoding ONLY the new vectors
    * against the STORED centroids and codebook — no k-means, no
    * codebook training, no full-corpus pass (trainJobCount is
    * untouched, same pin as the query path). The stored quantizers
    * stay frozen, which is the production shape: cell geometry and
    * codewords drift slowly relative to corpus growth, and a frozen
    * quantizer's recall degrades gracefully while a retrain is a
    * scheduled (not per-append) event. The meta row's `n_indexed`
    * advances so [[ivfPqTopKWith]]'s staleness guard can vouch the
    * index still covers the corpus. Returns the number of delta
    * vectors encoded — by construction the ONLY rows the append's
    * jobs ever touch (the function never sees the corpus).
    */
  def appendToIvfPqIndex(
      delta: DataFrame, idCol: String, vecCol: String,
      indexPath: String): Long = {
    val spark = delta.sparkSession
    import spark.implicits._
    val meta = readIndexMeta(spark, indexPath)
    val m = meta.getInt(0); val k = meta.getInt(1)
    val sub = meta.getInt(2); val dim = meta.getInt(3)
    val nCells = meta.getInt(4)
    // a pre-round-20 index has no n_indexed: BACKFILL from the cells
    // artifact (one row per indexed vector) — recording the delta
    // alone would permanently trip the staleness guard on an index
    // that actually covers the corpus
    val nIndexed =
      if (meta.schema.fieldNames.contains("n_indexed"))
        meta.getLong(meta.fieldIndex("n_indexed"))
      else spark.read.parquet(s"$indexPath/cells").count()
    val centroids = broadcast(spark.read.parquet(s"$indexPath/centroids"))
    val codebook = broadcast(spark.read.parquet(s"$indexPath/codebook"))
    val dVecs = CacheScope.cached(withNorm(delta, idCol, vecCol, ""))
    // delta-assignment, delta-encode and the delta count are three
    // independent actions over the same (cached) delta projection: run
    // them concurrently (same serial-jobs measurement as the build).
    // Crash atomicity is unchanged — the meta swap below still only
    // happens after BOTH appends landed, and a torn append (one side
    // written) was already reachable serially between the two writes.
    var appended = 0L
    inParallel(
      () => nearestCells(dVecs, centroids, 1, "id_c")
        .write.mode("append").parquet(s"$indexPath/cells"),
      () => pqEncode(dVecs, codebook, "id_c", m, sub)
        .write.mode("append").parquet(s"$indexPath/codes"),
      () => appended = dVecs.count())
    // meta is a one-row bookkeeping artifact: land the advanced count
    // beside the old one, then swap. A directory cannot rename-over
    // (unlike the manifest pointer's FileContext OVERWRITE), so the
    // swap is delete + CHECKED rename; the missing-meta window between
    // the two is closed on the READ side (readIndexMeta completes a
    // crashed swap from meta_next).
    Seq((m, k, sub, dim, nCells, nIndexed + appended))
      .toDF("m", "k", "sub", "dim", "n_cells", "n_indexed")
      .coalesce(1).write.mode("overwrite").parquet(s"$indexPath/meta_next")
    val conf = spark.sessionState.newHadoopConf()
    val fs = new org.apache.hadoop.fs.Path(indexPath).getFileSystem(conf)
    val cur = new org.apache.hadoop.fs.Path(s"$indexPath/meta")
    fs.delete(cur, true)
    if (!fs.rename(new org.apache.hadoop.fs.Path(s"$indexPath/meta_next"), cur))
      throw new java.io.IOException(
        s"graft: could not swap $indexPath/meta_next into place — the " +
          "index meta is at meta_next (readIndexMeta self-heals, or " +
          "rename it manually)")
    appended
  }

  /** The index's one-row meta, completing a crashed append's
    * delete+rename swap if only `meta_next` survives. */
  private def readIndexMeta(
      spark: org.apache.spark.sql.SparkSession, indexPath: String)
      : org.apache.spark.sql.Row = {
    val conf = spark.sessionState.newHadoopConf()
    val cur = new org.apache.hadoop.fs.Path(s"$indexPath/meta")
    val fs = cur.getFileSystem(conf)
    if (!fs.exists(cur)) {
      val next = new org.apache.hadoop.fs.Path(s"$indexPath/meta_next")
      if (fs.exists(next)) fs.rename(next, cur)
    }
    spark.read.parquet(s"$indexPath/meta").collect()(0)
  }

  /** IVF-PQ top-k FROM A PERSISTED INDEX (see [[buildIvfPqIndex]]):
    * the query path touches the corpus vectors only for the exact
    * re-rank of the few surviving candidates; routing uses the stored
    * centroids + assignments, scoring uses the stored codes — and it
    * launches NO training (trainJobCount is untouched, the
    * certification's mechanism pin).
    *
    * STALENESS GUARD (round-20): vectors appended to the corpus but
    * never [[appendToIvfPqIndex]]-encoded are invisible to the index
    * and silently depress recall. When the index's `n_indexed` covers
    * less than `1 - maxStaleFrac` of the corpus, the query fails
    * LOUDLY naming the fix. The guard needs the corpus size: pass
    * `corpusCount` on hot paths (the default runs one count job per
    * call — cheap next to the routing/ADC/rerank joins, but a known
    * count is free); `maxStaleFrac < 0` disables the guard entirely
    * (a deliberately partial index is a legitimate tool).
    */
  def ivfPqTopKWith(
      emb: DataFrame, idCol: String, vecCol: String, topK: Int,
      indexPath: String, queries: DataFrame,
      nProbe: Int = 4, probeFrac: Double = 0.0, rerank: Int = 16,
      withScanCount: Boolean = false,
      maxStaleFrac: Double = 0.1, corpusCount: Long = -1L): DataFrame = {
    val spark = emb.sparkSession
    val meta = readIndexMeta(spark, indexPath)
    val m = meta.getInt(0); val sub = meta.getInt(2)
    val nCells = meta.getInt(4)
    if (maxStaleFrac >= 0 && meta.schema.fieldNames.contains("n_indexed")) {
      val nIndexed = meta.getLong(meta.fieldIndex("n_indexed"))
      val n = if (corpusCount >= 0) corpusCount else emb.count()
      require(nIndexed >= math.ceil((1.0 - maxStaleFrac) * n).toLong,
        s"graft: persisted IVF-PQ index at $indexPath is STALE — it " +
          s"covers $nIndexed of $n corpus vectors (> ${maxStaleFrac * 100}%" +
          " missing would silently depress recall); run " +
          "appendToIvfPqIndex with the un-indexed delta, or rebuild")
    }
    val centroids = broadcast(spark.read.parquet(s"$indexPath/centroids"))
    val codebook = broadcast(spark.read.parquet(s"$indexPath/codebook"))
    val cells = spark.read.parquet(s"$indexPath/cells")
    val codes = spark.read.parquet(s"$indexPath/codes")
    val vecs = CacheScope.cached(withNorm(emb, idCol, vecCol, ""))
    val qVecs = withNorm(queries, idCol, vecCol, "")
    val probe =
      if (probeFrac > 0) math.max(1, math.ceil(probeFrac * nCells).toInt)
      else nProbe
    val routed = nearestCells(qVecs, centroids, probe, "id_q")
      .join(cells, Seq("cell"))
      .filter(col("id_q") =!= col("id_c"))
      .select(col("id_q"), col("id_c"))
    val lut = pqLut(qVecs, codebook, m, sub)
    val approx = routed.join(codes, Seq("id_c"))
      .join(lut, Seq("id_q", "j", "code"))
      .groupBy(col("id_q"), col("id_c"))
      .agg(sum(col("pdot")).as("adot"))
    val counted =
      if (!withScanCount) approx
      else approx.withColumn("n_scored",
        count(lit(1)).over(Window.partitionBy(col("id_q"))))
    pqRerank(counted, qVecs, vecs, topK, rerank,
      extra = if (withScanCount) Seq("n_scored") else Nil)
  }

  /** Sub-vector explosion: (outId, j, sv) — slice is 1-based. */
  private def subVecs(src: DataFrame, outId: String, m: Int, sub: Int): DataFrame =
    src.select(col("id").as(outId), explode(sequence(lit(0), lit(m - 1))).as("j"),
        col("v"))
      .select(col(outId), col("j"),
        expr(s"slice(v, j * $sub + 1, $sub)").as("sv"))

  /** PQ codebook (j, code, cw), broadcast: sub-vectors of the first `k`
    * corpus vectors in xxhash64(id) order (no RNG, no corpus count),
    * refined by `lloydIters` per-subspace k-means steps over a bounded
    * deterministic sample.
    */
  private[ext] def buildPqCodebook(
      vecs: DataFrame, m: Int, k: Int, sub: Int,
      lloydIters: Int, trainSample: Int): DataFrame = {
    noteTraining()
    val anchors = vecs.orderBy(xxhash64(col("id")), col("id")).limit(k)
      .select(col("id"), col("v"),
        row_number().over(Window.orderBy(xxhash64(col("id")), col("id")))
          .as("code"))
      .select(col("id"), col("v"), (col("code") - 1).as("code"))
    val init = subVecs(anchors.select(col("id").as("aid"), col("v"), col("code"))
        .withColumnRenamed("aid", "id"), "id", m, sub)
      .join(anchors.select(col("id"), col("code")), Seq("id"))
      .select(col("j"), col("code"), col("sv").as("cw"))
    broadcast(refinePqCodebook(
      subVecs(vecs, "id", m, sub), init, lloydIters, trainSample))
  }

  /** Encode: nearest codeword per (vector, subspace) by L2 —
    * argmin ||sv - cw||² = argmin (cw·cw − 2·sv·cw); ties → min code.
    */
  private def pqEncode(
      src: DataFrame, codebook: DataFrame, outId: String,
      m: Int, sub: Int): DataFrame =
    subVecs(src, outId, m, sub).join(codebook, Seq("j"))
      .select(col(outId), col("j"), col("code"),
        (dot(col("cw"), col("cw")) - lit(2.0) * dot(col("sv"), col("cw")))
          .as("d2"))
      .groupBy(col(outId), col("j"))
      .agg(min_by(col("code"), struct(col("d2"), col("code"))).as("code"))

  /** Per-query ADC lookup table (id_q, j, code, pdot), broadcast:
    * partial dot of each query sub-vector with every codeword —
    * |queries|·m·k small rows.
    */
  private def pqLut(
      qVecs: DataFrame, codebook: DataFrame, m: Int, sub: Int): DataFrame =
    broadcast(subVecs(qVecs, "id_q", m, sub).join(codebook, Seq("j"))
      .select(col("id_q"), col("j"), col("code"),
        dot(col("sv"), col("cw")).as("pdot")))

  /** Shared PQ tail: keep the top `rerank·topK` candidates by
    * approximate ADC score, re-rank them exactly, emit top-k with true
    * cosines (`extra` columns ride through from the approx side).
    */
  private def pqRerank(
      approx: DataFrame, qVecs: DataFrame, vecs: DataFrame,
      topK: Int, rerank: Int, extra: Seq[String] = Nil): DataFrame = {
    val wA = Window.partitionBy(col("id_q"))
      .orderBy(col("adot").desc, col("id_c"))
    val cands = approx.withColumn("arank", row_number().over(wA))
      .filter(col("arank") <= rerank * topK)
      .select((Seq("id_q", "id_c") ++ extra).map(col): _*)
    val scored = cands
      .join(qVecs.select(col("id").as("id_q"), col("v").as("v_q"),
        col("n").as("n_q")), Seq("id_q"))
      .join(vecs.select(col("id").as("id_c"), col("v").as("v_c"),
        col("n").as("n_c")), Seq("id_c"))
      .withColumn("cos", round(
        dot(col("v_q"), col("v_c")) / (col("n_q") * col("n_c")), 6))
    val w = Window.partitionBy(col("id_q")).orderBy(col("cos").desc, col("id_c"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= topK)
      .select(Seq(col("id_q"), col("id_c").as("neighbor_id"),
        col("rank"), col("cos")) ++ extra.map(col): _*)
  }

  /** Per-subspace Lloyd refinement of the PQ codebook over a bounded
    * deterministic sample (same recipe as [[refineCentroids]], keyed by
    * (j, code) instead of cell): assign sampled sub-vectors to their
    * nearest codeword by L2, move each codeword to its members' mean;
    * empty codes keep their old codeword.
    */
  private[ext] def refinePqCodebook(
      subVecs: DataFrame, init: DataFrame, iters: Int, sampleN: Int): DataFrame = {
    if (iters <= 0) return init
    val sample = subVecs
      .withColumn("h", xxhash64(col("id"), col("j")))
      .orderBy(col("h"), col("id"), col("j")).limit(sampleN)
      .select(col("id"), col("j"), col("sv")).transform(CacheScope.cached)
    var cb = init
    for (_ <- 0 until iters) {
      val scored = sample.join(broadcast(cb), Seq("j"))
        .select(col("id"), col("j"), col("sv"), col("code"),
          (dot(col("cw"), col("cw")) - lit(2.0) * dot(col("sv"), col("cw")))
            .as("d2"))
      val members = scored
        .groupBy(col("id"), col("j"))
        .agg(min_by(struct(col("code"), col("sv")), struct(col("d2"), col("code")))
          .as("a"))
        .select(col("j"), col("a.code").as("code"),
          posexplode(col("a.sv")).as(Seq("p", "x")))
      val means = members
        .groupBy(col("j"), col("code"), col("p")).agg(avg(col("x")).as("mx"))
        .groupBy(col("j"), col("code"))
        .agg(transform(array_sort(collect_list(struct(col("p"), col("mx")))),
          e => e.getField("mx").cast("float")).as("mw"))
      cb = cb.join(means, Seq("j", "code"), "left_outer")
        .select(col("j"), col("code"), coalesce(col("mw"), col("cw")).as("cw"))
    }
    cb
  }

  /** Derived embedding view with planted cluster structure: member i's
    * vector = center(i mod nClusters) + mix·original(i), where the
    * centers are the first nClusters corpus vectors. No test-data
    * regeneration and no RNG — pure arithmetic on fixture floats, so the
    * same view is reproducible in any engine (DuckDB: list_transform
    * with the same formula).
    *
    * Why it exists: the fixture embeddings are near-uniform on the
    * sphere, so NO coarse quantizer can reach high top-k recall with a
    * small probe — every cell is equidistant from every query. Real
    * corpora (and the 100 TB use case) have cluster structure; this view
    * plants it, letting the IVF probe economics be demonstrated honestly
    * (`nProbe ≪ nCells` at pinned recall) instead of probing half the
    * corpus. The centers table is tiny and broadcast; the view is
    * map-side work on the corpus scan.
    */
  def clusteredView(
      emb: DataFrame, idCol: String, vecCol: String,
      nClusters: Int = 50, mix: Double = 0.15): DataFrame = {
    val centers = emb.filter(col(idCol) < nClusters)
      .select(col(idCol).as("cid"), col(vecCol).as("cemb"))
    emb.join(broadcast(centers),
        pmod(col(idCol), lit(nClusters.toLong)) === col("cid"))
      .select(col(idCol),
        zip_with(col("cemb"), col(vecCol),
          (a, b) => (a + lit(mix) * b).cast("float")).as(vecCol))
  }

  /** Seeded Lloyd refinement of IVF centroids over a bounded
    * deterministic sample (the sampleN first vectors in xxhash64 order —
    * a TakeOrdered needing no corpus count): assign each sampled vector
    * to its nearest centroid by cosine, move each centroid to the
    * element-wise mean of its members (empty cells keep their old
    * centroid; cells whose mean cancels to zero norm are dropped). The
    * sample is ≤ sampleN rows and the centroid table is broadcast, so
    * each iteration is sample-sized work regardless of corpus size — the
    * standard train-on-a-sample IVF recipe.
    */
  private[ext] def refineCentroids(
      vecs: DataFrame, init: DataFrame, iters: Int, sampleN: Int): DataFrame = {
    if (iters <= 0) return init
    val sample = vecs.orderBy(xxhash64(col("id")), col("id")).limit(sampleN)
      .select(col("id"), col("v"), col("n")).transform(CacheScope.cached)
    var cents = init
    for (_ <- 0 until iters) {
      // score every (sample vector, centroid) pair — an intentional
      // sample × centroids cross join, both sides bounded
      val scored = sample.join(broadcast(cents))
        .select(col("id"), col("v"), col("cell"),
          (dot(col("v"), col("cv")) / (col("n") * col("cn"))).as("ccos"))
      val w = Window.partitionBy(col("id")).orderBy(col("ccos").desc, col("cell"))
      val members = scored.withColumn("r", row_number().over(w))
        .filter(col("r") === 1)
        .select(col("cell"), posexplode(col("v")).as(Seq("p", "x")))
      val means = members
        .groupBy(col("cell"), col("p")).agg(avg(col("x")).as("m"))
        .groupBy(col("cell"))
        .agg(transform(array_sort(collect_list(struct(col("p"), col("m")))),
          e => e.getField("m").cast("float")).as("mv"))
      cents = cents.select(col("cell"), col("cv"))
        .join(means, Seq("cell"), "left_outer")
        .select(col("cell"), coalesce(col("mv"), col("cv")).as("cv"))
        .withColumn("cn", l2Norm(col("cv")))
        .filter(col("cn") > 0)
    }
    cents
  }
}
