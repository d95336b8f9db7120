package graft
package certs

import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.ext.{Quantize, SimSearch, SparseSim}

import CertSupport._

/** Similarity-search certifications: threshold and top-k search,
  * sparse cosine, and the IVF / PQ / IVF-PQ ANN indexes (built, persisted
  * and incrementally maintained) over a planted-cluster embedding view.
  */
object SimilarityCerts {

  private val PlantedTopkOracle =
    s"""$PlantedViewSql,
       |s AS (
       |  SELECT q.vec_id AS id_q, c.vec_id AS neighbor_id,
       |         round(list_cosine_similarity(q.emb, c.emb), 6) AS cos
       |  FROM v q JOIN v c ON q.vec_id <> c.vec_id
       |  WHERE q.vec_id < 100)
       |SELECT count(*) AS n_exact, round(sum(cos), 2) AS sum_cos,
       |       true AS recall_ok FROM (
       |  SELECT cos, row_number() OVER (PARTITION BY id_q
       |           ORDER BY cos DESC, neighbor_id) AS rank
       |  FROM s)
       |WHERE rank <= 3""".stripMargin

  val all: Seq[Cert] = Seq(
    // X3 search: threshold similarity join (exact baseline path).
    Cert("similarity_threshold",
      """SELECT a.vec_id AS id_a, b.vec_id AS id_b
        |FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
        |WHERE list_cosine_similarity(a.embedding, b.embedding) >= 0.4""".stripMargin) { (s, dir) =>
      SimSearch.cosinePairs(Tables.embeddings(s, dir), "vec_id", "embedding", 0.4)
    },
    // X3 top-k: brute-force ranked neighbors (WindowGroupLimit top-k).
    Cert("similarity_topk",
      """WITH s AS (
        |  SELECT q.vec_id AS id_q, c.vec_id AS neighbor_id,
        |         round(list_cosine_similarity(q.embedding, c.embedding), 6) AS cos
        |  FROM embeddings q JOIN embeddings c ON q.vec_id <> c.vec_id
        |  WHERE q.vec_id < 100)
        |SELECT id_q, neighbor_id, rank FROM (
        |  SELECT id_q, neighbor_id,
        |         row_number() OVER (PARTITION BY id_q
        |           ORDER BY cos DESC, neighbor_id) AS rank
        |  FROM s)
        |WHERE rank <= 3""".stripMargin) { (s, dir) =>
      val e = Tables.embeddings(s, dir)
      SimSearch.topKBruteForce(e.filter(col("vec_id") < 100), e, "vec_id", "embedding", 3)
        .select("id_q", "neighbor_id", "rank")
    },
    // X3 ANN: random-hyperplane LSH buckets, exact scoring of
    // bucket-mates. Recall < 1 by construction, so the ranked listing
    // has no SQL oracle; the query instead pins recall@3 against the
    // in-engine exact top-k on the deterministic vec_id < 100 query
    // subset (whose exact count the oracle CAN compute — same SQL as
    // similarity_topk's). 32 bands x 4 bits (not the 16x6 default): the
    // fixture embeddings are near-orthogonal, so top-3 neighbors sit at
    // low cosine where 6-bit bands collide too rarely (recall 0.57-0.62
    // measured); 4-bit bands recall 0.99-1.00 at both SFs at the same
    // cost. recall_ok bound 0.9 leaves ~0.09 margin.
    Cert("similarity_ann_topk",
      // ANN recall check: the exact-side count is genuinely
      // oracle-computed (same ranking SQL as similarity_topk); the
      // recall verdict must be true.
      """WITH s AS (
        |  SELECT q.vec_id AS id_q, c.vec_id AS neighbor_id,
        |         round(list_cosine_similarity(q.embedding, c.embedding), 6) AS cos
        |  FROM embeddings q JOIN embeddings c ON q.vec_id <> c.vec_id
        |  WHERE q.vec_id < 100)
        |SELECT count(*) AS n_exact, true AS recall_ok FROM (
        |  SELECT row_number() OVER (PARTITION BY id_q
        |           ORDER BY cos DESC, neighbor_id) AS rank
        |  FROM s)
        |WHERE rank <= 3""".stripMargin) { (s, dir) =>
      val e = Tables.embeddings(s, dir)
      // rank only the verdict's query subset: the id_q predicate pushes
      // through the window (partition-key filter) into the scoring
      // joins, pruning ~95% of the ranking rows; the LSH index build is
      // unchanged. Median 1.9 -> 1.5 s at sf0.1 (same query-batch
      // economics as similarity_ivf_topk, smaller win because the index
      // build dominates this query).
      val ann = SimSearch.annTopK(e, "vec_id", "embedding", 3,
          numBands = 32, bitsPerBand = 4)
        .filter(col("id_q") < 100)
        .select(col("id_q"), col("neighbor_id"))
      val exact = SimSearch
        .topKBruteForce(e.filter(col("vec_id") < 100), e, "vec_id", "embedding", 3)
        .select(col("id_q"), col("neighbor_id"))
      val nE = exact.agg(count(lit(1)).as("n_exact"))
      val nH = ann.join(exact, Seq("id_q", "neighbor_id"))
        .agg(count(lit(1)).as("n_hit"))
      nE.crossJoin(nH).select(
        col("n_exact"),
        (col("n_hit").cast("double") >= col("n_exact") * 0.9).as("recall_ok"))
    },
    // Product-quantization ANN (X3's third index family, beside
    // RHP-LSH and IVF): corpus vectors compressed to m=8 one-byte
    // codes (32× memory compression — the lever that turns a 100 TB
    // embedding corpus into an in-memory index), queries answered from
    // the codes via ADC lookup-table sums, top rerank·k candidates
    // exactly re-ranked. Certified like the IVF pair: over the
    // planted-cluster view (the raw fixture is near-uniform on the
    // sphere — no quantizer discriminates there, measured 0.59 recall
    // vs 1.000 on the clustered view), single-pass verdict against
    // the exact brute-force top-3, recall_ok pinned at >= 0.9
    // (measured 1.000 at sf0.01 and sf0.1 with rerank=16).
    Cert("similarity_pq_topk",
      // identical exact-baseline relation to similarity_ivf_topk's
      // oracle: same clustered view, same ranking; the PQ path only has
      // to hit >= 90% of it (literal-true verdict)
      PlantedTopkOracle) { (s, dir) =>
      val e = ext.SimSearch.clusteredView(Tables.embeddings(s, dir),
        "vec_id", "embedding", nClusters = IvfNClusters, mix = IvfMix.toDouble)
      val q = e.filter(col("vec_id") < 100)
      val pq = ext.SimSearch.pqTopK(e, "vec_id", "embedding", 3,
          rerank = 16, lloydIters = 1, queries = Some(q))
        .select(col("id_q"), col("neighbor_id"), lit(1L).as("hit"))
      ext.SimSearch.topKBruteForce(q, e, "vec_id", "embedding", 3)
        .join(pq, Seq("id_q", "neighbor_id"), "left_outer")
        .agg(count(lit(1)).as("n_exact"),
          round(sum(col("cos")), 2).as("sum_cos"),
          (sum(coalesce(col("hit"), lit(0L))).cast("double")
            >= count(lit(1)) * 0.9).as("recall_ok"))
    },
    // IVF-PQ composition: the IVF
    // coarse quantizer prunes WHICH vectors get scored (routed cells
    // only) and PQ shrinks WHAT a scored vector costs (8 one-byte
    // codes, 32x compression) — flat ADC scanned every corpus code per
    // query batch; this is the sublinear 100 TB ANN shape. Same
    // planted-cluster corpus and exact-baseline verdict as the
    // IVF/PQ siblings, recall_ok pinned >= 0.9, PLUS the measured
    // sublinearity proof: max per-query ADC candidate count < half the
    // corpus (actual ~11% — probeFrac 0.1 over 64 cells), certified
    // from the ADC join's own output, not the plan text.
    Cert("similarity_ivfpq_topk",
      // identical exact-baseline relation to the IVF/PQ siblings' oracles
      // (same clustered view, same ranking); the IVF-PQ path has to hit
      // >= 90% of it AND prove the sublinear scan (literal-true verdicts)
      s"""$PlantedViewSql,
         |s AS (
         |  SELECT q.vec_id AS id_q, c.vec_id AS neighbor_id,
         |         round(list_cosine_similarity(q.emb, c.emb), 6) AS cos
         |  FROM v q JOIN v c ON q.vec_id <> c.vec_id
         |  WHERE q.vec_id < 100)
         |SELECT count(*) AS n_exact, round(sum(cos), 2) AS sum_cos,
         |       true AS recall_ok, true AS sublinear_ok FROM (
         |  SELECT cos, row_number() OVER (PARTITION BY id_q
         |           ORDER BY cos DESC, neighbor_id) AS rank
         |  FROM s)
         |WHERE rank <= 3""".stripMargin) { (s, dir) =>
      val e = ext.SimSearch.clusteredView(Tables.embeddings(s, dir),
        "vec_id", "embedding",
        nClusters = IvfNClusters,
        mix = IvfMix.toDouble)
      val q = e.filter(col("vec_id") < 100)
      val ipq = ext.SimSearch.ivfPqTopK(e, "vec_id", "embedding", 3,
          nCentroids = 64, lloydIters = 0, probeFrac = 0.1,
          rerank = 16, pqLloydIters = 1,
          queries = Some(q), withScanCount = true)
        .select(col("id_q"), col("neighbor_id"), lit(1L).as("hit"),
          col("n_scored"))
      val nCorpus = e.agg(count(lit(1)).as("n_corpus"))
      ext.SimSearch.topKBruteForce(q, e, "vec_id", "embedding", 3)
        .join(ipq, Seq("id_q", "neighbor_id"), "left_outer")
        .agg(count(lit(1)).as("n_exact"),
          round(sum(col("cos")), 2).as("sum_cos"),
          (sum(coalesce(col("hit"), lit(0L))).cast("double")
            >= count(lit(1)) * 0.9).as("recall_ok"),
          max(col("n_scored")).as("max_scored"))
        .crossJoin(nCorpus)
        .select(col("n_exact"), col("sum_cos"), col("recall_ok"),
          (col("max_scored") < col("n_corpus") * 0.5).as("sublinear_ok"))
    },
    // PERSISTED ANN INDEX: centroids, PQ codebook, corpus cell
    // assignments, and corpus codes are built ONCE and stored as
    // parquet artifacts; queries answer from the artifacts alone. The
    // requires pin the artifact contract: TWO query batches run
    // against the stored index with recall >= 0.9 vs the exact
    // baseline, and the query path bumps the training counter ZERO
    // times (no k-means, no codebook job — at 100 TB the per-query
    // rebuild re-reads the corpus every call, which is the reflex
    // this closes).
    Cert.scratch("similarity_ivf_persisted",
      // identical exact-baseline relation to similarity_ivfpq_topk's
      // oracle (same clustered view, same ranking); recall and the
      // no-training pin are literal-true verdicts the engine must match
      s"""$PlantedViewSql,
         |s AS (
         |  SELECT q.vec_id AS id_q, c.vec_id AS neighbor_id,
         |         round(list_cosine_similarity(q.emb, c.emb), 6) AS cos
         |  FROM v q JOIN v c ON q.vec_id <> c.vec_id
         |  WHERE q.vec_id < 100)
         |SELECT count(*) AS n_exact, round(sum(cos), 2) AS sum_cos,
         |       true AS recall_ok, true AS train_free_ok FROM (
         |  SELECT cos, row_number() OVER (PARTITION BY id_q
         |           ORDER BY cos DESC, neighbor_id) AS rank
         |  FROM s)
         |WHERE rank <= 3""".stripMargin) { (s, dir, out) =>
      graft.core.Scratch.rmTree(out)
      // cached once: the view feeds the build, two query batches (each
      // with a staleness-guard corpus count) and both sides of the
      // exact-recall baseline (same measurement as
      // similarity_ivf_incremental)
      val e = core.CacheScope.cached(ext.SimSearch.clusteredView(
        Tables.embeddings(s, dir), "vec_id", "embedding",
        nClusters = IvfNClusters,
        mix = IvfMix.toDouble))
      ext.SimSearch.buildIvfPqIndex(e, "vec_id", "embedding", s"$out/idx",
        nCentroids = 64, lloydIters = 0, pqLloydIters = 1)
      val trainedBefore = ext.SimSearch.trainJobCount
      // two independent query batches against the SAME stored index
      val r1 = ext.SimSearch.ivfPqTopKWith(e, "vec_id", "embedding", 3,
        s"$out/idx", e.filter(col("vec_id") < 50),
        probeFrac = 0.1, rerank = 16)
      val r2 = ext.SimSearch.ivfPqTopKWith(e, "vec_id", "embedding", 3,
        s"$out/idx", e.filter(col("vec_id") >= 50 && col("vec_id") < 100),
        probeFrac = 0.1, rerank = 16)
      val ipq = r1.unionByName(r2)
        .select(col("id_q"), col("neighbor_id"), lit(1L).as("hit"))
      val row = ext.SimSearch.topKBruteForce(
          e.filter(col("vec_id") < 100), e, "vec_id", "embedding", 3)
        .join(ipq, Seq("id_q", "neighbor_id"), "left_outer")
        .agg(count(lit(1)).as("n_exact"),
          round(sum(col("cos")), 2).as("sum_cos"),
          (sum(coalesce(col("hit"), lit(0L))).cast("double")
            >= count(lit(1)) * 0.9).as("recall_ok"))
        .collect()(0)
      require(ext.SimSearch.trainJobCount == trainedBefore,
        "the persisted-index QUERY path must launch no training jobs")
      require(row.getBoolean(2),
        s"recall below 0.9 against the exact baseline")
      import s.implicits._
      Seq((row.getLong(0), row.getDouble(1), row.getBoolean(2), true))
        .toDF("n_exact", "sum_cos", "recall_ok", "train_free_ok")
    },
    // INCREMENTAL ANN INDEX MAINTENANCE: build the persisted IVF-PQ
    // index over 90% of the corpus, append the remaining 10% by
    // encoding ONLY the delta against the STORED centroids/codebook,
    // then answer a query batch from the maintained index. The
    // requires pin each mechanism: (1) the append and the queries
    // launch ZERO training jobs (trainJobCount frozen after build);
    // (2) the append touched exactly the delta — the cells artifact
    // grew by |delta| rows and the codes artifact by m·|delta|
    // (appendToIvfPqIndex never receives the corpus, and the artifact
    // row deltas prove no re-encode happened); (3) BEFORE the append
    // the staleness guard fails LOUDLY (10% of the corpus un-indexed
    // silently depresses recall); (4) recall >= 0.9
    // against the in-engine exact baseline over the full corpus.
    Cert.scratch("similarity_ivf_incremental",
      // identical exact-baseline relation to similarity_ivf_persisted's
      // oracle (same clustered view, same ranking); recall, train-free
      // and delta-only are literal-true verdicts the engine must match
      s"""$PlantedViewSql,
         |s AS (
         |  SELECT q.vec_id AS id_q, c.vec_id AS neighbor_id,
         |         round(list_cosine_similarity(q.emb, c.emb), 6) AS cos
         |  FROM v q JOIN v c ON q.vec_id <> c.vec_id
         |  WHERE q.vec_id < 100)
         |SELECT count(*) AS n_exact, round(sum(cos), 2) AS sum_cos,
         |       true AS recall_ok, true AS train_free_ok,
         |       true AS delta_only_ok FROM (
         |  SELECT cos, row_number() OVER (PARTITION BY id_q
         |           ORDER BY cos DESC, neighbor_id) AS rank
         |  FROM s)
         |WHERE rank <= 3""".stripMargin) { (s, dir, out) =>
      graft.core.Scratch.rmTree(out)
      // the clustered view feeds MANY independent branches (index build,
      // staleness-guard counts, append delta, the recall join's query
      // and corpus sides) — each withNorm/count otherwise re-executes
      // the embeddings⨝centers view per branch (measured 95
      // serial jobs ≈ wall; caching the view once removes the repeated
      // view recomputation from every downstream job)
      val e = core.CacheScope.cached(ext.SimSearch.clusteredView(
        core.Tables.embeddings(s, dir), "vec_id", "embedding",
        nClusters = IvfNClusters,
        mix = IvfMix.toDouble))
      val base = e.filter(col("vec_id") % 10 =!= 0)
      val delta = e.filter(col("vec_id") % 10 === 0)
      ext.SimSearch.buildIvfPqIndex(base, "vec_id", "embedding",
        s"$out/idx", nCentroids = 64, lloydIters = 0, pqLloydIters = 1)
      val trainedAfterBuild = ext.SimSearch.trainJobCount
      // (3) staleness: 10% of the corpus is not in the index — a
      // query demanding 95% coverage must refuse, naming the fix
      val stale =
        try {
          ext.SimSearch.ivfPqTopKWith(e, "vec_id", "embedding", 3,
            s"$out/idx", e.filter(col("vec_id") < 100),
            probeFrac = 0.1, rerank = 16, maxStaleFrac = 0.05).count()
          false
        } catch {
          case ex: IllegalArgumentException =>
            Option(ex.getMessage).exists(_.contains("STALE"))
        }
      require(stale,
        "the staleness guard must reject a query against an index " +
          "missing 10% of the corpus")
      // (2) delta-only encode: artifact growth == |delta| exactly
      val cellsBefore = s.read.parquet(s"$out/idx/cells").count()
      val codesBefore = s.read.parquet(s"$out/idx/codes").count()
      val appended = ext.SimSearch.appendToIvfPqIndex(
        delta, "vec_id", "embedding", s"$out/idx")
      val nDelta = delta.count()
      require(appended == nDelta,
        s"append encoded $appended rows, delta holds $nDelta")
      val cellsGrew = s.read.parquet(s"$out/idx/cells").count() - cellsBefore
      val codesGrew = s.read.parquet(s"$out/idx/codes").count() - codesBefore
      require(cellsGrew == nDelta && codesGrew == 8L * nDelta,
        s"append re-encoded beyond the delta: cells +$cellsGrew, " +
          s"codes +$codesGrew for |delta|=$nDelta (m=8)")
      // (1) no training anywhere past the build
      require(ext.SimSearch.trainJobCount == trainedAfterBuild,
        "incremental append/query must launch no training jobs")
      // (4) the maintained index answers with recall >= 0.9; the
      // guard now passes (n_indexed covers the full corpus)
      val r = ext.SimSearch.ivfPqTopKWith(e, "vec_id", "embedding", 3,
        s"$out/idx", e.filter(col("vec_id") < 100),
        probeFrac = 0.1, rerank = 16, maxStaleFrac = 0.05)
        .select(col("id_q"), col("neighbor_id"), lit(1L).as("hit"))
      val row = ext.SimSearch.topKBruteForce(
          e.filter(col("vec_id") < 100), e, "vec_id", "embedding", 3)
        .join(r, Seq("id_q", "neighbor_id"), "left_outer")
        .agg(count(lit(1)).as("n_exact"),
          round(sum(col("cos")), 2).as("sum_cos"),
          (sum(coalesce(col("hit"), lit(0L))).cast("double")
            >= count(lit(1)) * 0.9).as("recall_ok"))
        .collect()(0)
      require(ext.SimSearch.trainJobCount == trainedAfterBuild,
        "the maintained-index QUERY path must launch no training jobs")
      require(row.getBoolean(2), "recall below 0.9 after the append")
      import s.implicits._
      Seq((row.getLong(0), row.getDouble(1), row.getBoolean(2), true, true))
        .toDF("n_exact", "sum_cos", "recall_ok", "train_free_ok",
          "delta_only_ok")
    },
    // X3 scale path #2: IVF coarse-quantizer ANN (Lloyd-refined
    // centroids). Like the RHP path, the ranked listing has no SQL
    // oracle (recall < 1 with nProbe cells), so the query pins recall@3
    // against the in-engine exact top-k on the deterministic
    // vec_id < 100 QUERY subset — and ranks ONLY that subset
    // on the IVF side too (`queries = ...`): ranking every corpus vector
    // as a query is N²·probeFrac work no index can make cheap, and it
    // made this the suite's hottest query in rounds 4-5. The exact-side
    // count AND a content checksum (2-dp-rounded sum of the 6-dp top-3
    // cosines) are oracle-computed, so view drift (changed nClusters/mix)
    // fails the gate instead of passing silently.
    // The corpus is the planted-cluster view (SimSearch.clusteredView,
    // explicit IvfNClusters/IvfMix — the same constants interpolated
    // into the oracle SQL): the raw fixture embeddings are near-uniform
    // on the sphere, where no coarse quantizer can beat brute force. On
    // clustered data the probe is honest: 64 cells, probeFrac 0.1 →
    // each query scores ~7 cells (~11% of the corpus) with recall@3
    // pinned >= 0.9. nCentroids is explicit so CONSTRUCTION runs no
    // Spark job (no corpus count before the action), and lloydIters = 0:
    // on a planted-cluster view every member sits at center + mix·noise,
    // so ANY member-seeded centroid groups a cluster's mates into one
    // cell — refinement buys nothing here (measured recall 300/300 at
    // both SFs without it) and costs ~0.8 s of tiny-stage overhead.
    // Lloyd stays the library default and is pinned by SimSearchSpec's
    // recall-lift test on the unclustered fixture, where it does matter.
    Cert("similarity_ivf_topk",
      // the oracle replays the planted-cluster view (same arithmetic and
      // the SAME IvfNClusters/IvfMix constants as SimSearch.clusteredView)
      // and pins both the count and the content checksum of the exact
      // top-3 pairs on it
      PlantedTopkOracle) { (s, dir) =>
      val e = SimSearch.clusteredView(Tables.embeddings(s, dir), "vec_id", "embedding",
        nClusters = IvfNClusters, mix = IvfMix.toDouble)
      val q = e.filter(col("vec_id") < 100)
      val ivf = SimSearch.ivfTopK(e, "vec_id", "embedding", 3,
          nCentroids = 64, lloydIters = 0, probeFrac = 0.1,
          queries = Some(q))
        .select(col("id_q"), col("neighbor_id"), lit(1L).as("hit"))
      // single-pass verdict: one left join flags each exact pair as
      // hit/miss, one aggregation computes count, checksum, and recall —
      // the exact side is evaluated exactly once (an earlier shape ran
      // it twice plus two crossJoins)
      SimSearch.topKBruteForce(q, e, "vec_id", "embedding", 3)
        .join(ivf, Seq("id_q", "neighbor_id"), "left_outer")
        .agg(count(lit(1)).as("n_exact"),
          round(sum(col("cos")), 2).as("sum_cos"),
          (sum(coalesce(col("hit"), lit(0L))).cast("double")
            >= count(lit(1)) * 0.9).as("recall_ok"))
    },
    // X3/X5: int8 embedding quantization error report (the 4× shrink
    // every 100 TB vector corpus applies before shuffling embeddings).
    Cert("embedding_quantize",
      // floor(x+0.5) on both sides: Spark's round() is BigDecimal
      // (decimal-string) based and can differ from binary rounding by a
      // whole quantum at .5 boundaries.
      """WITH q AS (
        |  SELECT vec_id, embedding,
        |         list_max(list_transform(embedding,
        |           x -> abs(CAST(x AS DOUBLE)))) / 127.0 AS scale
        |  FROM embeddings)
        |SELECT vec_id, round(scale, 6) AS scale,
        |       round(list_max(list_transform(embedding, x ->
        |         abs(CAST(x AS DOUBLE)
        |             - floor(CAST(x AS DOUBLE) / scale + 0.5) * scale))), 6) AS max_err,
        |       round(list_sum(list_transform(embedding, x ->
        |         abs(CAST(x AS DOUBLE)
        |             - floor(CAST(x AS DOUBLE) / scale + 0.5) * scale)))
        |         / len(embedding), 6) AS mean_err
        |FROM q WHERE scale > 0""".stripMargin) { (s, dir) =>
      Quantize.dequantError(Tables.embeddings(s, dir), "vec_id", "embedding")
        .withColumnRenamed("id", "vec_id")
    },
    // X3, sparse form: inverted-index tf-cosine — the similarity path
    // that needs no embeddings. Candidates come from a token-keyed
    // postings self-join (never an all-pairs scan); maxDf is the skew
    // lever AND is genuinely exercised at every fixture scale (the
    // hottest token exceeds 240 docs in each doc_id<300 prefix). All
    // outputs are exact integers — the threshold is applied as
    // 10⁴·dot² ≥ (100t)²·|a|²·|b|², so no float cosine exists to drift.
    Cert("similarity_sparse_cosine",
      s"""WITH tok AS (
         |  SELECT doc_id AS id, unnest($TokensSql) AS tok
         |  FROM documents WHERE doc_id < 300),
         |tf AS (SELECT id, tok, count(*) AS tf FROM tok GROUP BY 1, 2),
         |keep AS (SELECT tok FROM tf GROUP BY tok HAVING count(*) <= 240),
         |p AS (SELECT tf.* FROM tf JOIN keep USING (tok)),
         |n AS (SELECT id, CAST(sum(tf * tf) AS BIGINT) AS n2 FROM p GROUP BY 1),
         |d AS (SELECT a.id AS id_a, b.id AS id_b,
         |             CAST(sum(a.tf * b.tf) AS BIGINT) AS dot
         |      FROM p a JOIN p b ON a.tok = b.tok AND a.id < b.id GROUP BY 1, 2)
         |SELECT id_a, id_b, dot, na.n2 AS na2, nb.n2 AS nb2
         |FROM d JOIN n na ON na.id = id_a JOIN n nb ON nb.id = id_b
         |WHERE 10000 * CAST(dot AS HUGEINT) * CAST(dot AS HUGEINT)
         |      >= 6400 * CAST(na.n2 AS HUGEINT) * CAST(nb.n2 AS HUGEINT)""".stripMargin) { (s, dir) =>
      SparseSim.cosinePairs(
        Tables.documents(s, dir).filter(col("doc_id") < 300),
        "doc_id", "text", threshold = 0.8, maxDf = 240)
    },
    // X3, two-corpora retrieval shape: every prior
    // similarity query self-joins one table; production retrieval ranks
    // a QUERY BATCH against a DISJOINT corpus. The split alternates
    // BLOCKS of 50 = the planted-cluster period — NOT id parity: 50 is
    // even, so a parity split puts even ids only in even cluster
    // residues, the odd queries' cluster-mates are entirely absent from
    // the corpus, and IVF recall collapses once N grows (caught by the
    // full sf0.1 oracle sweep; parity passed at sf0.01 by small-N
    // luck). Block alternation keeps every cluster populated on both
    // sides — the realistic retrieval setup, where queries come from
    // the same distribution as the corpus. recall@3 ≥ 0.9 pinned
    // against the in-engine exact top-k; count + content checksum
    // oracle-computed (same verdict contract as similarity_ivf_topk).
    Cert("similarity_ivf_batch",
      // clustered view replayed as in similarity_ivf_topk; corpus = even
      // 50-blocks, queries = odd 50-blocks below 200 (disjoint by block,
      // every cluster populated on both sides, no self-pair filter needed)
      s"""WITH ctr AS (
         |  SELECT vec_id AS cid, embedding AS cemb
         |  FROM embeddings WHERE vec_id < ${IvfNClusters}),
         |v AS (
         |  SELECT e.vec_id, list_transform(range(len(cemb)),
         |           i -> CAST(cemb[i + 1] + ${IvfMix} * e.embedding[i + 1]
         |                     AS REAL)) AS emb
         |  FROM embeddings e JOIN ctr ON e.vec_id % ${IvfNClusters} = ctr.cid),
         |s AS (
         |  SELECT q.vec_id AS id_q, c.vec_id AS neighbor_id,
         |         round(list_cosine_similarity(q.emb, c.emb), 6) AS cos
         |  FROM v q JOIN v c ON (c.vec_id // 50) % 2 = 0
         |  WHERE (q.vec_id // 50) % 2 = 1 AND q.vec_id < 200)
         |SELECT count(*) AS n_exact, round(sum(cos), 2) AS sum_cos,
         |       true AS recall_ok FROM (
         |  SELECT cos, row_number() OVER (PARTITION BY id_q
         |           ORDER BY cos DESC, neighbor_id) AS rank
         |  FROM s)
         |WHERE rank <= 3""".stripMargin) { (s, dir) =>
      val v = SimSearch.clusteredView(Tables.embeddings(s, dir), "vec_id", "embedding",
        nClusters = IvfNClusters, mix = IvfMix.toDouble)
      val corpus = v.filter(expr("(vec_id DIV 50) % 2 = 0"))
      val q = v.filter(expr("(vec_id DIV 50) % 2 = 1") && col("vec_id") < 200)
      val ivf = SimSearch.ivfTopK(corpus, "vec_id", "embedding", 3,
          nCentroids = 64, lloydIters = 0, probeFrac = 0.1, queries = Some(q))
        .select(col("id_q"), col("neighbor_id"), lit(1L).as("hit"))
      SimSearch.topKBruteForce(q, corpus, "vec_id", "embedding", 3)
        .join(ivf, Seq("id_q", "neighbor_id"), "left_outer")
        .agg(count(lit(1)).as("n_exact"),
          round(sum(col("cos")), 2).as("sum_cos"),
          (sum(coalesce(col("hit"), lit(0L))).cast("double")
            >= count(lit(1)) * 0.9).as("recall_ok"))
    }
  )
}
