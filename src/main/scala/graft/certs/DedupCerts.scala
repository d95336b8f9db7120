package graft
package certs

import org.apache.spark.sql.functions._

import graft.core.{Scratch, Tables}
import graft.ext.{Dedup, FuzzyJoin, Graph, LshJoin, SimSearch, TextStats}

import CertSupport._

/** Deduplication certifications: exact, n-gram Jaccard, MinHash/LSH,
  * SimHash, containment, clustering, incremental fingerprint stores,
  * fuzzy joins and the near-duplicate graph.
  *
  * LSH-based queries get an exact-SQL oracle because the verification
  * step makes output = { pairs with true jaccard >= t that were LSH
  * candidates }, and at 16 bands × 2 rows the candidate recall at t=0.9
  * is 1 - (1-0.9²)^16 ≈ 1 - 3e-12 — deterministic data, so if it
  * matches once at sf0.01 it matches every run.
  */
object DedupCerts {

  private def jaccardSql(threshold: String, where: String): String =
    s"""WITH tok AS (
       |  SELECT DISTINCT doc_id, unnest($TokensSql) AS tok FROM documents $where),
       |sz AS (SELECT doc_id, count(*) AS n FROM tok GROUP BY 1),
       |inter AS (
       |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS i
       |  FROM tok a JOIN tok b ON a.tok = b.tok AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2)
       |SELECT id_a, id_b, round(i / (sa.n + sb.n - i), 6) AS jaccard
       |FROM inter
       |JOIN sz sa ON sa.doc_id = id_a
       |JOIN sz sb ON sb.doc_id = id_b
       |WHERE i / (sa.n + sb.n - i) >= $threshold""".stripMargin

  /** Shared transitive-closure oracle for both clustering strategies
    * (driver union-find cutover and forced distributed loop); `where`
    * restricts the node set for the certification-prefix variant.
    */
  private def clustersOracleSql(where: String) =
    s"""WITH RECURSIVE tok AS (
       |  SELECT DISTINCT doc_id, unnest($TokensSql) AS tok FROM documents $where),
       |sz AS (SELECT doc_id, count(*) AS n FROM tok GROUP BY 1),
       |inter AS (
       |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS i
       |  FROM tok a JOIN tok b ON a.tok = b.tok AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2),
       |pairs AS (
       |  SELECT id_a, id_b FROM inter
       |  JOIN sz sa ON sa.doc_id = id_a
       |  JOIN sz sb ON sb.doc_id = id_b
       |  WHERE i / (sa.n + sb.n - i) >= 0.9),
       |e AS (SELECT id_a AS a, id_b AS b FROM pairs
       |      UNION ALL SELECT id_b, id_a FROM pairs),
       |r AS (
       |  SELECT doc_id AS id, doc_id AS rch FROM documents $where
       |  UNION
       |  SELECT r.id, e.b FROM r JOIN e ON r.rch = e.a)
       |SELECT id AS doc_id, min(rch) AS cluster_rep
       |FROM r GROUP BY 1""".stripMargin

  private val UnseenOddDocsOracle =
    """SELECT d.doc_id FROM documents d
      |WHERE d.doc_id % 2 = 1
      |  AND NOT EXISTS
      |      (SELECT 1 FROM documents s WHERE s.doc_id % 2 = 0
      |         AND md5(s.text) IS NOT DISTINCT FROM md5(d.text))""".stripMargin

  val all: Seq[Cert] = Seq(
    // X1: exact dedup with lineage — one hash aggregation on the text key.
    Cert("dedup_exact",
      "SELECT min(doc_id) AS kept_doc_id, count(*) AS n_copies FROM documents GROUP BY text") { (s, dir) =>
      Dedup.exactByKey(Tables.documents(s, dir), "doc_id", "text")
    },
    // X2 (exact form): all-pairs n-gram Jaccard with size-ratio blocking.
    Cert("dedup_ngram_jaccard", jaccardSql("0.95", "")) { (s, dir) =>
      Dedup.jaccardPairsExact(Tables.documents(s, dir), "doc_id", "text", 0.95)
    },
    // X2 (scale form): MinHash banding → bucket join → exact verification.
    Cert("dedup_minhash", jaccardSql("0.9", "")) { (s, dir) =>
      Dedup.minhashNearDupPairs(Tables.documents(s, dir), "doc_id", "text", 0.9,
        Dedup.MinHashParams(numBands = 16, rowsPerBand = 2))
    },
    // X2 scale-path CERTIFICATION: identical semantics to dedup_minhash
    // with the small-N cutover disabled (bruteForceMaxDocs = 0), so the
    // banding join — the actual 100 TB code path — executes at every
    // fixture scale and is oracle-checked against the same exact-Jaccard
    // SQL. dedup_minhash keeps the adaptive cutover (the production
    // default); this query pins that both strategies produce the same
    // relation under the DuckDB oracle, not just under DedupSpec.
    // Corpus: the deterministic doc_id < 1000 prefix (= the whole corpus
    // at sf0.001/sf0.01; 36k true pairs at sf0.1). The full-corpus forced
    // run is intentionally NOT the bench shape: the fixture is
    // pathologically dense (965k true pairs among 5k docs = 7.7% of all
    // pairs), and banding re-enumerates every clique once per band — the
    // exact workload the adaptive cutover exists to route around
    // (MinHashParams.bruteForceMaxDocs doc). The subset certifies the
    // code path; the cutover keeps the production default fast.
    Cert("dedup_minhash_lsh",
      // same oracle as dedup_minhash restricted to the certification
      // prefix: the forced-LSH path must produce the identical
      // exact-verified pair relation
      jaccardSql("0.9", "WHERE doc_id < 1000")) { (s, dir) =>
      Dedup.minhashNearDupPairs(
        Tables.documents(s, dir).filter(col("doc_id") < 1000),
        "doc_id", "text", 0.9,
        Dedup.MinHashParams(numBands = 16, rowsPerBand = 2, bruteForceMaxDocs = 0))
    },
    // X2 (bit-sketch form): SimHash Hamming-ball pairs via pigeonhole
    // block joins; the sketch is a custom codegen'd Catalyst expression,
    // so the pair listing itself has no SQL equivalent. The query pins
    // the block path against an in-engine exact Hamming join
    // (the approx_distinct_users pattern) on the deterministic
    // doc_id < 100 lens — the similarity_ann_topk baseline pattern; a
    // full-corpus O(N²) baseline inside the production query billed
    // ~2.3 s of bench time to verification and would dominate at any
    // larger fixture. The block path's INPUT is restricted to
    // the same lens too — a pair with both ids < 100 needs only corpus
    // rows < 100 on both join sides, so the filtered-pair output is
    // IDENTICAL while the full-corpus pair LISTING (pure certification
    // overhead here, measured 8.1 s of bench wall at sf0.1) is gone; the
    // full-corpus sketch+block production path stays certified by
    // dedup_stream_ingest, whose incoming side is the corpus remainder
    // with exact subset+recall verdicts. Verdicts: every emitted pair
    // must be a true <=maxHamming pair (subset_ok — structural, the
    // block path verifies the bound inside the join) and the block path
    // must recover at least 75% of the lens's true pairs (recall_ok —
    // measured recall is 1.0 at both sf0.01 and sf0.1; the sub-1.0
    // bound is headroom for the skew guard, which may drop degenerate
    // hot blocks by design — blocks only shrink under the lens, so the
    // bound is if anything easier, never different in kind).
    Cert("dedup_simhash",
      // The simhash sketch is engine-internal (custom Catalyst
      // expression), so the oracle pins the engine's self-check verdicts:
      // the query computes subset/recall against the in-engine exact
      // Hamming join and must report all-true.
      "SELECT true AS nonempty, true AS subset_ok, true AS recall_ok") { (s, dir) =>
      val docs = Tables.documents(s, dir).filter(col("doc_id") < 100)
      val block = Dedup.simhashNearDupPairs(docs, "doc_id", "text", maxHamming = 3)
        .select(col("id_a"), col("id_b"))
      val exact = Dedup.simhashPairsExact(docs, "doc_id", "text", maxHamming = 3)
        .select(col("id_a"), col("id_b"))
      val nB = block.agg(count(lit(1)).as("n_block"))
      val nE = exact.agg(count(lit(1)).as("n_exact"))
      val nI = block.join(exact, Seq("id_a", "id_b")).agg(count(lit(1)).as("n_inter"))
      nB.crossJoin(nE).crossJoin(nI).select(
        (col("n_exact") > 0).as("nonempty"),
        (col("n_inter") === col("n_block")).as("subset_ok"),
        (col("n_inter").cast("double") >= col("n_exact") * 0.75).as("recall_ok"))
    },
    // X2 × X6: streaming-ingest dedup's batch twin — flag incoming docs
    // that are simhash-near an existing static corpus via the
    // stream-static block join (Dedup.streamSimhashMatches; the same
    // function runs streaming in StreamingReconcileSpec). The sketch is
    // engine-internal, so the oracle pins the engine's self-check
    // verdicts against an in-engine exact Hamming join: the ingest path
    // has NO skew cap (the corpus side is the bounded one), and every
    // <=3-Hamming pair shares a pigeonhole block, so both subset and
    // recall must hold EXACTLY — stricter than dedup_simhash's 0.75.
    Cert("dedup_stream_ingest",
      // ingest-dedup twin: subset and recall are exact equalities (no
      // skew cap on this path; pigeonhole covers every in-ball pair)
      "SELECT true AS nonempty, true AS subset_ok, true AS recall_ok") { (s, dir) =>
      val docs = Tables.documents(s, dir)
      val corpus = docs.filter(col("doc_id") < 100)
      val incoming = docs.filter(col("doc_id") >= 100)
      val matches = Dedup
        .streamSimhashMatches(incoming, corpus, "doc_id", "text", maxHamming = 3)
        .select(col("in_id"), col("corpus_id"))
      val shIn = Dedup.simhashes(incoming, "doc_id", "text")
        .select(col("id").as("in_id"), col("simhash").as("sh_in"))
      val shC = Dedup.simhashes(corpus, "doc_id", "text")
        .select(col("id").as("corpus_id"), col("simhash").as("sh_c"))
      val exact = shIn.join(shC,
          bit_count(col("sh_in").bitwiseXOR(col("sh_c"))) <= 3)
        .select("in_id", "corpus_id")
      val nM = matches.agg(count(lit(1)).as("n_match"))
      val nE = exact.agg(count(lit(1)).as("n_exact"))
      val nI = matches.join(exact, Seq("in_id", "corpus_id"))
        .agg(count(lit(1)).as("n_inter"))
      nM.crossJoin(nE).crossJoin(nI).select(
        (col("n_exact") > 0).as("nonempty"),
        (col("n_inter") === col("n_match")).as("subset_ok"),
        (col("n_inter") === col("n_exact")).as("recall_ok"))
    },
    // X3 near-dup: exact cosine pairs at a dedup-grade threshold.
    Cert("dedup_embedding_cosine",
      """SELECT a.vec_id AS id_a, b.vec_id AS id_b
        |FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
        |WHERE list_cosine_similarity(a.embedding, b.embedding) >= 0.45""".stripMargin) { (s, dir) =>
      SimSearch.cosinePairs(Tables.embeddings(s, dir), "vec_id", "embedding", 0.45)
    },
    // X1, the incremental-store anti-join with the store-side SHUFFLE
    // REMOVED: a distributively-built Bloom filter over the store's
    // fingerprints (shipped into whole-stage codegen as the native
    // graft_bloom_contains expression) clears definitely-new batch rows
    // with zero join work; the suspects (true dups + ~1% false
    // positives) resolve exactly against a broadcast-semi-joined store
    // scan. Row-identical to dedup_incremental BY CONSTRUCTION (false
    // positives are resolved, never dropped) and certified under the
    // SAME NOT-EXISTS oracle — at a 100 TB store this is the difference
    // between shuffling the store nightly and scanning it.
    Cert.scratch("dedup_incremental_bloom",
      // same oracle as dedup_incremental (NOT EXISTS, null-safe) — the
      // bloom path must be row-identical to the plain anti-join
      UnseenOddDocsOracle) { (s, dir, out) =>
      val docs = Tables.documents(s, dir)
      val store = out + "/fp_store"
      graft.ext.Dedup.writeFingerprintStore(
        docs.filter(col("doc_id") % 2 === 0), "text", store)
      graft.ext.Dedup.dedupAgainstStoreBloom(
          s, docs.filter(col("doc_id") % 2 === 1), "text", store)
        .select(col("doc_id"))
    },
    // X2 curation policy: KEEP-BEST per near-dup cluster. The existing
    // representative rollup keeps min-id (arbitrary); a real curation
    // pipeline keeps the highest-QUALITY member of each cluster. Same
    // certified cluster assignment (nearDupClusters), joined with the
    // quality score, argmax per cluster with a (quality, doc_id) total
    // order so ties cannot make the kept set ambiguous. One extra
    // partial-agg shuffle over the cluster assignment — the policy
    // swap costs nothing at scale.
    Cert("dedup_keep_best",
      // same transitive closure as the representatives query, the kept
      // member re-derived by (quality DESC, doc_id DESC) row_number
      s"""WITH clusters AS (
         |${clustersOracleSql("WHERE doc_id < 1000")}
         |),
         |t AS (SELECT doc_id,
         |        list_filter(string_split_regex(lower(text), '\\s+'),
         |                    x -> len(x) > 0) AS toks
         |      FROM documents WHERE doc_id < 1000),
         |q AS (SELECT doc_id, len(toks) AS n,
         |  CASE WHEN len(toks) > 0
         |       THEN list_sum(list_transform(toks, x -> len(x))) / len(toks)
         |       ELSE 0.0 END AS avg_len,
         |  CASE WHEN len(toks) > 0
         |       THEN len(list_filter(toks, x -> list_contains(
         |            ['the','of','and','to','in','is','a','on','for','with'], x))) / len(toks)
         |       ELSE 0.0 END AS sw_ratio
         |  FROM t),
         |scored AS (
         |  SELECT doc_id, floor((
         |    0.4 * least(1.0, n / 100.0) +
         |    0.3 * sw_ratio +
         |    0.3 * least(1.0, avg_len / 8.0)) * 1e6 + 0.5) / 1e6 AS quality
         |  FROM q),
         |j AS (SELECT c.cluster_rep, c.doc_id, s.quality
         |      FROM clusters c JOIN scored s ON c.doc_id = s.doc_id),
         |r AS (SELECT cluster_rep, doc_id, quality,
         |             row_number() OVER (PARTITION BY cluster_rep
         |               ORDER BY quality DESC, doc_id DESC) AS rn,
         |             count(*) OVER (PARTITION BY cluster_rep) AS n_members,
         |             max(quality) OVER (PARTITION BY cluster_rep) AS kept_quality
         |      FROM j)
         |SELECT cluster_rep, doc_id AS kept_doc_id, kept_quality, n_members
         |FROM r WHERE rn = 1""".stripMargin) { (s, dir) =>
      val docs1k = Tables.documents(s, dir).filter(col("doc_id") < 1000)
      val clusters = graft.ext.Dedup.nearDupClusters(docs1k, "doc_id", "text",
        0.9, graft.ext.Dedup.MinHashParams(numBands = 16, rowsPerBand = 2))
      val scored = docs1k.select(col("doc_id"),
        TextStats.qualityScore(col("text")).as("q"))
      clusters.join(scored, "doc_id")
        .groupBy(col("cluster_rep"))
        .agg(
          max_by(col("doc_id"), struct(col("q"), col("doc_id")))
            .as("kept_doc_id"),
          max(col("q")).as("kept_quality"),
          count(lit(1)).as("n_members"))
    },
    // X4×X2, C4-style corpus-wide SEGMENT dedup — the in-document
    // boilerplate-removal stage (discard any chunk repeated across ≥
    // minDocs documents, rebuild each document from the survivors)
    // complementing the cross-document near-dup stack. 3-word segments
    // at minDocs=3 rewrite a meaningful slice of the fixture (231 hot
    // segments at sf0.01). Segmentation is codegen'd array arithmetic
    // (no per-word explode), the hot set one partial-agg shuffle, the
    // removal a left-anti join, the rebuild one ordered groupBy fold —
    // and the CLEAN TEXT ITSELF is hash-compared against the oracle's
    // string_agg reconstruction, so a single mis-ordered or mis-kept
    // segment anywhere in the corpus fails the gate.
    Cert("text_segment_dedup",
      // the oracle rebuilds every document the same way: zip-unnested
      // (word, index) pairs → (i-1)//3 segments → hot set by distinct-doc
      // count → ordered string_agg of the survivors
      """WITH words AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS word,
        |         unnest(range(1, len(string_split(text, ' ')) + 1)) AS i
        |  FROM documents),
        |seg AS (
        |  SELECT doc_id, (i - 1) // 3 AS seg_id,
        |         string_agg(word, ' ' ORDER BY i) AS segment
        |  FROM words GROUP BY doc_id, (i - 1) // 3),
        |hot AS (
        |  SELECT segment FROM seg
        |  GROUP BY segment HAVING count(DISTINCT doc_id) >= 3),
        |kept AS (
        |  SELECT s.* FROM seg s LEFT JOIN hot h ON s.segment = h.segment
        |  WHERE h.segment IS NULL),
        |rebuilt AS (
        |  SELECT doc_id,
        |         string_agg(segment, ' ' ORDER BY seg_id) AS clean_text,
        |         count(*) AS n_kept
        |  FROM kept GROUP BY doc_id),
        |totals AS (
        |  SELECT doc_id,
        |         (len(string_split(text, ' ')) - 1) // 3 + 1 AS n_segments
        |  FROM documents)
        |SELECT t.doc_id, COALESCE(r.clean_text, '') AS clean_text,
        |       t.n_segments, t.n_segments - COALESCE(r.n_kept, 0) AS n_dropped
        |FROM totals t LEFT JOIN rebuilt r ON t.doc_id = r.doc_id""".stripMargin) { (s, dir) =>
      TextStats.segmentDedup(Tables.documents(s, dir),
        "doc_id", "text", segWords = 3, minDocs = 3)
    },
    // Containment near-dup, ALL-PAIRS BASELINE LENS — the ASYMMETRIC
    // overlap measure |A∩B| / min(|A|,|B|): a short document embedded
    // verbatim in a longer one scores ~1.0 here while symmetric Jaccard
    // (the X2 tier) scores it low. This form is demoted to the
    // verification baseline (capped at the 300-doc certification
    // prefix, codegen'd sorted-intersect kernel inside the join
    // condition); the PRODUCTION path is dedup_containment_prefix —
    // ext.Dedup.containmentPairs, the prefix-filter equi-join that
    // reproduces the full-corpus answer cartesian-free with recall 1.0.
    Cert("dedup_containment",
      s"""WITH tok AS (
         |  SELECT DISTINCT doc_id, unnest($TokensSql) AS tok
         |  FROM documents WHERE doc_id < 300),
         |sz AS (SELECT doc_id, count(*) AS n FROM tok GROUP BY 1),
         |inter AS (
         |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS i
         |  FROM tok a JOIN tok b ON a.tok = b.tok AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2)
         |SELECT id_a, id_b,
         |       round(i / least(sa.n, sb.n), 6) AS containment
         |FROM inter
         |JOIN sz sa ON sa.doc_id = id_a
         |JOIN sz sb ON sb.doc_id = id_b
         |WHERE i / least(sa.n, sb.n) >= 0.9""".stripMargin) { (s, dir) =>
      val sets = Tables.documents(s, dir).filter(col("doc_id") < 300)
        .select(col("doc_id").as("id"),
          graft.ext.Text.hashedShingleSet(col("text"), 1).as("sh"))
        .withColumn("sz", size(col("sh"))).filter(col("sz") > 0)
      val par = s.sparkContext.defaultParallelism
      val a = sets.repartition(par)
        .select(col("id").as("id_a"), col("sh").as("s_a"), col("sz").as("sz_a"))
      val b = sets
        .select(col("id").as("id_b"), col("sh").as("s_b"), col("sz").as("sz_b"))
      def inter = call_function(
        "graft_sorted_intersect_count", col("s_a"), col("s_b")).cast("double")
      a.join(b,
          col("id_a") < col("id_b") &&
          inter >= lit(0.9) * least(col("sz_a"), col("sz_b")))
        .select(col("id_a"), col("id_b"),
          round(inter / least(col("sz_a"), col("sz_b")), 6).as("containment"))
    },
    // Triangle counting on the near-dup similarity graph — the graph
    // statistic beyond connected components (triangle density separates
    // a genuine duplicate CLUSTER from a chain of borderline pairs).
    // Degree-ordered wedge counting (see ext.Graph.triangleStats). The
    // edge list comes from the EXACT inverted-index Jaccard join
    // (it replaced the all-pairs cartesian baseline — same exact
    // pairs, computed from postings equi-joins, so the production path
    // is cartesian-free end to end; the only remaining crosses are the
    // 1-row summary combines). The LSH-fed twin is graph_triangles_lsh.
    Cert("graph_triangles",
      s"""WITH tok AS (
         |  SELECT DISTINCT doc_id, unnest($TokensSql) AS tok
         |  FROM documents WHERE doc_id < 300),
         |sz AS (SELECT doc_id, count(*) AS n FROM tok GROUP BY 1),
         |inter AS (
         |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS i
         |  FROM tok a JOIN tok b ON a.tok = b.tok AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2),
         |pairs AS (
         |  SELECT id_a, id_b FROM inter
         |  JOIN sz sa ON sa.doc_id = id_a
         |  JOIN sz sb ON sb.doc_id = id_b
         |  WHERE i / (sa.n + sb.n - i) >= 0.8),
         |deg AS (
         |  SELECT id, count(*) AS d FROM (
         |    SELECT id_a AS id FROM pairs
         |    UNION ALL SELECT id_b FROM pairs)
         |  GROUP BY 1)
         |SELECT (SELECT count(*) FROM pairs) AS n_edges,
         |       (SELECT CAST(sum(d * (d - 1) / 2) AS BIGINT) FROM deg)
         |         AS n_wedges,
         |       (SELECT count(*)
         |        FROM pairs e1
         |        JOIN pairs e2 ON e2.id_a = e1.id_a AND e2.id_b > e1.id_b
         |        JOIN pairs e3 ON e3.id_a = e1.id_b AND e3.id_b = e2.id_b)
         |         AS n_triangles""".stripMargin) { (s, dir) =>
      val docs = Tables.documents(s, dir).filter(col("doc_id") < 300)
      graft.ext.Graph.triangleStats(
        graft.ext.Dedup.jaccardPairsPostings(docs, "doc_id", "text", 0.8))
    },
    // The scalable containment join: prefix-filter candidates (rarest-
    // first global shingle order, floor((1-t)·|A|)+1-length prefixes,
    // smaller-set-prefix × full-inverted-index equi join) + exact
    // sorted-intersect verification. Runs over the WHOLE documents
    // table — no certification cap — because the plan is equi-joins end
    // to end; the oracle recomputes the full-corpus answer exactly, so
    // this certifies recall 1.0 against the all-pairs lens rather than
    // sampling it.
    // Note: the hot-token lane lever (Dedup.containmentPairs
    // hotTokenDf/hotTokenSalts) stays OFF here by measurement. The
    // fixture vocabulary is ~31 tokens, so every posting is heavy —
    // but the 18 distinct prefix tokens spread across 32 shuffle
    // partitions are already task-balanced (no straggler to fix), and
    // the lane fan-out's ×salts replication of the array-carrying
    // prefix rows costs ~2 s at sf0.1 for nothing (cache-cleared: 9.5 s
    // plain vs 11.4 s laned, identical 7,036,349 pairs). The lever
    // earns its keep only when pair generation CONCENTRATES — the
    // duplicate-heavy clique shape, where the density stress measures
    // 31.9 → 8.8 s — which is exactly why it ships default-off.
    Cert("dedup_containment_prefix",
      s"""WITH tok AS (
         |  SELECT DISTINCT doc_id, unnest($TokensSql) AS tok
         |  FROM documents),
         |sz AS (SELECT doc_id, count(*) AS n FROM tok GROUP BY 1),
         |inter AS (
         |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS i
         |  FROM tok a JOIN tok b ON a.tok = b.tok AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2)
         |SELECT id_a, id_b,
         |       round(i / least(sa.n, sb.n), 6) AS containment
         |FROM inter
         |JOIN sz sa ON sa.doc_id = id_a
         |JOIN sz sb ON sb.doc_id = id_b
         |WHERE i / least(sa.n, sb.n) >= 0.9""".stripMargin) { (s, dir) =>
      Dedup.containmentPairs(Tables.documents(s, dir), "doc_id", "text", 0.9)
    },
    // Triangle counting fed by the FORCED MinHash-LSH pair generator
    // (brute-force cutover disabled — the banding path runs at any
    // scale), recall-pinned against the exact inverted-index graph.
    // LSH pairs are exact-verified, so lsh-edges ⊆ exact-edges and the
    // recall verdicts are one-sided: edges ≥ 0.9 of exact, triangles
    // ≥ 0.7 (edge recall compounds ~cubically on triangles). The
    // oracle-checked columns are the exact graph's counts — identical
    // to graph_triangles — plus the literal-true verdicts.
    Cert("graph_triangles_lsh",
      s"""WITH tok AS (
         |  SELECT DISTINCT doc_id, unnest($TokensSql) AS tok
         |  FROM documents WHERE doc_id < 300),
         |sz AS (SELECT doc_id, count(*) AS n FROM tok GROUP BY 1),
         |inter AS (
         |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS i
         |  FROM tok a JOIN tok b ON a.tok = b.tok AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2),
         |pairs AS (
         |  SELECT id_a, id_b FROM inter
         |  JOIN sz sa ON sa.doc_id = id_a
         |  JOIN sz sb ON sb.doc_id = id_b
         |  WHERE i / (sa.n + sb.n - i) >= 0.8),
         |deg AS (
         |  SELECT id, count(*) AS d FROM (
         |    SELECT id_a AS id FROM pairs
         |    UNION ALL SELECT id_b FROM pairs)
         |  GROUP BY 1)
         |SELECT (SELECT count(*) FROM pairs) AS n_edges,
         |       (SELECT CAST(sum(d * (d - 1) / 2) AS BIGINT) FROM deg)
         |         AS n_wedges,
         |       (SELECT count(*)
         |        FROM pairs e1
         |        JOIN pairs e2 ON e2.id_a = e1.id_a AND e2.id_b > e1.id_b
         |        JOIN pairs e3 ON e3.id_a = e1.id_b AND e3.id_b = e2.id_b)
         |         AS n_triangles,
         |       true AS edges_recall_ok, true AS triangles_recall_ok""".stripMargin) { (s, dir) =>
      val docs = Tables.documents(s, dir).filter(col("doc_id") < 300)
      // Don't compute things twice: the exact postings-join pair set is computed ONCE and feeds BOTH sides.
      // The LSH tier's verified pairs are, by definition, the banding
      // candidates that pass the exact Jaccard threshold — i.e. exactly
      // candidates ∩ exact-pairs (the exact set IS all qualifying
      // pairs, and both paths evaluate the identical i/(|A|+|B|-i) ≥ t
      // double-arithmetic predicate) — so verification is a semi-join
      // against the already-computed exact edge list instead of a
      // second tokenize + shingle-set join pipeline. The banding path
      // itself (signatures, bucket sizing, skew cap, first-collision
      // pair emission) still runs at full fidelity; output is
      // row-identical (oracle-verified) while the duplicated exact
      // verification work is gone.
      val exactPairs = graft.core.CacheScope.cached(
        Dedup.jaccardPairsPostings(docs, "doc_id", "text", 0.8)
          .select("id_a", "id_b"))
      val exact = Graph.triangleStats(exactPairs)
      val cand = Dedup.minhashCandidatePairs(docs, "doc_id", "text",
        Dedup.MinHashParams(bruteForceMaxDocs = 0L))
      val lshPairs = cand.join(exactPairs, Seq("id_a", "id_b"), "left_semi")
      val lsh = Graph.triangleStats(lshPairs)
        .select(col("n_edges").as("e_lsh"), col("n_triangles").as("t_lsh"))
      exact.join(lsh)
        .select(col("n_edges"), col("n_wedges"), col("n_triangles"),
          (col("e_lsh").cast("double") >= lit(0.9) * col("n_edges"))
            .as("edges_recall_ok"),
          (col("t_lsh").cast("double") >= lit(0.7) * col("n_triangles"))
            .as("triangles_recall_ok"))
    },
    // Scalable embedding-space dedup (SemDeDup shape) — closes the one
    // remaining O(N²) production path: dedup_embedding_cosine's exact
    // all-pairs join becomes IVF cell-mate candidates → exact cosine
    // threshold → connected components → keep-best. Certified on the
    // planted-cluster view against the exact all-pairs baseline: the
    // oracle recomputes the exact pair count and id-signature from the
    // parquet; recall (thresholded ANN pairs vs exact pairs), candidate
    // sublinearity (scored candidates < half of all pairs), and
    // cluster-assignment agreement with the exact pipeline's components
    // are engine-measured booleans the oracle expects literally true.
    Cert("dedup_embedding_ann",
      // exact all-pairs baseline over the SAME planted-cluster view the
      // engine deduplicates (count + id signature recomputed from the
      // parquet); the ANN pipeline's recall/sublinearity/agreement
      // verdicts must come back literally true
      s"""$PlantedViewSql
         |SELECT count(*) AS n_exact,
         |       CAST(sum(a.vec_id * 100000 + b.vec_id) AS BIGINT) AS pair_sig,
         |       true AS recall_ok, true AS sublinear_ok,
         |       true AS cluster_agree_ok
         |FROM v a JOIN v b ON a.vec_id < b.vec_id
         |WHERE list_cosine_similarity(a.emb, b.emb) >= 0.6""".stripMargin) { (s, dir) =>
      val thr = 0.6
      // cached once: the view feeds the ANN pipeline, the exact all-pairs
      // baseline (both join sides), the exact CC, and the corpus count —
      // uncached each branch re-executes the embeddings⨝centers view
      // (same measurement as similarity_ivf_incremental)
      val e = graft.core.CacheScope.cached(SimSearch.clusteredView(
        Tables.embeddings(s, dir), "vec_id", "embedding",
        nClusters = IvfNClusters,
        mix = IvfMix.toDouble))
      val (assign, candidates) = Dedup.embeddingNearDups(
        e, "vec_id", "embedding", thr,
        nCentroids = 64, nProbe = 2, lloydIters = 0)
      val annPairs = candidates.filter(col("cos") >= thr)
        .select(col("id_a"), col("id_b"), lit(1L).as("hit"))
      val exact = SimSearch.cosinePairs(e, "vec_id", "embedding", thr)
      val exactAssign = Dedup.connectedComponents(
        e.select(col("vec_id").as("id")), exact)
      val agreement = assign.withColumnRenamed("cluster_rep", "ann_rep")
        .join(exactAssign, Seq("id"))
        .agg((sum(when(col("ann_rep") === col("cluster_rep"), 1L).otherwise(0L))
          >= count(lit(1)) * 0.9).as("cluster_agree_ok"))
      val nCand = candidates.agg(count(lit(1)).as("n_cand"))
      val nCorpus = e.agg(count(lit(1)).cast("double").as("n_corpus"))
      exact.join(annPairs, Seq("id_a", "id_b"), "left_outer")
        .agg(count(lit(1)).as("n_exact"),
          sum(col("id_a") * 100000L + col("id_b")).as("pair_sig"),
          (sum(coalesce(col("hit"), lit(0L))).cast("double")
            >= count(lit(1)) * 0.9).as("recall_ok"))
        .crossJoin(nCand).crossJoin(nCorpus).crossJoin(agreement)
        .select(col("n_exact"), col("pair_sig"), col("recall_ok"),
          (col("n_cand") < col("n_corpus") * (col("n_corpus") - 1) / 2 * 0.5)
            .as("sublinear_ok"),
          col("cluster_agree_ok"))
    },
    // X1/X2 capstone: near-dup pairs collapsed to clusters (connected
    // components by min-label propagation); every doc → its component's
    // minimum doc id.
    Cert("dedup_clusters",
      // Transitive closure over exact-Jaccard pairs (the LSH recall
      // argument is the same as dedup_minhash's); min over the reachable
      // set = the component representative.
      clustersOracleSql("")) { (s, dir) =>
      Dedup.nearDupClusters(Tables.documents(s, dir), "doc_id", "text", 0.9,
        Dedup.MinHashParams(numBands = 16, rowsPerBand = 2))
    },
    // Scale-path CERTIFICATION twin of dedup_clusters: maxDriverEdges = 0
    // forces the distributed min-label-propagation loop (the 100 TB code
    // path) instead of the size-gated driver union-find, and the result
    // must match the SAME transitive-closure oracle (on the deterministic
    // doc_id < 1000 prefix — the loop's per-round fixed costs, not the
    // edge count, dominate at fixture scale, so the subset bounds bench
    // cost without weakening the certification). Together with
    // dedup_minhash_lsh this closes the gap where the two
    // actual scale components were only spec-verified.
    Cert("dedup_clusters_loop",
      // identical oracle restricted to the certification prefix: the
      // forced distributed loop must converge to the same component minima
      // as the driver union-find cutover
      clustersOracleSql("WHERE doc_id < 1000")) { (s, dir) =>
      Dedup.nearDupClusters(
        Tables.documents(s, dir).filter(col("doc_id") < 1000),
        "doc_id", "text", 0.9,
        Dedup.MinHashParams(numBands = 16, rowsPerBand = 2), maxDriverEdges = 0L)
    },
    // X1, incremental-ingest form: the fingerprint store persisted to
    // parquet (even doc_ids = the accepted corpus), then the odd-id
    // "new batch" anti-joined against the store READ BACK FROM DISK —
    // the pattern that replaces re-deduplicating 100 TB on every ingest
    // cycle. The write happens eagerly at construction (the sink is the
    // thing under test — same contract as reports_roundtrip).
    Cert.scratch("dedup_incremental",
      // NOT EXISTS, not NOT IN: the Spark side is a null-safe left-anti
      // join, and NOT IN's three-valued logic would empty the result if
      // the fixture ever gained a NULL text — NOT EXISTS with <=> -style
      // equality keeps the two sides semantically identical under NULLs
      UnseenOddDocsOracle) { (s, dir, out) =>
      val docs = Tables.documents(s, dir)
      val store = out + "/fp_store"
      Dedup.writeFingerprintStore(docs.filter(col("doc_id") % 2 === 0), "text", store)
      Dedup.dedupAgainstStore(s, docs.filter(col("doc_id") % 2 === 1), "text", store)
        .select(col("doc_id"))
    },
    // X2 pipeline end: the production "keep one per near-dup cluster"
    // step — cluster assignments rolled up to (representative, size).
    // This is what a curation pipeline actually consumes from the dedup
    // stage; certifies composition of clustering + aggregation under the
    // same transitive-closure oracle as dedup_clusters. Corpus: the
    // deterministic doc_id < 1000 prefix — the full-corpus clustering
    // cost is already certified (and billed) by dedup_clusters; this
    // query certifies the rollup composition, so it rides the cheaper
    // certification prefix (2.0 s → ~0.5 s of bench).
    Cert("dedup_representatives",
      // same transitive closure as dedup_clusters (certification prefix),
      // rolled up per component
      s"""SELECT cluster_rep AS rep_doc_id, count(*) AS n_members FROM (
         |${clustersOracleSql("WHERE doc_id < 1000")}
         |) clusters GROUP BY 1""".stripMargin) { (s, dir) =>
      Dedup.nearDupClusters(
          Tables.documents(s, dir).filter(col("doc_id") < 1000),
          "doc_id", "text", 0.9,
          Dedup.MinHashParams(numBands = 16, rowsPerBand = 2))
        .groupBy(col("cluster_rep").as("rep_doc_id"))
        .agg(count(lit(1)).as("n_members"))
    },
    // Typo-tolerant key join: edit-distance-≤1 customer-name pairs via
    // deletion-neighborhood blocking — candidates from an equi-join on
    // single-deletion variants, exactness from levenshtein INSIDE the
    // join condition, so the oracle is the exact all-pairs SQL on the
    // same deterministic c_custkey < 500 subset.
    Cert("fuzzy_join_names",
      """SELECT a.c_custkey AS id_a, b.c_custkey AS id_b,
        |       CAST(levenshtein(a.c_name, b.c_name) AS BIGINT) AS dist
        |FROM customer a JOIN customer b ON a.c_custkey < b.c_custkey
        |WHERE a.c_custkey < 500 AND b.c_custkey < 500
        |  AND levenshtein(a.c_name, b.c_name) <= 1""".stripMargin) { (s, dir) =>
      FuzzyJoin.editDistance1Pairs(
        Tables.customer(s, dir).filter(col("c_custkey") < 500),
        "c_custkey", "c_name")
    },
    // X2 observability: the skew-cap drop audit under
    // the oracle, on a deterministic hot-key band index — band 0 keys
    // docs by lang (5 hot buckets, always over the 64 cap), band 1 by
    // doc_id % 101 (cold at small sf, hot at sf0.1 — the oracle
    // recomputes per scale). The REAL MinHash/SimHash band hashes are
    // engine-internal (xxhash64 over signature slices, not expressible
    // in the oracle engine), so this query certifies the audit
    // machinery's sizing/threshold/zero-fill semantics on bands whose
    // bucket sizes ARE SQL-derivable; LshJoinSpec asserts the same audit
    // over the real minhash band index against an independent recount,
    // and that capped candidatePairs output ⊆ uncapped exactly when the
    // audit reports drops.
    Cert("dedup_lsh_drop_audit",
      // bucket sizes per band are plain group counts; xxhash64 collisions
      // across ≤101 distinct keys are absent (verified by the match itself
      // — a collision would merge two buckets and shift the counts)
      """WITH b0 AS (SELECT count(*) AS n FROM documents GROUP BY lang),
        |b1 AS (SELECT count(*) AS n FROM documents GROUP BY doc_id % 101)
        |SELECT CAST(0 AS INT) AS band,
        |       CAST(coalesce(sum(CASE WHEN n > 64 THEN 1 END), 0) AS BIGINT)
        |         AS dropped_buckets,
        |       CAST(coalesce(sum(CASE WHEN n > 64 THEN n END), 0) AS BIGINT)
        |         AS dropped_rows
        |FROM b0
        |UNION ALL
        |SELECT CAST(1 AS INT),
        |       CAST(coalesce(sum(CASE WHEN n > 64 THEN 1 END), 0) AS BIGINT),
        |       CAST(coalesce(sum(CASE WHEN n > 64 THEN n END), 0) AS BIGINT)
        |FROM b1""".stripMargin) { (s, dir) =>
      val bands = Tables.documents(s, dir)
        .select(col("doc_id").as("id"),
          array(xxhash64(col("lang")), xxhash64(col("doc_id") % 101)).as("keys"))
        .select(col("id"), col("keys"),
          posexplode(col("keys")).as(Seq("band", "band_hash")))
      LshJoin.dropAudit(bands, numBands = 2, maxBucketSize = 64)
    },
    // X1 ingest LIFECYCLE: two successive ingest cycles
    // against a dated-partition fingerprint store — the shape the
    // single-shot dedup_incremental stops short of. Cycle 1 accepts the
    // %3=0 third and appends its fingerprints as ingest_date=2024-01-01;
    // cycle 2 dedups the %3=1 third against the store, appends ITS
    // survivors as =2024-01-02 (append, never overwrite — a 100 TB
    // store's prior partitions are immutable); the certified output is
    // cycle 3: the %3=2 third deduped against both appended partitions,
    // whose correctness depends transitively on cycle 2 having deduped
    // and appended correctly. The store tree is wiped at construction
    // (stale partitions from a prior harness run would double-append).
    Cert.scratch("dedup_incremental_cycle",
      // NOT EXISTS on both hops (the A3 advice pattern — NOT IN's
      // three-valued logic diverges from the anti-join under NULLs);
      // cycle-2 survivors keep within-batch duplicate texts (the store
      // dedups fingerprints, not the batch), matching dedupAgainstStore
      """WITH b1 AS (
        |  SELECT DISTINCT md5(text) AS fp FROM documents WHERE doc_id % 3 = 0),
        |s2 AS (
        |  SELECT md5(text) AS fp FROM documents d
        |  WHERE doc_id % 3 = 1
        |    AND NOT EXISTS (SELECT 1 FROM b1 WHERE b1.fp = md5(d.text))),
        |store AS (SELECT fp FROM b1 UNION SELECT fp FROM s2)
        |SELECT doc_id FROM documents d
        |WHERE doc_id % 3 = 2
        |  AND NOT EXISTS (SELECT 1 FROM store WHERE store.fp = md5(d.text))"""
        .stripMargin) { (s, dir, out) =>
      val docs = Tables.documents(s, dir)
      val store = out + "/fp_store"
      Scratch.rmTree(store)
      Dedup.appendFingerprints(docs.filter(col("doc_id") % 3 === 0),
        "text", store, "2024-01-01")
      val surv2 = Dedup.dedupAgainstStore(
        s, docs.filter(col("doc_id") % 3 === 1), "text", store)
      Dedup.appendFingerprints(surv2, "text", store, "2024-01-02")
      Dedup.dedupAgainstStore(s, docs.filter(col("doc_id") % 3 === 2), "text", store)
        .select(col("doc_id"))
    },
    // The fuzzy join's drop audit under the oracle, on its REAL blocks:
    // deletion-neighborhood variants are plain string arithmetic, so —
    // unlike the MinHash band hashes — the oracle engine can recompute
    // every block size exactly. Customer names share variants along
    // their digit suffixes (names differing in one digit collide on the
    // variant that deletes it), so cap 8 deterministically drops the
    // hot blocks at every scale; together with dedup_lsh_drop_audit
    // this certifies both cap-audit implementations end-to-end.
    Cert("fuzzy_join_drop_audit",
      // list_distinct mirrors deletionVariants' array_union (a name's
      // repeated characters — the zero runs — produce duplicate variants
      // that count once per name)
      """WITH v AS (
        |  SELECT c_custkey,
        |         unnest(list_distinct(list_prepend(c_name,
        |           list_transform(range(1, len(c_name) + 1),
        |             i -> substr(c_name, 1, i - 1) || substr(c_name, i + 1)))))
        |           AS v
        |  FROM customer WHERE c_custkey < 500),
        |b AS (SELECT v, count(*) AS n FROM v GROUP BY 1)
        |SELECT CAST(coalesce(sum(CASE WHEN n > 8 THEN 1 END), 0) AS BIGINT)
        |         AS dropped_blocks,
        |       CAST(coalesce(sum(CASE WHEN n > 8 THEN n END), 0) AS BIGINT)
        |         AS dropped_rows
        |FROM b""".stripMargin) { (s, dir) =>
      FuzzyJoin.dropAudit(
        Tables.customer(s, dir).filter(col("c_custkey") < 500),
        "c_custkey", "c_name", maxBlock = 8)
    }
  )
}
