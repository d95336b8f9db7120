package graft
package certs

import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.ext.{Curation, Multimodal, Text, TextStats}

import CertSupport._

/** Text and multimodal certifications: token statistics, language id,
  * quality and repetition signals, curation (contamination screens,
  * splits, stratified samples, token-budget packing, chunking, PII
  * scrubbing) and binary media decoding.
  */
object TextCerts {

  /** 8-gram distinct shingle set in DuckDB (short docs collapse to one
    * whole-text shingle, matching [[Text.shingles]]).
    */
  private val ShinglesSql =
    s"""CASE WHEN len($TokensSql) >= 8
       |     THEN list_distinct(list_transform(range(len($TokensSql) - 7),
       |          i -> array_to_string(($TokensSql)[i + 1:i + 8], ' ')))
       |     ELSE [array_to_string($TokensSql, ' ')] END""".stripMargin

  /** Shared packing oracle, parameterized by budget and bucket width —
    * the bucket id is the first 15 md5 hex chars as an integer mod
    * nBuckets, matching [[graft.ext.Curation.packTokenBudget]].
    */
  private def packOracleSql(budget: Int, nBuckets: Int): String =
    s"""WITH t AS (
       |  SELECT doc_id, CAST(coalesce(len($TokensSql), 0) AS BIGINT) AS n_tok,
       |         md5(CAST(doc_id AS VARCHAR)) AS h
       |  FROM documents),
       |p AS (
       |  SELECT CAST(('0x' || substr(h, 1, 15)) AS BIGINT) % $nBuckets AS bucket,
       |         n_tok,
       |         sum(n_tok) OVER (
       |           PARTITION BY CAST(('0x' || substr(h, 1, 15)) AS BIGINT) % $nBuckets
       |           ORDER BY h, doc_id ROWS UNBOUNDED PRECEDING) AS cum
       |  FROM t)
       |SELECT bucket, CAST(floor(greatest(cum - 1, 0) / $budget) AS BIGINT) AS shard,
       |       count(*) AS n_docs, CAST(sum(n_tok) AS BIGINT) AS n_tokens
       |FROM p GROUP BY 1, 2""".stripMargin

  val all: Seq[Cert] = Seq(
    // X4: per-language corpus stats.
    Cert("text_stats_by_lang",
      s"""WITH t AS (SELECT lang, n_chars, $TokensSql AS toks FROM documents),
         |q AS (SELECT lang, n_chars, len(toks) AS n,
         |  CASE WHEN len(toks) > 0
         |       THEN list_sum(list_transform(toks, x -> len(x))) / len(toks)
         |       ELSE 0.0 END AS avg_len,
         |  CASE WHEN len(toks) > 0
         |       THEN len(list_filter(toks, x -> list_contains(
         |            ['the','of','and','to','in','is','a','on','for','with'], x))) / len(toks)
         |       ELSE 0.0 END AS sw_ratio
         |  FROM t)
         |SELECT lang, count(*) AS n_docs,
         |       round(avg(n_chars), 2) AS avg_chars,
         |       round(avg(n), 2) AS avg_tokens,
         |       round(avg(floor((
         |         0.4 * least(1.0, n / 100.0) +
         |         0.3 * sw_ratio +
         |         0.3 * least(1.0, avg_len / 8.0)) * 1e6 + 0.5) / 1e6), 6) AS avg_quality
         |FROM q GROUP BY 1""".stripMargin) { (s, dir) =>
      TextStats.statsByLang(Tables.documents(s, dir), "lang", "text")
    },
    // X4: token totals per source (whitespace tokenizer).
    Cert("text_token_counts",
      s"""SELECT source, count(*) AS n_docs,
         |       CAST(sum(len($TokensSql)) AS BIGINT) AS n_tokens
         |FROM documents GROUP BY 1""".stripMargin) { (s, dir) =>
      Tables.documents(s, dir).groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(TextStats.tokenCount(col("text"))).as("n_tokens"))
    },
    // X4: heuristic language ID (stopword-hit argmax).
    Cert("text_langid",
      s"""WITH t AS (SELECT doc_id, $TokensSql AS toks FROM documents),
         |s AS (SELECT doc_id,
         |  len(list_filter(toks, x -> list_contains(['the','of','and','to','in','is','a','on','for','with'], x))) AS s_en,
         |  len(list_filter(toks, x -> list_contains(['der','die','das','und','ist','nicht','ein','zu'], x))) AS s_de,
         |  len(list_filter(toks, x -> list_contains(['el','la','que','los','una','por','como'], x))) AS s_es,
         |  len(list_filter(toks, x -> list_contains(['le','les','des','est','dans','pour','une'], x))) AS s_fr
         |  FROM t)
         |SELECT doc_id, CASE
         |  WHEN s_en > 0 AND s_en >= greatest(s_en, s_de, s_es, s_fr) THEN 'en'
         |  WHEN s_de > 0 AND s_de >= greatest(s_en, s_de, s_es, s_fr) THEN 'de'
         |  WHEN s_es > 0 AND s_es >= greatest(s_en, s_de, s_es, s_fr) THEN 'es'
         |  WHEN s_fr > 0 AND s_fr >= greatest(s_en, s_de, s_es, s_fr) THEN 'fr'
         |  ELSE 'und' END AS lang_pred
         |FROM s""".stripMargin) { (s, dir) =>
      Tables.documents(s, dir)
        .select(col("doc_id"), TextStats.langId(col("text")).as("lang_pred"))
    },
    // X4: content fingerprint (md5 exact-dup key).
    Cert("text_fingerprint", "SELECT doc_id, md5(text) AS fp FROM documents") { (s, dir) =>
      Tables.documents(s, dir)
        .select(col("doc_id"), TextStats.fingerprint(col("text")).as("fp"))
    },
    // X5, the SECOND real-format codec (the RIFF/WAVE one is
    // little-endian with no checksums — PNG adds the two failure axes
    // it cannot exercise: BIG-endian integers and per-chunk CRC-32
    // verification). withSyntheticPng builds valid signature+IHDR+IEND
    // bytes in codegen'd expressions, using the BUILT-IN crc32 for the
    // checksum — so corruption is injected on BOTH axes: every 97th
    // doc truncated mid-header (structural), every 89th doc's IHDR CRC
    // arithmetically broken (checksum — fields untouched, only the
    // CRC-32 verification can catch it). The parser walks real chunks:
    // signature, IHDR-first rule, BE lengths, java.util.zip CRC per
    // chunk, IEND termination. Every field and both invalidity rules
    // recomputed from the text by the oracle.
    Cert("multimodal_png_decode",
      """WITH d AS (
        |  SELECT doc_id, (doc_id % 97 != 0 AND doc_id % 89 != 0) AS ok,
        |         CAST(length(text) AS BIGINT) AS n,
        |         CAST(ascii(text[1]) AS BIGINT) AS first_c
        |  FROM documents)
        |SELECT doc_id, ok AS valid,
        |       CASE WHEN ok THEN n ELSE 0 END AS width,
        |       CASE WHEN ok THEN first_c ELSE 0 END AS height,
        |       CAST(CASE WHEN ok THEN 8 ELSE 0 END AS INT) AS bit_depth,
        |       CAST(CASE WHEN ok THEN 2 ELSE 0 END AS INT) AS color_type,
        |       CAST(0 AS INT) AS interlace
        |FROM d""".stripMargin) { (s, dir) =>
      val png = Tables.documents(s, dir).select(col("doc_id"),
        Multimodal.pngBytes(col("text"),
          when(col("doc_id") % 89 === 0, lit(1L)).otherwise(lit(0L))).as("media"))
        .withColumn("media",
          when(col("doc_id") % 97 === 0, substring(col("media"), 1, 15))
            .otherwise(col("media")))
      Multimodal.decodePng(s, png).toDF()
    },
    // PII redaction — the curation scrub stage for personal data:
    // emails and phone-shaped tokens replaced with typed placeholders,
    // per-document hit counts kept for the audit trail. The corpus has
    // no real PII, so a deterministic injection (doc_id-derived email +
    // phone appended to every third document) gives both engines the
    // same input; patterns stay in the RE2 ∩ Java subset so the
    // IDENTICAL regex runs in the oracle. Pure per-row expressions —
    // map-side only, zero shuffle at any scale.
    Cert("pii_scrub",
      """WITH inj AS (
        |  SELECT doc_id,
        |         CASE WHEN doc_id % 3 = 0
        |              THEN text || ' contact user' || CAST(doc_id AS STRING)
        |                   || '@example.com or call 555-'
        |                   || lpad(CAST((doc_id * 7) % 10000 AS STRING), 4, '0')
        |              ELSE text END AS txt
        |  FROM documents)
        |SELECT doc_id,
        |       CAST(len(regexp_extract_all(txt,
        |         '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT)
        |         AS n_emails,
        |       CAST(len(regexp_extract_all(txt, '\b555-[0-9]{4}\b')) AS BIGINT)
        |         AS n_phones,
        |       md5(regexp_replace(regexp_replace(txt,
        |         '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |         '\b555-[0-9]{4}\b', '<PHONE>', 'g')) AS scrubbed_md5
        |FROM inj""".stripMargin) { (s, dir) =>
      val emailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
      val phoneRe = "\\b555-[0-9]{4}\\b"
      val injected = when(col("doc_id") % 3 === 0,
        concat(col("text"), lit(" contact user"),
          col("doc_id").cast("string"), lit("@example.com or call 555-"),
          lpad(((col("doc_id") * 7) % 10000).cast("string"), 4, "0")))
        .otherwise(col("text"))
      val scrubbed = regexp_replace(
        regexp_replace(injected, emailRe, "<EMAIL>"), phoneRe, "<PHONE>")
      Tables.documents(s, dir).select(
        col("doc_id"),
        size(regexp_extract_all(injected, lit(emailRe), lit(0)))
          .cast("long").as("n_emails"),
        size(regexp_extract_all(injected, lit(phoneRe), lit(0)))
          .cast("long").as("n_phones"),
        md5(scrubbed).as("scrubbed_md5"))
    },
    // Weighted (probability-proportional-to-size) sampling — longer
    // documents are proportionally more likely to be kept, the standard
    // token-budget-aware corpus downsample. Inclusion test is PURE
    // INTEGER arithmetic on an md5-derived uniform (u32 < n_chars/2000
    // of the hash space), so it is exactly reproducible in any engine,
    // needs no seed coordination, and runs entirely map-side: at 100 TB
    // every executor decides its own rows, no shuffle, no driver.
    Cert("sample_weighted",
      """SELECT doc_id, lang, n_chars FROM documents
        |WHERE ('0x' || substr(md5(CAST(doc_id AS STRING)), 1, 8))::UBIGINT
        |        * 2000 < n_chars * 4294967296""".stripMargin) { (s, dir) =>
      val u32 = conv(substring(md5(col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("long")
      Tables.documents(s, dir)
        .filter(u32 * lit(2000L) < col("n_chars") * lit(4294967296L))
        .select("doc_id", "lang", "n_chars")
    },
    // Context-window chunking — the stage between curation and
    // tokenization: each document split into fixed-size overlapping
    // windows (200 chars, stride 180 → 20-char overlap), k-th chunk =
    // substr(1 + k·stride, size), k while k·stride < len. One
    // posexplode over a computed sequence — rows fan out map-side,
    // no shuffle; at 100 TB chunking is embarrassingly parallel and
    // this shape keeps it that way. The greatest(len,1) guard matters:
    // Spark's sequence(0, -1) helpfully counts BACKWARDS, so an empty
    // doc would fabricate chunks instead of yielding none.
    Cert("chunk_documents",
      """SELECT doc_id, k AS chunk_id,
        |       CAST(length(substr(text, 1 + k * 180, 200)) AS BIGINT)
        |         AS chunk_len,
        |       md5(substr(text, 1 + k * 180, 200)) AS chunk_md5
        |FROM documents,
        |     unnest(generate_series(0,
        |       (greatest(length(text), 1) - 1) // 180)) AS t(k)""".stripMargin) { (s, dir) =>
      val (size, stride) = (200, 180)
      Tables.documents(s, dir)
        .select(col("doc_id"), col("text"),
          posexplode(sequence(lit(0),
            ((greatest(length(col("text")), lit(1)) - 1) / stride)
              .cast("int"))))
        .select(col("doc_id"), col("pos").as("chunk_id"),
          expr(s"substring(text, 1 + pos * $stride, $size)").as("chunk"))
        .select(col("doc_id"), col("chunk_id"),
          length(col("chunk")).cast("long").as("chunk_len"),
          md5(col("chunk")).as("chunk_md5"))
    },
    // Training-mixture rebalancing — downsample every language to the
    // smallest language's volume (uniform mixture), the knob between
    // "corpus as crawled" and "corpus as trained on". Per-language
    // inclusion rate min_n/n_lang applied as PURE INTEGER hash
    // arithmetic (include iff u32·n_lang < min_n·2³²) — deterministic,
    // engine-independent, and map-side after one broadcast of the
    // 5-row per-language rate table; the min rides an unpartitioned
    // window over the POST-AGGREGATE relation (language-bounded rows —
    // the safe case). 64-bit products hold to ~2³¹ rows per language;
    // beyond that the same rates ship as per-language u32 thresholds.
    Cert("mixture_rebalance",
      """WITH c AS (
        |  SELECT lang, count(*) AS n_before,
        |         min(count(*)) OVER () AS mn
        |  FROM documents GROUP BY lang),
        |s AS (
        |  SELECT d.lang, count(*) AS n_sampled
        |  FROM documents d JOIN c ON d.lang = c.lang
        |  WHERE ('0x' || substr(md5(CAST(d.doc_id AS STRING)), 1, 8))::UBIGINT
        |          * c.n_before < c.mn * 4294967296
        |  GROUP BY 1)
        |SELECT c.lang, c.n_before,
        |       coalesce(s.n_sampled, 0) AS n_sampled
        |FROM c LEFT JOIN s ON c.lang = s.lang""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val docs = Tables.documents(s, dir)
      val counts = docs.groupBy("lang")
        .agg(count(lit(1)).as("n_before"))
        .withColumn("mn", min("n_before").over(
          Window.partitionBy().orderBy().rowsBetween(
            Window.unboundedPreceding, Window.unboundedFollowing)))
      val u32 = conv(substring(md5(col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("long")
      val sampled = docs.join(broadcast(counts), "lang")
        .filter(u32 * col("n_before") < col("mn") * lit(4294967296L))
        .groupBy("lang").agg(count(lit(1)).as("n_sampled"))
      counts.select("lang", "n_before")
        .join(sampled, Seq("lang"), "left")
        .select(col("lang"), col("n_before"),
          coalesce(col("n_sampled"), lit(0L)).as("n_sampled"))
    },
    // Lateral explode: token stream → global top-20 terms (ties broken
    // by token so the cut is deterministic).
    Cert("explode_top_words",
      s"""SELECT tok, count(*) AS n
         |FROM (SELECT unnest($TokensSql) AS tok FROM documents)
         |GROUP BY 1 ORDER BY n DESC, tok LIMIT 20""".stripMargin) { (s, dir) =>
      Tables.documents(s, dir)
        .select(explode(Text.tokens(col("text"))).as("tok"))
        .groupBy(col("tok")).agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("tok"))
        .limit(20)
    },
    // X4: per-document quality score (corpus-curation pre-filter).
    Cert("text_quality",
      s"""WITH t AS (SELECT doc_id, $TokensSql AS toks FROM documents),
         |q AS (SELECT doc_id, len(toks) AS n,
         |  CASE WHEN len(toks) > 0
         |       THEN list_sum(list_transform(toks, x -> len(x))) / len(toks)
         |       ELSE 0.0 END AS avg_len,
         |  CASE WHEN len(toks) > 0
         |       THEN len(list_filter(toks, x -> list_contains(
         |            ['the','of','and','to','in','is','a','on','for','with'], x))) / len(toks)
         |       ELSE 0.0 END AS sw_ratio
         |  FROM t)
         |SELECT doc_id, floor((
         |  0.4 * least(1.0, n / 100.0) +
         |  0.3 * sw_ratio +
         |  0.3 * least(1.0, avg_len / 8.0)) * 1e6 + 0.5) / 1e6 AS quality
         |FROM q""".stripMargin) { (s, dir) =>
      Tables.documents(s, dir)
        .select(col("doc_id"), TextStats.qualityScore(col("text")).as("quality"))
    },
    // X4: BPE-style subword pre-tokenization (letter runs / digit runs /
    // punctuation runs — the GPT-2 pattern family minus lookahead, so
    // RE2 engines tokenize identically) vs whitespace tokens, per doc.
    Cert("text_bpe_tokens",
      s"""SELECT doc_id, CAST(len($TokensSql) AS BIGINT) AS n_ws,
         |       CAST(len(regexp_extract_all(text,
         |         '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]+', 0)) AS BIGINT) AS n_bpe
         |FROM documents""".stripMargin) { (s, dir) =>
      Tables.documents(s, dir).select(col("doc_id"),
        TextStats.tokenCount(col("text")).cast("long").as("n_ws"),
        size(regexp_extract_all(col("text"),
          lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]+"), lit(0)))
          .cast("long").as("n_bpe"))
    },
    // Benchmark-contamination screen: does a training doc share any
    // 8-gram with the held-out benchmark corpus (here: source 'src0')?
    // The benchmark's distinct shingle set is tiny relative to the
    // corpus — it broadcasts, so the contamination join is map-side and
    // the only shuffle is the per-doc/per-source rollup. At 100 TB the
    // training side streams through unchanged; work scales with corpus
    // shingles, not pairs.
    Cert("contamination_ngram",
      s"""WITH sh AS (
         |  SELECT doc_id, source, $ShinglesSql AS shs FROM documents),
         |b AS (SELECT DISTINCT unnest(shs) AS s FROM sh WHERE source = 'src0'),
         |c AS (SELECT doc_id, source, unnest(shs) AS s FROM sh
         |      WHERE source <> 'src0'),
         |h AS (SELECT doc_id, source, count(*) AS n_shared
         |      FROM c JOIN b USING (s) GROUP BY 1, 2)
         |SELECT source, count(*) AS n_contaminated_docs,
         |       CAST(sum(n_shared) AS BIGINT) AS n_shared_shingles
         |FROM h GROUP BY 1""".stripMargin) { (s, dir) =>
      val docs = Tables.documents(s, dir)
      Curation.contaminationScreen(
          docs.filter(col("source") =!= "src0"),
          docs.filter(col("source") === "src0"),
          "doc_id", "text", n = 8, carry = Seq("source"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_contaminated_docs"),
          sum(col("n_shared")).as("n_shared_shingles"))
    },
    // Per-source top-3 terms by TF-IDF. The idf is the log-free N/df
    // variant: tf, N and df are exact integers, so tf*(N/df) rounds
    // identically in every engine (ln() last-ulp differences across
    // libm implementations could flip a rank at a tie boundary).
    Cert("tfidf_top_terms",
      s"""WITH tfg AS (SELECT source, term, count(*) AS tf FROM (
         |  SELECT source, unnest($TokensSql) AS term FROM documents)
         |  GROUP BY 1, 2),
         |dfreq AS (SELECT term, count(*) AS df FROM (
         |  SELECT DISTINCT doc_id, unnest($TokensSql) AS term FROM documents)
         |  GROUP BY 1),
         |n AS (SELECT count(*) AS n_docs FROM documents),
         |scored AS (
         |  SELECT tfg.source AS source, tfg.term AS term,
         |         floor(tf * (n_docs / df) * 1e6 + 0.5) / 1e6 AS tfidf
         |  FROM tfg, dfreq d, n WHERE tfg.term = d.term)
         |SELECT source, term, tfidf, rnk FROM (
         |  SELECT source, term, tfidf,
         |         row_number() OVER (PARTITION BY source
         |           ORDER BY tfidf DESC, term) AS rnk
         |  FROM scored)
         |WHERE rnk <= 3""".stripMargin) { (s, dir) =>
      Curation.tfidfTopTerms(Tables.documents(s, dir),
        "doc_id", "text", "source", k = 3)
    },
    // Deterministic 80/20 train/test split: first md5 hex byte of the
    // doc id < 0xcc goes to train. Map-only decision — no shuffle until
    // the summary rollup; at 100 TB the split column is free.
    Cert("train_test_split",
      s"""SELECT CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'cc'
         |            THEN 'train' ELSE 'test' END AS split,
         |       count(*) AS n_docs,
         |       CAST(sum(len($TokensSql)) AS BIGINT) AS n_tokens
         |FROM documents GROUP BY 1""".stripMargin) { (s, dir) =>
      Curation.trainTestSplit(Tables.documents(s, dir), "doc_id", 0.8)
        .groupBy(col("split"))
        .agg(count(lit(1)).as("n_docs"),
          sum(size(graft.ext.Text.tokens(col("text"))).cast("long")).as("n_tokens"))
    },
    // Stratified sample: 20 docs per language, chosen by md5 order —
    // reproducible without a seed, and the per-stratum top-k plans as
    // WindowGroupLimit (k rows per group survive each partition, not
    // the whole stratum).
    Cert("sample_stratified",
      // CAST AS STRING (not VARCHAR): valid in BOTH DuckDB and Spark SQL,
      // so this oracle text doubles as the SqlSurfaceSpec differential
      """SELECT doc_id, lang, rn FROM (
        |  SELECT doc_id, lang,
        |         row_number() OVER (PARTITION BY lang
        |           ORDER BY md5(CAST(doc_id AS STRING)), doc_id) AS rn
        |  FROM documents)
        |WHERE rn <= 20""".stripMargin) { (s, dir) =>
      Curation.stratifiedSample(Tables.documents(s, dir), "doc_id", "lang", 20)
    },
    // Context-window packing: docs are dealt into nBuckets buckets by
    // md5 of the id, ordered deterministically within each bucket, and
    // cut into 2048-token shards by cumulative token count. The window
    // is PARTITIONED by bucket — nBuckets-way parallel, no global sort —
    // which is the scale shape (a single global packing order would
    // serialize 100 TB through one window). The default 256 runs here;
    // token_budget_pack_wide pins a second width (4096) so the fan-out
    // parameter is oracle-certified, not just plumbed.
    Cert("token_budget_pack", packOracleSql(2048, 256)) { (s, dir) =>
      Curation.packTokenBudget(Tables.documents(s, dir), "doc_id", "text", 2048L)
        .groupBy(col("bucket"), col("shard"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("n_tokens"))
    },
    // Same packing at a 16x wider fan-out (4096 buckets): certifies that
    // the bucket-width parameter changes the deal without changing the
    // packing semantics (every bucket still cuts at the same budget).
    Cert("token_budget_pack_wide", packOracleSql(2048, 4096)) { (s, dir) =>
      Curation.packTokenBudget(Tables.documents(s, dir), "doc_id", "text",
          2048L, nBuckets = 4096)
        .groupBy(col("bucket"), col("shard"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("n_tokens"))
    },
    // X4: duplicate-trigram repetition signal (the Gopher-style
    // boilerplate/spam pre-filter). Integer outputs — the repetition
    // RATIO is numerator/denominator at the caller, so nothing here can
    // drift across engines. Map-only.
    Cert("text_repetition",
      // trigram list mirrors Text.shingles exactly: >=3 tokens -> sliding
      // windows; otherwise ONE whole-sequence shingle (so short docs still
      // fingerprint and an empty doc counts (1, 0))
      s"""WITH t AS (SELECT doc_id, $TokensSql AS toks FROM documents),
         |g AS (SELECT doc_id,
         |        CASE WHEN len(toks) >= 3
         |             THEN list_transform(range(len(toks) - 2),
         |                    i -> toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3])
         |             ELSE [array_to_string(toks, ' ')] END AS tris
         |      FROM t)
         |SELECT doc_id, CAST(len(tris) AS BIGINT) AS n_trigrams,
         |       CAST(len(tris) - len(list_distinct(tris)) AS BIGINT) AS n_repeated
         |FROM g""".stripMargin) { (s, dir) =>
      val (tot, rep) = TextStats.ngramRepetition(col("text"), 3)
      Tables.documents(s, dir)
        .select(col("doc_id"), tot.as("n_trigrams"), rep.as("n_repeated"))
    },
    // X4: pattern scrub (PII/boilerplate-removal shape) — matches
    // removed plus residual length, both codegen'd built-ins. The
    // pattern stays in the RE2-compatible subset so the identical regex
    // runs in the oracle engine.
    Cert("text_scrub",
      """SELECT doc_id,
        |       CAST(len(regexp_extract_all(text, '\bthe\b')) AS BIGINT) AS n_hits,
        |       CAST(length(regexp_replace(text, '\bthe\b', '', 'g')) AS BIGINT)
        |         AS len_scrubbed
        |FROM documents""".stripMargin) { (s, dir) =>
      val (scrubbed, hits) = TextStats.scrub(col("text"), "\\bthe\\b")
      Tables.documents(s, dir).select(col("doc_id"),
        hits.cast("long").as("n_hits"),
        length(scrubbed).cast("long").as("len_scrubbed"))
    },
    // X5: frame sampling as binary slicing — every 4th FrameBytes-sized
    // chunk sliced from the media column with substring (NO decode: the
    // cheap sampling pass a video pipeline runs before paying for the
    // codec). Each sampled frame is content-certified by md5: the
    // synthetic media is the UTF-8 bytes of ASCII text, so the oracle
    // reproduces every frame as a text substring. Map-only.
    Cert("multimodal_frame_sample",
      // frame geometry AND content must both match: generate_series is
      // inclusive like Spark's sequence; ASCII text makes byte slices ==
      // character slices, so md5 agrees engine-to-engine
      """WITH d AS (SELECT doc_id, text, length(text) AS len FROM documents),
        |f AS (SELECT doc_id, len, text,
        |             unnest(generate_series(0,
        |               greatest(CAST(ceil(len / 256.0) AS BIGINT) - 1, 0), 4))
        |               AS frame_idx
        |      FROM d)
        |SELECT doc_id, frame_idx,
        |       CAST(length(substring(text, CAST(frame_idx * 256 + 1 AS INT), 256))
        |         AS BIGINT) AS frame_len,
        |       md5(substring(text, CAST(frame_idx * 256 + 1 AS INT), 256)) AS frame_md5
        |FROM f""".stripMargin) { (s, dir) =>
      val media = Multimodal.withSyntheticMedia(Tables.documents(s, dir))
      Multimodal.sampleFrames(media, stride = 4)
        .select(col("doc_id"), posexplode(col("frames")).as(Seq("pos", "frame")))
        .select(col("doc_id"),
          (col("pos") * 4).cast("long").as("frame_idx"),
          octet_length(col("frame")).cast("long").as("frame_len"),
          md5(col("frame")).as("frame_md5"))
    },
    // X4: vocabulary diversity per language — Simpson concentration in
    // exact integers: total tokens T and the sum of squared per-token
    // counts S (diversity 1 − S/T² is the caller's division; a log-based
    // entropy would drift across engines, the same reason tfidf uses a
    // log-free idf). Two partial-aggregated shuffles, nothing per-pair.
    Cert("text_diversity",
      s"""WITH tok AS (SELECT lang, unnest($TokensSql) AS tok FROM documents),
         |cnt AS (SELECT lang, tok, count(*) AS c FROM tok GROUP BY 1, 2)
         |SELECT lang, CAST(sum(c) AS BIGINT) AS total_tokens,
         |       CAST(sum(c * c) AS BIGINT) AS sum_sq_counts,
         |       count(*) AS n_distinct_tokens
         |FROM cnt GROUP BY 1""".stripMargin) { (s, dir) =>
      TextStats.tokenDiversity(Tables.documents(s, dir), "lang", "text")
    },
    // X7 → trainer handoff: the pack manifest. Per-
    // bucket shard ids collide across buckets; the manifest assigns a
    // globally unique dense id per (bucket, shard) plus the doc/token
    // totals a data loader reads, is EXPORTED to parquet next to the
    // shards, and the query certifies the read-back file — write →
    // read → oracle, same contract as reports_roundtrip.
    Cert.scratch("token_budget_manifest",
      // the per-(bucket, shard) totals are token_budget_pack's oracle; the
      // global id is a dense row_number over the manifest rows
      s"""SELECT CAST(row_number() OVER (ORDER BY bucket, shard) - 1 AS BIGINT)
         |         AS global_shard,
         |       bucket, shard, n_docs, n_tokens
         |FROM (${packOracleSql(2048, 256)})""".stripMargin) { (s, dir, out) =>
      val packed = Curation.packTokenBudget(
        Tables.documents(s, dir), "doc_id", "text", 2048L)
      Curation.shardManifest(packed)
        .write.mode("overwrite").parquet(s"$out/manifest")
      s.read.parquet(s"$out/manifest")
    },
    // X5: binary media column plumbing — byte length + frame count stay
    // in whole-stage codegen.
    Cert("multimodal_stats",
      """SELECT doc_id,
        |       CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
        |            ELSE 'video' END AS kind,
        |       octet_length(encode(text)) AS media_len,
        |       CAST(ceil(octet_length(encode(text)) / 256.0) AS INT) AS n_frames
        |FROM documents""".stripMargin) { (s, dir) =>
      Multimodal.mediaStats(Multimodal.withSyntheticMedia(Tables.documents(s, dir)))
    },
    // X5: REAL-format decode — synthesize valid
    // RIFF/WAVE PCM bytes from the text deterministically (codegen'd hex
    // assembly), deliberately truncate every 97th file to 11 bytes (the
    // malformed-input path a real pipeline hits first), then parse the
    // actual chunk structure in mapPartitions: magic tags, LE sizes,
    // word-aligned chunk walk, truncation checks, signed 16-bit sample
    // extraction. Header fields and integer sample aggregates are
    // bit-exact functions of the ASCII text, so the oracle recomputes
    // them all in SQL — including which files are invalid.
    Cert("multimodal_decode",
      // The WAV synthesis maps char i to sample ascii·256 − 32768, so the
      // parse output is pure integer arithmetic on the ASCII codes:
      // sum = 256·Σascii − 32768·n, min/max from the char extremes; the
      // header fields are the synthesis constants; every 97th doc is
      // truncated → the invalid row with zeroed fields.
      """WITH d AS (
        |  SELECT doc_id, (doc_id % 97 != 0) AS ok,
        |         CAST(length(text) AS BIGINT) AS n,
        |         list_transform(range(length(text)),
        |                        i -> ascii(text[CAST(i + 1 AS INT)])) AS a
        |  FROM documents)
        |SELECT doc_id, ok AS valid,
        |       CAST(CASE WHEN ok THEN 1 ELSE 0 END AS INT) AS audio_format,
        |       CAST(CASE WHEN ok THEN 1 ELSE 0 END AS INT) AS n_channels,
        |       CAST(CASE WHEN ok THEN 8000 ELSE 0 END AS BIGINT) AS sample_rate,
        |       CAST(CASE WHEN ok THEN 16 ELSE 0 END AS INT) AS bits_per_sample,
        |       CASE WHEN ok THEN n ELSE 0 END AS n_samples,
        |       CAST(CASE WHEN ok AND n > 0
        |                 THEN 256 * list_sum(a) - 32768 * n
        |                 ELSE 0 END AS BIGINT) AS sum_sample,
        |       CAST(CASE WHEN ok AND n > 0
        |                 THEN 256 * list_min(a) - 32768
        |                 ELSE 0 END AS BIGINT) AS min_sample,
        |       CAST(CASE WHEN ok AND n > 0
        |                 THEN 256 * list_max(a) - 32768
        |                 ELSE 0 END AS BIGINT) AS max_sample
        |FROM d""".stripMargin) { (s, dir) =>
      val wav = Multimodal.withSyntheticWav(Tables.documents(s, dir))
        .withColumn("media",
          when(col("doc_id") % 97 === 0, substring(col("media"), 1, 11))
            .otherwise(col("media")))
      Multimodal.decodeWav(s, wav).toDF()
    }
  )
}
