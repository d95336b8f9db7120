package graft.sources

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._

import graft.SparkFunSuite
import graft.sources.v2.{DelimScan, DelimScanMetrics}

/** Certifies the graft-delim DataSource V2 connector (sources/v2/DelimV2):
  * the exactly-once split contract at adversarial split sizes, schema
  * inference, typed parsing with awk-compatible null semantics, column
  * pruning, exact filter absorption (no residual Filter node), partial
  * limit pushdown, and a differential check against Spark's CSV reader
  * over a real table extract.
  */
class DelimV2Spec extends SparkFunSuite {
  import spark.implicits._

  private def write(path: String, content: String): Unit =
    Files.write(Paths.get(path), content.getBytes(StandardCharsets.UTF_8))

  private def delimScan(df: DataFrame): DelimScan = {
    val scans = df.queryExecution.executedPlan.collect {
      case b: BatchScanExec => b.scan
    }
    assert(scans.nonEmpty, s"no BatchScan in:\n${df.queryExecution.executedPlan}")
    scans.head.asInstanceOf[DelimScan]
  }

  test("split contract: every line lands in exactly one split, any split size") {
    val dir = tempDir("delimv2-split")
    // adversarial shapes: varied lengths, an empty line, a \r\n line,
    // and NO trailing newline on the last line
    val lines = Seq("a|1", "bb|22", "", "ccc|333\r", "dddd|4444", "e|5")
    write(s"$dir/f.txt", lines.mkString("\n")) // last line unterminated
    val expected = Seq(
      ("a", 1L), ("bb", 22L), (null, null), ("ccc", 333L), ("dddd", 4444L), ("e", 5L))
      .map { case (a, b) => (Option(a).getOrElse(""), Option(b).map(_.toString).orNull) }
    for (splitBytes <- Seq(1, 2, 3, 5, 7, 11, 16, 64, 100000)) {
      val got = spark.read.format("graft-delim")
        .schema("k STRING, v BIGINT")
        .option("splitBytes", splitBytes.toString)
        .load(s"$dir/f.txt")
        .collect()
        .map(r => (Option(r.getString(0)).getOrElse(""),
          if (r.isNullAt(1)) null else r.getLong(1).toString))
        .toSeq
      // the empty line parses to k="" (awk $1 of an empty record), v null
      assert(got.sorted === expected.map { case (k, v) =>
        (if (k == null) "" else k, v)
      }.sorted, s"splitBytes=$splitBytes")
    }
  }

  test("schema inference: c1..cN strings from the first line") {
    val dir = tempDir("delimv2-infer")
    write(s"$dir/f.txt", "x|y|z\nlonger|row|here|extra\n")
    val df = spark.read.format("graft-delim").load(s"$dir/f.txt")
    assert(df.schema.fieldNames.toSeq === Seq("c1", "c2", "c3"))
    assert(df.schema.fields.forall(_.dataType.typeName == "string"))
    // the 4-field row's extra field is simply not materialized
    assert(df.count() === 2)
  }

  test("typed parse: missing trailing fields null, malformed null, empty-string field kept") {
    val dir = tempDir("delimv2-typed")
    write(s"$dir/f.txt",
      "1|a||2024-03-01|1.5\n" +   // empty STRING field -> ""
      "2|b|x|2024-03-02|oops\n" + // malformed double -> null
      "3|c\n" +                   // missing trailing fields -> null
      "4||weird-date|not-a-date|2\n")
    val df = spark.read.format("graft-delim")
      .schema("id BIGINT, s STRING, t STRING, d DATE, v DOUBLE")
      .load(s"$dir/f.txt")
      .orderBy("id")
    val rows = df.collect()
    assert(rows.length === 4)
    assert(rows(0).getString(2) === "")   // empty field is "", not null
    assert(rows(0).getDate(3).toString === "2024-03-01")
    assert(rows(1).isNullAt(4))           // malformed double
    assert(rows(2).isNullAt(2) && rows(2).isNullAt(3) && rows(2).isNullAt(4))
    assert(rows(3).getString(1) === "" && rows(3).isNullAt(3))
  }

  test("column pruning reaches the scan; filter column stays parse-only") {
    val dir = tempDir("delimv2-prune")
    write(s"$dir/f.txt", (1 to 100).map(i => s"$i|tag$i|${i % 7}|junk$i").mkString("\n"))
    val df = spark.read.format("graft-delim")
      .schema("id BIGINT, tag STRING, bucket BIGINT, junk STRING")
      .load(s"$dir/f.txt")
      .filter($"bucket" === 3)
      .select($"tag")
    val scan = delimScan(df)
    // output pruned to tag alone — bucket is parsed for the filter but
    // never leaves the scan; id/junk are never parsed at all
    assert(scan.readSchema().fieldNames.toSeq === Seq("tag"))
    assert(scan.pushedFilters.map(_.references.mkString).toSet === Set("bucket"))
    assert(df.collect().map(_.getString(0)).sorted ===
      (1 to 100).filter(_ % 7 == 3).map(i => s"tag$i").sorted)
  }

  test("exact filter absorption: no residual Filter node, every pushable shape") {
    val dir = tempDir("delimv2-filters")
    write(s"$dir/f.txt",
      // trailing "3" row: name MISSING (null) — "3|" would be name="" instead
      (1 to 50).map(i => s"$i|n$i|${2000 + i}-01-15|${i * 1.5}").mkString("\n") + "\n3\n")
    val df0 = spark.read.format("graft-delim")
      .schema("id BIGINT, name STRING, d DATE, v DOUBLE")
      .load(s"$dir/f.txt")
    def check(df: DataFrame, expectIds: Seq[Long], pushed: Int): Unit = {
      val plan = df.queryExecution.executedPlan
      assert(delimScan(df).pushedFilters.length === pushed,
        s"pushed=${delimScan(df).pushedFilters.mkString(",")}")
      assert(!plan.toString.contains("Filter ("),
        s"residual filter survived full absorption:\n$plan")
      assert(df.select("id").as[Long].collect().sorted === expectIds.sorted)
    }
    // range + equality (IsNotNull comes along from Catalyst)
    check(df0.filter($"id" > 45 && $"id" <= 48), Seq(46L, 47L, 48L), 3)
    check(df0.filter($"name" === "n7"), Seq(7L), 2)
    check(df0.filter($"d" < to_date(lit("2010-01-01"))), (1L to 9L), 2)
    check(df0.filter($"v" >= 73.5), Seq(49L, 50L), 2)
    check(df0.filter($"id".isin(3, 44)), Seq(3L, 3L, 44L), 1)
    check(df0.filter($"name".startsWith("n1") && $"id" < 13),
      Seq(1L, 10L, 11L, 12L), 4) // IsNotNull(name), IsNotNull(id) ride along
    check(df0.filter($"name".isNull), Seq(3L), 1)
  }

  test("partial limit pushdown: readers stop early, limit still exact") {
    val dir = tempDir("delimv2-limit")
    write(s"$dir/f.txt", (1 to 10000).map(i => s"$i|x").mkString("\n"))
    val df = spark.read.format("graft-delim")
      .schema("id BIGINT, s STRING")
      .option("splitBytes", "8192")
      .load(s"$dir/f.txt")
      .limit(7)
    assert(delimScan(df).description().contains("PushedLimit: 7"))
    assert(df.count() === 7)
  }

  test("differential vs Spark CSV over a real orders extract, multi-split") {
    val dir = tempDir("delimv2-diff")
    // fixture o_orderdate is timestamp[us] — cast to DATE before writing
    // (otherwise the text carries " 00:00:00", which strict ISO parse
    // rejects while Spark CSV leniently truncates)
    val orders = spark.read.parquet(s"$sf001/orders.parquet")
      .select($"o_orderkey", $"o_orderstatus", $"o_totalprice",
        $"o_orderdate".cast("date").as("o_orderdate"))
    orders.select(concat_ws("|", $"o_orderkey", $"o_orderstatus",
        $"o_totalprice", $"o_orderdate").as("line"))
      .coalesce(1).write.mode("overwrite").text(s"$dir/orders")
    val schema = "o_orderkey BIGINT, o_orderstatus STRING, o_totalprice DOUBLE, o_orderdate DATE"
    val mine = spark.read.format("graft-delim").schema(schema)
      .option("splitBytes", "4096").load(s"$dir/orders")
    val csv = spark.read.schema(schema).option("delimiter", "|").csv(s"$dir/orders")
    assert(mine.count() === orders.count())
    assert(mine.exceptAll(csv).isEmpty && csv.exceptAll(mine).isEmpty)
  }

  test("runtime (DPP-style) filtering: the broadcast build side prunes the scan") {
    val dir = tempDir("delimv2-dpp")
    // fact: 20k delimited rows over 100 keys; dim: parquet, filtered to
    // 15 keys (grp = 3) — selective enough that PartitionPruning plugs
    // the build-side key set into the V2 scan as a runtime In filter
    write(s"$dir/fact.txt",
      (1 to 20000).map(i => s"${i % 100}|payload$i").mkString("\n"))
    spark.range(100).select($"id".as("k"), ($"id" % 7).as("grp"))
      .write.mode("overwrite").parquet(s"$dir/dim")
    val fact = spark.read.format("graft-delim")
      .schema("k BIGINT, payload STRING").load(s"$dir/fact.txt")
    val dim = spark.read.parquet(s"$dir/dim").filter($"grp" === 3)
    val joined = fact.join(dim, "k")
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.contains("dynamicpruningexpression"),
      s"no runtime filter planned on the delim scan:\n$plan")
    val rows = joined.collect()
    // 14 surviving keys (3, 10, …, 94) × 200 fact rows each
    assert(rows.length === 14 * 200)
    val applied = DelimScanMetrics.one(joined).scan.runtimeAppliedFilters
    assert(applied.exists {
      case org.apache.spark.sql.sources.In("k", vs) => vs.length === 14
      case _ => false
    }, s"scan did not receive the In runtime filter: ${applied.mkString(",")}")
  }

  private def writePartitioned(dir: String): Unit = {
    // two-level k=v tree with typed partition values and a null
    // partition: region (string) × pday (date)
    def put(region: String, pday: String, lines: Seq[String]): Unit = {
      val d = Paths.get(dir, s"region=$region", s"pday=$pday")
      Files.createDirectories(d)
      write(s"$d/part-0.txt", lines.mkString("\n") + "\n")
    }
    put("east", "2024-01-01", Seq("1|10.5", "2|20.0"))
    put("east", "2024-01-02", Seq("3|30.0"))
    put("west", "2024-01-01", Seq("4|40.0", "5|50.5"))
    put("__HIVE_DEFAULT_PARTITION__", "2024-01-02", Seq("6|60.0"))
  }

  private val partSchema = "k BIGINT, v DOUBLE, region STRING, pday DATE"

  test("k=v partition discovery: typed directory values as schema columns") {
    val dir = tempDir("delimv2-part")
    writePartitioned(dir)
    val df = spark.read.format("graft-delim").schema(partSchema).load(dir)
    val rows = df.collect().map(r => (r.getLong(0),
      if (r.isNullAt(2)) null else r.getString(2),
      r.getDate(3).toString)).sortBy(_._1)
    assert(rows.toSeq === Seq(
      (1L, "east", "2024-01-01"), (2L, "east", "2024-01-01"),
      (3L, "east", "2024-01-02"), (4L, "west", "2024-01-01"),
      (5L, "west", "2024-01-01"), (6L, null, "2024-01-02")))
    // inference appends the discovered keys after c1..cN
    val inferred = spark.read.format("graft-delim").load(dir).schema
    assert(inferred.fieldNames.toSeq === Seq("c1", "c2", "region", "pday"))
  }

  test("static partition pruning drops whole files at planning") {
    val dir = tempDir("delimv2-part-static")
    writePartitioned(dir)
    val df = spark.read.format("graft-delim").schema(partSchema).load(dir)
      .filter($"region" === "east" && $"pday" === java.sql.Date.valueOf("2024-01-01"))
      .select($"k", $"v")
    assert(df.collect().map(r => (r.getLong(0), r.getDouble(1))).sorted.toSeq ===
      Seq((1L, 10.5), (2L, 20.0)))
    val DelimScanMetrics(_, discovered, kept, splits, _, _) =
      DelimScanMetrics.one(df)
    assert(discovered === 4 && kept === 1 && splits === 1,
      s"expected 4 files -> 1 kept, got ($discovered, $kept, $splits)")
  }

  test("IsNull on a partition column matches __HIVE_DEFAULT_PARTITION__ only") {
    val dir = tempDir("delimv2-part-null")
    writePartitioned(dir)
    val df = spark.read.format("graft-delim").schema(partSchema).load(dir)
      .filter($"region".isNull).select($"k")
    assert(df.collect().map(_.getLong(0)).toSeq === Seq(6L))
    val kept = DelimScanMetrics.one(df).filesKept
    assert(kept === 1)
  }

  test("runtime (DPP) filtering prunes at FILE level on a partition column") {
    val dir = tempDir("delimv2-part-dpp")
    // fact: region-partitioned delim; dim: parquet (region, grp) with a
    // selective non-foldable predicate — the RuntimeFilterSpec recipe
    def put(region: String, n: Int): Unit = {
      val d = Paths.get(dir, "fact", s"region=$region")
      Files.createDirectories(d)
      write(s"$d/part-0.txt", (1 to 200).map(i => s"${i + n}|${i * 1.0}").mkString("\n"))
    }
    Seq("east" -> 0, "west" -> 1000, "north" -> 2000, "south" -> 3000)
      .foreach { case (r, n) => put(r, n) }
    Seq(("east", "hot"), ("west", "cold"), ("north", "cold"), ("south", "cold"))
      .toDF("region", "grp").write.mode("overwrite").parquet(s"$dir/dim")
    val fact = spark.read.format("graft-delim")
      .schema("k BIGINT, v DOUBLE, region STRING").load(s"$dir/fact")
    val dim = spark.read.parquet(s"$dir/dim").filter($"grp" === "hot")
    val joined = fact.join(broadcast(dim), "region")
      .agg(count(lit(1)).as("n"), sum($"v").as("sv"))
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.contains("dynamicpruningexpression"),
      s"no runtime filter planned on the delim scan:\n$plan")
    val Array(row) = joined.collect()
    assert(row.getLong(0) === 200)
    val DelimScanMetrics(_, discovered, kept, splits, _, _) =
      DelimScanMetrics.one(joined)
    assert(discovered === 4 && kept === 1 && splits === 1,
      s"runtime In must prune non-matching partition FILES: " +
        s"($discovered, $kept, $splits)")
  }

  test("partition-scoped COUNT(*) still pushes down (file-level filters only)") {
    val dir = tempDir("delimv2-part-count")
    writePartitioned(dir)
    val df = spark.read.format("graft-delim").schema(partSchema).load(dir)
      .filter($"region" === "east")
      .groupBy().agg(count(lit(1)).as("n"))
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PushedAggregation: [count(*)]"),
      s"partition-only filter must not block the count pushdown:\n$plan")
    assert(df.as[Long].head() === 3L)
    // a DATA-column filter still declines the pushdown
    val df2 = spark.read.format("graft-delim").schema(partSchema).load(dir)
      .filter($"v" > 15.0).groupBy().agg(count(lit(1)).as("n"))
    assert(!df2.queryExecution.executedPlan.toString.contains("PushedAggregation"))
    assert(df2.as[Long].head() === 5L)
  }

  test("pushed TopN: per-split k-heap, exact vs full sort, any split size") {
    val dir = tempDir("delimv2-topn")
    // values with nulls + duplicates; unique tie-break key k keeps the
    // expected answer deterministic
    val lines = (1 to 5000).map { i =>
      val v = if (i % 97 == 0) "" else ((i * 7919) % 1000).toString
      s"$i|$v"
    }
    write(s"$dir/f.txt", lines.mkString("\n"))
    for (splitBytes <- Seq(64, 4096, 1000000)) {
      def delim = spark.read.format("graft-delim")
        .schema("k BIGINT, v BIGINT")
        .option("splitBytes", splitBytes.toString)
        .load(s"$dir/f.txt")
      def csv = spark.read.option("delimiter", "|")
        .schema("k BIGINT, v BIGINT").csv(s"$dir/f.txt")
      for ((ord, label) <- Seq(
        (Seq($"v".desc_nulls_last, $"k".asc), "desc-nulls-last"),
        (Seq($"v".asc_nulls_first, $"k".desc), "asc-nulls-first"))) {
        val mine = delim.orderBy(ord: _*).limit(25)
        val plan = mine.queryExecution.executedPlan.toString
        assert(plan.contains("PushedTopN"),
          s"TopN not pushed ($label, splitBytes=$splitBytes):\n$plan")
        val got = mine.collect().map(r => (r.getLong(0),
          if (r.isNullAt(1)) null else r.getLong(1)))
        val want = csv.orderBy(ord: _*).limit(25).collect()
          .map(r => (r.getLong(0), if (r.isNullAt(1)) null else r.getLong(1)))
        assert(got.toSeq === want.toSeq, s"$label splitBytes=$splitBytes")
      }
    }
  }

  test("pushed TopN composes with pushed filters and pruning") {
    val dir = tempDir("delimv2-topn-filter")
    write(s"$dir/f.txt",
      (1 to 2000).map(i => s"$i|${i % 5}|x$i").mkString("\n"))
    val df = spark.read.format("graft-delim")
      .schema("k BIGINT, grp BIGINT, s STRING")
      .option("splitBytes", "512")
      .load(s"$dir/f.txt")
      .filter($"grp" === 3)
      .orderBy($"k".desc).limit(7)
      .select($"k")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PushedTopN") && plan.contains("EqualTo(grp,3)"), plan)
    assert(df.as[Long].collect().toSeq ===
      (1 to 2000).filter(_ % 5 == 3).sorted.reverse.take(7).map(_.toLong))
  }

  test("pushed In with a 10k-key set: hash-set probe, exact result") {
    // the DPP path hands the whole broadcast build-side key set to the
    // scan as one In — this pins that a large key set stays correct
    // (the flat-cost-vs-set-size measurement lives in tools/Stress)
    val dir = tempDir("delimv2-bigin")
    write(s"$dir/f.txt", (1 to 50000).map(i => s"$i|v$i").mkString("\n"))
    val keys = (0 until 10000).map(i => (i * 7 + 3).toLong) // 3, 10, ..., 69996
    val df = spark.read.format("graft-delim")
      .schema("k BIGINT, v STRING")
      .load(s"$dir/f.txt")
      .filter($"k".isin(keys: _*))
    val scan = delimScan(df)
    assert(scan.pushedFilters.exists {
      case org.apache.spark.sql.sources.In("k", vs) => vs.length == 10000
      case _ => false
    }, s"10k-key In not absorbed: ${scan.pushedFilters.take(3).mkString(",")}")
    // keys <= 50000 that are ≡ 3 (mod 7): ceil((50000 - 3 + 1) / 7) with k >= 1
    val expected = keys.count(k => k >= 1 && k <= 50000)
    assert(df.count() === expected)
  }

  test("pushed double filters match Spark on -0.0 and NaN") {
    val dir = tempDir("delimv2-negzero")
    write(s"$dir/f.txt", Seq("a|-0.0", "b|0.0", "c|1.5", "d|NaN", "e|-1.0").mkString("\n"))
    def delim = spark.read.format("graft-delim")
      .schema("k STRING, x DOUBLE").load(s"$dir/f.txt")
    // unpushed truth: same rows through Spark's own CSV reader + Filter
    def csv = spark.read.option("delimiter", "|")
      .schema("k STRING, x DOUBLE").csv(s"$dir/f.txt")
    for (pred <- Seq[org.apache.spark.sql.Column => org.apache.spark.sql.Column](
      c => c === 0.0, c => c < 0.0, c => c <= 0.0, c => c > -1.0,
      c => c === Double.NaN, c => c.isin(0.0, 1.5))) {
      val mine = delim.filter(pred($"x")).select("k").as[String].collect().sorted
      val ref = csv.filter(pred($"x")).select("k").as[String].collect().sorted
      assert(mine.toSeq === ref.toSeq, s"pushed-filter divergence for $pred")
    }
  }

  test("write path: typed roundtrip through the sink, no staging residue") {
    val dir = tempDir("delimv2-write")
    val src = spark.range(1, 501).select(
      $"id", concat(lit("name"), $"id").as("s"),
      ($"id" * 1.5).as("v"),
      date_add(to_date(lit("2024-01-01")), ($"id" % 365).cast("int")).as("d"))
    src.write.format("graft-delim").mode("overwrite").save(s"$dir/out")
    val back = spark.read.format("graft-delim")
      .schema("id BIGINT, s STRING, v DOUBLE, d DATE").load(s"$dir/out")
    assert(back.count() === 500)
    assert(back.exceptAll(src).isEmpty && src.exceptAll(back).isEmpty)
    // job commit must leave no staging residue and no hidden strays
    // (.crc checksum sidecars are Hadoop LocalFileSystem behavior, not
    // leakage — ChecksumFileSystem moves/deletes them with their file)
    val residue = Files.list(Paths.get(s"$dir/out")).toArray.map(_.toString)
      .filter { p =>
        val n = p.split("/").last
        p.contains("_staging") || (n.startsWith(".") && !n.endsWith(".crc"))
      }
    assert(residue.isEmpty, s"staging residue: ${residue.mkString(",")}")
  }

  test("write path: overwrite replaces the previous generation atomically-at-commit") {
    val dir = tempDir("delimv2-ow")
    spark.range(0, 100).select($"id", lit("gen1").as("g"))
      .write.format("graft-delim").mode("overwrite").save(s"$dir/out")
    spark.range(0, 7).select($"id", lit("gen2").as("g"))
      .write.format("graft-delim").mode("overwrite").save(s"$dir/out")
    val back = spark.read.format("graft-delim")
      .schema("id BIGINT, g STRING").load(s"$dir/out")
    assert(back.count() === 7)
    assert(back.select("g").distinct().collect().map(_.getString(0)).toSeq === Seq("gen2"))
    // append mode stacks on the survivors
    spark.range(100, 103).select($"id", lit("gen3").as("g"))
      .write.format("graft-delim").mode("append").save(s"$dir/out")
    assert(spark.read.format("graft-delim")
      .schema("id BIGINT, g STRING").load(s"$dir/out").count() === 10)
  }

  test("write path: nulls write as the \\N token and round-trip; delimiter in data throws, framing intact") {
    val dir = tempDir("delimv2-nulls")
    val src = Seq((1L, Some("a"), Some(2.5)), (2L, None, None), (3L, Some("c"), Some(7.0)))
      .toDF("id", "s", "v")
    src.write.format("graft-delim").mode("overwrite").save(s"$dir/out")
    val back = spark.read.format("graft-delim")
      .schema("id BIGINT, s STRING, v DOUBLE").load(s"$dir/out")
      .orderBy("id").collect()
    // nulls round-trip through the Hive \N token for EVERY type —
    // including strings, where an empty field would otherwise be
    // indistinguishable from "" (the CoW rewrite of a schema-evolved
    // table materializes added-column nulls, so the write→read trip
    // must preserve them); an empty string stays an empty string
    assert(back(1).isNullAt(1) && back(1).isNullAt(2))
    assert(back(0).getString(1) === "a" && back(2).getDouble(2) === 7.0)
    val empt = Seq((1L, "")).toDF("id", "s")
    empt.write.format("graft-delim").mode("overwrite").save(s"$dir/empty")
    val backE = spark.read.format("graft-delim")
      .schema("id BIGINT, s STRING").load(s"$dir/empty").collect()
    assert(backE(0).getString(1) === "")
    // with quoting DISABLED a field carrying the delimiter must throw,
    // not corrupt (the legacy raw contract; default quoting handles it)
    val bad = Seq((1L, "oops|pipe")).toDF("id", "s")
    val e = intercept[org.apache.spark.SparkException] {
      bad.write.format("graft-delim").option("quote", "none")
        .mode("overwrite").save(s"$dir/bad")
    }
    assert(e.getMessage.contains("quoting is disabled") ||
      Option(e.getCause).exists(_.getMessage.contains("quoting is disabled")))
    // and the failed job must not have replaced or leaked anything:
    // target dir has no data files and no staging residue
    val leaked = if (Files.exists(Paths.get(s"$dir/bad")))
      Files.list(Paths.get(s"$dir/bad")).toArray.map(_.toString)
        .filterNot(_.split("/").last.startsWith("_")) else Array.empty[String]
    assert(leaked.isEmpty, s"failed write leaked: ${leaked.mkString(",")}")
  }

  test("partitioned write: k=v layout readable with typed partition columns") {
    val dir = tempDir("delimv2-pwrite")
    val src = spark.range(1, 301).select(
      $"id".as("k"),
      ($"id" * 1.5).as("v"),
      concat(lit("r"), $"id" % 3).as("region"),
      when($"id" % 7 === 0, lit(null).cast("string"))
        .otherwise(concat(lit("g"), $"id" % 2)).as("grp"))
    src.write.format("graft-delim")
      .option("partitionBy", "region,grp")
      .mode("overwrite").save(s"$dir/t")
    // the layout IS the k=v tree (null -> the Hive default token)
    val dirs = new java.io.File(s"$dir/t").listFiles().filter(_.isDirectory)
      .map(_.getName).sorted
    assert(dirs.toSeq === Seq("region=r0", "region=r1", "region=r2"))
    assert(new java.io.File(s"$dir/t/region=r1").listFiles()
      .filter(_.isDirectory).map(_.getName).sorted.toSeq
      === Seq("grp=__HIVE_DEFAULT_PARTITION__", "grp=g0", "grp=g1"))
    // partition values are NOT in the line bytes
    val firstLine = {
      val f = new java.io.File(s"$dir/t/region=r0/grp=g0").listFiles()
        .filter(_.getName.endsWith(".txt")).head
      Files.readAllLines(f.toPath).get(0)
    }
    assert(firstLine.count(_ == '|') === 1, s"line carries extra fields: $firstLine")
    val back = spark.read.format("graft-delim")
      .schema("k BIGINT, v DOUBLE, region STRING, grp STRING")
      .load(s"$dir/t")
    assert(back.count() === 300)
    assert(back.exceptAll(src).isEmpty && src.exceptAll(back).isEmpty)
    // and the written layout prunes at file level like any k=v tree
    val pruned = back.filter($"region" === "r1" && $"grp".isNull)
      .groupBy().count()
    pruned.collect()
    val DelimScanMetrics(_, disc, kept, _, _, _) = DelimScanMetrics.one(pruned)
    assert(kept < disc, s"written partitions must prune: ($disc, $kept)")
  }

  test("partitioned write: overwrite replaces partition subtrees; guards throw") {
    val dir = tempDir("delimv2-pwrite-ow")
    def w(n: Int) = spark.range(n).select($"id", concat(lit("p"), $"id" % 2).as("pc"))
      .write.format("graft-delim").option("partitionBy", "pc")
      .mode("overwrite").save(s"$dir/t")
    w(100); w(40)
    val back = spark.read.format("graft-delim")
      .schema("id BIGINT, pc STRING").load(s"$dir/t")
    assert(back.count() === 40, "overwrite must replace the partition subtrees")
    // a partition value carrying '/' or '=' corrupts the LAYOUT: throw
    val bad = spark.range(3).select($"id", lit("a/b").as("pc"))
    val ex = intercept[Exception] {
      bad.write.format("graft-delim").option("partitionBy", "pc")
        .mode("overwrite").save(s"$dir/t2")
    }
    assert(ex.getMessage != null)
    // partitionBy over every column leaves no data fields: reject
    val ex2 = intercept[Exception] {
      spark.range(3).select(concat(lit("x"), $"id").as("pc"))
        .write.format("graft-delim").option("partitionBy", "pc")
        .mode("overwrite").save(s"$dir/t3")
    }
    assert(ex2.getMessage.contains("partitionBy") ||
      Option(ex2.getCause).exists(_.getMessage.contains("partitionBy")))
  }

  test("dynamic partition overwrite replaces only the touched partitions") {
    val dir = tempDir("delimv2-dynow")
    def write(df: org.apache.spark.sql.DataFrame, mode: String): Unit =
      df.write.format("graft-delim")
        .option("partitionBy", "pc").option("overwriteMode", mode)
        .mode("overwrite").save(s"$dir/t")
    // generation 1: partitions p0/p1/p2, 30 rows each
    write(spark.range(90).select($"id", concat(lit("p"), $"id" % 3).as("pc")),
      "static")
    // generation 2, DYNAMIC: only p1 rewritten (5 rows)
    write(spark.range(1000, 1005)
      .select($"id", lit("p1").as("pc")), "dynamic")
    val back = spark.read.format("graft-delim")
      .schema("id BIGINT, pc STRING").load(s"$dir/t")
    val byPc = back.groupBy("pc").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byPc === Map("p0" -> 30L, "p1" -> 5L, "p2" -> 30L),
      s"dynamic overwrite must replace ONLY p1: $byPc")
    assert(back.filter($"pc" === "p1").agg(min($"id")).head.getLong(0) === 1000L)
    // STATIC overwrite of the same slice wipes the other partitions
    write(spark.range(7).select($"id", lit("p1").as("pc")), "static")
    assert(spark.read.format("graft-delim")
      .schema("id BIGINT, pc STRING").load(s"$dir/t").count() === 7)
    // guard: dynamic without partitionBy is meaningless
    val ex = intercept[Exception] {
      spark.range(3).select($"id").write.format("graft-delim")
        .option("overwriteMode", "dynamic").mode("overwrite").save(s"$dir/t2")
    }
    assert(ex.getMessage.contains("dynamic") ||
      Option(ex.getCause).exists(_.getMessage.contains("dynamic")))
  }

  test("catalog front door: CREATE TABLE USING graft-delim, SELECT, INSERT") {
    val dir = tempDir("delimv2-catalog")
    spark.range(20).select($"id", concat(lit("g"), $"id" % 2).as("pc"))
      .write.format("graft-delim").option("partitionBy", "pc")
      .mode("overwrite").save(s"$dir/t")
    spark.sql("DROP TABLE IF EXISTS delim_spec_t")
    try {
      spark.sql(s"""CREATE TABLE delim_spec_t (id BIGINT, pc STRING)
        USING `graft-delim` OPTIONS (path '$dir/t', partitionBy 'pc')""")
      // SQL read resolves the table-level path/partition options
      val n = spark.sql("SELECT count(*) AS n FROM delim_spec_t").as[Long].head()
      assert(n === 20)
      // pushdown + partition recognition survive the catalog hop
      val plan = spark.sql("SELECT id FROM delim_spec_t WHERE pc = 'g1'")
        .queryExecution.executedPlan.toString
      assert(plan.contains("EqualTo(pc,g1)") &&
        plan.contains("PartitionColumns: [pc]"), plan)
      // and the partition filter prunes at FILE level through SQL
      val g1 = spark.sql("SELECT count(*) FROM delim_spec_t WHERE pc = 'g1'")
      g1.collect()
      val DelimScanMetrics(_, disc, kept, _, _, _) = DelimScanMetrics.one(g1)
      assert(kept < disc, s"catalog read must file-prune: ($disc, $kept)")
      // INSERT INTO appends THROUGH the partitioned sink (table-level
      // partitionBy option routes the new row into its k=v dir)
      spark.sql("INSERT INTO delim_spec_t VALUES (100, 'g0')")
      assert(spark.sql("SELECT count(*) AS n FROM delim_spec_t")
        .as[Long].head() === 21)
      assert(new java.io.File(s"$dir/t/pc=g0").listFiles()
        .count(_.getName.endsWith(".txt")) >= 2, "insert must land in pc=g0")
      // INSERT OVERWRITE = the connector's truncate path
      spark.sql("INSERT OVERWRITE delim_spec_t VALUES (1, 'g9')")
      val rows = spark.sql("SELECT id, pc FROM delim_spec_t").collect()
      assert(rows.length === 1 && rows.head.getString(1) === "g9")
    } finally spark.sql("DROP TABLE IF EXISTS delim_spec_t")
  }

  test("streaming sink: multi-epoch append lands exactly the streamed rows") {
    val dir = tempDir("delimv2-streamsink")
    // 3 source files -> 3 triggers/epochs through the streaming sink
    for (b <- 0 until 3)
      spark.range(b * 100, (b + 1) * 100)
        .select($"id", concat(lit("v"), $"id").as("s"))
        .coalesce(1).write.parquet(s"$dir/src/b$b")
    val src = spark.readStream
      .schema("id BIGINT, s STRING")
      .option("maxFilesPerTrigger", "1")
      .parquet(s"$dir/src/b*")
    val q = src.writeStream.format("graft-delim")
      .option("path", s"$dir/out")
      .option("checkpointLocation", s"$dir/ckpt")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val back = spark.read.format("graft-delim")
      .schema("id BIGINT, s STRING").load(s"$dir/out")
    assert(back.count() === 300)
    assert(back.agg(sum($"id")).head.getLong(0) === (0L until 300L).sum)
    // deterministic (epoch, partition) final names — no taskIds leak
    val names = new java.io.File(s"$dir/out").listFiles()
      .filter(_.getName.endsWith(".txt")).map(_.getName).sorted
    assert(names.forall(_.matches("part-\\d+-\\d{5}\\.txt")), names.mkString(","))
    // no staging residue visible to readers; the staging dir itself is
    // underscore-prefixed and ignored
    assert(!names.exists(_.contains("staging")))
  }

  test("streaming sink: partitionBy routes epochs into the k=v tree") {
    val dir = tempDir("delimv2-streamsink-part")
    for (b <- 0 until 2)
      spark.range(b * 50, (b + 1) * 50)
        .select($"id", concat(lit("g"), $"id" % 2).as("pc"))
        .coalesce(1).write.parquet(s"$dir/src/b$b")
    val src = spark.readStream
      .schema("id BIGINT, pc STRING")
      .option("maxFilesPerTrigger", "1")
      .parquet(s"$dir/src/b*")
    val q = src.writeStream.format("graft-delim")
      .option("path", s"$dir/out")
      .option("partitionBy", "pc")
      .option("checkpointLocation", s"$dir/ckpt")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val back = spark.read.format("graft-delim")
      .schema("id BIGINT, pc STRING").load(s"$dir/out")
    assert(back.count() === 100)
    assert(back.filter($"pc" === "g1").count() === 50)
    // the shared staging dir stays for the stream's life (documented;
    // underscore-prefixed, invisible to readers)
    assert(new java.io.File(s"$dir/out").listFiles().filter(_.isDirectory)
      .map(_.getName).filterNot(_.startsWith("_")).sorted.toSeq
      === Seq("pc=g0", "pc=g1"))
  }

  test("COUNT(*) pushdown: counted by newline scan, exact at every split size") {
    val dir = tempDir("delimv2-count")
    // empty line + unterminated last line: the count must mirror the
    // scan's line ownership exactly
    write(s"$dir/f.txt", "a|1\n\nb|2\nc|3")
    for (splitBytes <- Seq(1, 3, 7, 100000)) {
      val df = spark.read.format("graft-delim")
        .schema("k STRING, v BIGINT")
        .option("splitBytes", splitBytes.toString)
        .load(s"$dir/f.txt")
      val counted = df.groupBy().count()
      val plan = counted.queryExecution.executedPlan.toString
      assert(plan.contains("PushedAggregation: [count(*)]"),
        s"count not pushed (splitBytes=$splitBytes):\n$plan")
      assert(counted.collect().head.getLong(0) === 4, s"splitBytes=$splitBytes")
    }
    // with a pushed filter the count must NOT push (rows need parsing);
    // answer still exact
    val filtered = spark.read.format("graft-delim")
      .schema("k STRING, v BIGINT").load(s"$dir/f.txt")
      .filter($"v" > 1).groupBy().count()
    assert(!filtered.queryExecution.executedPlan.toString.contains("PushedAggregation"))
    assert(filtered.collect().head.getLong(0) === 2)
  }

  test("pushed string ranges and TopN use UTF-8 binary order (supplementary plane)") {
    val dir = tempDir("delimv2-utf8ord")
    // U+E000 (private-use, single UTF-16 unit 0xE000) vs U+10000
    // (supplementary, surrogate pair starting 0xD800): UTF-16 code-unit
    // order says U+10000 < U+E000; Spark (UTF-8 binary = code-point)
    // order says U+E000 < U+10000. Pushed filters are absorbed exactly
    // (no residual re-check), so a wrong comparator changes ANSWERS.
    val lo = ""
    val hi = new String(Character.toChars(0x10000))
    write(s"$dir/f.txt", s"$lo|1\n$hi|2\n")
    val df = spark.read.format("graft-delim")
      .schema("s STRING, v BIGINT").load(s"$dir/f.txt")
    assert(df.filter($"s" > lo).collect().map(_.getLong(1)).toSeq === Seq(2L))
    assert(df.filter($"s" < hi).collect().map(_.getLong(1)).toSeq === Seq(1L))
    // TopN pushdown: the per-split heap must keep the same survivor the
    // final TakeOrdered would pick
    val top = df.orderBy($"s").limit(1).collect()
    assert(top.map(_.getLong(1)).toSeq === Seq(1L))
  }

  test("inferSchema unions partition keys across files (flat file at root included)") {
    val dir = tempDir("delimv2-inferpart")
    // "a.txt" path-sorts AHEAD of the k=v directory: taking keys from
    // the first file only would silently drop the partition column
    write(s"$dir/a.txt", "1|x\n")
    Files.createDirectories(Paths.get(s"$dir/k=g1"))
    write(s"$dir/k=g1/b.txt", "2|y\n")
    val df = spark.read.format("graft-delim").load(dir)
    assert(df.schema.fieldNames.toSeq === Seq("c1", "c2", "k"))
    val rows = df.orderBy($"c1").collect()
    assert(rows.map(r => Option(r.getString(2))).toSeq === Seq(None, Some("g1")))
  }

  test("partitioned final names carry no row-order-dependent ordinal") {
    val dir = tempDir("delimv2-finalname")
    // two partition values from one task: the final name inside each
    // k=v subdir must be identical regardless of which value the task
    // saw first (streaming-epoch replay idempotence depends on it)
    Seq((1L, "g0"), (2L, "g1"), (3L, "g0"))
      .toDF("id", "pc").coalesce(1)
      .write.format("graft-delim").option("partitionBy", "pc")
      .mode("overwrite").save(s"$dir/out")
    val names = for {
      sub <- Seq("pc=g0", "pc=g1")
      f <- new java.io.File(s"$dir/out/$sub").listFiles().toSeq
      if f.getName.endsWith(".txt")
    } yield f.getName
    assert(names.size === 2)
    assert(names.distinct.size === 1, s"ordinal leaked into final names: $names")
  }

  test("RFC-4180 quoting: delimiters and quotes in fields round-trip, any split size") {
    val dir = tempDir("delimv2-quote")
    val vals = Seq(
      "plain", "has|pipe", "has\"quote", "\"leading", "trailing\"",
      "both|and\"mixed\"|x", "", "|", "\"\"", "a||b")
    vals.zipWithIndex.map { case (s, i) => (i.toLong, s, i * 10L) }
      .toDF("id", "s", "v")
      .write.format("graft-delim").mode("overwrite").save(s"$dir/out")
    for (splitBytes <- Seq(2, 5, 11, 100000)) {
      val back = spark.read.format("graft-delim")
        .schema("id BIGINT, s STRING, v BIGINT")
        .option("splitBytes", splitBytes.toString)
        .load(s"$dir/out")
        .orderBy($"id").collect()
      assert(back.map(_.getString(1)).toSeq === vals, s"splitBytes=$splitBytes")
      assert(back.map(_.getLong(2)).toSeq === vals.indices.map(_ * 10L),
        s"splitBytes=$splitBytes")
    }
    // pruned parse: projecting past a quoted field still lands on the
    // right column; pushed filters on quoted fields absorb exactly
    val df = spark.read.format("graft-delim")
      .schema("id BIGINT, s STRING, v BIGINT").load(s"$dir/out")
    val filtered = df.filter($"s" === "has|pipe").select($"v")
    assert(!filtered.queryExecution.executedPlan.toString.contains("Filter ("),
      "pushed filter not absorbed on quoted data")
    assert(filtered.collect().map(_.getLong(0)).toSeq === Seq(10L))
  }

  test("quoted newlines: multiLine=true reads whole-file splits; COUNT stays exact") {
    val dir = tempDir("delimv2-multiline")
    val vals = Seq("one\nline\nbreaks", "crlf\r\nhere", "plain", "pipe|and\nnewline")
    vals.zipWithIndex.map { case (s, i) => (i.toLong, s) }.toDF("id", "s")
      .write.format("graft-delim").mode("overwrite").save(s"$dir/out")
    val back = spark.read.format("graft-delim")
      .schema("id BIGINT, s STRING")
      .option("multiLine", "true")
      // splitBytes must be IGNORED for framing: one split per file
      .option("splitBytes", "3")
      .load(s"$dir/out")
    assert(back.orderBy($"id").collect().map(_.getString(1)).toSeq === vals)
    // pushed COUNT(*) must count RECORDS (quote-aware), not newlines —
    // on a stats-bearing manifest table the count now short-circuits
    // to the stats-complete answer (writers count records, zero reads);
    // the newline-scan partial path remains for stat-less tables (the
    // dedicated COUNT(*) pushdown test exercises it over raw text)
    val counted = back.groupBy().count()
    val cplan = counted.queryExecution.executedPlan.toString
    assert(cplan.contains("PushedAggregation: [stats-complete]") ||
      cplan.contains("PushedAggregation: [count(*)]"), cplan)
    assert(counted.collect().head.getLong(0) === vals.size.toLong)
    // a DEFAULT read (no multiLine option) must frame identically: the
    // manifest's multiline flag auto-engages whole-file framing — the
    // round-15 writer THREW on newline fields; quoting without the
    // flag would have turned that loud failure into silent misframing
    val auto = spark.read.format("graft-delim")
      .schema("id BIGINT, s STRING").load(s"$dir/out")
    assert(auto.orderBy($"id").collect().map(_.getString(1)).toSeq === vals)
    // and the documented contract: the writer's output IS readable by
    // Spark's CSV reader in its multiLine mode (same RFC dialect;
    // univocity normalizes \r\n to \n INSIDE quoted fields — a CSV-
    // reader quirk graft's parser deliberately does not copy, so
    // compare modulo that normalization)
    val csv = spark.read.schema("id BIGINT, s STRING")
      .option("sep", "|").option("multiLine", "true")
      .csv(s"$dir/out/*.txt")
    assert(csv.orderBy($"id").collect().map(_.getString(1)).toSeq
      === vals.map(_.replace("\r\n", "\n")))
  }

  test("differential vs Spark CSV quote handling on a quoted extract") {
    val dir = tempDir("delimv2-quotediff")
    // Spark CSV WRITES the file; graft-delim must parse it identically
    // (single-line quoting: delimiters + escaped quotes, no newlines)
    val rows = Seq((1L, "a,b", 1.5), (2L, "say \"hi\"", -2.0),
      (3L, "plain", 0.0), (4L, ",lead", 9.25), (5L, "trail,", -0.5))
    // escape=quote makes Spark CSV emit RFC-4180 doubled quotes
    // (its default is backslash-escape, a different dialect)
    rows.toDF("id", "s", "d").coalesce(1)
      .write.option("sep", ",").option("escape", "\"")
      .mode("overwrite").csv(s"$dir/csv")
    val viaCsv = spark.read.schema("id BIGINT, s STRING, d DOUBLE")
      .option("sep", ",").option("escape", "\"")
      .csv(s"$dir/csv").orderBy($"id").collect()
    val viaDelim = spark.read.format("graft-delim")
      .schema("id BIGINT, s STRING, d DOUBLE")
      .option("delimiter", ",")
      .load(s"$dir/csv/*.csv").orderBy($"id").collect()
    assert(viaDelim.toSeq === viaCsv.toSeq)
    assert(viaDelim.map(_.getString(1)).toSeq === rows.map(_._2))
  }

  test("quoting fuzz: 500 adversarial strings round-trip bit-exact at adversarial split sizes") {
    val dir = tempDir("delimv2-quotefuzz")
    // deterministic generator biased toward the quoting grammar's edge
    // cases: quotes at field boundaries, runs of quotes, delimiters
    // adjacent to quotes, CR/LF mixes, empty-adjacent structure
    val rnd = new scala.util.Random(421L)
    val alphabet = Array("a", "|", "\"", "\n", "\r", "\"\"", "|\"", "\"|",
      "x|y", "", "zz", "\r\n", "q\"q")
    val vals = (0 until 500).map { i =>
      (0 until rnd.nextInt(6)).map(_ => alphabet(rnd.nextInt(alphabet.length)))
        .mkString
    }
    vals.zipWithIndex.map { case (s, i) => (i.toLong, s, s.length.toLong) }
      .toDF("id", "s", "len")
      .write.format("graft-delim").mode("overwrite").save(s"$dir/out")
    // NO multiLine option: the committed manifest flags the quoted
    // newlines and the reader auto-engages whole-file framing
    for (splitBytes <- Seq(7, 64, 100000)) {
      val back = spark.read.format("graft-delim")
        .schema("id BIGINT, s STRING, len BIGINT")
        .option("splitBytes", splitBytes.toString)
        .load(s"$dir/out")
        .orderBy($"id").collect()
      assert(back.length === 500, s"splitBytes=$splitBytes")
      back.foreach { r =>
        val want = vals(r.getLong(0).toInt)
        val got = r.getString(1)
        // the one documented lossy edge: the format writes null and ""
        // identically (empty field), both read back as ""
        assert(got === want, s"id=${r.getLong(0)} splitBytes=$splitBytes: " +
          s"${got.map(_.toInt)} != ${want.map(_.toInt)}")
        assert(r.getLong(2) === want.length.toLong)
      }
    }
  }

  test("static overwrite sweeps crash-orphans and emptied partition directories") {
    val dir = tempDir("delimv2-sweep")
    Seq((1L, "a"), (2L, "b")).toDF("id", "pc")
      .write.format("graft-delim").option("partitionBy", "pc")
      .mode("overwrite").save(s"$dir/t")
    // simulate a crashed commit's orphan: promoted but never listed in
    // any manifest (generation-token names mean it never collides)
    write(s"$dir/t/pc=a/part-00000-99-deadbeef.txt", "9\n")
    Files.createDirectories(Paths.get(s"$dir/t/pc=stale"))
    write(s"$dir/t/pc=stale/part-00000-98-cafebabe.txt", "8\n")
    // overwrite with a generation that has NO pc=a/pc=stale rows
    Seq((3L, "c")).toDF("id", "pc")
      .write.format("graft-delim").option("partitionBy", "pc")
      .mode("overwrite").save(s"$dir/t")
    // the orphan files AND the emptied k=v dirs are gone — a
    // directory-identity surface (SHOW PARTITIONS) must not keep
    // listing partitions the overwrite deleted
    assert(!Files.exists(Paths.get(s"$dir/t/pc=a")), "stale pc=a survived")
    assert(!Files.exists(Paths.get(s"$dir/t/pc=stale")), "orphan dir survived")
    val back = spark.read.format("graft-delim")
      .schema("id BIGINT, pc STRING").load(s"$dir/t")
    assert(back.collect().map(r => (r.getLong(0), r.getString(1))).toSeq
      === Seq((3L, "c")))
    spark.sql("DROP TABLE IF EXISTS graft_cat.default.sweep_t")
    spark.sql(s"""CREATE TABLE graft_cat.default.sweep_t (id BIGINT, pc STRING)
      USING `graft-delim` PARTITIONED BY (pc) LOCATION '$dir/t'""")
    assert(spark.sql("SHOW PARTITIONS graft_cat.default.sweep_t")
      .collect().map(_.getString(0)).toSeq === Seq("pc=c"))
  }

  test("quote=none restores the legacy contract: writer throws on delimiter-in-field") {
    val dir = tempDir("delimv2-quotenone")
    val err = intercept[org.apache.spark.SparkException] {
      Seq((1L, "has|pipe")).toDF("id", "s")
        .write.format("graft-delim").option("quote", "none")
        .mode("overwrite").save(s"$dir/out")
    }
    assert(err.getMessage.contains("quoting is disabled") ||
      Option(err.getCause).exists(_.getMessage.contains("quoting is disabled")))
  }

  test("a delimiter that breaks line framing is rejected, naming the value") {
    val dir = tempDir("delimv2-baddelim")
    def messages(t: Throwable): String =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
        .map(e => String.valueOf(e.getMessage)).mkString(" | ")
    Seq((1L, "a")).toDF("id", "s")
      .write.format("graft-delim").mode("overwrite").save(s"$dir/ok")
    for ((d, name) <- Seq("\n" -> "U+000A", "\r" -> "U+000D", "\ud800" -> "U+D800")) {
      val w = intercept[Exception] {
        Seq((1L, "a"), (2L, "b")).toDF("id", "s")
          .write.format("graft-delim").option("delimiter", d)
          .mode("overwrite").save(s"$dir/out")
      }
      assert(messages(w).contains(name), messages(w))
      val r = intercept[Exception] {
        spark.read.format("graft-delim").schema("id BIGINT, s STRING")
          .option("delimiter", d).load(s"$dir/ok").collect()
      }
      assert(messages(r).contains(name), messages(r))
    }
  }

  test("manifest snapshot: committed list is authoritative, stray files invisible") {
    val dir = tempDir("delimv2-manifest")
    Seq((1L, 10.0), (2L, 20.0)).toDF("id", "v")
      .write.format("graft-delim").mode("overwrite").save(s"$dir/out")
    assert(Files.exists(Paths.get(s"$dir/out/_manifest")))
    // a file dropped into the directory OUTSIDE a commit is not part of
    // any snapshot and must not be read
    write(s"$dir/out/stray.txt", "99|999.0\n")
    val back = spark.read.format("graft-delim")
      .schema("id BIGINT, v DOUBLE").load(s"$dir/out")
    assert(back.agg(sum($"v")).head.getDouble(0) === 30.0)
    // manifest lengths match the files (readers never stat data files)
    val fs = new org.apache.hadoop.fs.Path(s"$dir/out")
      .getFileSystem(spark.sessionState.newHadoopConf())
    val entries = graft.sources.v2.DelimLog.readManifest(
      fs, new org.apache.hadoop.fs.Path(s"$dir/out")).get.entries
    entries.foreach { case (len, rel) =>
      assert(len === new java.io.File(s"$dir/out/$rel").length(), rel)
    }
  }

  test("manifest snapshot: a reader planned mid-overwrite sees old XOR new, never a mix") {
    val dir = tempDir("delimv2-snapiso")
    val hp = new org.apache.hadoop.fs.Path(s"$dir/out")
    val fs = hp.getFileSystem(spark.sessionState.newHadoopConf())
    def total(): Double = spark.read.format("graft-delim")
      .schema("id BIGINT, v DOUBLE").load(s"$dir/out")
      .agg(sum($"v")).head.getDouble(0)
    Seq((1L, 1.0), (2L, 2.0)).toDF("id", "v")
      .write.format("graft-delim").mode("overwrite").save(s"$dir/out")
    assert(total() === 3.0)
    // PHASE 1 of a new overwrite: the new generation's files land
    // (generation-unique names) but the manifest has NOT swapped —
    // readers still see exactly the old snapshot
    write(s"$dir/out/part-00000-777-deadbeef.txt", "3|100.0\n4|200.0\n")
    assert(total() === 3.0, "reader saw uncommitted generation")
    // PHASE 2: the generation claim + atomic manifest swap — readers
    // now see exactly the new snapshot (old files still on disk until
    // phase 3 deletes them)
    val gen1 = graft.sources.v2.DelimLog.readManifest(fs, hp).get.gen
    graft.sources.v2.DelimLog.commitManifest(fs, hp,
      graft.sources.v2.DelimLog.DelimManifest(
        Seq(graft.sources.v2.DelimLog.ManifestEntry(
          18L, gen1 + 1, "part-00000-777-deadbeef.txt")),
        multiLine = false, gen = gen1 + 1))
    assert(total() === 300.0, "reader saw a mixed or stale generation")
    // and a REAL overwrite ends with only its own generation live
    Seq((9L, 9.0)).toDF("id", "v")
      .write.format("graft-delim").mode("overwrite").save(s"$dir/out")
    assert(total() === 9.0)
    val live = graft.sources.v2.DelimLog.readManifest(fs, hp).get.entries.map(_._2)
    assert(live.size === 1)
    // dead generations' files were deleted at commit
    assert(!new java.io.File(s"$dir/out/part-00000-777-deadbeef.txt").exists())
  }

  test("manifest snapshot: streaming epochs append exactly-once entries") {
    val dir = tempDir("delimv2-streammanifest")
    for (b <- 0 until 3)
      spark.range(b * 10, (b + 1) * 10).select($"id")
        .coalesce(1).write.parquet(s"$dir/src/b$b")
    val src = spark.readStream.schema("id BIGINT")
      .option("maxFilesPerTrigger", "1").parquet(s"$dir/src/b*")
    val q = src.writeStream.format("graft-delim")
      .option("path", s"$dir/out")
      .option("checkpointLocation", s"$dir/ckpt")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val hp = new org.apache.hadoop.fs.Path(s"$dir/out")
    val fs = hp.getFileSystem(spark.sessionState.newHadoopConf())
    val entries = graft.sources.v2.DelimLog.readManifest(fs, hp).get.entries
    assert(entries.size === entries.map(_._2).distinct.size)
    val back = spark.read.format("graft-delim")
      .schema("id BIGINT").load(s"$dir/out")
    assert(back.count() === 30)
    assert(entries.size === new java.io.File(s"$dir/out").listFiles()
      .count(_.getName.endsWith(".txt")))
  }

  test("clustered read reports key-grouped partitioning: no Exchange for layout-key agg") {
    val dir = tempDir("delimv2-clustered")
    Seq((1L, 1.0, "a"), (2L, 2.0, "b"), (3L, 3.0, "a"), (4L, 4.0, "c"))
      .toDF("id", "v", "pc")
      .write.format("graft-delim").option("partitionBy", "pc")
      .mode("overwrite").save(s"$dir/t")
    def read(clustered: Boolean) = spark.read.format("graft-delim")
      .schema("id BIGINT, v DOUBLE, pc STRING")
      .option("clustered", clustered.toString)
      .load(s"$dir/t")
    // clustered: the groupBy on the layout key plans shuffle-free
    val agg = read(clustered = true)
      .groupBy($"pc").agg(sum($"v").as("sv"))
    val plan = agg.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"Exchange in clustered agg:\n$plan")
    assert(agg.collect().map(r => (r.getString(0), r.getDouble(1))).sorted.toSeq
      === Seq(("a", 4.0), ("b", 2.0), ("c", 4.0)))
    // default (unclustered): identical answer, ordinary shuffled agg —
    // per-split parallelism is kept for queries that don't exploit the
    // layout
    val agg2 = read(clustered = false).groupBy($"pc").agg(sum($"v").as("sv"))
    assert(agg2.queryExecution.executedPlan.toString.contains("Exchange"))
    assert(agg2.collect().map(r => (r.getString(0), r.getDouble(1))).sorted.toSeq
      === Seq(("a", 4.0), ("b", 2.0), ("c", 4.0)))
  }

  test("statistics report pruned width (broadcast-eligible estimate)") {
    val dir = tempDir("delimv2-stats")
    write(s"$dir/f.txt", (1 to 1000).map(i => s"$i|${"x" * 50}|$i|$i").mkString("\n"))
    val full = spark.read.format("graft-delim")
      .schema("a BIGINT, pad STRING, c BIGINT, d BIGINT").load(s"$dir/f.txt")
    val pruned = full.select("a")
    val fullSize = delimScan(full).estimateStatistics().sizeInBytes().getAsLong
    val prunedSize = delimScan(pruned).estimateStatistics().sizeInBytes().getAsLong
    assert(prunedSize * 3 < fullSize,
      s"pruned estimate $prunedSize not proportionally below $fullSize")
  }
}
