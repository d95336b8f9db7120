package graft.sources

import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.SparkFunSuite
import graft.sources.v2.{DelimCompact, DelimLog}

/** Certifies the vectorized (ColumnarBatch) reader, graft-delim's one
  * row parser: it ENGAGES on every path (the plan carries a
  * ColumnarToRow over batch scans, non-ASCII-delimited scans and
  * stream micro-batches), and it returns the exact expected rows across
  * the adversarial surface — quoting, escaped quotes, multiline
  * framing, split boundaries, a multi-byte delimiter, schema
  * evolution's by-name mapping, pushed filters, limits, TopN,
  * partition constants, the `_file` metadata column, and the
  * compaction rewrite of tombstoned files.
  */
class DelimColumnarSpec extends SparkFunSuite {
  import spark.implicits._

  /** The read's rows as sorted `Row.toString`s. */
  private def read(dir: String, schema: String,
      opts: Map[String, String] = Map.empty)
      (f: DataFrame => DataFrame = identity): Seq[String] = {
    var r = spark.read.format("graft-delim").schema(schema)
    opts.foreach { case (k, v) => r = r.option(k, v) }
    f(r.load(dir)).collect().map(_.toString).sorted.toSeq
  }

  private def fs(t: String) =
    new HPath(t).getFileSystem(spark.sessionState.newHadoopConf())

  test("columnar path engages: plan has ColumnarToRow over the delim scan") {
    val dir = tempDir("delimcol-engage")
    Seq((1L, "a", 1.5), (2L, "b", 2.5)).toDF("id", "name", "v")
      .write.format("graft-delim").mode("overwrite").save(s"$dir/t")
    val df = spark.read.format("graft-delim")
      .schema("id BIGINT, name STRING, v DOUBLE").load(s"$dir/t")
      .filter(col("id") > 0)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("ColumnarToRow"),
      s"columnar scan did not engage:\n$plan")
    assert(df.count() == 2)
    // a multi-byte (non-ASCII) delimiter parses columnar too
    Seq((1L, "a", 1.5), (2L, "b", 2.5)).toDF("id", "name", "v")
      .write.format("graft-delim").option("delimiter", "¦")
      .mode("overwrite").save(s"$dir/bar")
    val barPlan = spark.read.format("graft-delim")
      .schema("id BIGINT, name STRING, v DOUBLE")
      .option("delimiter", "¦").load(s"$dir/bar")
      .queryExecution.executedPlan.toString
    assert(barPlan.contains("ColumnarToRow"), barPlan)
    // and so does a stream micro-batch
    val q = spark.readStream.format("graft-delim")
      .schema("id BIGINT, name STRING, v DOUBLE").load(s"$dir/t")
      .writeStream.format("parquet")
      .option("path", s"$dir/out")
      .option("checkpointLocation", s"$dir/ckpt")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val streamPlan = {
      val buf = new java.io.ByteArrayOutputStream
      Console.withOut(buf)(q.explain())
      buf.toString("UTF-8")
    }
    assert(streamPlan.contains("MicroBatchScan") &&
      streamPlan.contains("ColumnarToRow"), streamPlan)
    assert(spark.read.parquet(s"$dir/out").count() == 2)
  }

  test("differential: quoting/escapes/types identical to the row reader at tiny splits") {
    val dir = tempDir("delimcol-diff")
    val rows = Seq(
      (1L, "plain", 1.5, "2024-01-31"),
      (2L, "has|delim", -0.0, "2024-02-29"),
      (3L, "has\"quote\"inside", 0.0, "1999-12-31"),
      (4L, "ends with quote\"", 1e300, "2000-01-01"),
      (5L, "", Double.MinPositiveValue, "2024-06-15"),
      (6L, "  spaced  ", -42.25, "2024-06-16"),
      (7L, "ünïcödé 🎉 text", 3.14159, "2024-06-17"))
    rows.toDF("id", "s", "v", "d")
      .select(col("id"), col("s"), col("v"), col("d").cast("date").as("d"))
      .repartition(1)
      .write.format("graft-delim").mode("overwrite").save(s"$dir/t")
    val expected = Seq(
      "[1,plain,1.5,2024-01-31]",
      "[2,has|delim,0.0,2024-02-29]",
      "[3,has\"quote\"inside,0.0,1999-12-31]",
      "[4,ends with quote\",1.0E300,2000-01-01]",
      "[5,,4.9E-324,2024-06-15]",
      "[6,  spaced  ,-42.25,2024-06-16]",
      "[7,ünïcödé 🎉 text,3.14159,2024-06-17]")
    for (split <- Seq("7", "64", "1048576")) {
      val got = read(s"$dir/t", "id BIGINT, s STRING, v DOUBLE, d DATE",
        Map("splitBytes" -> split))()
      assert(got == expected, s"splitBytes=$split:\n$got")
    }
  }

  test("differential: malformed typed fields null identically") {
    val dir = tempDir("delimcol-malformed")
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/f.txt"),
      ("1|10|1.5|2024-01-01\n" +
        "x|+20|not_a_num|2024-13-99\n" +
        "3||  30  |\n" +
        "-9223372036854775808|9223372036854775807|-0.0|1970-01-01\n" +
        "99999999999999999999|-99999999999999999999|1e999|junk\n" +
        "4|5\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val got = read(dir + "/f.txt", "a BIGINT, b BIGINT, v DOUBLE, d DATE")()
    assert(got == Seq(
      "[-9223372036854775808,9223372036854775807,0.0,1970-01-01]",
      "[1,10,1.5,2024-01-01]",
      "[3,null,30.0,null]",
      "[4,5,null,null]",
      "[null,20,null,null]",
      "[null,null,Infinity,null]"), got.toString)
  }

  test("differential: pushed filters + limit + partition constants + _file") {
    val dir = tempDir("delimcol-filters")
    Seq((1L, 1.0, "a"), (2L, 2.0, "a"), (3L, 3.0, "b"), (4L, 4.0, "b"))
      .toDF("id", "v", "pc")
      .write.format("graft-delim").option("partitionBy", "pc")
      .mode("overwrite").save(s"$dir/t")
    val got = read(s"$dir/t", "id BIGINT, v DOUBLE, pc STRING")(
      _.filter(col("v") >= 2.0 && col("pc") === "b").select("id", "pc"))
    assert(got == Seq("[3,b]", "[4,b]"), got.toString)
    // _file metadata column rides the constant lane
    val withFile = spark.read.format("graft-delim")
      .schema("id BIGINT, v DOUBLE, pc STRING").load(s"$dir/t")
      .select(col("id"), col("_file")).collect()
    assert(withFile.forall(_.getString(1).contains("pc=")))
    // limit pushdown through the columnar reader
    val lim = spark.read.format("graft-delim")
      .schema("id BIGINT, v DOUBLE, pc STRING").load(s"$dir/t").limit(2)
    assert(lim.count() == 2)
  }

  test("differential: multiline quoted newlines frame identically") {
    val dir = tempDir("delimcol-multiline")
    Seq((1L, "line1\nline2", "x"), (2L, "a|b\"c\"\r\nd", "y"))
      .toDF("id", "t", "k")
      .write.format("graft-delim").mode("overwrite").save(s"$dir/t")
    val got = read(s"$dir/t", "id BIGINT, t STRING, k STRING")()
    assert(got == Seq("[1,line1\nline2,x]", "[2,a|b\"c\"\r\nd,y]"), got.toString)
  }

  test("differential: timestamps round-trip to the microsecond on both paths") {
    val dir = tempDir("delimcol-ts")
    val src = spark.sql("""SELECT * FROM VALUES
      (1L, TIMESTAMP'2024-01-01 00:00:00', 'plain'),
      (2L, TIMESTAMP'2024-06-15 23:59:59.999999', 'max-frac'),
      (3L, TIMESTAMP'1969-12-31 23:59:59.5', 'pre-epoch'),
      (4L, CAST(NULL AS TIMESTAMP), 'null'),
      (5L, TIMESTAMP'0001-01-03 01:02:03.000001', 'ancient')
      AS t(id, ts, tag)""")
    src.write.format("graft-delim").mode("overwrite").save(s"$dir/t")
    // timestamps rendered by the session time zone (UTC), not the JVM's
    val asText: DataFrame => DataFrame =
      _.selectExpr("id", "CAST(ts AS STRING) AS ts", "tag")
    val got = read(s"$dir/t", "id BIGINT, ts TIMESTAMP, tag STRING")(asText)
    assert(got == Seq(
      "[1,2024-01-01 00:00:00,plain]",
      "[2,2024-06-15 23:59:59.999999,max-frac]",
      "[3,1969-12-31 23:59:59.5,pre-epoch]",
      "[4,null,null]",
      "[5,0001-01-03 01:02:03.000001,ancient]"), got.toString)
    // micros-exact against the source
    val back = spark.read.format("graft-delim")
      .schema("id BIGINT, ts TIMESTAMP, tag STRING").load(s"$dir/t")
    assert(back.join(src.withColumnRenamed("ts", "ts0"), Seq("id"))
      .filter(!(col("ts") <=> col("ts0"))).count() == 0)
    // pushed range filter over ts prunes to the two 2024 rows
    val filtered = read(s"$dir/t", "id BIGINT, ts TIMESTAMP, tag STRING")(
      df => asText(df.filter(col("ts") >= lit("2024-01-01 00:00:00"))))
    assert(filtered == Seq(
      "[1,2024-01-01 00:00:00,plain]",
      "[2,2024-06-15 23:59:59.999999,max-frac]"), filtered.toString)
  }

  test("differential: schema evolution by-name mapping through the columnar path") {
    val dir = tempDir("delimcol-evolve")
    Seq((1L, "a")).toDF("id", "name")
      .write.format("graft-delim").mode("overwrite").save(s"$dir/t")
    Seq(("b", 2.5, 2L)).toDF("name", "score", "id")
      .write.format("graft-delim").mode("append").save(s"$dir/t")
    val got = read(s"$dir/t", "id BIGINT, name STRING, score DOUBLE")()
    assert(got == Seq("[1,a,null]", "[2,b,2.5]"), got.toString)
  }

  test("a multi-byte delimiter round-trips: quoted values, filters, TopN, tiny splits") {
    val t = s"${tempDir("delimcol-brokenbar")}/t"
    Seq((1L, "plain", 1.5), (2L, "has¦bar", 2.5), (3L, "ünï", -3.0),
        (4L, "q\"¦\"", 4.0), (5L, null, 5.0), (6L, "", 6.0))
      .toDF("id", "s", "v").coalesce(1)
      .write.format("graft-delim").option("delimiter", "¦")
      .mode("overwrite").save(t)
    // values holding the delimiter (or the quote) are written quoted
    val rel = DelimLog.readManifest(fs(t), new HPath(t)).get.files.head.rel
    val raw = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(new HPath(t, rel).toUri.getPath)), "UTF-8")
    assert(raw == "1¦plain¦1.5\n2¦\"has¦bar\"¦2.5\n3¦ünï¦-3.0\n" +
      "4¦\"q\"\"¦\"\"\"¦4.0\n5¦\\N¦5.0\n6¦¦6.0\n", raw)
    val schema = "id BIGINT, s STRING, v DOUBLE"
    for (split <- Seq("7", "64", "1048576")) {
      val opts = Map("delimiter" -> "¦", "splitBytes" -> split)
      val all = read(t, schema, opts)()
      assert(all == Seq("[1,plain,1.5]", "[2,has¦bar,2.5]", "[3,ünï,-3.0]",
        "[4,q\"¦\",4.0]", "[5,null,5.0]", "[6,,6.0]"), s"splitBytes=$split: $all")
      val hit = read(t, schema, opts)(_.filter(col("s") === "has¦bar"))
      assert(hit == Seq("[2,has¦bar,2.5]"), s"splitBytes=$split: $hit")
      val neg = read(t, schema, opts)(_.filter(col("v") < 0.0))
      assert(neg == Seq("[3,ünï,-3.0]"), s"splitBytes=$split: $neg")
      val top = spark.read.format("graft-delim").schema(schema)
        .option("delimiter", "¦").option("splitBytes", split).load(t)
        .orderBy(col("v").desc).limit(2)
      val plan = top.queryExecution.executedPlan.toString
      assert(plan.contains("PushedTopN") && plan.contains("ColumnarToRow"), plan)
      assert(top.collect().map(_.toString).toSeq == Seq("[6,,6.0]", "[5,null,5.0]"))
    }
  }

  test("tombstoned compaction across a batch boundary keeps the exact survivors") {
    val t = s"${tempDir("delimcol-retire")}/t"
    // one file of 5,000 rows: 4,286 survive a delete of every 7th id
    // (one pushable IN, so a merge-on-read tombstone), more than one
    // 4,096-row batch; nulls and quoted values ride along
    (1L to 5000L).map { i =>
      (i, if (i % 11 == 0) null else s"n$i", i * 0.25)
    }.toDF("id", "s", "v")
      .withColumn("s", when(col("id") % 13 === 0, concat(col("s"), lit("|q\"x")))
        .otherwise(col("s")))
      .coalesce(1).write.format("graft-delim").mode("overwrite").save(t)
    spark.sql("DROP TABLE IF EXISTS graft_cat.default.col_retire")
    spark.sql(s"""CREATE TABLE graft_cat.default.col_retire
      (id BIGINT, s STRING, v DOUBLE) USING `graft-delim` LOCATION '$t'""")
    spark.sql("DELETE FROM graft_cat.default.col_retire WHERE id IN (" +
      (7L to 5000L by 7L).mkString(",") + ")")
    val before = DelimLog.readManifest(fs(t), new HPath(t)).get
    assert(before.tombstones.size == 1 && before.files.size == 1)
    DelimCompact.compact(spark, t, minFilesPerGroup = Int.MaxValue)
    val m = DelimLog.readManifest(fs(t), new HPath(t)).get
    assert(m.tombstones.isEmpty, "tombstone not retired")
    assert(m.files.size == 1 && m.files.head.rel != before.files.head.rel,
      s"expected one rewritten file, got ${m.files.map(_.rel)}")
    val expected = (1L to 5000L).filter(_ % 7 != 0).map { i =>
      val s =
        if (i % 11 == 0) null
        else if (i % 13 == 0) s"n$i|q\"x"
        else s"n$i"
      (i, s, i * 0.25)
    }
    val got = spark.read.format("graft-delim")
      .schema("id BIGINT, s STRING, v DOUBLE").load(t).orderBy("id")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSeq
    assert(got.size == 4286)
    assert(got == expected)
  }
}
