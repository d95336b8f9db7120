package graft.sources

import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.functions._

import graft.SparkFunSuite
import graft.sources.v2.DelimLog

/** Certifies the graft-delim manifest GENERATION protocol added for the
  * table-format tier: versioned snapshot manifests claimed with
  * create-no-overwrite (concurrent-commit detection instead of silent
  * last-writer-wins), time travel (`versionAsOf`) over a retention
  * window (`retainVersions`), crash recovery (roll-forward of an orphan
  * claim), and per-generation writer schemas (schema evolution: a
  * column added later reads as null from older generations, with file
  * positions resolved BY NAME through each generation's recorded
  * layout).
  */
class DelimV2SnapshotSpec extends SparkFunSuite {
  import spark.implicits._

  private def fsFor(dir: String) =
    new HPath(dir).getFileSystem(spark.sessionState.newHadoopConf())

  test("time travel: versionAsOf reads each retained generation exactly") {
    val dir = tempDir("delimv2-timetravel")
    val t = s"$dir/t"
    Seq((1L, "one"), (2L, "two")).toDF("id", "name")
      .write.format("graft-delim").option("retainVersions", "3")
      .mode("overwrite").save(t)
    Seq((3L, "three")).toDF("id", "name")
      .write.format("graft-delim").mode("overwrite").save(t)
    Seq((4L, "four")).toDF("id", "name")
      .write.format("graft-delim").mode("append").save(t)
    def ids(opts: Map[String, String]): Set[Long] = {
      var r = spark.read.format("graft-delim").schema("id BIGINT, name STRING")
      opts.foreach { case (k, v) => r = r.option(k, v) }
      r.load(t).select("id").collect().map(_.getLong(0)).toSet
    }
    assert(ids(Map.empty) == Set(3L, 4L)) // current = gen 3
    assert(ids(Map("versionAsOf" -> "1")) == Set(1L, 2L))
    assert(ids(Map("versionAsOf" -> "2")) == Set(3L))
    assert(ids(Map("versionAsOf" -> "3")) == Set(3L, 4L))
    val err = intercept[Exception](ids(Map("versionAsOf" -> "99")))
    assert(err.getMessage.contains("versionAsOf"), err.getMessage)
    // retention policy is a TABLE property: carried by later commits
    // that did not re-specify it
    val m = DelimLog.readManifest(fsFor(t), new HPath(t)).get
    assert(m.retain == 3 && m.gen == 3L)
  }

  test("retention: expired generations' manifests AND files are reclaimed") {
    val dir = tempDir("delimv2-retention")
    val t = s"$dir/t"
    for (g <- 1 to 4)
      Seq((g.toLong, s"gen$g")).toDF("id", "name")
        .write.format("graft-delim").option("retainVersions", "2")
        .mode("overwrite").save(t)
    val fs = fsFor(t)
    assert(DelimLog.retainedVersions(fs, new HPath(t)) == Seq(3L, 4L))
    // gen 3 still time-travels (its file survived the gen-4 overwrite)
    val old = spark.read.format("graft-delim").schema("id BIGINT, name STRING")
      .option("versionAsOf", "3").load(t).collect()
    assert(old.map(_.getLong(0)).toSet == Set(3L))
    // gen 1/2 are expired: manifests gone, and only the retained
    // generations' data files remain on disk
    intercept[Exception] {
      spark.read.format("graft-delim").schema("id BIGINT, name STRING")
        .option("versionAsOf", "2").load(t).collect()
    }
    val dataFiles = new java.io.File(t).listFiles()
      .filter(f => f.isFile && !f.getName.startsWith("_") &&
        !f.getName.startsWith(".")).map(_.getName).toSet
    assert(dataFiles.size == 2, s"expected 2 retained data files, got $dataFiles")
  }

  test("concurrent committers: the claim race fails loudly, no silent file loss") {
    val dir = tempDir("delimv2-claimrace")
    val t = s"$dir/t"
    Seq((1L, 1.0)).toDF("id", "v")
      .write.format("graft-delim").mode("overwrite").save(t)
    val fs = fsFor(t)
    val hp = new HPath(t)
    val prev = DelimLog.readManifest(fs, hp).get
    // two committers both read generation 1 and race to claim 2:
    // the first claim wins ...
    DelimLog.commitManifest(fs, hp, prev.copy(gen = prev.gen + 1))
    // ... the second must fail loudly (this was the silent
    // last-writer-wins data-loss window of a bare read-modify-write)
    val e = intercept[java.util.ConcurrentModificationException] {
      DelimLog.commitManifest(fs, hp, prev.copy(gen = prev.gen + 1))
    }
    assert(e.getMessage.contains("already claimed"), e.getMessage)
  }

  /** 8 threads race `commitManifest` for the same next generation,
    * `rounds` times: exactly one wins each round, every loser gets the
    * "already claimed" error, and the pointer ends on the winner's
    * bytes. Each thread commits a distinct one-entry snapshot, so the
    * pointer names its writer. */
  private def claimRace(fs: org.apache.hadoop.fs.FileSystem, t: String,
      rounds: Int): Unit = {
    val hp = new HPath(t)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    try (1 to rounds).foreach { round =>
      val prev = DelimLog.readManifest(fs, hp).get
      val gen = prev.gen + 1
      val start = new java.util.concurrent.CountDownLatch(1)
      val results = (0 until 8).map { i =>
        pool.submit(new java.util.concurrent.Callable[Option[Throwable]] {
          def call(): Option[Throwable] = {
            start.await()
            try {
              DelimLog.commitManifest(fs, hp, prev.copy(gen = gen,
                files = Seq(DelimLog.ManifestEntry(i.toLong, gen, s"w$i.txt"))))
              None
            } catch { case e: Throwable => Some(e) }
          }
        })
      }
      start.countDown()
      val outcomes = results.map(_.get())
      val winners = outcomes.indices.filter(outcomes(_).isEmpty)
      assert(winners.size == 1, s"round $round: winners $winners, outcomes $outcomes")
      outcomes.flatten.foreach { e =>
        assert(e.isInstanceOf[java.util.ConcurrentModificationException] &&
          e.getMessage.contains("already claimed"), s"round $round: $e")
      }
      val now = DelimLog.readManifest(fs, hp).get
      assert(now.gen == gen && now.files.map(_.rel) == Seq(s"w${winners.head}.txt"),
        s"round $round: pointer at gen ${now.gen} lists ${now.files}")
    } finally pool.shutdownNow()
  }

  test("8 threads race each claim: exactly one wins, the pointer holds its bytes") {
    val t = s"${tempDir("delimv2-threadrace")}/t"
    Seq((1L, 1.0)).toDF("id", "v")
      .write.format("graft-delim").mode("overwrite").save(t)
    claimRace(fsFor(t), t, rounds = 50)
    // the same race through a Configuration carrying none of the
    // session's filesystem confs (Hadoop's default binds its checksummed
    // LocalFs): the commit pins graft's `file` AbstractFileSystem itself,
    // so the claim stays a compare-and-set and lands no `.crc` sidecar
    val plain = new org.apache.hadoop.conf.Configuration()
    assert(plain.get(graft.core.BareLocalFs.Key) == "org.apache.hadoop.fs.local.LocalFs")
    val fs = org.apache.hadoop.fs.FileSystem.newInstance(new HPath(t).toUri, plain)
    try claimRace(fs, t, rounds = 10) finally fs.close()
    val crc = new java.io.File(t).list().filter(_.endsWith(".crc"))
    assert(crc.isEmpty, crc.mkString(", "))
  }

  test("a write losing the claim race rolls back its promoted files") {
    val dir = tempDir("delimv2-raceroll")
    val t = s"$dir/t"
    Seq((1L, 1.0)).toDF("id", "v")
      .write.format("graft-delim").mode("overwrite").save(t)
    val fs = fsFor(t)
    val hp = new HPath(t)
    // steal the next generation between the writer's snapshot read and
    // its commit is not interceptable here; instead pre-claim gen 2 so
    // the APPEND below loses the race at its commit
    val prev = DelimLog.readManifest(fs, hp).get
    DelimLog.commitManifest(fs, hp, prev.copy(gen = prev.gen + 1))
    // make _manifest look like gen 1 again (the appender will read it
    // and try to claim gen 2, which is taken)
    DelimLog.recoverManifest(fs, hp) // no-op guard: pointer already at 2
    val mfBytes = java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$t/${DelimLog.ManifestFile}"))
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$t/${DelimLog.ManifestFile}"),
      new String(mfBytes, java.nio.charset.StandardCharsets.UTF_8)
        .replace("gen=2", "gen=1")
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val filesBefore = new java.io.File(t).listFiles()
      .filter(f => f.isFile && !f.getName.startsWith("_")).map(_.getName).toSet
    val e = intercept[Exception] {
      Seq((9L, 9.0)).toDF("id", "v")
        .write.format("graft-delim").mode("append").save(t)
    }
    assert(e.getMessage != null)
    val filesAfter = new java.io.File(t).listFiles()
      .filter(f => f.isFile && !f.getName.startsWith("_")).map(_.getName).toSet
    assert(filesAfter == filesBefore,
      s"loser's promoted files leaked: ${filesAfter -- filesBefore}")
  }

  test("crash recovery: a dead claim self-heals on the next commit; explicit repair works too") {
    val dir = tempDir("delimv2-crashrecover")
    val t = s"$dir/t"
    Seq((1L, 1.0)).toDF("id", "v")
      .write.format("graft-delim").mode("overwrite").save(t)
    val fs = fsFor(t)
    val hp = new HPath(t)
    // simulate a commit that died between its claim and the pointer
    // swap: the claimed version exists, the POINTER is gone (the crash
    // landed inside the swap window)
    val prev = DelimLog.readManifest(fs, hp).get
    val claimed = prev.copy(gen = prev.gen + 1)
    val vf = s"$t/${DelimLog.ManifestFile}.v${claimed.gen}"
    java.nio.file.Files.write(java.nio.file.Paths.get(vf),
      ("#graft-delim-manifest v2 multiline=false " +
        s"gen=${claimed.gen} retain=1\n" +
        prev.files.map(e => s"${e.len}\t${e.gen}\t${e.rel}").mkString("\n") +
        "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    // ... and the pointer is GONE (mid-swap), with an uncommitted
    // stray file on disk: readers must see the CLAIMED snapshot — a
    // recursive-listing fallback would surface the stray
    fs.delete(new HPath(t, DelimLog.ManifestFile), false)
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$t/stray.txt"),
      "999|9.9\n".getBytes(java.nio.charset.StandardCharsets.UTF_8))
    assert(spark.read.format("graft-delim").schema("id BIGINT, v DOUBLE")
      .load(t).collect().map(_.getLong(0)).toSet == Set(1L))
    // explicit repair rolls the stale pointer forward
    assert(DelimLog.recoverManifest(fs, hp).contains(claimed.gen))
    assert(DelimLog.recoverManifest(fs, hp).isEmpty) // idempotent
    // and the NEXT commit builds on the claimed snapshot and completes
    // normally (self-healing: no operator intervention required)
    Seq((2L, 2.0)).toDF("id", "v")
      .write.format("graft-delim").mode("append").save(t)
    val back = spark.read.format("graft-delim").schema("id BIGINT, v DOUBLE")
      .load(t).collect().map(_.getLong(0)).toSet
    assert(back == Set(1L, 2L))
    assert(DelimLog.readManifest(fs, hp).get.gen == claimed.gen + 1)
  }

  test("schema evolution: a column added later reads null from older generations") {
    val dir = tempDir("delimv2-evolve")
    val t = s"$dir/t"
    Seq((1L, "a"), (2L, "b")).toDF("id", "name")
      .write.format("graft-delim").mode("overwrite").save(t)
    Seq((3L, "c", 30.5)).toDF("id", "name", "score")
      .write.format("graft-delim").mode("append").save(t)
    val got = spark.read.format("graft-delim")
      .schema("id BIGINT, name STRING, score DOUBLE").load(t)
      .orderBy("id")
      .collect()
      .map(r => (r.getLong(0), r.getString(1),
        if (r.isNullAt(2)) null else r.getDouble(2)))
    assert(got.toSeq == Seq((1L, "a", null), (2L, "b", null), (3L, "c", 30.5)))
    // and the read plans per-generation field layouts, not a guess:
    // reordered columns in a later write still land by NAME
    Seq(("d", 4L, 40.0)).toDF("name", "id", "score")
      .write.format("graft-delim").mode("append").save(t)
    val got2 = spark.read.format("graft-delim")
      .schema("id BIGINT, name STRING, score DOUBLE").load(t)
      .where(col("id") === 4L).collect()
    assert(got2.length == 1 &&
      got2(0).getString(1) == "d" && got2(0).getDouble(2) == 40.0)
  }

  test("schema inference returns the manifest's recorded names and types") {
    val dir = tempDir("delimv2-inferrec")
    val t = s"$dir/t"
    Seq((1L, "a", 1.5)).toDF("doc_id", "label", "score")
      .write.format("graft-delim").mode("overwrite").save(t)
    val df = spark.read.format("graft-delim").load(t)
    assert(df.schema.fieldNames.toSeq == Seq("doc_id", "label", "score"))
    assert(df.schema("doc_id").dataType.typeName == "long")
    assert(df.schema("score").dataType.typeName == "double")
    assert(df.collect().map(_.getLong(0)).toSet == Set(1L))
  }

  test("legacy positional contract survives: a fully renamed read maps by position") {
    val dir = tempDir("delimv2-renamedread")
    val t = s"$dir/t"
    Seq((7L, "x")).toDF("id", "name")
      .write.format("graft-delim").mode("overwrite").save(t)
    val got = spark.read.format("graft-delim")
      .schema("k BIGINT, v STRING").load(t).collect()
    assert(got.length == 1 && got(0).getLong(0) == 7L && got(0).getString(1) == "x")
  }

  test("ALTER TABLE ADD COLUMN evolves a catalog table; old rows read null") {
    val dir = tempDir("delimv2-altertable")
    val t = s"$dir/t"
    spark.sql("DROP TABLE IF EXISTS graft_cat.default.evolve_t")
    spark.sql(s"""CREATE TABLE graft_cat.default.evolve_t
      (id BIGINT, name STRING)
      USING `graft-delim` LOCATION '$t'""")
    spark.sql("INSERT INTO graft_cat.default.evolve_t VALUES (1, 'a'), (2, 'b')")
    spark.sql("ALTER TABLE graft_cat.default.evolve_t ADD COLUMN score DOUBLE")
    spark.sql("INSERT INTO graft_cat.default.evolve_t " +
      "VALUES (3, 'c', CAST(30.5 AS DOUBLE))")
    val got = spark.sql(
      "SELECT id, name, score FROM graft_cat.default.evolve_t ORDER BY id")
      .collect()
      .map(r => (r.getLong(0), r.getString(1),
        if (r.isNullAt(2)) null else r.getDouble(2)))
    assert(got.toSeq == Seq((1L, "a", null), (2L, "b", null), (3L, "c", 30.5)))
    // rename rides the stable field IDs (round 19): zero rewrites,
    // and EVERY generation answers under the new name
    spark.sql(
      "ALTER TABLE graft_cat.default.evolve_t RENAME COLUMN name TO label")
    val renamed = spark.sql(
      "SELECT id, label FROM graft_cat.default.evolve_t ORDER BY id")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(renamed == Seq((1L, "a"), (2L, "b"), (3L, "c")))
    spark.sql("DROP TABLE graft_cat.default.evolve_t")
  }

  test("compaction merges per-partition files; content identical; one file per partition") {
    val dir = tempDir("delimv2-compact")
    val t = s"$dir/t"
    // three appends accumulate three files per partition value
    for (g <- 0 until 3)
      Seq((g * 2L, "a"), (g * 2L + 1L, "b")).toDF("id", "pc")
        .repartition(1)
        .write.format("graft-delim").option("partitionBy", "pc")
        .mode(if (g == 0) "overwrite" else "append").save(t)
    val fs = fsFor(t)
    val hp = new HPath(t)
    val before = DelimLog.readManifest(fs, hp).get
    assert(before.files.size == 6, s"expected 6 files, got ${before.files}")
    val beforeRows = spark.read.format("graft-delim")
      .schema("id BIGINT, pc STRING").load(t)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val newGen = graft.sources.v2.DelimCompact.compact(spark, t)
    val after = DelimLog.readManifest(fs, hp).get
    assert(after.gen == newGen && newGen == before.gen + 1)
    assert(after.files.size == 2,
      s"one file per partition expected, got ${after.files}")
    val afterRows = spark.read.format("graft-delim")
      .schema("id BIGINT, pc STRING").load(t)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(afterRows == beforeRows)
    // replaced small files physically reclaimed (default retention 1)
    val disk = new java.io.File(s"$t/pc=a").listFiles()
      .filter(f => !f.getName.startsWith(".")).map(_.getName)
    assert(disk.length == 1, s"small files not reclaimed: ${disk.toSeq}")
    // idempotent: nothing left to compact
    assert(graft.sources.v2.DelimCompact.compact(spark, t) == newGen)
  }

  test("compaction respects layout boundaries across schema evolution") {
    val dir = tempDir("delimv2-compactlayout")
    val t = s"$dir/t"
    Seq((1L, "a")).toDF("id", "name")
      .write.format("graft-delim").mode("overwrite").save(t)
    Seq((2L, "b")).toDF("id", "name")
      .write.format("graft-delim").mode("append").save(t)
    Seq((3L, "c", 3.5)).toDF("id", "name", "score")
      .write.format("graft-delim").mode("append").save(t)
    Seq((4L, "d", 4.5)).toDF("id", "name", "score")
      .write.format("graft-delim").mode("append").save(t)
    graft.sources.v2.DelimCompact.compact(spark, t)
    val fs = fsFor(t)
    val m = DelimLog.readManifest(fs, new HPath(t)).get
    assert(m.files.size == 2,
      s"expected one file per layout, got ${m.files}")
    val got = spark.read.format("graft-delim")
      .schema("id BIGINT, name STRING, score DOUBLE").load(t)
      .orderBy("id").collect()
      .map(r => (r.getLong(0), r.getString(1),
        if (r.isNullAt(2)) null else r.getDouble(2)))
    assert(got.toSeq == Seq((1L, "a", null), (2L, "b", null),
      (3L, "c", 3.5), (4L, "d", 4.5)))
  }

  test("pre-compaction snapshot still time-travels inside the retention window") {
    val dir = tempDir("delimv2-compacttravel")
    val t = s"$dir/t"
    Seq((1L, "a")).toDF("id", "name")
      .write.format("graft-delim").option("retainVersions", "2")
      .mode("overwrite").save(t)
    Seq((2L, "b")).toDF("id", "name")
      .write.format("graft-delim").mode("append").save(t)
    val preGen = DelimLog.readManifest(fsFor(t), new HPath(t)).get.gen
    graft.sources.v2.DelimCompact.compact(spark, t)
    val old = spark.read.format("graft-delim").schema("id BIGINT, name STRING")
      .option("versionAsOf", preGen.toString).load(t)
      .collect().map(_.getLong(0)).toSet
    assert(old == Set(1L, 2L),
      "pre-compaction snapshot must stay readable inside retention")
    val cur = spark.read.format("graft-delim").schema("id BIGINT, name STRING")
      .load(t).collect().map(_.getLong(0)).toSet
    assert(cur == Set(1L, 2L))
  }

  test("SQL VERSION AS OF reads a retained snapshot through the catalog") {
    val dir = tempDir("delimv2-sqltravel")
    val t = s"$dir/t"
    spark.sql("DROP TABLE IF EXISTS graft_cat.default.travel_t")
    spark.sql(s"""CREATE TABLE graft_cat.default.travel_t
      (id BIGINT, name STRING)
      USING `graft-delim` LOCATION '$t'
      OPTIONS (retainVersions '3')""")
    spark.sql("INSERT INTO graft_cat.default.travel_t VALUES (1, 'a')")
    spark.sql("INSERT INTO graft_cat.default.travel_t VALUES (2, 'b')")
    spark.sql("DELETE FROM graft_cat.default.travel_t WHERE id = 1")
    def ids(q: String): Set[Long] =
      spark.sql(q).collect().map(_.getLong(0)).toSet
    assert(ids("SELECT id FROM graft_cat.default.travel_t") == Set(2L))
    assert(ids(
      "SELECT id FROM graft_cat.default.travel_t VERSION AS OF 1") == Set(1L))
    assert(ids(
      "SELECT id FROM graft_cat.default.travel_t VERSION AS OF 2") == Set(1L, 2L))
    val e = intercept[Exception](ids(
      "SELECT id FROM graft_cat.default.travel_t VERSION AS OF 99").size)
    assert(e.getMessage.contains("versionAsOf"), e.getMessage)
    spark.sql("DROP TABLE graft_cat.default.travel_t")
  }

  test("catalog listTables/namespaces key by components, not string prefixes") {
    val cat = spark.sessionState.catalogManager.catalog("graft_cat")
      .asInstanceOf[graft.sources.v2.GraftCatalog]
    val dir = tempDir("delimv2-nskeys")
    import org.apache.spark.sql.connector.catalog.Identifier
    import org.apache.spark.sql.types.StructType
    val schema = StructType.fromDDL("id BIGINT")
    def props(p: String) = {
      val m = new java.util.HashMap[String, String]()
      m.put("option.path", p)
      m
    }
    cat.createTable(Identifier.of(Array("a"), "b.c"), schema,
      Array.empty, props(s"$dir/t1"))
    cat.createTable(Identifier.of(Array("a", "b"), "c"), schema,
      Array.empty, props(s"$dir/t2"))
    val inA = cat.listTables(Array("a")).map(_.name()).toSet
    val inAB = cat.listTables(Array("a", "b")).map(_.name()).toSet
    assert(inA == Set("b.c"), s"namespace [a] leaked: $inA")
    assert(inAB == Set("c"), s"namespace [a,b] leaked: $inAB")
    cat.dropTable(Identifier.of(Array("a"), "b.c"))
    cat.dropTable(Identifier.of(Array("a", "b"), "c"))
  }
}
