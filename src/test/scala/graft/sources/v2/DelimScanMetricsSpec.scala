package graft.sources.v2

import java.util.concurrent.{CyclicBarrier, Executors, TimeUnit}

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._

import org.apache.spark.sql.functions._

import graft.SparkFunSuite

/** A graft-delim scan reports its pruning decisions as SQL metrics on
  * its own executed plan node, so queries running at the same time over
  * one table never see each other's numbers.
  */
class DelimScanMetricsSpec extends SparkFunSuite {
  import spark.implicits._

  test("8 concurrent pruned reads of one table each read their own files-kept count") {
    val t = s"${tempDir("scan-metrics-conc")}/t"
    // 8 partitions, one file each
    spark.range(0, 800).select($"id", concat(lit("p"), $"id" % 8).as("pc"))
      .coalesce(1)
      .write.format("graft-delim").option("partitionBy", "pc")
      .mode("overwrite").save(t)

    // query i keeps partitions i .. i+k-1 (mod 8), k = 1..4: eight
    // different IN-lists, four different kept counts
    val lists = (0 until 8).map(i => (0 until i % 4 + 1).map(j => (i + j) % 8))
    val pool = Executors.newFixedThreadPool(lists.size)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    val start = new CyclicBarrier(lists.size)
    try {
      val runs = lists.map { parts =>
        Future {
          start.await(60, TimeUnit.SECONDS)
          val df = spark.read.format("graft-delim")
            .schema("id BIGINT, pc STRING").load(t)
            .filter($"pc".isin(parts.map(p => s"p$p"): _*))
            .agg(sum($"id"))
          val got = df.collect().head.getLong(0)
          (parts, got, DelimScanMetrics.one(df))
        }
      }
      Await.result(Future.sequence(runs), 5.minutes).foreach {
        case (parts, got, m) =>
          val expect = (0L until 800L).filter(id => parts.contains((id % 8).toInt)).sum
          assert(got == expect, s"partitions $parts")
          assert(m.filesListed == 8 && m.filesKept == parts.size,
            s"partitions $parts read (listed, kept) = " +
              s"(${m.filesListed}, ${m.filesKept})")
      }
    } finally pool.shutdownNow()
  }

  test("an unexecuted plan reads all-zero metrics") {
    val t = s"${tempDir("scan-metrics-unexec")}/t"
    Seq((1L, "a"), (2L, "b")).toDF("id", "pc")
      .write.format("graft-delim").option("partitionBy", "pc")
      .mode("overwrite").save(t)
    val df = spark.read.format("graft-delim").schema("id BIGINT, pc STRING")
      .load(t).filter($"pc" === "a")
    val before = DelimScanMetrics.one(df)
    assert((before.filesListed, before.filesKept, before.splits) == (0L, 0L, 0L))
    df.collect()
    val after = DelimScanMetrics.one(df)
    assert((after.filesListed, after.filesKept, after.splits) == (2L, 1L, 1L))
  }
}
