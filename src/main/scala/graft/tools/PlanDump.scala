package graft.tools

/** Dumps the formatted physical plan of every SparkEntry query plus a
  * quick scan for the plan properties that matter at scale:
  * parquet pushdown (PushedFilters / ReadSchema), broadcast joins,
  * whole-stage codegen coverage, and partial (map-side) aggregation.
  *
  * Usage: runMain graft.tools.PlanDump [sfDir] [outFile] [name1,name2,...] [suffix]
  *
  * With the optional comma-separated name list, only those queries are
  * dumped and `outFile` is treated as a DIRECTORY receiving one
  * `<name><suffix>.txt` per query (the optimization rounds' committed
  * plan evidence: `plans/rNN/<query>_before.txt` / `_after.txt`).
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val outFile = args.lift(1).getOrElse("/tmp/plans.txt")
    val only = args.lift(2).map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val suffix = args.lift(3).getOrElse("")
    val spark = graft.GraftSession.builder("local[4]", 4)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val perQueryDir = only.map { _ =>
      val d = java.nio.file.Paths.get(outFile)
      java.nio.file.Files.createDirectories(d)
      d
    }
    val sb = new StringBuilder
    val summary = new StringBuilder
    graft.SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }
      .foreach { case (name, fn) =>
      try {
        val df = fn(spark, sfDir)
        val plan = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        sb.append(s"\n===== $name =====\n").append(plan)
        perQueryDir.foreach(d => java.nio.file.Files.writeString(
          d.resolve(s"$name$suffix.txt"), plan))
        val markers = Seq(
          "codegen" -> (plan.contains("codegen id") || plan.contains("WholeStageCodegen")),
          "broadcast_join" -> plan.contains("BroadcastHashJoin"),
          "smj" -> plan.contains("SortMergeJoin"),
          "partial_agg" -> plan.contains("partial_"),
          "pushed_filters" -> "PushedFilters: \\[[^\\]]".r.findFirstIn(plan).isDefined,
          "wgl" -> plan.contains("WindowGroupLimit"),
          "cartesian" -> (plan.contains("CartesianProduct") ||
            plan.contains("BroadcastNestedLoopJoin")))
        summary.append(f"$name%-28s ")
          .append(markers.collect { case (m, true) => m }.mkString(" "))
          .append("\n")
      } catch {
        case e: Throwable =>
          summary.append(f"$name%-28s ERROR ${e.getMessage.take(80)}\n")
      }
    }
    if (perQueryDir.isEmpty)
      java.nio.file.Files.writeString(java.nio.file.Paths.get(outFile), sb.toString)
    println(summary.toString)
    spark.stop()
  }
}
