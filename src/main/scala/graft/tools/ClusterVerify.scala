package graft.tools

/** Serialization-boundary certification (round-10 verdict ask #1): run
  * the verify surface under `local-cluster[2, 16, 4096]` — 2 SEPARATE
  * executor JVMs launched through the standalone worker path, so every
  * task closure, broadcast, custom Catalyst expression
  * (graft.functions), and state store instance crosses a REAL
  * process/serialization boundary instead of local[N]'s in-JVM
  * shortcut. This is the one layer local-mode green never exercised:
  * a TaskNotSerializableException or Kryo surprise shows up here first,
  * before a real cluster.
  *
  * Usage (scripts/cluster_verify.sh drives it):
  *   sbt "runMain graft.tools.ClusterVerify <sfDir> <outDir> [name…]"
  * then scripts/check_oracle.py <sfDir> <outDir> for the DuckDB gate.
  * Requires SPARK_HOME (the worker launches executor JVMs through the
  * Spark dist's launcher); the forked JVM's own classpath is handed to
  * the executors so graft classes resolve there.
  */
object ClusterVerify {
  def main(args: Array[String]): Unit = {
    val sfDir = args.lift(0).getOrElse("/root/testdata/sf0.01")
    val outDir = args.lift(1).getOrElse("/tmp/graft_cluster_verify")
    val names = args.drop(2).toSet
    require(sys.env.contains("SPARK_HOME"),
      "local-cluster mode needs SPARK_HOME to launch executor JVMs")
    // executors are fresh JVMs: they need graft classes (this JVM's
    // classpath) and the JDK17 module opens the launcher adds for known
    // Spark entry points but not for arbitrary extra classpaths
    val addOpens = Seq(
      "java.base/java.lang", "java.base/java.lang.invoke",
      "java.base/java.lang.reflect", "java.base/java.io",
      "java.base/java.net", "java.base/java.nio",
      "java.base/java.util", "java.base/java.util.concurrent",
      "java.base/java.util.concurrent.atomic",
      "java.base/sun.nio.ch", "java.base/sun.nio.cs",
      "java.base/sun.security.action", "java.base/sun.util.calendar"
    ).map(p => s"--add-opens=$p=ALL-UNNAMED").mkString(" ")
    val spark = graft.GraftSession.builder("local-cluster[2,16,4096]", 32)
      .config("spark.executor.extraClassPath", sys.props("java.class.path"))
      .config("spark.executor.extraJavaOptions", addOpens)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val certs = graft.certs.Cert.all.filter(c => names.isEmpty || names(c.name))
    // sanity: the session must actually be multi-process — 2 executors
    // registered, and a trivial job must NOT run in this JVM
    val execs = spark.sparkContext.statusTracker.getExecutorInfos
      .map(_.host()).length
    val driverPid = ProcessHandle.current().pid()
    val taskPids = spark.sparkContext.parallelize(1 to 32, 32)
      .map(_ => ProcessHandle.current().pid()).distinct().collect().sorted
    println(s"CLUSTER: executorInfos=$execs driverPid=$driverPid " +
      s"taskPids=${taskPids.mkString(",")}")
    require(!taskPids.contains(driverPid) && taskPids.length >= 2,
      s"expected tasks in 2 separate executor JVMs, got pids " +
        s"${taskPids.mkString(",")} (driver $driverPid)")
    val failures = graft.Verify.run(spark, sfDir, outDir, certs)
    spark.stop()
    if (failures.nonEmpty) {
      System.err.println(s"CLUSTER VERIFY FAILURES (${failures.size}):")
      failures.foreach { case (n, e) => System.err.println(s"  $n: $e") }
      sys.exit(1)
    }
    println(s"CLUSTER VERIFY OK: ${certs.size} queries under " +
      "local-cluster[2,16,4096]")
  }
}
