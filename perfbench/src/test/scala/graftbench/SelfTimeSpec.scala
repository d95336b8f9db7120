package graftbench

import org.scalatest.funsuite.AnyFunSuite

class SelfTimeSpec extends AnyFunSuite {

  test("covered is the clipped union of intervals") {
    assert(SelfTime.covered(0, 100, Nil) == 0.0)
    assert(SelfTime.covered(0, 100, Seq((10.0, 20.0), (15.0, 30.0), (50.0, 60.0))) == 30.0)
    assert(SelfTime.covered(20, 55, Seq((10.0, 30.0), (50.0, 60.0))) == 15.0)
    assert(SelfTime.covered(0, 10, Seq((20.0, 30.0))) == 0.0)
  }

  test("self time excludes children and own jobs; the parts add up to the root") {
    val spans = Seq(
      Span(1, "op", "client", 0, 0, 0, 100),
      Span(2, "a", "core", 0, 1, 10, 40),
      Span(3, "b", "ext", 0, 1, 50, 90))
    val jobs = Seq(
      JobSpan(1, 1, 40, 50), // the root's own job, between the children
      JobSpan(2, 2, 15, 35),
      JobSpan(3, 3, 60, 95), // runs past its span: clipped
      JobSpan(4, 3, 70, 80)) // overlaps job 3: counted once
    val st = SelfTime(spans, jobs)
    assert(st(1) == ((20.0, 10.0)))
    assert(st(2) == ((10.0, 20.0)))
    assert(st(3) == ((10.0, 30.0)))
    assert(st.values.map { case (s, j) => s + j }.sum == 100.0)
  }

  test("the tracer records nested spans with parents only while active") {
    var current = List.empty[Long]
    val tr = new Tracer(id => current ::= id)
    tr.span("x", "core")(())
    assert(tr.spans.isEmpty && current.isEmpty)
    tr.active = true
    tr.setOp(7)
    tr.span("op", "client") { tr.span("call", "v2")(()) }
    val Seq(inner, outer) = tr.spans
    assert(outer.parent == 0 && inner.parent == outer.id && inner.opId == 7)
    assert(inner.start >= outer.start && inner.end <= outer.end)
    assert(current.reverse == List(outer.id, inner.id, outer.id, 0L))
  }

  test("call sites name the innermost graft function") {
    val site = Seq(
      "org.apache.spark.sql.Dataset.collect(Dataset.scala:1)",
      "graft.ext.Dedup$.step$1(Dedup.scala:700)",
      "graft.ext.Dedup$.$anonfun$connectedComponentsWithStats$3(Dedup.scala:690)",
      "graft.ext.Dedup$.nearDupClusters(Dedup.scala:860)",
      "graftbench.DedupWorkload.run(Workloads.scala:1)").mkString("\n")
    val frames = CallSite.graftFrames(site)
    assert(frames.map(_.method) == Seq("step", "connectedComponentsWithStats", "nearDupClusters"))
    assert(frames.head.module == "ext" && frames.head.obj == "Dedup")
    assert(CallSite.normalize("report$lzycompute") == "report")
  }

  test("a write's output path is read from its plan, in either explain mode") {
    val formatted = Seq(
      "== Physical Plan ==",
      "Execute InsertIntoHadoopFsRelationCommand (3)",
      "+- WriteFiles (2)",
      "   +- Scan parquet  (1)",
      "(1) Scan parquet ",
      "Location: InMemoryFileIndex [file:/d/source/orders]",
      "(3) Execute InsertIntoHadoopFsRelationCommand",
      "Input [2]: [table#1, cnt#2L]",
      "Arguments: file:/d/reports/MatchedData, false, CSV, [header=true, path=/d/reports/MatchedData]"
    ).mkString("\n")
    assert(Probe.outputOf(formatted).contains("file:/d/reports/MatchedData"))
    assert(Probe.outputOf("Execute InsertIntoHadoopFsRelationCommand file:/d/out, false, CSV")
      .contains("file:/d/out"))
    assert(Probe.outputOf("Scan parquet [file:/d/source/orders]").isEmpty)
  }
}
