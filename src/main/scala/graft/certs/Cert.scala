package graft
package certs

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One certification: a named query over a fixture directory, the DuckDB
  * SQL that must return the same rows, and its declared tier. `stream`
  * says whether running the query starts a StreamingQuery; Verify and
  * Bench check the declaration against what the run actually does.
  *
  * Column names are aliased identically on both sides (the compare sorts
  * columns by name before hashing), and aggregates over doubles are
  * rounded to 2 decimals on both sides so summation-order noise cannot
  * flip the hash. The name is also the query's Verify dump directory.
  */
final case class Cert(name: String, oracle: String, stream: Boolean = false)(
    val run: (SparkSession, String) => DataFrame)

object Cert {

  /** A cert whose run writes under its own scratch directory
    * (`CertSupport.scratchDir(name)`, passed to `run` as its third
    * argument), so the name is written once.
    */
  def scratch(name: String, oracle: String, stream: Boolean = false)(
      run: (SparkSession, String, String) => DataFrame): Cert =
    Cert(name, oracle, stream)((s, dir) => run(s, dir, CertSupport.scratchDir(name)))

  /** The registry: every certification, grouped by domain. */
  lazy val all: Seq[Cert] =
    ReconcileCerts.all ++ RelationalCerts.all ++ DedupCerts.all ++
      SimilarityCerts.all ++ TextCerts.all ++ StreamCerts.all ++
      DelimV2Certs.all ++ AsOfCerts.all
}

/** The declared-tier check. onQueryStarted is delivered synchronously on
  * the thread that starts a StreamingQuery, so after a cert's run returns
  * the listener knows whether the run started one. A disagreement with
  * the cert's `stream` flag is reported, never silently reclassified.
  */
final class TierCheck(spark: SparkSession) {
  private val started = new java.util.concurrent.atomic.AtomicBoolean(false)
  private val listener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
      started.set(true)
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }
  spark.streams.addListener(listener)

  /** Forget earlier runs; call before each cert's run. */
  def reset(): Unit = started.set(false)

  /** The tier mismatch of `c`'s run since the last `reset`, if any. */
  def mismatch(c: Cert): Option[String] =
    if (started.get == c.stream) None
    else if (c.stream) Some("declared stream but started no StreamingQuery")
    else Some("declared batch but started a StreamingQuery")

  def close(): Unit = spark.streams.removeListener(listener)
}
