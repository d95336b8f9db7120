package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.certs.Cert

/** The query surface other programs call: `entry`, `queries` and
  * `oracleSql` are views over the certification registry (`Cert.all`).
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q1_agg")(spark, "/root/testdata/sf0.001")

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    Cert.all.map(c => c.name -> c.run).toMap

  def oracleSql: Map[String, String] = Cert.all.map(c => c.name -> c.oracle).toMap
}
