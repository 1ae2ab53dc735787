package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared SparkSession fixture for all suites, built through
  * [[Engine.local]] like every main: small local parallelism, the
  * engine's session configs (UTC to match the DuckDB oracle session, SQL
  * extensions), AQE left on (the production config under test).
  */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSpec.session

  /** Rows as a sorted set of plain seqs — order-free comparison. */
  def rowsOf(df: org.apache.spark.sql.DataFrame): Set[Seq[Any]] =
    df.collect().map(_.toSeq).toSet
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = Engine.local(cpus = 4, shufflePartitions = 4).appName("graft-test").getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
