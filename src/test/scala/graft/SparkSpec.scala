package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for specs — one per suite, small parallelism,
  * built by the same factory the gate and the bench use. */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = Sessions.local(4)

  val sf: String = "/root/testdata/sf0.001"
}
