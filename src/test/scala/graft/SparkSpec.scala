package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** One shared local SparkSession across all suites (session startup is ~5s;
  * per-suite sessions would dominate test time).
  */
object TestSession {
  lazy val spark: SparkSession = Session.local(4)
  val sf: String = "/root/testdata/sf0.001"
}

abstract class SparkSpec extends AnyFunSuite {
  protected lazy val spark: SparkSession = TestSession.spark
  protected val sf: String = TestSession.sf
}
