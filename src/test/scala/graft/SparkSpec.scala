package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (one JVM, one session), built
  * by the same factory as every harness main. */
object SparkSpec {
  lazy val session: SparkSession = {
    // static conf read from `spark.*` system properties at session build:
    // bucketed-table specs write their catalog tables to a temp warehouse
    sys.props("spark.sql.warehouse.dir") =
      java.nio.file.Files.createTempDirectory("graft_wh").toString
    val s = GraftSession.local(2)
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
}
