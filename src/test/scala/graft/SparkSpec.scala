package graft

import java.nio.file.{Files, Path}

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (one JVM, one session), built
  * by the same factory as every harness main. */
object SparkSpec {
  /** One root per test JVM for every spec's scratch dirs, deleted
    * recursively when the JVM exits (tests fork, so once per run). */
  private lazy val tempRoot: Path = {
    val root = Files.createTempDirectory("graft_spec")
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      val walk = Files.walk(root)
      try walk.sorted(java.util.Comparator.reverseOrder[Path]())
        .forEach(p => Files.deleteIfExists(p))
      catch { case _: java.io.IOException => () } // best effort at exit
      finally walk.close()
    }))
    root
  }

  /** A fresh scratch dir under the per-JVM root. */
  def tempDir(prefix: String): Path = Files.createTempDirectory(tempRoot, prefix)

  lazy val session: SparkSession = {
    // static conf read from `spark.*` system properties at session build:
    // bucketed-table specs write their catalog tables to a temp warehouse
    sys.props("spark.sql.warehouse.dir") = tempDir("graft_wh").toString
    val s = GraftSession.local(2)
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
}
