package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared session per suite. */
trait SparkTestBase extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestBase.session
  def tempDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString
}

object SparkTestBase {
  /** The harness settings at a fixed `local[4]`, whatever width the
    * environment asks the harnesses for. */
  lazy val session: SparkSession = GraftSession.start(cpus = 4)
}
