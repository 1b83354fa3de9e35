package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one JVM-wide session keeps the
  * suite fast; `getOrCreate` reuses it across suites in the forked test
  * JVM). */
trait SparkTestBase extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestBase.session
  def sqlc = spark.sqlContext

  /** Fresh temp dir, deleted at JVM exit — specs must not accrete /tmp
    * litter across test runs (one hook drains a queue; never a hook per
    * call). */
  def tempDir(prefix: String): String =
    Fs.tempDirDeletedAtExit(prefix).toString
}

object SparkTestBase {
  lazy val session: SparkSession = GraftSession.session("graft-test")
}
