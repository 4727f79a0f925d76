package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession fixture for all specs. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
  val sfDir = "/root/testdata/sf0.001"
}

object SparkSpec {
  // One session for the whole test JVM (Test / fork := true): cuts startup
  // cost and mirrors how the driver harness runs queries back to back.
  // Built by the library's own factory, so tests run under the engine's
  // posture (4 shuffle partitions, UTC, nanos shim, extensions, codegen
  // cache size).
  lazy val session: SparkSession = GraftSession.builder("local[4]")
    .appName("graft-test")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
}
