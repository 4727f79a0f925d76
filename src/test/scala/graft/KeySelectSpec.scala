package graft

import java.io.ByteArrayOutputStream

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Laws of the one key selector ([[SparkEntry.select]]) and of the one
  * CLI command that needs no session. No Spark session is built here. */
class KeySelectSpec extends AnyFunSuite {
  private val keys = Seq("q1", "b7", "q1b", "x2", "q10")

  test("an exact key selects only itself, not the longer keys it prefixes") {
    assert(SparkEntry.select("q1", keys) === Seq("q1"))
    assert(SparkEntry.select(" x2 ,q1b", keys) === Seq("q1b", "x2"))
  }

  test("a prefix expands to all its keys, in registry order") {
    assert(SparkEntry.select("q*", keys) === Seq("q1", "q1b", "q10"))
    assert(SparkEntry.select("q1*", keys) === Seq("q1", "q1b", "q10"))
    val registry = SparkEntry.queries.keys.toSeq
    assert(SparkEntry.select("q1*,m4_logreg") ===
      registry.filter(k => k.startsWith("q1") || k == "m4_logreg"))
    assert(SparkEntry.select("q1*").size > 1)
  }

  test("an entry that matches no key fails, naming it") {
    val e = intercept[IllegalArgumentException](SparkEntry.select("q1,q1x,zz*", keys))
    assert(e.getMessage.contains("'q1x'") && e.getMessage.contains("'zz*'"), e.getMessage)
    assert(!e.getMessage.contains("'q1'"), e.getMessage)
  }

  test("a non-key entry is not widened to a prefix; the failure counts what entry* would select") {
    val e = intercept[IllegalArgumentException](SparkEntry.select("q", keys))
    assert(e.getMessage.contains("'q' (q* would select 3)"), e.getMessage)
    val registry = SparkEntry.queries.keys.toSeq
    val q1 = intercept[IllegalArgumentException](SparkEntry.select("q1,m4_logreg"))
    assert(q1.getMessage.contains(
      s"'q1' (q1* would select ${registry.count(_.startsWith("q1"))})"), q1.getMessage)
  }

  test("an empty spec fails") {
    Seq("", " , ").foreach { spec =>
      intercept[IllegalArgumentException](SparkEntry.select(spec, keys))
    }
  }

  test("Cli keys prints the registry keys sorted and builds no session") {
    def sessions = (SparkSession.getActiveSession, SparkSession.getDefaultSession)
    val before = sessions
    val out = new ByteArrayOutputStream
    Console.withOut(out)(Cli.main(Array("keys")))
    assert(out.toString("UTF-8").linesIterator.toSeq ===
      SparkEntry.queries.keys.toSeq.sorted)
    assert(sessions === before)
  }
}
