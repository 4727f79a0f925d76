package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Helpers several query families use verbatim, in one place. A family
  * whose copy differs (a wider daily series, say) keeps its own. */
object Shared {

  /** A fresh scratch dir `graft_{tag}_{8 hex}` under the temp dir,
    * deleted with everything in it when the JVM exits. */
  def scratch(tag: String): java.io.File = {
    val root = new java.io.File(sys.props("java.io.tmpdir"),
      s"graft_${tag}_${java.util.UUID.randomUUID().toString.take(8)}")
    graft.QueryGuard.deleteRecOnExit(root)
    root
  }

  /** Run `body` with the session confs `kvs` set, then put each key
    * back — its prior value, or unset if it had none — whether the
    * body returned or threw: the drives share one session, so a
    * query's confs must not outlive it. */
  def withConf[T](s: SparkSession, kvs: (String, String)*)(body: => T): T = {
    val prev = kvs.map { case (k, _) => k -> s.conf.getOption(k) }
    try {
      kvs.foreach { case (k, v) => s.conf.set(k, v) }
      body
    } finally prev.foreach {
      case (k, Some(v)) => s.conf.set(k, v)
      case (k, None)    => s.conf.unset(k)
    }
  }

  /** The two years the year-over-year decompositions compare. */
  val Y0 = 1996
  val Y1 = 1997

  /** 24-bit integer hash of `key` from six md5 nibbles — portable
    * across engines. */
  def hSql(key: String): String =
    "(" + (1 to 6).map { i =>
      s"(instr('0123456789abcdef', substr(md5($key), $i, 1)) - 1) * ${1L << (4 * (6 - i))}"
    }.mkString(" + ") + ")"

  /** md5-uniform in (0,1): 6 hex nibbles / 2^24, shifted off exact 0
    * (the integer-nibble idiom — reproducible on both engines). */
  def unifSql(key: String): String =
    "((" + (1 to 6).map { i =>
      s"(instr('0123456789abcdef', substr(md5($key), $i, 1)) - 1) * ${1L << (4 * (6 - i))}"
    }.mkString(" + ") + " + 0.5) / 16777216.0)"

  /** Whole dollars derived from exact cents (2-decimal money snaps to
    * an integer under *100+0.5; /100.0 is correctly-rounded IEEE so
    * floor lands identically on both engines). */
  val dollarsSql =
    "CAST(floor(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) / 100.0) AS BIGINT)"

  /** The daily order series (t = days since 1992-01-01, y = orders that
    * day), and its oracle SQL twin [[dailySql]]. */
  def daily(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .select(datediff(col("o_orderdate").cast("date"),
        lit("1992-01-01").cast("date")).cast("long").as("t"))
      .groupBy("t").agg(count(lit(1)).as("y"))

  val dailySql =
    """SELECT CAST(date_diff('day', DATE '1992-01-01',
      |    CAST(o_orderdate AS DATE)) AS BIGINT) AS t,
      |  CAST(count(*) AS BIGINT) AS y
      |FROM orders GROUP BY 1""".stripMargin
}
