package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Negative + positive controls for the scale-slope gate (VERDICT r10
  * item 1): the decision logic is unit-tested, and a DELIBERATELY
  * quadratic query is driven through the same two-SF timing path the
  * Tripwire slope mode uses, proving the gate can actually fail — the
  * property the 30 s ceiling and the static plan audit cannot check.
  * A linear control on the identical path proves it does not cry wolf.
  */
class ScaleSlopeSpec extends SparkSpec {

  private val smallDir = "/root/testdata/sf0.001"
  private val largeDir = "/root/testdata/sf0.01"

  test("SlopeGate.breach flags super-linear growth and only that") {
    // genuine quadratic: 0.5s -> 50s at 10x data
    assert(SlopeGate.breach(0.5, 50.0))
    // linear with 3x headroom: 0.5s -> 15s is exactly the cap boundary
    assert(!SlopeGate.breach(0.5, 15.0))
    // overhead floor: a 10ms query jumping to 1s is noise, not slope
    assert(!SlopeGate.breach(0.01, 1.0))
    // ...but the floor does not hide a real blowup
    assert(SlopeGate.breach(0.01, 6.5))
    // custom cap propagates
    assert(SlopeGate.breach(1.0, 11.0, cap = 10.0))
    assert(!SlopeGate.breach(1.0, 9.0, cap = 10.0))
  }

  /** Deliberately quadratic: an all-pairs theta join over `orders`
    * (1.5k rows at sf0.001 → 15k at sf0.01 = 100× the pairs) with a
    * per-pair md5 chain heavy enough (~1.5 µs/pair) that genuine work,
    * not fixed overhead, dominates both walls. The streamed side is
    * spread over the session's 4 cores (each fixture is one file, so it
    * would otherwise scan as one partition and run the pair loop on one
    * core): the pair loop's wall falls to a quarter, and the ratio of
    * the two walls stays that of the pair counts. A lighter chain does
    * not work: the small run has ~0.5 s of fixed cost (planning, the
    * broadcast, four jobs), so its wall stops shrinking with the chain
    * and the large run falls below twice the breach threshold. NEVER registered
    * in SparkEntry — it exists to prove the gate bites. */
  private def quadratic(dir: String): DataFrame = {
    val o = Tables.orders(spark, dir).select(col("o_orderkey").as("k"))
    o.repartition(4).as("a").join(o.as("b"),
        (col("a.k") + col("b.k")) % 7 =!= 3) // non-equi: no hash path
      .select(md5(concat(md5(concat_ws(":", col("a.k"), col("b.k"))),
        md5(concat_ws("-", col("b.k"), col("a.k"))))).as("h"))
      .agg(count(when(substring(col("h"), 1, 2) === "00", 1)).as("n"))
  }

  /** Linear control: the q1 scan-agg shape through the same path. */
  private def linear(dir: String): DataFrame =
    spark.read.parquet(s"$dir/lineitem.parquet")
      .groupBy("l_returnflag").agg(sum("l_quantity").as("s"))

  private def wallOf(df: => DataFrame): Double = {
    val t0 = System.nanoTime()
    df.write.format("noop").mode("overwrite").save()
    (System.nanoTime() - t0) / 1e9
  }

  test("a quadratic query breaches the slope gate; a linear one does not") {
    // same discipline as Tripwire slope mode: small first, then large,
    // so the large run is the warmer of the two. One untimed warmup of
    // each small plan first so JIT/codegen overhead does not inflate
    // wSmall (which would RAISE the breach threshold — the warmup is
    // anti-conservative for the negative control and conservative for
    // the linear one).
    wallOf(linear(smallDir))
    val lw1 = wallOf(linear(smallDir))
    val lw2 = wallOf(linear(largeDir))
    assert(!SlopeGate.breach(lw1, lw2),
      f"linear control false-positived: $lw1%.2fs -> $lw2%.2fs")
    wallOf(quadratic(smallDir))
    val qw1 = wallOf(quadratic(smallDir))
    val qw2 = wallOf(quadratic(largeDir))
    info(f"linear $lw1%.2fs -> $lw2%.2fs; quadratic $qw1%.2fs -> $qw2%.2fs, " +
      f"breach threshold ${SlopeGate.DefaultCap * math.max(qw1, SlopeGate.DefaultFloorS)}%.2fs")
    assert(SlopeGate.breach(qw1, qw2),
      f"quadratic control NOT flagged: $qw1%.2fs -> $qw2%.2fs " +
        f"(cap ${SlopeGate.DefaultCap}%.0f, floor ${SlopeGate.DefaultFloorS}%.1fs)")
  }
}
