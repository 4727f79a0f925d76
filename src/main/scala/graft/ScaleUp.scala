package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic 10× fixture scale-up: reads the driver-generated sf0.1
  * tables and writes an sf1-shaped decade under `target/sf1` (inside
  * the repo — /root/testdata is read-only). This exists for ONE
  * purpose: a third measured decade for the slope tripwire (VERDICT
  * r11 item 5) — the 100 TB claim otherwise rests on decades ending at
  * 600 k rows, below broadcast-threshold / spill cliffs the plan audit
  * cannot see. It is never oracle-checked and never a correctness
  * input.
  *
  * Construction (seedless and replayable — every transform is a pure
  * function of (row, copy index)):
  *  - region/nation: copied through — bounded dimensions stay bounded.
  *  - customer/supplier/part/orders/lineitem/events: 10 copies with
  *    per-domain key STRIDES (all strides far above the sf0.1 maxima),
  *    shifted CONSISTENTLY across fact/dim so FK joins stay intact;
  *    values/dates/timestamps unchanged (event density ×10 per hour —
  *    what a real 10× traffic scale-up looks like).
  *  - documents: copy c > 0 suffixes every token with "xC", so
  *    WITHIN-copy near-dup/text structure is bit-preserved while
  *    CROSS-copy token sets are disjoint — candidate volumes in lj2/
  *    lj3/ls3 scale exactly linearly instead of quadratically in the
  *    copy count (10 exact clones of the corpus would manufacture
  *    ~100× candidates and measure the FIXTURE, not the operator).
  *  - embeddings: copy c applies the diagonal ±1 rotation
  *    sign(c, j) = −1 iff bit (j mod 4) of c is set. Norms and all
  *    WITHIN-copy dot products are preserved exactly (both vectors get
  *    the same flips) while cross-copy cosines decorrelate — the same
  *    linearity argument for the ANN/cosine family.
  *
  * Usage: runMain graft.ScaleUp [srcDir] [outDir] [copies]
  */
object ScaleUp {
  private def replicated(base: DataFrame, copies: Int)(
      shift: (DataFrame, Int) => DataFrame): DataFrame =
    (0 until copies).map(c => shift(base, c)).reduce(_ unionByName _)

  /** The lineitem decade transform, exposed for the bench's scale probe
    * (the probe derives a multi-file decade per run; /root/testdata is
    * read-only). Same strides as the CLI path below. */
  def scaledLineitem(spark: SparkSession, srcDir: String, copies: Int): DataFrame =
    replicated(Tables.lineitem(spark, srcDir), copies) { (t, c) =>
      t.withColumn("l_orderkey", col("l_orderkey") + lit(c * 10000000L))
        .withColumn("l_partkey", col("l_partkey") + lit(c * 1000000L))
        .withColumn("l_suppkey", col("l_suppkey") + lit(c * 1000000L))
    }

  /** The events decade transform, exposed for the bench's scale probe. */
  def scaledEvents(spark: SparkSession, srcDir: String, copies: Int): DataFrame =
    replicated(Tables.events(spark, srcDir), copies) { (t, c) =>
      t.withColumn("event_id", col("event_id") + lit(c * 100000000L))
        .withColumn("user_id", col("user_id") + lit(c * 1000000L))
    }

  /** The embeddings transform (norm-preserving diagonal ±1 rotation per
    * copy — see the construction note above), exposed for the bench's
    * scale probe: q9's pair loop is the one headline kernel whose work
    * is CPU-bound enough (O(n²·dim)) to demonstrate core-count scaling. */
  def scaledEmbeddings(spark: SparkSession, srcDir: String, copies: Int): DataFrame =
    replicated(Tables.embeddings(spark, srcDir), copies) { (t, c) =>
      if (c == 0) t
      else t.withColumn("vec_id", col("vec_id") + lit(c * 100000000L))
        .withColumn("embedding",
          expr(s"""transform(embedding, (x, j) ->
            CASE WHEN ((int($c) >> (j % 4)) & 1) = 1
              THEN -x ELSE x END)"""))
    }

  def main(args: Array[String]): Unit = {
    val srcDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val outDir = args.lift(1).getOrElse("target/sf1")
    val copies = args.lift(2).map(_.toInt).getOrElse(10)
    val spark = GraftSession.mainBuilder(8).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    def write(df: DataFrame, name: String): Unit = {
      df.write.mode("overwrite").parquet(s"$outDir/$name.parquet")
      System.err.println(s"[scaleup] $name written")
    }
    def replicate(base: DataFrame)(shift: (DataFrame, Int) => DataFrame): DataFrame =
      (0 until copies).map(c => shift(base, c)).reduce(_ unionByName _)

    // bounded dims: straight copies
    write(Tables.region(spark, srcDir), "region")
    write(Tables.nation(spark, srcDir), "nation")

    val C = 1000000L      // customer stride
    val S = 1000000L      // supplier stride
    val P = 1000000L      // part stride
    val O = 10000000L     // order stride
    val E = 100000000L    // event stride
    val U = 1000000L      // user stride
    val D = 100000000L    // doc stride
    val V = 100000000L    // vector stride

    write(replicate(Tables.customer(spark, srcDir)) { (t, c) =>
      t.withColumn("c_custkey", col("c_custkey") + lit(c * C))
    }, "customer")
    write(replicate(Tables.supplier(spark, srcDir)) { (t, c) =>
      t.withColumn("s_suppkey", col("s_suppkey") + lit(c * S))
    }, "supplier")
    write(replicate(Tables.part(spark, srcDir)) { (t, c) =>
      t.withColumn("p_partkey", col("p_partkey") + lit(c * P))
    }, "part")
    write(replicate(Tables.orders(spark, srcDir)) { (t, c) =>
      t.withColumn("o_orderkey", col("o_orderkey") + lit(c * O))
        .withColumn("o_custkey", col("o_custkey") + lit(c * C))
    }, "orders")
    write(scaledLineitem(spark, srcDir, copies), "lineitem")
    // events via the shim (ts normalized to TIMESTAMP micros; the
    // round-trip re-enters Tables.events through its default branch)
    write(scaledEvents(spark, srcDir, copies), "events")
    write(replicate(Tables.documents(spark, srcDir)) { (t, c) =>
      if (c == 0) t
      else t.withColumn("doc_id", col("doc_id") + lit(c * D))
        .withColumn("text", concat_ws(" ",
          transform(split(col("text"), " "),
            tok => when(length(tok) > 0, concat(tok, lit(s"x$c"))).otherwise(tok))))
        .withColumn("n_chars", length(col("text")))
    }, "documents")
    write(scaledEmbeddings(spark, srcDir, copies), "embeddings")

    System.err.println(s"[scaleup] done: $copies copies of $srcDir -> $outDir")
    spark.stop()
  }
}
