package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * sf1 tier generator — materializes an m-fold (default 10×) scale-up of
 * an existing testdata dir so the broad query surface can be BENCHED at
 * sf1 without synthesizing new-shape data (the testdata contract): each
 * copy is the sf0.1 tables under disjoint key remaps, the PairScaling
 * construction generalized to the whole star schema.
 *
 * Disjointness per table (what keeps 10× input from reading as 100×
 * result-size artifacts):
 *  - join keys shift by a per-copy stride (custkey/suppkey/partkey 1e6,
 *    orderkey 1e7, event_id 1e8, user_id 1e6, vec_id 1e6, doc_id 3e6 —
 *    a multiple of 3 so the media fixture's id%3 variant scheme and its
 *    scene spacing survive), so referential integrity holds within a
 *    copy and never across copies;
 *  - document text gets the per-copy VOCABULARY BIJECTION
 *    (`" " -> " c<copy>"`): within-copy shingle structure (hence the
 *    natural dup pairs) is preserved exactly, cross-copy shingles are
 *    disjoint — banding ops see 10 independent corpora;
 *  - embeddings get the per-copy coordinate SIGN ISOMETRY: within-copy
 *    cosines exact, cross-copy cosines concentrate near 0;
 *  - p_brand is tagged per copy so name-linkage blocking never crosses
 *    copies (identical name decks would otherwise pair 100×);
 *  - region/nation are DIMENSIONS and copy once, unchanged.
 *
 * Two shapes deliberately DENSIFY instead of staying disjoint, and the
 * sf1 readings must be read with that in mind: the orders-derived
 * graphs project keys mod 997, so a fixed 997-node space gets 10× the
 * edges (the PairScaling density sweep's regime, Σ deg² envelopes
 * apply); and events keep their time range, so time-bucketed
 * aggregations see 10× rows per bucket (that IS the realistic
 * scale-up: more traffic, same clock).
 *
 * Run: SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 SPARK_GRAFT_SCALE_OUT=/tmp/sfx1
 *      SPARK_GRAFT_SCALE_M=10 sbt "runMain graft.ScaleUp"
 */
object ScaleUp {

  private def copies(m: Int)(one: Int => DataFrame): DataFrame =
    (0 until m).map(one).reduce(_.unionAll(_))

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val outDir = sys.env.getOrElse("SPARK_GRAFT_SCALE_OUT", "/tmp/sfx1")
    val m = sys.env.getOrElse("SPARK_GRAFT_SCALE_M", "10").toInt
    val spark = GraftSession.forMain()
    def rd(t: String) = spark.read.parquet(s"$sfDir/$t.parquet")
    def wr(df: DataFrame, t: String): Unit =
      df.write.mode("overwrite").parquet(s"$outDir/$t.parquet")

    wr(rd("region"), "region")
    wr(rd("nation"), "nation")
    val cust = rd("customer")
    // per-copy DIGIT-ROTATION bijection on c_name (d -> (d+c) mod 10):
    // a common substitution cipher preserves every within-copy edit
    // distance EXACTLY, while any two copies differ at all ~9 digit
    // positions (distance 9 >> the maxDist=2 gates), so name-blocked
    // fuzzy linkage sees 10 independent rosters instead of a 10x-dense
    // planted match set — the text-column vocabulary bijection applied
    // to entity names. (The pre-bijection same-names deck remains the
    // documented DENSITY stress regime, SURVEY §6.)
    def rotDigits(c: Int, col0: org.apache.spark.sql.Column) = {
      val r = c % 10
      if (r == 0) col0
      else translate(col0, "0123456789",
        "0123456789".drop(r) + "0123456789".take(r))
    }
    wr(copies(m)(c => cust
      .withColumn("c_custkey", col("c_custkey") + lit(c * 1000000L))
      .withColumn("c_name", rotDigits(c, col("c_name")))), "customer")
    val supp = rd("supplier")
    wr(copies(m)(c => supp.withColumn("s_suppkey",
      col("s_suppkey") + lit(c * 1000000L))), "supplier")
    val part = rd("part")
    wr(copies(m)(c => part
      .withColumn("p_partkey", col("p_partkey") + lit(c * 1000000L))
      .withColumn("p_brand", concat(col("p_brand"), lit(s"#$c")))),
      "part")
    val orders = rd("orders")
    wr(copies(m)(c => orders
      .withColumn("o_orderkey", col("o_orderkey") + lit(c * 10000000L))
      .withColumn("o_custkey", col("o_custkey") + lit(c * 1000000L))),
      "orders")
    val li = rd("lineitem")
    wr(copies(m)(c => li
      .withColumn("l_orderkey", col("l_orderkey") + lit(c * 10000000L))
      .withColumn("l_partkey", col("l_partkey") + lit(c * 1000000L))
      .withColumn("l_suppkey", col("l_suppkey") + lit(c * 1000000L))),
      "lineitem")
    val ev = rd("events")
    wr(copies(m)(c => ev
      .withColumn("event_id", col("event_id") + lit(c * 100000000L))
      .withColumn("user_id", col("user_id") + lit(c * 1000000L))),
      "events")
    val docs = rd("documents")
    wr(copies(m)(c => docs
      .withColumn("doc_id", col("doc_id") + lit(c * 3000000L))
      .withColumn("text",
        if (c == 0) col("text")
        else regexp_replace(col("text"), " ", s" c$c"))),
      "documents")
    val emb = rd("embeddings")
    wr(copies(m)(c => emb
      .withColumn("vec_id", col("vec_id") + lit(c * 1000000L))
      .withColumn("embedding", transform(col("embedding"),
        (x, i) => when(pmod(hash(lit(c) * 131 + i), lit(2)) === 0, x)
          .otherwise(-x)))),
      "embeddings")
    println(s"""{"scaled":"$outDir","m":$m}""")
    spark.stop()
  }
}
