package graftbench

import org.apache.spark.ml.linalg.Vectors
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded input generators. Every value is a pure function of
 * (seed, salt, row), so the same seed gives the same inputs at any
 * partitioning, and the benchmark shares no generator code with the
 * library it measures. */
object Inputs extends Serializable {

  /** splitmix64 finalizer. */
  def mix(z0: Long): Long = {
    var z = z0 + -7046029254386353131L
    z = (z ^ (z >>> 30)) * -4658895280553007687L
    z = (z ^ (z >>> 27)) * -7723592293110705685L
    z ^ (z >>> 31)
  }

  def bits(seed: Long, salt: Long, i: Long): Long =
    mix(mix(mix(seed) ^ (salt * 0x9E3779B97F4A7C15L)) + i)

  /** Uniform on [0, 1). */
  def u(seed: Long, salt: Long, i: Long): Double =
    (bits(seed, salt, i) >>> 11) * 1.1102230246251565e-16 // 2^-53

  /** Uniform integer on [0, n). */
  def below(seed: Long, salt: Long, i: Long, n: Int): Int =
    ((bits(seed, salt, i) >>> 1) % n).toInt

  /** Standard normal (Box-Muller). */
  def gauss(seed: Long, salt: Long, i: Long): Double = {
    val a = math.max(u(seed, 2 * salt, i), 1e-300)
    val b = u(seed, 2 * salt + 1, i)
    math.sqrt(-2.0 * math.log(a)) * math.cos(2.0 * math.Pi * b)
  }

  // ------------------------------------------------------------ EBW

  /** Sparse one-hot poststratification design: `blocks` categorical
   * blocks of k/blocks cells, one cell per block and row, and a positive
   * base weight. Columns: features (VectorUDT), w0. */
  def sparseDesign(spark: SparkSession, seed: Long, n: Long, k: Int,
      blocks: Int, parts: Int): DataFrame = {
    import spark.implicits._
    val per = k / blocks
    spark.range(0L, n, 1L, parts).map { i =>
      val idx = Array.tabulate(blocks)(b => b * per + below(seed, 11 + b, i, per))
      (Vectors.sparse(k, idx, Array.fill(blocks)(1.0)),
        0.5 + u(seed, 7, i))
    }.toDF("features", "w0")
  }

  /** Targets: observed weighted cell shares, tilted +-eps alternately
   * within each block and renormalised to block sum 1 — interior and
   * feasible, and far enough from the start to need several steps. */
  def sparseTargets(df: DataFrame, k: Int, blocks: Int, eps: Double): Array[Double] = {
    val per = k / blocks
    val tot = df.rdd.treeAggregate(new Array[Double](k + 1))((acc, r) => {
      val v = r.getAs[org.apache.spark.ml.linalg.SparseVector](0)
      val w = r.getDouble(1)
      v.indices.foreach(j => acc(j) += w)
      acc(k) += w
      acc
    }, (a, b) => { var j = 0; while (j <= k) { a(j) += b(j); j += 1 }; a })
    val m = new Array[Double](k)
    (0 until blocks).foreach { b =>
      val cells = (0 until per).map(j => b * per + j)
      cells.foreach { c =>
        m(c) = tot(c) / tot(k) * (if (c % 2 == 0) 1.0 + eps else 1.0 - eps)
      }
      val s = cells.map(m(_)).sum
      cells.foreach(c => m(c) /= s)
    }
    m
  }

  /** Dense correlated continuous moments as array<double>: a shared
   * factor plus per-feature noise, mean about 1, and a base weight. */
  def denseDesign(spark: SparkSession, seed: Long, n: Long, k: Int,
      parts: Int): DataFrame = {
    import spark.implicits._
    spark.range(0L, n, 1L, parts).map { i =>
      val f = gauss(seed, 3, i)
      val x = Array.tabulate(k)(j =>
        1.0 + 0.5 * f * (if (j % 3 == 0) -1.0 else 1.0) +
          gauss(seed, 100 + j, i) * (0.5 + 0.02 * j))
      (x.toSeq, 0.5 + u(seed, 5, i))
    }.toDF("features", "w0")
  }

  /** Targets from a tilted subpopulation: the means under weights
   * w0 * exp(tilt * z), z a standardised fixed direction of the
   * features. Feasible by construction; ratio bounds bind on the rows
   * the tilt pushes furthest. */
  def denseTargets(df: DataFrame, k: Int, tilt: Double): Array[Double] = {
    val dir = Array.tabulate(k)(j => if (j % 2 == 0) 1.0 else -0.5)
    val scale = 1.0 / math.sqrt(dir.map(d => d * d).sum)
    val tot = df.rdd.treeAggregate(new Array[Double](k + 1))((acc, r) => {
      val x = r.getSeq[Double](0)
      val w = r.getDouble(1)
      var z = 0.0
      var j = 0
      while (j < k) { z += (x(j) - 1.0) * dir(j) * scale; j += 1 }
      val t = w * math.exp(tilt * z)
      j = 0
      while (j < k) { acc(j) += t * x(j); j += 1 }
      acc(k) += t
      acc
    }, (a, b) => { var j = 0; while (j <= k) { a(j) += b(j); j += 1 }; a })
    Array.tabulate(k)(j => tot(j) / tot(k))
  }

  // ------------------------------------------------------------ text

  /** 2,000 two-syllable pseudo-words: large enough that unrelated
   * documents rarely share MinHash band keys, so near-duplicate search
   * costs about the same for every seed. */
  private val vocab: Array[String] = {
    val syl = for (c <- "bdfgklmnprstvz"; v <- "aeiou") yield s"$c$v"
    Array.tabulate(2000)(i => syl(i % syl.length) + syl(i / syl.length))
  }

  /** Space-separated words drawn uniformly from the vocabulary. */
  def words(seed: Long, salt: Long, i: Long, nWords: Int): String = {
    val sb = new StringBuilder
    var w = 0
    while (w < nWords) {
      if (w > 0) sb.append(' ')
      sb.append(vocab(below(seed, salt, i * 1024 + w, vocab.length)))
      w += 1
    }
    sb.toString
  }

  /** Curation corpus: `n` base documents whose second and third lines
   * split the C4 rules, one exact copy of every fifth document (ids
   * offset by 10^9) and one near copy with an extra line of every fifth
   * other document (offset 2 * 10^9). Columns: doc_id, source, text. */
  def corpus(spark: SparkSession, seed: Long, n: Long, parts: Int): DataFrame = {
    import spark.implicits._
    val second = Array("click here javascript required.", "short line",
      "read our privacy policy and terms of use.",
      "a perfectly fine second sentence with many words in it.")
    val base = spark.range(0L, n, 1L, parts).map { i =>
      val body = words(seed, 21, i, 12 + below(seed, 22, i, 80))
      val third = if (below(seed, 23, i, 7) == 0) "Lorem Ipsum dolor { sit amet"
        else "and a third closing sentence follows right here today!"
      (i, s"src${below(seed, 24, i, 20)}",
        body + ".\n" + second(below(seed, 25, i, 4)) + "\n" + third)
    }.toDF("doc_id", "source", "text")
    val exact = base.filter(col("doc_id") % 5 === 0)
      .select((col("doc_id") + Corpus.ExactOffset).as("doc_id"),
        col("source"), col("text"))
    val near = base.filter(col("doc_id") % 5 === 1)
      .select((col("doc_id") + Corpus.NearOffset).as("doc_id"), col("source"),
        concat(col("text"),
          lit("\nfive extra trailing filler words follow right here today."))
          .as("text"))
    base.unionByName(exact).unionByName(near)
  }

  object Corpus {
    val ExactOffset = 1000000000L
    val NearOffset = 2000000000L
  }

  // ------------------------------------------------------------ tables

  /** Writes the tables the registry workload's queries read (lineitem,
   * documents, embeddings) as parquet under `dir`, at `scale` times the
   * sf=1 row counts, with the column names and types the queries expect. */
  def writeTables(spark: SparkSession, seed: Long, scale: Double,
      dir: String, parts: Int): Unit = {
    import spark.implicits._
    def n(base: Long): Long = math.max(10L, (base * scale).toLong)
    def r2(x: Double): Double = math.round(x * 100.0) / 100.0
    def save(df: DataFrame, name: String): Unit =
      df.write.mode(SaveMode.Overwrite).parquet(s"$dir/$name.parquet")
    val day = 86400L * 1000000L
    val d1995 = 788918400L * 1000000L // 1995-01-01 in epoch micros
    val nSupp = n(10000); val nPart = n(200000)
    val nOrd = n(1500000); val nLine = n(6000000)

    val flags = Array("A", "N", "R")
    save(spark.range(0L, nLine, 1L, parts).map { i =>
      (((bits(seed, 71, i) >>> 1) % nOrd), (bits(seed, 72, i) >>> 1) % nPart,
        (bits(seed, 73, i) >>> 1) % nSupp, 1 + below(seed, 74, i, 7),
        (1 + below(seed, 75, i, 50)).toDouble,
        r2(900.0 + 104100.0 * u(seed, 76, i)),
        below(seed, 77, i, 11) / 100.0, below(seed, 78, i, 9) / 100.0,
        flags(below(seed, 79, i, 3)), if (u(seed, 80, i) < 0.5) "O" else "F",
        d1995 + below(seed, 81, i, 2499) * day)
    }.toDF("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
      "l_quantity", "l_extendedprice", "l_discount", "l_tax", "l_returnflag",
      "l_linestatus", "l_shipdate_us")
      .withColumn("l_shipdate", timestamp_micros(col("l_shipdate_us")))
      .drop("l_shipdate_us"), "lineitem")

    val langs = Array("en", "en", "en", "zh", "es", "fr", "de")
    save(spark.range(0L, n(50000), 1L, parts).map { i =>
      // every 97th document repeats its predecessor's text: exact-dedup
      // victims that the dedup queries must find
      val src: Long = if (i % 97 == 96) i - 1L else i.longValue
      val text = words(seed, 91, src, 10 + below(seed, 92, src, 90))
      (i, text, langs(below(seed, 93, i, langs.length)), s"src${i % 20}",
        text.length.toLong)
    }.toDF("doc_id", "text", "lang", "source", "n_chars"), "documents")

    val dim = 64
    val centers = Array.tabulate(10, dim)((l, j) => gauss(seed, 1000 + l, j))
    save(spark.range(0L, n(20000), 1L, parts).map { i =>
      val l = below(seed, 95, i, 10)
      val v = Array.tabulate(dim)(j => centers(l)(j) + 0.8 * gauss(seed, 96, i * dim + j))
      val norm = math.sqrt(v.map(x => x * x).sum)
      (i, v.map(x => (x / norm).toFloat).toSeq, l)
    }.toDF("vec_id", "embedding", "label"), "embeddings")
  }
}
