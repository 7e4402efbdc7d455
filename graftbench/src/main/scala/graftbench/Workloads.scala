package graftbench

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.ebw.{EbwOptions, EbwResult, EntropyBalance}

/** Order-insensitive content digest: row count plus the XOR and the
 * (exact, decimal) sum of a 64-bit hash over the given columns. Every
 * row's every column is computed to produce it, so no optimiser can
 * prune the work the way a bare `.count()` can. */
final case class Digest(rows: Long, xor: Long, sum: java.math.BigDecimal,
    floats: Seq[Double] = Nil) {
  /** Equal hashes and float aggregates within `rel` (the float sums come
   * from Spark aggregations whose merge order varies between runs). */
  def sameAs(o: Digest, rel: Double): Boolean =
    rows == o.rows && xor == o.xor && sum.compareTo(o.sum) == 0 &&
      floats.size == o.floats.size && floats.zip(o.floats).forall {
        case (a, b) => math.abs(a - b) <= rel * math.max(1.0, math.abs(a))
      }
  def json: String =
    s"""{"rows":$rows,"xor":"${java.lang.Long.toHexString(xor)}","sum":"$sum",""" +
      s""""floats":${floats.map(java.lang.Double.toString).mkString("[", ",", "]")}}"""
  override def toString: String =
    s"rows=$rows xor=${java.lang.Long.toHexString(xor)} sum=$sum" +
      (if (floats.isEmpty) "" else floats.map(f => f"$f%.12g").mkString(" f=[", ",", "]"))
}

object Digest {
  def of(df: DataFrame, hashCols: Seq[String], floatCols: Seq[Column] = Nil): Digest = {
    val h = xxhash64(hashCols.map(col): _*)
    val r = df.agg(count(lit(1)),
      Seq(bit_xor(h), sum(h.cast("decimal(38,0)"))) ++ floatCols: _*).head()
    Digest(r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1),
      Option(r.getDecimal(2)).getOrElse(java.math.BigDecimal.ZERO),
      floatCols.indices.map(i => r.getDouble(3 + i)))
  }
}

/** One benchmark workload: inputs made from the seed, one or more keyed
 * operations, and the checks their outputs must pass. */
trait Workload {
  /** The operations of one pass, in the order one pass runs them. */
  def keys: Seq[String]
  /** Items one operation of `key` processes (rows, documents, queries). */
  def items(key: String): Double
  /** Makes the inputs and caches them; called several times per run. */
  def setup(): Unit
  /** Runs one operation, recording spans on `tr`, and returns the output
   * signature every later run of the same key must reproduce. */
  def op(key: String, tr: Option[Tracer]): AnyRef
  /** One untimed warm-up run of `key` that also leaves its output where
   * a check outside the JVM can read it; by default just `op`. */
  def reference(key: String): AnyRef = op(key, None)
  /** Deep checks of one output, run once per run outside the timing;
   * returns the failures. */
  def check(key: String, out: AnyRef): Seq[String]
  /** Why `out` differs from the reference output `ref`, if it does. */
  def differs(key: String, ref: AnyRef, out: AnyRef): Option[String]
  /** Per-layer metrics of the last traced `op(key)`. */
  def layers(key: String, tr: Tracer, opSpan: Span): Map[String, Double]
  def release(): Unit
  /** Names of the checks this workload's outputs pass through. */
  def checks: Seq[String]
}

// ---------------------------------------------------------------- EBW

final case class EbwOut(converged: Boolean, iters: Int, eta: Double,
    digest: Digest) {
  def minR: Double = digest.floats(2)
  def maxR: Double = digest.floats(3)
}

/** Adds one row's features times its weight into `acc`. */
object Moments extends Serializable {
  def add(acc: Array[Double], feat: Any, w: Double): Unit = feat match {
    case v: org.apache.spark.ml.linalg.Vector =>
      v.foreachActive((j, x) => acc(j) += w * x)
    case x: scala.collection.Seq[_] =>
      var j = 0
      while (j < x.length) { acc(j) += w * x(j).asInstanceOf[Double]; j += 1 }
  }
}

/** Shared by both EBW workloads: solve, materialise the weights through
 * the digest, check the moments from outside the solver, and attribute
 * the solve's Spark jobs to the solver's layers by their call sites. */
abstract class EbwWorkload(spark: SparkSession, k: Int) extends Workload {
  protected var df: DataFrame = _
  protected var targets: Array[Double] = _
  protected var nRows: Long = 0L
  protected def options: EbwOptions
  protected def makeInputs(): (DataFrame, Array[Double])

  private var last: EbwResult = _

  def keys: Seq[String] = Seq("solve")
  def checks: Seq[String] = Seq("converged", "moment_violation",
    "newton_iters_repeat", "digest_repeat")
  def items(key: String): Double = nRows.toDouble

  def setup(): Unit = {
    release()
    val (d, m) = makeInputs()
    df = d.persist(StorageLevel.MEMORY_ONLY)
    nRows = df.count()
    targets = m
  }

  def release(): Unit = if (df != null) { df.unpersist(true); df = null }

  def op(key: String, tr: Option[Tracer]): AnyRef = {
    val res = Tracing.span(tr, "ebw.solve") {
      EntropyBalance.entropyBalance(df, "features", "w0", targets,
        options = options)
    }
    last = res
    val w = col("weight_new")
    val d = Tracing.span(tr, "ebw.output") {
      Digest.of(res.weighted, Seq("features", "w0"),
        Seq(sum(w), sum(w * w), min(w / col("w0")), max(w / col("w0"))))
    }
    EbwOut(res.converged, res.nIterations, res.eta.getOrElse(1.0), d)
  }

  def check(key: String, out: AnyRef): Seq[String] = {
    val o = out.asInstanceOf[EbwOut]
    val fails = Seq.newBuilder[String]
    if (!o.converged) fails += s"solve did not converge after ${o.iters} steps"
    // the moment violation, recomputed from the weighted output:
    // sum(w x) - m * sum(w0), against the solver's own tolerance
    val kk = k
    val acc = last.weighted.select("features", "w0", "weight_new").rdd
      .treeAggregate(new Array[Double](kk + 1))((a, r: Row) => {
        Moments.add(a, r.get(0), r.getDouble(2)); a(kk) += r.getDouble(1); a
      }, (a, b) => { var j = 0; while (j <= kk) { a(j) += b(j); j += 1 }; a })
    val b = targets.map(_ * acc(kk))
    val viol = math.sqrt(targets.indices.map(j => math.pow(acc(j) - b(j), 2)).sum)
    val tol = 2 * options.optimalityTol * math.max(1.0, math.sqrt(b.map(x => x * x).sum))
    if (!(viol <= tol)) fails += f"moment violation $viol%.3g exceeds $tol%.3g"
    fails ++= boundFailures(o)
    fails.result()
  }

  protected def boundFailures(o: EbwOut): Seq[String] = Nil

  def differs(key: String, ref: AnyRef, out: AnyRef): Option[String] = {
    val (a, b) = (ref.asInstanceOf[EbwOut], out.asInstanceOf[EbwOut])
    if (!b.converged) Some(s"solve did not converge after ${b.iters} steps")
    else if (a.iters != b.iters) Some(s"newton steps ${b.iters} != ${a.iters}")
    else if (!a.digest.sameAs(b.digest, 1e-9)) Some(s"digest ${b.digest} != ${a.digest}")
    else boundFailures(b).headOption
  }

  def layers(key: String, tr: Tracer, opSpan: Span): Map[String, Double] = {
    val solve = Tracing.child(tr, opSpan, "ebw.solve")
    val output = Tracing.child(tr, opSpan, "ebw.output")
    val jobs = tr.jobsIn(solve)
    // the solver's classes are package-private, so their jobs are told
    // apart by the driver frames that launched them
    def by(frame: String) = jobs.filter(_.details.contains(frame))
    val validate = by("EbwAggregator$.validate(")
    val sizing = by("EntropyBalance$.sizeForSparse(")
    val agg = jobs.filterNot(j => validate.contains(j) || sizing.contains(j))
      .filter(_.details.contains("EbwAggregator$."))
    val o = last
    val mb = 1024.0 * 1024.0
    val eta = o.eta.getOrElse(1.0)
    // each Newton step costs one pass plus one per backtrack; the start
    // costs one pass, and each tenfold eta growth of the elastic solver
    // one more
    val growths = math.round(math.log10(eta)).toInt
    Map(
      "ebw.solve_s" -> solve.ms / 1e3,
      "ebw.output_s" -> output.ms / 1e3,
      "ebw.validate_s" -> Trace.busyMs(validate, solve) / 1e3,
      "ebw.sizing_s" -> Trace.busyMs(sizing, solve) / 1e3,
      "ebw.agg_s" -> Trace.busyMs(agg, solve) / 1e3,
      "ebw.agg_task_s" -> agg.map(_.taskMs).sum / 1e3,
      "ebw.agg_passes" -> agg.size.toDouble,
      "ebw.agg_result_mb" -> agg.map(_.resultBytes).sum / mb,
      "ebw.driver_s" -> (solve.ms - Trace.busyMs(jobs, solve)) / 1e3,
      "ebw.newton_iters" -> o.nIterations.toDouble,
      "ebw.backtracks" -> math.max(0, agg.size - 1 - o.nIterations - growths).toDouble,
      "ebw.eta" -> eta)
  }
}

/** Unbounded EBW on a sparse one-hot poststratification design with
 * k > 512 cells (the sparse-Gram + CG path). */
final class EbwSparse(spark: SparkSession, seed: Long, n: Long, k: Int,
    parts: Int) extends EbwWorkload(spark, k) {
  private val blocks = 4
  protected val options: EbwOptions = EbwOptions()
  protected def makeInputs(): (DataFrame, Array[Double]) = {
    val d = Inputs.sparseDesign(spark, seed, n, k, blocks, parts)
    (d, Inputs.sparseTargets(d, k, blocks, eps = 0.05))
  }
}

/** Ratio-bounded (elastic) EBW on dense array<double> moments. */
final class EbwDense(spark: SparkSession, seed: Long, n: Long, k: Int,
    parts: Int, lb: Double, ub: Double, tilt: Double)
    extends EbwWorkload(spark, k) {
  protected val options: EbwOptions = EbwOptions(bounds = Some((lb, Some(ub))))
  protected def makeInputs(): (DataFrame, Array[Double]) = {
    val d = Inputs.denseDesign(spark, seed, n, k, parts)
    (d, Inputs.denseTargets(d, k, tilt))
  }
  override def checks: Seq[String] = super.checks :+ "ratio_bounds"
  override protected def boundFailures(o: EbwOut): Seq[String] =
    if (o.minR < lb - 1e-12 || o.maxR > ub + 1e-12)
      Seq(f"ratios [${o.minR}%.6f, ${o.maxR}%.6f] outside bounds [$lb, $ub]")
    else Nil
}

// ---------------------------------------------------------------- curation

/** `Curate.curateCorpus` over a seeded corpus with planted exact and
 * near duplicates. */
final class Curation(spark: SparkSession, seed: Long, n: Long, parts: Int)
    extends Workload {
  private var docs: DataFrame = _
  private var nDocs = 0L
  private val budget = 256
  private val coeffs = spark.range(64).select(col("id").as("b"),
    (((col("id") % 7) - 3) / lit(10.0)).as("w"))
  private val weights = (0 until 20).map(i => (s"src$i", 1.0 + i % 4)).toMap
  private var out: DataFrame = _

  def keys: Seq[String] = Seq("curate")
  def checks: Seq[String] = Seq("nonempty", "unique_ids", "known_ids",
    "exact_copies_dropped", "unique_texts", "bin_packing", "digest_repeat")
  def items(key: String): Double = nDocs.toDouble

  def setup(): Unit = {
    release()
    docs = Inputs.corpus(spark, seed, n, parts).persist(StorageLevel.MEMORY_ONLY)
    nDocs = docs.count()
  }

  def release(): Unit = if (docs != null) { docs.unpersist(true); docs = null }

  def op(key: String, tr: Option[Tracer]): AnyRef = {
    out = Tracing.span(tr, "ops.curate") {
      graft.ops.Curate.curateCorpus(docs, "text", "doc_id", "source", coeffs,
        intercept = -0.5, buckets = 64, minQuality = 0.5, weights,
        packBudget = budget, nShards = 8, maxBucketSize = 2000)
    }
    Tracing.span(tr, "ops.output") { Digest.of(out, out.columns.toSeq) }
  }

  def check(key: String, o: AnyRef): Seq[String] = {
    // one more run of the chain, collected with each packed row's text
    // (null when the id is not in the corpus); the output is small
    val rows = out.join(docs.select("doc_id", "text"), Seq("doc_id"), "left")
      .select("doc_id", "text", "n_tokens", "cum_tokens", "bin", "bin_offset")
      .collect()
    val fails = Seq.newBuilder[String]
    if (rows.isEmpty) fails += "curation kept no documents"
    val ids = rows.map(_.getLong(0))
    if (ids.distinct.length != ids.length)
      fails += s"${ids.length - ids.distinct.length} document ids packed more than once"
    val unknown = rows.count(_.isNullAt(1))
    if (unknown > 0) fails += s"$unknown packed ids are not in the corpus"
    // an exact copy shares its original's text and has the larger id, so
    // exact dedup must always drop it
    val copies = ids.count(i => i >= Inputs.Corpus.ExactOffset && i < Inputs.Corpus.NearOffset)
    if (copies > 0) fails += s"$copies planted exact copies survived"
    val texts = rows.filterNot(_.isNullAt(1)).map(_.getString(1))
    if (texts.distinct.length != texts.length)
      fails += s"${texts.length - texts.distinct.length} packed documents repeat another's text"
    // packing: offsets inside the budget and consistent with the running sum
    val badBins = rows.count { r =>
      val (n, cum, bin, off) = (r.getAs[Number](2).longValue, r.getAs[Number](3).longValue,
        r.getAs[Number](4).longValue, r.getAs[Number](5).longValue)
      off < 0 || off >= budget || cum - n != bin * budget + off
    }
    if (badBins > 0) fails += s"$badBins rows break the bin-packing invariants"
    if (o.asInstanceOf[Digest].rows != rows.length)
      fails += s"digest counted ${o.asInstanceOf[Digest].rows} rows, the output has ${rows.length}"
    fails.result()
  }

  def differs(key: String, ref: AnyRef, o: AnyRef): Option[String] =
    if (ref == o) None else Some(s"digest $o != $ref")

  def layers(key: String, tr: Tracer, opSpan: Span): Map[String, Double] = {
    val curate = Tracing.child(tr, opSpan, "ops.curate")
    val output = Tracing.child(tr, opSpan, "ops.output")
    // Each stage boundary is a checkpoint job launched from its own line
    // of curateCorpus; a stage's wall time runs from the previous
    // boundary to the end of its own checkpoint. Mixture sampling is
    // lazy, so its driver time ends the curate span and its work runs in
    // the output materialisation, together with packing.
    val jobs = tr.jobsIn(curate)
    val line = """curateCorpus\(Curate\.scala:(\d+)\)""".r
    val pins = jobs.filter(j => j.site.toLowerCase.contains("checkpoint"))
      .flatMap(j => line.findFirstMatchIn(j.details).map(m => (m.group(1).toInt, j)))
    val byLine = pins.groupBy(_._1)
    // stages are named by position, so a changed number of pins would
    // shift every later stage's time onto the wrong name
    if (byLine.size != 5) throw new IllegalStateException(
      s"expected checkpoints from 5 lines of curateCorpus, found ${byLine.size} " +
        s"(${byLine.keys.toSeq.sorted.mkString(", ")}); ops.stage.* cannot be attributed")
    val ends = byLine.toSeq.map { case (_, js) => js.map(_._2.end).max }.sorted
    val bounds = curate.start +: ends
    val stages = Seq("c4", "gopher", "exact", "minhash", "quality")
    val stageS = stages.zipWithIndex.map { case (s, i) =>
      s"ops.stage.${s}_s" -> (if (i + 1 < bounds.size) (bounds(i + 1) - bounds(i)) / 1e3 else 0.0)
    }
    stageS.toMap ++ Map(
      "ops.stage.mixture_s" -> (curate.end - bounds.last) / 1e3,
      "ops.stage.pack_s" -> output.ms / 1e3,
      "ops.checkpoints" -> ends.size.toDouble)
  }
}

// ---------------------------------------------------------------- registry

/** A fixed set of `SparkEntry.queries` keys over seeded tables; the seed
 * also permutes the order one pass runs them in. */
final class Registry(spark: SparkSession, seed: Long, scale: Double,
    dir: String, parts: Int) extends Workload {
  private val perm: Seq[String] = Registry.Keys.sortBy(k => Inputs.bits(seed, 7, k.hashCode))

  def keys: Seq[String] = perm
  def checks: Seq[String] = Seq("digest_repeat", "duckdb_oracle")
  def items(key: String): Double = 1.0

  def setup(): Unit = Inputs.writeTables(spark, seed, scale, dir, parts)
  def release(): Unit = ()

  def op(key: String, tr: Option[Tracer]): AnyRef =
    try {
      val df = graft.SparkEntry.queries(key)(spark, dir)
      Digest.of(df, df.columns.toSeq)
    } finally spark.catalog.clearCache()

  /** Writes the result for the DuckDB oracle replay (run.py) and digests
   * what was written, so the replay and every later digest compare
   * against the same rows. */
  override def reference(key: String): AnyRef = {
    val path = s"$dir/oracle/$key"
    try graft.SparkEntry.queries(key)(spark, dir).coalesce(1).write
      .mode("overwrite").parquet(path)
    finally spark.catalog.clearCache()
    val back = spark.read.parquet(path)
    Digest.of(back, back.columns.toSeq)
  }

  def check(key: String, out: AnyRef): Seq[String] = Nil

  def differs(key: String, ref: AnyRef, o: AnyRef): Option[String] =
    if (ref == o) None else Some(s"digest $o != $ref")

  def layers(key: String, tr: Tracer, opSpan: Span): Map[String, Double] = {
    val jobs = tr.jobsIn(opSpan)
    Map(s"q.$key.wall_s" -> opSpan.ms / 1e3,
      s"q.$key.driver_gap_s" -> (opSpan.ms - Trace.busyMs(jobs, opSpan)) / 1e3,
      s"q.$key.jobs" -> jobs.size.toDouble)
  }

  def oracleJson(): String = {
    def q(s: String): String = "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    Registry.Keys.map(k => s"${q(k)}: ${q(graft.SparkEntry.oracleSql(k))}")
      .mkString("{", ",", "}")
  }
}

object Registry {
  /** One or two keys per family of `graft.Bench`'s representative set
   * (core, dedup, ANN, text) whose cost fits the run budget. Keys that
   * measured 1-7 s a run each in planning and per-job overhead (the
   * graph keys, q_rfm, text_bpe_train, dedup_semantic, ann_pq, q3_topk,
   * ebw_lineitem, dedup_simhash_pairs_mb) would take the workload past
   * its run budget. */
  val Keys: Seq[String] = Seq("q1_pricing", "q_window", "dedup_exact",
    "dedup_minhash", "ann_topk", "text_gopher")
}
object Tracing {
  def span[T](tr: Option[Tracer], name: String)(body: => T): T = tr match {
    case Some(t) => t.span(name)(body)
    case None => body
  }

  /** The span `name` that `op` caused. */
  def child(tr: Tracer, op: Span, name: String): Span =
    tr.spans.reverseIterator
      .find(s => s.name == name && s.parent == op.name && s.start >= op.start).get
}
