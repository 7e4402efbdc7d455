package graftbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/**
 * Benchmark runs: builds each named workload's inputs from the seed,
 * times its operations for a fixed number of seconds, checks every
 * output and prints one JSON result line per workload, prefixed
 * `GRAFTBENCH_RESULT ` (run.py reads them).
 *
 * Usage: Main <workload[,workload...]> <seed> <seconds> <trace 0|1> <full|smoke> <workdir>
 *
 * Untraced runs (trace 0) install nothing into Spark and report the
 * end-to-end metrics. Traced runs install a listener, alternate traced
 * and untraced passes, and report the per-layer metrics plus the
 * tracing overhead measured between those passes.
 */
object Main {
  private val SetupReps = 3
  private val MinPasses = 2
  private val WarmSeconds = 3.0

  def main(args: Array[String]): Unit = {
    val Array(workloads, seedS, secondsS, traceS, size, workdir) = args
    val cores = Runtime.getRuntime.availableProcessors
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graftbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$workdir/spark-local")
      .config("spark.sql.warehouse.dir", s"$workdir/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try workloads.split(",").foreach { wl =>
      println("GRAFTBENCH_RESULT " + run(spark, wl, seedS.toLong,
        secondsS.toDouble, traceS == "1", size == "smoke", workdir, cores))
    } finally spark.stop()
  }

  /** The workload at its benchmark size, or at its smoke-test size. */
  def workload(spark: SparkSession, name: String, seed: Long, smoke: Boolean,
      workdir: String, cores: Int): Workload = name match {
    case "ebw_sparse_poststrat" =>
      if (smoke) new EbwSparse(spark, seed, 5000L, 600, cores)
      else new EbwSparse(spark, seed, 50000L, 1000, cores)
    case "ebw_dense_bounded" =>
      new EbwDense(spark, seed, if (smoke) 5000L else 250000L, 24, cores,
        lb = 0.6, ub = 1.6, tilt = 0.3)
    case "curation_chain" =>
      new Curation(spark, seed, if (smoke) 100L else 1000L, cores)
    case "registry_mix" =>
      new Registry(spark, seed, if (smoke) 0.001 else 0.01,
        s"$workdir/tables-$seed", cores)
    case other => throw new IllegalArgumentException(s"unknown workload: $other")
  }

  /** Runs one workload and returns its result as a JSON object. */
  def run(spark: SparkSession, workload: String, seed: Long, seconds: Double,
      traced: Boolean, smoke: Boolean, workdir: String, cores: Int): String = {
    val load0 = loadAvg()
    val stat0 = cpuStat()
    val w = Main.workload(spark, workload, seed, smoke, workdir, cores)

    var attempted = 0
    var failed = 0
    val failures = mutable.ArrayBuffer.empty[String]
    def fail(msg: String): Unit = {
      if (failures.size < 20) failures += msg
      note(s"FAIL $msg")
    }

    // set-up: make and cache the inputs several times (median), then one
    // cold pass, whose outputs become the reference every later pass must
    // reproduce. setup_s is these two and nothing else: the reference
    // write for the oracle and the warm-up floor below are outside it.
    val setupS = (0 until (if (smoke) 1 else SetupReps)).map(_ => timed(w.setup())._2)
    val inputs = spark.sparkContext.getPersistentRDDs.keySet
    val ref = mutable.HashMap.empty[String, AnyRef]
    def warmOp(k: String, body: => AnyRef): Unit = {
      attempted += 1
      val (_, s) = timed {
        try {
          val out = body
          ref.get(k) match {
            case None => ref(k) = out
            case Some(r) => w.differs(k, r, out).foreach { why => failed += 1; fail(s"$k: $why") }
          }
        } catch { case e: Exception => failed += 1; fail(s"$k: $e") }
      }
      note(f"$workload warm-up $k $s%.2f s")
    }
    val w0 = System.nanoTime()
    val (_, coldS) = timed(w.keys.foreach(k => warmOp(k, w.op(k, None))))
    val setup = median(setupS) + coldS
    note(f"$workload seed $seed: set-up ${setupS.map(x => f"$x%.2f").mkString("/")} s, cold pass $coldS%.2f s")
    // warm-up: the reference outputs once more (the registry writes them
    // for the oracle replay), then whole passes until WarmSeconds have
    // passed since the cold pass began (none at the smoke-test size)
    w.keys.foreach(k => warmOp(k, w.reference(k)))
    while (!smoke && (System.nanoTime() - w0) / 1e9 < WarmSeconds)
      w.keys.foreach(k => warmOp(k, w.op(k, None)))
    val (_, checkS) = timed(ref.foreach { case (k, out) =>
      attempted += 1
      try w.check(k, out) match {
        case Nil => ()
        case fs => failed += 1; fs.foreach(f => fail(s"$k: $f"))
      } catch { case e: Exception => failed += 1; fail(s"$k check: $e") }
    })
    note(f"$workload checks $checkS%.2f s")
    val oracle = w match {
      case r: Registry =>
        Files.createDirectories(Paths.get(s"$workdir/tables-$seed/oracle"))
        Files.writeString(Paths.get(s"$workdir/tables-$seed/oracle/oracle_sql.json"),
          r.oracleJson())
        s"$workdir/tables-$seed"
      case _ => ""
    }

    // timed passes: every key once per pass, until `seconds` have passed
    // and at least MinPasses passes ran
    val tracer = if (traced) Some(new Tracer(spark.sparkContext)) else None
    val wall = mutable.HashMap.empty[(String, Boolean), mutable.ArrayBuffer[Double]]
    val cpu = mutable.HashMap.empty[String, mutable.ArrayBuffer[Double]]
    val layer = mutable.HashMap.empty[(String, String), mutable.ArrayBuffer[Double]]
    var items = 0.0
    var opSeconds = 0.0
    val probes = mutable.ArrayBuffer.empty[Double]
    // The probe runs on a clean heap and block store: every RDD persisted
    // since set-up is a leftover of the library's operations and is
    // dropped first, so it cannot slow the probe and hide in the scaling.
    def probeClean(): Double = {
      spark.sparkContext.getPersistentRDDs.foreach { case (id, rdd) =>
        if (!inputs.contains(id)) rdd.unpersist(blocking = true)
      }
      System.gc()
      timed(probe(spark, cores))._2
    }
    (0 until 3).foreach(_ => probes += probeClean())
    val t0 = System.nanoTime()
    var pass = 0
    while (pass < MinPasses || (System.nanoTime() - t0) / 1e9 < seconds) {
      // traced runs alternate: even passes traced, odd passes untraced
      val tr = tracer.filter(_ => pass % 2 == 0)
      tr.foreach(_.install())
      w.keys.foreach { k =>
        attempted += 1
        val gc0 = Trace.gcMs()
        val c0 = Trace.cpuNs()
        val (res, sec) = timed {
          try Right(Tracing.span(tr, k)(w.op(k, tr)))
          catch { case e: Exception => Left(e) }
        }
        val cpuS = (Trace.cpuNs() - c0) / 1e9
        res match {
          case Left(e) => failed += 1; fail(s"$k: $e")
          case Right(out) =>
            ref.get(k).flatMap(r => w.differs(k, r, out)) match {
              case Some(why) => failed += 1; fail(s"$k: $why")
              case None => ()
            }
            wall.getOrElseUpdate((k, tr.isDefined), mutable.ArrayBuffer.empty) += sec
            cpu.getOrElseUpdate(k, mutable.ArrayBuffer.empty) += cpuS
            items += w.items(k)
            opSeconds += sec
            tr.foreach { t =>
              val span = t.spans.last
              val jobs = t.jobsIn(span)
              val layers =
                try w.layers(k, t, span)
                catch { case e: Exception => failed += 1; fail(s"$k layers: $e"); Map.empty }
              (Trace.runtime(jobs, span, Trace.gcMs() - gc0) ++ layers).foreach { case (m, v) =>
                layer.getOrElseUpdate((k, m), mutable.ArrayBuffer.empty) += v
              }
            }
        }
      }
      tr.foreach(_.remove())
      probes += probeClean()
      note(f"$workload pass $pass${if (tr.isDefined) " (traced)" else ""} done at ${(System.nanoTime() - t0) / 1e9}%.2f s")
      pass += 1
    }
    val load1 = loadAvg()
    val steal = stealFrac(stat0, cpuStat())
    w.release()

    // a pass is the unit of work: its time is the sum over keys of each
    // key's median operation time
    def passTime(traced: Boolean): Double =
      w.keys.map(k => wall.get((k, traced)).map(median).getOrElse(0.0)).sum
    // End-to-end figures are scaled to the reference host speed: the
    // shared host's speed drifts by up to a quarter within minutes, and a
    // pure-Spark probe timed between passes drifts with it.
    // The unscaled figures are reported next to them.
    val hostScale = median(probes) / ProbeRefS
    val wallS = passTime(false)
    val cpuS = w.keys.map(k => cpu.get(k).map(median).getOrElse(0.0)).sum
    val isContended = contended(load0, load1, steal, cores, hostScale)
    val e2e = mutable.LinkedHashMap.empty[String, (Double, String)]
    e2e("wall_s") = (wallS / hostScale, "s")
    e2e("throughput") = (if (opSeconds > 0) items / opSeconds * hostScale else 0.0, "1/s")
    e2e("cpu_s") = (cpuS / hostScale, "s")
    e2e("setup_s") = (setup / hostScale, "s")
    val raw = s"""{"wall_s":${jnum(wallS)},"cpu_s":${jnum(cpuS)},"setup_s":${jnum(setup)}}"""
    // per-layer: per-key medians, summed across keys except where a sum
    // is meaningless
    val names = layer.keys.map(_._2).toSeq.distinct
    val perMetric = names.map { m =>
      val vs = w.keys.flatMap(k => layer.get((k, m)).map(median))
      m -> (if (m == "spark.max_task_s") vs.max else vs.sum)
    }.toMap
    val per = mutable.LinkedHashMap.empty[String, (Double, String)]
    if (traced) PerLayer.names.foreach { m =>
      val v = m match {
        case "spark.parallelism" =>
          val busy = perMetric.getOrElse("spark.busy_s", 0.0)
          if (busy > 0) perMetric("spark.task_s") / busy else 0.0
        case "trace.wall_s" => passTime(true)
        case "trace.untraced_wall_s" => passTime(false)
        case "trace.overhead_frac" =>
          val u = passTime(false)
          if (u > 0) passTime(true) / u - 1.0 else 0.0
        case "host.nproc" => cores.toDouble
        case "host.load_start" => load0
        case "host.load_end" => load1
        case "host.steal_frac" => steal
        case "host.probe_s" => median(probes)
        case "host.scale" => hostScale
        case "host.contended" => if (isContended) 1.0 else 0.0
        case other => perMetric.getOrElse(other, 0.0)
      }
      per(m) = (v, PerLayer.unit(m))
    }
    val host = f"""{"nproc":$cores,"load_start":$load0%.2f,"load_end":$load1%.2f,"steal_frac":$steal%.4f,"contended":$isContended,"probe_s":${median(probes)}%.4f,"scale":$hostScale%.4f}"""
    def obj(ms: mutable.LinkedHashMap[String, (Double, String)]): String =
      ms.map { case (k, (v, u)) => s""""$k":{"value":${jnum(v)},"unit":"$u"}""" }
        .mkString("{", ",", "}")
    val fails = failures.map(f => "\"" + f.replace("\\", "\\\\").replace("\"", "'")
      .replaceAll("[\\x00-\\x1f]", " ") + "\"").mkString("[", ",", "]")
    s"""{"workload":"$workload","seed":$seed,"passes":$pass,""" +
      s""""attempted":$attempted,"failed":$failed,"failures":$fails,""" +
      s""""checks":${w.checks.map("\"" + _ + "\"").mkString("[", ",", "]")},""" +
      s""""host":$host,"oracle_dir":"$oracle","digests":${digests(ref)},""" +
      s""""raw":$raw,""" +
      s""""end_to_end":${obj(e2e)},"per_layer":${obj(per)}}"""
  }

  /** The run is contended when the 1-minute load average, at its start or
   * end, exceeds the cores this run itself can keep busy, when the
   * hypervisor took more than 5% of the CPU time during the run, or when
   * the probe ran at less than two thirds of its reference speed (other
   * guests on the same machine slow it without showing in either). */
  private def contended(l0: Double, l1: Double, steal: Double, cores: Int,
      hostScale: Double): Boolean =
    math.max(l0, l1) > cores + 0.5 || steal > 0.05 || hostScale > 1.5

  /** The aggregate `cpu` line of /proc/stat (jiffies per state). */
  private def cpuStat(): Array[Long] =
    try Files.readAllLines(Paths.get("/proc/stat")).get(0).trim.split("\\s+")
      .drop(1).map(_.toLong)
    catch { case _: Exception => Array.empty }

  /** Share of CPU time stolen by the hypervisor between two samples. */
  private def stealFrac(a: Array[Long], b: Array[Long]): Double =
    if (a.length < 8 || b.length < 8) 0.0
    else {
      val total = b.sum - a.sum
      if (total > 0) (b(7) - a(7)).toDouble / total else 0.0
    }

  private def digests(ref: mutable.HashMap[String, AnyRef]): String =
    ref.toSeq.sortBy(_._1).map { case (k, v) =>
      val j = v match {
        case d: Digest => d.json
        case e: EbwOut =>
          s"""{"converged":${e.converged},"iters":${e.iters},"digest":${e.digest.json}}"""
        case o => "\"" + o.toString.replace("\"", "'") + "\""
      }
      "\"" + k + "\":" + j
    }.mkString("{", ",", "}")

  /** Median time of [[probe]] on the host the benchmark was tuned on. */
  private val ProbeRefS = 0.21

  /** A fixed pure-Spark query, no library code: planning, code
   * generation, one shuffle and a CPU-bound scan. */
  private def probe(spark: SparkSession, cores: Int): Unit = {
    import org.apache.spark.sql.functions._
    spark.range(0L, 4000000L, 1L, cores)
      .select((col("id") % 1000).as("k"), (col("id") * 7 % 13).as("v"))
      .groupBy("k").agg(sum("v"), count(lit(1))).collect()
  }

  private def note(msg: String): Unit = System.err.println(s"[graftbench] $msg")

  private def jnum(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.lang.Double.toString(v)

  private def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  def median(xs: Iterable[Double]): Double = {
    val s = xs.toArray.sorted
    if (s.isEmpty) 0.0
    else if (s.length % 2 == 1) s(s.length / 2)
    else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  private def loadAvg(): Double =
    try Files.readString(Paths.get("/proc/loadavg")).split("\\s+")(0).toDouble
    catch { case _: Exception => -1.0 }
}

/** Every per-layer metric a traced run reports, on every workload (0
 * where a layer takes no part in the workload). */
object PerLayer {
  val spark: Seq[String] = Seq("spark.jobs", "spark.stages", "spark.tasks",
    "spark.task_s", "spark.busy_s", "spark.driver_gap_s", "spark.parallelism",
    "spark.max_task_s", "spark.shuffle_write_mb", "spark.shuffle_read_mb",
    "spark.spill_mb", "spark.result_mb", "jvm.gc_s")
  val ebw: Seq[String] = Seq("ebw.solve_s", "ebw.output_s", "ebw.validate_s",
    "ebw.sizing_s", "ebw.agg_s", "ebw.agg_task_s", "ebw.agg_passes",
    "ebw.agg_result_mb", "ebw.driver_s", "ebw.newton_iters", "ebw.backtracks",
    "ebw.eta")
  val ops: Seq[String] = Seq("c4", "gopher", "exact", "minhash", "quality",
    "mixture", "pack").map(s => s"ops.stage.${s}_s") :+ "ops.checkpoints"
  val queries: Seq[String] = Registry.Keys.flatMap(k =>
    Seq(s"q.$k.wall_s", s"q.$k.driver_gap_s", s"q.$k.jobs"))
  val trace: Seq[String] = Seq("trace.wall_s", "trace.untraced_wall_s",
    "trace.overhead_frac")
  val host: Seq[String] = Seq("host.nproc", "host.load_start", "host.load_end",
    "host.steal_frac", "host.contended", "host.probe_s", "host.scale")
  val names: Seq[String] = spark ++ ebw ++ ops ++ queries ++ trace ++ host

  def unit(m: String): String =
    if (m.endsWith("_mb")) "MB"
    else if (m.endsWith("_s")) "s"
    else if (m.endsWith("_frac")) "ratio"
    else if (m == "spark.parallelism") "cores"
    else if (m.startsWith("host.load")) "load"
    else if (m == "ebw.eta" || m == "host.scale") "1"
    else "count"
}
