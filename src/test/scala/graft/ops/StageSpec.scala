package graft.ops

import graft.{GraftSparkSuite, SparkEntry}
import org.apache.spark.GraftContextAccess
import org.apache.spark.scheduler.SparkListener
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

/**
 * [[Stage]] is the one stage boundary of `graft.ops`: no other file cuts
 * lineage, every operator that cuts leaves behind only the cuts its
 * returned frame reaches, and a checkpoint dir switches every cut to a
 * reliable one without changing a row.
 */
class StageSpec extends GraftSparkSuite {
  import spark.implicits._

  private def sources(dir: java.io.File): Seq[java.io.File] = {
    val kids = Option(dir.listFiles()).map(_.toSeq).getOrElse(Nil)
    kids.filter(_.isFile).filter(_.getName.endsWith(".scala")) ++
      kids.filter(_.isDirectory).flatMap(sources)
  }

  /** A path 1 → … → 12 into a directed triangle 20 → 21 → 22 → 20: deep
   * enough that every loop below takes several cuts. */
  private def graph: DataFrame =
    ((1L to 11L).map(i => (i, i + 1)) ++
      Seq((12L, 20L), (20L, 21L), (21L, 22L), (22L, 20L))).toDF("src", "dst")

  private def bpeDocs: DataFrame =
    Seq.fill(3)("lowest newest widest lower newer wider slower slowest")
      .toDF("text")

  /** RDD ids of the cuts `df`'s plan reads. */
  private def cutIds(df: DataFrame): Set[Int] =
    df.queryExecution.logical.collectWithSubqueries {
      case l: LogicalRDD => l.rdd.id
    }.toSet

  private def persistent(): Set[Int] =
    spark.sparkContext.getPersistentRDDs.keySet.toSet

  private def sorted(df: DataFrame): Seq[Row] =
    df.collect().toSeq.sortBy(_.toString)

  /** Runs `call`, then the documented owner release of operator pins;
   * returns the call's result, the number of cuts it took and the
   * persistent RDDs it added. */
  private def traced[T](call: => T): (T, Int, Set[Int]) = {
    val cuts = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new SparkListener {
      override def onOtherEvent(e: org.apache.spark.scheduler.SparkListenerEvent): Unit =
        e match {
          case s: SparkListenerSQLExecutionStart
              if s.description.matches("(local)?[cC]heckpoint at Stage\\.scala:\\d+") =>
            cuts.incrementAndGet()
          case _ => ()
        }
    }
    val before = persistent()
    spark.sparkContext.addSparkListener(listener)
    try {
      val out = call
      GraftContextAccess.drainListenerBus(spark.sparkContext)
      Dedup.unpersistAll(spark)
      (out, cuts.get, persistent() -- before)
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  /** Order-independent (count, hash sum) of every row. */
  private def digest(df: DataFrame): (Long, java.math.BigDecimal) = {
    val r = df.select(xxhash64(df.columns.map(col).toIndexedSeq: _*)
        .cast("decimal(38,0)").as("h"))
      .agg(count(lit(1)), sum("h")).collect()(0)
    (r.getLong(0), r.getDecimal(1))
  }

  private def curation(): DataFrame =
    SparkEntry.queries("pipeline_curation")(spark, "/root/testdata/sf0.001")

  test("Stage.scala is the only file under src/main/scala/graft that cuts lineage") {
    val root = new java.io.File("src/main/scala/graft")
    assert(root.isDirectory, s"run from the repo root: $root")
    val scanned = sources(root).filterNot(_.getName == "Stage.scala")
    assert(scanned.exists(_.getName == "Curate.scala"), s"sources under $root")
    val cut = """checkpoint\(|localCheckpoint\(""".r
    val hits = scanned.filter(f =>
      cut.findFirstIn(scala.io.Source.fromFile(f)("UTF-8").mkString).isDefined)
    assert(hits.isEmpty,
      "lineage cut outside graft.ops.Stage — call Stage.cut, and Stage.release " +
        s"the cut it replaces: ${hits.map(_.getPath).mkString("; ")}")
  }

  test("every cutting operator leaves only the cuts its returned frame " +
    "reaches; the frame still evaluates to the uncut rows") {
    def check(what: String, out: DataFrame, taken: Int, added: Set[Int],
        minTaken: Int): Unit = {
      val reach = cutIds(out)
      assert(taken >= minTaken, s"$what took $taken cuts, expected >= $minTaken")
      assert(added.subsetOf(reach),
        s"$what left cuts its result does not read: ${added -- reach} (reads $reach)")
    }

    // connectedComponents: every round's edge set but the last is gone;
    // the last and the id set stay with the labels
    val pairs = ((1L to 15L).map(i => (i, i + 1)) ++
      Seq((30L, 31L), (31L, 32L), (40L, 40L))).toDF("id_a", "id_b")
    val (cc, ccCuts, ccAdded) = traced(Dedup.connectedComponents(pairs))
    check("connectedComponents", cc, ccCuts, ccAdded, minTaken = 4)
    assert(cutIds(cc).size == 2)
    assert(cc.as[(Long, Long)].collect().toMap ==
      ((1L to 16L).map(_ -> 1L) ++ (30L to 32L).map(_ -> 30L) :+ (40L -> 40L)).toMap)

    // kCore peels the path one node per round; only the triangle survives
    val (core, coreCuts, coreAdded) = traced(Graph.kCore(graph, "src", "dst", 2))
    check("kCore", core, coreCuts, coreAdded, minTaken = 10)
    assert(cutIds(core).size == 1)
    assert(core.as[(Long, Long)].collect().sorted.toSeq ==
      Seq((20L, 2L), (21L, 2L), (22L, 2L)))

    // the loops with a cut interval against the same loop without a cut
    val (pr, prCuts, prAdded) = traced(
      Graph.pageRank(graph, "src", "dst", iters = 9, checkpointEvery = 2))
    check("pageRank", pr, prCuts, prAdded, minTaken = 4)
    assert(cutIds(pr).size == 1)
    assert(sorted(pr) == sorted(
      Graph.pageRank(graph, "src", "dst", iters = 9, checkpointEvery = 100)))

    val (lp, lpCuts, lpAdded) = traced(
      Graph.labelProp(graph, "src", "dst", iters = 9, checkpointEvery = 2))
    check("labelProp", lp, lpCuts, lpAdded, minTaken = 5)
    // the edge set, which every round reads, and the last round's labels
    assert(cutIds(lp).size == 2)
    assert(sorted(lp) == sorted(
      Graph.labelProp(graph, "src", "dst", iters = 9, checkpointEvery = 100)))

    val seeds = Seq(1L).toDF("node")
    val (hop, hopCuts, hopAdded) = traced(Graph.hopDistance(graph, "src", "dst",
      seeds, "node", maxHops = 9, checkpointEvery = 2))
    check("hopDistance", hop, hopCuts, hopAdded, minTaken = 4)
    assert(cutIds(hop).size == 1)
    assert(hop.as[(Long, Long)].collect().sorted.toSeq ==
      (1L to 10L).map(n => (n, n - 1)))

    // hits: the edge cut and every round's scores but the last are gone;
    // the node set and the last scores stay
    val (hubs, hitsCuts, hitsAdded) = traced(Graph.hits(graph, "src", "dst", 4))
    check("hits", hubs, hitsCuts, hitsAdded, minTaken = 6)
    assert(cutIds(hubs).size == 2)
    assert(hubs.as[(Long, Double, Double)].collect().sortBy(_._1).toSeq ==
      HitsRows)

    // BPE training returns merges, not a frame: nothing may stay
    val (merges, bpeCuts, bpeAdded) = traced(
      TextMetrics.trainBpe(bpeDocs, "text", numMerges = 6, checkpointEvery = 2))
    assert(bpeCuts >= 3, s"trainBpe took $bpeCuts cuts")
    assert(bpeAdded.isEmpty, s"trainBpe left persistent RDDs: $bpeAdded")
    assert(merges.size == 6 && merges ==
      TextMetrics.trainBpe(bpeDocs, "text", numMerges = 6, checkpointEvery = 100))

    // curateCorpus: five stage cuts, the last stays with the packed rows
    val (cur, curCuts, curAdded) = traced(curation())
    check("curateCorpus", cur, curCuts, curAdded, minTaken = 5)
    assert(cutIds(cur).size == 1)
    assert(digest(cur) == CurationDigest)
  }

  test("with a checkpoint dir every cut is reliable, the rows are the local " +
    "cuts' rows, and only the cuts a result reaches stay on disk") {
    val local = (
      sorted(Dedup.connectedComponents(graph.toDF("id_a", "id_b"))),
      sorted(Graph.pageRank(graph, "src", "dst", iters = 20, checkpointEvery = 2)),
      digest(curation()))
    val dir = java.nio.file.Files.createTempDirectory("graft-stage-spec")
    def onDisk(): Set[Int] = {
      val files = java.nio.file.Files.walk(dir)
      try files.iterator().asScala.map(_.getFileName.toString)
        .collect { case s if s.matches("rdd-\\d+") => s.stripPrefix("rdd-").toInt }
        .toSet
      finally files.close()
    }
    spark.sparkContext.setCheckpointDir(dir.toString)
    try {
      def reliable(what: String, call: => DataFrame): DataFrame = {
        val before = onDisk()
        val (out, cuts, added) = traced(call)
        val reach = cutIds(out)
        assert(cuts > reach.size, s"$what took $cuts cuts, ${reach.size} reachable")
        assert(onDisk() -- before == reach,
          s"$what: on disk ${onDisk() -- before}, reachable $reach")
        assert(added.subsetOf(reach), s"$what left persistent RDDs ${added -- reach}")
        out
      }
      val cc = reliable("connectedComponents",
        Dedup.connectedComponents(graph.toDF("id_a", "id_b")))
      val pr = reliable("pageRank",
        Graph.pageRank(graph, "src", "dst", iters = 20, checkpointEvery = 2))
      val cur = reliable("curateCorpus", curation())
      assert((sorted(cc), sorted(pr), digest(cur)) == local)
    } finally {
      GraftContextAccess.clearCheckpointDir(spark.sparkContext)
      org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
    }
    assert(spark.sparkContext.getCheckpointDir.isEmpty)
  }

  /** hits(graph, 4): (node, hub, authority), as returned before the
   * rounds' cuts were released. */
  private val HitsRows: Seq[(Long, Double, Double)] =
    (1L, 0.043644, 0.0) +: (2L to 11L).map(n => (n, 0.043644, 0.060971)) ++:
      Seq((12L, 0.698297, 0.060971), (20L, 0.043644, 0.975537),
        (21L, 0.043644, 0.060971), (22L, 0.698297, 0.060971))

  /** digest of the pipeline_curation gate's rows at sf0.001, as returned
   * before the stages' cuts were released. */
  private val CurationDigest: (Long, java.math.BigDecimal) =
    (80L, new java.math.BigDecimal("16519697100206823272"))
}
