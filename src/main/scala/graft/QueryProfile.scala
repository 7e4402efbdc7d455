package graft

/** Throwaway optimization-round profiler: run named SparkEntry queries
  * with a stage-metrics listener and print per-stage task time so the
  * cost lands on a named stage. Delete when the round closes. */
object QueryProfile {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val names = args(1).split(",").map(_.trim).filter(_.nonEmpty)
    val spark = GraftSession.forMain()
    val stageTime = new java.util.concurrent.ConcurrentHashMap[Int, (Int, Long, Long, String)]()
    val taskAcc = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onStageCompleted(s: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
        val dur = for {
          a <- s.stageInfo.submissionTime; b <- s.stageInfo.completionTime
        } yield b - a
        val rdds = s.stageInfo.rddInfos.map(r => r.name + ":" + r.id).mkString("|").take(120)
        stageTime.put(s.stageInfo.stageId,
          (s.stageInfo.numTasks, taskAcc.getOrDefault(s.stageInfo.stageId, 0L),
            dur.getOrElse(-1L), rdds))
      }
      override def onTaskEnd(t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        if (t.taskInfo != null)
          taskAcc.merge(t.stageId, t.taskInfo.duration, (a, b) => a + b)
    })
    names.foreach { name =>
      val fn = SparkEntry.queries(name)
      // warm rep then timed rep
      try fn(spark, dir).count() catch { case e: Throwable => println(s"[qprof] $name warm FAILED: $e") }
      spark.catalog.clearCache()
      graft.ops.CacheScope.unpersistAll(spark)
      graft.ops.CacheScope.unpersistAll(spark, graft.ops.CacheScope.Scan)
      stageTime.clear(); taskAcc.clear()
      val t0 = System.nanoTime()
      val n = fn(spark, dir).count()
      val dt = (System.nanoTime() - t0) / 1e9
      Thread.sleep(500)
      println(f"[qprof] ===== $name wall=$dt%7.3f s rows=$n")
      import scala.jdk.CollectionConverters._
      val rows = stageTime.asScala.toSeq.sortBy(_._1)
      println(f"[qprof] jobs~ stages=${rows.size} taskTime=${rows.map(_._2._2).sum / 1000.0}%7.2f s wallSum=${rows.map(_._2._3).sum / 1000.0}%7.2f s")
      rows.filter { case (_, (_, tt, wd, _)) => tt > 150 || wd > 150 }
        .foreach { case (id, (nt, tt, wd, rdds)) =>
          println(f"[qprof]   stage $id%4d tasks=$nt%3d taskT=${tt / 1000.0}%6.2f wall=${wd / 1000.0}%6.2f  $rdds")
        }
      spark.catalog.clearCache()
      graft.ops.CacheScope.unpersistAll(spark)
      graft.ops.CacheScope.unpersistAll(spark, graft.ops.CacheScope.Scan)
    }
    spark.stop()
  }
}
