package graft

import org.apache.spark.sql.execution.ExplainMode

/** Optimization-round helper: dump `.explain("formatted")` for a
  * comma-separated query subset to an output directory (one file per
  * query) so plan claims in OPTIMIZATION_r18.md are checkable without
  * running Spark. Runs in Bench's session ([[GraftSession.forMain]]).
  *
  *   sbt "runMain graft.PlanDump /root/testdata/sf0.1 plans/r18 q1,q2 [suffix]"
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    val names = args(2).split(",").map(_.trim).filter(_.nonEmpty)
    val suffix = if (args.length > 3) args(3) else "before"
    val spark = GraftSession.forMain()
    new java.io.File(outDir).mkdirs()
    names.foreach { name =>
      val fn = SparkEntry.queries(name)
      val df = fn(spark, sfDir)
      val txt = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(s"$outDir/${name}_$suffix.txt"), txt)
      println(s"[plandump] $name -> $outDir/${name}_$suffix.txt (${txt.length} chars)")
      graft.ops.CacheScope.unpersistAll(spark)
    }
    spark.stop()
  }
}
