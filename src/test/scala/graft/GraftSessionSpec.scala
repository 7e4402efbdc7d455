package graft

import graft.ops.CacheScope
import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.{LogEvent, Logger => CoreLogger}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.Property

/**
 * The session contract stays single: every session in `src/` comes from
 * [[GraftSession]], so the specs, mains and examples run the plans the
 * benchmark times, and a pin taken without cached-plan AQE says so.
 */
class GraftSessionSpec extends GraftSparkSuite {

  private def sources(dir: java.io.File): Seq[java.io.File] = {
    val kids = Option(dir.listFiles()).map(_.toSeq).getOrElse(Nil)
    kids.filter(_.isFile).filter(_.getName.endsWith(".scala")) ++
      kids.filter(_.isDirectory).flatMap(sources)
  }

  test("the shared test session runs under the contract") {
    assert(spark.conf.get("spark.sql.shuffle.partitions") == "4")
    assert(spark.conf.get(GraftSession.CachedPlanConf) == "true")
    assert(spark.conf.get("spark.sql.session.timeZone") == "UTC")
    assert(spark.conf.get("spark.sql.adaptive.enabled") == "true")
    assert(spark.sparkContext.getConf.get("spark.ui.enabled") == "false")
    assert(spark.sparkContext.master == "local[4]")
  }

  test("GraftSession.scala is the only session builder and the only file " +
    "that names the cached-plan conf or SPARK_MASTER") {
    val root = new java.io.File("src")
    assert(root.isDirectory, s"run from the repo root: $root")
    val rules = Seq(
      "SparkSession.builder" -> """SparkSession\s*\.\s*builder""".r,
      "canChangeCachedPlanOutputPartitioning" ->
        "canChangeCachedPlanOutputPartitioning".r,
      "SPARK_MASTER" -> """\bSPARK_MASTER\b""".r)
    // this spec names the patterns it scans for
    val scanned = sources(root).filterNot(f =>
      Set("GraftSession.scala", "GraftSessionSpec.scala").contains(f.getName))
    assert(Seq("Bench.scala", "GraftSparkSuite.scala").forall(n =>
      scanned.exists(_.getName == n)), s"main and test sources under $root")
    val hits = for {
      f <- scanned
      text = scala.io.Source.fromFile(f)("UTF-8").mkString
      (what, re) <- rules if re.findFirstIn(text).isDefined
    } yield s"${root.toPath.relativize(f.toPath)}: $what"
    assert(hits.isEmpty,
      "session config outside GraftSession — build the session with " +
        s"GraftSession.builder / forMain instead: ${hits.mkString("; ")}")
  }

  test("a pin taken without cached-plan AQE warns once per JVM") {
    val seen = new java.util.concurrent.CopyOnWriteArrayList[String]()
    val appender = new AbstractAppender("graft-session-spec", null, null,
        true, Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        if (e.getLevel == Level.WARN) seen.add(e.getMessage.getFormattedMessage)
    }
    appender.start()
    val logger = LogManager.getLogger("graft.ops.CacheScope").asInstanceOf[CoreLogger]
    val level = logger.getLevel
    logger.addAppender(appender)
    logger.setLevel(Level.WARN)
    val scope = "graft-session-spec"
    def pin(n: Int): Unit = CacheScope.track(spark.range(n).toDF(), scope)
    try {
      CacheScope.warnedCachedPlan.set(false)
      pin(3)
      assert(seen.isEmpty, s"warned under the contract: $seen")
      spark.conf.set(GraftSession.CachedPlanConf, "false")
      pin(4)
      pin(5)
      assert(seen.size == 1, s"expected one warning, saw $seen")
      assert(seen.get(0).contains(GraftSession.CachedPlanConf) &&
        seen.get(0).contains("GraftSession"), seen.get(0))
      assert(CacheScope.trackedCount(spark, scope) == 3)
    } finally {
      spark.conf.set(GraftSession.CachedPlanConf, "true")
      CacheScope.unpersistAll(spark, scope)
      logger.removeAppender(appender)
      logger.setLevel(level)
      appender.stop()
    }
  }
}
