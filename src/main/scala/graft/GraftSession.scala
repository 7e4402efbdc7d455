package graft

import org.apache.spark.sql.SparkSession

/**
 * The one session contract: the confs graft's plans depend on, set in one
 * place for every main, example and spec.
 *
 *  - `spark.sql.shuffle.partitions` = cores.
 *  - `spark.sql.optimizer.canChangeCachedPlanOutputPartitioning` = true
 *    (Spark 4.1.2 defaults it to false). It lets AQE re-plan the output
 *    partitioning of cached plans. Without it every `.cache()` pin inside
 *    an operator is compiled without AQE, so its InMemoryRelation keeps
 *    the raw shuffle-partition count and every consumer stage inherits
 *    near-empty tasks; measured on dedup_minhash_pairs at 32 cores: 201 ->
 *    21 tasks, 40 s -> 3.5 s task time, 4.7 s -> 2.4 s wall. AQE coalesces
 *    to the data's real size at any scale, so a production cluster wants
 *    the same setting. `CacheScope.track` warns once when it is off.
 *  - session time zone UTC; UI off.
 *
 * AQE itself (`spark.sql.adaptive.enabled`) is on by default. On a running
 * session `getOrCreate` applies these as runtime SQL confs, so a library
 * user with an existing session calls the same `builder(cores).getOrCreate()`.
 */
object GraftSession {

  val CachedPlanConf = "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning"

  def builder(cores: Int): SparkSession.Builder = builder(cores, s"local[$cores]")

  def builder(cores: Int, master: String): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .config("spark.sql.shuffle.partitions", cores.toLong)
      .config(CachedPlanConf, true)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", false)

  /** The env contract of every main, log level WARN:
   *  - `SPARK_GRAFT_CPUS`: cores (default: the JVM's available processors);
   *  - `SPARK_GRAFT_MASTER`: master (default `local[cpus]`);
   *    `local-cluster[2,16,4096]` crosses a real executor boundary and
   *    needs `SPARK_HOME` and `SPARK_SCALA_VERSION=2.13` set;
   *  - `SPARK_GRAFT_JARS`: `spark.jars`, the packaged graft jar that
   *    executor JVMs deserialize closures from;
   *  - `SPARK_GRAFT_EXEC_MEM`: `spark.executor.memory` (default 1g,
   *    whatever worker memory local-cluster grants). */
  def forMain(): SparkSession = {
    val cores = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors)
    val b = builder(cores, sys.env.getOrElse("SPARK_GRAFT_MASTER", s"local[$cores]"))
    sys.env.get("SPARK_GRAFT_JARS").foreach(b.config("spark.jars", _))
    sys.env.get("SPARK_GRAFT_EXEC_MEM").foreach(b.config("spark.executor.memory", _))
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
