package graft
import java.nio.file.{Files, Paths}
/** Correctness dump: each SparkEntry.queries result → parquet, plus
  * oracle_sql.json and attempted.json (the keys run), for the DuckDB
  * compare in tools/compare_oracles.py. Exits non-zero when a key throws
  * or SPARK_GRAFT_VERIFY_ONLY names a key the registry does not have. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    // comma-separated allowlist for iterating on a single gate locally;
    // unset dumps everything
    val only = sys.env.get("SPARK_GRAFT_VERIFY_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val unknown = only.getOrElse(Set.empty) -- SparkEntry.queries.keySet
    if (unknown.nonEmpty) {
      System.err.println("[verify] SPARK_GRAFT_VERIFY_ONLY names keys the " +
        s"registry does not have: ${unknown.toSeq.sorted.mkString(", ")}")
      sys.exit(2)
    }
    // the session Bench times; SPARK_GRAFT_MASTER=local-cluster[...]
    // replays every gate across a real executor boundary, catching
    // non-serializable closures and broadcast assumptions local[] masks
    val spark = GraftSession.forMain()
    new java.io.File(outDir).mkdirs()
    val attempted = SparkEntry.queries.keys.toSeq
      .filter(name => only.forall(_.contains(name)))
    val failed = attempted.filter { name =>
      val dest = new java.io.File(s"$outDir/$name")
      // a result left by an earlier run must not stand in for this one
      org.apache.commons.io.FileUtils.deleteDirectory(dest)
      try {
        SparkEntry.queries(name)(spark, sfDir).coalesce(1).write
          .parquet(dest.getPath)
        false
      } catch { case scala.util.control.NonFatal(e) =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        true
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    Files.writeString(Paths.get(s"$outDir/attempted.json"),
      attempted.map(q).mkString("[", ",", "]"))
    spark.stop()
    if (failed.nonEmpty) {
      System.err.println(s"[verify] ${failed.size} key(s) threw: ${failed.mkString(", ")}")
      sys.exit(1)
    }
  }
}
