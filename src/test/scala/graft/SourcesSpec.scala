package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/**
 * Source/sink coverage: the operators are source-agnostic DataFrame
 * transforms, so engine completeness here means (a) every bulk format
 * Spark ships round-trips the corpus tables losslessly, and (b) writes
 * lay data out so reads prune — partitioned layout prunes directories
 * (PartitionFilters), bucketed layout pre-shuffles joins (audited in
 * PlanAuditSpec). Verified on the real testdata tables, not synthetic
 * frames.
 */
class SourcesSpec extends GraftSparkSuite {

  private val dir = "/root/testdata/sf0.001"
  private def docs = spark.read.parquet(s"$dir/documents.parquet")

  private def tmp(name: String): String =
    graft.ops.Scratch.dir(s"graft_$name")

  private def asSet(df: DataFrame): Set[(Long, String, String, String, Long)] =
    df.select("doc_id", "text", "lang", "source", "n_chars").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2),
        r.getString(3), r.getLong(4))).toSet

  test("csv sink/source round-trips the documents table losslessly") {
    val out = tmp("csv")
    docs.write.mode("overwrite").option("header", "true").csv(out)
    // CSV carries no types: read back with the explicit schema (the
    // production contract for text formats)
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType), StructField("source", StringType),
      StructField("n_chars", LongType)))
    val back = spark.read.option("header", "true").schema(schema).csv(out)
    assert(asSet(back) == asSet(docs))
  }

  test("json sink/source round-trips the documents table losslessly") {
    val out = tmp("json")
    docs.write.mode("overwrite").json(out)
    val back = spark.read.json(out)
      .select(col("doc_id"), col("text"), col("lang"), col("source"),
        col("n_chars"))
    assert(asSet(back) == asSet(docs))
  }

  test("orc sink/source round-trips with schema intact") {
    val out = tmp("orc")
    docs.write.mode("overwrite").orc(out)
    val back = spark.read.orc(out)
    assert(back.schema == docs.schema) // orc keeps types, unlike csv
    assert(asSet(back) == asSet(docs))
  }

  test("partitioned parquet write prunes directories on a partition filter") {
    val out = tmp("part")
    docs.write.mode("overwrite").partitionBy("lang").parquet(out)
    val back = spark.read.parquet(out).filter(col("lang") === "en")
    val plan = back.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [isnotnull(lang"),
      s"lang filter did not reach PartitionFilters:\n$plan")
    // pruned read returns exactly the en rows, none lost to layout
    assert(back.count() == docs.filter(col("lang") === "en").count())
    // the FILES actually read must all come from the lang=en directory —
    // input_file_name() reports the real scanned paths, so a pruning
    // regression (scan touching other languages' dirs) fails here
    val scanned = back.select(input_file_name()).distinct()
      .collect().map(_.getString(0))
    assert(scanned.nonEmpty && scanned.forall(_.contains("lang=en")),
      s"scan read files outside lang=en:\n${scanned.mkString("\n")}")
  }

  test("operator output sinks: pii-scrubbed corpus writes and reads back") {
    // a gated operator's frame goes through a sink and comes back intact —
    // the release artifact path (scrub -> write -> downstream read)
    val scrub = graft.ops.TextMetrics.piiScrub(docs, "text", "doc_id")
    val out = tmp("scrub")
    scrub.write.mode("overwrite").parquet(out)
    val back = spark.read.parquet(out)
    assert(back.schema == scrub.schema)
    assert(back.count() == docs.count())
    val a = scrub.orderBy("doc_id").collect().toSeq
    val b = back.orderBy("doc_id").collect().toSeq
    assert(a == b)
  }
}
