package graft.streaming

import graft.GraftSparkSuite
import java.sql.Timestamp

import org.apache.spark.sql.functions.{col, md5}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode

class StreamingSpec extends GraftSparkSuite {

  import EventsStream.{Event, UserRunning}

  private def ts(minute: Int, sec: Int = 0): Timestamp =
    Timestamp.valueOf(f"2024-01-01 10:$minute%02d:$sec%02d")

  test("windowed counts over a stream match the batch computation") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Event]
    val events = Seq(
      Event(1, ts(0), "click", 1.0), Event(2, ts(1), "click", 2.0),
      Event(1, ts(2), "view", 3.0), Event(3, ts(6), "click", 4.0),
      Event(2, ts(7), "view", 5.0), Event(1, ts(11), "click", 6.0))
    mem.addData(events: _*)
    val agg = EventsStream.windowedTypeCounts(mem.toDF())
    val q = agg.writeStream.outputMode(OutputMode.Complete())
      .format("memory").queryName("win_out").start()
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("win_out")
      .orderBy("bucket_start", "event_type")
      .collect().map(r => (r.getTimestamp(0).toString, r.getString(1), r.getLong(2)))
    val batch = EventsStream.windowedTypeCounts(events.toDF())
      .orderBy("bucket_start", "event_type")
      .collect().map(r => (r.getTimestamp(0).toString, r.getString(1), r.getLong(2)))
    assert(streamed.nonEmpty)
    assert(streamed.toSeq == batch.toSeq) // one code path, two engines
  }

  test("hopping windows on a stream: Complete-mode == batch, 3x replication") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{count, round, sum, window}
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Event]
    val events = Seq(
      Event(1, ts(0), "click", 1.0), Event(2, ts(1), "click", 2.0),
      Event(1, ts(2), "view", 3.0), Event(3, ts(6), "click", 4.0),
      Event(2, ts(7), "view", 5.0), Event(1, ts(11), "click", 6.0))
    mem.addData(events: _*)
    def hop(df: org.apache.spark.sql.DataFrame) = df
      .groupBy(window(col("ts"), "6 minutes", "2 minutes").as("w"),
        col("event_type"))
      .agg(count(org.apache.spark.sql.functions.lit(1)).as("n"),
        round(sum("value"), 2).as("sv"))
      .select(col("w.start").as("ws"), col("event_type"), col("n"), col("sv"))
    val q = hop(mem.toDF()).writeStream.outputMode(OutputMode.Complete())
      .format("memory").queryName("hop_out").start()
    q.processAllAvailable(); q.stop()
    def norm(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("ws", "event_type").collect()
        .map(r => (r.getTimestamp(0).toString, r.getString(1), r.getLong(2),
          r.getDouble(3))).toSeq
    val streamed = norm(spark.table("hop_out"))
    val batch = norm(hop(events.toDF()))
    assert(streamed == batch)
    // every event sits in exactly size/slide = 3 windows
    assert(batch.map(_._3).sum == events.size * 3)
  }

  test("stateless text operators run unchanged on streams: scrub, chunk, strip") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // piiScrub and chunk are narrow stateless transforms — the SAME
    // operator code drives a streaming frame with no watermark, no state,
    // Append mode; stream output must equal the batch run row-for-row
    val docs = Seq(
      (1L, "mail a@b.co or call 555-123-4567 then more text here"),
      (2L, "plain <b>text</b> with no personal data &amp; markup"),
      (3L, "from 10.1.2.3 with love and a long tail of words"))
    val mem = MemoryStream[(Long, String)]
    mem.addData(docs: _*)
    val in = mem.toDF().toDF("doc_id", "text")
    val scrub = graft.ops.TextMetrics.piiScrub(in, "text", "doc_id")
    val chunks = graft.ops.TextMetrics.chunk(in, "text", "doc_id", 16, 16)
    val plain = graft.ops.TextMetrics.stripHtml(in, "text", "doc_id")
    val q1 = scrub.writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("pii_out").start()
    val q2 = chunks.writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("chunk_out").start()
    val q3 = plain.writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("strip_out").start()
    q1.processAllAvailable(); q1.stop()
    q2.processAllAvailable(); q2.stop()
    q3.processAllAvailable(); q3.stop()
    val batchDf = docs.toDF("doc_id", "text")
    val sScrub = spark.table("pii_out").orderBy("doc_id").collect().toSeq
    val bScrub = graft.ops.TextMetrics.piiScrub(batchDf, "text", "doc_id")
      .orderBy("doc_id").collect().toSeq
    assert(sScrub == bScrub && sScrub.nonEmpty)
    val sCh = spark.table("chunk_out").orderBy("doc_id", "chunk_id").collect().toSeq
    val bCh = graft.ops.TextMetrics.chunk(batchDf, "text", "doc_id", 16, 16)
      .orderBy("doc_id", "chunk_id").collect().toSeq
    assert(sCh == bCh && sCh.nonEmpty)
    val sSt = spark.table("strip_out").orderBy("doc_id").collect().toSeq
    val bSt = graft.ops.TextMetrics.stripHtml(batchDf, "text", "doc_id")
      .orderBy("doc_id").collect().toSeq
    assert(sSt == bSt && sSt.nonEmpty)
  }

  test("stateless quality + URL operators run unchanged on streams") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // gopherQuality and extractUrls are per-row lambda/regexp projections —
    // zero state, Append mode, no watermark; stream == batch row-for-row
    val docs = Seq(
      (1L, "- the cat sat on the mat\nwith a hat... see https://a.ex.com/p"),
      (2L, "be that as it may have been # http://b.ex.org/q and more"),
      (3L, "short doc\n- bullet one\n- bullet two"))
    val mem = MemoryStream[(Long, String)]
    mem.addData(docs: _*)
    val in = mem.toDF().toDF("doc_id", "text")
    val q1 = graft.ops.TextMetrics.gopherQuality(in, "text", "doc_id")
      .writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("gopher_out").start()
    val q2 = graft.ops.TextMetrics.extractUrls(in, "text", "doc_id")
      .writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("url_out").start()
    q1.processAllAvailable(); q1.stop()
    q2.processAllAvailable(); q2.stop()
    val batchDf = docs.toDF("doc_id", "text")
    val sG = spark.table("gopher_out").orderBy("doc_id").collect().toSeq
    val bG = graft.ops.TextMetrics.gopherQuality(batchDf, "text", "doc_id")
      .orderBy("doc_id").collect().toSeq
    assert(sG == bG && sG.nonEmpty)
    val sU = spark.table("url_out").orderBy("doc_id", "url").collect().toSeq
    val bU = graft.ops.TextMetrics.extractUrls(batchDf, "text", "doc_id")
      .orderBy("doc_id", "url").collect().toSeq
    assert(sU == bU && sU.size == 2) // docs 1 and 2 carry one URL each
  }

  test("kfoldAssign runs unchanged on streams: arriving rows take the " +
    "same fold the batch run assigns") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // fold = pure hash of the leak key — zero state, Append mode; a
    // crawl batch streaming in gets fold assignments identical to a
    // batch re-run (append-stability IS the operator's contract)
    val docs = Seq((1L, "alpha text"), (2L, "beta text"),
      (3L, "alpha text"), (4L, "gamma text"))
    val mem = MemoryStream[(Long, String)]
    mem.addData(docs: _*)
    val in = mem.toDF().toDF("doc_id", "text")
    val q = graft.ops.Sampling.kfoldAssign(in,
        org.apache.spark.sql.functions.md5(
          org.apache.spark.sql.functions.col("text")), k = 5)
      .writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("kfold_out").start()
    q.processAllAvailable(); q.stop()
    val sF = spark.table("kfold_out").orderBy("doc_id").collect().toSeq
    val bF = graft.ops.Sampling.kfoldAssign(docs.toDF("doc_id", "text"),
        org.apache.spark.sql.functions.md5(
          org.apache.spark.sql.functions.col("text")), k = 5)
      .orderBy("doc_id").collect().toSeq
    assert(sF == bF && sF.size == 4)
    // the duplicate pair (docs 1 and 3) shares one fold on the stream too
    val folds = sF.map(r => r.getString(1) -> r.getInt(3)).toMap
    assert(sF.filter(_.getString(1) == "alpha text")
      .map(_.getInt(3)).distinct.size == 1, folds.toString)
  }

  test("streaming domain profile: Complete-mode aggregation == batch") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // domainProfile is a groupBy aggregation + broadcast flag join — on a
    // stream that is mergeable per-domain state re-emitted each batch in
    // Complete mode; counts must equal the batch run over the same rows
    val docs = Seq(
      (1L, "x https://a.ex.com/1 y https://b.bad.org/2"),
      (2L, "z https://a.ex.com/3"),
      (3L, "w https://b.bad.org/4 v https://b.bad.org/5"))
    val blocklist = Seq("b.bad.org").toDF("domain")
    val mem = MemoryStream[(Long, String)]
    mem.addData(docs.take(2): _*)
    val in = mem.toDF().toDF("doc_id", "text")
    val prof = graft.ops.TextMetrics.domainProfile(
      graft.ops.TextMetrics.extractUrls(in, "text", "doc_id"),
      "doc_id", blocklist, approxDocCounts = true)
    val q = prof.writeStream.outputMode(OutputMode.Complete())
      .format("memory").queryName("domain_out").start()
    q.processAllAvailable()
    mem.addData(docs.drop(2): _*) // late batch merges into the same state
    q.processAllAvailable(); q.stop()
    val sD = spark.table("domain_out").orderBy("domain").collect().toSeq
    val batchUrls = graft.ops.TextMetrics.extractUrls(
      docs.toDF("doc_id", "text"), "text", "doc_id")
    val bD = graft.ops.TextMetrics.domainProfile(batchUrls,
        "doc_id", blocklist, approxDocCounts = true)
      .orderBy("domain").collect().toSeq
    assert(sD == bD && sD.size == 2)
    // at these cardinalities the sketch count equals the exact count, so
    // the streaming numbers are also the true ones
    val exact = graft.ops.TextMetrics.domainProfile(batchUrls,
        "doc_id", blocklist)
      .orderBy("domain").collect().toSeq
    assert(sD == exact)
  }

  test("streaming PSI: fixed-grid bucket counts on a stream == batch, " +
    "and the assembly law psiFromCounts == psiDrift holds") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // the streaming-drift split: freeze the bin grid from the reference
    // snapshot ONCE, stream current data through the mergeable
    // per-bucket counts (Complete mode), assemble the O(bins) index per
    // trigger. KS has no such split (unbounded distinct-value state) —
    // batch-only by design.
    val refRows = (0 until 200).map(i => (i % 50).toDouble)
    val curRows = (0 until 300).map(i => (i % 60).toDouble + 5.0)
    val ref = refRows.toDF("x")
    val mm = ref.agg(org.apache.spark.sql.functions.min(col("x")),
      org.apache.spark.sql.functions.max(col("x"))).head
    val (lo, hi) = (mm.getDouble(0), mm.getDouble(1))
    val mem = MemoryStream[Double]
    mem.addData(curRows.take(100): _*)
    val counts = graft.ops.Profile.psiBucketCounts(
      mem.toDF().toDF("x"), "x", lo, hi, bins = 10)
    val q = counts.writeStream.outputMode(OutputMode.Complete())
      .format("memory").queryName("psi_counts_out").start()
    q.processAllAvailable()
    mem.addData(curRows.drop(100): _*) // second micro-batch merges state
    q.processAllAvailable(); q.stop()
    val streamed = spark.table("psi_counts_out")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val cur = curRows.toDF("x")
    val batchCounts = graft.ops.Profile.psiBucketCounts(
      cur, "x", lo, hi, bins = 10)
    val batch = batchCounts
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(streamed == batch && batch.values.sum == 300L,
      s"stream/batch count divergence: $streamed vs $batch")
    // assembly law: counts -> psiFromCounts reproduces psiDrift row-for-row
    val viaCounts = graft.ops.Profile.psiFromCounts(
        graft.ops.Profile.psiBucketCounts(ref, "x", lo, hi, 10),
        batchCounts, lo, hi, bins = 10)
      .orderBy("bucket").collect().toSeq
    val direct = graft.ops.Profile.psiDrift(ref, cur, "x", bins = 10)
      .orderBy("bucket").collect().toSeq
    assert(viaCounts == direct,
      s"psiFromCounts must equal psiDrift:\n$viaCounts\n$direct")
  }

  test("streaming CMS sketch: Complete-mode cells == batch — the " +
    "bounded-state frequency path for unbounded value spaces") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // exact corpus-global frequencies need unbounded distinct state on
    // a stream; the CMS keeps d x w counters and merges per batch
    val vals = (0 until 300).map(i => s"t${i % 23}")
    val mem = MemoryStream[String]
    mem.addData(vals.take(120): _*)
    val q = graft.ops.Profile.cmsSketch(mem.toDF().toDF("x"), "x",
        depth = 3, width = 32)
      .writeStream.outputMode(OutputMode.Complete())
      .format("memory").queryName("cms_out").start()
    q.processAllAvailable()
    mem.addData(vals.drop(120): _*)
    q.processAllAvailable(); q.stop()
    val streamed = spark.table("cms_out").collect()
      .map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
    val batch = graft.ops.Profile.cmsSketch(vals.toDF("x"), "x", 3, 32)
      .collect().map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2))
      .toMap
    assert(streamed == batch, "stream cells must equal the batch sketch")
  }

  test("streaming quality scoring: learned scorer maps a stream == batch") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // QualityClassifier.score is a stateless narrow map (broadcast model,
    // no aggregation), so the SAME trained model scores an append-mode
    // stream with per-row results identical to the batch path
    val labeled = Seq(
      (1L, "theory method result evidence study result method", 1.0),
      (2L, "click buy cheap winner free cheap click", 0.0),
      (3L, "method study evidence theory result study", 1.0),
      (4L, "free winner buy click cheap buy", 0.0)).toDF("id", "text", "lbl")
    val m = graft.ops.QualityClassifier.train(labeled, "text", "lbl",
      buckets = 1 << 10, maxIter = 20)
    val incoming = Seq((10L, "study result theory evidence"),
      (11L, "cheap click free winner"), (12L, "method evidence study"))
    val mem = MemoryStream[(Long, String)]
    mem.addData(incoming: _*)
    val q = graft.ops.QualityClassifier.score(
        m, mem.toDF().toDF("id", "text"), "text", "id")
      .writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("qscore_out").start()
    q.processAllAvailable(); q.stop()
    val streamed = spark.table("qscore_out").orderBy("id").collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getLong(2))).toSeq
    val batch = graft.ops.QualityClassifier.score(
        m, incoming.toDF("id", "text"), "text", "id")
      .orderBy("id").collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getLong(2))).toSeq
    assert(streamed == batch)
    // and the scores separate the classes on sight
    val byId = streamed.map(t => t._1 -> t._2).toMap
    assert(byId(10L) > byId(11L) && byId(12L) > byId(11L))
  }

  test("streaming heavy hitters: Complete-mode top-k == batch over all rows") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // topValues is groupBy-count + TakeOrdered — on a stream that is
    // mergeable count state, re-ranked each micro-batch in Complete mode
    val batch1 = Seq("a", "a", "b", "c")
    val batch2 = Seq("b", "a", "d", "b", "b")
    val mem = MemoryStream[String]
    mem.addData(batch1: _*)
    val q = graft.ops.Profile.topValues(mem.toDF().toDF("value"), "value", 3)
      .writeStream.outputMode(OutputMode.Complete())
      .format("memory").queryName("hh_out").start()
    q.processAllAvailable()
    mem.addData(batch2: _*) // counts must merge across batches
    q.processAllAvailable(); q.stop()
    // sort both sides: the memory sink's row order is not contractual
    val sH = spark.table("hh_out").orderBy(col("n").desc, col("value"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
    val bH = graft.ops.Profile.topValues(
        (batch1 ++ batch2).toDF("value"), "value", 3)
      .orderBy(col("n").desc, col("value"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
    assert(sH.sameElements(bH))
    assert(sH.head == (("b", 4L)) && sH(1) == (("a", 3L)))
  }

  test("stream-static enrichment join: dimension broadcast, stream == batch") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // THE most common production streaming shape: an event stream
    // enriched against a static dimension table. The static side plans as
    // a broadcast per micro-batch — no stateful join buffers at all.
    val dim = Seq((1L, "gold"), (2L, "silver")).toDF("user_id", "tier")
    val events = Seq((1L, 10.0), (2L, 5.0), (1L, 7.0), (3L, 99.0))
    val mem = MemoryStream[(Long, Double)]
    mem.addData(events: _*)
    val joined = mem.toDF().toDF("user_id", "value")
      .join(org.apache.spark.sql.functions.broadcast(dim), Seq("user_id"))
    val q = joined.writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("enrich_out").start()
    q.processAllAvailable(); q.stop()
    val s = spark.table("enrich_out").orderBy("user_id", "value").collect().toSeq
    val b = events.toDF("user_id", "value").join(dim, Seq("user_id"))
      .orderBy("user_id", "value").collect().toSeq
    assert(s == b && s.size == 3) // user 3 has no dim row and drops
  }

  test("streaming EBW recalibration: each micro-batch is re-solved") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val tmp = graft.ops.Scratch.dir("sw")
    val mem = MemoryStream[(Double, Double)]
    val stream = mem.toDF().toDF("x", "w0")
      .withColumn("feat", org.apache.spark.sql.functions.array(
        org.apache.spark.sql.functions.col("x")))
    val q = StreamingWeighter.start(stream, "feat", "w0",
      Array(1.5), s"$tmp/sink", s"$tmp/chk")
    mem.addData((1.0, 1.0), (2.0, 1.0))
    q.processAllAvailable()
    mem.addData((1.0, 1.0), (1.5, 1.0), (2.5, 1.0))
    q.processAllAvailable()
    q.stop()
    val out = spark.read.parquet(s"$tmp/sink")
    assert(out.select("batch_id").distinct().count() == 2)
    // every batch's reweighted mean of x must hit the target 1.5
    val means = out.groupBy("batch_id")
      .agg((org.apache.spark.sql.functions.sum(
        org.apache.spark.sql.functions.col("x") *
          org.apache.spark.sql.functions.col("weight_new")) /
        org.apache.spark.sql.functions.sum("w0")).as("m"))
      .collect().map(_.getDouble(1))
    means.foreach(m => assert(math.abs(m - 1.5) < 1e-5, s"batch mean $m"))
    assert(out.filter(org.apache.spark.sql.functions.col("converged") === false).count() == 0)
  }

  test("streaming dedup collapses replayed events within the watermark") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Event]
    val dedup = EventsStream.streamingDedup(
      mem.toDF(), "ts", "10 minutes", Seq("user_id", "event_type"))
    val q = dedup.writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("dedup_out").start()
    mem.addData(
      Event(1, ts(0), "click", 1.0),
      Event(1, ts(1), "click", 1.0), // near-replay: same key, 1 min later
      Event(2, ts(0), "view", 2.0))
    q.processAllAvailable()
    mem.addData(Event(1, ts(2), "click", 1.0)) // still within watermark
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("dedup_out").collect()
    // one (1, click) and one (2, view) survive
    assert(rows.length == 2, rows.mkString(","))
  }

  test("streaming homoglyph dedup: the confusable skeleton is a " +
    "stateless column, so watermarked dedup keys on it unchanged") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(java.sql.Timestamp, String)]
    // the library entry point, not a hand-rolled composition — the
    // curation-pipeline user gets the skeleton∘watermarked-dedup chain
    // as one call
    val skeletonized = graft.ops.Dedup.homoglyphStreaming(
      mem.toDF().toDF("ts", "text"), "text", "ts", "10 minutes")
    val q = skeletonized.writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("homoglyph_out").start()
    mem.addData(
      (ts(0), "win big money now"),
      (ts(1), "win big mоney nоw"),   // Cyrillic о twice: same skeleton
      (ts(1), "a different doc"))
    q.processAllAvailable()
    mem.addData((ts(2), "WIN BIG​ MONEY NOW")) // case + ZWSP: still dup
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("homoglyph_out").collect()
    assert(rows.length == 2, rows.mkString(","))
  }

  test("session windows: gap-based sessions, stream == batch") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // user 1: events at 0,2,3 (one session), then 20,21 (second session);
    // user 2: single event
    val events = Seq(
      Event(1, ts(0), "click", 1.0), Event(1, ts(2), "view", 2.0),
      Event(1, ts(3), "click", 3.0), Event(1, ts(20), "view", 4.0),
      Event(1, ts(21), "click", 5.0), Event(2, ts(5), "view", 10.0))
    val batch = EventsStream.userSessions(events.toDF(), "10 minutes")
      .orderBy("user_id", "session_start")
      .collect().map(r => (r.getLong(0), r.getTimestamp(1).toString,
        r.getLong(3), r.getDouble(4)))
    assert(batch.length == 3)
    assert(batch(0)._3 == 3 && math.abs(batch(0)._4 - 6.0) < 1e-12) // u1 s1
    assert(batch(1)._3 == 2 && math.abs(batch(1)._4 - 9.0) < 1e-12) // u1 s2
    assert(batch(2)._1 == 2 && batch(2)._3 == 1)
    val mem = MemoryStream[Event]
    mem.addData(events: _*)
    val q = EventsStream.userSessions(mem.toDF(), "10 minutes", Some("0 seconds"))
      .writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("sess_out").start()
    q.processAllAvailable()
    // advance the watermark past every session end so they all finalize
    mem.addData(Event(99, Timestamp.valueOf("2024-01-01 12:00:00"), "view", 0.0))
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("sess_out")
      .filter($"user_id" =!= 99)
      .orderBy("user_id", "session_start")
      .collect().map(r => (r.getLong(0), r.getTimestamp(1).toString,
        r.getLong(3), r.getDouble(4)))
    assert(streamed.toSeq == batch.toSeq) // one code path, two engines
  }

  test("stream-stream interval join bounds state and matches in-horizon views") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val clicks = MemoryStream[(Long, Timestamp, Long)]
    val views = MemoryStream[(Long, Timestamp, Long)]
    val cDf = clicks.toDF().toDF("click_user", "click_ts", "click_id")
    val vDf = views.toDF().toDF("view_user", "view_ts", "view_id")
    val joined = EventsStream.clickViewJoin(cDf, vDf, "30 minutes", "'10' MINUTES")
    val q = joined.writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("join_out").start()
    views.addData((1L, ts(0), 100L), (1L, ts(15), 101L), (2L, ts(0), 200L))
    clicks.addData((1L, ts(18), 900L), (2L, ts(30), 901L))
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("join_out")
      .select("click_id", "view_id").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toSet
    // click 900 at :18 matches only view 101 at :15 (view 100 at :00 is
    // outside the 10-minute horizon); click 901 at :30 matches nothing
    assert(rows == Set(900L -> 101L), rows.toString)
  }

  test("streaming as-of join matches the batch backward join under tolerance") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import StreamingAsOf.AsOfIn
    val mem = MemoryStream[AsOfIn]
    val tolMs = 5 * 60 * 1000L // 5 minutes
    // out-of-order within the watermark; two users; rights = views (is_left
    // false), lefts = clicks
    val batch1 = Seq(
      AsOfIn(1, ts(0), is_left = false, 100, 1.0),
      AsOfIn(1, ts(4), is_left = false, 101, 2.0),
      AsOfIn(1, ts(6), is_left = true, 900, 0.0),   // -> 101 (:04 within 5m)
      AsOfIn(2, ts(2), is_left = false, 200, 9.0))
    val batch2 = Seq(
      AsOfIn(1, ts(3), is_left = false, 102, 3.0),  // late-but-in-watermark: beats 101? no — :04 > :03
      AsOfIn(1, ts(12), is_left = true, 901, 0.0),  // no right in (:07,:12] -> no match
      AsOfIn(2, ts(5), is_left = true, 902, 0.0),   // -> 200 (:02, gap 3m)
      AsOfIn(2, ts(20), is_left = true, 903, 0.0))  // gap to 200 is 18m -> none
    // sentinel right on an unused key pushes the watermark far past all lefts
    val flush = Seq(AsOfIn(999, ts(59), is_left = false, 1, 0.0))
    val out = StreamingAsOf.joinBackward(mem.toDS(), "10 minutes", tolMs)
    val q = out.writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("asof_out").start()
    mem.addData(batch1: _*); q.processAllAvailable()
    mem.addData(batch2: _*); q.processAllAvailable()
    mem.addData(flush: _*); q.processAllAvailable()
    q.stop()
    val got = spark.table("asof_out")
      .select("left_id", "right_id", "right_value").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    // brute-force reference over ALL events (everything arrived within
    // watermark): latest right <= left within tolerance, ties to larger id
    val all = batch1 ++ batch2
    val expect = all.filter(_.is_left).flatMap { l =>
      val cands = all.filter(e => !e.is_left && e.key == l.key &&
        e.ts.getTime <= l.ts.getTime && l.ts.getTime - e.ts.getTime <= tolMs)
      if (cands.isEmpty) None
      else {
        val best = cands.maxBy(e => (e.ts.getTime, e.id))
        Some(l.id -> ((best.id, best.value)))
      }
    }.toMap
    assert(got == expect, s"got=$got expect=$expect")
    assert(got(900L) == ((101L, 2.0)) && got(902L) == ((200L, 9.0)))
    assert(!got.contains(901L) && !got.contains(903L))
  }

  test("stateful running totals accumulate across micro-batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Event]
    val running = EventsStream.runningUserTotals(mem.toDS())
    val q = running.writeStream.outputMode(OutputMode.Update())
      .format("memory").queryName("run_out").start()
    mem.addData(Event(1, ts(0), "click", 1.0), Event(1, ts(1), "view", 2.0))
    q.processAllAvailable()
    mem.addData(Event(1, ts(2), "click", 4.0), Event(2, ts(2), "view", 10.0))
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("run_out").as[UserRunning].collect()
    // last update for user 1 must reflect state carried across batches
    val u1 = rows.filter(_.user_id == 1).maxBy(_.n_events)
    assert(u1.n_events == 3 && math.abs(u1.total_value - 7.0) < 1e-12)
    val u2 = rows.filter(_.user_id == 2).maxBy(_.n_events)
    assert(u2.n_events == 1 && math.abs(u2.total_value - 10.0) < 1e-12)
  }

  test("streaming quantile profile: sketch state merges across batches, " +
      "matches batch approx exactly and batch exact within the rank band") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val rng = new scala.util.Random(7)
    val events = (1 to 200).map(i => Event(i % 5, ts(i % 50, i % 60),
      if (i % 2 == 0) "click" else "view", rng.nextDouble() * 100))
    val qs = Seq(0.25, 0.5, 0.75)
    val mem = MemoryStream[Event]
    val prof = graft.ops.Profile.groupQuantilesApprox(
      mem.toDF(), "event_type", "value", qs)
    val q = prof.writeStream.outputMode(OutputMode.Complete())
      .format("memory").queryName("prof_out").start()
    mem.addData(events.take(100): _*)
    q.processAllAvailable()
    mem.addData(events.drop(100): _*) // second micro-batch: sketches MERGE
    q.processAllAvailable()
    q.stop()
    def key(r: org.apache.spark.sql.Row) = (r.getString(0), r.getDouble(1))
    val streamed = spark.table("prof_out").collect()
      .map(r => key(r) -> (r.getDouble(2), r.getLong(3))).toMap
    val batchApprox = graft.ops.Profile.groupQuantilesApprox(
        events.toDF(), "event_type", "value", qs).collect()
      .map(r => key(r) -> (r.getDouble(2), r.getLong(3))).toMap
    // one code path, two engines: identical sketch, identical output
    assert(streamed == batchApprox, s"streamed=$streamed batch=$batchApprox")
    // and within the documented band of the EXACT per-group quantiles: at
    // n=100/group and accuracy=10000 the rank error is < 1, so each approx
    // value sits within one order-statistic gap of the interpolated exact
    val exact = graft.ops.Profile.groupQuantiles(
        events.toDF(), "event_type", "value", qs).collect()
      .map(r => key(r) -> r.getDouble(2)).toMap
    val gap = events.groupBy(_.event_type).map { case (g, es) =>
      val sorted = es.map(_.value).sorted
      g -> sorted.zip(sorted.tail).map(p => p._2 - p._1).max
    }
    streamed.foreach { case ((g, qq), (v, n)) =>
      assert(n == 100, s"group $g count $n")
      assert(math.abs(v - exact((g, qq))) <= gap(g) + 1e-9,
        s"group $g q=$qq approx=$v exact=${exact((g, qq))} band=${gap(g)}")
    }
  }
}
