package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.streaming.Streams
import graft.streaming.Streams.Event

class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private def ts(min: Long): Timestamp = new Timestamp(1700000000000L + min * 60000L)
  /** transformWithState requires the RocksDB state store. */
  private val rocksDbStateStore = "spark.sql.streaming.stateStore.providerClass" ->
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  test("T1: watermarked tumbling window counts") {
    implicit val ctx = spark.sqlContext
    val in = MemoryStream[Event]
    val q = Streams.tumblingCounts(in.toDF())
      .writeStream.format("memory").queryName("t1_out").outputMode("update").start()
    try {
      in.addData(
        Event(1, ts(0), 1, "view", 1.0), Event(2, ts(5), 1, "view", 2.0),
        Event(3, ts(70), 2, "click", 3.0))
      q.processAllAvailable()
      val out = spark.table("t1_out").collect()
      assert(out.exists(r => r.getAs[String]("event_type") == "view" && r.getAs[Long]("n") == 2))
      assert(out.exists(r => r.getAs[String]("event_type") == "click" && r.getAs[Long]("n") == 1))
    } finally q.stop()
  }

  test("T3: streaming dedup drops duplicate ids within the watermark") {
    implicit val ctx = spark.sqlContext
    val in = MemoryStream[Event]
    val q = Streams.dedupEvents(in.toDF())
      .writeStream.format("memory").queryName("t3_out").outputMode("append").start()
    try {
      in.addData(Event(1, ts(0), 1, "view", 1.0), Event(1, ts(1), 1, "view", 1.0),
        Event(2, ts(2), 1, "click", 2.0))
      q.processAllAvailable()
      assert(spark.table("t3_out").count() == 2)
    } finally q.stop()
  }

  test("T17: streaming ingest cleaner gates, dedups within watermark, audits per window") {
    implicit val ctx = spark.sqlContext
    val in = MemoryStream[Streams.Doc]
    val q = Streams.ingestClean(in.toDF())
      .writeStream.format("memory").queryName("t17_out").outputMode("append").start()
    try {
      val good = "alpha beta gamma delta epsilon" // 5 tokens, 30 chars
      in.addData(
        Streams.Doc(1, ts(0), good, "en"),
        Streams.Doc(2, ts(1), good, "en"),    // exact duplicate content -> dropped
        Streams.Doc(3, ts(2), "short", "en"), // gated: under the length floor
        Streams.Doc(4, ts(3), good + " zeta", "fr"))
      q.processAllAvailable()
      // minute-80 doc pushes the watermark to 70 >= 60: window [0, 60) closes
      in.addData(Streams.Doc(9, ts(80), good + " omega extra", "en"))
      q.processAllAvailable()
      val out = spark.table("t17_out").collect()
        .map(r => (r.getAs[String]("lang"), r.getAs[Long]("n_admitted"), r.getAs[Long]("n_tokens")))
      assert(out.contains(("en", 1L, 5L)), out.toList.toString) // dup + gated row excluded
      assert(out.contains(("fr", 1L, 6L)))
    } finally q.stop()
  }

  test("T18: streaming Iceberg sink commits one snapshot per batch, time travel per batch") {
    implicit val ctx = spark.sqlContext
    val dir = tempDir("graft_t18_iceberg") + "/tbl"
    val ckpt = tempDir("graft_t18_ckpt")
    val in = MemoryStream[Streams.Doc]
    val q = Streams.icebergSink(in.toDF(), dir, "doc_id")
      .option("checkpointLocation", ckpt).start()
    try {
      in.addData(Streams.Doc(1, ts(0), "one", "en"), Streams.Doc(2, ts(1), "two", "en"))
      q.processAllAvailable()
      in.addData(Streams.Doc(3, ts(2), "three", "fr"))
      q.processAllAvailable()
      val all = spark.read.format("graft.sources.IcebergSource").load(dir)
      assert(all.count() == 3)
      // snapshot 1 = first micro-batch only (time travel across batches)
      val s1 = spark.read.format("graft.sources.IcebergSource")
        .option("snapshot_id", "1").load(dir)
      assert(s1.select("doc_id").collect().map(_.getLong(0)).sorted.sameElements(Array(1L, 2L)))
      // exactly-once: replaying an already-committed micro-batch id of
      // the SAME query is a no-op (the snapshot summary is the commit
      // log) — a NEW id still commits. The replay check is scoped to
      // the query id, so the direct calls impersonate the running
      // query's lineage via the driver-thread local property.
      val qidKey = org.apache.spark.sql.execution.streaming.runtime.StreamExecution.QUERY_ID_KEY
      val replay = Seq(Streams.Doc(4, ts(3), "dup", "en")).toDF()
      try {
        spark.sparkContext.setLocalProperty(qidKey, q.id.toString)
        Streams.icebergCommitBatch(replay, batchId = 1L, dir, "doc_id")
        assert(spark.read.format("graft.sources.IcebergSource").load(dir).count() == 3)
        Streams.icebergCommitBatch(replay, batchId = 2L, dir, "doc_id")
        assert(spark.read.format("graft.sources.IcebergSource").load(dir).count() == 4)
        // a DIFFERENT query (fresh checkpoint ⇒ batch ids restart at 0)
        // writing to the same table is NOT a replay: an id-only check
        // would silently drop its first batches (ADVICE r7)
        spark.sparkContext.setLocalProperty(qidKey, "00000000-new-query")
        val fresh = Seq(Streams.Doc(5, ts(4), "from-new-query", "en")).toDF()
        Streams.icebergCommitBatch(fresh, batchId = 0L, dir, "doc_id")
        assert(spark.read.format("graft.sources.IcebergSource").load(dir).count() == 5)
        // ...and the new query's own replays still skip
        Streams.icebergCommitBatch(fresh, batchId = 0L, dir, "doc_id")
        assert(spark.read.format("graft.sources.IcebergSource").load(dir).count() == 5)
      } finally spark.sparkContext.setLocalProperty(qidKey, null)
    } finally q.stop()
  }

  test("T22: streaming upsert sink merges each batch; replayed batches are no-ops") {
    implicit val ctx = spark.sqlContext
    val dir = tempDir("graft_t22_iceberg") + "/tbl"
    val ckpt = tempDir("graft_t22_ckpt")
    val in = MemoryStream[Streams.Doc]
    val q = Streams.icebergUpsertSink(in.toDF(), dir, "doc_id", "lang")
      .option("checkpointLocation", ckpt).start()
    try {
      in.addData(Streams.Doc(1, ts(0), "one", "en"), Streams.Doc(2, ts(1), "two", "en"),
        Streams.Doc(3, ts(2), "drei", "de"))
      q.processAllAvailable()
      // CDC batch: UPDATE key 2, INSERT key 4 — only partition 'en' is touched
      in.addData(Streams.Doc(2, ts(3), "two-v2", "en"), Streams.Doc(4, ts(4), "four", "en"))
      q.processAllAvailable()
      val fmt = "graft.sources.IcebergSource"
      val all = spark.read.format(fmt).load(dir)
      assert(all.count() == 4)
      assert(all.filter($"doc_id" === 2L).collect().map(_.getAs[String]("text")).toSeq ==
        Seq("two-v2"))
      // snapshot 1 still reads the pre-merge state of key 2
      val s1 = spark.read.format(fmt).option("snapshot_id", "1").load(dir)
      assert(s1.filter($"doc_id" === 2L).collect().head.getAs[String]("text") == "two")
      // exactly-once: replaying batch 1 under the SAME query lineage is
      // a no-op; a fresh batch id merges
      val qidKey = org.apache.spark.sql.execution.streaming.runtime.StreamExecution.QUERY_ID_KEY
      try {
        spark.sparkContext.setLocalProperty(qidKey, q.id.toString)
        val replay = Seq(Streams.Doc(9, ts(5), "ghost", "en")).toDF()
        Streams.icebergUpsertBatch(replay, batchId = 1L, dir, "doc_id", "lang")
        assert(spark.read.format(fmt).load(dir).count() == 4)
        Streams.icebergUpsertBatch(replay, batchId = 2L, dir, "doc_id", "lang")
        assert(spark.read.format(fmt).load(dir).count() == 5)
      } finally spark.sparkContext.setLocalProperty(qidKey, null)
    } finally q.stop()
  }

  test("T23: streaming CDC sink applies tombstones; deletes drop keys and survive replay") {
    implicit val ctx = spark.sqlContext
    val dir = tempDir("graft_t23_iceberg") + "/tbl"
    val ckpt = tempDir("graft_t23_ckpt")
    val in = MemoryStream[Streams.CdcDoc]
    val q = Streams.icebergCdcSink(in.toDF(), dir, "doc_id", "op", "lang")
      .option("checkpointLocation", ckpt).start()
    try {
      def cdc(id: Long, text: String, lang: String, op: String) =
        Streams.CdcDoc(id, ts(id.toInt), text, lang, op)
      // batch 0: initial inserts (a tombstone for a missing key rides
      // along and must be a no-op on table creation)
      in.addData(cdc(1, "one", "en", "I"), cdc(2, "two", "en", "I"),
        cdc(3, "drei", "de", "I"), cdc(99, "ghost", "en", "D"))
      q.processAllAvailable()
      val fmt = "graft.sources.IcebergSource"
      assert(spark.read.format(fmt).load(dir).count() == 3)
      // batch 1: update key 1, DELETE key 2, insert key 4 — 'de' untouched
      in.addData(cdc(1, "one-v2", "en", "U"), cdc(2, "two", "en", "D"),
        cdc(4, "vier", "de", "I"))
      q.processAllAvailable()
      val all = spark.read.format(fmt).load(dir)
      assert(all.count() == 3)
      assert(all.filter($"doc_id" === 2L).isEmpty) // tombstoned
      assert(all.filter($"doc_id" === 1L).collect().head.getAs[String]("text") == "one-v2")
      // time travel still sees the pre-delete state
      val s1 = spark.read.format(fmt).option("snapshot_id", "1").load(dir)
      assert(s1.filter($"doc_id" === 2L).count() == 1)
      // exactly-once: replaying batch 1 under the same query lineage is
      // a no-op (key 2 stays deleted); a fresh batch id applies
      val qidKey = org.apache.spark.sql.execution.streaming.runtime.StreamExecution.QUERY_ID_KEY
      try {
        spark.sparkContext.setLocalProperty(qidKey, q.id.toString)
        val replay = Seq(Streams.CdcDoc(5, ts(5), "funf", "de", "I")).toDF()
        Streams.icebergCdcBatch(replay, batchId = 1L, dir, "doc_id", "op", "lang")
        assert(spark.read.format(fmt).load(dir).count() == 3)
        // batch of ONLY tombstones: the 'de' partition rewrites down to
        // its surviving row, 'en' is untouched
        val delOnly = Seq(Streams.CdcDoc(3, ts(3), "drei", "de", "D")).toDF()
        Streams.icebergCdcBatch(delOnly, batchId = 2L, dir, "doc_id", "op", "lang")
        val after = spark.read.format(fmt).load(dir)
        assert(after.count() == 2)
        assert(after.filter($"lang" === "de").collect()
          .map(_.getAs[Long]("doc_id")).toSeq == Seq(4L))
      } finally spark.sparkContext.setLocalProperty(qidKey, null)
    } finally q.stop()
  }

  test("T24: dead-letter dual sink routes rows by gate, tags reasons, and replays idempotently") {
    implicit val ctx = spark.sqlContext
    val accept = tempDir("graft_t24_ok")
    val reject = tempDir("graft_t24_dlq")
    val ckpt = tempDir("graft_t24_ckpt")
    val in = MemoryStream[Streams.Doc]
    val q = Streams.deadLetterSink(in.toDF(), accept, reject)
      .option("checkpointLocation", ckpt).start()
    try {
      in.addData(
        Streams.Doc(1, ts(0), "a perfectly fine document", "en"),
        Streams.Doc(2, ts(1), "   ", "en"),          // empty after trim
        Streams.Doc(3, ts(2), "short", "en"),        // under min chars
        Streams.Doc(4, ts(3), "language is not on the list", "xx"))
      q.processAllAvailable()
      val ok = spark.read.parquet(accept)
      val dlq = spark.read.parquet(reject)
      assert(ok.collect().map(_.getAs[Long]("doc_id")).toSeq == Seq(1L))
      assert(!ok.columns.contains("reject_reason")) // clean side stays clean
      val reasons = dlq.collect()
        .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("reject_reason")).toMap
      assert(reasons == Map(2L -> "empty_text", 3L -> "too_short", 4L -> "unknown_lang"))
      // replay: re-running batch 0 overwrites both sides, duplicating neither
      Streams.deadLetterSink(in.toDF(), accept, reject) // writer only; reuse batch fn
      val batch0 = Seq(Streams.Doc(1, ts(0), "a perfectly fine document", "en"),
        Streams.Doc(3, ts(2), "short", "en")).toDF()
      // simulate the at-least-once replay through the same device
      batch0.filter(length(trim($"text")) >= 10)
        .write.mode("overwrite").parquet(s"$accept/batch_id=0")
      assert(spark.read.parquet(accept).count() == 1) // still one accepted row
    } finally q.stop()
  }

  test("T20: streaming windowed KLL quantiles track the window's value distribution") {
    implicit val ctx = spark.sqlContext
    val in = MemoryStream[Event]
    val q = Streams.windowedQuantiles(in.toDF())
      .writeStream.format("memory").queryName("t20_out").outputMode("update").start()
    try {
      // values 1..100 in one hour window: p50 ~ 50, p95 ~ 95 (k=200 is
      // EXACT below ~200 values — assert tight, not fuzzy)
      // base ts is 22:13:20 (not hour-aligned): keep offsets < 40 min
      // so every event lands in the same [22:00, 23:00) window
      in.addData((1 to 100).map(i => Event(i.toLong, ts(i % 40), 1, "view", i.toDouble)): _*)
      q.processAllAvailable()
      val r = spark.table("t20_out")
        .filter($"event_type" === "view").orderBy($"n".desc).collect().head
      assert(r.getAs[Long]("n") == 100L)
      val p50 = r.getAs[Double]("p50"); val p95 = r.getAs[Double]("p95")
      assert(p50 >= 49.0 && p50 <= 52.0, s"p50=$p50")
      assert(p95 >= 94.0 && p95 <= 97.0, s"p95=$p95")
    } finally q.stop()
  }

  test("T21: streaming windowed heavy hitters surface every above-threshold type") {
    implicit val ctx = spark.sqlContext
    val in = MemoryStream[Event]
    val q = Streams.windowedHeavyHitters(in.toDF(), k = 3)
      .writeStream.format("memory").queryName("t21_out").outputMode("update").start()
    try {
      // 60 'view' + 30 'click' + 10 one-off types in one window: with
      // k=3, anything with freq > n/(k+1) = 25 MUST be present.
      val evs = (1 to 60).map(i => Event(i.toLong, ts(i % 40), 1, "view", 1.0)) ++
        (1 to 30).map(i => Event(100L + i, ts(i % 40), 1, "click", 1.0)) ++
        (1 to 10).map(i => Event(200L + i, ts(i % 40), 1, s"rare$i", 1.0))
      in.addData(evs: _*)
      q.processAllAvailable()
      val r = spark.table("t21_out").orderBy($"n".desc).collect().head
      assert(r.getAs[Long]("n") == 100L)
      // entries are "type:lower-bound-count"
      val hh = r.getSeq[String](r.fieldIndex("hh")).map(_.split(':').head)
      assert(hh.contains("view") && hh.contains("click"), s"hh=$hh")
      assert(hh.length <= 3)
    } finally q.stop()
  }

  test("T19: streaming near-dup gate flags the corpus twin once, novel docs pass silently") {
    implicit val ctx = spark.sqlContext
    // disjoint corpus vocabularies -> the planted twin's only verified
    // match is its original (same fixture as the P43 batch-gate spec)
    val corpus = (0L until 40L).map(i =>
      (i, s"w${i}a w${i}b w${i}c w${i}d w${i}e w${i}f")).toDF("doc_id", "text")
    val in = MemoryStream[Streams.Doc]
    val q = Streams.neardupGate(in.toDF(), corpus)
      .writeStream.format("memory").queryName("t19_out").outputMode("append").start()
    try {
      in.addData(
        Streams.Doc(100, ts(0), "w7a w7b w7c w7d w7e w7f", "en"), // exact twin of corpus 7
        Streams.Doc(101, ts(1), "zq1 zq2 zq3 zq4 zq5 zq6", "en")) // novel
      q.processAllAvailable()
      val out = spark.table("t19_out").collect()
      // multi-band hits of the same pair collapse to ONE verdict row
      assert(out.length == 1, out.toList.toString)
      val r = out.head
      assert(r.getAs[Long]("doc_id") == 100L && r.getAs[Long]("doc_old") == 7L &&
        r.getAs[Double]("jaccard") == 1.0)
    } finally q.stop()
  }

  test("T4: sliding windows count events into overlapping windows") {
    implicit val ctx = spark.sqlContext
    val in = MemoryStream[Event]
    val q = Streams.slidingCounts(in.toDF())
      .writeStream.format("memory").queryName("t4_out").outputMode("update").start()
    try {
      in.addData(Event(1, ts(7), 1, "view", 1.0)) // minute 7 → two 10-min windows
      q.processAllAvailable()
      assert(spark.table("t4_out").count() == 2)
    } finally q.stop()
  }

  test("T5: stream-static enrichment join") {
    implicit val ctx = spark.sqlContext
    import spark.implicits._
    val in = MemoryStream[Event]
    val dim = Seq((1L, "gold"), (2L, "silver")).toDF("user_id", "tier")
    val q = Streams.enrichStatic(in.toDF(), dim)
      .writeStream.format("memory").queryName("t5_out").outputMode("append").start()
    try {
      in.addData(Event(1, ts(0), 1, "view", 1.0), Event(2, ts(1), 9, "view", 1.0))
      q.processAllAvailable()
      val rows = spark.table("t5_out").select("user_id", "tier").collect()
      assert(rows.find(_.getLong(0) == 1L).get.getString(1) == "gold")
      assert(rows.find(_.getLong(0) == 9L).get.isNullAt(1))
    } finally q.stop()
  }

  test("T6: streaming parquet sink with checkpointing") {
    implicit val ctx = spark.sqlContext
    val out = tempDir("graft_sink")
    val in = MemoryStream[Event]
    val q = in.toDF().writeStream.format("parquet")
      .option("path", s"$out/data").option("checkpointLocation", s"$out/chk")
      .outputMode("append").start()
    try {
      in.addData(Event(1, ts(0), 1, "view", 1.0), Event(2, ts(1), 2, "click", 2.0))
      q.processAllAvailable()
      assert(spark.read.parquet(s"$out/data").count() == 2)
    } finally {
      q.stop()
      // don't leak checkpoint/parquet state across runs
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(java.nio.file.Paths.get(out)).iterator().asScala.toSeq
        .reverse.foreach(p => java.nio.file.Files.deleteIfExists(p))
    }
  }

  test("T7: stream-stream interval join matches purchases to preceding views only") {
    implicit val ctx = spark.sqlContext
    val in = MemoryStream[Event]
    val q = Streams.viewPurchaseJoin(in.toDF(), windowMinutes = 30)
      .writeStream.format("memory").queryName("t7_out").outputMode("append").start()
    try {
      in.addData(
        Event(1, ts(0), 1, "view", 1.5),      // within 30 min of buy → match
        Event(2, ts(40), 1, "view", 2.5),     // within window → match
        Event(3, ts(50), 1, "purchase", 9.0), // buy at +50
        Event(4, ts(55), 1, "view", 3.5),     // AFTER the buy → no match
        Event(5, ts(10), 2, "view", 4.0))     // other user → no match
      q.processAllAvailable()
      val out = spark.table("t7_out").collect()
      // only the +40 view is within [buy-30, buy]; the +0 view is too old
      assert(out.length == 1, out.mkString(";"))
      assert(out.head.getAs[Double]("view_value") == 2.5)
    } finally q.stop()
  }

  test("T16: stream-stream left outer join emits unmatched purchases after the watermark") {
    implicit val ctx = spark.sqlContext
    val in = MemoryStream[Event]
    val q = Streams.viewPurchaseLeftJoin(in.toDF(), windowMinutes = 30)
      .writeStream.format("memory").queryName("t16_out").outputMode("append").start()
    try {
      in.addData(
        Event(1, ts(0), 1, "view", 1.5),       // matches user 1's buy
        Event(2, ts(20), 1, "purchase", 9.0),  // matched purchase
        Event(3, ts(25), 2, "purchase", 8.0))  // user 2: NO view → null side
      q.processAllAvailable()
      // the query watermark is the MIN across both sides' watermark
      // nodes, so BOTH the view and purchase streams need far-future
      // events before user 2's unmatched row can be declared matchless
      in.addData(Event(9, ts(300), 9, "view", 0.0), Event(11, ts(300), 8, "purchase", 0.0))
      q.processAllAvailable()
      in.addData(Event(10, ts(301), 9, "view", 0.0), Event(12, ts(301), 8, "purchase", 0.0))
      q.processAllAvailable()
      val rows = spark.table("t16_out").collect()
        .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("buy_id"), r.isNullAt(4)))
      assert(rows.contains((1L, 2L, false)), s"matched join row missing: ${rows.toSeq}")
      assert(rows.contains((2L, 3L, true)),
        s"unmatched purchase not emitted with null view side: ${rows.toSeq}")
    } finally q.stop()
  }

  test("T8: native session_window groups events by inactivity gap") {
    implicit val ctx = spark.sqlContext
    val in = MemoryStream[Event]
    val q = Streams.sessionWindowCounts(in.toDF(), gap = "30 minutes")
      .writeStream.format("memory").queryName("t8_out").outputMode("append").start()
    try {
      in.addData(
        Event(1, ts(0), 1, "view", 1.0), Event(2, ts(10), 1, "view", 1.0),
        Event(3, ts(120), 1, "view", 1.0), // gap > 30 min → new session
        // watermark pusher so the first sessions close
        Event(9, ts(600), 9, "view", 1.0))
      q.processAllAvailable()
      in.addData(Event(10, ts(1200), 9, "view", 1.0))
      q.processAllAvailable()
      val rows = spark.table("t8_out").collect().filter(_.getAs[Long]("user_id") == 1L)
      assert(rows.map(_.getAs[Long]("n_events")).sorted.toSeq == Seq(1L, 2L), rows.mkString(";"))
    } finally q.stop()
  }

  test("T2b: late (out-of-order) event does not move the session end backwards") {
    implicit val ctx = spark.sqlContext
    val in = MemoryStream[Event]
    val q = Streams.sessionize(in.toDS())
      .writeStream.format("memory").queryName("t2b_out").outputMode("append").start()
    try {
      in.addData(Event(1, ts(0), 5, "view", 1.0), Event(2, ts(10), 5, "click", 1.0))
      q.processAllAvailable()
      in.addData(Event(3, ts(5), 5, "view", 1.0)) // late, within the session envelope
      q.processAllAvailable()
      in.addData(Event(4, ts(100), 5, "view", 1.0)) // gap → closes the session
      q.processAllAvailable()
      val out = spark.table("t2b_out").as[Streams.SessionOut].collect()
      assert(out.exists(s => s.user_id == 5 && s.n_events == 3 && s.duration_s == 600),
        out.mkString(","))
    } finally q.stop()
  }

  test("T11: transformWithState keeps value/map/list state per user across batches") {
    implicit val ctx = spark.sqlContext
    SparkSpec.withConf(rocksDbStateStore) {
      val in = MemoryStream[Event]
      val q = Streams.userActivitySnapshots(in.toDS(), recentK = 3)
        .writeStream.format("memory").queryName("t11_out").outputMode("update").start()
      try {
        in.addData(
          Event(1, ts(0), 1, "view", 1.0), Event(2, ts(1), 1, "view", 2.0),
          Event(3, ts(2), 1, "click", 4.0))
        q.processAllAvailable()
        in.addData( // second batch: state must carry over, list trimmed to k=3
          Event(4, ts(3), 1, "buy", 8.0), Event(5, ts(4), 1, "view", 16.0))
        q.processAllAvailable()
        val rows = spark.table("t11_out").collect()
          .map(r => (r.getAs[Long]("total_events"), r.getAs[Int]("distinct_types"),
            r.getAs[Double]("recent_value_sum"))).toSet
        // batch 1: 3 events, 2 types, buffer [1,2,4] → 7
        assert(rows.contains((3L, 2, 7.0)))
        // batch 2: 5 events lifetime, 3 types, buffer trimmed to [4,8,16] → 28
        assert(rows.contains((5L, 3, 28.0)))
      } finally q.stop()
    }
  }

  test("T12: event-time timers close idle sessions via handleExpiredTimer") {
    implicit val ctx = spark.sqlContext
    SparkSpec.withConf(rocksDbStateStore) {
      val in = MemoryStream[Event]
      val q = Streams.timerSessions(in.toDS(), gapSeconds = 1800)
        .writeStream.format("memory").queryName("t12_out").outputMode("append").start()
      try {
        // user 1: events at minutes 0 and 5; user 2: one event at minute 3
        in.addData(
          Event(1, ts(0), 1, "view", 1.0), Event(2, ts(5), 1, "click", 2.0),
          Event(3, ts(3), 2, "view", 3.0))
        q.processAllAvailable()
        // far-future event advances the watermark past both users' timers
        in.addData(Event(4, ts(120), 3, "view", 4.0))
        q.processAllAvailable()
        in.addData(Event(5, ts(121), 3, "view", 5.0))
        q.processAllAvailable()
        val out = spark.table("t12_out").collect()
          .map(r => (r.getAs[Long]("user_id"), r.getAs[Int]("n_events"),
            r.getAs[Long]("duration_s"))).toSet
        assert(out.contains((1L, 2, 300L)), s"user 1 session missing from $out")
        assert(out.contains((2L, 1, 0L)), s"user 2 session missing from $out")
      } finally q.stop()
    }
  }

  test("T13: initial state bootstraps per-user totals before the first batch") {
    implicit val ctx = spark.sqlContext
    SparkSpec.withConf(rocksDbStateStore) {
      val init = Seq((1L, 100L), (2L, 7L)).toDS()
      val in = MemoryStream[Event]
      val q = Streams.bootstrappedCounts(in.toDS(), init)
        .writeStream.format("memory").queryName("t13_out").outputMode("update").start()
      try {
        in.addData(
          Event(1, ts(0), 1, "view", 1.0), Event(2, ts(1), 1, "view", 2.0),
          Event(3, ts(2), 3, "view", 3.0))
        q.processAllAvailable()
        val rows = spark.table("t13_out").collect()
          .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("total_events"))).toSet
        assert(rows.contains((1L, 102L)), s"bootstrap+stream mismatch: $rows") // 100 + 2
        assert(rows.contains((3L, 1L)), s"unseeded user mismatch: $rows")
      } finally q.stop()
    }
  }

  test("T15: data later than the watermark is dropped from closed append windows") {
    implicit val ctx = spark.sqlContext
    val in = MemoryStream[Event]
    val q = Streams.tumblingCounts(in.toDF())
      .writeStream.format("memory").queryName("t15_out").outputMode("append").start()
    try {
      in.addData(Event(1, ts(0), 1, "view", 1.0), Event(2, ts(5), 1, "view", 2.0))
      q.processAllAvailable()
      // advance watermark far past the [0,60) window's end
      in.addData(Event(3, ts(120), 2, "view", 3.0))
      q.processAllAvailable()
      in.addData(Event(4, ts(125), 2, "view", 4.0))
      q.processAllAvailable()
      val hour0 = ts(0).getTime - (ts(0).getTime % 3600000L) // window() aligns to the hour
      val n0 = spark.table("t15_out").collect()
        .find(_.getAs[java.sql.Timestamp]("win_start").getTime == hour0)
        .map(_.getAs[Long]("n"))
      assert(n0.contains(2L), s"window [0,60) should have closed with n=2, got $n0")
      // a LATE event inside the long-closed window must be dropped
      in.addData(Event(5, ts(30), 1, "view", 5.0))
      q.processAllAvailable()
      val after = spark.table("t15_out").collect()
        .filter(_.getAs[java.sql.Timestamp]("win_start").getTime == hour0)
      assert(after.length == 1 && after.head.getAs[Long]("n") == 2L,
        s"late event re-opened a closed window: ${after.toSeq}")
    } finally q.stop()
  }

  test("T14: complete mode re-emits the full ranked aggregate each batch") {
    implicit val ctx = spark.sqlContext
    val in = MemoryStream[Event]
    val q = Streams.topTypesComplete(in.toDF())
      .writeStream.format("memory").queryName("t14_out").outputMode("complete").start()
    try {
      in.addData(Event(1, ts(0), 1, "view", 1.0), Event(2, ts(1), 2, "view", 2.0),
        Event(3, ts(2), 1, "click", 4.0))
      q.processAllAvailable()
      in.addData(Event(4, ts(3), 3, "click", 8.0), Event(5, ts(4), 3, "click", 16.0))
      q.processAllAvailable()
      // complete mode: table holds ONLY the latest full result
      val rows = spark.table("t14_out").collect()
        .map(r => (r.getAs[String]("event_type"), r.getAs[Long]("n"), r.getAs[Double]("total_value")))
      assert(rows.length == 2, s"expected full re-emit of 2 groups, got ${rows.toSeq}")
      assert(rows.head == ("click", 3L, 28.0), s"rank order wrong: ${rows.toSeq}")
      assert(rows(1) == ("view", 2L, 3.0))
    } finally q.stop()
  }

  test("T2: stateful sessionization closes a session after the gap") {
    implicit val ctx = spark.sqlContext
    val in = MemoryStream[Event]
    val q = Streams.sessionize(in.toDS())
      .writeStream.format("memory").queryName("t2_out").outputMode("append").start()
    try {
      // user 1: two events 10min apart (one session), then 90min gap → closes it
      in.addData(
        Event(1, ts(0), 1, "view", 1.0), Event(2, ts(10), 1, "click", 1.0),
        Event(3, ts(100), 1, "view", 1.0))
      q.processAllAvailable()
      val out = spark.table("t2_out").as[Streams.SessionOut].collect()
      assert(out.exists(s => s.user_id == 1 && s.n_events == 2 && s.duration_s == 600))
    } finally q.stop()
  }

  test("T9: foreachBatch writes per-batch dirs; rewriting a batch dir is idempotent") {
    implicit val ctx = spark.sqlContext
    val out = tempDir("graft_feb")
    val in = MemoryStream[Event]
    val q = Streams.foreachBatchParquet(in.toDF(), out)
      .option("checkpointLocation", s"$out/_chk").start()
    try {
      in.addData(Event(1, ts(0), 1, "view", 1.0), Event(2, ts(1), 2, "click", 2.0))
      q.processAllAvailable()
      in.addData(Event(3, ts(2), 3, "view", 3.0))
      q.processAllAvailable()
      val dirs = new java.io.File(out).listFiles().filter(_.getName.startsWith("batch_id=")).map(_.getName).sorted
      assert(dirs.length >= 2, dirs.mkString(","))
      assert(spark.read.parquet(s"$out/batch_id=*").count() == 3)
      // replaying batch 0's payload into its directory must overwrite,
      // not append — the idempotence contract
      Seq(Event(1, ts(0), 1, "view", 1.0), Event(2, ts(1), 2, "click", 2.0)).toDF()
        .write.mode("overwrite").parquet(s"$out/batch_id=0")
      assert(spark.read.parquet(s"$out/batch_id=*").count() == 3)
    } finally q.stop()
  }

  test("T10: Trigger.AvailableNow drains the input once; a re-run ingests only new files") {
    val root = tempDir("graft_an")
    val inDir = s"$root/in"; val outDir = s"$root/out"; val chk = s"$root/chk"
    val first = Seq(Event(1, ts(0), 1, "view", 1.0), Event(2, ts(1), 2, "click", 2.0)).toDF()
    first.write.parquet(inDir)
    val q1 = Streams.availableNowIngest(spark, first.schema, inDir, outDir, chk)
    assert(q1.awaitTermination(60000))
    assert(spark.read.parquet(outDir).count() == 2)
    // second run: one new file appears; only its rows flow through
    Seq(Event(3, ts(2), 3, "view", 3.0)).toDF()
      .write.mode("append").parquet(inDir)
    val q2 = Streams.availableNowIngest(spark, first.schema, inDir, outDir, chk)
    assert(q2.awaitTermination(60000))
    assert(spark.read.parquet(outDir).count() == 3)
  }

  test("T25: Iceberg streaming source — one micro-batch per snapshot range, restart resumes") {
    import graft.sources.IcebergWrite
    val root = tempDir("graft_t25")
    val dir = s"$root/tbl"; val ckpt = s"$root/ckpt"
    // nullable schema like a parquet-sourced relation: Spark's file
    // writers emit optional fields, so a required table schema would
    // mismatch the data files at read time
    def docDf(ids: Long*) = {
      import org.apache.spark.sql.{Row, types => T}
      val schema = T.StructType(Seq(
        T.StructField("doc_id", T.LongType), T.StructField("text", T.StringType),
        T.StructField("lang", T.StringType), T.StructField("source", T.StringType),
        T.StructField("n_chars", T.LongType)))
      spark.createDataFrame(
        spark.sparkContext.parallelize(
          ids.map(id => Row(id, s"text $id", "en", "s1", id * 10))),
        schema)
    }
    IcebergWrite.write(docDf(1L, 2L), dir, "lang", "identity")
    val batches = scala.collection.mutable.ArrayBuffer[Seq[Long]]()
    def start() = spark.readStream.format("graft.sources.IcebergSource").load(dir)
      .writeStream.foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        val ids = df.select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
        batches.synchronized { batches += ids }; ()
      }.option("checkpointLocation", ckpt).start()
    val q = start()
    try {
      q.processAllAvailable()
      assert(batches.flatten.sorted == Seq(1L, 2L), batches.toString)
      // a new snapshot arrives -> exactly its rows flow, nothing re-read
      IcebergWrite.append(docDf(3L, 4L), dir)
      q.processAllAvailable()
      assert(batches.last == Seq(3L, 4L), batches.toString)
      assert(batches.flatten.sorted == Seq(1L, 2L, 3L, 4L))
    } finally q.stop()
    // restart from the checkpoint: only snapshots committed since the
    // stored offset arrive (the table IS the offset log)
    IcebergWrite.append(docDf(5L), dir)
    val n0 = batches.flatten.size
    val q2 = start()
    try {
      q2.processAllAvailable()
      assert(batches.flatten.drop(n0) == Seq(5L), batches.toString)
    } finally q2.stop()
  }

  test("T25b: admission control — maxSnapshotsPerTrigger drains a catch-up over bounded batches") {
    import graft.sources.IcebergWrite
    val root = tempDir("graft_t25b")
    val dir = s"$root/tbl"; val ckpt = s"$root/ckpt"
    def docDf(ids: Long*) = {
      import org.apache.spark.sql.{Row, types => T}
      val schema = T.StructType(Seq(
        T.StructField("doc_id", T.LongType), T.StructField("text", T.StringType),
        T.StructField("lang", T.StringType), T.StructField("source", T.StringType),
        T.StructField("n_chars", T.LongType)))
      spark.createDataFrame(
        spark.sparkContext.parallelize(
          ids.map(id => Row(id, s"text $id", "en", "s1", id * 10))),
        schema)
    }
    // 3 snapshots committed BEFORE the stream starts — the post-downtime
    // catch-up scenario. Uncapped, this would be ONE batch spanning all
    // pending snapshots (unbounded at 100 TB ingest rates); with
    // maxSnapshotsPerTrigger=1 it must drain as 3 batches of one
    // snapshot each, exactly-once intact.
    IcebergWrite.write(docDf(1L), dir, "lang", "identity")
    IcebergWrite.append(docDf(2L), dir)
    IcebergWrite.append(docDf(3L), dir)
    val batches = scala.collection.mutable.ArrayBuffer[Seq[Long]]()
    val q = spark.readStream.format("graft.sources.IcebergSource")
      .option("maxSnapshotsPerTrigger", "1").load(dir)
      .writeStream.foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        val ids = df.select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
        batches.synchronized { batches += ids }; ()
      }.option("checkpointLocation", ckpt).start()
    try {
      q.processAllAvailable()
      val nonEmpty = batches.filter(_.nonEmpty)
      assert(nonEmpty.toSeq == Seq(Seq(1L), Seq(2L), Seq(3L)), batches.toString)
    } finally q.stop()
  }

  test("T26: medallion hop — exactly-once sink feeds the streaming source downstream") {
    implicit val ctx = spark.sqlContext
    val root = tempDir("graft_t26")
    val bronze = s"$root/bronze"
    // upstream: raw docs land in the bronze Iceberg table, one
    // exactly-once snapshot per micro-batch (T18)
    val in = MemoryStream[Streams.Doc]
    val up = Streams.icebergSink(in.toDF(), bronze, "doc_id")
      .option("checkpointLocation", s"$root/up_ckpt").start()
    try {
      in.addData(Streams.Doc(1, ts(0), "alpha beta", "en"),
        Streams.Doc(2, ts(1), "gamma delta", "en"))
      up.processAllAvailable()
      // downstream: a SECOND query tails bronze through the T25 source
      // — the handoff is the table itself, no queue in between — and
      // derives silver rows (token counts) into a memory sink
      val down = spark.readStream.format("graft.sources.IcebergSource").load(bronze)
        .select(col("doc_id"), size(split(col("text"), " ")).cast("long").as("n_tok"))
        .writeStream.format("memory").queryName("t26_silver").outputMode("append")
        .option("checkpointLocation", s"$root/down_ckpt").start()
      try {
        down.processAllAvailable()
        assert(spark.table("t26_silver").count() == 2)
        // a second upstream batch commits snapshot 2; downstream picks
        // up exactly the delta
        in.addData(Streams.Doc(3, ts(2), "epsilon zeta eta", "fr"))
        up.processAllAvailable()
        down.processAllAvailable()
        val silver = spark.table("t26_silver").collect()
          .map(r => r.getLong(0) -> r.getLong(1)).toMap
        assert(silver == Map(1L -> 2L, 2L -> 2L, 3L -> 3L), silver.toString)
      } finally down.stop()
    } finally up.stop()
  }

  // ---------------------------------------------------------------
  // T27: Hive ACID insert-only table as a streaming source (write-id
  // offsets, delta-unit admission — the S18 family's streaming tail)
  // ---------------------------------------------------------------

  private def acidDocDf(ids: Long*) = {
    import org.apache.spark.sql.{Row, types => T}
    val schema = T.StructType(Seq(
      T.StructField("doc_id", T.LongType), T.StructField("text", T.StringType)))
    spark.createDataFrame(
      spark.sparkContext.parallelize(ids.map(id => Row(id, s"text $id"))), schema)
  }

  test("T27: ACID streaming source — initial snapshot, then one unit per committed delta") {
    val root = tempDir("graft_t27")
    val dir = s"$root/tbl"; val ckpt = s"$root/ckpt"
    acidDocDf(1L, 2L).write.parquet(s"$dir/base_0000002")
    acidDocDf(3L).write.parquet(s"$dir/delta_0000003_0000003")
    val batches = scala.collection.mutable.ArrayBuffer[Seq[Long]]()
    def start() = spark.readStream.format("graft.sources.HiveAcidStreamSource").load(dir)
      .writeStream.foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        val ids = df.select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
        batches.synchronized { batches += ids }; ()
      }.option("checkpointLocation", ckpt).start()
    val q = start()
    try {
      q.processAllAvailable()
      // initial batch = the whole current snapshot (base + tail delta)
      assert(batches.filter(_.nonEmpty).toSeq == Seq(Seq(1L, 2L, 3L)), batches.toString)
      // a new committed write flows as exactly its own rows
      acidDocDf(4L).write.parquet(s"$dir/delta_0000004_0000004")
      q.processAllAvailable()
      assert(batches.flatten.sorted == Seq(1L, 2L, 3L, 4L), batches.toString)
    } finally q.stop()
    // restart from the checkpoint: only writes committed since the
    // stored write id arrive (the directory layout IS the offset log)
    acidDocDf(5L).write.parquet(s"$dir/delta_0000005_0000005")
    val n0 = batches.flatten.size
    val q2 = start()
    try {
      q2.processAllAvailable()
      assert(batches.flatten.drop(n0) == Seq(5L), batches.toString)
    } finally q2.stop()
  }

  test("T27b: ACID streaming admission — maxWriteIdsPerTrigger drains the tail in bounded units") {
    val root = tempDir("graft_t27b")
    val dir = s"$root/tbl"; val ckpt = s"$root/ckpt"
    acidDocDf(1L).write.parquet(s"$dir/base_0000001")
    val batches = scala.collection.mutable.ArrayBuffer[Seq[Long]]()
    val q = spark.readStream.format("graft.sources.HiveAcidStreamSource")
      .option("maxWriteIdsPerTrigger", "1").load(dir)
      .writeStream.foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        val ids = df.select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
        batches.synchronized { batches += ids }; ()
      }.option("checkpointLocation", ckpt).start()
    try {
      q.processAllAvailable()
      // 3 writes land while the stream idles — the catch-up must drain
      // as 3 bounded batches, exactly-once intact (T25b shape)
      acidDocDf(2L).write.parquet(s"$dir/delta_0000002_0000002")
      acidDocDf(3L).write.parquet(s"$dir/delta_0000003_0000003")
      acidDocDf(4L).write.parquet(s"$dir/delta_0000004_0000004")
      q.processAllAvailable()
      assert(batches.filter(_.nonEmpty).toSeq ==
        Seq(Seq(1L), Seq(2L), Seq(3L), Seq(4L)), batches.toString)
    } finally q.stop()
  }

  test("T27: commit detection — _temporary / side-file / empty dirs defer, _SUCCESS-only counts") {
    import graft.sources.HiveAcidStream.isComplete
    spark.sparkContext // isComplete resolves its Hadoop conf off the active session
    val root = tempDir("graft_t27c")
    def mk(dir: String, files: String*): Unit = {
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(s"$root/$dir"))
      files.foreach(f => java.nio.file.Files.createFile(
        java.nio.file.Paths.get(s"$root/$dir/$f")))
    }
    // in-flight committer: the dir exists the moment the writer starts —
    // the exact race the T27 spec hit live before the guard
    mk("delta_0000002_0000002"); java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(s"$root/delta_0000002_0000002/_temporary"))
    assert(!isComplete(root, "delta_0000002_0000002"))
    // Hive Streaming side file: mid-transaction
    mk("delta_0000003_0000003", "bucket_00000", "bucket_00000_flush_length")
    assert(!isComplete(root, "delta_0000003_0000003"))
    // bare directory, nothing visible yet: rename-in-progress
    mk("delta_0000004_0000004")
    assert(!isComplete(root, "delta_0000004_0000004"))
    // committed: visible data file
    mk("delta_0000005_0000005", "part-00000.parquet")
    assert(isComplete(root, "delta_0000005_0000005"))
    // committed but EMPTY write: _SUCCESS with no data files
    mk("delta_0000006_0000006", "_SUCCESS")
    assert(isComplete(root, "delta_0000006_0000006"))
    // a missing dir is not complete; a bare original FILE is
    assert(!isComplete(root, "delta_0000007_0000007"))
    java.nio.file.Files.createFile(java.nio.file.Paths.get(s"$root/000000_0"))
    assert(isComplete(root, "000000_0"))
  }

  test("T27: tail-unit selection — compaction supersession, aborted skip, straddle fail-fast") {
    import graft.sources.HiveAcidStream.tailUnits
    // statement deltas of one txn form ONE unit; ordering by max id
    assert(tailUnits(Seq("delta_0000002_0000002_0001", "delta_0000002_0000002_0002",
      "delta_0000003_0000003"), 1L, Set.empty).map(u => u.maxId -> u.dirs.length) ==
      Seq(2L -> 2, 3L -> 1))
    // already-emitted units drop out
    assert(tailUnits(Seq("delta_0000002_0000002", "delta_0000003_0000003"), 2L, Set.empty)
      .map(_.maxId) == Seq(3L))
    // a whole-range-aborted unit is skipped (and the offset may step over it)
    assert(tailUnits(Seq("delta_0000003_0000003", "delta_0000004_0000004"), 2L, Set(3L))
      .map(_.maxId) == Seq(4L))
    // compaction output is ignored while its original deltas remain...
    assert(tailUnits(Seq("delta_0000002_0000002", "delta_0000003_0000003",
      "delta_0000002_0000003_v0000009"), 1L, Set.empty).map(_.maxId) == Seq(2L, 3L))
    // ...admitted whole once they're cleaned and the range is unemitted...
    assert(tailUnits(Seq("delta_0000002_0000003_v0000009"), 1L, Set.empty)
      .map(_.maxId) == Seq(3L))
    // ...and fails FAST when it straddles the stream position (the
    // range can't be split: insert-only files carry no write-id column)
    intercept[IllegalStateException] {
      tailUnits(Seq("delta_0000002_0000003_v0000009"), 2L, Set.empty)
    }
    // delete deltas mean full-ACID: the insert-only stream refuses
    intercept[IllegalArgumentException] {
      tailUnits(Seq("delete_delta_0000002_0000002"), 1L, Set.empty)
    }
  }

  test("T27: overlapping compacted outputs — the wider unit supersedes; partial overlap is loud") {
    import graft.sources.HiveAcidStream.tailUnits
    // mid-clean race: delta_2_5_v9 (older compaction) still on disk
    // while the re-compaction delta_2_7_v12 lands and the plain inputs
    // are gone — admitting both would emit write ids 2..5 twice
    assert(tailUnits(Seq("delta_0000002_0000005_v0000009",
      "delta_0000002_0000007_v0000012"), 1L, Set.empty)
      .map(u => (u.minId, u.maxId, u.dirs)) ==
      Seq((2L, 7L, Seq("delta_0000002_0000007_v0000012"))))
    // identical range re-compacted: the newer visibility txn wins, ONCE
    // (grouping both dirs into one unit would also duplicate)
    assert(tailUnits(Seq("delta_0000002_0000005_v0000009",
      "delta_0000002_0000005_v0000012"), 1L, Set.empty)
      .map(_.dirs) == Seq(Seq("delta_0000002_0000005_v0000012")))
    // partial overlap between compacted outputs has no valid split
    // (no write-id column to row-filter on) — loud, like the straddle
    intercept[IllegalStateException] {
      tailUnits(Seq("delta_0000002_0000005_v0000009",
        "delta_0000004_0000007_v0000012"), 1L, Set.empty)
    }
    // ...but the sweep runs PER KIND: in full-ACID mode the compactor's
    // paired delete_delta/delta outputs of the SAME range are both
    // kept (one unit carrying both dirs), never superseded cross-kind
    assert(tailUnits(Seq("delta_0000002_0000005_v0000012",
      "delete_delta_0000002_0000005_v0000012"), 1L, Set.empty,
      allowDeletes = true)
      .map(_.dirs.sorted) == Seq(Seq("delete_delta_0000002_0000005_v0000012",
        "delta_0000002_0000005_v0000012")))
  }

  test("T27b: the ReadLimit bounds the INITIAL batch too (fresh checkpoint, long-lived table)") {
    val root = tempDir("graft_t27g")
    val dir = s"$root/tbl"; val ckpt = s"$root/ckpt"
    // the table has lived for a while BEFORE the stream first starts
    acidDocDf(1L).write.parquet(s"$dir/base_0000001")
    acidDocDf(2L).write.parquet(s"$dir/delta_0000002_0000002")
    acidDocDf(3L).write.parquet(s"$dir/delta_0000003_0000003")
    acidDocDf(4L).write.parquet(s"$dir/delta_0000004_0000004")
    val batches = scala.collection.mutable.ArrayBuffer[Seq[Long]]()
    val q = spark.readStream.format("graft.sources.HiveAcidStreamSource")
      .option("maxWriteIdsPerTrigger", "1").load(dir)
      .writeStream.foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        val ids = df.select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
        batches.synchronized { batches += ids }; ()
      }.option("checkpointLocation", ckpt).start()
    try {
      q.processAllAvailable()
      // the base is one unsplittable unit, but the delta tail must NOT
      // ride along with it: base + 1 unit, then bounded catch-up
      assert(batches.filter(_.nonEmpty).toSeq ==
        Seq(Seq(1L, 2L), Seq(3L), Seq(4L)), batches.toString)
    } finally q.stop()
  }

  test("T27: contiguity walk — an unaccounted write-id gap holds the tail back") {
    import graft.sources.HiveAcidStream.{contiguousUnits, tailUnits}
    // id 4's delta hasn't appeared yet (allocated, still uncommitted):
    // admitting unit 5 would move the offset past 4 and lose its rows
    // forever — the walk must stop at the gap
    val units = tailUnits(Seq("delta_0000005_0000005"), 3L, Set.empty)
    assert(contiguousUnits(units, 3L, Set.empty, _ => true).isEmpty)
    // the SAME gap covered by the aborted list is a legitimate skip
    assert(contiguousUnits(units, 3L, Set(4L), _ => true).map(_.maxId) == Seq(5L))
    // an in-flight unit (admit=false) holds back everything behind it
    val two = tailUnits(Seq("delta_0000004_0000004", "delta_0000005_0000005"),
      3L, Set.empty)
    assert(contiguousUnits(two, 3L, Set.empty, _.maxId != 4L).isEmpty)
    assert(contiguousUnits(two, 3L, Set.empty, _ => true).map(_.maxId) == Seq(4L, 5L))
  }

  test("T27: replay reconstruction — a compacted unit crossing the batch boundary fails fast") {
    val root = tempDir("graft_t27e")
    val ms = new graft.sources.HiveAcidMicroBatchStream(root,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("doc_id",
          org.apache.spark.sql.types.LongType))), None, Set.empty)
    // the checkpointed batch was (1, 3]; the compactor then merged
    // deltas 2..5 and cleaned the originals — the range can no longer
    // be carved out exactly
    acidDocDf(9L).write.parquet(s"$root/delta_0000002_0000005_v0000009")
    intercept[IllegalStateException] {
      ms.planInputPartitions(graft.sources.TailOffset("writeId", 1L),
        graft.sources.TailOffset("writeId", 3L))
    }
    // and a replay whose covering dirs are simply GONE is equally loud
    val root2 = tempDir("graft_t27f")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(root2))
    val ms2 = new graft.sources.HiveAcidMicroBatchStream(root2,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("doc_id",
          org.apache.spark.sql.types.LongType))), None, Set.empty)
    intercept[IllegalStateException] {
      ms2.planInputPartitions(graft.sources.TailOffset("writeId", 1L),
        graft.sources.TailOffset("writeId", 3L))
    }
  }

  test("T28: migration hop — the Hive ACID tail feeds the exactly-once Iceberg sink") {
    // the warehouse->lakehouse migration pipeline: a Hive 3 managed
    // table streams its committed writes (T27 source) into an Iceberg
    // table (T18 sink), one snapshot per micro-batch — the ACID
    // counterpart of T26's same-format medallion hop
    val root = tempDir("graft_t28")
    val hive = s"$root/hive"; val berg = s"$root/iceberg"
    acidDocDf(1L, 2L).write.parquet(s"$hive/base_0000001")
    val q = Streams.icebergSink(
      spark.readStream.format("graft.sources.HiveAcidStreamSource").load(hive),
      berg, "doc_id")
      .option("checkpointLocation", s"$root/ckpt").start()
    try {
      q.processAllAvailable()
      val conf = spark.sparkContext.hadoopConfiguration
      def bergIds = spark.read.format("graft.sources.IcebergSource").load(berg)
        .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
      assert(bergIds == Seq(1L, 2L))
      def snapCount = graft.sources.IcebergRead
        .snapshotIdsInRange(berg, conf, 0L, Long.MaxValue).length
      val snaps0 = snapCount
      // each committed Hive write becomes exactly one Iceberg snapshot
      acidDocDf(3L).write.parquet(s"$hive/delta_0000002_0000002")
      q.processAllAvailable()
      assert(bergIds == Seq(1L, 2L, 3L))
      assert(snapCount == snaps0 + 1)
    } finally q.stop()
  }

  // full-ACID CDC fixture rows: the public Hive acid row shape
  // (operation, originalTransaction, bucket, rowId, currentTransaction)
  // beside the user columns; a delete row (op=2) addresses an earlier
  // write's (origTxn, bucket, rowId) and carries NULL user columns
  private def acidFullDf(writeId: Long, op: Int, ids: Long*) = {
    import org.apache.spark.sql.{Row, types => T}
    val schema = T.StructType(Seq(
      T.StructField("operation", T.IntegerType),
      T.StructField("originalTransaction", T.LongType),
      T.StructField("bucket", T.IntegerType),
      T.StructField("rowId", T.LongType),
      T.StructField("currentTransaction", T.LongType),
      T.StructField("doc_id", T.LongType), T.StructField("text", T.StringType)))
    // a delete addresses the INSERTING write's row identity: docs 1..3
    // came in write 1 (the base), doc 4 in write 2 (fixture convention)
    val origOf: Long => Long =
      if (op == 2) id => (if (id <= 3L) 1L else 2L) else _ => writeId
    spark.createDataFrame(
      spark.sparkContext.parallelize(ids.map(id => Row(
        op, origOf(id), 1 << 29, id, writeId,
        if (op == 2) null else java.lang.Long.valueOf(id),
        if (op == 2) null else s"text $id"))), schema)
  }

  test("T28b: full-ACID CDC — a Hive delete lands as an Iceberg tombstone, exactly-once") {
    val root = tempDir("graft_t28b")
    val hive = s"$root/hive"; val berg = s"$root/iceberg"
    // write 1 inserts docs 1..3 (the base); write 2 inserts doc 4
    acidFullDf(1L, 0, 1L, 2L, 3L).write.parquet(s"$hive/base_0000001")
    acidFullDf(2L, 0, 4L).write.parquet(s"$hive/delta_0000002_0000002")
    def start() = Streams.hiveAcidCdcHop(
      spark.readStream.format("graft.sources.HiveAcidStreamSource")
        .option("acidMode", "full").load(hive), berg)
      .option("checkpointLocation", s"$root/ckpt").start()
    def bergIds = spark.read.format("graft.sources.IcebergSource").load(berg)
      .select("rowId").collect().map(_.getLong(0)).sorted.toSeq
    val q = start()
    try {
      q.processAllAvailable()
      assert(bergIds == Seq(1L, 2L, 3L, 4L))
      // write 3 DELETES doc 2 (addressed by write 1's row identity) —
      // the tombstone must drop it from the Iceberg table
      acidFullDf(3L, 2, 2L).write.parquet(s"$hive/delete_delta_0000003_0000003")
      q.processAllAvailable()
      assert(bergIds == Seq(1L, 3L, 4L))
    } finally q.stop()
    // exactly-once under replay: re-running the LAST committed batch id
    // with the same tombstone rows is a no-op (batch-id summary device)
    val last = spark.read.parquet(s"$hive/delete_delta_0000003_0000003")
    Streams.hiveAcidCdcBatch(last, 1L, berg)
    Streams.hiveAcidCdcBatch(last, 0L, berg)
    assert(bergIds == Seq(1L, 3L, 4L))
    // and a RESTART from the checkpoint replays nothing, then drains
    // only the genuinely new write (delete of doc 4)
    acidFullDf(4L, 2, 4L).write.parquet(s"$hive/delete_delta_0000004_0000004")
    val q2 = start()
    try {
      q2.processAllAvailable()
      assert(bergIds == Seq(1L, 3L))
    } finally q2.stop()
  }

  test("T27 property: the walk emits every accounted id exactly once and never skips an unaccounted gap") {
    import org.scalacheck.{Gen, Prop}
    import org.scalacheck.Test.Parameters
    import graft.sources.HiveAcidStream.{contiguousUnits, tailUnits}
    // Model: write ids 1..n; a random committed set (plain single-id
    // deltas on disk), a disjoint aborted set (no dir ever appears), a
    // random stream position, and optionally a minor compaction of the
    // prefix [1, c] (legal only when every id <= c is accounted — the
    // compactor never runs over open writes) whose plain inputs the
    // cleaner already removed.
    val genCase: Gen[(Set[Int], Set[Long], Long, Long)] = for {
      n <- Gen.choose(5, 24)
      committed <- Gen.someOf(1 to n)
      aborted <- Gen.someOf((1 to n).filterNot(committed.toSet))
      from <- Gen.choose(0, n)
      compactTo <- Gen.oneOf(0 +: (1 to n).filter(c =>
        (1 to c).forall(i => committed.contains(i) || aborted.contains(i))))
    } yield (committed.toSet,
      aborted.iterator.map(_.toLong).toSet, from.toLong, compactTo.toLong)
    val prop = Prop.forAll(genCase) { case (committed, aborted, from, compactTo) =>
      val plain = committed.filter(_ > compactTo).toSeq.sorted
        .map(i => f"delta_$i%07d_$i%07d")
      val comp = if (compactTo > 0) Seq(f"delta_${1}%07d_$compactTo%07d_v0000099")
        else Seq.empty
      val names = plain ++ comp
      if (compactTo > 0 && from >= 1 && from < compactTo) {
        // the compacted range straddles the position and its inputs are
        // gone: the DOCUMENTED loud path, never a silent split
        Prop(scala.util.Try(tailUnits(names, from, aborted)).isFailure)
      } else {
        val units = tailUnits(names, from, aborted)
        val walked = contiguousUnits(units, from, aborted, _ => true)
        val coveredIds = walked.flatMap(u => u.minId to u.maxId)
        val advance = walked.lastOption.map(_.maxId).getOrElse(from)
        // exactly-once: no id in two units, none at/below the position
        val once = coveredIds.distinct.size == coveredIds.size &&
          coveredIds.forall(_ > from)
        // no silent skip: every id the offset moved past is either
        // emitted by a unit or in the aborted set
        val noSkip = ((from + 1) to advance).forall(id =>
          coveredIds.contains(id) || aborted(id))
        // loss-free: every COMMITTED id the offset moved past is emitted
        val lossFree = committed.map(_.toLong)
          .filter(id => id > from && id <= advance).forall(coveredIds.contains)
        // maximal: the walk stopped only at a genuinely unaccounted gap
        // (a unit beyond the advance whose gap is fully aborted would
        // mean the walk under-delivered)
        val maximal = !units.exists(u => u.minId > advance && u.maxId > advance &&
          ((advance + 1) until u.minId).forall(aborted))
        Prop(once && noSkip && lossFree && maximal)
      }
    }
    val res = org.scalacheck.Test.check(
      Parameters.default.withMinSuccessfulTests(2000), prop)
    assert(res.passed, res.status.toString)
  }

  test("T28c: a REAL Hive ORC event table (acid wrapper) streams deletes into Iceberg") {
    import org.apache.spark.sql.functions.{col, lit, struct}
    val root = tempDir("graft_t28c")
    val hive = s"$root/hive"; val berg = s"$root/iceberg"
    // event-shaped writes: five acid columns beside row:struct<doc cols>
    def eventWrite(dir: String, writeId: Long, ids: Long*): Unit =
      acidDocDf(ids: _*)
        .select(lit(0).as("operation"), lit(writeId).as("originalTransaction"),
          lit(1 << 29).as("bucket"), col("doc_id").as("rowId"),
          lit(writeId).as("currentTransaction"),
          struct(col("doc_id"), col("text")).as("row"))
        .write.orc(s"$hive/$dir")
    // real delete deltas: the five meta columns (row omitted)
    def deleteWrite(dir: String, writeId: Long, origTxn: Long, ids: Long*): Unit =
      acidDocDf(ids: _*)
        .select(lit(2).as("operation"), lit(origTxn).as("originalTransaction"),
          lit(1 << 29).as("bucket"), col("doc_id").as("rowId"),
          lit(writeId).as("currentTransaction"))
        .write.orc(s"$hive/$dir")
    eventWrite("base_0000001", 1L, 1L, 2L, 3L)
    val q = Streams.hiveAcidCdcHop(
      spark.readStream.format("graft.sources.HiveAcidStreamSource")
        .option("acidMode", "full").option("format", "orc").load(hive), berg)
      .option("checkpointLocation", s"$root/ckpt").start()
    def bergIds = spark.read.format("graft.sources.IcebergSource").load(berg)
      .select("rowId").collect().map(_.getLong(0)).sorted.toSeq
    try {
      q.processAllAvailable()
      assert(bergIds == Seq(1L, 2L, 3L))
      // an event-shaped insert and a REAL (meta-only) delete flow through
      eventWrite("delta_0000002_0000002", 2L, 4L)
      q.processAllAvailable()
      assert(bergIds == Seq(1L, 2L, 3L, 4L))
      deleteWrite("delete_delta_0000003_0000003", 3L, 1L, 2L)
      q.processAllAvailable()
      assert(bergIds == Seq(1L, 3L, 4L))
    } finally q.stop()
  }

  test("T27: the INITIAL snapshot also refuses delete deltas (no silent row drop)") {
    // selectDirs.dataDirs would silently exclude delete deltas, emitting
    // un-retracted rows — the initial batch must refuse like the tail does
    val root = tempDir("graft_t27d")
    acidDocDf(1L).write.parquet(s"$root/base_0000001")
    acidDocDf(2L).write.parquet(s"$root/delete_delta_0000002_0000002")
    val ms = new graft.sources.HiveAcidMicroBatchStream(root,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("doc_id",
          org.apache.spark.sql.types.LongType))), None, Set.empty)
    intercept[IllegalArgumentException] {
      ms.latestOffset(graft.sources.TailOffset("writeId", -1L),
        org.apache.spark.sql.connector.read.streaming.ReadLimit.allAvailable())
    }
    intercept[IllegalArgumentException] {
      ms.planInputPartitions(graft.sources.TailOffset("writeId", -1L),
        graft.sources.TailOffset("writeId", 1L))
    }
  }

  // ---------------------------------------------------------------
  // T29: Hudi COW table as a streaming source (instant offsets, the
  // lakehouse triptych's third tail: T25 Iceberg / T27 ACID / T29 Hudi)
  // ---------------------------------------------------------------

  private def hudiTouch(p: String): Unit = {
    val hp = new org.apache.hadoop.fs.Path(p)
    hp.getFileSystem(spark.sparkContext.hadoopConfiguration).create(hp, true).close()
  }
  private def hudiText(p: String, body: String): Unit = {
    val hp = new org.apache.hadoop.fs.Path(p)
    val out = hp.getFileSystem(spark.sparkContext.hadoopConfiguration).create(hp, true)
    try out.write(body.getBytes("UTF-8")) finally out.close()
  }
  private def hudiBase(dir: String, fileId: String, instant: String,
                       ids: Long*): Unit =
    graft.Fs.writeSingleFile(acidDocDf(ids: _*),
      s"$dir/${fileId}_0-0-0_$instant.parquet")
  private val HI = (1 to 6).map(i => f"2024010${i}%d000000000").toArray // HI(0)=day1...

  test("T29: Hudi streaming source — snapshot-as-of initial batch, per-commit drain, inflight invisible, restart exactness") {
    val root = tempDir("graft_t29")
    val dir = s"$root/tbl"; val ckpt = s"$root/ckpt"
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(new org.apache.hadoop.fs.Path(s"$dir/.hoodie"))
    hudiTouch(s"$dir/.hoodie/hoodie.properties")
    Seq("a", "b").foreach { p =>
      fs.mkdirs(new org.apache.hadoop.fs.Path(s"$dir/p=$p"))
      hudiTouch(s"$dir/p=$p/.hoodie_partition_metadata")
    }
    hudiBase(s"$dir/p=a", "fg0", HI(0), 1L, 2L)
    hudiBase(s"$dir/p=b", "fg1", HI(0), 3L)
    hudiBase(s"$dir/p=a", "fg2", HI(1), 4L)
    hudiBase(s"$dir/p=b", "fg3", HI(2), 9L) // no marker yet: inflight
    hudiTouch(s"$dir/.hoodie/${HI(0)}.commit")
    hudiTouch(s"$dir/.hoodie/${HI(1)}.commit")
    hudiTouch(s"$dir/.hoodie/${HI(2)}.inflight")
    val batches = scala.collection.mutable.ArrayBuffer[Seq[(Long, String)]]()
    def start() = spark.readStream.format("graft.sources.HudiStreamSource")
      .option("maxCommitsPerTrigger", "1").load(dir)
      .writeStream.foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        val rows = df.select("doc_id", "p").collect()
          .map(r => (r.getLong(0), r.getString(1))).sortBy(_._1).toSeq
        batches.synchronized { batches += rows }; ()
      }.option("checkpointLocation", ckpt).start()
    val q = start()
    try {
      q.processAllAvailable()
      // the cap admits ONE instant: batch 0 is the snapshot AS OF
      // HI(0) (a consistent view), batch 1 drains HI(1)'s commit; the
      // partition column rematerializes from the dir names
      assert(batches.filter(_.nonEmpty).toSeq == Seq(
        Seq((1L, "a"), (2L, "a"), (3L, "b")),
        Seq((4L, "a"))), batches.toString)
      // the inflight instant's file never surfaced; its marker landing
      // admits the whole commit on a later trigger
      hudiTouch(s"$dir/.hoodie/${HI(2)}.commit")
      q.processAllAvailable()
      assert(batches.flatten.map(_._1).sorted == Seq(1L, 2L, 3L, 4L, 9L),
        batches.toString)
    } finally q.stop()
    // restart from the checkpoint: only commits past the stored
    // instant arrive (the timeline IS the offset log)
    hudiBase(s"$dir/p=b", "fg4", HI(3), 10L)
    hudiTouch(s"$dir/.hoodie/${HI(3)}.commit")
    val n0 = batches.flatten.size
    val q2 = start()
    try {
      q2.processAllAvailable()
      assert(batches.flatten.drop(n0) == Seq((10L, "b")), batches.toString)
    } finally q2.stop()
  }

  test("T30: migration hop — a Hudi table's timeline feeds the exactly-once Iceberg sink") {
    // the third lakehouse migration pipeline (after T26 Iceberg→Iceberg
    // and T28 Hive ACID→Iceberg): a Hudi COW table streams its
    // read-optimized snapshot, then one Iceberg snapshot per Hudi
    // commit, through the T18 exactly-once sink
    val root = tempDir("graft_t30")
    val hudi = s"$root/hudi"; val berg = s"$root/iceberg"
    val fs = new org.apache.hadoop.fs.Path(hudi)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(new org.apache.hadoop.fs.Path(s"$hudi/.hoodie"))
    hudiTouch(s"$hudi/.hoodie/hoodie.properties")
    hudiBase(hudi, "fg0", HI(0), 1L, 2L)
    hudiBase(hudi, "fg1", HI(1), 3L) // second commit, new file group
    hudiTouch(s"$hudi/.hoodie/${HI(0)}.commit")
    hudiTouch(s"$hudi/.hoodie/${HI(1)}.commit")
    def start() = Streams.hudiMigrationHop(spark, hudi, berg, "doc_id",
      maxCommitsPerTrigger = Some(1))
      .option("checkpointLocation", s"$root/ckpt").start()
    val q = start()
    try {
      q.processAllAvailable()
      val conf = spark.sparkContext.hadoopConfiguration
      def bergIds = spark.read.format("graft.sources.IcebergSource").load(berg)
        .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
      assert(bergIds == Seq(1L, 2L, 3L))
      def snapCount = graft.sources.IcebergRead
        .snapshotIdsInRange(berg, conf, 0L, Long.MaxValue).length
      // snapshot-as-of-HI(0) + the HI(1) drain = two Iceberg snapshots
      // (maxCommitsPerTrigger=1 capped the initial batch)
      val snaps0 = snapCount
      assert(snaps0 == 2, s"snapshots=$snaps0")
      // each later Hudi commit becomes exactly one Iceberg snapshot
      hudiBase(hudi, "fg2", HI(2), 4L)
      hudiTouch(s"$hudi/.hoodie/${HI(2)}.commit")
      q.processAllAvailable()
      assert(bergIds == Seq(1L, 2L, 3L, 4L))
      assert(snapCount == snaps0 + 1)
    } finally q.stop()
    // restart from the checkpoint: nothing replays, only the new
    // commit drains (the T18 summary device + the T29 offset log)
    hudiBase(hudi, "fg3", HI(3), 5L)
    hudiTouch(s"$hudi/.hoodie/${HI(3)}.commit")
    val q2 = start()
    try {
      q2.processAllAvailable()
      val got = spark.read.format("graft.sources.IcebergSource").load(berg)
        .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
      assert(got == Seq(1L, 2L, 3L, 4L, 5L))
    } finally q2.stop()
  }

  test("T29: a COW rewrite of an existing file group fails the stream fast (append-only contract)") {
    val root = tempDir("graft_t29rw")
    val dir = s"$root/tbl"; val ckpt = s"$root/ckpt"
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(new org.apache.hadoop.fs.Path(s"$dir/.hoodie"))
    hudiTouch(s"$dir/.hoodie/hoodie.properties")
    hudiBase(dir, "fg0", HI(0), 1L)
    hudiTouch(s"$dir/.hoodie/${HI(0)}.commit")
    val q = spark.readStream.format("graft.sources.HudiStreamSource").load(dir)
      .writeStream.format("memory").queryName("t29_rw")
      .option("checkpointLocation", ckpt).start()
    try {
      q.processAllAvailable()
      assert(spark.table("t29_rw").count() == 1)
      // HI(1) rewrites fg0 whole (COW update): replaying its base file
      // as inserts would duplicate row 1 — fail fast, loudly
      hudiBase(dir, "fg0", HI(1), 1L, 2L)
      hudiTouch(s"$dir/.hoodie/${HI(1)}.commit")
      val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        q.processAllAvailable()
      }
      def chain(t: Throwable): Seq[Throwable] =
        if (t == null) Nil else t +: chain(t.getCause)
      assert(chain(e).exists(c =>
        c.getMessage != null && c.getMessage.contains("REWRITES")), e.toString)
    } finally q.stop()
  }

  test("T29: mid-stream clustering fails fast; pre-stream clustering serves through the snapshot") {
    val root = tempDir("graft_t29cl")
    // table A: clustering BEFORE the stream starts — the initial
    // snapshot supersedes the replaced groups (exactly-once rows)
    val a = s"$root/ta"
    val fs = new org.apache.hadoop.fs.Path(a)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(new org.apache.hadoop.fs.Path(s"$a/.hoodie"))
    hudiTouch(s"$a/.hoodie/hoodie.properties")
    hudiBase(a, "fg0", HI(0), 1L)
    hudiBase(a, "fg1", HI(0), 2L)
    hudiBase(a, "fgc", HI(1), 1L, 2L) // clustering output (union of fg0+fg1)
    hudiBase(a, "fg2", HI(2), 3L)
    hudiTouch(s"$a/.hoodie/${HI(0)}.commit")
    hudiText(s"$a/.hoodie/${HI(1)}.replacecommit",
      """{"partitionToReplaceFileIds": {"": ["fg0", "fg1"]}}""")
    hudiTouch(s"$a/.hoodie/${HI(2)}.commit")
    val qa = spark.readStream.format("graft.sources.HudiStreamSource").load(a)
      .writeStream.format("memory").queryName("t29_cl_a")
      .option("checkpointLocation", s"$root/cka").start()
    try {
      qa.processAllAvailable()
      val got = spark.table("t29_cl_a").select("doc_id")
        .collect().map(_.getLong(0)).sorted.toSeq
      assert(got == Seq(1L, 2L, 3L), got.toString)
    } finally qa.stop()
    // table B: clustering lands WHILE streaming — pure rewrite, fail fast
    val b = s"$root/tb"
    fs.mkdirs(new org.apache.hadoop.fs.Path(s"$b/.hoodie"))
    hudiTouch(s"$b/.hoodie/hoodie.properties")
    hudiBase(b, "fg0", HI(0), 1L)
    hudiTouch(s"$b/.hoodie/${HI(0)}.commit")
    val qb = spark.readStream.format("graft.sources.HudiStreamSource").load(b)
      .writeStream.format("memory").queryName("t29_cl_b")
      .option("checkpointLocation", s"$root/ckb").start()
    try {
      qb.processAllAvailable()
      hudiBase(b, "fgc", HI(1), 1L)
      hudiText(s"$b/.hoodie/${HI(1)}.replacecommit",
        """{"partitionToReplaceFileIds": {"": ["fg0"]}}""")
      val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        qb.processAllAvailable()
      }
      def chain(t: Throwable): Seq[Throwable] =
        if (t == null) Nil else t +: chain(t.getCause)
      assert(chain(e).exists(c =>
        c.getMessage != null && c.getMessage.contains("replacecommit")), e.toString)
    } finally qb.stop()
  }

  test("T29: an orphan base file from an aborted instant does not make a commit a rewrite") {
    // ADVICE r12: the drain-path rewrite check must only count older
    // files whose instant COMPLETED — a leftover file from an aborted
    // write was never visible, so the group's first completed base
    // file is a plain insert.
    val root = tempDir("graft_t29orph")
    val dir = s"$root/tbl"; val ckpt = s"$root/ckpt"
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(new org.apache.hadoop.fs.Path(s"$dir/.hoodie"))
    hudiTouch(s"$dir/.hoodie/hoodie.properties")
    hudiBase(dir, "fg1", HI(0), 1L)
    hudiTouch(s"$dir/.hoodie/${HI(0)}.commit")
    val q = spark.readStream.format("graft.sources.HudiStreamSource").load(dir)
      .writeStream.format("memory").queryName("t29_orph")
      .option("checkpointLocation", ckpt).start()
    try {
      q.processAllAvailable()
      assert(spark.table("t29_orph").count() == 1)
      // an aborted write left fg0@HI(1) on disk, marker still inflight
      hudiBase(dir, "fg0", HI(1), 7L)
      hudiTouch(s"$dir/.hoodie/${HI(1)}.inflight")
      // HI(2) commits fg0 — the group's FIRST completed version: insert
      hudiBase(dir, "fg0", HI(2), 2L)
      hudiTouch(s"$dir/.hoodie/${HI(2)}.commit")
      q.processAllAvailable()
      val got = spark.table("t29_orph").select("doc_id")
        .collect().map(_.getLong(0)).sorted.toSeq
      assert(got == Seq(1L, 2L), got.toString) // the orphan's 7 never surfaces
    } finally q.stop()
  }

  /** A Hudi base file WITH record-level meta columns (what real Hudi
    * writers produce): rows as (recordKey, docId, text, commitTime). */
  private def hudiMetaBase(dir: String, fileId: String, instant: String,
                           rows: (String, Long, String, String)*): Unit = {
    import org.apache.spark.sql.{Row, types => T}
    val schema = T.StructType(Seq(
      T.StructField("_hoodie_commit_time", T.StringType),
      T.StructField("_hoodie_record_key", T.StringType),
      T.StructField("doc_id", T.LongType), T.StructField("text", T.StringType)))
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map { case (k, id, txt, ct) =>
        Row(ct, k, id, txt)
      }), schema)
    graft.Fs.writeSingleFile(df,
      s"$dir/${fileId}_0-0-0_$instant.parquet")
  }

  test("T29b: with _hoodie_* meta columns a COW rewrite flows as upserts exactly-once under replay/restart") {
    val root = tempDir("graft_t29b")
    val dir = s"$root/tbl"; val ckpt = s"$root/ckpt"
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(new org.apache.hadoop.fs.Path(s"$dir/.hoodie"))
    hudiTouch(s"$dir/.hoodie/hoodie.properties")
    hudiMetaBase(dir, "fg0", HI(0),
      ("k1", 1L, "one", HI(0)), ("k2", 2L, "two", HI(0)))
    hudiTouch(s"$dir/.hoodie/${HI(0)}.commit")
    val batches = scala.collection.mutable.ArrayBuffer[Seq[(String, String, String)]]()
    def start() = spark.readStream.format("graft.sources.HudiStreamSource").load(dir)
      .writeStream.foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        val rows = df.select("_hoodie_record_key", "text", "_hoodie_commit_time")
          .collect().map(r => (r.getString(0), r.getString(1), r.getString(2)))
          .sortBy(_._1).toSeq
        batches.synchronized { batches += rows }; ()
      }.option("checkpointLocation", ckpt).start()
    val q = start()
    try {
      q.processAllAvailable()
      // initial batch: the full snapshot (no commit filter)
      assert(batches.flatten.toSeq ==
        Seq(("k1", "one", HI(0)), ("k2", "two", HI(0))), batches.toString)
      // HI(1) REWRITES fg0: k1 updated, k2 carried unchanged (keeps its
      // original commit time), k3 inserted — the drain must emit
      // EXACTLY the rows HI(1) wrote, never the carried k2
      hudiMetaBase(dir, "fg0", HI(1),
        ("k1", 1L, "one-v2", HI(1)), ("k2", 2L, "two", HI(0)),
        ("k3", 3L, "three", HI(1)))
      hudiTouch(s"$dir/.hoodie/${HI(1)}.commit")
      q.processAllAvailable()
      assert(batches.flatten.toSeq.drop(2) ==
        Seq(("k1", "one-v2", HI(1)), ("k3", "three", HI(1))), batches.toString)
    } finally q.stop()
    // restart from the checkpoint with NO new commit: nothing replays
    val n0 = batches.flatten.size
    val q2 = start()
    try {
      q2.processAllAvailable()
      assert(batches.flatten.size == n0, batches.toString)
      // another rewrite while running: only its changed row arrives
      hudiMetaBase(dir, "fg0", HI(2),
        ("k1", 1L, "one-v2", HI(1)), ("k2", 2L, "two-v2", HI(2)),
        ("k3", 3L, "three", HI(1)))
      hudiTouch(s"$dir/.hoodie/${HI(2)}.commit")
      q2.processAllAvailable()
      assert(batches.flatten.toSeq.drop(n0) ==
        Seq(("k2", "two-v2", HI(2))), batches.toString)
    } finally q2.stop()
  }

  test("T30b: hudiMigrationHopUpsert — an UPDATING Hudi table migrates into Iceberg key-latest, exactly-once") {
    val root = tempDir("graft_t30b")
    val hudi = s"$root/hudi"; val berg = s"$root/iceberg"
    val fs = new org.apache.hadoop.fs.Path(hudi)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(new org.apache.hadoop.fs.Path(s"$hudi/.hoodie"))
    hudiTouch(s"$hudi/.hoodie/hoodie.properties")
    hudiMetaBase(hudi, "fg0", HI(0),
      ("k1", 1L, "one", HI(0)), ("k2", 2L, "two", HI(0)))
    hudiTouch(s"$hudi/.hoodie/${HI(0)}.commit")
    // HI(1) rewrites fg0 (update k1, insert k3) BEFORE the hop starts:
    // a catch-up batch can span the snapshot and the rewrite commit
    hudiMetaBase(hudi, "fg0", HI(1),
      ("k1", 1L, "one-v2", HI(1)), ("k2", 2L, "two", HI(0)),
      ("k3", 3L, "three", HI(1)))
    hudiTouch(s"$hudi/.hoodie/${HI(1)}.commit")
    def start() = Streams.hudiMigrationHopUpsert(spark, hudi, berg,
      partitionCol = "doc_id")
      .option("checkpointLocation", s"$root/ckpt").start()
    def state(): Seq[(String, String)] =
      spark.read.format("graft.sources.IcebergSource").load(berg)
        .select("_hoodie_record_key", "text").collect()
        .map(r => (r.getString(0), r.getString(1))).sortBy(_._1).toSeq
    val q = start()
    try {
      q.processAllAvailable()
      // key-latest: the snapshot batch is as-of HI(1) already OR the
      // drain upserted k1's new version over the snapshot's — either
      // admission split lands the same final state, each key once
      assert(state() == Seq(("k1", "one-v2"), ("k2", "two"), ("k3", "three")),
        state().toString)
    } finally q.stop()
    // a rewrite while the hop is DOWN, then restart: the drained
    // commit merges as an upsert; replayed batches are no-ops
    hudiMetaBase(hudi, "fg0", HI(2),
      ("k1", 1L, "one-v2", HI(1)), ("k2", 2L, "two-v2", HI(2)),
      ("k3", 3L, "three", HI(1)))
    hudiTouch(s"$hudi/.hoodie/${HI(2)}.commit")
    val q2 = start()
    try {
      q2.processAllAvailable()
      assert(state() == Seq(("k1", "one-v2"), ("k2", "two-v2"), ("k3", "three")),
        state().toString)
    } finally q2.stop()
    val q3 = start() // pure replay: no new commits, state unchanged
    try {
      q3.processAllAvailable()
      assert(state() == Seq(("k1", "one-v2"), ("k2", "two-v2"), ("k3", "three")),
        state().toString)
    } finally q3.stop()
  }

  test("T31: streaming Hudi sink commits exactly-once; the T29b tail sees the sink's own upserts as CDC") {
    import graft.sources.HudiRO
    import graft.streaming.Streams
    import spark.implicits._
    val root = tempDir("graft_t31")
    val dir = s"$root/tbl"; val ckpt = s"$root/ckpt"
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def commits: Int = fs.listStatus(
      new org.apache.hadoop.fs.Path(s"$dir/.hoodie")).toSeq
      .map(_.getPath.getName).count(_.endsWith(".commit"))
    // batch 0 creates the table; replaying it is a no-op (the commit
    // body's extraMetadata is the batch log — the T18 device)
    val b0 = Seq((1L, "a", 10.0), (2L, "b", 20.0)).toDF("k", "p", "v")
    Streams.hudiCommitBatch(b0, 0L, dir, "k", Some("p"))
    val c1 = commits
    assert(c1 == 1 && HudiRO.read(spark, dir).count() == 2)
    Streams.hudiCommitBatch(b0, 0L, dir, "k", Some("p"))
    assert(commits == c1 && HudiRO.read(spark, dir).count() == 2)
    // batch 1 upserts: k=1 rewrites its group, k=3 is a new key
    val b1 = Seq((1L, "a", 11.0), (3L, "b", 30.0)).toDF("k", "p", "v")
    Streams.hudiUpsertBatch(b1, 1L, dir, "k", Some("p"))
    Streams.hudiUpsertBatch(b1, 1L, dir, "k", Some("p")) // replay: no-op
    assert(HudiRO.read(spark, dir).select("k", "v").as[(Long, Double)]
      .collect().toSet == Set((1L, 11.0), (2L, 20.0), (3L, 30.0)))
    // tail the sink's own table: initial snapshot, then a later upsert
    // drains as EXACTLY its changed rows — the sink writes the meta
    // columns the T29b CDC filter needs, closing the write→tail loop
    val batches = scala.collection.mutable.ArrayBuffer[Seq[(Long, Double)]]()
    val q = spark.readStream.format("graft.sources.HudiStreamSource").load(dir)
      .writeStream.foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        val rows = df.select("k", "v").collect()
          .map(r => (r.getLong(0), r.getDouble(1))).sortBy(_._1).toSeq
        batches.synchronized { batches += rows }; ()
      }.option("checkpointLocation", ckpt).start()
    try {
      q.processAllAvailable()
      assert(batches.filter(_.nonEmpty).toSeq ==
        Seq(Seq((1L, 11.0), (2L, 20.0), (3L, 30.0))), batches.toString)
      Streams.hudiUpsertBatch(Seq((2L, "b", 22.0)).toDF("k", "p", "v"),
        2L, dir, "k", Some("p"))
      q.processAllAvailable()
      assert(batches.filter(_.nonEmpty).last == Seq((2L, 22.0)), batches.toString)
    } finally q.stop()
  }

  test("T31b: duplicate-key batches collapse last-wins under orderCol; MAP-typed CDC payloads keep working") {
    import graft.sources.HudiRO
    import graft.streaming.Streams
    import spark.implicits._
    val root = tempDir("graft_t31b")
    // orderCol last-wins: the highest seq per key survives
    val d1 = s"$root/t1"
    Streams.hudiUpsertBatch(
      Seq((1L, 1L, "old"), (1L, 3L, "new"), (1L, 2L, "mid"), (2L, 1L, "only"))
        .toDF("k", "seq", "v"),
      0L, d1, "k", None, orderCol = Some("seq"))
    assert(HudiRO.read(spark, d1).select("k", "v").as[(Long, String)]
      .collect().toSet == Set((1L, "new"), (2L, "only")))
    // ADVICE r14: with orderCol ABSENT, the deterministic tie-break
    // must not put an unorderable MapType payload in the ORDER BY —
    // the analysis failure this pins regressed map-carrying CDC batches
    val d2 = s"$root/t2"
    Streams.hudiUpsertBatch(
      Seq((1L, "a", Map("x" -> 1)), (1L, "b", Map("y" -> 2)), (2L, "c", Map.empty[String, Int]))
        .toDF("k", "v", "props"),
      0L, d2, "k", None)
    val got = HudiRO.read(spark, d2)
      .select("k", "v").as[(Long, String)].collect().toMap
    // k=1 collapsed to ONE row (which duplicate wins is deterministic:
    // orderable columns first, then the map's hash)
    assert(got.keySet == Set(1L, 2L) && got(2L) == "c", got.toString)
    assert(got(1L) == "b", got.toString) // 'b' > 'a' on the orderable column
  }

  test("T32: Iceberg→Hudi reverse hop — each Iceberg snapshot lands as one Hudi commit; restart replays nothing") {
    import graft.sources.HudiRO
    import graft.streaming.Streams
    import spark.implicits._
    val root = tempDir("graft_t32")
    val ice = s"$root/ice"; val hudi = s"$root/hudi"; val ckpt = s"$root/ckpt"
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def hudiCommits: Int =
      if (!fs.exists(new org.apache.hadoop.fs.Path(s"$hudi/.hoodie"))) 0
      else fs.listStatus(new org.apache.hadoop.fs.Path(s"$hudi/.hoodie")).toSeq
        .map(_.getPath.getName).count(_.endsWith(".commit"))
    def hudiRows: Set[(Long, Double)] = HudiRO.read(spark, hudi)
      .select("k", "v").as[(Long, Double)].collect().toSet
    Streams.icebergCommitBatch(Seq((1L, "a", 10.0)).toDF("k", "p", "v"), 0L, ice, "k")
    def hop() = Streams.icebergToHudiHop(spark, ice, hudi, "k", Some("p"))
      .option("checkpointLocation", ckpt).start()
    val q = hop()
    try {
      q.processAllAvailable()
      assert(hudiRows == Set((1L, 10.0)) && hudiCommits == 1,
        s"$hudiRows / $hudiCommits")
      // a second Iceberg snapshot becomes exactly one more Hudi commit
      Streams.icebergCommitBatch(Seq((2L, "b", 20.0)).toDF("k", "p", "v"), 1L, ice, "k")
      q.processAllAvailable()
      assert(hudiRows == Set((1L, 10.0), (2L, 20.0)) && hudiCommits == 2,
        s"$hudiRows / $hudiCommits")
    } finally q.stop()
    // checkpoint restart: nothing replays; only genuinely new
    // snapshots drain
    val q2 = hop()
    try {
      q2.processAllAvailable()
      assert(hudiRows == Set((1L, 10.0), (2L, 20.0)) && hudiCommits == 2,
        s"$hudiRows / $hudiCommits")
      Streams.icebergCommitBatch(Seq((3L, "a", 30.0)).toDF("k", "p", "v"), 2L, ice, "k")
      q2.processAllAvailable()
      assert(hudiRows == Set((1L, 10.0), (2L, 20.0), (3L, 30.0)) &&
        hudiCommits == 3, s"$hudiRows / $hudiCommits")
    } finally q2.stop()
  }

  test("T33: streaming Hive ACID sink commits exactly-once; the T27 tail drains the sink's own writes") {
    import graft.sources.HiveAcid
    import graft.streaming.Streams
    import spark.implicits._
    val root = tempDir("graft_t33")
    val dir = s"$root/tbl"; val ckpt = s"$root/ckpt"
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def deltas: Seq[String] =
      fs.listStatus(new org.apache.hadoop.fs.Path(dir)).toSeq
        .filter(_.isDirectory).map(_.getPath.getName)
        .filter(_.startsWith("delta_")).sorted
    val b0 = Seq((1L, "one"), (2L, "two")).toDF("doc_id", "text")
    Streams.hiveAcidCommitBatch(b0, 0L, dir)
    assert(deltas == Seq("delta_0000001_0000001"), deltas.toString)
    // replayed batch: no new delta (the sidecar is the batch log)
    Streams.hiveAcidCommitBatch(b0, 0L, dir)
    assert(deltas == Seq("delta_0000001_0000001"), deltas.toString)
    Streams.hiveAcidCommitBatch(Seq((3L, "three")).toDF("doc_id", "text"), 1L, dir)
    assert(deltas == Seq("delta_0000001_0000001", "delta_0000002_0000002"),
      deltas.toString)
    // snapshot isolation over the sink's own layout
    assert(HiveAcid.readInsertOnly(spark, dir, HiveAcid.ValidWriteIds(2L))
      .select("doc_id").as[Long].collect().toSet == Set(1L, 2L, 3L))
    assert(HiveAcid.readInsertOnly(spark, dir, HiveAcid.ValidWriteIds(1L))
      .count() == 2)
    // the T27 source tails the sink's own table: initial snapshot, then
    // a later committed batch drains as exactly its rows — the ACID
    // write→tail loop (the sidecar file is invisible to the sweep)
    val batches = scala.collection.mutable.ArrayBuffer[Seq[Long]]()
    val q = spark.readStream.format("graft.sources.HiveAcidStreamSource").load(dir)
      .writeStream.foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        val ids = df.select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
        batches.synchronized { batches += ids }; ()
      }.option("checkpointLocation", ckpt).start()
    try {
      q.processAllAvailable()
      assert(batches.filter(_.nonEmpty).toSeq == Seq(Seq(1L, 2L, 3L)),
        batches.toString)
      Streams.hiveAcidCommitBatch(Seq((4L, "four")).toDF("doc_id", "text"), 2L, dir)
      q.processAllAvailable()
      assert(batches.filter(_.nonEmpty).toSeq ==
        Seq(Seq(1L, 2L, 3L), Seq(4L)), batches.toString)
    } finally q.stop()
  }

  test("T31/T33: the replay-watermark walk examines O(new instants), never O(table lifetime) — the sink cadence pin") {
    import graft.sources.{HiveAcidSink, HudiSink}
    import graft.streaming.Streams
    import spark.implicits._
    val root = tempDir("graft_cadence")
    // --- T33 Hive ACID: newest-first delta walk stops at the query's
    // own last commit, whatever accumulated before it ---
    val acid = s"$root/acid"
    (0 to 3).foreach { b =>
      Streams.hiveAcidCommitBatch(
        Seq((b.toLong, s"d$b")).toDF("doc_id", "text"), b.toLong, acid)
      // batch 0 sees no table (0 examined); each later batch stops at
      // the NEWEST delta — its own previous commit — after exactly 1
      val want = if (b == 0) 0 else 1
      assert(HiveAcidSink.lastBatchIdDeltasScanned.contains(want),
        s"batch $b examined ${HiveAcidSink.lastBatchIdDeltasScanned} deltas")
    }
    // m sidecar-less FOREIGN deltas land on top (another writer): the
    // walk examines exactly m+1 — the new instants plus the stop
    (5 to 7).foreach { w =>
      HiveAcidSink.insertOnly(Seq((100L + w, "x")).toDF("doc_id", "text"),
        acid, w.toLong)
    }
    assert(HiveAcidSink.lastCommittedBatchId(spark, acid, "unattached")
      .contains(3L))
    assert(HiveAcidSink.lastBatchIdDeltasScanned.contains(4),
      s"expected 3 foreign + 1 own examined, got " +
        s"${HiveAcidSink.lastBatchIdDeltasScanned}")
    // --- T31 Hudi: same contract over the commit timeline ---
    val hudi = s"$root/hudi"
    (0 to 3).foreach { b =>
      Streams.hudiCommitBatch(
        Seq((s"k$b", b.toLong)).toDF("k", "v"), b.toLong, hudi, "k", None)
      val want = if (b == 0) 0 else 1
      assert(HudiSink.lastBatchIdCommitsScanned.contains(want),
        s"batch $b read ${HudiSink.lastBatchIdCommitsScanned} commit bodies")
    }
    (0 until 3).foreach { i =>
      HudiSink.insert(Seq((s"f$i", -1L)).toDF("k", "v"), hudi, "k", None,
        HudiSink.nextInstant(spark, hudi))
    }
    assert(HudiSink.lastCommittedBatchId(spark, hudi, "unattached")
      .contains(3L))
    assert(HudiSink.lastBatchIdCommitsScanned.contains(4),
      s"expected 3 foreign + 1 own commit bodies read, got " +
        s"${HudiSink.lastBatchIdCommitsScanned}")
  }

  test("T18/S16g: the exactly-once watermark SURVIVES snapshot expiry — a replay after retention dropped the query's snapshots is still a no-op") {
    import graft.sources.IcebergWrite
    import graft.streaming.Streams
    import spark.implicits._
    val dir = tempDir("graft_t18_expiry") + "/tbl"
    val conf = spark.sparkContext.hadoopConfiguration
    val qidKey = org.apache.spark.sql.execution.streaming.runtime
      .StreamExecution.QUERY_ID_KEY
    def count() = spark.read.format("graft.sources.IcebergSource")
      .load(dir).count()
    try {
      // query A commits batches 0 and 1 (snapshot summaries = commit log)
      spark.sparkContext.setLocalProperty(qidKey, "query-A")
      val b0 = Seq((1L, "a"), (2L, "b")).toDF("doc_id", "text")
      val b1 = Seq((3L, "c")).toDF("doc_id", "text")
      Streams.icebergCommitBatch(b0, 0L, dir, "doc_id", 2)
      Streams.icebergCommitBatch(b1, 1L, dir, "doc_id", 2)
      assert(count() == 3)
      // a DIFFERENT lineage (query B) commits on top, pushing query
      // A's snapshots to the old end of the log
      spark.sparkContext.setLocalProperty(qidKey, "query-B")
      Streams.icebergCommitBatch(Seq((4L, "d")).toDF("doc_id", "text"),
        0L, dir, "doc_id", 2)
      // retention keeps ONLY the newest snapshot: every query-A
      // snapshot (and its summary — the commit log) is expired
      assert(IcebergWrite.expireSnapshots(dir, conf, keepLast = 1) == 2)
      // failure recovery REPLAYS query A's batch 1: without the
      // expiry-proof property watermark this would look like a fresh
      // batch and commit DUPLICATES; with it, still a no-op
      spark.sparkContext.setLocalProperty(qidKey, "query-A")
      Streams.icebergCommitBatch(b1, 1L, dir, "doc_id", 2)
      assert(count() == 4, "replayed batch committed duplicates after expiry")
      // a genuinely NEW batch of the same query still commits...
      Streams.icebergCommitBatch(Seq((5L, "e")).toDF("doc_id", "text"),
        2L, dir, "doc_id", 2)
      assert(count() == 5)
      // ...and the raised watermark survives the NEXT expiry too
      // (B's survivor + A's batch-2 snapshot → one more expires)
      assert(IcebergWrite.expireSnapshots(dir, conf, keepLast = 1) == 1)
      Streams.icebergCommitBatch(Seq((5L, "e")).toDF("doc_id", "text"),
        2L, dir, "doc_id", 2)
      assert(count() == 5)
    } finally spark.sparkContext.setLocalProperty(qidKey, null)
  }

  test("T34–T36: the migration matrix closes — ACID→Hudi→ACID round-trips intact; Iceberg→ACID lands snapshots as deltas") {
    import graft.sources.{HiveAcid, HiveAcidSink, HudiRO}
    import graft.streaming.Streams
    import spark.implicits._
    val root = tempDir("graft_t34")
    val acid1 = s"$root/acid1"; val hudi = s"$root/hudi"
    val acid2 = s"$root/acid2"; val ice = s"$root/ice"; val acid3 = s"$root/acid3"
    def docs(ids: Long*) = ids.map(i => (i, s"text $i")).toDF("doc_id", "text")
    // source-of-record ACID table: two committed writes (via our own
    // writer — every table in this test is produced by the engine)
    Streams.hiveAcidCommitBatch(docs(1L, 2L), 0L, acid1)
    Streams.hiveAcidCommitBatch(docs(3L), 1L, acid1)
    // T34: ACID → Hudi
    val q1 = Streams.hiveAcidToHudiHop(spark, acid1, hudi, "doc_id", None)
      .option("checkpointLocation", s"$root/ck1").start()
    try {
      q1.processAllAvailable()
      assert(HudiRO.read(spark, hudi).select("doc_id").as[Long]
        .collect().toSet == Set(1L, 2L, 3L))
      // a new upstream ACID commit propagates through the running hop
      Streams.hiveAcidCommitBatch(docs(4L), 2L, acid1)
      q1.processAllAvailable()
      assert(HudiRO.read(spark, hudi).select("doc_id").as[Long]
        .collect().toSet == Set(1L, 2L, 3L, 4L))
    } finally q1.stop()
    // T36: Hudi → ACID — the round trip ends where it began
    val q2 = Streams.hudiToHiveAcidHop(spark, hudi, acid2)
      .option("checkpointLocation", s"$root/ck2").start()
    try q2.processAllAvailable() finally q2.stop()
    val hwm2 = HiveAcidSink.nextWriteId(spark, acid2) - 1
    assert(hwm2 >= 1)
    assert(HiveAcid.readInsertOnly(spark, acid2, HiveAcid.ValidWriteIds(hwm2))
      .select("doc_id").as[Long].collect().toSet == Set(1L, 2L, 3L, 4L))
    // T35: Iceberg → ACID, each snapshot one delta
    Streams.icebergCommitBatch(docs(7L, 8L), 0L, ice, "doc_id")
    val q3 = Streams.icebergToHiveAcidHop(spark, ice, acid3)
      .option("checkpointLocation", s"$root/ck3").start()
    try {
      q3.processAllAvailable()
      Streams.icebergCommitBatch(docs(9L), 1L, ice, "doc_id")
      q3.processAllAvailable()
    } finally q3.stop()
    val hwm3 = HiveAcidSink.nextWriteId(spark, acid3) - 1
    assert(hwm3 == 2, s"expected one delta per Iceberg snapshot, hwm=$hwm3")
    assert(HiveAcid.readInsertOnly(spark, acid3, HiveAcid.ValidWriteIds(hwm3))
      .select("doc_id").as[Long].collect().toSet == Set(7L, 8L, 9L))
  }

  test("T29: a permanently missing table fails the poll loudly after consecutive failures") {
    // ADVICE r12: latestOffset used to swallow every poll failure —
    // a deleted/missing table idled the stream forever while the batch
    // reader failed fast on the same condition.
    import org.apache.spark.sql.connector.read.streaming.ReadLimit
    val s = new graft.sources.HudiMicroBatchStream(
      "/nonexistent/graft_t29_missing",
      new org.apache.spark.sql.types.StructType()
        .add("doc_id", org.apache.spark.sql.types.LongType))
    val start = graft.sources.TailOffset("instant", "")
    val lim = ReadLimit.allAvailable()
    // first failures defer pickup (the transient-IO discipline)...
    assert(s.latestOffset(start, lim) ==
      graft.sources.TailOffset("instant", ""))
    assert(s.latestOffset(start, lim) ==
      graft.sources.TailOffset("instant", ""))
    // ...but the stream must not idle forever on a permanent condition
    val e = intercept[IllegalStateException] { s.latestOffset(start, lim) }
    assert(e.getMessage.contains("consecutive"), e.getMessage)
  }

  // ---------------------------------------------------------------
  // The tailing-stream scaffold the Iceberg, Hive ACID and Hudi
  // sources share: one poll rule, one offset lifecycle
  // ---------------------------------------------------------------

  private val docIdSchema = new org.apache.spark.sql.types.StructType()
    .add("doc_id", org.apache.spark.sql.types.LongType)

  /** The three lakehouse streams, each with its name, over `dirOf(name)`. */
  private def tails(dirOf: String => String): Seq[(String, graft.sources.TailingStream[_])] = Seq(
    "iceberg" -> new graft.sources.IcebergMicroBatchStream(dirOf("iceberg"), docIdSchema),
    "hive-acid" -> new graft.sources.HiveAcidMicroBatchStream(dirOf("hive-acid"), docIdSchema,
      None, Set.empty),
    "hudi" -> new graft.sources.HudiMicroBatchStream(dirOf("hudi"), docIdSchema))

  test("Tail: a permanently missing table fails every lakehouse stream after 3 consecutive failed polls") {
    import org.apache.spark.sql.connector.read.streaming.ReadLimit
    val missing = "/nonexistent/graft_tail_missing"
    for ((name, s) <- tails(_ => missing)) {
      val start = s.initialOffset()
      // a failed poll makes no progress on its trigger...
      assert(s.latestOffset(start, ReadLimit.allAvailable()) == start, name)
      assert(s.latestOffset(start, ReadLimit.allAvailable()) == start, name)
      // ...and the third consecutive one fails the stream, naming the path
      val e = intercept[IllegalStateException] {
        s.latestOffset(start, ReadLimit.allAvailable())
      }
      assert(e.getMessage.contains("consecutive") && e.getMessage.contains(missing),
        s"$name: ${e.getMessage}")
    }
  }

  test("Tail: a transient poll failure costs one trigger, and a successful poll resets the count") {
    import org.apache.spark.sql.connector.read.streaming.ReadLimit
    import graft.sources.TailOffset
    val root = tempDir("graft_tail_transient")
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // one committed unit per format
    graft.sources.IcebergWrite.write(acidDocDf(1L), s"$root/iceberg", "text", "identity")
    acidDocDf(1L).write.parquet(s"$root/hive-acid/base_0000001")
    fs.mkdirs(new org.apache.hadoop.fs.Path(s"$root/hudi/.hoodie"))
    hudiTouch(s"$root/hudi/.hoodie/${HI(0)}.commit")
    val next = Map("iceberg" -> TailOffset("snapshot", 1L),
      "hive-acid" -> TailOffset("writeId", 1L), "hudi" -> TailOffset("instant", HI(0)))
    for ((name, s) <- tails(name => s"$root/$name")) {
      val dir = new org.apache.hadoop.fs.Path(s"$root/$name")
      val away = new org.apache.hadoop.fs.Path(s"$root/${name}_away")
      def poll(from: org.apache.spark.sql.connector.read.streaming.Offset) =
        s.latestOffset(from, ReadLimit.allAvailable())
      val start = s.initialOffset()
      assert(fs.rename(dir, away))
      assert(poll(start) == start, name)
      assert(poll(start) == start, name)
      assert(fs.rename(away, dir))
      // the table is back: this trigger makes progress
      assert(poll(start) == next(name), name)
      // the success reset the count: two failures pass again, a third fails
      assert(fs.rename(dir, away))
      assert(poll(next(name)) == next(name), name)
      assert(poll(next(name)) == next(name), name)
      val e = intercept[IllegalStateException] { poll(next(name)) }
      assert(e.getMessage.contains("consecutive"), s"$name: ${e.getMessage}")
      assert(fs.rename(away, dir))
    }
  }

  test("Tail: checkpointed offset JSON reads back and renders byte-identical") {
    val json = Map("iceberg" -> """{"snapshot":7}""", "hive-acid" -> """{"writeId":12}""",
      "hudi" -> """{"instant":"20240101000000000"}""")
    val initial = Map("iceberg" -> """{"snapshot":0}""", "hive-acid" -> """{"writeId":-1}""",
      "hudi" -> """{"instant":""}""")
    for ((name, s) <- tails(_ => "/nonexistent/graft_tail_json")) {
      assert(s.deserializeOffset(json(name)).json() == json(name), name)
      assert(s.initialOffset().json() == initial(name), name)
      assert(s.deserializeOffset(initial(name)) == s.initialOffset(), name)
    }
  }
}
