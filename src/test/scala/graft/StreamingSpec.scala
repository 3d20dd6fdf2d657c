package graft

import graft.streaming.EventStream
import graft.streaming.EventStream.Event
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import java.sql.Timestamp

/** Structured-Streaming path (SURVEY.md §2.12): the streaming transforms
  * produce the same answers as their batch twins, and the custom stateful
  * sessionizer closes sessions on the event-time gap.
  */
class StreamingSpec extends SparkSpecBase {
  import spark.implicits._

  private def ts(minute: Int): Timestamp =
    Timestamp.valueOf(f"2024-01-01 ${minute / 60}%02d:${minute % 60}%02d:00")

  private val rocksDbStateStore = "spark.sql.streaming.stateStore.providerClass" ->
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  private val eventsFixture = Seq(
    Event(1, ts(0), 1, 1.0), Event(2, ts(10), 1, 2.0), Event(3, ts(70), 1, 3.0),
    Event(4, ts(5), 2, 4.0), Event(5, ts(50), 2, 5.0))

  test("hourlyCounts on a stream matches the batch computation") {
    val mem = MemoryStream[Event](spark)
    val q = EventStream.hourlyCounts(mem.toDF().withColumn("event_type", lit("click")))
      .writeStream.format("memory").queryName("hourly").outputMode("complete").start()
    try {
      mem.addData(eventsFixture: _*)
      q.processAllAvailable()
      val got = spark.table("hourly").orderBy("ws")
        .select("ws", "cnt", "total_value").as[(Long, Long, Double)].collect().toSeq
      val base = Timestamp.valueOf("2024-01-01 00:00:00").getTime / 1000
      // hour 0: minutes 0,10,5,50 → 4 events Σ12; hour 1: minute 70 → 1 event Σ3
      assert(got == Seq((base, 4L, 12.0), (base + 3600, 1L, 3.0)))
    } finally q.stop()
  }

  test("stateful sessionizer emits closed sessions after the gap") {
    val mem = MemoryStream[Event](spark)
    val q = EventStream.sessionize(mem.toDS(), gapSeconds = 1800)
      .writeStream.format("memory").queryName("sessions").outputMode("append").start()
    try {
      mem.addData(eventsFixture: _*)
      q.processAllAvailable()
      // advance the watermark far enough to time out all sessions
      mem.addData(Event(99, ts(600), 9, 0.0))
      q.processAllAvailable()
      mem.addData(Event(100, ts(1200), 9, 0.0))
      q.processAllAvailable()
      val got = spark.table("sessions")
        .select("user_id", "cnt", "total_value")
        .as[(Long, Long, Double)].collect().toSet
      // user 1: (ts0,ts10) then gap>30m → (ts70); user 2: ts5 then ts50
      assert(got.contains((1L, 2L, 3.0)) && got.contains((1L, 1L, 3.0)))
      assert(got.contains((2L, 1L, 4.0)) && got.contains((2L, 1L, 5.0)))
    } finally q.stop()
  }

  test("dedupStream drops duplicate event_ids within the watermark") {
    val mem = MemoryStream[Event](spark)
    val q = EventStream.dedupStream(mem.toDF())
      .writeStream.format("memory").queryName("dedup").outputMode("append").start()
    try {
      mem.addData(Event(1, ts(0), 1, 1.0), Event(1, ts(0), 1, 1.0), Event(2, ts(1), 1, 2.0))
      q.processAllAvailable()
      mem.addData(Event(2, ts(2), 1, 2.0), Event(3, ts(3), 1, 3.0))
      q.processAllAvailable()
      val got = spark.table("dedup").select("event_id").as[Long].collect().toSeq.sorted
      assert(got == Seq(1L, 2L, 3L))
    } finally q.stop()
  }

  test("chunkStream emits exactly the batch q170 chunks, stateless") {
    import graft.streaming.EventStream.Doc
    val mem = MemoryStream[Doc](spark)
    val q = EventStream.chunkStream(mem.toDF())
      .writeStream.format("memory").queryName("chunks").outputMode("append").start()
    val docs = Seq(
      Doc(1, ts(0), (1 to 100).map(i => s"w$i").mkString(" ")), // 3 chunks
      Doc(2, ts(1), (1 to 40).map(i => s"t$i").mkString(" ")), // exactly one window
      Doc(3, ts(2), "tiny doc")) // short: single chunk
    try {
      mem.addData(docs: _*)
      q.processAllAvailable()
      val got = spark.table("chunks")
        .select("doc_id", "chunk_idx", "n_tok", "chunk_md5")
        .as[(Long, Long, Long, String)].collect().sortBy(r => (r._1, r._2)).toSeq
      // batch-equivalence against the REGISTERED q170 query (the
      // independent oracle-checked path, not chunkStream itself): write
      // the same docs as a documents table and run q170 over it
      val dir = java.nio.file.Files.createTempDirectory("chunkstream").toString
      docs.map(dc => (dc.doc_id, dc.text, "en", "s", dc.text.length.toLong))
        .toDF("doc_id", "text", "lang", "source", "n_chars")
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
      val batch = SparkEntry.queries("q170_chunk_overlap")(spark, dir)
        .select("doc_id", "chunk_idx", "n_tok", "chunk_md5")
        .as[(Long, Long, Long, String)].collect().sortBy(r => (r._1, r._2)).toSeq
      assert(got == batch)
      // and the chunk-count formula holds: 1 + ceil(max(0, n-40)/30)
      val counts = got.groupBy(_._1).view.mapValues(_.size).toMap
      assert(counts == Map(1L -> 3, 2L -> 1, 3L -> 1), s"counts=$counts")
      // chunk 0 of doc 1 is the md5 of tokens 1..40
      val exp0 = java.security.MessageDigest.getInstance("MD5")
        .digest((1 to 40).map(i => s"w$i").mkString(" ").getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      assert(got.find(r => r._1 == 1L && r._2 == 0L).get._4 == exp0)
    } finally q.stop()
  }

  test("ivfAssignStream assigns the real delta identically to the batch assignToCells") {
    import graft.streaming.EventStream.Vec
    val e = spark.read.parquet(s"$sf001/embeddings.parquet")
    // the persisted quantizer, collected once — the model-artifact shape
    val cents = e.where(col("vec_id") < 8)
      .select(col("vec_id"), col("embedding"))
      .as[(Long, Seq[Float])].collect().sortBy(_._1).toSeq
    val delta = e.where(col("vec_id") % 10 >= 8)
      .select(col("vec_id"), col("embedding"))
      .as[(Long, Seq[Float])].collect()
    assert(delta.nonEmpty && cents.size == 8)
    val mem = MemoryStream[Vec](spark)
    val q = EventStream.ivfAssignStream(mem.toDF(), cents)
      .writeStream.format("memory").queryName("ivfassign").outputMode("append").start()
    try {
      mem.addData(delta.toIndexedSeq.map(v => Vec(v._1, v._2)): _*)
      q.processAllAvailable()
      val got = spark.table("ivfassign")
        .as[(Long, Long)].collect().sortBy(_._1).toSeq
      // batch twin: the SAME delta through the q320 ingest path
      val batch = graft.ops.AnnOps.assignToCells(
          e.where(col("vec_id") % 10 >= 8),
          e.where(col("vec_id") < 8)
            .select(col("vec_id").as("cent_id"), col("embedding").as("ce")))
        .select(col("vec_id"), col("cell").cast("long"))
        .as[(Long, Long)].collect().sortBy(_._1).toSeq
      assert(got == batch, "streaming assignment diverges from the batch index path")
      assert(got.map(_._2).distinct.size > 1, "delta collapsed into one cell — fixture degenerate")
    } finally q.stop()
  }

  test("nearDupFilterStream drops signature-identical docs; sigs match the batch path") {
    import graft.streaming.EventStream.Doc
    val mem = MemoryStream[Doc](spark)
    val q = EventStream.nearDupFilterStream(mem.toDF())
      .writeStream.format("memory").queryName("neardup").outputMode("append").start()
    // same 5-gram shingle set → same signature (word order of a COPY is
    // identical); doc 4 shares no shingles with doc 1
    val a = "the quick brown fox jumps over the lazy dog tonight"
    val b = "completely different sentence with enough words to build shingles here"
    try {
      mem.addData(Doc(1, ts(0), a), Doc(2, ts(1), a))
      q.processAllAvailable()
      // docs 5/6 are too short to shingle but DISTINCT: both pass (text-
      // keyed sentinels, no null-group collapse); doc 7 is a byte-copy of
      // doc 5 and must dedup exactly even without shingles
      mem.addData(Doc(3, ts(2), a), Doc(4, ts(3), b),
        Doc(5, ts(4), "too short"), Doc(6, ts(5), "also short"),
        Doc(7, ts(6), "too short"))
      q.processAllAvailable()
      val kept = spark.table("neardup").select("doc_id").as[Long].collect().toSet
      assert(kept == Set(1L, 4L, 5L, 6L), s"kept=$kept") // first copy survives, later copies drop
      // the per-row signature construction equals the batch DedupOps path
      val docs = Seq((1L, a), (4L, b)).toDF("doc_id", "text")
      val batch = graft.ops.DedupOps
        .minhashSignature(graft.ops.DedupOps.shingleSets(docs, "text", 5), 4)
        .as[(Long, Int, String)].collect()
        .map { case (id, band, sig) => (id, band) -> sig }.toMap
      val stream = spark.table("neardup")
        .where(col("doc_id").isin(1L, 4L)) // 5/6 carry sentinel sigs, no batch twin
        .select("doc_id", "sig0", "sig1", "sig2", "sig3")
        .as[(Long, String, String, String, String)].collect()
        .flatMap { case (id, s0, s1, s2, s3) =>
          Seq((id, 0) -> s0, (id, 1) -> s1, (id, 2) -> s2, (id, 3) -> s3) }.toMap
      assert(stream == batch, s"stream=$stream batch=$batch")
    } finally q.stop()
  }

  test("enrichStream joins the static dimension per batch") {
    val mem = MemoryStream[Event](spark)
    val dim = Seq((1L, "gold"), (2L, "basic")).toDF("user_id", "tier")
    val q = EventStream.enrichStream(mem.toDF(), dim, "user_id")
      .writeStream.format("memory").queryName("enriched").outputMode("append").start()
    try {
      mem.addData(eventsFixture: _*)
      q.processAllAvailable()
      val got = spark.table("enriched").select("event_id", "tier")
        .as[(Long, String)].collect().toMap
      assert(got(1L) == "gold" && got(4L) == "basic" && got.size == 5)
    } finally q.stop()
  }

  test("update output mode re-emits only the hourly groups a batch touched") {
    val mem = MemoryStream[Event](spark)
    val q = EventStream.hourlyCounts(mem.toDF().withColumn("event_type", lit("click")))
      .writeStream.format("memory").queryName("hourly_upd").outputMode("update").start()
    try {
      mem.addData(Event(1, ts(0), 1, 1.0), Event(2, ts(70), 1, 2.0))
      q.processAllAvailable()
      val afterFirst = spark.table("hourly_upd").count() // hour 0 + hour 1
      mem.addData(Event(3, ts(80), 1, 3.0)) // touches ONLY hour 1
      q.processAllAvailable()
      val emitted = spark.table("hourly_upd").count() - afterFirst
      assert(afterFirst == 2 && emitted == 1)
    } finally q.stop()
  }

  test("foreachBatch parquet sink lands every row with a batch id") {
    val dir = java.nio.file.Files.createTempDirectory("fb").toString + "/out"
    val mem = MemoryStream[Event](spark)
    val q = EventStream.sinkToParquet(mem.toDF(), dir)
    try {
      mem.addData(eventsFixture: _*)
      q.processAllAvailable()
      val got = spark.read.parquet(dir)
      assert(got.count() == 5)
      assert(got.columns.contains("batch_id"))
    } finally q.stop()
  }

  test("stream-stream interval join matches the batch join, bounds state by time") {
    val views = MemoryStream[Event](spark)
    val clicks = MemoryStream[Event](spark)
    val q = EventStream.viewClickJoin(views.toDF(), clicks.toDF())
      .writeStream.format("memory").queryName("attrib").outputMode("append").start()
    try {
      // user 1: views at 0 and 10; click at 5 pairs with the view at 0
      // (5 min) AND nothing else; click at 18 pairs with the view at 10
      // (8 min) but NOT the view at 0 (18 min > horizon).
      // user 2's view only sees a click from a DIFFERENT user → no match.
      val vRows = Seq(Event(1, ts(0), 1, 0), Event(2, ts(10), 1, 0), Event(3, ts(5), 2, 0))
      val cRows = Seq(Event(101, ts(5), 1, 0), Event(102, ts(18), 1, 0), Event(103, ts(6), 3, 0))
      views.addData(vRows: _*)
      clicks.addData(cRows: _*)
      q.processAllAvailable()
      val got = spark.table("attrib").select("view_id", "click_id", "lag_sec")
        .as[(Long, Long, Long)].collect().toSet
      val batch = EventStream.viewClickJoin(vRows.toDF(), cRows.toDF())
        .select("view_id", "click_id", "lag_sec").as[(Long, Long, Long)].collect().toSet
      assert(got == Set((1L, 101L, 300L), (2L, 102L, 480L)))
      assert(got == batch, "streaming result diverged from the batch twin")
    } finally q.stop()
  }

  test("left-outer stream-stream join emits unmatched views after the watermark") {
    val views = MemoryStream[Event](spark)
    val clicks = MemoryStream[Event](spark)
    val q = EventStream.viewClickJoin(views.toDF(), clicks.toDF(), joinType = "left_outer")
      .writeStream.format("memory").queryName("attrib_lo").outputMode("append").start()
    try {
      views.addData(Event(1, ts(0), 1, 0), Event(2, ts(5), 2, 0))
      clicks.addData(Event(101, ts(3), 1, 0))
      q.processAllAvailable()
      // push BOTH watermarks well past view_ts + horizon so the
      // no-match verdict for view 2 becomes final
      views.addData(Event(98, ts(600), 9, 0))
      clicks.addData(Event(99, ts(600), 9, 0))
      q.processAllAvailable()
      val got = spark.table("attrib_lo")
        .select("view_id", "click_id").collect()
        .map(r => (r.getLong(0), if (r.isNullAt(1)) -1L else r.getLong(1))).toSet
      assert(got.contains((1L, 101L)), s"matched pair missing: $got")
      assert(got.contains((2L, -1L)), s"unmatched view never emitted: $got")
    } finally q.stop()
  }

  test("transformWithState EMA folds across micro-batches with one value of state") {
    // transformWithState requires the RocksDB state store
    withConf(rocksDbStateStore) {
      val mem = MemoryStream[Event](spark)
      val q = EventStream.emaStream(mem.toDS(), alpha = 0.5)
        .writeStream.format("memory").queryName("ema").outputMode("append").start()
      try {
        mem.addData(Event(1, ts(0), 1, 1.0), Event(2, ts(10), 1, 3.0))
        q.processAllAvailable()
        mem.addData(Event(3, ts(20), 1, 4.0)) // second batch: state must carry
        q.processAllAvailable()
        val got = spark.table("ema").select("event_id", "ema")
          .as[(Long, Double)].collect().toMap
        // seed 1.0; then 0.5·3+0.5·1 = 2.0; next batch 0.5·4+0.5·2 = 3.0
        assert(got == Map(1L -> 1.0, 2L -> 2.0, 3L -> 3.0), s"got $got")
      } finally q.stop()
    }
  }

  test("transformWithState conversion lag seals per user and matches the q240 rule") {
    import EventStream.{ConvOut, TypedEvent}
    withConf(rocksDbStateStore) {
      val mem = MemoryStream[TypedEvent](spark)
      val q = EventStream.conversionLagStream(mem.toDS())
        .writeStream.format("memory").queryName("convlag").outputMode("append").start()
      try {
        // user 1: view @0, purchase @10min (cross-batch) → lag 600
        // user 2: purchase @5 BEFORE view @50 → sealed, never emits
        // user 3: view only → never emits
        // user 4: view @0 and purchase @0 same instant → lag 0
        mem.addData(
          TypedEvent(1, ts(0), 1, "view"), TypedEvent(2, ts(5), 2, "purchase"),
          TypedEvent(3, ts(20), 3, "view"),
          TypedEvent(4, ts(0), 4, "view"), TypedEvent(5, ts(0), 4, "purchase"))
        q.processAllAvailable()
        mem.addData(
          TypedEvent(6, ts(10), 1, "purchase"), TypedEvent(7, ts(50), 2, "view"),
          TypedEvent(8, ts(60), 1, "purchase"), // second purchase: user already sealed
          TypedEvent(9, ts(90), 4, "purchase"))
        q.processAllAvailable()
        val got = spark.table("convlag").as[ConvOut].collect()
          .map(c => c.user_id -> c.lag_s).toMap
        assert(got == Map(1L -> 600L, 4L -> 0L), s"got $got")
        // exactly one emission per converted user — the seal guarantee
        assert(spark.table("convlag").count() == 2)
      } finally q.stop()
    }
  }

  test("streaming session_window agrees with batch q24 shape") {
    val mem = MemoryStream[Event](spark)
    val q = EventStream.sessionCounts(mem.toDF())
      .writeStream.format("memory").queryName("sesswin").outputMode("complete").start()
    try {
      mem.addData(eventsFixture: _*)
      q.processAllAvailable()
      val got = spark.table("sesswin").orderBy("user_id", "sess_start")
        .select("user_id", "cnt", "total_value").as[(Long, Long, Double)].collect().toSeq
      assert(got == Seq((1L, 2L, 3.0), (1L, 1L, 3.0), (2L, 1L, 4.0), (2L, 1L, 5.0)))
    } finally q.stop()
  }

  test("streaming anomaly gate scores each event against the static stats") {
    val mem = MemoryStream[Event](spark)
    // static reference stats: mu=2, sd=1 for the single type
    val stats = Seq(("click", 2.0, 1.0)).toDF("event_type", "mu", "sd")
    val q = EventStream.anomalyGate(
        mem.toDF().withColumn("event_type", lit("click")), stats, zThreshold = 2.0)
      .writeStream.format("memory").queryName("anom").outputMode("append").start()
    try {
      mem.addData(eventsFixture: _*)
      q.processAllAvailable()
      val got = spark.table("anom").orderBy("event_id")
        .select("event_id", "z", "is_anomaly").as[(Long, Double, Boolean)].collect().toSeq
      // values 1,2,3,4,5 with mu=2 sd=1 → z = -1,0,1,2,3; |z| > 2 only for z=3
      assert(got == Seq((1L, -1.0, false), (2L, 0.0, false), (3L, 1.0, false),
        (4L, 2.0, false), (5L, 3.0, true)), s"got=$got")
    } finally q.stop()
  }

  test("streaming trending terms matches the batch term counts; top-k ranks closed windows") {
    import EventStream.Doc
    val docs = Seq(
      Doc(1, ts(0), "spark joins data"), Doc(2, ts(20), "spark data data"),
      Doc(3, ts(50), "joins win"), Doc(4, ts(70), "spark wins again"),
      Doc(5, ts(80), "again again data"))
    val mem = MemoryStream[Doc](spark)
    val q = EventStream.trendingTerms(mem.toDF())
      .writeStream.format("memory").queryName("trending").outputMode("complete").start()
    try {
      mem.addData(docs: _*)
      q.processAllAvailable()
      val got = spark.table("trending").orderBy("ws", "term")
        .select("ws", "term", "cnt").as[(Long, String, Long)].collect().toSeq
      val batch = docs.toDF("doc_id", "ts", "text")
        .select(col("ts"), explode(graft.ops.TextOps.tokens(col("text"))).as("term"))
        .groupBy(window(col("ts"), "1 hour"), col("term"))
        .agg(count(lit(1)).as("cnt"))
        .select(unix_timestamp(col("window.start")).as("ws"), col("term"), col("cnt"))
        .orderBy("ws", "term")
        .as[(Long, String, Long)].collect().toSeq
      assert(got == batch, s"stream=$got batch=$batch")
      // the tiny batch step over closed windows: top-1 per hour
      val top = spark.table("trending")
        .withColumn("rn", row_number().over(
          org.apache.spark.sql.expressions.Window.partitionBy("ws")
            .orderBy(col("cnt").desc, col("term"))))
        .where(col("rn") === 1)
        .select("ws", "term", "cnt").as[(Long, String, Long)].collect().toSeq.sortBy(_._1)
      val base = Timestamp.valueOf("2024-01-01 00:00:00").getTime / 1000
      // hour 0: data ×3 beats spark/joins ×2; hour 1: again ×3 beats the ×1s
      assert(top == Seq((base, "data", 3L), (base + 3600, "again", 3L)), s"top=$top")
    } finally q.stop()
  }

  test("streaming TTL dedup keeps burst leads, suppresses within TTL, allows recurrence") {
    import EventStream.{DedupLead, TypedEvent}
    val mem = MemoryStream[TypedEvent](spark)
    val q = EventStream.ttlDedupStream(mem.toDS(), ttlSeconds = 600)
      .writeStream.format("memory").queryName("ttl_dedup").outputMode("append").start()
    try {
      // batch 1: lead at t0; t+5min inside TTL (suppressed); 'view' is a
      // separate key and keeps its own lead
      mem.addData(
        TypedEvent(1, ts(0), 1, "click"), TypedEvent(2, ts(5), 1, "click"),
        TypedEvent(3, ts(3), 1, "view"))
      q.processAllAvailable()
      // batch 2 (cross-batch state): t15 is EXACTLY ttl after the last
      // seen click (gap == TTL, not >) → still suppressed, but it slides
      // the burst forward; t30 is 900s after t15 → a fresh lead
      mem.addData(
        TypedEvent(4, ts(15), 1, "click"), TypedEvent(5, ts(30), 1, "click"))
      q.processAllAvailable()
      val got = spark.table("ttl_dedup")
        .select("user_id", "event_type", "event_id")
        .as[(Long, String, Long)].collect().toSet
      assert(got == Set((1L, "click", 1L), (1L, "view", 3L), (1L, "click", 5L)),
        s"got=$got")
    } finally q.stop()
  }

  test("ttl dedup state survives a checkpointed stop/restart") {
    // The recovery contract: suppression decisions made BEFORE a crash
    // must still hold AFTER restart — i.e. the (user, type) last-seen
    // state lives in the checkpoint, not the JVM. Replayable file
    // source + file sink (the fault-tolerant pair), stop between
    // micro-batches, restart from the same checkpoint.
    import EventStream.TypedEvent
    val srcDir = java.nio.file.Files.createTempDirectory("ttl_src").toFile.getPath
    val ckpt = java.nio.file.Files.createTempDirectory("ttl_ckpt").toFile.getPath
    val outDir = java.nio.file.Files.createTempDirectory("ttl_out").toFile.getPath
    Seq(TypedEvent(1, ts(0), 1, "click")).toDS()
      .write.mode("append").parquet(srcDir)
    def start() = EventStream.ttlDedupStream(
      spark.readStream.schema(implicitly[org.apache.spark.sql.Encoder[TypedEvent]]
        .schema).parquet(srcDir).as[TypedEvent], ttlSeconds = 600)
      .writeStream.option("checkpointLocation", ckpt)
      .format("parquet").option("path", outDir).outputMode("append").start()
    val q1 = start()
    try q1.processAllAvailable() finally q1.stop()
    // events arrive while the query is down: one inside the TTL of the
    // pre-crash lead (must STAY suppressed — only checkpointed state
    // can know that), one past it (a fresh lead)
    Seq(TypedEvent(2, ts(5), 1, "click"), TypedEvent(3, ts(30), 1, "click")).toDS()
      .write.mode("append").parquet(srcDir)
    val q2 = start()
    try q2.processAllAvailable() finally q2.stop()
    val got = spark.read.parquet(outDir)
      .select("event_id").as[Long].collect().toSet
    assert(got == Set(1L, 3L),
      s"expected pre-crash lead 1 and post-restart lead 3 only, got $got")
  }

  test("ttlDedupStream at q384's chosen TTL leaks exactly the duplicates the chooser prices") {
    // q384 prices the ttlSeconds knob ttlDedupStream exposes; this case
    // closes the loop by RUNNING the operator at the chosen 6h TTL on
    // the same planted delivery stream (R52Queries.plantedDeliveries —
    // every sf0.001 event once, 20% of keys re-delivered at a planted
    // heavy-tailed lag, keyed so each event_id is its own dedup key).
    // Exactly-once downstream = one emission per key; a replay whose
    // lag exceeds the TTL slips past the expired state and is emitted
    // again. So emitted == n_keys + leaked(chosen), with leaked read
    // from the q384 row itself — the batch sweep and the live stateful
    // operator agree to the row.
    import graft.queries.R52Queries
    import EventStream.TypedEvent
    val del = R52Queries.plantedDeliveries(spark, sf001)
      .select(col("event_id"), expr("timestamp_seconds(es)").as("ts"),
        col("event_id").as("user_id"), lit("dedup").as("event_type"))
      .as[TypedEvent].collect().toSeq.sortBy(e => (e.ts.getTime, e.event_id))
    val q384 = SparkEntry.queries("q384_dedup_retention")(spark, sf001)
      .where("chosen = 1")
      .select("r_s", "leaked", "n_deliveries").as[(Long, Long, Long)].collect()
    assert(q384.length == 1 && q384.head._1 == 21600L,
      s"chooser moved off the 6h cell: ${q384.toSeq}")
    val (ttl, leaked, nDeliveries) = q384.head
    val nKeys = del.map(_.user_id).distinct.size.toLong
    val mem = MemoryStream[TypedEvent](spark)
    val q = EventStream.ttlDedupStream(mem.toDS(), ttlSeconds = ttl)
      .writeStream.format("memory").queryName("ttl_chosen").outputMode("append").start()
    try {
      mem.addData(del: _*)
      q.processAllAvailable()
      val emitted = spark.table("ttl_chosen").count()
      assert(del.size.toLong == nDeliveries,
        s"fixture drift: stream has ${del.size} deliveries, q384 priced $nDeliveries")
      val expected = nKeys + leaked
      assert(emitted == expected,
        s"ttlDedupStream(ttl=$ttl) emitted $emitted, chooser predicts n_keys+leaked=$expected")
    } finally q.stop()
  }

  test("lateDimStream: online park/drain equals the full recompute, conservation observable") {
    // q383's fixture replayed as a multiplexed CDC stream: batch 1
    // carries the on-time dim slice (c_custkey % 13 != 0) plus ALL the
    // last-quarter facts — the % 13 == 0 facts must PARK; batch 2
    // delivers only the late dim slice — the lot must fully DRAIN. The
    // final MV equals the all-at-once recompute per segment (count AND
    // fingerprint), and the parkedIn/drainedOut accumulators balance.
    import graft.streaming.EventStream
    import graft.queries.R46Queries
    val ordersRaw = Tables.load(spark, sf001, "orders").select(col("o_orderkey"),
      col("o_custkey"), expr("unix_timestamp(o_orderdate) div 86400").as("dk"))
    val dmax = ordersRaw.agg(max("dk")).as[Long].head()
    val facts = ordersRaw.where(col("dk") > dmax - 90)
      .select("o_orderkey", "o_custkey").as[(Long, Long)].collect().toSeq
    val dims = Tables.load(spark, sf001, "customer")
      .select("c_custkey", "c_mktsegment").as[(Long, String)].collect().toSeq
    val (lateDims, onTimeDims) = dims.partition(_._1 % 13 == 0)
    assert(facts.exists(f => f._2 % 13 == 0), "fixture needs orphan facts")

    // (kind, o_orderkey, o_custkey, c_custkey, c_mktsegment)
    def factRow(f: (Long, Long)): (String, Long, Long, Long, String) =
      ("fact", f._1, f._2, -1L, "")
    def dimRow(c: (Long, String)): (String, Long, Long, Long, String) =
      ("dim", -1L, -1L, c._1, c._2)

    val parkedIn = spark.sparkContext.longAccumulator("parkedIn")
    val drainedOut = spark.sparkContext.longAccumulator("drainedOut")
    val mem = MemoryStream[(String, Long, Long, Long, String)](spark)
    var last: org.apache.spark.sql.DataFrame = null
    val q = EventStream.lateDimStream(
      mem.toDF().toDF("kind", "o_orderkey", "o_custkey", "c_custkey", "c_mktsegment"),
      Some(parkedIn), Some(drainedOut)) { (_, mv) => last = mv }
    try {
      mem.addData(onTimeDims.map(dimRow) ++ facts.map(factRow): _*)
      q.processAllAvailable()
      val parkedAfter1 = parkedIn.value
      assert(parkedAfter1 > 0, "orphan facts never parked — dead fixture")
      assert(drainedOut.value == 0, "nothing can drain before the late slice lands")
      mem.addData(lateDims.map(dimRow): _*)
      q.processAllAvailable()
      assert(parkedIn.value == parkedAfter1, "the late dim slice is not a fact")
      assert(parkedIn.value == drainedOut.value,
        s"conservation broke: parked ${parkedIn.value}, drained ${drainedOut.value}")
      val got = last.select("seg", "n", "ck").as[(String, Long, Long)].collect().toSet
      val full = facts.toDF("o_orderkey", "o_custkey")
        .join(dims.toDF("c_custkey", "c_mktsegment"),
          col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_mktsegment").as("seg"))
        .agg(count(lit(1)).as("n"),
          sum(R46Queries.jvFingerprint(col("o_orderkey"))).as("ck"))
        .as[(String, Long, Long)].collect().toSet
      assert(got == full, s"stream MV diverged from recompute:\n$got\nvs\n$full")
    } finally q.stop()
  }

  test("lateDimStream: never-arriving dims expire on the orphan TTL; re-delivered dims never double-count") {
    // the VERDICT-r10 #4 / ADVICE-r10 hazards on one fixture: the % 13
    // dim slice NEVER arrives (its facts must park, age past the 1-batch
    // TTL, and leave for the dead letter — state provably bounded), the
    // on-time dim slice is delivered TWICE (the at-least-once replay that
    // used to double every matching fact), and conservation must close as
    // parked == drained + expired with the lot empty at the end.
    import graft.streaming.EventStream
    import graft.queries.R46Queries
    val ordersRaw = Tables.load(spark, sf001, "orders").select(col("o_orderkey"),
      col("o_custkey"), expr("unix_timestamp(o_orderdate) div 86400").as("dk"))
    val dmax = ordersRaw.agg(max("dk")).as[Long].head()
    val facts = ordersRaw.where(col("dk") > dmax - 90)
      .select("o_orderkey", "o_custkey").as[(Long, Long)].collect().toSeq
    val dims = Tables.load(spark, sf001, "customer")
      .select("c_custkey", "c_mktsegment").as[(Long, String)].collect().toSeq
    val (neverDims, onTimeDims) = dims.partition(_._1 % 13 == 0)
    val orphanFacts = facts.filter(f => f._2 % 13 == 0)
    assert(orphanFacts.nonEmpty, "fixture needs facts whose dim never arrives")

    def factRow(f: (Long, Long)): (String, Long, Long, Long, String) =
      ("fact", f._1, f._2, -1L, "")
    def dimRow(c: (Long, String)): (String, Long, Long, Long, String) =
      ("dim", -1L, -1L, c._1, c._2)

    val parkedIn = spark.sparkContext.longAccumulator("parkedIn")
    val drainedOut = spark.sparkContext.longAccumulator("drainedOut")
    val expired = spark.sparkContext.longAccumulator("expired")
    val dimDups = spark.sparkContext.longAccumulator("dimDups")
    val mem = MemoryStream[(String, Long, Long, Long, String)](spark)
    var last: org.apache.spark.sql.DataFrame = null
    val q = EventStream.lateDimStream(
      mem.toDF().toDF("kind", "o_orderkey", "o_custkey", "c_custkey", "c_mktsegment"),
      Some(parkedIn), Some(drainedOut),
      orphanTtlBatches = 1L, expiredOut = Some(expired),
      dupDimArrivals = Some(dimDups)) { (_, mv) => last = mv }
    try {
      // batch 0: on-time dims + all facts (orphans park)
      mem.addData(onTimeDims.map(dimRow) ++ facts.map(factRow): _*)
      q.processAllAvailable()
      assert(parkedIn.value == orphanFacts.size.toLong,
        s"every orphan fact must park: ${parkedIn.value} vs ${orphanFacts.size}")
      assert(expired.value == 0L, "nothing can expire at age 0")
      // batch 1: the on-time dims REPLAYED (no new keys) — the parked
      // orphans age to the TTL and expire; the replay must be counted
      // and must not double the MV
      mem.addData(onTimeDims.map(dimRow): _*)
      q.processAllAvailable()
      assert(dimDups.value == onTimeDims.size.toLong,
        s"every replayed dim key must be counted: ${dimDups.value} vs ${onTimeDims.size}")
      assert(drainedOut.value == 0L, "a replayed dim key cannot drain anything")
      assert(expired.value == parkedIn.value,
        s"conservation: parked ${parkedIn.value} == drained ${drainedOut.value} + expired ${expired.value}")
      val got = last.select("seg", "n", "ck").as[(String, Long, Long)].collect().toSet
      val want = facts.toDF("o_orderkey", "o_custkey")
        .join(onTimeDims.toDF("c_custkey", "c_mktsegment"),
          col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_mktsegment").as("seg"))
        .agg(count(lit(1)).as("n"),
          sum(R46Queries.jvFingerprint(col("o_orderkey"))).as("ck"))
        .as[(String, Long, Long)].collect().toSet
      assert(got == want,
        s"MV must equal the on-time-only recompute (no double count, no orphans):\n$got\nvs\n$want")
    } finally q.stop()
  }

  test("histRefreshStream: additive bin fold equals the batch histogram, drift batch alarms") {
    // q380's online half on its own fixture: the stale days arrive in
    // two micro-batches, the observed delta day in a third, and the
    // planted drifted delta (values shifted one full range width — the
    // unit-change bug) in a fourth. The final 16-bin state must equal
    // the all-at-once histogram of everything fed (merge == rebuild,
    // now across four folds), and the refresh alarm must fire exactly
    // once — on the drifted batch, never on in-range data.
    import graft.streaming.EventStream
    val c = Tables.load(spark, sf001, "orders").select(
      expr("CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT)").as("v"),
      expr("unix_timestamp(o_orderdate) div 86400").as("dk"))
    val dmax = c.agg(max("dk")).as[Long].head()
    val stale = c.where(col("dk") < dmax).select("v").as[Long].collect().toSeq
    val (vmin, vmax) = (stale.min, stale.max)
    val w = vmax - vmin + 1
    val deltaReal = c.where(col("dk") === dmax).select("v").as[Long].collect().toSeq
    val deltaDrift = deltaReal.map(_ + w)
    val (stale1, stale2) = stale.splitAt(stale.size / 2)

    val alarms = spark.sparkContext.longAccumulator("refreshAlarms")
    val mem = MemoryStream[Long](spark)
    var last: org.apache.spark.sql.DataFrame = null
    val q = EventStream.histRefreshStream(
      mem.toDF().toDF("v"), vmin, w, Some(alarms)) { (_, h) => last = h }
    try {
      for (chunk <- Seq(stale1, stale2, deltaReal, deltaDrift)) {
        mem.addData(chunk: _*)
        q.processAllAvailable()
      }
      assert(alarms.value == 1L,
        s"refresh alarm must fire exactly once (the drifted batch): ${alarms.value}")
      val got = last.select("bin", "cnt").as[(Long, Long)].collect().toMap
      val everything = (stale ++ deltaReal ++ deltaDrift).toDF("v")
      val want = everything
        .select(expr(graft.queries.R50Queries.histBin16("v", vmin.toString, w.toString))
          .as("bin"))
        .groupBy("bin").agg(count(lit(1)).as("cnt"))
        .as[(Long, Long)].collect().toMap
      assert(got == want, s"stream fold diverged from rebuild:\n$got\nvs\n$want")
      assert(got.values.sum == stale.size + deltaReal.size + deltaDrift.size)
    } finally q.stop()
  }

  test("histPolicyStream: each policy's final state equals q398's batch leg, gate meters honest") {
    // q398's online half (VERDICT r11 ask #5): the three ANALYZE
    // maintenance policies run as streams over q398's own fixture — the
    // four quarterly deltas with the persistent re-denomination drift
    // planted from step 3. Per policy, the final (boundaries, 16-bin
    // histogram) state must equal the corresponding batch leg computed
    // here with q398's expressions (never → mx1 boundaries with
    // clamp-fattened bins, every_delta → mx4, on_gate → mx3 rebuilt at
    // the firing and merged additively after), and the cost meters must
    // reproduce q398's pricing: rebuild counts 0/3/1, extra scan rows
    // 0 / p2+p3+p4 / p3. gateFires counts firings against each
    // policy's CURRENT boundaries — so never hears the alarm TWICE
    // (steps 3 and 4 both out of its frozen range), the policies that
    // rebuild hear it once.
    import graft.streaming.EventStream
    import graft.queries.R50Queries
    val o0 = Tables.load(spark, sf001, "orders").select(
      quarter(col("o_orderdate")).cast("long").as("st"),
      expr("CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT)").as("v"))
    val w0 = o0.agg(expr("max(v) - min(v) + 1")).as[Long].head()
    val dat = o0.select(col("st"),
        expr(s"CASE WHEN st >= 3 THEN v + $w0 ELSE v END").as("v"))
      .as[(Long, Long)].collect()
    val chunks = (1L to 4L).map(j => dat.filter(_._1 == j).map(_._2).toSeq)
    def prefix(j: Int): Seq[Long] = chunks.take(j).flatten
    def mxOf(vs: Seq[Long]): (Long, Long) = (vs.min, vs.max - vs.min + 1)
    def histOn(vs: Seq[Long], bmin: Long, bw: Long): Map[Long, Long] =
      vs.toDF("v")
        .select(expr(R50Queries.histBin16("v", bmin.toString, bw.toString)).as("bin"))
        .groupBy("bin").agg(count(lit(1)).as("cnt"))
        .as[(Long, Long)].collect().toMap
    val Seq(p2, p3, p4) = Seq(2, 3, 4).map(prefix(_).size.toLong)
    val cases = Seq(
      ("never", mxOf(prefix(1)), 0L, 0L, 2L),
      ("every_delta", mxOf(prefix(4)), 3L, p2 + p3 + p4, 1L),
      ("on_gate", mxOf(prefix(3)), 1L, p3, 1L))
    for ((policy, (bmin, bw), wantRebuilds, wantScan, wantFires) <- cases) {
      val reb = spark.sparkContext.longAccumulator(s"reb_$policy")
      val scan = spark.sparkContext.longAccumulator(s"scan_$policy")
      val fires = spark.sparkContext.longAccumulator(s"fires_$policy")
      val mem = MemoryStream[Long](spark)
      var last: org.apache.spark.sql.DataFrame = null
      val q = EventStream.histPolicyStream(mem.toDF().toDF("v"), policy,
        rebuilds = Some(reb), extraScanRows = Some(scan),
        gateFires = Some(fires)) { (_, h) => last = h }
      try {
        chunks.foreach { ch => mem.addData(ch: _*); q.processAllAvailable() }
        assert(reb.value == wantRebuilds,
          s"$policy: ${reb.value} rebuilds, q398 prices $wantRebuilds")
        assert(scan.value == wantScan,
          s"$policy: extra scan rows ${scan.value}, q398 prices $wantScan")
        assert(fires.value == wantFires,
          s"$policy: gate fired ${fires.value}x, expected $wantFires")
        val gotBounds = last.select("bmin", "bw").distinct()
          .as[(Long, Long)].collect().toSeq
        assert(gotBounds == Seq((bmin, bw)),
          s"$policy: final boundaries $gotBounds != batch leg ($bmin, $bw)")
        val got = last.select("bin", "cnt").as[(Long, Long)].collect().toMap
        val want = histOn(prefix(4), bmin, bw)
        assert(got == want,
          s"$policy: final histogram diverges from q398's batch leg:\n$got\nvs\n$want")
      } finally q.stop()
    }
  }

  test("scanShareStream: micro-cube state derives BOTH reports exactly after every batch") {
    // q410's online half: lineitem rows fed in four micro-batches; after
    // each, report A (by returnflag) and report B (by linestatus) derived
    // from the ≤6-row cube state must equal the direct recompute over the
    // fed prefix — the one-scan sharing claim holding continuously. The
    // state never exceeds the (flag x status) grain cardinality.
    import graft.streaming.EventStream
    val rows = Tables.load(spark, sf001, "lineitem").select(
        col("l_returnflag").as("fl"), col("l_linestatus").as("st"),
        expr("CAST(l_quantity AS BIGINT)").as("qty"),
        expr("CAST(floor(l_extendedprice * 100.0 + 0.5) AS BIGINT)").as("cents"))
      .as[(String, String, Long, Long)].collect().toSeq
    val chunks = rows.grouped(rows.size / 4 + 1).toSeq
    assert(chunks.size == 4)
    val grain = rows.map(r => (r._1, r._2)).distinct.size
    val mem = MemoryStream[(String, String, Long, Long)](spark)
    var last: org.apache.spark.sql.DataFrame = null
    val q = EventStream.scanShareStream(
      mem.toDF().toDF("fl", "st", "qty", "cents")) { (_, c) => last = c }
    try {
      var fed = Seq.empty[(String, String, Long, Long)]
      for (chunk <- chunks) {
        mem.addData(chunk: _*)
        q.processAllAvailable()
        fed = fed ++ chunk
        val cube = last.select("fl", "st", "cnt", "sq", "sc")
          .as[(String, String, Long, Long, Long)].collect()
        assert(cube.length <= grain, s"cube state left the grain: ${cube.length} > $grain")
        val repA = cube.groupBy(_._1).map { case (fl, rs) =>
          fl -> (rs.map(_._3).sum, rs.map(_._4).sum) }
        val wantA = fed.groupBy(_._1).map { case (fl, rs) =>
          fl -> (rs.size.toLong, rs.map(_._3).sum) }
        assert(repA == wantA, s"report A diverged from the prefix recompute at ${fed.size} rows")
        val repB = cube.groupBy(_._2).map { case (st, rs) =>
          st -> (rs.map(_._3).sum, rs.map(_._5).sum) }
        val wantB = fed.groupBy(_._2).map { case (st, rs) =>
          st -> (rs.size.toLong, rs.map(_._4).sum) }
        assert(repB == wantB, s"report B diverged from the prefix recompute at ${fed.size} rows")
      }
    } finally q.stop()
  }

  test("funnelStream: stream-applied funnel equals q251's batch stages on the same delta") {
    import graft.queries.R14Queries
    import graft.streaming.EventStream.Doc
    val funnelStageNames =
      Seq("quality_gate", "exact_vs_base", "neardup_vs_base", "train_split")
    def ids(df: org.apache.spark.sql.DataFrame): Set[Long] =
      df.select("doc_id").as[Long].collect().toSet
    // the SAME synthetic delta q251 runs in batch, replayed as a stream
    val deltaDocs = R14Queries.syntheticDelta(spark, sf001)
      .collect().map(r => Doc(r.getLong(0), ts(0), r.getString(1))).toSeq
    val mem = MemoryStream[Doc](spark)
    val captured =
      scala.collection.mutable.Map[Long, Map[String, Set[Long]]]()
    val q = EventStream.funnelStream(mem.toDF(), sf001) { (id, stages) =>
      val snap = stages.map { case (n, df) => n -> ids(df) }.toMap
      captured.synchronized { captured(id) = snap }
    }
    try {
      // micro-batch 0: the full delta — must reproduce batch q251's
      // stage tables exactly
      mem.addData(deltaDocs: _*)
      q.processAllAvailable()
      val batchStages = R14Queries.incrFunnelStages(spark, sf001).toMap
      val streamed0 = captured.synchronized(captured(0L))
      assert(streamed0.keySet == funnelStageNames.toSet)
      for (name <- funnelStageNames)
        assert(streamed0(name) == ids(batchStages(name)),
          s"stage $name: stream-applied funnel diverged from batch q251")
      assert(streamed0("train_split").nonEmpty)
      // micro-batch 1: a sub-delta (the re-crawl class only) — the
      // funnel is stateless between batches, so this batch must equal
      // funnelOnDelta applied to the subset in batch, with the base
      // indexes probed afresh (memoized, not rebuilt)
      val recrawl = deltaDocs.filter(d => (-d.doc_id) % 3 == 2)
      mem.addData(recrawl: _*)
      q.processAllAvailable()
      val subBatch = R14Queries.funnelOnDelta(spark, sf001,
        R14Queries.syntheticDelta(spark, sf001)
          .where(expr("pmod(-doc_id, 3) = 2")).localCheckpoint(false)).toMap
      val streamed1 = captured.synchronized(captured(1L))
      for (name <- funnelStageNames)
        assert(streamed1(name) == ids(subBatch(name)),
          s"stage $name: second micro-batch diverged from its batch twin")
      // the re-crawl class is near-dup of base, so the base probe must
      // drop every one of them in this batch too
      assert(streamed1("neardup_vs_base").isEmpty ||
        streamed1("neardup_vs_base") == ids(subBatch("neardup_vs_base")))
    } finally q.stop()
  }

  test("cepQuantifiedStream: online view→click⁺→purchase equals batch q322 on the real corpus") {
    import EventStream.{CepOut, TypedEvent}
    val mem = MemoryStream[TypedEvent](spark)
    val q = EventStream.cepQuantifiedStream(mem.toDS())
      .writeStream.format("memory").queryName("cep_q").outputMode("append").start()
    try {
      // the REAL sf0.001 event stream (69-user-scale fixture at sf0.01,
      // 7 matches here), replayed in ts order across several
      // micro-batches — the layer's append-order contract
      val ev = Tables.events(spark, sf001)
        .where(col("event_type").isin("view", "click", "purchase"))
        .select(col("event_id"), col("ts"), col("user_id"), col("event_type"))
        .as[TypedEvent].collect()
        .sortBy(e => (e.ts.getTime, e.event_id))
      ev.grouped(math.max(1, ev.length / 4 + 1)).foreach { chunk =>
        mem.addData(chunk.toSeq: _*)
        q.processAllAvailable()
      }
      // sentinel far past every window: advances the watermark so all
      // remaining runs decide and all state self-expires
      val maxTs = ev.map(_.ts.getTime).max
      mem.addData(TypedEvent(-1, new Timestamp(maxTs + 40L * 86400 * 1000), -1, "noop"))
      q.processAllAvailable()
      val got = spark.table("cep_q").as[CepOut].collect()
        .map(o => (o.user_id, o.view_es, o.click_run_len, o.first_click_lag_s,
          o.run_span_s, o.purchase_lag_s, o.span_s)).toSet
      val want = SparkEntry.queries("q322_cep_quantified")(spark, sf001)
        .select("user_id", "view_es", "click_run_len", "first_click_lag_s",
          "run_span_s", "purchase_lag_s", "span_s")
        .as[(Long, Long, Long, Long, Long, Long, Long)].collect().toSet
      assert(want.nonEmpty, "batch fixture is dead")
      assert(got == want,
        s"stream/batch mismatch: missing=${want -- got} extra=${got -- want}")
      // exactly-once sealing: one emission per matched user
      val emitted = spark.table("cep_q").as[CepOut].collect().map(_.user_id)
      assert(emitted.length == emitted.distinct.length,
        "a user emitted more than one match")
    } finally q.stop()
  }

  test("cepQuantifiedStream: ts regressions against the fold frontier are counted, in-order stays 0") {
    import EventStream.TypedEvent
    def run(evs: Seq[Seq[TypedEvent]]): Long = {
      val acc = spark.sparkContext.longAccumulator
      val mem = MemoryStream[TypedEvent](spark)
      val q = EventStream.cepQuantifiedStream(mem.toDS(), tsRegressions = Some(acc))
        .writeStream.format("memory")
        .queryName(s"cep_reg_${System.nanoTime()}").outputMode("append").start()
      try {
        evs.foreach { chunk => mem.addData(chunk: _*); q.processAllAvailable() }
      } finally q.stop()
      acc.value
    }
    def ev(id: Long, minute: Int, t: String) = TypedEvent(id, ts(minute), 7L, t)
    // in-order chunks (each batch sorted internally; batch 2 starts past
    // batch 1's frontier): the counter must stay 0
    val inOrder = Seq(
      Seq(ev(1, 0, "view"), ev(2, 10, "click"), ev(3, 20, "click")),
      Seq(ev(4, 30, "click"), ev(5, 40, "purchase")))
    assert(run(inOrder) == 0L, "in-order feed must not count regressions")
    // batch 2 regresses behind batch 1's frontier (a click at minute 5
    // arriving after minute 20 was folded) — still inside any watermark
    // allowance, so without the counter this contract violation would
    // pass silently
    val outOfOrder = Seq(
      Seq(ev(1, 0, "view"), ev(2, 10, "click"), ev(3, 20, "click")),
      Seq(ev(4, 5, "click"), ev(5, 40, "purchase")))
    assert(run(outOfOrder) >= 1L, "the out-of-order click must be counted")
    // ADVICE r9: the frontier rides in the SEALED tombstone — a late
    // event regressing behind a CONVERTED user's fold position must
    // still count. User 7 matches and seals (user 8's sentinel at
    // minute 1600 pushes the watermark past the decision point); a
    // post-seal click at minute 1700 ADVANCES the sealed frontier, and
    // then a click at minute 1650 — above the watermark (~minute 1640),
    // behind the frontier — is the in-allowance contract violation the
    // pre-fix code silently swallowed (frontier reset to MinValue).
    val sealedRegress = Seq(
      Seq(ev(1, 0, "view"), ev(2, 10, "click"), ev(3, 100, "purchase")),
      Seq(EventStream.TypedEvent(99, ts(1600), 8L, "noop")), // seal user 7
      Seq(ev(4, 1700, "click")),
      Seq(ev(5, 1650, "click")))
    assert(run(sealedRegress) >= 1L,
      "a regression behind a sealed user's frontier must be counted")
    // and the same feed WITHOUT the regression stays clean (the seal
    // path itself must not miscount in-order traffic)
    val sealedClean = Seq(
      Seq(ev(1, 0, "view"), ev(2, 10, "click"), ev(3, 100, "purchase")),
      Seq(EventStream.TypedEvent(99, ts(1600), 8L, "noop")),
      Seq(ev(4, 1700, "click")),
      Seq(ev(5, 1800, "click")))
    assert(run(sealedClean) == 0L,
      "in-order traffic after a seal must not count as a regression")
  }

  test("bhAlarmStream: per-batch BH snapshot over accumulated segment state equals batch") {
    import EventStream.TypedEvent
    import graft.queries.R36Queries
    def ev(id: Long, u: Long, t: String) = TypedEvent(id, ts((id % 600).toInt), u, t)
    // chunk 2 extends some segments and adds new ones, so the snapshot
    // after it must differ from the one after chunk 1 — proving the
    // complete-mode state ACCUMULATES rather than being replaced
    val chunk1 = (1L to 60L).map(i => ev(i, i % 10, if (i % 5 == 0) "purchase" else "click"))
    val chunk2 = (61L to 120L).map(i => ev(i, i % 12, if (i % 3 == 0) "purchase" else "view"))
    def batchAlarms(evs: Seq[TypedEvent]): Seq[(Long, Long, Long, Long)] =
      R36Queries.bhTail(evs.toDS().toDF().groupBy("user_id")
          .agg(count(lit(1)).as("n"),
            sum(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("c")))
        .select("user_id", "n", "c", "rejected")
        .as[(Long, Long, Long, Long)].collect().toSeq
    val mem = MemoryStream[TypedEvent](spark)
    val captured =
      scala.collection.mutable.ArrayBuffer.empty[(Long, Seq[(Long, Long, Long, Long)])]
    val q = EventStream.bhAlarmStream(mem.toDF()) { (id, df) =>
      captured += id -> df.select("user_id", "n", "c", "rejected")
        .as[(Long, Long, Long, Long)].collect().toSeq
    }
    try {
      mem.addData(chunk1: _*); q.processAllAvailable()
      mem.addData(chunk2: _*); q.processAllAvailable()
    } finally q.stop()
    assert(captured.nonEmpty)
    val want1 = batchAlarms(chunk1)
    val wantAll = batchAlarms(chunk1 ++ chunk2)
    assert(captured.last._2 == wantAll,
      "final streaming snapshot diverges from the batch BH core")
    assert(captured.exists(_._2 == want1),
      "no intermediate snapshot matches the chunk-1-only batch result")
    assert(want1 != wantAll)
  }

  test("ivmStream: per-batch MV merge equals recompute, retraction exercises the delete path") {
    import EventStream.IvmDelta
    // batch 1: inserts across three groups; batch 2: more inserts plus a
    // partial retraction of (A,O); batch 3: retracts (B,F) COMPLETELY —
    // the group must vanish from the MV (the delete path)
    val b1 = Seq(IvmDelta("A", "O", 10L, 1), IvmDelta("A", "O", 20L, 1),
      IvmDelta("B", "F", 5L, 1), IvmDelta("C", "O", 7L, 1))
    val b2 = Seq(IvmDelta("A", "O", 30L, 1), IvmDelta("C", "O", 9L, 1),
      IvmDelta("A", "O", 10L, -1))
    val b3 = Seq(IvmDelta("B", "F", 5L, -1))
    def recompute(evs: Seq[IvmDelta]): Set[(String, String, Long, Long)] =
      evs.groupBy(e => (e.rf, e.ls)).toSeq
        .map { case ((rf, ls), rows) =>
          (rf, ls, rows.map(_.sign.toLong).sum,
            rows.map(r => r.sign.toLong * r.qc).sum)
        }
        .filter(_._3 > 0)
        .map(t => (t._1, t._2, t._3, t._4)).toSet
    val mem = MemoryStream[IvmDelta](spark)
    val neg = spark.sparkContext.longAccumulator
    val captured =
      scala.collection.mutable.ArrayBuffer.empty[(Long, Set[(String, String, Long, Long)])]
    val q = EventStream.ivmStream(mem.toDF(), negativeGroups = Some(neg)) { (id, df) =>
      captured += id -> df.select("rf", "ls", "n", "sq")
        .as[(String, String, Long, Long)].collect().toSet
    }
    try {
      mem.addData(b1: _*); q.processAllAvailable()
      mem.addData(b2: _*); q.processAllAvailable()
      mem.addData(b3: _*); q.processAllAvailable()
    } finally q.stop()
    // legal feed (every retraction follows its insert): the
    // negative-group alarm must stay silent
    assert(neg.value == 0L, s"legal feed tripped the negative-group alarm: ${neg.value}")
    // EVERY snapshot equals the recompute of the net rows fed so far —
    // the q355 maintenance identity held per micro-batch online
    assert(captured.size == 3, s"expected 3 snapshots: ${captured.size}")
    val feeds = Seq(b1, b1 ++ b2, b1 ++ b2 ++ b3)
    captured.zip(feeds).foreach { case ((id, got), fed) =>
      assert(got == recompute(fed), s"batch $id MV diverges from recompute")
    }
    // the partial retraction moved (A,O) without deleting it
    assert(captured(1)._2.exists(r => r._1 == "A" && r._3 == 2L && r._4 == 50L),
      s"partial retraction wrong: ${captured(1)._2}")
    // the full retraction DELETED (B,F): present after batch 2, gone after 3
    assert(captured(1)._2.exists(_._1 == "B") && !captured(2)._2.exists(_._1 == "B"),
      s"delete path failed: ${captured(2)._2}")
  }

  test("ivmStream: a retraction outrunning its insert raises the negative-group alarm") {
    import EventStream.IvmDelta
    // the contract violation ADVICE r9 named: the retraction of (A,O)
    // arrives a batch BEFORE its insert. The merge's net count for the
    // group goes to -1, the liveness filter silently drops it, and the
    // later insert then double-counts — so the fold DIVERGES from
    // recompute with no row-level signal. The accumulator is that
    // signal: it must fire on the violating batch, and the divergence
    // it warns about must actually be there.
    val b1 = Seq(IvmDelta("A", "O", 10L, -1), IvmDelta("B", "F", 5L, 1))
    val b2 = Seq(IvmDelta("A", "O", 10L, 1))
    val mem = MemoryStream[IvmDelta](spark)
    val neg = spark.sparkContext.longAccumulator
    val captured =
      scala.collection.mutable.ArrayBuffer.empty[(Long, Set[(String, String, Long, Long)])]
    val q = EventStream.ivmStream(mem.toDF(), negativeGroups = Some(neg)) { (id, df) =>
      captured += id -> df.select("rf", "ls", "n", "sq")
        .as[(String, String, Long, Long)].collect().toSet
    }
    try {
      mem.addData(b1: _*); q.processAllAvailable()
      mem.addData(b2: _*); q.processAllAvailable()
    } finally q.stop()
    assert(neg.value == 1L,
      s"the out-of-order retraction must count exactly once: ${neg.value}")
    // the documented consequence: net rows fed so far cancel to zero for
    // (A,O), but the fold (having dropped the -1) now carries n=1 — the
    // divergence the alarm exists to surface
    assert(captured(1)._2.exists(r => r._1 == "A" && r._3 == 1L),
      s"expected the double-counted insert in the fold: ${captured(1)._2}")
  }

  test("sketchQuantileStream: per-batch rolled sketch equals the batch sketch, out-of-range clamps") {
    import EventStream.SkVal
    val vmin = 1000L; val w = 25600L // bin width 100 on the declared grid
    // batch 2 includes out-of-range values on both sides (clamp to bins
    // 0 and 255 — the declared-grid policy a stream must have)
    val b1 = (0 until 200).map(i => SkVal(vmin + (i * 131) % w))
    val b2 = (0 until 100).map(i => SkVal(vmin + (i * 977) % w)) ++
      Seq(SkVal(vmin - 50L), SkVal(vmin + w + 999L))
    def batchSketch(vs: Seq[SkVal]): Map[Long, Long] =
      vs.groupBy(x => math.max(0L, math.min(255L, (x.v - vmin) * 256L / w)))
        .map { case (b, rows) => b -> rows.size.toLong }
    val mem = MemoryStream[SkVal](spark)
    val captured =
      scala.collection.mutable.ArrayBuffer.empty[(Long, Map[Long, Long])]
    val q = EventStream.sketchQuantileStream(mem.toDF(), vmin, w) { (id, df) =>
      captured += id -> df.select("bin", "mc").as[(Long, Long)].collect().toMap
    }
    try {
      mem.addData(b1: _*); q.processAllAvailable()
      mem.addData(b2: _*); q.processAllAvailable()
    } finally q.stop()
    assert(captured.size == 2)
    assert(captured(0)._2 == batchSketch(b1), "batch-1 sketch diverges")
    assert(captured(1)._2 == batchSketch(b1 ++ b2), "rolled sketch diverges from batch recompute")
    // the clamped strays landed in the edge bins
    assert(captured(1)._2.getOrElse(0L, 0L) >= batchSketch(b1 ++ b2)(0L) &&
      captured(1)._2.contains(255L), s"clamp policy broken: ${captured(1)._2}")
    // state stays bounded by the grid
    captured.foreach { case (_, m) => assert(m.size <= 256) }
  }

  test("joinViewStream: fingerprinted join-view summary equals recompute, retraction certified") {
    import EventStream.JvDelta
    import graft.queries.R46Queries
    val dim = Seq((1L, "AUTO"), (2L, "AUTO"), (3L, "BUILD"), (4L, "HOUSE"))
      .toDF("c_custkey", "c_mktsegment")
    val b1 = Seq(JvDelta(10, 1, 1), JvDelta(11, 2, 1), JvDelta(12, 3, 1), JvDelta(13, 4, 1))
    val b2 = Seq(JvDelta(14, 1, 1), JvDelta(15, 3, 1))
    // batch 3 retracts order 13 COMPLETELY (HOUSE must vanish) and one
    // of AUTO's three rows (count drops, fingerprint moves)
    val b3 = Seq(JvDelta(13, 4, -1), JvDelta(10, 1, -1))
    // batch 4 is an UPDATE (VERDICT r9 ask #6): order 14's customer
    // moves AUTO→BUILD, expressed CDC-style as retract(old) +
    // insert(new) for the SAME order key in ONE batch — jvMerge's
    // algebra must move both the count and the fingerprint mass
    val b4 = Seq(JvDelta(14, 1, -1), JvDelta(14, 3, 1))
    def recompute(evs: Seq[JvDelta]): Set[(String, Long, Long)] =
      evs.toDS().toDF()
        .join(dim, col("o_custkey") === col("c_custkey"))
        .select(col("c_mktsegment").as("seg"), col("sign").cast("long").as("sgn"),
          R46Queries.jvFingerprint(col("o_orderkey")).as("ck0"))
        .groupBy("seg").agg(sum("sgn").as("n"), sum(expr("sgn * ck0")).as("ck"))
        .where(col("n") > 0)
        .as[(String, Long, Long)].collect().toSet
    val mem = MemoryStream[JvDelta](spark)
    val neg = spark.sparkContext.longAccumulator
    val captured =
      scala.collection.mutable.ArrayBuffer.empty[(Long, Set[(String, Long, Long)])]
    val q = EventStream.joinViewStream(mem.toDF(), dim, negativeGroups = Some(neg)) { (id, df) =>
      captured += id -> df.select("seg", "n", "ck")
        .as[(String, Long, Long)].collect().toSet
    }
    try {
      mem.addData(b1: _*); q.processAllAvailable()
      mem.addData(b2: _*); q.processAllAvailable()
      mem.addData(b3: _*); q.processAllAvailable()
      mem.addData(b4: _*); q.processAllAvailable()
    } finally q.stop()
    assert(neg.value == 0L, s"legal feed tripped the negative-group alarm: ${neg.value}")
    assert(captured.size == 4)
    val feeds = Seq(b1, b1 ++ b2, b1 ++ b2 ++ b3, b1 ++ b2 ++ b3 ++ b4)
    captured.zip(feeds).foreach { case ((id, got), fed) =>
      assert(got == recompute(fed), s"batch $id view summary diverges (fingerprint-level)")
    }
    // the delete path: HOUSE vanished, AUTO's count dropped but stayed
    assert(captured(1)._2.exists(_._1 == "HOUSE") && !captured(2)._2.exists(_._1 == "HOUSE"),
      s"full retraction failed: ${captured(2)._2}")
    assert(captured(2)._2.find(_._1 == "AUTO").get._2 == 2L,
      s"partial retraction wrong: ${captured(2)._2}")
    // the update path: order 14's row (and exactly its fingerprint
    // mass) moved AUTO→BUILD in one batch — counts 2/2 became 1/3, and
    // BUILD's fingerprint grew by precisely what AUTO lost
    val auto3 = captured(2)._2.find(_._1 == "AUTO").get
    val build3 = captured(2)._2.find(_._1 == "BUILD").get
    val auto4 = captured(3)._2.find(_._1 == "AUTO").get
    val build4 = captured(3)._2.find(_._1 == "BUILD").get
    assert(auto4._2 == auto3._2 - 1 && build4._2 == build3._2 + 1,
      s"update did not move the row: ${captured(3)._2}")
    assert(auto3._3 - auto4._3 == build4._3 - build3._3,
      s"fingerprint mass not conserved across the flip: ${captured(3)._2}")
  }

  test("idempotentViewStream: a replayed batch is skipped, state matches exactly-once recompute") {
    import EventStream.IdemDelta
    import graft.queries.R46Queries
    val dim = Seq((1L, "AUTO"), (2L, "AUTO"), (3L, "BUILD"), (4L, "HOUSE"))
      .toDF("c_custkey", "c_mktsegment")
    val b1 = Seq(IdemDelta(10, 1, 1, 100), IdemDelta(11, 3, 1, 100))
    val b2 = Seq(IdemDelta(12, 2, 1, 200), IdemDelta(13, 4, 1, 200))
    val b2replay = b2 // at-least-once delivery sends batch 200 again
    val b3 = Seq(IdemDelta(14, 3, 1, 300))
    def recompute(evs: Seq[IdemDelta]): Set[(String, Long, Long)] =
      evs.toDS().toDF()
        .join(dim, col("o_custkey") === col("c_custkey"))
        .select(col("c_mktsegment").as("seg"), col("sign").cast("long").as("sgn"),
          R46Queries.jvFingerprint(col("o_orderkey")).as("ck0"))
        .groupBy("seg").agg(sum("sgn").as("n"), sum(expr("sgn * ck0")).as("ck"))
        .where(col("n") > 0)
        .as[(String, Long, Long)].collect().toSet
    val mem = MemoryStream[IdemDelta](spark)
    val skipped = spark.sparkContext.longAccumulator
    val captured =
      scala.collection.mutable.ArrayBuffer.empty[(Long, Set[(String, Long, Long)])]
    val q = EventStream.idempotentViewStream(mem.toDF(), dim,
        replaysSkipped = Some(skipped)) { (id, df) =>
      captured += id -> df.select("seg", "n", "ck")
        .as[(String, Long, Long)].collect().toSet
    }
    try {
      mem.addData(b1: _*); q.processAllAvailable()
      mem.addData(b2: _*); q.processAllAvailable()
      mem.addData(b2replay: _*); q.processAllAvailable()
      mem.addData(b3: _*); q.processAllAvailable()
    } finally q.stop()
    assert(skipped.value == 1L, s"exactly one replay must be skipped: ${skipped.value}")
    assert(captured.size == 4)
    // the replayed delivery leaves state UNCHANGED (snapshot 3 == 2),
    // and the final state equals the exactly-once recompute — the
    // naive fold would carry batch 200 twice
    assert(captured(2)._2 == captured(1)._2, "replay mutated the MV")
    assert(captured(3)._2 == recompute(b1 ++ b2 ++ b3),
      s"final state diverges from exactly-once recompute: ${captured(3)._2}")
  }

  test("idempotentViewStream: empty batches are not replays; coalesced stale rows are dropped and counted") {
    // the two ADVICE-r10 hazards: (1) an EMPTY delivery must neither
    // advance the high-water mark nor count as a replay (the old
    // Long.MinValue sentinel made it indistinguishable from one);
    // (2) a source that COALESCES a replay with a new batch must not
    // silently re-apply the replayed rows — they are dropped from the
    // fold and counted into staleRowsDropped.
    import EventStream.IdemDelta
    import graft.queries.R46Queries
    val dim = Seq((1L, "AUTO"), (2L, "AUTO"), (3L, "BUILD"))
      .toDF("c_custkey", "c_mktsegment")
    val b1 = Seq(IdemDelta(10, 1, 1, 100), IdemDelta(11, 3, 1, 100))
    val b2new = Seq(IdemDelta(12, 2, 1, 200), IdemDelta(13, 1, 1, 200))
    // coalesced delivery: batch 100's first row rides along with batch 200
    val b2coalesced = b1.take(1) ++ b2new
    def recompute(evs: Seq[IdemDelta]): Set[(String, Long, Long)] =
      evs.toDS().toDF()
        .join(dim, col("o_custkey") === col("c_custkey"))
        .select(col("c_mktsegment").as("seg"), col("sign").cast("long").as("sgn"),
          R46Queries.jvFingerprint(col("o_orderkey")).as("ck0"))
        .groupBy("seg").agg(sum("sgn").as("n"), sum(expr("sgn * ck0")).as("ck"))
        .where(col("n") > 0)
        .as[(String, Long, Long)].collect().toSet
    val mem = MemoryStream[IdemDelta](spark)
    val skipped = spark.sparkContext.longAccumulator
    val stale = spark.sparkContext.longAccumulator
    val captured =
      scala.collection.mutable.ArrayBuffer.empty[Set[(String, Long, Long)]]
    val q = EventStream.idempotentViewStream(mem.toDF(), dim,
        replaysSkipped = Some(skipped), staleRowsDropped = Some(stale)) { (_, df) =>
      captured += df.select("seg", "n", "ck")
        .as[(String, Long, Long)].collect().toSet
    }
    try {
      mem.addData(b1: _*); q.processAllAvailable()
      mem.addData(Seq.empty[IdemDelta]: _*); q.processAllAvailable()
      mem.addData(b2coalesced: _*); q.processAllAvailable()
    } finally q.stop()
    assert(skipped.value == 0L,
      s"neither the empty batch nor the coalesced one is a whole replay: ${skipped.value}")
    assert(stale.value == 1L,
      s"exactly the one coalesced stale row must be dropped and counted: ${stale.value}")
    // the empty batch re-emitted state unchanged, and a LATER legitimate
    // batch was still accepted (the Long.MinValue shadowing hazard)
    assert(captured.last == recompute(b1 ++ b2new),
      s"final state diverges from exactly-once recompute: ${captured.last}")
  }

  test("hhSketchStream: accumulated count-min cells equal the batch sketch, state bounded") {
    import EventStream.TypedEvent
    import graft.queries.R45Queries
    def ev(id: Long, u: Long) = TypedEvent(id, ts((id % 600).toInt), u, "click")
    // chunk 1: 20 users round-robin; chunk 2: one user goes hot — the
    // exact shape the online phase-1 sketch exists to catch
    val chunk1 = (1L to 100L).map(i => ev(i, i % 20))
    val chunk2 = (101L to 200L).map(i => ev(i, if (i % 5 == 0) i % 20 else 777L))
    def batchCm(evs: Seq[TypedEvent]): Map[(Long, Long), Long] =
      R45Queries.cmCoords(evs.toDS().toDF().select(col("user_id").cast("long").as("k")))
        .groupBy("hr", "cell").agg(count(lit(1)).as("c"))
        .as[(Long, Long, Long)].collect().map(r => (r._1, r._2) -> r._3).toMap
    val mem = MemoryStream[TypedEvent](spark)
    val captured =
      scala.collection.mutable.ArrayBuffer.empty[(Long, Map[(Long, Long), Long])]
    val q = EventStream.hhSketchStream(mem.toDF()) { (id, df) =>
      captured += id -> df.select("hr", "cell", "c")
        .as[(Long, Long, Long)].collect().map(r => (r._1, r._2) -> r._3).toMap
    }
    try {
      mem.addData(chunk1: _*); q.processAllAvailable()
      mem.addData(chunk2: _*); q.processAllAvailable()
    } finally q.stop()
    assert(captured.nonEmpty)
    assert(captured.last._2 == batchCm(chunk1 ++ chunk2),
      "final streamed sketch diverges from the batch-built sketch")
    assert(captured.exists(_._2 == batchCm(chunk1)),
      "no intermediate snapshot matches the chunk-1-only sketch")
    // state bounded by the sketch geometry forever: d=3 x w=1024
    captured.foreach { case (_, m) => assert(m.size <= 3 * 1024) }
    // the hot user's one-sided bound cleared by its true count: min over
    // its three cells >= its exact frequency (the q363 prune-safety
    // property, read off the streamed artifact)
    val hotCells = R45Queries.cmCoords(
        Seq(777L).toDF("k")).as[(Long, Long)].collect()
    val hotEst = hotCells.map(captured.last._2(_)).min
    val hotExact = (chunk1 ++ chunk2).count(_.user_id == 777L).toLong
    assert(hotEst >= hotExact && hotExact == 80L,
      s"one-sided bound broken on the streamed sketch: $hotEst vs $hotExact")
  }

  test("skewMonitorStream: accumulated partition loads equal the batch skew core") {
    import EventStream.TypedEvent
    import graft.queries.R39Queries
    def ev(id: Long, u: Long) = TypedEvent(id, ts((id % 600).toInt), u, "click")
    // chunk 1: 10 users round-robin (healthy); chunk 2: one user goes
    // viral (60 of 80 events), so the final snapshot's skew_bp must RISE
    // — the drift the online monitor exists to surface
    val chunk1 = (1L to 100L).map(i => ev(i, i % 10))
    val chunk2 = (101L to 180L).map(i => ev(i, if (i % 4 == 0) i % 10 else 3L))
    val hash32 = pmod(
      conv(substring(md5(col("user_id").cast("string")), 1, 10), 16, 10).cast("long"),
      lit(32L))
    def batchSkew(evs: Seq[TypedEvent]): Seq[(Long, Long, Long, Long, Long)] =
      R39Queries.skewSummary(
          evs.toDS().toDF().groupBy(hash32.as("p")).agg(count(lit(1)).as("c")))
        .select("parts_used", "max_load", "min_load", "sum_rows", "skew_bp")
        .as[(Long, Long, Long, Long, Long)].collect().toSeq
    val mem = MemoryStream[TypedEvent](spark)
    val captured =
      scala.collection.mutable.ArrayBuffer.empty[(Long, Seq[(Long, Long, Long, Long, Long)])]
    val q = EventStream.skewMonitorStream(mem.toDF()) { (id, df) =>
      captured += id -> df.select("parts_used", "max_load", "min_load", "sum_rows", "skew_bp")
        .as[(Long, Long, Long, Long, Long)].collect().toSeq
    }
    try {
      mem.addData(chunk1: _*); q.processAllAvailable()
      mem.addData(chunk2: _*); q.processAllAvailable()
    } finally q.stop()
    assert(captured.nonEmpty)
    val want1 = batchSkew(chunk1)
    val wantAll = batchSkew(chunk1 ++ chunk2)
    assert(captured.last._2 == wantAll,
      "final streaming snapshot diverges from the batch skew core")
    assert(captured.exists(_._2 == want1),
      "no intermediate snapshot matches the chunk-1-only batch result")
    // the planted viral user must raise the monitored skew
    assert(wantAll.head._5 > want1.head._5, s"viral burst did not raise skew: $want1 -> $wantAll")
    // complete-mode state is the 32-partition table, bounded forever
    captured.foreach { case (_, snap) => assert(snap.head._1 <= 32) }
  }

  test("heavyHitterStream: SpaceSaving bound holds after EVERY batch, head survives, state bounded") {
    // q391's online half on the same planted-zipf corpus, fed as four
    // micro-batches. After each batch the state is certified against an
    // exact recompute of the fed prefix: retained entries lower-bound
    // the truth, every key (retained or evicted) is covered by
    // c + eps_shard, and the state never exceeds 8 shards x k entries.
    // The summary size is NOT hard-coded: k is read from q392's chosen
    // frontier row at this SF (VERDICT r11 ask #7 — the monitor runs at
    // the size the frontier certified detection-complete), and the
    // stream's accumulated eps is compared against the same q392 row's
    // one-shot blind spot sum_eps. After the last batch the planted
    // head must still be in state with the big heavy keys certifiable
    // from the summary alone — while the stream's eps is provably
    // looser than the one-shot build's (the price of never re-scanning,
    // stated in the operator doc and measured here).
    import graft.queries.R54Queries
    val (chosenK, oneShotEps) = SparkEntry.queries("q392_hh_k_frontier")(spark, sf001)
      .where("chosen = 1").select("kk", "sum_eps").as[(Long, Long)].head()
    val ids = Tables.load(spark, sf001, "events")
      .select("event_id").as[Long].collect().toSeq.sorted
    val chunks = ids.grouped(ids.size / 4 + 1).toSeq
    assert(chunks.size == 4)
    val mem = MemoryStream[Long](spark)
    var last: org.apache.spark.sql.DataFrame = null
    val q = EventStream.heavyHitterStream(mem.toDF().toDF("event_id"), chosenK.toInt) {
      (_, s) => last = s
    }
    try {
      var fed = Seq.empty[Long]
      for (chunk <- chunks) {
        mem.addData(chunk: _*)
        q.processAllAvailable()
        fed = fed ++ chunk
        val exact = R54Queries.hhKeyed(fed.toDF("event_id"))
          .groupBy("sh", "k").agg(count(lit(1)).as("f"))
          .as[(Long, String, Long)].collect()
          .map { case (sh, kk, f) => (sh, kk) -> f }.toMap
        val st = last.select("sh", "k", "c", "eps")
          .as[(Long, String, Long, Long)].collect()
        assert(st.length <= 8 * chosenK, s"state grew past the summary: ${st.length}")
        val epsBySh = st.map(r => r._1 -> r._4).toMap
        st.foreach { case (sh, kk, c, e) =>
          val f = exact((sh, kk))
          assert(c <= f && f <= c + e,
            s"bound violated for retained ($sh,$kk): c=$c f=$f eps=$e")
        }
        val keptKeys = st.map(r => (r._1, r._2)).toSet
        exact.foreach { case ((sh, kk), f) =>
          if (!keptKeys((sh, kk)))
            assert(f <= epsBySh.getOrElse(sh, 0L),
              s"evicted ($sh,$kk) f=$f exceeds shard eps ${epsBySh.get(sh)}")
        }
      }
      // the head survives the stream and the big keys certify heavy
      // from the final state alone (est >= tau n, tau = 2%)
      val st = last.select("sh", "k", "c", "eps")
        .as[(Long, String, Long, Long)].collect()
      val est = st.groupBy(_._2).map { case (kk, rs) => kk -> rs.map(_._3).sum }
      val n = ids.size.toLong
      Seq("g3", "g4", "g5").foreach { g =>
        assert(est.getOrElse(g, 0L) * 100L >= n * 2L,
          s"$g not certifiable heavy from stream state: est=${est.get(g)} n=$n")
      }
      assert(est.contains("g2"), "g2 fell out of every shard's summary")
      // the streaming eps is looser than the one-shot build's blind
      // spot at the SAME k (q392's sum_eps row): each truncation paid
      // its own cut
      val totEps = st.map(r => (r._1, r._4)).distinct.map(_._2).sum
      assert(totEps >= oneShotEps,
        s"stream eps $totEps cannot beat the one-shot build's $oneShotEps at k=$chosenK")
    } finally q.stop()
  }

  test("kmvStream: state IS the prefix sketch after every batch, and batching order cannot matter") {
    // q397's online half: zero streaming degradation. After every batch
    // the 32-minima state must be bit-equal to the sketch REBUILT from
    // everything fed so far (the q394 merge identity, now inductive
    // across the stream), and re-running the same rows under a
    // different batching must land on the identical final state — the
    // merge is a semilattice join, so delivery order is irrelevant.
    def hv(keys: Seq[Long]): Set[Long] = keys.toDF("c").select(
        expr("CAST(conv(substring(md5(concat('kmv:', CAST(c AS STRING))), 1, 10), 16, 10) AS BIGINT)")
          .as("hv"))
      .distinct().as[Long].collect().sorted.take(32).toSet
    val keys = Tables.load(spark, sf001, "orders")
      .select("o_custkey").as[Long].collect().toSeq
    def run(chunks: Seq[Seq[Long]]): Seq[Set[Long]] = {
      val mem = MemoryStream[Long](spark)
      val states = scala.collection.mutable.ArrayBuffer.empty[Set[Long]]
      val q = graft.streaming.EventStream.kmvStream(mem.toDF().toDF("c")) {
        (_, s) => states += s.select("hv").as[Long].collect().toSet
      }
      try {
        chunks.foreach { ch => mem.addData(ch: _*); q.processAllAvailable() }
      } finally q.stop()
      states.toSeq
    }
    val chunksA = keys.grouped(keys.size / 4 + 1).toSeq
    val statesA = run(chunksA)
    assert(statesA.size == 4)
    var fed = Seq.empty[Long]
    chunksA.zip(statesA).foreach { case (ch, st) =>
      fed = fed ++ ch
      assert(st == hv(fed), s"stream state diverged from the prefix rebuild at ${fed.size} rows")
    }
    // exact NDV from state: the 32nd minimum prices the 150-customer
    // universe inside the k-band (q397's step-12 grade)
    val theta = statesA.last.max
    val est = 31L * 1099511627776L / theta
    val exact = keys.distinct.size
    val qerr = math.max(est * 10000 / exact, exact * 10000 / est)
    assert(qerr <= 14000, s"final stream estimate outside the k=32 band: est=$est exact=$exact")
    // order-invariance: reversed, differently-sized batches, same state
    val statesB = run(keys.reverse.grouped(keys.size / 7 + 1).toSeq)
    assert(statesB.last == statesA.last,
      "final KMV state must be independent of batching and delivery order")
  }

  test("viewMaintainStream: the maintained grain equals the rebuild after every commit; delete extremes escalate partially, never fully") {
    // q435's streaming twin: COUNT/SUM fold deltas, MIN/MAX escalate
    // exactly the delete-touched-extreme groups to a table-backed
    // partial rebuild. The inductive law: after EVERY commit the
    // maintained view equals the grain of the logical table state.
    val rows = Tables.load(spark, sf001, "orders").select(
        col("o_orderkey").as("k"), year(col("o_orderdate")).cast("long").as("y"),
        month(col("o_orderdate")).cast("long").as("m"),
        expr("CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT)").as("v"),
        expr("(o_custkey % 2147483648) * 2654435761 % 4294967296").as("h"))
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    val kcut = (rows.map(_._1).max + 1) * 4 / 5
    val orig = rows.filter(_._1 <= kcut)
    val app = rows.filter(_._1 > kcut)
    val victims = rows.filter(_._5 < 429496729L).map(_._1).toSet
    assert(victims.nonEmpty && victims.size < rows.size / 2, "dead delete fixture")
    val commits: Seq[Seq[(String, Long, Long, Long, Long)]] = Seq(
      orig.map(r => ("I", r._1, r._2, r._3, r._4)),
      app.map(r => ("I", r._1, r._2, r._3, r._4)),
      victims.toSeq.sorted.map(k => ("D", k, 0L, 0L, 0L)))
    val states: Seq[Seq[(Long, Long, Long, Long, Long)]] = Seq(
      orig, orig ++ app, (orig ++ app).filterNot(r => victims(r._1)))
    def grainOf(rs: Seq[(Long, Long, Long, Long, Long)])
        : Map[(Long, Long), (Long, Long, Long, Long)] =
      rs.groupBy(r => (r._2, r._3)).view.mapValues { g =>
        (g.size.toLong, g.map(_._4).sum, g.map(_._4).min, g.map(_._4).max)
      }.toMap
    val esc = spark.sparkContext.longAccumulator("esc")
    val got = scala.collection.mutable.ArrayBuffer
      .empty[Map[(Long, Long), (Long, Long, Long, Long)]]
    val escPerBatch = scala.collection.mutable.ArrayBuffer.empty[Long]
    val mem = MemoryStream[(String, Long, Long, Long, Long)](spark)
    val q = graft.streaming.EventStream.viewMaintainStream(
        mem.toDF().toDF("op", "k", "y", "m", "v"), Some(esc)) { (_, st) =>
      got += st.select("y", "m", "cnt", "sv", "mn", "mx")
        .as[(Long, Long, Long, Long, Long, Long)].collect()
        .map(r => (r._1, r._2) -> ((r._3, r._4, r._5, r._6))).toMap
      escPerBatch += esc.value
    }
    try commits.foreach { c => mem.addData(c: _*); q.processAllAvailable() }
    finally q.stop()
    assert(got.size == 3)
    states.zipWithIndex.foreach { case (st, i) =>
      assert(got(i) == grainOf(st),
        s"commit $i: maintained view diverged from the grain rebuild")
    }
    // inserts never escalate; the delete escalates some but not all groups
    assert(escPerBatch(1) == 0L, "insert commits must not escalate")
    val delEsc = escPerBatch(2) - escPerBatch(1)
    val totalGroups = grainOf(states(2)).size.toLong
    assert(delEsc > 0L, "the delete touched no extremes — dead fixture")
    assert(delEsc < totalGroups,
      s"escalation was a full refresh ($delEsc of $totalGroups groups)")
  }

  test("changelogStream: the table maintained from commit ops equals every snapshot; the compaction commit is content-neutral and moves the files") {
    // q421's online half: the four snapshot-arc commits (load, MoR
    // delete, append, compaction = X+R in one batch) fed as a changelog
    // stream; after every commit the maintained table must equal the
    // corresponding logical state, and the compaction batch must leave
    // the content signature untouched while relocating every rewritten
    // file id.
    val rows = graft.queries.R61Queries.keyedFrame(spark, sf001)
      .select("k", "v", "h", "kcut", "f")
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    val kcut = rows.head._4
    def vic(h: Long, f: Long): Boolean = f < 20 && h < 171798691L
    val orig = rows.filter(_._1 <= kcut)
    val app = rows.filter(_._1 > kcut)
    val rwFiles = orig.filter(r => vic(r._3, r._5)).map(_._5).toSet
    assert(rwFiles.nonEmpty && rwFiles.size < 32, "dead fixture: rewrite set must be a proper subset")
    val commits: Seq[Seq[(String, Long, Long, Long)]] = Seq(
      orig.map(r => ("I", r._1, r._2, r._5)),
      orig.filter(r => vic(r._3, r._5)).map(r => ("D", r._1, 0L, 0L)),
      app.map(r => ("I", r._1, r._2, r._5)),
      rwFiles.toSeq.sorted.map(f => ("X", 0L, 0L, f)) ++
        orig.filter(r => rwFiles(r._5) && !vic(r._3, r._5))
          .map(r => ("R", r._1, r._2, r._5 + 100L)))
    def sigOf(rs: Seq[(Long, Long, Long, Long, Long)]): (Long, Long, Long) =
      (rs.size.toLong, rs.map(_._2).sum,
        rs.map(r => (r._1 % 999983L) * (r._1 % 999983L)).sum)
    val expected = Seq(
      sigOf(orig),
      sigOf(orig.filterNot(r => vic(r._3, r._5))),
      sigOf(orig.filterNot(r => vic(r._3, r._5)) ++ app),
      sigOf(orig.filterNot(r => vic(r._3, r._5)) ++ app))
    val mem = MemoryStream[(String, Long, Long, Long)](spark)
    val sigs = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long)]
    val fileSets = scala.collection.mutable.ArrayBuffer.empty[Set[Long]]
    val persistedBefore = spark.sparkContext.getPersistentRDDs.size
    val q = graft.streaming.EventStream.changelogStream(
        mem.toDF().toDF("op", "k", "v", "f")) { (_, st) =>
      sigs += st.agg(count(lit(1)), coalesce(sum("v"), lit(0L)),
          coalesce(expr("sum((k % 999983) * (k % 999983))"), lit(0L)))
        .as[(Long, Long, Long)].head()
      fileSets += st.select("f").distinct().as[Long].collect().toSet
    }
    try {
      commits.foreach { c => mem.addData(c: _*); q.processAllAvailable() }
    } finally q.stop()
    // superseded states must be RELEASED: the whole-table checkpoint
    // would otherwise grow executor storage by batches × table size.
    // Per batch the operator checkpoints the incoming micro-batch and
    // the merged state and releases both once superseded — only the
    // LIVE state may remain (slack 2 for unpersist-vs-stop races).
    val persistedAfter = spark.sparkContext.getPersistentRDDs.size
    assert(persistedAfter - persistedBefore <= 2,
      s"changelogStream leaked superseded state checkpoints: " +
        s"$persistedBefore -> $persistedAfter persistent RDDs over ${commits.size} commits")
    assert(sigs.size == 4)
    sigs.zip(expected).zipWithIndex.foreach { case ((got, want), i) =>
      assert(got == want, s"commit $i: maintained table diverged from the logical snapshot")
    }
    assert(sigs(3) == sigs(2), "the compaction commit must be content-neutral")
    assert(fileSets(3).intersect(rwFiles).isEmpty,
      "every rewritten file id must be gone after the compaction commit")
    val replIds = orig.filter(r => rwFiles(r._5) && !vic(r._3, r._5))
      .map(_._5 + 100L).toSet
    assert(fileSets(3).filter(_ >= 100L) == replIds,
      "exactly the replacement file ids must be present after the compaction commit")
  }
}
