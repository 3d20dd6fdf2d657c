package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import java.sql.Timestamp
import graft.functions.cosineSim
import graft.ops.HashOps.{md5Long, md5Bucket}

/** Structured-Streaming layer (SURVEY.md §2.12): the event-time operators
  * from q22-q24 expressed over streaming DataFrames, plus a custom
  * stateful sessionizer. The batch queries and these transforms share the
  * same expressions — Spark's unified API means the EventQueries results
  * ARE the correctness oracle for the streaming path (tested with
  * MemoryStream in StreamingSpec).
  */
object EventStream {

  /** Tumbling 1h counts with a watermark; `append` output emits a window
    * once the watermark passes its end — at scale this is the state-store
    * bound: state per (window × event_type) only.
    */
  def hourlyCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("cnt"), round(sum("value"), 2).as("total_value"))
      .select(unix_timestamp(col("window.start")).as("ws"),
        col("event_type"), col("cnt"), col("total_value"))

  /** Built-in session windows on a stream (same 30-min gap as q24). */
  def sessionCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("cnt"), round(sum("value"), 2).as("total_value"))
      .select(col("user_id"),
        unix_timestamp(col("session_window.start")).as("sess_start"),
        col("cnt"), col("total_value"))

  /** Streaming exact dedup (E1 on a stream): duplicates dropped by
    * event_id within the watermark horizon — state holds only ids newer
    * than the watermark, so state size is bounded by (rate × watermark),
    * not by stream history.
    */
  def dedupStream(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .dropDuplicatesWithinWatermark("event_id")

  /** Stream-static enrich: a streaming fact joined to a small static
    * dimension. The dimension broadcasts — per-batch hash join, no
    * stream-side state at all.
    */
  def enrichStream(events: DataFrame, dim: DataFrame, key: String): DataFrame =
    events.join(broadcast(dim), Seq(key))

  /** Stream-stream INTERVAL join — the attribution pattern: a click joins
    * every view by the same user in the 10 minutes before it. Both sides
    * carry watermarks and the join condition bounds event-time distance,
    * so each side's state store holds only rows inside
    * (watermark + interval) — without the time bound Spark would have to
    * buffer both streams forever. Inner join: a row emits as soon as both
    * sides have it; the watermark only governs state EVICTION.
    * For `joinType = "left_outer"`, a view with no click emits (null
    * click columns) only once the watermark proves no match can still
    * arrive — the streaming-correct version of "unconverted impressions".
    */
  def viewClickJoin(views: DataFrame, clicks: DataFrame,
      horizonMinutes: Int = 10, joinType: String = "inner"): DataFrame = {
    val v = views
      .select(col("event_id").as("view_id"), col("user_id"),
        col("ts").as("view_ts"))
      .withWatermark("view_ts", "2 hours")
    val c = clicks
      .select(col("event_id").as("click_id"), col("user_id").as("click_user"),
        col("ts").as("click_ts"))
      .withWatermark("click_ts", "2 hours")
    v.join(c,
      col("user_id") === col("click_user") &&
        col("click_ts") >= col("view_ts") &&
        col("click_ts") <= col("view_ts") + expr(s"INTERVAL $horizonMinutes MINUTES"),
      joinType)
      .select(col("user_id"), col("view_id"), col("click_id"),
        (unix_timestamp(col("click_ts")) - unix_timestamp(col("view_ts")))
          .as("lag_sec"))
  }

  /** Micro-batch parquet sink via foreachBatch — the escape hatch for
    * sinks without native streaming support; each batch appends tagged
    * with its batch id (idempotent restarts key on it).
    */
  def sinkToParquet(events: DataFrame, outDir: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    events.writeStream
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], id: Long) =>
        batch.withColumn("batch_id", lit(id))
          .write.mode("append").parquet(outDir)
      }
      .outputMode("append")
      .start()

  /** Streaming twin of the q251 INCREMENTAL CURATION FUNNEL (VERDICT r6
    * ask #7): every micro-batch IS a delta batch, run via foreachBatch
    * through the SAME funnel stages as batch q251
    * (R14Queries.funnelOnDelta: Gopher gates → exact dedup vs the base
    * md5 index → near-dup probe of the persisted base signature index →
    * split). The base artifacts are the memoized once-per-corpus
    * indexes keyed on (session, corpus): a long-running stream builds
    * them on its FIRST micro-batch and every later batch pays only
    * |delta| tokenization + equi-join probes — exactly the daily-ingest
    * cost model, now at micro-batch granularity. `sink` receives
    * (batchId, stage tables) — production writes survivors/stats to a
    * table; StreamingSpec captures them to prove stream == batch on the
    * same delta. Stateless between batches BY DESIGN: within-delta
    * near-dup scope is per-micro-batch (the q303 dual-scope semantics
    * apply within each delta); cross-batch near-dup state would need
    * the base index refreshed with survivors, a compaction-cadence
    * decision that belongs to the pipeline, not the operator.
    */
  def funnelStream(docs: DataFrame, baseDir: String)
      (sink: (Long, Seq[(String, DataFrame)]) => Unit)
      : org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], id: Long) =>
        val delta = batch.select("doc_id", "text").localCheckpoint(false)
        sink(id, graft.queries.R14Queries.funnelOnDelta(
          batch.sparkSession, baseDir, delta))
      }
      .outputMode("append")
      .start()

  /** Streaming twin of q333's BH-FDR alarm sweep: per-segment event and
    * purchase counts accumulate as a COMPLETE-mode streaming aggregation
    * (state = one row per segment — bounded by the segment vocabulary,
    * the q326/q333 boundedness class, never by stream length), and every
    * micro-batch closes by running the SAME Benjamini–Hochberg step-up
    * core the batch query ships (R36Queries.bhTail) over the full
    * current aggregate inside foreachBatch. This is the always-on
    * version of a per-segment alarm dashboard: each refresh re-controls
    * the false discovery rate across ALL segments, instead of letting
    * |segments| uncorrected z-tests page the on-call. `sink` receives
    * (batchId, alarm table); StreamingSpec proves the final snapshot
    * equals the batch core on the same events.
    */
  def bhAlarmStream(events: DataFrame)
      (sink: (Long, DataFrame) => Unit)
      : org.apache.spark.sql.streaming.StreamingQuery =
    events
      .groupBy("user_id")
      .agg(count(lit(1)).as("n"),
        sum(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("c"))
      .writeStream
      .outputMode("complete")
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], id: Long) =>
        sink(id, graft.queries.R36Queries.bhTail(
          batch.localCheckpoint(false).toDF()))
      }
      .start()

  /** Streaming shuffle-skew monitor (q347's stream twin): the online
    * version of the planner's partition-load table — per micro-batch,
    * the ACCUMULATED per-partition event counts under the same portable
    * md5 partitioner model (user_id key, 32 partitions), folded through
    * the SAME R39Queries.skewSummary core the batch planner ships. A
    * key-distribution drift (one user going viral) shows up as a rising
    * skew_bp between snapshots — the alarm a pipeline watches to decide
    * when yesterday's salting factor stopped being enough. Complete-mode
    * state is exactly 32 rows, bounded forever.
    */
  def skewMonitorStream(events: DataFrame)
      (sink: (Long, DataFrame) => Unit)
      : org.apache.spark.sql.streaming.StreamingQuery =
    events
      .groupBy(md5Bucket(col("user_id").cast("string"), 32).as("p"))
      .agg(count(lit(1)).as("c"))
      .writeStream
      .outputMode("complete")
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], id: Long) =>
        sink(id, graft.queries.R39Queries.skewSummary(
          batch.localCheckpoint(false).toDF()))
      }
      .start()

  /** Streaming incremental view maintenance (q355's stream twin): each
    * micro-batch of (rf, ls, qc, sign) delta rows — sign = +1 insert,
    * -1 retraction/late-data correction — is reduced to its partial
    * aggregate and folded into the persisted MV through the SAME
    * R42Queries.ivmMerge core the batch query certifies in both
    * directions, so the online MV can never drift from the batch
    * definition: a retraction batch is just a negative-sign delta and
    * takes the identical code path, with groups retracted to zero
    * dropped by the core's liveness predicate. State is the MV itself —
    * bounded by the group vocabulary, never by stream length — held as
    * an EAGER localCheckpoint across batches: the foreachBatch source
    * DataFrame is only valid inside the callback, so cross-batch state
    * MUST materialize before the callback returns — a lazy checkpoint
    * would leave batch N+1's merge referencing an expired batch-N
    * source whenever the sink defers its action (ADVICE r9; lazy stays
    * correct only for within-batch use, the funnelStream case). `sink`
    * receives (batchId, MV-after-merge); StreamingSpec certifies every
    * snapshot against a full recompute of the net rows fed so far,
    * including the delete path.
    *
    * The additive contract (a delta never drives a group's net count
    * negative — retractions follow their inserts) is OBSERVABLE, not
    * assumed: each batch counts merged rows with n < 0 into
    * `negativeGroups` (the cepQuantifiedStream tsRegressions pattern)
    * before the liveness filter drops them, so a retraction arriving
    * ahead of its insert raises the alarm instead of silently
    * diverging the fold from recompute.
    */
  def ivmStream(deltas: DataFrame,
      negativeGroups: Option[org.apache.spark.util.LongAccumulator] = None)
      (sink: (Long, DataFrame) => Unit)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    var mv: DataFrame = null
    deltas.writeStream
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], id: Long) =>
        val d = batch.groupBy("rf", "ls")
          .agg(sum(col("sign").cast("long")).as("n"),
            sum(col("sign").cast("long") * col("qc")).as("sq"))
        val raw =
          (if (mv == null) d
           else graft.queries.R42Queries.ivmMergeRaw(mv, d))
            .localCheckpoint(true) // eager: state must outlive the callback
        negativeGroups.foreach(_.add(raw.where(col("n") < 0).count()))
        val merged = raw.where(col("n") > 0)
        mv = merged
        sink(id, merged)
      }
      .outputMode("append")
      .start()
  }

  /** Streaming twin of q357's mergeable quantile sketch: each
    * micro-batch of raw values is reduced to its fixed-grid partial
    * sketch and rolled into the persisted summary through the SAME
    * R43Queries.sketchMergeAll core the batch query certifies per bin —
    * addition IS the merge, which is exactly why the summary can be
    * maintained online at all. The grid (vmin, w) is PRE-DECLARED, the
    * production reality for a stream (it comes from historical stats,
    * not a rescan — q357's batch grid is data-derived because the batch
    * can afford the min/max pass); values below the declared range clamp
    * into bin 0 and above it into bin 255, the standard fixed-grid
    * out-of-range policy. State is the ≤256-row summary itself, bounded
    * forever, held as an EAGER localCheckpoint — cross-batch state must
    * materialize before the callback returns, because the foreachBatch
    * source DataFrame expires with the callback (ADVICE r9). `sink`
    * receives (batchId, merged sketch); StreamingSpec certifies every
    * snapshot against the batch sketch of all values fed so far —
    * bin-for-bin, through the same core.
    */
  def sketchQuantileStream(values: DataFrame, vmin: Long, w: Long)
      (sink: (Long, DataFrame) => Unit)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    var sk: DataFrame = null
    values.writeStream
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], id: Long) =>
        val part = batch
          .select(expr(s"greatest(0, least(255, (v - $vmin) * 256 div $w))").as("bin"))
          .groupBy("bin").agg(count(lit(1)).as("c"))
        val merged = graft.queries.R43Queries.sketchMergeAll(
            if (sk == null) part
            else sk.select(col("bin"), col("mc").as("c")).unionByName(part))
          .localCheckpoint(true) // eager: state must outlive the callback
        sk = merged
        sink(id, merged)
      }
      .outputMode("append")
      .start()
  }

  /** Streaming join-view IVM (q366's stream twin): each micro-batch of
    * (o_orderkey, o_custkey, sign) order deltas — sign = +1 insert, -1
    * retraction — is joined to the broadcast dimension snapshot, reduced
    * to its signed per-segment (n, fingerprint-sum) partial with the
    * SAME R46Queries.jvFingerprint row hash the batch certification
    * uses, and folded into the persisted view summary through the SAME
    * R46Queries.jvMerge core — so the online MV's row-level multiset
    * checksum can never drift from the batch definition, and a
    * retraction batch takes the identical negated-delta path. State is
    * the per-segment summary (bounded by the segment vocabulary), held
    * as an EAGER localCheckpoint — cross-batch state must materialize
    * before the callback returns (ADVICE r9, the ivmStream rationale).
    * The never-negative contract is observable here too: merged rows
    * with n < 0 are counted into `negativeGroups` before the liveness
    * filter drops them. `sink` receives (batchId, summary-after-merge);
    * StreamingSpec certifies every snapshot — counts AND fingerprints —
    * against a recompute of the net rows fed so far through the same
    * cores.
    */
  def joinViewStream(deltas: DataFrame, dim: DataFrame,
      negativeGroups: Option[org.apache.spark.util.LongAccumulator] = None)
      (sink: (Long, DataFrame) => Unit)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    var mv: DataFrame = null
    deltas.writeStream
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], id: Long) =>
        val part = batch.join(broadcast(dim), col("o_custkey") === col("c_custkey"))
          .select(col("c_mktsegment").as("seg"), col("sign").cast("long").as("sgn"),
            graft.queries.R46Queries.jvFingerprint(col("o_orderkey")).as("ck0"))
          .groupBy("seg")
          .agg(sum("sgn").as("n"), sum(expr("sgn * ck0")).as("ck"))
        val raw =
          (if (mv == null) part
           else graft.queries.R46Queries.jvMergeRaw(mv, part))
            .localCheckpoint(true) // eager: state must outlive the callback
        negativeGroups.foreach(_.add(raw.where(col("n") < 0).count()))
        val merged = raw.where(col("n") > 0)
        mv = merged
        sink(id, merged)
      }
      .outputMode("append")
      .start()
  }

  /** Idempotent join-view maintenance (q382's stream twin): the
    * joinViewStream fold hardened against AT-LEAST-ONCE delivery. Each
    * micro-batch carries an upstream batch id (`bid` column — the
    * offset/epoch a real CDC source stamps); a batch whose id is ≤ the
    * MV's applied HIGH-WATER MARK is a replay and is skipped WHOLESALE
    * (counted into `replaysSkipped`, the tsRegressions observability
    * pattern), so the additive jvMerge algebra — correct only under
    * exactly-once — stays correct under the delivery semantics streams
    * actually have. Same core as q366/q382, same eager-checkpoint state
    * rule as ivmStream. Monotonicity contract: batch ids must be
    * non-decreasing across deliveries (true of offsets/epochs); an
    * out-of-order NEW batch would be indistinguishable from a replay,
    * which is exactly why CDC sources stamp monotone epochs.
    *
    * Two ADVICE-r10 hardenings: (1) an EMPTY batch (or one whose bid
    * column is all null — no stamp means no idempotency claim) is
    * short-circuited BEFORE the high-water-mark check, so it neither
    * counts as a replay nor can shadow a legitimate first batch; (2) if
    * a source COALESCES a new batch with a replay, the replayed rows
    * (bid ≤ hwm) inside the accepted batch are counted into
    * `staleRowsDropped` and excluded from the fold — the silent-apply
    * hazard the method doc used to merely document is now both
    * observable and harmless.
    */
  def idempotentViewStream(deltas: DataFrame, dim: DataFrame,
      replaysSkipped: Option[org.apache.spark.util.LongAccumulator] = None,
      staleRowsDropped: Option[org.apache.spark.util.LongAccumulator] = None)
      (sink: (Long, DataFrame) => Unit)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    var mv: DataFrame = null
    var hwm: Long = Long.MinValue
    deltas.writeStream
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], id: Long) =>
        // one upstream batch per micro-batch in this layer's contract;
        // max() is the defensive read if a source coalesces deliveries
        val bids = batch.select(max(col("bid").cast("long"))).collect()
        val noBid = bids.isEmpty || bids.head.isNullAt(0)
        if (noBid) {
          // empty / unstamped: not a replay, not an advance — re-emit
          if (mv != null) sink(id, mv)
        } else if (bids.head.getLong(0) <= hwm) {
          replaysSkipped.foreach(_.add(1L))
          if (mv != null) sink(id, mv) // re-emit unchanged state
        } else {
          val prevHwm = hwm
          hwm = bids.head.getLong(0)
          staleRowsDropped.foreach(_.add(
            batch.where(col("bid").cast("long") <= prevHwm).count()))
          val part = batch.where(col("bid").cast("long") > prevHwm)
            .join(broadcast(dim), col("o_custkey") === col("c_custkey"))
            .select(col("c_mktsegment").as("seg"), col("sign").cast("long").as("sgn"),
              graft.queries.R46Queries.jvFingerprint(col("o_orderkey")).as("ck0"))
            .groupBy("seg")
            .agg(sum("sgn").as("n"), sum(expr("sgn * ck0")).as("ck"))
          val merged =
            (if (mv == null) part.where(col("n") > 0)
             else graft.queries.R46Queries.jvMerge(mv, part))
              .localCheckpoint(true) // eager: state must outlive the callback
          mv = merged
          sink(id, merged)
        }
      }
      .outputMode("append")
      .start()
  }

  /** Streaming count-min sketch (q363's stream twin): the online half of
    * two-phase heavy-hitter detection. Every event expands to its d=3
    * count-min coordinates through the SAME R45Queries.cmCoords
    * projection the batch query counts, and the cells accumulate as a
    * complete-mode aggregation — state is EXACTLY 3x1024 rows forever,
    * regardless of how many distinct keys the stream ever sees, which is
    * the entire reason a monitor ships a sketch instead of a per-key
    * table. Each snapshot is the live phase-1 artifact: the batch side
    * probes its dictionary against it and exact-verifies only the keys
    * whose one-sided bound clears the threshold (q363's certified
    * no-missed-heavy-hitter prune). `sink` receives (batchId, sketch);
    * StreamingSpec proves the final snapshot equals the batch-built
    * sketch cell-for-cell.
    */
  def hhSketchStream(events: DataFrame)
      (sink: (Long, DataFrame) => Unit)
      : org.apache.spark.sql.streaming.StreamingQuery =
    graft.queries.R45Queries.cmCoords(
        events.select(col("user_id").cast("long").as("k")))
      .groupBy("hr", "cell").agg(count(lit(1)).as("c"))
      .writeStream
      .outputMode("complete")
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], id: Long) =>
        sink(id, batch.localCheckpoint(false).toDF())
      }
      .start()

  /** Streaming anomaly gate (q146's stream twin): each event z-scored
    * against STATIC per-type statistics (computed once on a historical
    * corpus, broadcast per micro-batch), flagged when |z| > threshold.
    * Stream-static join with no stream-side state at all — the shape a
    * continuous ingest monitor runs, where reference stats refresh on a
    * slow cadence while the stream is scored row-by-row.
    */
  def anomalyGate(events: DataFrame, stats: DataFrame, zThreshold: Double = 3.0)
      : DataFrame =
    events.join(broadcast(stats), Seq("event_type"))
      .withColumn("z", (col("value") - col("mu")) / col("sd"))
      .withColumn("is_anomaly", abs(col("z")) > zThreshold)
      .select(col("event_id"), col("event_type"), col("value"),
        round(col("z"), 6).as("z"), col("is_anomaly"))

  /** Streaming trending terms (E4 on a stream): tokenize a document
    * stream and count terms per tumbling hour. Append mode emits a
    * (window, term) row once the watermark closes the window, so state
    * is bounded by (vocabulary × open windows) — never stream history.
    * The per-window top-k rank is a tiny batch step over CLOSED windows
    * (ranking can't follow a streaming agg in append mode, and at scale
    * that's the right split anyway: the rank input is already reduced to
    * per-window term counts).
    */
  def trendingTerms(docs: DataFrame): DataFrame =
    docs
      .withWatermark("ts", "2 hours")
      .select(col("ts"), explode(graft.ops.TextOps.tokens(col("text"))).as("term"))
      .groupBy(window(col("ts"), "1 hour"), col("term"))
      .agg(count(lit(1)).as("cnt"))
      .select(unix_timestamp(col("window.start")).as("ws"), col("term"), col("cnt"))

  case class Doc(doc_id: Long, ts: java.sql.Timestamp, text: String)

  /** One MV delta row for [[ivmStream]]: sign = +1 insert, -1 retract. */
  case class IvmDelta(rf: String, ls: String, qc: Long, sign: Int)

  /** One raw value row for [[sketchQuantileStream]]. */
  case class SkVal(v: Long)

  /** One order delta for [[joinViewStream]]: sign = +1 insert, -1 retract. */
  case class JvDelta(o_orderkey: Long, o_custkey: Long, sign: Int)
  case class IdemDelta(o_orderkey: Long, o_custkey: Long, sign: Int, bid: Long)

  /** Streaming NEAR-dup filter (E2 on a stream): drop a document whose
    * full 4-band MinHash signature was already seen inside the watermark
    * horizon. The signature is the same portable md5-slice construction
    * as the batch path (DedupOps.minhashSignature) but computed per ROW
    * with array expressions — tokenize → 5-gram shingles → md5 → per-band
    * min — so signature computation is map-side with zero stream state;
    * only the dedup operator keeps state, bounded by (rate × watermark)
    * signature tuples, never document text. Requiring ALL bands to agree
    * makes this the high-precision streaming variant: batch banding
    * (any-band agreement, q34) needs cross-row candidate joins that
    * streaming can't do one-pass — the right split is this gate on
    * ingest plus the batch pipeline for the periodic deep dedup.
    * Documents too short to shingle have no signature; their sig
    * columns fall back to a sentinel keyed on the TEXT
    * ("short:" + md5(text)), so byte-identical short docs still dedup
    * exactly while distinct short docs always pass — a null signature
    * would collapse ALL short docs into one group and silently drop
    * every one after the first.
    */
  def nearDupFilterStream(docs: DataFrame, shingleN: Int = 5): DataFrame = {
    val hs = transform(
      array_distinct(graft.ops.TextOps.wordShingles(
        graft.ops.TextOps.tokens(col("text")), shingleN)),
      sh => md5(sh))
    val sigCols = (0 until 4).map(b =>
      coalesce(
        array_min(transform(hs, h => substring(h, b * 8 + 1, 8))),
        concat(lit("short:"), md5(col("text")))).as(s"sig$b"))
    docs
      .select(col("doc_id") +: col("ts") +: col("text") +: sigCols: _*)
      .withWatermark("ts", "2 hours")
      .dropDuplicatesWithinWatermark("sig0", "sig1", "sig2", "sig3")
      .select("doc_id", "sig0", "sig1", "sig2", "sig3")
  }

  case class Vec(vec_id: Long, embedding: Seq[Float])

  /** Streaming IVF DELTA ASSIGNMENT (E3 on a stream — the ingest half of
    * q320's incremental index maintenance): new vectors are assigned to
    * the PERSISTED coarse quantizer the moment they arrive. The
    * quantizer is tiny by construction (k centroids), so it ships into
    * the stream as a LITERAL array of (cent_id, ce) structs — the
    * production shape: a quantizer is a model artifact broadcast once,
    * not a joinable table. Assignment is then pure per-row expression
    * math — transform → cosine per centroid → array_max on
    * (cos_c, −cent_id) structs, which is exactly the house tie-break
    * (round 6, ties to the LOWEST cent_id) — so the operator carries
    * ZERO stream state, no watermark, and no shuffle: it runs at ingest
    * rate. Assignments are identical to the batch
    * AnnOps.assignToCells for the same vectors (StreamingSpec pins the
    * equivalence on the real sf0.001 delta).
    */
  def ivfAssignStream(vectors: DataFrame, cents: Seq[(Long, Seq[Float])]): DataFrame = {
    val centArr = array(cents.map { case (id, ce) =>
      struct(lit(id).as("cent_id"), array(ce.map(lit): _*).as("ce"))
    }: _*)
    val scored = transform(centArr, c =>
      struct(
        round(cosineSim(col("embedding"), c.getField("ce")), 6)
          .as("cos_c"),
        (c.getField("cent_id") * -1L).as("neg_id")))
    val best = array_max(scored)
    vectors.select(col("vec_id"),
      (best.getField("neg_id") * -1L).cast("long").as("cell"))
  }

  /** Streaming CHUNKER (E4 on a stream): q170's fixed-stride
    * sliding-window chunking applied at ingest — tokenize, emit
    * 1 + ceil(max(0, n−W)/S) chunks per document, md5 the token window.
    * Everything is per-row array math (tokenize → explode chunk index →
    * slice), so the operator carries ZERO stream state and no watermark:
    * the preprocessing step between curation and embedding runs on the
    * stream at ingest rate instead of as a batch backfill. Chunk
    * identities (doc_id, chunk_idx, chunk_md5) are identical to the
    * batch q170 output for the same documents (StreamingSpec pins it).
    */
  def chunkStream(docs: DataFrame, window: Int = 40, step: Int = 30): DataFrame =
    graft.ops.TextOps.slidingChunks(docs, "text", Seq("doc_id", "ts"), window, step)

  case class EmaOut(user_id: Long, event_id: Long, ema: Double)

  /** Per-user exponential moving average via `transformWithState` —
    * Spark 4's arbitrary-state API (the successor to
    * flatMapGroupsWithState used in [[sessionize]]), here exercising its
    * typed ValueState (TTL and timers exist on the handle but are not
    * needed for an EMA — state is one double per user, forever live).
    * The EMA is the canonical streaming feature no built-in window
    * computes: each event emits α·value + (1−α)·previous-EMA. Events are
    * ordered by FULL-precision ts (Timestamp.compareTo keeps the nanos
    * that getTime would truncate to millis), tie-broken by event_id,
    * within each micro-batch; requires the RocksDB state store (see
    * StreamingSpec for the config).
    */
  class EmaProcessor(alpha: Double)
      extends org.apache.spark.sql.streaming.StatefulProcessor[Long, Event, EmaOut] {
    @transient private var ema: org.apache.spark.sql.streaming.ValueState[Double] = _
    override def init(outputMode: OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      ema = getHandle.getValueState[Double]("ema",
        org.apache.spark.sql.Encoders.scalaDouble,
        org.apache.spark.sql.streaming.TTLConfig.NONE)
    override def handleInputRows(user: Long, rows: Iterator[Event],
        timers: org.apache.spark.sql.streaming.TimerValues): Iterator[EmaOut] = {
      val sorted = rows.toSeq.sortWith { (a, b) =>
        val c = a.ts.compareTo(b.ts) // full precision, incl. sub-millis
        c < 0 || (c == 0 && a.event_id < b.event_id)
      }
      var cur = if (ema.exists()) Some(ema.get()) else None
      val out = sorted.map { e =>
        val next = cur match {
          case Some(prev) => alpha * e.value + (1 - alpha) * prev
          case None => e.value // first observation seeds the average
        }
        cur = Some(next)
        EmaOut(user, e.event_id, next)
      }
      cur.foreach(ema.update)
      out.iterator
    }
  }

  /** The EMA stream: group by user, fold through [[EmaProcessor]]. */
  def emaStream(events: Dataset[Event], alpha: Double = 0.5): Dataset[EmaOut] = {
    val spark = events.sparkSession
    import spark.implicits._
    events.groupByKey(_.user_id)
      .transformWithState(new EmaProcessor(alpha),
        org.apache.spark.sql.streaming.TimeMode.None(), OutputMode.Append())
  }

  case class Event(event_id: Long, ts: Timestamp, user_id: Long, value: Double)
  case class SessionState(start: Long, last: Long, n: Long, total: Double)
  case class SessionOut(user_id: Long, sess_start: Long, cnt: Long, total_value: Double)

  /** Custom stateful sessionizer via flatMapGroupsWithState — the escape
    * hatch for session semantics `session_window` can't express (e.g.
    * emitting closed sessions with custom payloads). State is one small
    * record per active user; event-time timeout closes idle sessions.
    */
  def sessionize(events: Dataset[Event], gapSeconds: Long = 1800): Dataset[SessionOut] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .withWatermark("ts", "2 hours")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, SessionOut](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (userId: Long, rows: Iterator[Event], state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator(SessionOut(userId, s.start, s.n, s.total))
          } else {
            val sorted = rows.toSeq.sortBy(e => (e.ts.getTime, e.event_id))
            var closed = List.empty[SessionOut]
            var cur = state.getOption
            sorted.foreach { e =>
              val sec = e.ts.getTime / 1000
              cur match {
                // <= : events exactly gap-apart merge, matching
                // session_window's inclusive window end
                case Some(s) if sec - s.last <= gapSeconds =>
                  cur = Some(s.copy(last = sec, n = s.n + 1, total = s.total + e.value))
                case Some(s) =>
                  closed ::= SessionOut(userId, s.start, s.n, s.total)
                  cur = Some(SessionState(sec, sec, 1, e.value))
                case None =>
                  cur = Some(SessionState(sec, sec, 1, e.value))
              }
            }
            cur.foreach { s =>
              state.update(s)
              state.setTimeoutTimestamp(s.last * 1000 + gapSeconds * 1000)
            }
            closed.reverseIterator
          }
      }
  }

  case class TypedEvent(event_id: Long, ts: Timestamp, user_id: Long, event_type: String)
  case class ConvOut(user_id: Long, lag_s: Long)

  /** Per-user first-view → first-purchase conversion lag as a streaming
    * operator — the q240 batch query's online twin. State is a 2-tuple
    * of longs per user — (first-view epoch s, first-purchase epoch s),
    * −1 = unset; "sealed" is DERIVED (both fields set), not stored, so
    * the checkpoint layout is exactly the two longs: each micro-batch
    * folds its rows in (ts, event_id) order, pins the FIRST view and
    * FIRST purchase ever seen, and the moment both exist the user is
    * sealed — emitting the lag once iff the purchase did not precede
    * the view (q240's non-conversion rule). Like [[EmaProcessor]], per-batch ordering is
    * explicit; cross-batch order is the source's append order, which is
    * the contract of every first-touch stream.
    */
  class ConversionProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[Long, TypedEvent, ConvOut] {
    @transient private var st: org.apache.spark.sql.streaming.ValueState[(Long, Long)] = _
    override def init(outputMode: OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      st = getHandle.getValueState[(Long, Long)]("conv",
        org.apache.spark.sql.Encoders.tuple(
          org.apache.spark.sql.Encoders.scalaLong,
          org.apache.spark.sql.Encoders.scalaLong),
        org.apache.spark.sql.streaming.TTLConfig.NONE)
    override def handleInputRows(user: Long, rows: Iterator[TypedEvent],
        timers: org.apache.spark.sql.streaming.TimerValues): Iterator[ConvOut] = {
      var (fv, fp) = if (st.exists()) st.get() else (-1L, -1L)
      val sealedAtStart = fv >= 0 && fp >= 0
      val sorted = rows.toSeq.sortWith { (a, b) =>
        val c = a.ts.compareTo(b.ts)
        c < 0 || (c == 0 && a.event_id < b.event_id)
      }
      sorted.foreach { e =>
        val s = e.ts.getTime / 1000
        if (e.event_type == "view" && fv < 0) fv = s
        if (e.event_type == "purchase" && fp < 0) fp = s
      }
      st.update((fv, fp))
      if (!sealedAtStart && fv >= 0 && fp >= 0 && fp >= fv)
        Iterator.single(ConvOut(user, fp - fv))
      else Iterator.empty
    }
  }

  /** The conversion-lag stream: group by user, seal on first (view,
    * purchase) pair through [[ConversionProcessor]].
    */
  def conversionLagStream(events: Dataset[TypedEvent]): Dataset[ConvOut] = {
    val spark = events.sparkSession
    import spark.implicits._
    events.groupByKey(_.user_id)
      .transformWithState(new ConversionProcessor,
        org.apache.spark.sql.streaming.TimeMode.None(), OutputMode.Append())
  }

  case class CepRun(rs: Long, re: Long, len: Long)
  case class CepState(views: List[Long], pending: List[CepRun],
      open: Option[CepRun], purchases: List[Long], done: Boolean,
      frontier: Long = Long.MinValue)
  case class CepOut(user_id: Long, view_es: Long, click_run_len: Long,
      first_click_lag_s: Long, run_span_s: Long, purchase_lag_s: Long, span_s: Long)

  /** Quantified CEP (view → click⁺ → purchase) as a streaming operator —
    * q322's online twin, emitting each user's earliest completed match
    * exactly once. The batch semantics are reproduced bit-for-bit under
    * the layer's standing contract (per-batch ordering explicit,
    * cross-batch order = source append order):
    *
    *  - clicks fold into MAXIMAL runs online (gap ≤ `runGapSeconds`
    *    extends, a duplicate instant is skipped — the batch side's
    *    DISTINCT); a run is provably closed once the watermark passes
    *    re + runGap (any later click's gap must exceed the TTL);
    *  - a closed run becomes DECIDABLE when the watermark passes
    *    re + purchaseDeadline: every purchase that could complete it
    *    has arrived. Runs are decided in rs order, pairing the MINIMAL
    *    valid view and purchase — which equals the batch's global
    *    lexicographic min(tv, rs, tp): run windows slide right with rs,
    *    so an earlier-deciding run can never lose the struct-min to a
    *    later run (later runs admit only equal-or-larger minimal tv,
    *    and rs breaks the tie).
    *  - state is BOUNDED and self-expiring: views outlive their
    *    usefulness at tv + viewDeadline past the watermark, purchases
    *    at the earliest surviving run's end, and the event-time timer
    *    re-arms at the next decision point, so a user with no further
    *    events still decides (or clears) — nothing waits for traffic.
    *
    * Contract violations are OBSERVABLE (ADVICE r8): the standing
    * cross-batch-order contract is what makes the fold equal the batch
    * query, and a genuinely out-of-order source (still inside the
    * watermark allowance) would silently produce different matches —
    * so every event whose ts regresses behind the per-user fold
    * frontier increments `tsRegressions`. Behavior is unchanged (the
    * fold still processes the event exactly as before); the counter is
    * the alarm that says "this source violates the contract — trust
    * the batch query, not this fold" instead of letting the divergence
    * pass unnoticed. A same-second event is NOT a regression (per-batch
    * sort is (ts, event_id) and duplicate click instants are legal).
    * The frontier rides in the SEALED tombstone too (ADVICE r9), so a
    * late event behind a converted user's fold position still counts.
    * Known undercount, accepted for state boundedness: when a
    * decision-free user's state is REMOVED (nothing buffered, nothing
    * pending), the frontier goes with it — a later event behind that
    * forgotten frontier re-seeds at Long.MinValue and is not counted.
    * Keeping the frontier would mean one immortal state row per user
    * ever seen, which is exactly what the self-expiring design exists
    * to avoid; the alarm is a detector, not an exact census.
    */
  def cepQuantifiedStream(events: Dataset[TypedEvent],
      runGapSeconds: Long = 86400, viewDeadline: Long = 43200,
      purchaseDeadline: Long = 86400,
      tsRegressions: Option[org.apache.spark.util.LongAccumulator] = None)
      : Dataset[CepOut] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .withWatermark("ts", "1 hour")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[CepState, CepOut](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (user: Long, rows: Iterator[TypedEvent], state: GroupState[CepState]) =>
          val st0 = state.getOption.getOrElse(CepState(Nil, Nil, None, Nil, done = false))
          if (st0.done) {
            // sealed tombstone (the ConversionProcessor precedent): the
            // user's single match is out; later traffic must never
            // re-match, so the seal persists — one boolean per
            // converted user, the price of exactly-once-ever semantics.
            // The fold FRONTIER rides in the seal (ADVICE r9): a late
            // event regressing behind a converted user's last fold
            // position is still a contract violation and still counts —
            // only the match logic is sealed, not the alarm.
            var frontier = st0.frontier
            rows.toSeq.sortBy(e => (e.ts.getTime, e.event_id)).foreach { e =>
              val sec = e.ts.getTime / 1000
              if (sec < frontier) tsRegressions.foreach(_.add(1L))
              else frontier = sec
            }
            if (frontier != st0.frontier)
              state.update(CepState(Nil, Nil, None, Nil, done = true, frontier))
            Iterator.empty
          } else {
          var views = st0.views
          var pending = st0.pending
          var open = st0.open
          var purchases = st0.purchases
          var frontier = st0.frontier
          if (!state.hasTimedOut) {
            val sorted = rows.toSeq.sortBy(e => (e.ts.getTime, e.event_id))
            sorted.foreach { e =>
              val sec = e.ts.getTime / 1000
              if (sec < frontier) tsRegressions.foreach(_.add(1L))
              else frontier = sec
              e.event_type match {
                case "view" => views = views :+ sec
                case "click" =>
                  open match {
                    case Some(r) if sec <= r.re => () // distinct click instants
                    case Some(r) if sec - r.re <= runGapSeconds =>
                      open = Some(CepRun(r.rs, sec, r.len + 1))
                    case Some(r) =>
                      pending = pending :+ r
                      open = Some(CepRun(sec, sec, 1))
                    case None => open = Some(CepRun(sec, sec, 1))
                  }
                case "purchase" => purchases = purchases :+ sec
                case _ => ()
              }
            }
          }
          val wmSec = state.getCurrentWatermarkMs() / 1000
          open match { // nothing arriving later can extend this run
            case Some(r) if wmSec > r.re + runGapSeconds =>
              pending = pending :+ r
              open = None
            case _ => ()
          }
          var out: Option[CepOut] = None
          while (out.isEmpty && pending.nonEmpty &&
              wmSec > pending.head.re + purchaseDeadline) {
            val r = pending.head
            pending = pending.tail
            val tv = views.filter(v => r.rs > v && r.rs <= v + viewDeadline)
              .minOption
            val tp = purchases.filter(p => p > r.re && p <= r.re + purchaseDeadline)
              .minOption
            out = for (v <- tv; p <- tp)
              yield CepOut(user, v, r.len, r.rs - v, r.re - r.rs, p - r.re, p - v)
          }
          if (out.isDefined)
            // seal, carrying the frontier so post-conversion regressions
            // still count (ADVICE r9)
            state.update(CepState(Nil, Nil, None, Nil, done = true, frontier))
          else {
            // prune what no surviving or future run can use (future runs
            // start past the watermark, so their windows sit to the right)
            views = views.filter(v =>
              v + viewDeadline >= wmSec ||
                (pending ++ open).exists(r => r.rs > v && r.rs <= v + viewDeadline))
            val minRe = (pending.map(_.re) ++ open.map(_.re)).minOption
            purchases = purchases.filter(_ > minRe.getOrElse(wmSec))
            if (views.isEmpty && pending.isEmpty && open.isEmpty && purchases.isEmpty)
              state.remove()
            else {
              state.update(CepState(views, pending, open, purchases, done = false, frontier))
              // next decision point: a pending run's window closing, the
              // open run's closing gap, or the last moment any buffered
              // view/purchase could still matter
              val horizon = (pending.map(_.re + purchaseDeadline) ++
                open.map(_.re + runGapSeconds) ++
                views.map(_ + viewDeadline) ++ purchases).max + 1
              state.setTimeoutTimestamp(math.max(horizon, wmSec + 1) * 1000)
            }
          }
          out.iterator
          }
      }
  }

  case class DedupLead(user_id: Long, event_type: String, es: Long, event_id: Long)
  case class TtlState(lastEs: Long)

  /** TTL (burst) dedup as a streaming operator — the q285 batch query's
    * online twin: per (user, event_type) key, an event is emitted iff it
    * is the first, or the gap from the PREVIOUS EVENT (kept or not)
    * exceeds the TTL — burst-lead semantics, so a signal legitimately
    * recurs once it has been quiet a full TTL. State is ONE long per key
    * (the last-seen epoch second) and is SELF-EXPIRING: the event-time
    * timeout fires exactly when the watermark passes last + TTL — the
    * moment the state can no longer change any future decision (any
    * later event's gap necessarily exceeds the TTL, so it is a lead with
    * or without state). Eviction is therefore semantically free, which
    * is what bounds the state store at (active keys in the last TTL)
    * regardless of stream age. Per-batch ordering is explicit (ts,
    * event_id); cross-batch order is source append order, as everywhere
    * in this layer.
    */
  def ttlDedupStream(events: Dataset[TypedEvent],
      ttlSeconds: Long = 86400): Dataset[DedupLead] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .withWatermark("ts", "2 hours")
      .groupByKey(e => (e.user_id, e.event_type))
      .flatMapGroupsWithState[TtlState, DedupLead](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (key: (Long, String), rows: Iterator[TypedEvent],
            state: GroupState[TtlState]) =>
          if (state.hasTimedOut) {
            state.remove() // past last+TTL: provably decision-free state
            Iterator.empty
          } else {
            val sorted = rows.toSeq.sortBy(e => (e.ts.getTime, e.event_id))
            var last = state.getOption.map(_.lastEs)
            val out = Seq.newBuilder[DedupLead]
            sorted.foreach { e =>
              val sec = e.ts.getTime / 1000
              if (last.forall(sec - _ > ttlSeconds))
                out += DedupLead(key._1, key._2, sec, e.event_id)
              last = Some(math.max(sec, last.getOrElse(Long.MinValue)))
            }
            last.foreach { l =>
              state.update(TtlState(l))
              state.setTimeoutTimestamp(l * 1000 + ttlSeconds * 1000)
            }
            out.result().iterator
          }
      }
  }

  /** Late-arriving-dimension maintenance (q383's stream twin): fact and
    * dim rows share one tagged CDC stream (`kind` ∈ fact|dim — the shape
    * a multiplexed changefeed delivers). Per micro-batch, the dim state
    * grows FIRST, arriving facts join whatever dim rows exist, the
    * misses PARK keyed by the missing dim key carrying (count,
    * fingerprint mass), and the lot DRAINS by equi-join against exactly
    * the batch's NEW dim slice — a lot entry can only ever match a dim
    * row that arrived after it parked, so the drain probe never rescans
    * the full dimension. Matched + drained mass folds into the MV
    * through the same jvMerge core as q366/q382/q383. All three state
    * handles (dim, lot, MV) are EAGER localCheckpoints (the ivmStream
    * rule: state must outlive the callback). The parkedIn / drainedOut /
    * expiredOut accumulators make q383's conservation theorem observable
    * online: at every batch boundary parkedIn == drainedOut + expiredOut
    * + (mass still in the lot) — the lot neither eats nor invents facts.
    * The lot is bounded by the orphan population and the dim by its
    * natural size — the broadcast side at 100 TB stays the dimension,
    * never the facts.
    *
    * Two ADVICE-r10 / VERDICT-r10 hardenings: (1) the dim state is
    * DEDUPED on c_custkey (first-arrival-wins via deterministic min —
    * re-delivered dim rows are the same at-least-once hazard
    * idempotentViewStream closes for facts; without dedup every matching
    * fact would join twice and silently double-count the MV); duplicate
    * key arrivals are counted into `dupDimArrivals`. (2) the parking lot
    * carries a TTL: an orphan whose dim row has not arrived within
    * `orphanTtlBatches` micro-batches is EXPIRED to the dead letter
    * (counted into expiredOut), so lot state is provably bounded even
    * when a dim row never arrives — the q384 unbounded-state hazard
    * applied to the lot. A drain and an expiry in the same batch resolve
    * in the drain's favor (the dim did arrive).
    */
  def lateDimStream(cdc: DataFrame,
      parkedIn: Option[org.apache.spark.util.LongAccumulator] = None,
      drainedOut: Option[org.apache.spark.util.LongAccumulator] = None,
      orphanTtlBatches: Long = Long.MaxValue,
      expiredOut: Option[org.apache.spark.util.LongAccumulator] = None,
      dupDimArrivals: Option[org.apache.spark.util.LongAccumulator] = None)
      (sink: (Long, DataFrame) => Unit)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    var mv: DataFrame = null       // (seg, n, ck)
    var dimState: DataFrame = null // (c_custkey, c_mktsegment), key-unique
    var lot: DataFrame = null      // (o_custkey, pn, pck, pb)
    cdc.writeStream
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], id: Long) =>
        // within-batch dedup first (min = deterministic survivor), then
        // cross-batch: only keys NOT already in the dim state are fresh
        val newDimsD = batch.where(col("kind") === "dim")
          .groupBy("c_custkey")
          .agg(min("c_mktsegment").as("c_mktsegment"), count(lit(1)).as("arr"))
        val fresh =
          (if (dimState == null) newDimsD
           else newDimsD.join(dimState.select("c_custkey"), Seq("c_custkey"),
             "left_anti"))
            .select("c_custkey", "c_mktsegment")
            .localCheckpoint(true)
        dupDimArrivals.foreach { a =>
          val batchDup = newDimsD.agg(coalesce(sum(expr("arr - 1")), lit(0L)))
            .head().getLong(0)
          val crossDup = newDimsD.count() - fresh.count()
          a.add(batchDup + crossDup)
        }
        dimState =
          (if (dimState == null) fresh else dimState.unionByName(fresh))
            .localCheckpoint(true)
        val facts = batch.where(col("kind") === "fact")
          .select(col("o_custkey"),
            graft.queries.R46Queries.jvFingerprint(col("o_orderkey")).as("ck0"))
          .groupBy("o_custkey")
          .agg(count(lit(1)).as("pn"), sum("ck0").as("pck"))
        val matchedNew = facts
          .join(broadcast(dimState), col("o_custkey") === col("c_custkey"))
        val parkedNew = facts
          .join(broadcast(dimState), col("o_custkey") === col("c_custkey"),
            "left_anti")
        // the drain probe is exactly the batch's fresh dim slice: a lot
        // entry can only match a dim row that arrived after it parked
        val drained =
          if (lot == null) null
          else lot.join(broadcast(fresh), col("o_custkey") === col("c_custkey"))
        parkedIn.foreach(_.add(parkedNew.agg(coalesce(sum("pn"), lit(0L)))
          .head().getLong(0)))
        drainedOut.foreach(d => if (drained != null)
          d.add(drained.agg(coalesce(sum("pn"), lit(0L))).head().getLong(0)))
        val arrivals =
          if (drained == null) matchedNew
          else matchedNew.unionByName(drained.select(matchedNew.columns.map(col): _*))
        val part = arrivals.groupBy(col("c_mktsegment").as("seg"))
          .agg(sum("pn").as("n"), sum("pck").as("ck"))
        val merged =
          (if (mv == null) part else graft.queries.R46Queries.jvMerge(mv, part))
            .localCheckpoint(true)
        mv = merged
        // undrained survivors age; past the TTL they leave for the dead
        // letter so the lot cannot grow with the never-arriving orphans
        val undrained =
          if (lot == null) parkedNew.select(col("o_custkey"), col("pn"),
            col("pck"), lit(id).as("pb"))
          else lot
            .join(broadcast(fresh), col("o_custkey") === col("c_custkey"),
              "left_anti")
            .unionByName(parkedNew.select(col("o_custkey"), col("pn"),
              col("pck"), lit(id).as("pb")))
            .groupBy("o_custkey")
            .agg(sum("pn").as("pn"), sum("pck").as("pck"), min("pb").as("pb"))
        val aged = undrained.localCheckpoint(true)
        expiredOut.foreach(e => e.add(
          aged.where(expr(s"$id - pb >= $orphanTtlBatches"))
            .agg(coalesce(sum("pn"), lit(0L))).head().getLong(0)))
        lot = aged.where(expr(s"$id - pb < $orphanTtlBatches"))
          .localCheckpoint(true)
        sink(id, merged)
      }
      .outputMode("append")
      .start()
  }

  /** Incremental CBO-histogram maintenance (q380's stream twin): each
    * micro-batch of values folds into the cross-batch 16-bin state by
    * PLAIN ADDITION on the frozen (vmin, w) boundaries — the same
    * R50Queries.histBin16 rule the batch scenarios certify (merge ==
    * rebuild per bin), so nightly ANALYZE becomes a per-batch delta scan.
    * What additivity cannot fix is boundary fidelity: a batch whose
    * clamped out-of-range fraction exceeds 1% (q380's drift gate) bumps
    * `refreshAlarms` — the signal to re-freeze boundaries with a full
    * rebuild — while the merge itself stays exact either way, which is
    * precisely the trap the gate exists to catch. State is 16 rows
    * forever, eager-checkpointed (the ivmStream rule).
    */
  /** q391's online half: the per-shard top-k heavy-hitter summary
    * maintained across micro-batches through the public Misra-Gries /
    * SpaceSaving MERGE: each batch's exact per-(shard, key) counts are
    * summed pointwise into the retained entries, the merged table is
    * re-truncated to the k largest per shard (count desc, key asc —
    * q391's ranking), and the (k+1)-th merged count joins the shard's
    * ACCUMULATED error mass eps. The maintained invariant (certified per
    * batch by StreamingSpec against an exact recompute of the fed
    * prefix): retained c(x) ≤ f_shard(x) ≤ c(x) + eps_shard for EVERY
    * key, retained or evicted — q391's two-sided bound with eps summed
    * over truncations. The stream's eps dominates the one-shot build's
    * (each truncation pays its own cut) — the classic price of never
    * re-scanning, which is why the batch q391 stays the periodic
    * deep pass and this is the ingest monitor. State: 8 shards × k
    * entries + 8 eps scalars, bounded regardless of stream length;
    * state rides an EAGER localCheckpoint so batch N+1 never references
    * an expired batch-N source (the r10 expired-source convention).
    */
  def heavyHitterStream(events: DataFrame, k: Int = 8)
      (sink: (Long, DataFrame) => Unit)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    import org.apache.spark.sql.expressions.Window
    var state: DataFrame = null // (sh, k, c) retained entries
    var eps: DataFrame = null   // (sh, eps) accumulated truncation mass
    events.writeStream
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], id: Long) =>
        val bc = graft.queries.R54Queries.hhKeyed(batch.toDF())
          .groupBy("sh", "k").agg(count(lit(1)).as("c"))
        val merged =
          if (state == null) bc
          else state.unionByName(bc).groupBy("sh", "k").agg(sum("c").as("c"))
        val rk = merged.withColumn("r", row_number().over(
            Window.partitionBy("sh").orderBy(col("c").desc, col("k"))))
          .localCheckpoint(true)
        val kept = rk.where(col("r") <= k).select("sh", "k", "c")
        val cuts = rk.where(col("r") === k + 1)
          .select(col("sh"), col("c").as("cut"))
        val prevEps =
          if (eps == null) rk.select("sh").distinct().withColumn("eps", lit(0L))
          else eps
        val epsNew = prevEps.join(cuts, Seq("sh"), "full_outer")
          .select(col("sh"),
            (coalesce(col("eps"), lit(0L)) + coalesce(col("cut"), lit(0L))).as("eps"))
          .localCheckpoint(true)
        state = kept.localCheckpoint(true)
        eps = epsNew
        sink(id, state.join(epsNew, Seq("sh"), "left")
          .select(col("sh"), col("k"), col("c"),
            coalesce(col("eps"), lit(0L)).as("eps")))
      }
      .outputMode("append")
      .start()
  }

  /** q397's online half: the global KMV distinct-count sketch maintained
    * across micro-batches by the exact merge — state is 32 hash minima,
    * each batch contributes its own 32-minima sketch over column `c`,
    * and the merged state is PROVABLY the sketch of everything fed (the
    * q394 identity, certified per batch by StreamingSpec against a
    * prefix rebuild, plus order-invariance: a different batching yields
    * the bit-identical final state). The one summary in the family whose
    * streaming degradation is ZERO — unlike heavyHitterStream's
    * accumulating eps, the KMV merge is lossless for the estimator, so
    * the monitor's NDV equals a full rescan's at 32 values of state.
    */
  def kmvStream(keys: DataFrame, k: Int = 32)
      (sink: (Long, DataFrame) => Unit)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    var state: DataFrame = null // (hv) k minima
    keys.writeStream
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], id: Long) =>
        // top-k as TakeOrdered (orderBy + limit), never a global window —
        // the batch side scans ndv-sized sets (PlanShapeSpec hygiene)
        val bsk = batch.toDF().select(
            md5Long(concat(lit("kmv:"), col("c").cast("string")), 10).as("hv"))
          .distinct()
          .orderBy("hv").limit(k)
        val merged =
          (if (state == null) bsk
           else state.unionByName(bsk).distinct()
             .orderBy("hv").limit(k))
            .localCheckpoint(true)
        state = merged
        sink(id, merged)
      }
      .outputMode("append")
      .start()
  }

  /** q398's online half (VERDICT r11 ask #5): the full ANALYZE-policy
    * gate run as a stream. State is the current frozen boundaries
    * (bmin, bw), the 16-bin histogram under them, and a handle on the
    * fed prefix (in production: the table on disk — its rows are only
    * TOUCHED on a rebuild, which is exactly the cost the accumulators
    * meter; here it rides an eager localCheckpoint like every
    * cross-batch handle). Per batch: the delta's out-of-range share
    * against the CURRENT boundaries decides the gate (`gateFires`
    * counts every firing, whatever the policy does with it); the policy
    * then either re-freezes boundaries over the whole prefix and
    * rebuilds the histogram (`rebuilds` += 1, `extraScanRows` += the
    * prefix rows that full re-scan pays — q398's extra_scan_rows
    * column, now a real meter) or merges the delta additively into the
    * standing bins (clamped, q398's never-leg fattening). The first
    * batch's build is the initial ANALYZE every policy pays — not a
    * rebuild. StreamingSpec certifies each policy's final state equals
    * q398's corresponding batch leg on the same planted-drift fixture.
    */
  def histPolicyStream(values: DataFrame, policy: String, gateBp: Long = 100L,
      rebuilds: Option[org.apache.spark.util.LongAccumulator] = None,
      extraScanRows: Option[org.apache.spark.util.LongAccumulator] = None,
      gateFires: Option[org.apache.spark.util.LongAccumulator] = None)
      (sink: (Long, DataFrame) => Unit)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    require(Set("never", "every_delta", "on_gate")(policy), s"unknown policy $policy")
    var bounds: Option[(Long, Long)] = None
    var hist: DataFrame = null   // (bin, cnt) under the current bounds
    var prefix: DataFrame = null // the fed corpus handle ("the table")
    var fedRows = 0L
    values.writeStream
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], id: Long) =>
        val b = batch.toDF().select(col("v")).localCheckpoint(true)
        val bn = b.count()
        if (bn > 0) {
          val fire = bounds.exists { case (bmin, bw) =>
            val oor = b.agg(
              sum(when(expr(s"v < $bmin OR v > ${bmin + bw - 1}"), 1L)
                .otherwise(0L))).head().getLong(0)
            oor * 10000L / bn > gateBp
          }
          if (fire) gateFires.foreach(_.add(1L))
          val doRebuild = bounds.nonEmpty && (policy match {
            case "every_delta" => true
            case "on_gate"     => fire
            case _             => false
          })
          val newPrefix =
            (if (prefix == null) b else prefix.unionByName(b)).localCheckpoint(true)
          fedRows += bn
          if (bounds.isEmpty || doRebuild) {
            val r = newPrefix
              .agg(min("v"), expr("max(v) - min(v) + 1")).head()
            val (bmin, bw) = (r.getLong(0), r.getLong(1))
            bounds = Some((bmin, bw))
            hist = newPrefix
              .select(expr(graft.queries.R50Queries.histBin16(
                "v", bmin.toString, bw.toString)).as("bin"))
              .groupBy("bin").agg(count(lit(1)).as("cnt"))
              .localCheckpoint(true)
            if (doRebuild) {
              rebuilds.foreach(_.add(1L))
              extraScanRows.foreach(_.add(fedRows))
            }
          } else {
            val (bmin, bw) = bounds.get
            val part = b
              .select(expr(graft.queries.R50Queries.histBin16(
                "v", bmin.toString, bw.toString)).as("bin"))
              .groupBy("bin").agg(count(lit(1)).as("cnt"))
            hist = hist.unionByName(part)
              .groupBy("bin").agg(sum("cnt").as("cnt"))
              .localCheckpoint(true)
          }
          prefix = newPrefix
        }
        if (hist != null) {
          val (bmin, bw) = bounds.get
          sink(id, hist.select(col("bin"), col("cnt"),
            lit(bmin).as("bmin"), lit(bw).as("bw")))
        }
      }
      .outputMode("append")
      .start()
  }

  /** q410's online half: the (flag × status) micro-cube maintained
    * additively across micro-batches — each batch is scanned ONCE into
    * its partial cube and merged into the ≤6-row state, and BOTH
    * standing reports are derived from state at every tick (any further
    * report over the same grain is a free derivation, q410's claim now
    * holding continuously). State is bounded by the grain's cardinality
    * regardless of stream length and rides an eager localCheckpoint
    * (the cross-batch handle convention). StreamingSpec certifies the
    * derived reports equal the batch recompute of the fed prefix after
    * every batch.
    */
  def scanShareStream(items: DataFrame)
      (sink: (Long, DataFrame) => Unit)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    var cube: DataFrame = null // (fl, st, cnt, sq, sc)
    items.writeStream
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], id: Long) =>
        val part = batch.toDF().groupBy("fl", "st")
          .agg(count(lit(1)).as("cnt"), sum("qty").as("sq"), sum("cents").as("sc"))
        val merged =
          (if (cube == null) part
           else cube.unionByName(part).groupBy("fl", "st")
             .agg(sum("cnt").as("cnt"), sum("sq").as("sq"), sum("sc").as("sc")))
            .localCheckpoint(true) // eager: state must outlive the callback
        cube = merged
        sink(id, merged)
      }
      .outputMode("append")
      .start()
  }

  def histRefreshStream(values: DataFrame, vmin: Long, w: Long,
      refreshAlarms: Option[org.apache.spark.util.LongAccumulator] = None)
      (sink: (Long, DataFrame) => Unit)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    var hist: DataFrame = null // (bin, cnt)
    values.writeStream
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], id: Long) =>
        val part = batch
          .select(expr(graft.queries.R50Queries.histBin16("v", vmin.toString, w.toString))
            .as("bin"))
          .groupBy("bin").agg(count(lit(1)).as("cnt"))
        val oor = batch.agg(
          sum(when(expr(s"v < $vmin OR v > ${vmin + w - 1}"), 1L).otherwise(0L)).as("oor"),
          count(lit(1)).as("n")).head()
        if (oor.getLong(1) > 0 &&
            oor.getLong(0) * 10000L / oor.getLong(1) > 100L)
          refreshAlarms.foreach(_.add(1L))
        val merged =
          (if (hist == null) part
           else hist.unionByName(part).groupBy("bin").agg(sum("cnt").as("cnt")))
            .localCheckpoint(true) // eager: state must outlive the callback
        hist = merged
        sink(id, merged)
      }
      .outputMode("append")
      .start()
  }

  /** q421's online half: the versioned table maintained from a CHANGELOG
    * stream — the manifest ops of the snapshot arc as they'd arrive from
    * a commit log. Each micro-batch is one commit carrying rows tagged
    *   'I' add rows (load/append),    'D' delete by key (MoR DV),
    *   'X' drop a whole file by id,   'R' add replacement-file rows;
    * the fold is (state ∖ X-files ∖ D-keys) ∪ I ∪ R — a compaction
    * commit is X+R in ONE batch and must leave content untouched, which
    * StreamingSpec certifies against R61Queries' logical states after
    * every commit (the q421 time-travel law, inductive over the stream).
    * State here IS the table content — in production the sink table
    * itself — so the operator carries no state beyond the data it
    * maintains; the delete/drop sides of each batch are broadcast-sized
    * commit metadata, never a second corpus.
    */
  def changelogStream(ops: DataFrame)
      (sink: (Long, DataFrame) => Unit)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    var state: DataFrame = null // (k, v, f)
    ops.writeStream
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], id: Long) =>
        val b = batch.toDF().localCheckpoint(true)
        val adds = b.where("op = 'I' OR op = 'R'").select("k", "v", "f")
        val delKeys = b.where("op = 'D'").select("k").distinct()
        val delFiles = b.where("op = 'X'").select("f").distinct()
        val kept =
          if (state == null) adds.limit(0)
          else state.join(broadcast(delFiles), Seq("f"), "left_anti")
            .join(broadcast(delKeys), Seq("k"), "left_anti")
        val merged = kept.unionByName(adds)
          .localCheckpoint(true) // eager: state must outlive the callback
        // Unlike the tiny cube/hist states above, this checkpoint IS the
        // whole maintained table — without releasing the superseded
        // version, executor storage grows with batches × table size on a
        // long-running stream. merged has its own blocks now, so the
        // previous state's checkpoint (and this batch's, folded into
        // merged) can go; the sink contract is that each delivered frame
        // is consumed within its callback.
        def release(df: DataFrame): Unit = df.queryExecution.analyzed match {
          case lr: org.apache.spark.sql.execution.LogicalRDD =>
            lr.rdd.unpersist(blocking = false)
          case _ => ()
        }
        if (state != null) release(state)
        state = merged
        sink(id, merged)
        release(b)
      }
      .outputMode("append")
      .start()
  }

  /** q435's streaming twin: the (y, m) grain view MAINTAINED from a
    * keyed changelog ('I' insert / 'D' delete-by-key), with the
    * MIN/MAX escalation policy the batch query proves necessary:
    * COUNT/SUM fold each micro-batch's delta grain exactly; MIN/MAX
    * fold inserts (least/greatest) but, on a delete whose removed rows
    * TOUCHED a group's current extreme, that group — and only that
    * group — is recomputed from the maintained table (the partial
    * rebuild a real incremental maintainer schedules instead of a full
    * refresh). `escalations` (optional accumulator) counts escalated
    * groups per batch so tests can pin "partial, never full".
    * State = the table (for escalation) + the view; both whole-table
    * checkpoints release their superseded versions (changelogStream's
    * storage contract).
    */
  def viewMaintainStream(ops: DataFrame,
      escalations: Option[org.apache.spark.util.LongAccumulator] = None)
      (sink: (Long, DataFrame) => Unit)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    var table: DataFrame = null // (k, y, m, v)
    var view: DataFrame = null // (y, m, cnt, sv, mn, mx)
    def release(df: DataFrame): Unit =
      if (df != null) df.queryExecution.analyzed match {
        case lr: org.apache.spark.sql.execution.LogicalRDD =>
          lr.rdd.unpersist(blocking = false)
        case _ => ()
      }
    ops.writeStream
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], id: Long) =>
        val b = batch.toDF().localCheckpoint(true)
        val ins = b.where("op = 'I'").select("k", "y", "m", "v")
        val delKeys = b.where("op = 'D'").select("k").distinct()
        val delRows =
          if (table == null) ins.limit(0)
          else table.join(broadcast(delKeys), Seq("k"))
        val newTable =
          ((if (table == null) ins.limit(0)
            else table.join(broadcast(delKeys), Seq("k"), "left_anti"))
            .unionByName(ins))
            .localCheckpoint(true)
        // delta grains for this commit
        val dIns = ins.groupBy("y", "m").agg(
          count(lit(1)).as("icnt"), sum("v").as("isv"),
          min("v").as("imn"), max("v").as("imx"))
        val dDel = delRows.groupBy("y", "m").agg(
          count(lit(1)).as("dcnt"), sum("v").as("dsv"),
          min("v").as("dmn"), max("v").as("dmx"))
        val folded =
          (if (view == null)
            dIns.select(col("y"), col("m"), col("icnt").as("cnt"),
              col("isv").as("sv"), col("imn").as("mn"), col("imx").as("mx"),
              lit(0L).as("esc"))
          else view
            .join(dIns, Seq("y", "m"), "full_outer")
            .join(dDel, Seq("y", "m"), "left")
            .select(col("y"), col("m"),
              (coalesce(col("cnt"), lit(0L)) + coalesce(col("icnt"), lit(0L))
                - coalesce(col("dcnt"), lit(0L))).as("cnt"),
              (coalesce(col("sv"), lit(0L)) + coalesce(col("isv"), lit(0L))
                - coalesce(col("dsv"), lit(0L))).as("sv"),
              least(col("mn"), col("imn")).as("mn"),
              greatest(col("mx"), col("imx")).as("mx"),
              // escalate iff the delete's removed extremes touch the
              // group's pre-fold extremes — the delta-visible trigger
              when(col("dmn") <= col("mn") || col("dmx") >= col("mx"), 1L)
                .otherwise(0L).as("esc"))
            .where(col("cnt") > 0L))
        // partial rebuild: ONLY escalated groups re-derive mn/mx from
        // the maintained table; everything else keeps the folded value
        val rebuilt = newTable
          .join(broadcast(folded.where(col("esc") === 1L).select("y", "m")),
            Seq("y", "m"))
          .groupBy("y", "m").agg(min("v").as("rmn"), max("v").as("rmx"))
        val merged = folded.join(rebuilt, Seq("y", "m"), "left")
          .select(col("y"), col("m"), col("cnt"), col("sv"),
            coalesce(col("rmn"), col("mn")).as("mn"),
            coalesce(col("rmx"), col("mx")).as("mx"), col("esc"))
          .localCheckpoint(true)
        escalations.foreach { acc =>
          val n = merged.agg(coalesce(sum("esc"), lit(0L))).head().getLong(0)
          if (n > 0) acc.add(n)
        }
        release(table); release(view)
        table = newTable
        // view keeps the esc diagnostic column; the checkpointed frame
        // itself is the state so its blocks release cleanly next batch
        view = merged
        sink(id, merged)
        release(b)
      }
      .outputMode("append")
      .start()
  }

}
