package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.QuerySpec
import graft.ops.HashOps.{md5Long, md5LongSql}
import graft.ops.QuantileOps

/** Round-5 widening beyond the review burn-down: the re-aggregatable
  * sketch family (KMV distinct, count-min counts — the store-sketches-
  * not-raws pattern that makes 100-TB observability cheap), cross-domain
  * score calibration, bounded-hop graph reachability, and the
  * small-files compaction planner. All fully DuckDB-oracled.
  */
object R8Queries {

  /** j-salted bucket hash shared by the sketch family (q212 count-min
    * rows, q216 Bloom bits): the 15-digit md5Long of concat(j, key), mod m.
    */
  private[queries] def saltedBucket(j: org.apache.spark.sql.Column,
      key: org.apache.spark.sql.Column, m: Long): org.apache.spark.sql.Column =
    pmod(md5Long(concat(j.cast("string"), key), 15), lit(m))

  val specs: Seq[QuerySpec] = Seq(

    // q211 — KMV (k-minimum-values) distinct sketches as TABLES, merged
    // across partitions: per day, keep only the k=32 smallest 60-bit
    // user hashes (a bounded sketch row-set instead of the raw rows);
    // the weekly distinct estimate is computed from the UNION OF DAILY
    // SKETCHES alone — merge = re-take the k smallest, the associative
    // op that makes the sketch re-aggregatable to any rollup level
    // without touching raw data again. THE 100-TB observability
    // pattern: a day of raw events is petabytes, its KMV sketch is 32
    // rows, and any window's distinct count is a merge over sketch
    // tables. Estimator: m < k → exact (the sketch IS the value set);
    // else (k−1)·2⁶⁰/h_(k). All arithmetic is integer-derived and
    // bit-identical cross-engine (2⁶⁰ and the int→double conversions
    // are exact IEEE), so est/rel_err carry zero float risk. Windows
    // partition by day/week — nothing global.
    QuerySpec(
      "q211_kmv_sketch",
      (s, d) => {
        val ev = t(s, d, "events")
          .select(to_date(col("ts")).as("day"),
            date_trunc("week", col("ts")).as("wk"),
            col("user_id"))
        val hx = ev.select(col("day"), col("wk"),
          md5Long(col("user_id").cast("string"), 15).as("h")).distinct()
        val daySk = hx.withColumn("rn",
            row_number().over(Window.partitionBy("day").orderBy("h")))
          .where(col("rn") <= 32)
        val merged = daySk.select("wk", "h").distinct()
          .withColumn("rn",
            row_number().over(Window.partitionBy("wk").orderBy("h")))
        val st = merged.groupBy("wk")
          .agg(count(lit(1)).as("m"),
            max(when(col("rn") === 32, col("h"))).as("kth"))
        val exact = ev.groupBy("wk").agg(countDistinct("user_id").as("n_exact"))
        st.join(exact, "wk")
          .withColumn("n_est", when(col("m") < 32, col("m"))
            .otherwise(floor(lit(31.0) * lit(1.152921504606846976e18) / col("kth"))
              .cast("long")))
          .select(col("wk").cast("long").as("ws"), col("n_exact"), col("n_est"),
            round((col("n_est") - col("n_exact")) * lit(1.0) / col("n_exact"), 4)
              .as("rel_err"))
          .orderBy("ws")
      },
      Some(s"""WITH ev AS (SELECT CAST(ts AS TIMESTAMP) AS ts, user_id FROM events), hx AS (SELECT DISTINCT CAST(ts AS DATE) AS day, date_trunc('week', ts) AS wk, ${md5LongSql("CAST(user_id AS VARCHAR)", 15)} AS h FROM ev), sk AS (SELECT day, wk, h FROM (SELECT day, wk, h, row_number() OVER (PARTITION BY day ORDER BY h) AS rn FROM hx) z WHERE rn <= 32), mg AS (SELECT wk, h, row_number() OVER (PARTITION BY wk ORDER BY h) AS rn FROM (SELECT DISTINCT wk, h FROM sk) z), st AS (SELECT wk, count(*) AS m, max(CASE WHEN rn = 32 THEN h END) AS kth FROM mg GROUP BY 1), ex AS (SELECT date_trunc('week', ts) AS wk, count(DISTINCT user_id) AS n_exact FROM ev GROUP BY 1) SELECT CAST(epoch(st.wk) AS BIGINT) AS ws, CAST(n_exact AS BIGINT) AS n_exact, CAST(CASE WHEN m < 32 THEN m ELSE floor(31.0 * 1152921504606846976 / kth) END AS BIGINT) AS n_est, round((CAST(CASE WHEN m < 32 THEN m ELSE floor(31.0 * 1152921504606846976 / kth) END AS BIGINT) - n_exact) * 1.0 / n_exact, 4) AS rel_err FROM st JOIN ex USING (wk) ORDER BY ws"""),
      "§2.4 ext: KMV distinct sketches as mergeable tables (daily → weekly rollup)"),

    // q212 — count-min sketch with its overestimate audit: a 3×512
    // integer sketch (three md5-salted hash rows, summed counts) built
    // from the shared termFreq cache, then the exact top-20 terms are
    // probed back and est = min over the 3 rows — pure CMS, pure
    // integer math, zero cross-engine float risk. The audit column
    // (est − exact ≥ 0, the one-sided CMS guarantee) is the thing a
    // deployment actually monitors. Scale shape: the sketch is 1,536
    // rows REGARDLESS of vocabulary size and is built in one pass with
    // map-side partial sums — the fixed-memory substitute for a
    // full-vocab count table at 100 TB; probing is a broadcast join.
    QuerySpec(
      "q212_cms_topk",
      (s, d) => {
        val g = ScaleQueries.termFreq(s, d)
          .groupBy("term").agg(sum("tf").as("cg"))
        def bucket(j: org.apache.spark.sql.Column) = saltedBucket(j, col("term"), 512L)
        val hb = g.select(col("term"), col("cg"),
            explode(array((0 to 2).map(lit): _*)).as("j"))
          .withColumn("b", bucket(col("j")))
        val sketch = hb.groupBy("j", "b").agg(sum("cg").as("cell"))
        val top = g.orderBy(col("cg").desc, col("term").asc).limit(20)
        top.select(col("term"), col("cg"),
            explode(array((0 to 2).map(lit): _*)).as("j"))
          .withColumn("b", bucket(col("j")))
          .join(broadcast(sketch), Seq("j", "b"))
          .groupBy("term", "cg")
          .agg(min("cell").as("n_est"))
          .select(col("term"), col("cg").as("n_exact"), col("n_est"),
            (col("n_est") - col("cg")).as("overest"))
          .orderBy(col("n_exact").desc, col("term").asc)
      },
      Some(s"""WITH tok AS (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term FROM documents), tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2), g AS (SELECT term, sum(tf) AS cg FROM tf GROUP BY 1), hb AS (SELECT term, cg, j, ${md5LongSql("concat(CAST(j AS VARCHAR), term)", 15)} % 512 AS b FROM g CROSS JOIN (SELECT unnest([0, 1, 2]) AS j) js), sk AS (SELECT j, b, sum(cg) AS cell FROM hb GROUP BY 1, 2), top AS (SELECT term, cg FROM g ORDER BY cg DESC, term LIMIT 20) SELECT t.term, CAST(t.cg AS BIGINT) AS n_exact, CAST(min(sk.cell) AS BIGINT) AS n_est, CAST(min(sk.cell) - t.cg AS BIGINT) AS overest FROM top t JOIN hb ON hb.term = t.term JOIN sk ON sk.j = hb.j AND sk.b = hb.b GROUP BY t.term, t.cg ORDER BY n_exact DESC, t.term"""),
      "§2.4 ext: count-min sketch term counts + one-sided overestimate audit"),

    // q213 — quantile normalization across event types (cross-domain
    // score calibration): each type's values are ranked into deciles by
    // a TYPE-PARTITIONED ntile (deterministic via the (value, event_id)
    // total order), and each decile is mapped to the GLOBAL
    // distribution's exact-element decile midpoint (QuantileOps — no
    // global sort; the only unbounded-partition work is the two-level
    // bucket-offset scheme already allowlisted). This is how a curation
    // pipeline makes quality scores comparable across domains whose
    // scorers drift apart — the per-(type, decile) calibration table IS
    // the artifact. Scale: windows partition by type; the 10-value
    // global grid broadcasts.
    QuerySpec(
      "q213_quantile_norm",
      (s, d) => {
        val ev = t(s, d, "events").where(col("value").isNotNull)
        val deciled = ev.withColumn("decile", ntile(10).over(
          Window.partitionBy("event_type").orderBy(col("value"), col("event_id")))
          .cast("long"))
        val fracs = (1 to 10).map(i => (i - 0.5) / 10.0)
        val grid = QuantileOps.exactElementQuantiles(
          t(s, d, "events"), "value", Seq.empty, fracs)
        val cal = grid.select(posexplode(
            array((1 to 10).map(i => col(s"cut_$i")): _*)).as(Seq("d0", "calibrated")))
          .select((col("d0") + 1).cast("long").as("decile"), col("calibrated"))
        deciled.groupBy("event_type", "decile")
          .agg(count(lit(1)).as("n"), round(avg("value"), 4).as("raw_avg"))
          .join(broadcast(cal), "decile")
          .select(col("event_type"), col("decile"), col("n"), col("raw_avg"),
            col("calibrated"))
          .orderBy("event_type", "decile")
      },
      Some(s"""WITH dec AS (SELECT event_type, value, ntile(10) OVER (PARTITION BY event_type ORDER BY value, event_id) AS decile FROM events WHERE value IS NOT NULL), q AS (SELECT * FROM ${QuantileOps.oracleSql("events", "value", Seq.empty, (1 to 10).map(i => (i - 0.5) / 10.0))} z), cal AS (SELECT d AS decile, CASE d ${(1 to 10).map(i => s"WHEN $i THEN cut_$i").mkString(" ")} END AS calibrated FROM (SELECT unnest(generate_series(1, 10)) AS d) ds CROSS JOIN q) SELECT event_type, CAST(dec.decile AS BIGINT) AS decile, count(*) AS n, round(avg(value), 4) AS raw_avg, calibrated FROM dec JOIN cal ON cal.decile = dec.decile GROUP BY 1, 2, calibrated ORDER BY 1, 2"""),
      "§2.5/E4 ext: quantile normalization — per-type deciles mapped to the global grid"),

    // q214 — bounded k-hop reachability over the trade graph (the BFS
    // member of the graph family: PageRank iterates rank, connected
    // components iterates labels, THIS iterates a frontier): 3 unrolled
    // frontier steps from the seed set (node < 10), each an edge
    // equi-join + distinct + anti-join against the reached set — the
    // semi-naive evaluation a distributed engine uses where a native
    // engine writes WITH RECURSIVE (which is exactly what the oracle
    // does — DuckDB's recursive CTE replays the same min-hop BFS).
    // Scale: per-hop work is |frontier ⋈ edges| keyed rows; the reached
    // set stays partitioned by node — no global structure. The final
    // cumulative window runs over ≤ 4 rows (one per unrolled hop —
    // allowlisted bound).
    QuerySpec(
      "q214_khop_reach",
      (s, d) => {
        // ONE src-hash layout serves all three hop joins (the q313/q255
        // pin, guide §2.2): the memoized edge table arrives with no
        // useful partitioning (its union destroys the distinct's), so
        // without the pin every hop re-exchanges the full edge table by
        // src. Repartition + checkpoint pays that exchange once; each
        // hop's join then exchanges only the (tiny) frontier side.
        val ed = R3Queries.tradeEdges(s, d)
          .repartition(col("src")).localCheckpoint(false)
        val seeds = ed.select(col("src").as("node")).where(col("node") < 10)
          .distinct().withColumn("hop", lit(0L))
        // Each hop is localCheckpoint'ed (the connectedComponents:211
        // stance): `reached` feeds BOTH the frontier filter and the
        // anti-join, so without a lineage cut hop h re-evaluates hop
        // h-1 twice and the DAG doubles per hop — 4× recomputation of
        // the edge join by hop 3. Semi-naive BFS materializes each
        // frontier anyway; the checkpoint is the plan, not a hack.
        def step(reached: DataFrame, hop: Int): DataFrame = {
          val frontier = reached.where(col("hop") === (hop - 1L)).select("node")
          val next = frontier.join(ed, frontier("node") === ed("src"))
            .select(col("dst").as("node")).distinct()
            .join(reached.select("node"), Seq("node"), "left_anti")
            .withColumn("hop", lit(hop.toLong))
          reached.unionByName(next).localCheckpoint(false)
        }
        val reached = step(step(step(seeds, 1), 2), 3)
        reached.groupBy("hop").agg(count(lit(1)).as("n_new"))
          .withColumn("n_reached", sum("n_new").over(
            Window.orderBy("hop").rowsBetween(Window.unboundedPreceding, Window.currentRow)))
          .orderBy("hop")
      },
      Some("""WITH RECURSIVE e AS (SELECT DISTINCT o_custkey * 2 AS src, l_suppkey * 2 + 1 AS dst FROM orders JOIN lineitem ON o_orderkey = l_orderkey), ed AS (SELECT src, dst FROM e UNION ALL SELECT dst AS src, src AS dst FROM e), bfs AS (SELECT DISTINCT src AS node, 0 AS hop FROM ed WHERE src < 10 UNION SELECT ed.dst AS node, bfs.hop + 1 AS hop FROM bfs JOIN ed ON ed.src = bfs.node WHERE bfs.hop < 3), mn AS (SELECT node, min(hop) AS hop FROM bfs GROUP BY 1), ag AS (SELECT hop, count(*) AS n_new FROM mn GROUP BY 1) SELECT CAST(hop AS BIGINT) AS hop, CAST(n_new AS BIGINT) AS n_new, CAST(sum(n_new) OVER (ORDER BY hop ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS n_reached FROM ag ORDER BY hop"""),
      "E2 ext: bounded k-hop BFS — unrolled frontier anti-joins vs recursive-CTE oracle"),

    // q215 — small-files compaction planner: model the manifest as one
    // "file" per (source, doc_id % 64) with its byte size, then assign
    // files to output bins by GREEDY SEQUENTIAL PACKING — bin =
    // floor(start_offset / 64 KiB) over the source-partitioned running
    // sum, i.e. a file opens a new bin when the current one has no room
    // left at its start offset. This is the planning pass of every
    // table-maintenance compactor (the small-files problem is THE
    // operational tax of a 100-TB parquet lake); the plan itself is one
    // partitioned cumsum window — no shuffle beyond the file-manifest
    // aggregation, and the manifest is tiny relative to the data it
    // describes. 64 KiB target is a power of two so offset/target
    // division is exact in double — zero float risk in bin ids.
    QuerySpec(
      "q215_compaction_plan",
      (s, d) => {
        val files = ScaleQueries.fileManifest(s, d)
          .select("source", "file_id", "bytes")
        val w = Window.partitionBy("source").orderBy("file_id")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        files.withColumn("cum", sum("bytes").over(w))
          .withColumn("bin", floor((col("cum") - col("bytes")) / lit(65536.0)).cast("long"))
          .groupBy("source", "bin")
          .agg(count(lit(1)).as("n_files"), sum("bytes").as("bin_bytes"))
          .withColumn("fill_ratio", round(col("bin_bytes") / lit(65536.0), 4))
          .orderBy("source", "bin")
      },
      Some("""WITH files AS (SELECT source, doc_id % 64 AS file_id, sum(n_chars) AS bytes FROM documents GROUP BY 1, 2), planned AS (SELECT source, file_id, bytes, sum(bytes) OVER (PARTITION BY source ORDER BY file_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum FROM files) SELECT source, CAST(floor((cum - bytes) / 65536.0) AS BIGINT) AS bin, count(*) AS n_files, CAST(sum(bytes) AS BIGINT) AS bin_bytes, round(sum(bytes) / 65536.0, 4) AS fill_ratio FROM planned GROUP BY 1, 2 ORDER BY 1, 2"""),
      "S/layout ext: greedy sequential compaction planner over the file manifest"))
}
