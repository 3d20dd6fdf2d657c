package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.QuerySpec
import graft.ops.VectorOps
import graft.functions.cosineSim

/** Round-6 widening, fourth batch: the measurement layer a pipeline
  * team puts AROUND an engine — time-series diagnostics of the
  * business series the engine produces (rank autocorrelation,
  * Mann–Kendall/Theil–Sen trend), IR-quality evaluation of its own
  * retrieval operators (nDCG@10 of the brute-force ranking under a
  * graded relevance model; MRR/recall@10 of the production LSH path
  * against the exact top-10), behavioral funnel/attribution analytics
  * over the event stream, and a χ² independence audit of the corpus
  * composition.
  *
  * The shared determinism pattern (house rules): every transcendental
  * or divisive step is quantized onto an integer grid at a point where
  * the input set is BOUNDED and identical across engines (rank
  * discounts: 10 values; reciprocal ranks: 10 values; per-cell χ²
  * contributions: |lang|×|source| values), after which all aggregation
  * is exact BIGINT arithmetic — summation order can never flip a
  * result. Doubles that do flow (Theil–Sen slopes) are produced by
  * single IEEE ops on exact integers (deterministic per-value, both
  * engines), ordered/selected — never accumulated.
  */
object R17Queries {

  /** DuckDB L2 norm over the embedding list (ScaleQueries.emL2 twin). */
  private val emL2 = ScaleQueries.emL2

  /** DuckDB cosine between q and c embedding rows, rounded 6dp (the
    * q37/q38 oracle convention — must match CosineSimilarity exactly). */
  private val cosSql =
    """round(list_sum([CAST(q.embedding[i] AS DOUBLE) * CAST(c.embedding[i] AS DOUBLE) for i in generate_series(1, len(q.embedding))]) / (q.nrm * c.nrm), 6)"""

  val specs: Seq[QuerySpec] = Seq(

    // q270 — SPEARMAN AUTOCORRELATION of daily revenue at lags 1..7:
    // is yesterday's revenue informative about today's? Rank
    // autocorrelation instead of Pearson by design: daily revenue
    // cents are BIGINT-exact but their squares overflow BIGINT at
    // large SF, while RANKS are bounded by the number of days — a
    // CALENDAR quantity (~3k for a decade) that does not grow with
    // data volume. So the whole statistic is exact integer arithmetic
    // at any scale: per-day cent sums (map-side combinable over the
    // fact table), one rank assignment over the bounded daily table
    // (the only global window — allowlisted with the calendar bound),
    // a ±7-day band self-join of that table, and BIGINT moment sums;
    // the single double division happens once per lag at the end.
    // Ranks tie-break by day so both engines agree on every rank.
    QuerySpec(
      "q270_revenue_acf",
      (s, d) => {
        val daily = t(s, d, "lineitem")
          .groupBy(datediff(col("l_shipdate").cast("date"),
            lit("1970-01-01").cast("date")).cast("long").as("day"))
          .agg(sum(cents(col("l_extendedprice") * (lit(1.0) - col("l_discount"))))
            .as("rev_cents"))
        val ranked = daily.withColumn("r",
          row_number().over(Window.orderBy("rev_cents", "day")).cast("long"))
        val a = ranked.select(col("day").as("a_day"), col("r").as("ra"))
        val b = ranked.select(col("day").as("b_day"), col("r").as("rb"))
        a.join(broadcast(b),
            col("b_day") - col("a_day") >= 1L && col("b_day") - col("a_day") <= 7L)
          .groupBy((col("b_day") - col("a_day")).as("lag"))
          .agg(count(lit(1)).as("n_pairs"),
            sum("ra").as("sa"), sum("rb").as("sb"),
            sum(col("ra") * col("rb")).as("sab"),
            sum(col("ra") * col("ra")).as("saa"),
            sum(col("rb") * col("rb")).as("sbb"))
          .withColumn("spearman_r", round(
            (col("n_pairs") * col("sab") - col("sa") * col("sb")).cast("double") /
              (sqrt((col("n_pairs") * col("saa") - col("sa") * col("sa")).cast("double")) *
                sqrt((col("n_pairs") * col("sbb") - col("sb") * col("sb")).cast("double"))), 4))
          .select("lag", "n_pairs", "spearman_r")
          .orderBy("lag")
      },
      Some("""WITH daily AS (SELECT CAST(datediff('day', DATE '1970-01-01', CAST(l_shipdate AS DATE)) AS BIGINT) AS day, CAST(sum(CAST(floor(l_extendedprice * (1 - l_discount) * 100.0 + 0.5) AS BIGINT)) AS BIGINT) AS rev_cents FROM lineitem GROUP BY 1), rk AS (SELECT day, CAST(row_number() OVER (ORDER BY rev_cents, day) AS BIGINT) AS r FROM daily), p AS (SELECT b.day - a.day AS lag, a.r AS ra, b.r AS rb FROM rk a JOIN rk b ON b.day - a.day BETWEEN 1 AND 7) SELECT lag, count(*) AS n_pairs, round(CAST(count(*) * sum(ra * rb) - sum(ra) * sum(rb) AS DOUBLE) / (sqrt(CAST(count(*) * sum(ra * ra) - sum(ra) * sum(ra) AS DOUBLE)) * sqrt(CAST(count(*) * sum(rb * rb) - sum(rb) * sum(rb) AS DOUBLE))), 4) AS spearman_r FROM p GROUP BY 1 ORDER BY 1"""),
      "§2.5/A6 ext: Spearman rank autocorrelation of daily revenue, lags 1-7 — calendar-bounded exact-integer moments"),

    // q271 — MANN–KENDALL TREND TEST + THEIL–SEN SLOPE on monthly
    // revenue: S = Σ_{i<j} sign(x_j − x_i) with its null variance
    // numerator n(n−1)(2n+5) (exact integers — the /18 and the normal
    // approximation belong to the consumer), plus the Theil–Sen
    // estimator = median of all pairwise slopes. The pair generation is
    // O(months²) — months is a CALENDAR bound (~80 here, ~1200 for a
    // century), so the all-pairs broadcast join is constant-sized
    // however large the fact table gets; the fact only ever flows
    // through the initial map-side monthly aggregation. Each slope is
    // ONE IEEE division of exact BIGINTs (identical in both engines);
    // the median interpolates the two central values of an identical
    // multiset — also engine-identical.
    QuerySpec(
      "q271_trend_test",
      (s, d) => {
        val monthly = t(s, d, "orders")
          .groupBy((year(col("o_orderdate")) * 12 +
            (month(col("o_orderdate")) - 1)).cast("long").as("m"))
          .agg(sum(cents(col("o_totalprice"))).as("rev_cents"))
        val a = monthly.select(col("m").as("ma"), col("rev_cents").as("xa"))
        val b = monthly.select(col("m").as("mb"), col("rev_cents").as("xb"))
        val nMonths = monthly.agg(count(lit(1)).as("n_months"))
        a.join(broadcast(b), col("mb") > col("ma"))
          .select(signum((col("xb") - col("xa")).cast("double")).cast("long").as("sgn"),
            ((col("xb") - col("xa")).cast("double") /
              (col("mb") - col("ma")).cast("double")).as("slope"))
          .agg(count(lit(1)).as("n_pairs"), sum("sgn").as("s_stat"),
            round(expr("percentile(slope, 0.5)"), 4).as("theil_sen_slope"))
          .crossJoin(broadcast(nMonths))
          .withColumn("var18_num",
            col("n_months") * (col("n_months") - 1) * (col("n_months") * 2 + 5))
          .select("n_months", "n_pairs", "s_stat", "var18_num", "theil_sen_slope")
      },
      Some("""WITH monthly AS (SELECT CAST(year(o_orderdate) * 12 + (month(o_orderdate) - 1) AS BIGINT) AS m, CAST(sum(CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT)) AS BIGINT) AS rev_cents FROM orders GROUP BY 1), p AS (SELECT CAST(CASE WHEN b.rev_cents > a.rev_cents THEN 1 WHEN b.rev_cents < a.rev_cents THEN -1 ELSE 0 END AS BIGINT) AS sgn, CAST(b.rev_cents - a.rev_cents AS DOUBLE) / CAST(b.m - a.m AS DOUBLE) AS slope FROM monthly a JOIN monthly b ON b.m > a.m), nm AS (SELECT CAST(count(*) AS BIGINT) AS n_months FROM monthly) SELECT n_months, CAST(count(*) AS BIGINT) AS n_pairs, CAST(sum(sgn) AS BIGINT) AS s_stat, n_months * (n_months - 1) * (2 * n_months + 5) AS var18_num, round(quantile_cont(slope, 0.5), 4) AS theil_sen_slope FROM p, nm GROUP BY n_months"""),
      "A6/§2.5 ext: Mann–Kendall S + Theil–Sen median slope — calendar-bounded all-pairs, integer test statistic"),

    // q272 — nDCG@10 of the exact cosine ranking under a graded
    // relevance model (rel = max(0, 3 − |label_q − label_c|), gains
    // 2^rel−1): the standard offline ranking-quality report. The
    // discount 1/log2(pos+1) is quantized ONCE onto a micro grid over
    // its 10 possible positions — after that DCG and ideal-DCG are
    // exact BIGINT dot products, and nDCG is integer basis points; no
    // float ever crosses an aggregation. Candidate scoring reuses the
    // q37 broadcast-queries × corpus pattern (queries broadcast, corpus
    // streams — the 100 TB-safe direction); both rankings (system by
    // rounded cosine, ideal by relevance) come from the SAME scored
    // frame in one pass with two qid-partitioned windows.
    QuerySpec(
      "q272_ndcg_eval",
      (s, d) => {
        val e = t(s, d, "embeddings")
        val q = e.where(col("vec_id") < 10)
          .select(col("vec_id").as("qid"), col("embedding").as("qe"),
            col("label").as("ql"))
        val scored = broadcast(q).crossJoin(e)
          .where(col("vec_id") =!= col("qid"))
          .select(col("qid"),
            col("vec_id").as("cid"),
            round(cosineSim(col("qe"), col("embedding")), 6).as("cos_r"),
            greatest(lit(0), lit(3) - abs(col("ql") - col("label")))
              .cast("long").as("rel"))
          .withColumn("gain",
            expr("shiftleft(1L, cast(rel as int)) - 1").cast("long"))
        val wSys = Window.partitionBy("qid").orderBy(col("cos_r").desc, col("cid"))
        val wIdeal = Window.partitionBy("qid").orderBy(col("rel").desc, col("cid"))
        scored
          .withColumn("rn_s", row_number().over(wSys).cast("long"))
          .withColumn("rn_i", row_number().over(wIdeal).cast("long"))
          .withColumn("disc_s", floor(lit(1000000.0) / log2(col("rn_s") + 1.0)))
          .withColumn("disc_i", floor(lit(1000000.0) / log2(col("rn_i") + 1.0)))
          .groupBy("qid")
          .agg(sum(when(col("rn_s") <= 10, col("gain") * col("disc_s")).otherwise(0L))
            .as("dcg_micro"),
            sum(when(col("rn_i") <= 10, col("gain") * col("disc_i")).otherwise(0L))
              .as("idcg_micro"))
          .withColumn("ndcg_bp",
            expr("dcg_micro * 10000 div greatest(idcg_micro, 1)"))
          .orderBy("qid")
      },
      Some(s"""WITH e AS (SELECT vec_id, embedding, label, $emL2 AS nrm FROM embeddings), sc AS (SELECT q.vec_id AS qid, c.vec_id AS cid, $cosSql AS cos_r, CAST(greatest(0, 3 - abs(q.label - c.label)) AS BIGINT) AS rel FROM e q, e c WHERE q.vec_id < 10 AND c.vec_id <> q.vec_id), g AS (SELECT qid, cid, cos_r, rel, (1 << rel) - 1 AS gain, CAST(row_number() OVER (PARTITION BY qid ORDER BY cos_r DESC, cid) AS BIGINT) AS rn_s, CAST(row_number() OVER (PARTITION BY qid ORDER BY rel DESC, cid) AS BIGINT) AS rn_i FROM sc) SELECT qid, CAST(sum(CASE WHEN rn_s <= 10 THEN gain * CAST(floor(1000000.0 / log2(rn_s + 1.0)) AS BIGINT) ELSE 0 END) AS BIGINT) AS dcg_micro, CAST(sum(CASE WHEN rn_i <= 10 THEN gain * CAST(floor(1000000.0 / log2(rn_i + 1.0)) AS BIGINT) ELSE 0 END) AS BIGINT) AS idcg_micro, CAST(sum(CASE WHEN rn_s <= 10 THEN gain * CAST(floor(1000000.0 / log2(rn_s + 1.0)) AS BIGINT) ELSE 0 END) * 10000 // greatest(sum(CASE WHEN rn_i <= 10 THEN gain * CAST(floor(1000000.0 / log2(rn_i + 1.0)) AS BIGINT) ELSE 0 END), 1) AS BIGINT) AS ndcg_bp FROM g GROUP BY qid ORDER BY qid"""),
      "E3/M5 ext: nDCG@10 under graded label relevance — micro-grid discounts, integer DCG"),

    // q273 — RETRIEVAL EVAL OF THE PRODUCTION ANN PATH: MRR and
    // recall@10 of the 8-bit sign-projection LSH ranking (q38's scale
    // path) against the exact cosine top-10 (q37's ground truth),
    // per query. This is the eval loop every serving team runs before
    // swapping an index: truth from the broadcast-queries exact pass,
    // system from the bucket equi-join (only same-bucket rows are ever
    // scored — the 100 TB path), overlap + first-hit rank joined per
    // query. Reciprocal ranks are micro-quantized per rank (10 values);
    // queries whose bucket surfaces no truth hit report rr_micro = 0
    // via the left join (they must appear — silently dropping them
    // would inflate MRR, the classic eval bug).
    QuerySpec(
      "q273_lsh_eval",
      (s, d) => {
        val e = t(s, d, "embeddings")
        val q = e.where(col("vec_id") < 10)
          .select(col("vec_id").as("qid"), col("embedding").as("qe"))
        val wS = Window.partitionBy("qid").orderBy(col("cos_r").desc, col("cid"))
        val truth = broadcast(q).crossJoin(e)
          .where(col("vec_id") =!= col("qid"))
          .select(col("qid"), col("vec_id").as("cid"),
            round(cosineSim(col("qe"), col("embedding")), 6).as("cos_r"))
          .withColumn("rn", row_number().over(wS).cast("long"))
          .where(col("rn") <= 10)
          .select(col("qid").as("tqid"), col("cid").as("tcid"))
        val b = e.select(col("vec_id"), col("embedding"),
          VectorOps.srpBucket(col("embedding"), 8).as("bucket"))
        val qb = b.where(col("vec_id") < 10)
          .select(col("vec_id").as("qid"), col("embedding").as("qe"), col("bucket"))
        val sys = qb.join(b, Seq("bucket"))
          .where(col("vec_id") =!= col("qid"))
          .select(col("qid"), col("vec_id").as("cid"),
            round(cosineSim(col("qe"), col("embedding")), 6).as("cos_r"))
          .withColumn("rn", row_number().over(wS).cast("long"))
        val hits = sys.where(col("rn") <= 10)
          .join(truth, col("qid") === col("tqid") && col("cid") === col("tcid"))
          .groupBy(col("qid"))
          .agg(count(lit(1)).as("overlap10"),
            floor(lit(1000000L) / min("rn")).cast("long").as("rr_micro"))
        val nCand = sys.groupBy("qid").agg(count(lit(1)).as("n_cand"))
        q.select("qid")
          .join(nCand, Seq("qid"), "left")
          .join(hits, Seq("qid"), "left")
          .select(col("qid"),
            coalesce(col("n_cand"), lit(0L)).as("n_cand"),
            coalesce(col("overlap10"), lit(0L)).as("overlap10"),
            coalesce(col("rr_micro"), lit(0L)).as("rr_micro"))
          .orderBy("qid")
      },
      Some {
        val bucketSql = (1 to 8)
          .map(i => s"${1L << (i - 1)} * (CASE WHEN embedding[$i] > 0 THEN 1 ELSE 0 END)")
          .mkString(" + ")
        s"""WITH e AS (SELECT vec_id, embedding, CAST($bucketSql AS BIGINT) AS bucket, $emL2 AS nrm FROM embeddings), truth AS (SELECT qid, cid FROM (SELECT q.vec_id AS qid, c.vec_id AS cid, row_number() OVER (PARTITION BY q.vec_id ORDER BY $cosSql DESC, c.vec_id) AS rn FROM e q, e c WHERE q.vec_id < 10 AND c.vec_id <> q.vec_id) z WHERE rn <= 10), sys AS (SELECT q.vec_id AS qid, c.vec_id AS cid, CAST(row_number() OVER (PARTITION BY q.vec_id ORDER BY $cosSql DESC, c.vec_id) AS BIGINT) AS rn FROM e q JOIN e c ON q.bucket = c.bucket AND c.vec_id <> q.vec_id WHERE q.vec_id < 10), nc AS (SELECT qid, CAST(count(*) AS BIGINT) AS n_cand FROM sys GROUP BY 1), h AS (SELECT s.qid, CAST(count(*) AS BIGINT) AS overlap10, CAST(floor(1000000 / min(s.rn)) AS BIGINT) AS rr_micro FROM sys s JOIN truth t ON s.qid = t.qid AND s.cid = t.cid WHERE s.rn <= 10 GROUP BY 1) SELECT q.vec_id AS qid, coalesce(nc.n_cand, 0) AS n_cand, coalesce(h.overlap10, 0) AS overlap10, coalesce(h.rr_micro, 0) AS rr_micro FROM e q LEFT JOIN nc ON q.vec_id = nc.qid LEFT JOIN h ON q.vec_id = h.qid WHERE q.vec_id < 10 ORDER BY qid"""
      },
      "E3/M5 ext: MRR + recall@10 of the LSH path vs exact top-10 — zero-hit queries preserved"),

    // q274 — STRICT-ORDER FUNNEL (view → click-after-view →
    // purchase-after-click, 7-day completion window): each stage's
    // timestamp must strictly follow the previous stage's — the
    // "min of qualifying events" per stage, NOT independent per-type
    // minima (a click before the first view doesn't count; q240's
    // conversion pair is the 2-stage special case). Three aggregations,
    // ALL keyed on user_id — the exchange is planned once and reused
    // across stages (same partitioning), so the funnel costs one
    // shuffle of the pre-combined per-user rows however many stages
    // deep it goes. Epoch seconds throughout; output is one row of
    // stage counts + floor-bp conversion rates.
    QuerySpec(
      "q274_strict_funnel",
      (s, d) => {
        val ev = t(s, d, "events")
          .select(col("user_id"), col("event_type"),
            expr("unix_timestamp(ts)").as("es"))
        val v = ev.where(col("event_type") === "view")
          .groupBy("user_id").agg(min("es").as("t_view"))
        val c = ev.where(col("event_type") === "click")
          .join(v, Seq("user_id"))
          .where(col("es") > col("t_view"))
          .groupBy(col("user_id"), col("t_view"))
          .agg(min("es").as("t_click"))
        val p = ev.where(col("event_type") === "purchase")
          .join(c, Seq("user_id"))
          .where(col("es") > col("t_click") && col("es") - col("t_view") <= 604800L)
          .groupBy(col("user_id"))
          .agg(min("es").as("t_purchase"))
        v.join(c.select(col("user_id").as("cu")),
            col("user_id") === col("cu"), "left")
          .join(p.select(col("user_id").as("pu")),
            col("user_id") === col("pu"), "left")
          .agg(count(col("user_id")).as("n_view"),
            count(col("cu")).as("n_click"),
            count(col("pu")).as("n_purchase"))
          .withColumn("click_bp", expr("n_click * 10000 div greatest(n_view, 1)"))
          .withColumn("purchase_bp",
            expr("n_purchase * 10000 div greatest(n_click, 1)"))
      },
      Some("""WITH ev AS (SELECT user_id, event_type, CAST(floor(epoch(CAST(ts AS TIMESTAMP))) AS BIGINT) AS es FROM events), v AS (SELECT user_id, min(es) AS t_view FROM ev WHERE event_type = 'view' GROUP BY 1), c AS (SELECT ev.user_id, v.t_view, min(es) AS t_click FROM ev JOIN v ON ev.user_id = v.user_id WHERE event_type = 'click' AND es > t_view GROUP BY 1, 2), p AS (SELECT ev.user_id, min(es) AS t_purchase FROM ev JOIN c ON ev.user_id = c.user_id WHERE event_type = 'purchase' AND es > t_click AND es - t_view <= 604800 GROUP BY 1) SELECT CAST(count(*) AS BIGINT) AS n_view, CAST((SELECT count(*) FROM c) AS BIGINT) AS n_click, CAST((SELECT count(*) FROM p) AS BIGINT) AS n_purchase, CAST((SELECT count(*) FROM c) * 10000 // greatest(count(*), 1) AS BIGINT) AS click_bp, CAST((SELECT count(*) FROM p) * 10000 // greatest((SELECT count(*) FROM c), 1) AS BIGINT) AS purchase_bp FROM v"""),
      "§2.12 ext: strict-order 3-stage funnel, 7-day window — per-user keyed aggregation chain, one exchange"),

    // q275 — POSITION-BASED (U-SHAPED) ATTRIBUTION: every purchase
    // distributes 1000 credit-milli across its preceding touchpoints
    // (view/click within 3 days): 40% first touch, 40% last touch,
    // 20% split over the middles by integer floor division (remainder
    // deliberately dropped — credit conservation bounds above by 1000,
    // determinism beats exactness here; n=1 → 1000, n=2 → 500/500).
    // The purchase×touch join fans out only within (user, 3-day
    // window) — bounded by per-user activity rate, never corpus size —
    // and both windows are purchase-keyed. Credit lands per touch
    // TYPE: the "do clicks or views close sales?" report.
    QuerySpec(
      "q275_attribution",
      (s, d) => {
        val ev = t(s, d, "events")
          .select(col("event_id"), col("user_id"), col("event_type"),
            expr("unix_timestamp(ts)").as("es"))
        val buys = ev.where(col("event_type") === "purchase")
          .select(col("user_id").as("bu"), col("event_id").as("pid"),
            col("es").as("pes"))
        val touches = ev.where(col("event_type").isin("view", "click"))
        val w = Window.partitionBy("pid")
        val wo = w.orderBy(col("es"), col("event_id"))
        buys.join(touches, col("user_id") === col("bu") &&
            col("es") < col("pes") && col("pes") - col("es") <= 259200L)
          .withColumn("n", count(lit(1)).over(w).cast("long"))
          .withColumn("rn", row_number().over(wo).cast("long"))
          .withColumn("credit_milli",
            when(col("n") === 1L, 1000L)
              .when(col("n") === 2L, 500L)
              .when(col("rn") === 1L || col("rn") === col("n"), 400L)
              .otherwise(expr("200 div (n - 2)")))
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("n_touches"),
            sum("credit_milli").as("credit_milli"))
          .orderBy("event_type")
      },
      Some("""WITH ev AS (SELECT event_id, user_id, event_type, CAST(floor(epoch(CAST(ts AS TIMESTAMP))) AS BIGINT) AS es FROM events), buys AS (SELECT user_id, event_id AS pid, es AS pes FROM ev WHERE event_type = 'purchase'), tp AS (SELECT b.pid, t.event_type, t.es, t.event_id FROM buys b JOIN ev t ON t.user_id = b.user_id AND t.event_type IN ('view', 'click') AND t.es < b.pes AND b.pes - t.es <= 259200), r AS (SELECT event_type, CAST(count(*) OVER (PARTITION BY pid) AS BIGINT) AS n, CAST(row_number() OVER (PARTITION BY pid ORDER BY es, event_id) AS BIGINT) AS rn FROM tp) SELECT event_type, CAST(count(*) AS BIGINT) AS n_touches, CAST(sum(CASE WHEN n = 1 THEN 1000 WHEN n = 2 THEN 500 WHEN rn = 1 OR rn = n THEN 400 ELSE 200 // (n - 2) END) AS BIGINT) AS credit_milli FROM r GROUP BY 1 ORDER BY 1"""),
      "§2.12 ext: U-shaped multi-touch attribution — bounded purchase-window fan-out, integer credit"),

    // q276 — χ² INDEPENDENCE AUDIT of corpus composition (lang ×
    // source): does language depend on source — the drift/contamination
    // question behind every "did this crawl slice change?" page. The
    // contingency table is |lang|×|source| cells (bounded by the
    // domains, not the corpus); each cell's χ² term is computed in the
    // algebraic form (o·N − rl·cs)²/(N·rl·cs) — the subtraction happens
    // in EXACT BIGINT, so the doubles that follow start from identical
    // values in both engines and every subsequent IEEE op is identical
    // too; the per-cell result is then micro-floor-quantized and
    // BIGINT-summed (order-free). Cramér's V in floor basis points
    // normalizes for table size.
    QuerySpec(
      "q276_chi2_independence",
      (s, d) => {
        val cells = t(s, d, "documents")
          .groupBy("lang", "source").agg(count(lit(1)).as("o"))
        val rowT = cells.groupBy("lang").agg(sum("o").as("rl"))
        val colT = cells.groupBy("source").agg(sum("o").as("cs"))
        val tot = cells.agg(sum("o").as("nn"),
          countDistinct("lang").as("n_lang"),
          countDistinct("source").as("n_source"))
        cells.join(broadcast(rowT), Seq("lang"))
          .join(broadcast(colT), Seq("source"))
          .crossJoin(broadcast(tot))
          .withColumn("num", (col("o") * col("nn") - col("rl") * col("cs"))
            .cast("double"))
          .withColumn("cell_micro",
            floor(col("num") * col("num") * 1000000.0 /
              (col("nn") * col("rl") * col("cs")).cast("double")).cast("long"))
          .groupBy(col("nn").as("n_docs"), col("n_lang"), col("n_source"),
            ((col("n_lang") - 1) * (col("n_source") - 1)).as("dof"))
          .agg(sum("cell_micro").as("chi2_micro"))
          .withColumn("cramers_v_bp",
            floor(sqrt(col("chi2_micro").cast("double") / 1000000.0 /
              (col("n_docs") * least(col("n_lang") - 1, col("n_source") - 1))
                .cast("double")) * 10000.0).cast("long"))
          .select("n_docs", "n_lang", "n_source", "dof", "chi2_micro", "cramers_v_bp")
      },
      Some("""WITH cells AS (SELECT lang, source, CAST(count(*) AS BIGINT) AS o FROM documents GROUP BY 1, 2), rt AS (SELECT lang, CAST(sum(o) AS BIGINT) AS rl FROM cells GROUP BY 1), ct AS (SELECT source, CAST(sum(o) AS BIGINT) AS cs FROM cells GROUP BY 1), tot AS (SELECT CAST(sum(o) AS BIGINT) AS nn, CAST(count(DISTINCT lang) AS BIGINT) AS n_lang, CAST(count(DISTINCT source) AS BIGINT) AS n_source FROM cells), c2 AS (SELECT nn, n_lang, n_source, CAST(floor(CAST(o * nn - rl * cs AS DOUBLE) * CAST(o * nn - rl * cs AS DOUBLE) * 1000000.0 / CAST(nn * rl * cs AS DOUBLE)) AS BIGINT) AS cell_micro FROM cells JOIN rt USING (lang) JOIN ct USING (source) CROSS JOIN tot) SELECT nn AS n_docs, n_lang, n_source, (n_lang - 1) * (n_source - 1) AS dof, CAST(sum(cell_micro) AS BIGINT) AS chi2_micro, CAST(floor(sqrt(CAST(sum(cell_micro) AS DOUBLE) / 1000000.0 / CAST(nn * least(n_lang - 1, n_source - 1) AS DOUBLE)) * 10000.0) AS BIGINT) AS cramers_v_bp FROM c2 GROUP BY 1, 2, 3, 4"""),
      "A5/E4 ext: χ² lang×source independence + Cramér's V — bounded contingency cells, micro-grid integer sum"))
}
