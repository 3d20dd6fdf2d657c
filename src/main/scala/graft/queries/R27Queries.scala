package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.QuerySpec

/** Round-6 widening, coda: DATA-DRIVEN (MARKOV) ATTRIBUTION — the
  * principled alternative to q275's positional heuristic. User
  * journeys become an absorbing Markov chain (START → touch states →
  * CONV/NULL); each channel's credit is its REMOVAL EFFECT: how much
  * conversion probability disappears when every transition into that
  * channel is redirected to NULL. Conversion probabilities come from
  * finite-horizon matrix powers — P¹⁶ via four squarings of the
  * micro-quantized transition matrix, all exact integer arithmetic on
  * a ≤7×7 table, so both engines agree bit-for-bit and the chain
  * algebra costs nothing next to the one fact-table pass that builds
  * the transition counts.
  */
object R27Queries {

  /** Channels whose removal effect is measured (the transient touch
    * states; purchase is CONV, journey end without purchase is NULL). */
  private val Channels = Seq("view", "click", "signup", "error")

  val specs: Seq[QuerySpec] = Seq(

    // q302 — MARKOV REMOVAL-EFFECT ATTRIBUTION. Journey construction:
    // q277's sessionization (2-day gap), events ordered (ts, id),
    // truncated at the FIRST purchase (absorption); transitions are
    // START→first, consecutive pairs, and last→NULL for non-converting
    // sessions. Probabilities are floor-micro per row (cnt·1e6 div
    // row-total); absorbing states carry identity rows. The 16-step
    // conversion probability is read from P¹⁶[START, CONV] — "16
    // steps" is the declared finite horizon (journeys here are ≤
    // session length; residual transient mass after 16 steps is
    // reported via the base row so the approximation is visible, not
    // hidden). Each squaring floors products back to the micro grid —
    // integer-deterministic in both engines (truncation loses ≤1e-6
    // mass per cell per squaring, identically on both sides). Removal
    // chains redirect every edge INTO the removed channel to NULL
    // (the standard definition); attribution is each channel's share
    // of total removal effect in floor bp. One fact pass, then pure
    // ≤49-row matrix algebra.
    QuerySpec(
      "q302_markov_attribution",
      (s, d) => {
        val gap = 172800L
        val ev = t(s, d, "events")
          .select(col("user_id"), expr("unix_timestamp(ts)").as("es"),
            col("event_id"), col("event_type"))
        val w = Window.partitionBy("user_id").orderBy("es", "event_id")
        val sess = ev
          .withColumn("brk",
            when(col("es") - lag("es", 1).over(w) > gap, 1L).otherwise(0L))
          .withColumn("sid", sum("brk").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        val ws = Window.partitionBy("user_id", "sid").orderBy("es", "event_id")
        val kept = sess
          .withColumn("purch_before",
            coalesce(sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
              .over(ws.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
          .where(col("purch_before") === 0L)
          .withColumn("rn", row_number().over(ws))
          .withColumn("nxt", lead("event_type", 1).over(ws))
          // starts and mids both read this windowed pass — pin it so
          // the fact table is windowed once, not twice (q184 stance)
          .select("event_type", "rn", "nxt")
          .localCheckpoint(false)
        val starts = kept.where(col("rn") === 1)
          .select(lit("START").as("fr"),
            when(col("event_type") === "purchase", "CONV")
              .otherwise(col("event_type")).as("to"))
        val mids = kept.where(col("event_type") =!= "purchase")
          .select(col("event_type").as("fr"),
            coalesce(when(col("nxt") === "purchase", "CONV").otherwise(col("nxt")),
              lit("NULL")).as("to"))
        val counts = starts.unionByName(mids)
          .groupBy("fr", "to").agg(count(lit(1)).as("cnt"))
        val totals = counts.groupBy("fr").agg(sum("cnt").as("tot"))
        val m1 = counts.join(totals, Seq("fr"))
          .select(col("fr"), col("to"), expr("cnt * 1000000 div tot").as("p"))
          .unionByName(s.createDataFrame(Seq(("CONV", "CONV", 1000000L),
            ("NULL", "NULL", 1000000L))).toDF("fr", "to", "p"))
          .localCheckpoint(false)
        // all five chains (base + 4 removals) ride ONE chain-keyed
        // DataFrame, so the four squarings are four jobs total instead
        // of twenty — the matrix algebra stays a single pipeline of
        // (chain, fr)-keyed joins over ≤5·49 rows however many removal
        // variants are measured (6.1 → ~3.5 s at sf0.1; the remainder
        // is the inherent ~10-stage sequential depth — the q214 class.
        // P¹⁶, not P⁸: at 8 steps only 81% of the start mass is
        // absorbed vs 92% at 16 — measured, the horizon is load-
        // bearing)
        def removed(ch: String): DataFrame = m1
          .withColumn("to", when(col("to") === ch, "NULL").otherwise(col("to")))
          .groupBy("fr", "to").agg(sum("p").as("p"))
          .select(lit(ch).as("chain"), col("fr"), col("to"), col("p"))
        val mAll = (m1.select(lit("base").as("chain"), col("fr"), col("to"),
          col("p")) +: Channels.map(removed)).reduce(_ unionByName _)
        // The four squarings used to be four join+aggregate rounds over
        // the (chain, fr)-keyed rows — ~8 sequential AQE stages whose
        // fixed per-stage cost dwarfed the ≤245-row algebra. Pack each
        // chain's matrix into ONE array row instead and square with
        // higher-order functions: identical integer arithmetic
        // (Σ aᵢₖ·bₖⱼ div 1e6 — order-independent exact BIGINT sums, the
        // state list derived from the data exactly as the join derived
        // it), zero shuffles and zero joins for the whole P¹⁶ chain. A
        // (fr, to) cell the join never produced shows up here as p = 0,
        // which contributes 0 to every downstream sum and meets the same
        // coalesce(_, 0) read as the vanished row did. NOTE (ADVICE
        // r13): this means p16's ROW SET — not just its values — now
        // differs from the oracle CTE shape: a chain with no surviving
        // START→CONV path emits an explicit conv_micro = 0 row where
        // the join formulation emitted none. The current consumers
        // (the left join + coalesce below) are value-identical either
        // way, but a future consumer that COUNTS or inner-joins p16
        // rows would silently diverge from the oracle — keep reads
        // through the coalesce pattern. Consecutive
        // squarings stay separate Project levels (CollapseProject leaves
        // multiply-referenced non-cheap producers alone), so each level
        // is evaluated once per chain row.
        def sq(prev: String): String =
          s"flatten(transform(sts, f -> transform(sts, t2 -> named_struct(" +
            s"'fr', f, 'to', t2, 'p', aggregate(filter($prev, a -> a.fr = f), " +
            s"CAST(0 AS BIGINT), (acc, a) -> acc + a.p * coalesce(" +
            s"get(filter($prev, b -> b.fr = a.to AND b.to = t2), 0).p, " +
            s"CAST(0 AS BIGINT))) div 1000000))))"
        val p16 = mAll
          .groupBy("chain").agg(collect_list(struct(col("fr"), col("to"), col("p"))).as("m"))
          .withColumn("sts",
            expr("array_distinct(concat(transform(m, x -> x.fr), transform(m, x -> x.to)))"))
          .withColumn("m2", expr(sq("m")))
          .withColumn("m4", expr(sq("m2")))
          .withColumn("m8", expr(sq("m4")))
          .withColumn("m16", expr(sq("m8")))
          .select(col("chain"),
            expr("coalesce(get(filter(m16, x -> x.fr = 'START' AND x.to = 'CONV'), 0).p, CAST(0 AS BIGINT))")
              .as("conv_micro"))
          .localCheckpoint(false)
        // aggregate-coalesce both reads so a chain with NO surviving
        // path to CONV reports 0 instead of vanishing (the oracle's
        // coalesce twin)
        val base = p16.where(col("chain") === "base")
          .agg(coalesce(max("conv_micro"), lit(0L)).as("base_micro"))
        val chDf = s.createDataFrame(Channels.map(Tuple1(_))).toDF("channel")
        val rows = chDf
          .join(p16.select(col("chain").as("channel"), col("conv_micro")),
            Seq("channel"), "left")
          .crossJoin(broadcast(base))
          .select(col("channel"), col("base_micro"),
            coalesce(col("conv_micro"), lit(0L)).as("removed_micro"),
            greatest(col("base_micro") - coalesce(col("conv_micro"), lit(0L)),
              lit(0L)).as("effect_micro"))
        val totEff = rows.agg(sum("effect_micro").as("tot_eff"))
        rows.crossJoin(broadcast(totEff))
          .withColumn("attribution_bp",
            expr("effect_micro * 10000 div greatest(tot_eff, 1)"))
          .select("channel", "base_micro", "removed_micro", "effect_micro",
            "attribution_bp")
          .orderBy("channel")
      },
      Some {
        def sq(src: String, dst: String): String =
          s"$dst AS (SELECT a.fr, b.to_, sum(a.p * b.p) // 1000000 AS p FROM $src a JOIN $src b ON a.to_ = b.fr GROUP BY 1, 2)"
        def chain(m1: String, pfx: String): String =
          Seq(sq(m1, s"${pfx}2"), sq(s"${pfx}2", s"${pfx}4"),
            sq(s"${pfx}4", s"${pfx}8"), sq(s"${pfx}8", s"${pfx}16")).mkString(", ")
        def removedCte(ch: String, name: String): String =
          s"$name AS (SELECT fr, CASE WHEN to_ = '$ch' THEN 'NULL' ELSE to_ END AS to_, CAST(sum(p) AS BIGINT) AS p FROM m1 GROUP BY 1, 2)"
        val removalCtes = Channels.zipWithIndex.map { case (ch, i) =>
          removedCte(ch, s"r${i}m1") + ", " + chain(s"r${i}m1", s"r${i}m")
        }.mkString(", ")
        val effectRows = Channels.zipWithIndex.map { case (ch, i) =>
          s"SELECT '$ch' AS channel, coalesce((SELECT p FROM m16 WHERE fr = 'START' AND to_ = 'CONV'), 0) AS base_micro, coalesce((SELECT p FROM r${i}m16 WHERE fr = 'START' AND to_ = 'CONV'), 0) AS removed_micro"
        }.mkString(" UNION ALL ")
        s"""WITH ev AS (SELECT user_id, CAST(floor(epoch(CAST(ts AS TIMESTAMP))) AS BIGINT) AS es, event_id, event_type FROM events), se AS (SELECT user_id, es, event_id, event_type, CASE WHEN es - lag(es) OVER (PARTITION BY user_id ORDER BY es, event_id) > 172800 THEN 1 ELSE 0 END AS brk FROM ev), sg AS (SELECT *, sum(brk) OVER (PARTITION BY user_id ORDER BY es, event_id ROWS UNBOUNDED PRECEDING) AS sid FROM se), kp AS (SELECT *, coalesce(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) OVER (PARTITION BY user_id, sid ORDER BY es, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS pb FROM sg), k2 AS MATERIALIZED (SELECT *, row_number() OVER (PARTITION BY user_id, sid ORDER BY es, event_id) AS rn, lead(event_type) OVER (PARTITION BY user_id, sid ORDER BY es, event_id) AS nxt FROM kp WHERE pb = 0), tr AS MATERIALIZED (SELECT 'START' AS fr, CASE WHEN event_type = 'purchase' THEN 'CONV' ELSE event_type END AS to_ FROM k2 WHERE rn = 1 UNION ALL SELECT event_type, coalesce(CASE WHEN nxt = 'purchase' THEN 'CONV' ELSE nxt END, 'NULL') FROM k2 WHERE event_type <> 'purchase'), cn AS (SELECT fr, to_, count(*) AS cnt FROM tr GROUP BY 1, 2), tt AS (SELECT fr, sum(cnt) AS tot FROM cn GROUP BY 1), m1 AS MATERIALIZED (SELECT cn.fr, cn.to_, cnt * 1000000 // tot AS p FROM cn JOIN tt ON cn.fr = tt.fr UNION ALL SELECT 'CONV', 'CONV', 1000000 UNION ALL SELECT 'NULL', 'NULL', 1000000), ${chain("m1", "m")}, $removalCtes, eff AS ($effectRows), ef2 AS (SELECT channel, base_micro, removed_micro, greatest(base_micro - removed_micro, 0) AS effect_micro FROM eff) SELECT channel, CAST(base_micro AS BIGINT) AS base_micro, CAST(removed_micro AS BIGINT) AS removed_micro, CAST(effect_micro AS BIGINT) AS effect_micro, CAST(effect_micro * 10000 // greatest((SELECT sum(effect_micro) FROM ef2), 1) AS BIGINT) AS attribution_bp FROM ef2 ORDER BY channel"""
      },
      "§2.12/A ext: Markov removal-effect attribution — absorbing chain, P^16 via integer matrix squarings, one fact pass"))
}
