package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.QuerySpec

/** Round-12 seventh widening — the PRIVACY arc: k-anonymity as a
  * lattice chooser, the anonymization APPLIED, and l-diversity as the
  * escalation gate. A training-data pipeline that publishes grouped
  * microdata has to pick a GENERALIZATION level, and that choice is
  * the same shape as every chooser in this engine: a lattice of
  * candidate levels, integer costs measured from data, an argmin
  * applied, and the laws certified rather than cited.
  *
  * Microdata: one row per order with quasi-identifiers geo (nation →
  * region → *), segment (segment → *), and order year (year → 2-year
  * band → *) — an 18-node generalization lattice — plus the sensitive
  * attribute o_orderpriority. Everything aggregates from ONE
  * (nation, region, segment, year, priority) grain (≤ |N|·|S|·|Y|·|P|
  * rows — catalog-scale), never the corpus twice:
  *
  *  - q428 prices every node: groups, min group size, rows that k=10
  *    suppression would drop; meets_budget gates at 1% suppression,
  *    the chooser picks the FINEST budget-meeting node, and the
  *    generalization-monotonicity law (coarsening never increases
  *    suppression) is certified on every lattice edge;
  *  - q429 APPLIES the chosen node: the published k-anonymized table
  *    itself (generalized QI values, group sizes, sensitive diversity)
  *    with every surviving group ≥ k by construction and the
  *    discernibility bill (Σ size² + suppressed·n) next to it;
  *  - q430 escalates for l-diversity (l=4 distinct priorities in every
  *    published group): nodes ranked in the chooser's preference
  *    order, k and l gates evaluated per node, and the first node
  *    passing BOTH flagged — on sparse corpora the l-gate forces a
  *    coarser node than k alone chose, and the walk's every earlier
  *    row shows which gate refused it.
  *
  * Scale: the grain build is the only corpus pass; 18 node legs are
  * re-aggregations of grain rows (the q419 serving pattern).
  */
object R63Queries {

  private val K = 10L
  private val L = 4L

  /** One corpus pass: the (geo0, geo1, seg, year, priority) grain. */
  private[graft] def grainFrame(s: SparkSession, d: String): DataFrame =
    t(s, d, "orders")
      .join(t(s, d, "customer"), col("c_custkey") === col("o_custkey"))
      .join(t(s, d, "nation"), col("n_nationkey") === col("c_nationkey"))
      .join(t(s, d, "region"), col("r_regionkey") === col("n_regionkey"))
      .select(col("n_name").as("geo0"), col("r_name").as("geo1"),
        col("c_mktsegment").as("seg0"),
        year(col("o_orderdate")).cast("long").as("yr0"),
        col("o_orderpriority").as("sens"))
      .groupBy("geo0", "geo1", "seg0", "yr0", "sens")
      .agg(count(lit(1)).as("cnt"))
      .localCheckpoint(false)

  private val grainSql: String =
    "md AS (SELECT n_name AS geo0, r_name AS geo1, c_mktsegment AS seg0, " +
      "CAST(year(o_orderdate) AS BIGINT) AS yr0, o_orderpriority AS sens FROM orders " +
      "JOIN customer ON c_custkey = o_custkey JOIN nation ON n_nationkey = c_nationkey " +
      "JOIN region ON r_regionkey = n_regionkey), " +
      "grain AS (SELECT geo0, geo1, seg0, yr0, sens, count(*) AS cnt FROM md GROUP BY 1, 2, 3, 4, 5), " +
      "nn AS (SELECT CAST(sum(cnt) AS BIGINT) AS n FROM grain)"

  /** The per-attribute generalization expressions; `dv` is the integer
    * division token ("div" for Spark, "//" for DuckDB) — the only text
    * difference between the engines.
    */
  private def qiExprs(g: Int, s2: Int, y: Int, dv: String): (String, String, String) = (
    Seq("geo0", "geo1", "'*'")(g),
    Seq("seg0", "'*'")(s2),
    y match {
      case 0 => "concat('y', yr0)"
      case 1 => s"concat('b', (yr0 - 1995) $dv 2)"
      case 2 => "'*'"
    })

  private val lattice: Seq[(Int, Int, Int)] =
    for { g <- 0 to 2; s2 <- 0 to 1; y <- 0 to 2 } yield (g, s2, y)

  /** ALL 18 nodes' group frames from ONE Expand pass over the grain:
    * each grain row explodes into its 18 generalized keys, one
    * aggregation grades every lattice node at once (the q419 cube
    * pattern — at 100 TB this is one grain-sized shuffle, not 18
    * re-aggregations).
    */
  private[graft] def nodeGroupsAll(grain: DataFrame): DataFrame =
    grain.select(col("sens"), col("cnt"), explode(array(lattice.map { case (g, s2, y) =>
        val (gx, sx, yx) = qiExprs(g, s2, y, "div")
        struct(lit(g.toLong).as("g"), lit(s2.toLong).as("s"), lit(y.toLong).as("y"),
          expr(gx).as("qg"), expr(sx).as("qs"), expr(yx).cast("string").as("qy"))
      }: _*)).as("z"))
      .select(col("z.g").as("g"), col("z.s").as("s"), col("z.y").as("y"),
        col("z.qg").as("qg"), col("z.qs").as("qs"), col("z.qy").as("qy"),
        col("sens"), col("cnt"))
      .groupBy("g", "s", "y", "qg", "qs", "qy")
      .agg(sum("cnt").as("size"), countDistinct("sens").cast("long").as("sdiv"))

  private[graft] def allNodes(grain: DataFrame): DataFrame =
    nodeGroupsAll(grain).groupBy("g", "s", "y").agg(
      count(lit(1)).as("groups"), min("size").as("min_group"),
      sum(when(col("size") < K, col("size")).otherwise(0L)).as("suppressed"),
      sum(when(col("size") >= K, 1L).otherwise(0L)).as("kept_groups"),
      coalesce(min(when(col("size") >= K, col("sdiv"))), lit(0L)).as("min_sdiv_kept"),
      sum(when(col("size") >= K, col("size") * col("size")).otherwise(0L)).as("kept_disc"))
      .localCheckpoint(false)

  /** The same 18 node legs as oracle SQL. */
  private def nodesSql: String =
    lattice.map { case (g, s2, y) =>
      val (gx, sx, yx) = qiExprs(g, s2, y, "//")
      s"SELECT $g AS g, $s2 AS s, $y AS y, count(*) AS groups, min(size) AS min_group, " +
        s"sum(CASE WHEN size < $K THEN size ELSE 0 END) AS suppressed, " +
        s"sum(CASE WHEN size >= $K THEN 1 ELSE 0 END) AS kept_groups, " +
        s"coalesce(min(CASE WHEN size >= $K THEN sdiv END), 0) AS min_sdiv_kept, " +
        s"sum(CASE WHEN size >= $K THEN size * size ELSE 0 END) AS kept_disc " +
        s"FROM (SELECT $gx AS qg, $sx AS qs, CAST($yx AS VARCHAR) AS qy, sum(cnt) AS size, " +
        s"count(DISTINCT sens) AS sdiv FROM grain GROUP BY 1, 2, 3) t"
    }.mkString("nodes AS (", " UNION ALL ", ")")

  /** Chooser: finest budget-meeting node (groups desc, level asc). */
  private val chooserSql: String =
    "pick AS (SELECT g, s, y FROM nodes CROSS JOIN nn " +
      "WHERE suppressed * 100 <= n ORDER BY groups DESC, g + s + y, g, s, y LIMIT 1)"

  private def pickFrame(nodes: DataFrame, nn: DataFrame): DataFrame =
    nodes.crossJoin(broadcast(nn)).where(expr("suppressed * 100 <= n"))
      .orderBy(col("groups").desc, expr("g + s + y"), col("g"), col("s"), col("y"))
      .limit(1).select(col("g").as("pg"), col("s").as("ps"), col("y").as("py"))
      .localCheckpoint(false)

  val specs: Seq[QuerySpec] = Seq(

    // q428 — THE k-ANONYMITY GENERALIZATION LATTICE: every one of the
    // 18 (geo, segment, year) generalization levels priced from the
    // single grain pass — groups published, smallest group, and the
    // rows k=10 suppression would have to drop. meets_budget gates at
    // 1% suppression; the chooser (finest budget-meeting node: max
    // groups, ties to the lower level) is the publication level a
    // data-release pipeline ships. The LAW of the lattice is certified
    // edge by edge: generalizing any one attribute merges groups, so
    // suppression can only fall — mono_ok checks suppressed(parent) <=
    // suppressed(node) against all (up to three) coarser neighbors,
    // from data, on every node. At sparse SFs the finest nodes blow
    // the budget (hundreds of sub-k groups); as the corpus grows the
    // SAME chooser slides toward finer levels — anonymity capacity
    // scales with data, and the frame shows exactly where the boundary
    // sits. Scale: one corpus pass builds the grain; 18 legs totaling
    // a few thousand grain-row aggregations price the whole lattice.
    QuerySpec(
      "q428_kanon_lattice",
      (s, d) => {
        val grain = grainFrame(s, d)
        val nodes = allNodes(grain)
        val nn = grain.agg(sum("cnt").as("n")).localCheckpoint(false)
        val pick = pickFrame(nodes, nn)
        def parent(dg: Int, ds: Int, dy: Int, nm: String): DataFrame =
          nodes.select((col("g") - dg).as("g"), (col("s") - ds).as("s"),
            (col("y") - dy).as("y"), col("suppressed").as(nm))
        nodes
          .join(parent(1, 0, 0, "sup_pg"), Seq("g", "s", "y"), "left")
          .join(parent(0, 1, 0, "sup_ps"), Seq("g", "s", "y"), "left")
          .join(parent(0, 0, 1, "sup_py"), Seq("g", "s", "y"), "left")
          .crossJoin(broadcast(nn)).crossJoin(broadcast(pick))
          .select(col("g"), col("s"), col("y"),
            expr("g + s + y").as("level"),
            col("groups"), col("min_group"), col("suppressed"),
            expr("CAST(CASE WHEN suppressed * 100 <= n THEN 1 ELSE 0 END AS BIGINT)")
              .as("meets_budget"),
            expr("CAST(CASE WHEN coalesce(sup_pg, 0) <= suppressed AND coalesce(sup_ps, 0) <= suppressed AND coalesce(sup_py, 0) <= suppressed THEN 1 ELSE 0 END AS BIGINT)")
              .as("mono_ok"),
            expr("CAST(CASE WHEN g = pg AND s = ps AND y = py THEN 1 ELSE 0 END AS BIGINT)")
              .as("chosen"))
          .orderBy("g", "s", "y")
      },
      Some(
        s"""WITH $grainSql, $nodesSql, $chooserSql SELECT CAST(n0.g AS BIGINT) AS g, CAST(n0.s AS BIGINT) AS s, CAST(n0.y AS BIGINT) AS y, CAST(n0.g + n0.s + n0.y AS BIGINT) AS level, CAST(n0.groups AS BIGINT) AS groups, CAST(n0.min_group AS BIGINT) AS min_group, CAST(n0.suppressed AS BIGINT) AS suppressed, CAST(CASE WHEN n0.suppressed * 100 <= nn.n THEN 1 ELSE 0 END AS BIGINT) AS meets_budget, CAST(CASE WHEN coalesce(pg.suppressed, 0) <= n0.suppressed AND coalesce(ps.suppressed, 0) <= n0.suppressed AND coalesce(py.suppressed, 0) <= n0.suppressed THEN 1 ELSE 0 END AS BIGINT) AS mono_ok, CAST(CASE WHEN n0.g = pick.g AND n0.s = pick.s AND n0.y = pick.y THEN 1 ELSE 0 END AS BIGINT) AS chosen FROM nodes n0 LEFT JOIN nodes pg ON pg.g = n0.g + 1 AND pg.s = n0.s AND pg.y = n0.y LEFT JOIN nodes ps ON ps.g = n0.g AND ps.s = n0.s + 1 AND ps.y = n0.y LEFT JOIN nodes py ON py.g = n0.g AND py.s = n0.s AND py.y = n0.y + 1 CROSS JOIN nn CROSS JOIN pick ORDER BY g, s, y"""),
      "A/P ext: the k-anonymity generalization lattice — all 18 (geo, segment, year) levels priced from one grain pass (groups, min group, k=10 suppression rows), the 1%-budget chooser picking the finest publishable level, and the generalization-monotonicity law (coarsening never increases suppression) certified on every lattice edge"),

    // q429 — THE ANONYMIZATION APPLIED: the actual published table at
    // q428's chosen node — generalized QI values, group size, and the
    // sensitive-attribute diversity of every SURVIVING group (size >=
    // k; sub-k groups are suppressed, which is what makes the output
    // k-anonymous BY CONSTRUCTION — min published size >= 10 is a
    // property of every row here, not a summary claim). Alongside each
    // row the node-level bill: rows published vs suppressed, and the
    // discernibility metric (Σ size² over published groups +
    // suppressed·n — the standard information-loss price where every
    // suppressed row is indistinguishable from the whole corpus).
    // All 18 candidate tables are derived from the grain and the
    // chosen one selected by the chooser frame — the apply is the
    // chooser's output, not a human's. Scale: the published table is
    // group-level (≤ grain rows); the corpus was read once, by the
    // grain build.
    QuerySpec(
      "q429_kanon_applied",
      (s, d) => {
        val grain = grainFrame(s, d)
        val nodes = allNodes(grain)
        val nn = grain.agg(sum("cnt").as("n")).localCheckpoint(false)
        val pick = pickFrame(nodes, nn)
        val all18 = nodeGroupsAll(grain)
        val bill = nodes.crossJoin(broadcast(pick))
          .where(expr("g = pg AND s = ps AND y = py"))
          .crossJoin(broadcast(nn))
          .select(col("suppressed"), col("kept_groups"),
            expr("n - suppressed").as("published_rows"),
            expr("kept_disc + suppressed * n").as("discernibility"))
        all18.crossJoin(broadcast(pick))
          .where(expr("g = pg AND s = ps AND y = py AND size >= " + K))
          .crossJoin(broadcast(bill))
          .select(col("qg").as("geo"), col("qs").as("segment"), col("qy").as("yearband"),
            col("size"), col("sdiv").as("sens_distinct"),
            col("published_rows"), col("suppressed"), col("discernibility"))
          .orderBy("geo", "segment", "yearband")
      },
      Some(
        s"""WITH $grainSql, $nodesSql, $chooserSql, all18 AS (${lattice.map { case (g, s2, y) =>
          val (gx, sx, yx) = qiExprs(g, s2, y, "//")
          s"SELECT $g AS g, $s2 AS s, $y AS y, qg, qs, qy, size, sdiv FROM (SELECT $gx AS qg, $sx AS qs, CAST($yx AS VARCHAR) AS qy, sum(cnt) AS size, count(DISTINCT sens) AS sdiv FROM grain GROUP BY 1, 2, 3) t"
        }.mkString(" UNION ALL ")}), bill AS (SELECT n0.suppressed, n0.kept_groups, nn.n - n0.suppressed AS published_rows, n0.kept_disc + n0.suppressed * nn.n AS discernibility FROM nodes n0 JOIN pick ON n0.g = pick.g AND n0.s = pick.s AND n0.y = pick.y CROSS JOIN nn) SELECT a.qg AS geo, a.qs AS segment, a.qy AS yearband, CAST(a.size AS BIGINT) AS size, CAST(a.sdiv AS BIGINT) AS sens_distinct, CAST(bill.published_rows AS BIGINT) AS published_rows, CAST(bill.suppressed AS BIGINT) AS suppressed, CAST(bill.discernibility AS BIGINT) AS discernibility FROM all18 a JOIN pick ON a.g = pick.g AND a.s = pick.s AND a.y = pick.y CROSS JOIN bill WHERE a.size >= $K ORDER BY geo, segment, yearband"""),
      "A/P ext: the anonymization APPLIED — the published k-anonymized table at the chosen lattice node (generalized QI values, group sizes, per-group sensitive diversity), k>=10 by construction on every row, with the suppression and discernibility (sum size^2 + suppressed*n) bill alongside; the apply is driven by the chooser frame, not a hardcoded level"),

    // q430 — l-DIVERSITY: THE ESCALATION GATE. k-anonymity bounds
    // re-identification, not attribute disclosure: a published group
    // where every order shares one priority leaks it. The l=4 gate
    // demands 4 distinct priorities in EVERY published group. Nodes
    // are ranked in the q428 chooser's preference order (finest
    // first); each gets k_ok (the 1% budget) and l_ok (min kept-group
    // diversity >= 4, with at least one kept group) evaluated from
    // the same grain; the first rank passing BOTH is the l-diverse
    // publication level. On sparse corpora the l-gate REFUSES nodes k
    // alone accepted — small kept groups miss priorities — and the
    // walk records which gate refused every finer node; on rich
    // corpora the two choosers converge (diversity capacity also
    // scales with data). Scale: identical to q428 — grain once, 18
    // metadata legs.
    QuerySpec(
      "q430_ldiversity_escalation",
      (s, d) => {
        val grain = grainFrame(s, d)
        val nodes = allNodes(grain)
        val nn = grain.agg(sum("cnt").as("n")).localCheckpoint(false)
        val ranked = nodes.crossJoin(broadcast(nn))
          .withColumn("k_ok",
            expr("CAST(CASE WHEN suppressed * 100 <= n THEN 1 ELSE 0 END AS BIGINT)"))
          .withColumn("l_ok",
            expr(s"CAST(CASE WHEN kept_groups > 0 AND min_sdiv_kept >= $L THEN 1 ELSE 0 END AS BIGINT)"))
          .withColumn("rank", row_number().over(
            org.apache.spark.sql.expressions.Window.orderBy(
              col("groups").desc, expr("g + s + y"), col("g"), col("s"), col("y")))
            .cast("long"))
        val first = ranked.where(expr("k_ok = 1 AND l_ok = 1"))
          .agg(min("rank").as("first_kl")).localCheckpoint(false)
        ranked.crossJoin(broadcast(first))
          .select(col("rank"), col("g"), col("s"), col("y"), col("groups"),
            col("kept_groups"), col("min_sdiv_kept"), col("k_ok"), col("l_ok"),
            expr("CAST(CASE WHEN rank = first_kl THEN 1 ELSE 0 END AS BIGINT)")
              .as("chosen_kl"))
          .orderBy("rank")
      },
      Some(
        s"""WITH $grainSql, $nodesSql, ranked AS (SELECT n0.*, CASE WHEN n0.suppressed * 100 <= nn.n THEN 1 ELSE 0 END AS k_ok, CASE WHEN n0.kept_groups > 0 AND n0.min_sdiv_kept >= $L THEN 1 ELSE 0 END AS l_ok, row_number() OVER (ORDER BY n0.groups DESC, n0.g + n0.s + n0.y, n0.g, n0.s, n0.y) AS rank FROM nodes n0 CROSS JOIN nn), first AS (SELECT min(rank) AS first_kl FROM ranked WHERE k_ok = 1 AND l_ok = 1) SELECT CAST(rank AS BIGINT) AS rank, CAST(g AS BIGINT) AS g, CAST(s AS BIGINT) AS s, CAST(y AS BIGINT) AS y, CAST(groups AS BIGINT) AS groups, CAST(kept_groups AS BIGINT) AS kept_groups, CAST(min_sdiv_kept AS BIGINT) AS min_sdiv_kept, CAST(k_ok AS BIGINT) AS k_ok, CAST(l_ok AS BIGINT) AS l_ok, CAST(CASE WHEN rank = first_kl THEN 1 ELSE 0 END AS BIGINT) AS chosen_kl FROM ranked CROSS JOIN first ORDER BY rank"""),
      "A/P ext: l-diversity escalation — the 18 lattice nodes walked in the k-chooser's preference order with the k budget and the l=4 minimum kept-group diversity both evaluated per node; the first node passing both gates is the publication level, and every finer node's row records which gate refused it (k-anonymity alone can pass where attribute disclosure still leaks)"))
}
