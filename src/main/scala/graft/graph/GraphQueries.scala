package graft.graph

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{QueryDef, Tables}

/** Graph-shaped gate queries over the synthetic corpus. The graph is the
  * customer–supplier bipartite graph induced by orders⋈lineitem, with node
  * ids disjointly encoded (customer -> 2k, supplier -> 2k+1).
  *
  * g01/g02 are the DataFrame formulations of the reference's Cypher
  * pattern-match queries (SURVEY §2.10 Q1/Q4/Q8 shapes: neighbour counts
  * and multi-hop joins). g03 runs GraphX connected components against a
  * recursive-SQL min-label oracle. g04/g05 are the iterative GDS-style
  * algorithms (ArticleRank / label propagation) — no SQL oracle (rows-only
  * driver check); their math is pinned by hand-computed fixtures in
  * GraphAlgsSpec.
  */
object GraphQueries {
  /** Distinct customer–supplier edges (encoded ids). */
  private def edges(s: SparkSession, dir: String, filtered: Boolean): DataFrame = {
    val o = Tables.load(s, dir, "orders")
    val li = Tables.load(s, dir, "lineitem")
    val j = o.join(li, col("o_orderkey") === col("l_orderkey"))
    val base = if (filtered)
      j.filter(col("l_quantity") === 1 && month(col("l_shipdate")) === 1)
    else j
    base.select(
      (col("o_custkey") * 2).as("a"),
      (col("l_suppkey") * 2 + 1).as("b"))
      .distinct()
  }

  /** Q1-shape: neighbour count per node ("tag frequency"). */
  val g01 = QueryDef(
    "g01_degree",
    "per-supplier degree in the customer-supplier graph (Q1 shape)",
    (s, dir) =>
      edges(s, dir, filtered = false)
        .groupBy(col("b").as("supplier_node"))
        .agg(count(lit(1)).as("degree"))
        .orderBy(col("degree").desc, col("supplier_node")),
    Some("""SELECT b AS supplier_node, COUNT(*) AS degree
      FROM (SELECT DISTINCT o_custkey*2 AS a, l_suppkey*2+1 AS b
            FROM orders JOIN lineitem ON o_orderkey = l_orderkey) e
      GROUP BY b ORDER BY degree DESC, supplier_node"""))

  /** Q4/Q8-shape: 2-hop pattern match — pairs of (sampled) customers
    * connected through a shared supplier, with common-neighbour count.
    */
  val g02 = QueryDef(
    "g02_two_hop",
    "2-hop common-supplier customer pairs (Q4 shape)",
    (s, dir) => {
      val e = edges(s, dir, filtered = false)
        // a = custkey*2, so a % 200 == 0 ⟺ custkey % 100 == 0 — the oracle
        // filters o_custkey % 100 = 0 BEFORE the encoding; keep in sync if
        // the 2k/2k+1 node encoding ever changes
        .filter(col("a") % 200 === 0)
      e.as("x").join(e.as("y"),
          col("x.b") === col("y.b") && col("x.a") < col("y.a"))
        .groupBy(col("x.a").as("cust_a"), col("y.a").as("cust_b"))
        .agg(count(lit(1)).as("common_suppliers"))
        .orderBy(col("cust_a"), col("cust_b"))
    },
    Some("""WITH e AS (SELECT DISTINCT o_custkey*2 AS a, l_suppkey*2+1 AS b
              FROM orders JOIN lineitem ON o_orderkey = l_orderkey
              WHERE o_custkey % 100 = 0)
      SELECT x.a AS cust_a, y.a AS cust_b, COUNT(*) AS common_suppliers
      FROM e x JOIN e y ON x.b = y.b AND x.a < y.a
      GROUP BY x.a, y.a ORDER BY cust_a, cust_b"""))

  /** [[GraphAlgs.connectedComponents]] vs a recursive min-label-propagation
    * SQL oracle (both define component = min reachable node id).
    */
  val g03 = QueryDef(
    "g03_connected_components",
    "GraphX CC on sparsified graph vs recursive-SQL min-label oracle",
    (s, dir) => {
      GraphAlgs.connectedComponents(edges(s, dir, filtered = true), "a", "b")
        .orderBy(col("node_id"))
    },
    Some("""WITH RECURSIVE
      edges AS (SELECT DISTINCT o_custkey*2 AS a, l_suppkey*2+1 AS b
                FROM orders JOIN lineitem ON o_orderkey = l_orderkey
                WHERE l_quantity = 1 AND month(l_shipdate) = 1),
      undirected AS (SELECT a, b FROM edges UNION SELECT b AS a, a AS b FROM edges),
      nodes AS (SELECT DISTINCT a AS node FROM undirected),
      walk(node, lbl) AS (
        SELECT node, node AS lbl FROM nodes
        UNION
        SELECT u.b AS node, w.lbl FROM walk w JOIN undirected u ON u.a = w.node
        WHERE w.lbl < u.b)
      SELECT node AS node_id, MIN(lbl) AS component
      FROM walk GROUP BY node ORDER BY node_id"""))

  /** Unrolled-CTE DuckDB oracle for ArticleRank: rank step k is one
    * join + group-by CTE over the static edge+denominator table (the
    * same SQL-codegen trick as DedupOps.minhashPairsSql). Every input to
    * the recurrence is an exactly-represented integer-valued double
    * (degrees, counts) except the running rank, so the only cross-engine
    * divergence is float SUMMATION ORDER in each superstep's message
    * aggregate — ~1e-13 after 20 iterations, absorbed by rounding both
    * sides to 6 dp. The ORDER BY uses the rounded score (+ node_id), so
    * the top-50 cut is identical in both engines even at rank ties.
    */
  private def articleRankSql(iters: Int, damping: Double): String = {
    // AS MATERIALIZED: without it DuckDB inlines the single-use CTE chain,
    // replaying the orders⋈lineitem edge build inside every superstep —
    // measured 195 s at sf0.01 vs ~1 s materialized
    val steps = (1 to iters).map { k =>
      s"""r$k AS MATERIALIZED (SELECT v.node_id, ${1.0 - damping} + $damping * COALESCE(m.msg, 0.0) AS r
        FROM verts v LEFT JOIN (
          SELECT e.dst, SUM(r.r / e.denom) AS msg
          FROM ewd e JOIN r${k - 1} r ON e.src = r.node_id
          GROUP BY e.dst) m ON v.node_id = m.dst)"""
    }.mkString(",\n      ")
    s"""WITH edges AS MATERIALIZED (SELECT DISTINCT o_custkey*2 AS a, l_suppkey*2+1 AS b
              FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
      und AS MATERIALIZED (SELECT a AS src, b AS dst FROM edges
              UNION ALL SELECT b AS src, a AS dst FROM edges),
      verts AS MATERIALIZED (SELECT DISTINCT src AS node_id FROM und),
      deg AS MATERIALIZED (SELECT src AS node_id, CAST(COUNT(*) AS DOUBLE) AS d
              FROM und GROUP BY 1),
      ewd AS MATERIALIZED (SELECT u.src, u.dst,
                d.d + (SELECT CAST(COUNT(*) AS DOUBLE) FROM und)
                        / (SELECT COUNT(*) FROM verts) AS denom
              FROM und u JOIN deg d ON u.src = d.node_id),
      r0 AS MATERIALIZED (SELECT node_id, 1.0 AS r FROM verts),
      $steps
      SELECT node_id, round(r, 6) AS score FROM r$iters
      ORDER BY score DESC, node_id LIMIT 50"""
  }

  /** GDS articleRank analog (Writeup.pdf §Queries Q1/Q3) — top 50 nodes.
    * Runs on the broadcast-pull path ([[GraphAlgs.articleRankPull]]): the
    * edge table shuffles ONCE into dst-partitioned CSR arrays, then every
    * superstep is one shuffle-free narrow job against a broadcast
    * V-sized contribution vector — the right plan whenever the vertex
    * set fits the broadcast guard (it falls back to the GraphX
    * shuffle-superstep path above 1M vertices). It calls the pull path
    * directly, without [[GraphAlgs.articleRankDF]]'s driver-limit probe
    * and with the default `dedupeEdges = true` (the oracle's distinct
    * undirected edges). Float parity
    * with [[GraphAlgs.articleRankDF]]'s driver-local path and
    * [[GraphAlgs.articleRankGraphX]] is pinned in GraphAlgsSpec; the
    * 6-dp-rounded result is oracled in DuckDB by an unrolled 20-step CTE
    * chain.
    */
  val g04 = QueryDef(
    "g04_articlerank",
    "ArticleRank top-50 on the undirected customer-supplier graph",
    (s, dir) => {
      // the RAW join output goes in — articleRankPull's sorted pack
      // dedupes consecutive rows, so the distinct() shuffle the other
      // graph gates pay is folded into the one CSR shuffle here
      val o = Tables.load(s, dir, "orders")
      val li = Tables.load(s, dir, "lineitem")
      val raw = o.join(li, col("o_orderkey") === col("l_orderkey"))
        .select((col("o_custkey") * 2).as("a"), (col("l_suppkey") * 2 + 1).as("b"))
      GraphAlgs.articleRankPull(raw, iters = 20, undirected = true)
        .select(col("node_id"), round(col("rank"), 6).as("score"))
        .orderBy(col("score").desc, col("node_id"))
        .limit(50)
    },
    Some(articleRankSql(iters = 20, damping = 0.85)))

  /** Q7 (gds.louvain.write): real modularity-greedy Louvain (deterministic
    * — parity-alternating moves, min-member relabel; math pinned by
    * GraphAlgsSpec clique fixtures). The community HISTOGRAM a user would
    * read is [[louvainHistogram]]; the gate emits the invariant row below
    * because no SQL engine can replay the greedy move sequence.
    *
    * Invariant-gate design (VERDICT r2 task 1): the Spark side measures,
    * the oracle independently recomputes everything SQL can reach —
    *   - n_nodes / sym_edges (m2) / n_components: exact integers, both
    *     engines compute from the raw tables (components via the same
    *     recursive min-label CTE as g03's oracle);
    *   - cc_mod_num: the exact-integer numerator of the CC partition's
    *     modularity, Q·m2² = within·m2 − Σc degc² (within/degsq/m2 are
    *     edge & degree counts — int64 end to end, no float anywhere);
    *     Spark computes `within` by actually joining the assignment (it
    *     equals m2 iff CC is right), the oracle derives degsq from its
    *     own CTE components;
    *   - valid_partition_nodes / refines_components_n /
    *     louvain_floor_edges / comms_ge_comps_nodes: Louvain-specific
    *     invariants VALUE-ENCODED in the g06 style (r9 — no literal-TRUE
    *     pins left): the Spark side emits an oracle-recomputable value
    *     (n_nodes / n_components / m2) only when the invariant holds and
    *     −1 otherwise. The invariants: the assignment is a bijection over
    *     the vertex set, every community lies inside ONE connected
    *     component (greedy moves must never cross an edgeless boundary),
    *     its modularity is ≥ 95 % of the CC partition's (compared in
    *     exact integer form, no float — measured 98.4 % at sf0.01 /
    *     97.4 % at sf0.1; Louvain legitimately stops at local optima
    *     slightly below the coarse CC partition on this sparse graph),
    *     and refining components can only increase the community count.
    *     A broken Louvain (lost nodes, cross-component merges,
    *     degenerate singleton collapse) turns one value into −1 and
    *     hash-fails the gate.
    */
  /** Every scalar the Louvain invariant gates read: g05/g06 on the
    * unweighted Q7 graph, g08 on the multiplicity-weighted one. The
    * unweighted graph is the weighted one with every edge weight fixed
    * at 1, so one set of formulas serves both: m2 = Σ symmetrized weight,
    * degree = weighted degree, modularity numerators Q·m2² = within·m2 −
    * Σc degc², all exact int64.
    */
  private[graph] final case class LouvainStats(
      m2: Long, nNodes: Long, nComps: Long, maxCsz: Long,
      nComms: Long, minSize: Long, maxSize: Long, sumSizes: Long,
      ccModNum: Long, lvModNum: Long, valid: Boolean, refines: Boolean)

  /** One edge build, one Louvain, one CC, three scalar jobs (VERDICT r6
    * item 5 — the per-invariant actions used to be ~6 separate jobs):
    *   1. validity/counts/refinement aggregate over the full-outer
    *      (assign ⋈ cc ⋈ deg) table;
    *   2. within-community/-component edge weight sums (one edge join);
    *   3. a fused explode pass computing, for both partitions at once,
    *      the exact-integer modularity piece Σc (Σdeg)² and the
    *      community-size histogram stats (count/min/max/sum).
    * `weighted`: each edge weighs its (cust, supp) pair multiplicity in
    * the filtered orders⋈lineitem rows (g08); otherwise every distinct
    * edge weighs 1 (g05, g06).
    */
  private def louvainStats(s: SparkSession, dir: String,
      weighted: Boolean): LouvainStats = {
    val o = Tables.load(s, dir, "orders")
    val li = Tables.load(s, dir, "lineitem")
    // `edges(filtered = true)` with a weight column: the groupBy's key set
    // IS the distinct edge set, so it replaces the distinct()
    val wEdges = o.join(li, col("o_orderkey") === col("l_orderkey"))
      .filter(col("l_quantity") === 1 && month(col("l_shipdate")) === 1)
      .groupBy((col("o_custkey") * 2).as("src"),
        (col("l_suppkey") * 2 + 1).as("dst"))
      .agg((if (weighted) count(lit(1)) else lit(1L)).cast("long").as("weight"))
      .cache()
    // shared representation with the oracles: symmetrized distinct edges.
    // wEdges is distinct and loop-free by construction (customer ids
    // even, supplier ids odd), so the union halves cannot collide — no
    // distinct() needed.
    val wUnd = wEdges
      .union(wEdges.select(col("dst").as("src"), col("src").as("dst"),
        col("weight")))
      .cache()
    val und = wUnd.select(col("src"), col("dst"))
    val deg = wUnd.groupBy(col("src").as("node_id"))
      .agg(sum(col("weight")).as("deg"))
      .cache()
    // one scalar job: node count + 2m (= Σ deg, every und edge lands in
    // exactly one src degree)
    val dstat = deg.agg(count(lit(1)), coalesce(sum(col("deg")), lit(0L))).head()
    val nNodes = dstat.getLong(0)
    val m2 = dstat.getLong(1)
    // vertex-sized sides: broadcast only below the same limit the
    // iterative algorithms use (at 100 TB these fall back to shuffles)
    def small(df: DataFrame): DataFrame =
      if (nNodes < 1000000L) broadcast(df) else df

    // 2 levels / 4 sweeps: the gate graph converges within these budgets;
    // each extra sweep is pure fixed overhead at gate SF. Unit weights
    // hand Louvain the cached undirected edge list directly.
    val assign =
      (if (weighted) GraphAlgs.louvainDF(wEdges, maxLevels = 2, maxSweeps = 4)
       else GraphAlgs.louvainUnd(und, maxLevels = 2, maxSweeps = 4))
        .localCheckpoint(true)
    val cc = GraphAlgs.connectedComponents(und, "src", "dst")

    // full-outer (node -> community, component, degree) table: a missing
    // side anywhere (lost/extra/duplicated assignment rows) surfaces as a
    // null flag in the single validity aggregate
    val ext = assign.toDF("node_id", "lc")
      .join(cc.toDF("node_id", "ccmp"), Seq("node_id"), "full")
      .join(deg, Seq("node_id"), "full")
      .cache()
    val v = ext.agg(
      count(lit(1)),
      countDistinct(col("node_id")),
      countDistinct(col("ccmp")),
      count(when(col("lc").isNull || col("ccmp").isNull || col("deg").isNull, 1)),
      countDistinct(col("lc")),
      // refines ⟺ every community meets exactly one component ⟺
      // #distinct (community, ccmp) pairs == #distinct community
      countDistinct(col("lc"), col("ccmp"))).head()
    val Seq(rows, nd, nComps, bad, nComms, nPairs) = (0 until 6).map(v.getLong)

    // exact integer modularity pieces Q·m2² = within·m2 − Σc degc², for
    // both partitions in ONE edge join
    val within = wUnd
      .join(small(ext.select(col("node_id").as("src"), col("lc").as("lcs"),
        col("ccmp").as("ccs"))), Seq("src"))
      .join(small(ext.select(col("node_id").as("dst"), col("lc").as("lcd"),
        col("ccmp").as("ccd"))), Seq("dst"))
      .agg(coalesce(sum(when(col("lcs") === col("lcd"), col("weight"))), lit(0L)),
        coalesce(sum(when(col("ccs") === col("ccd"), col("weight"))), lit(0L)))
      .head()

    // fused per-partition pass: explode each node into its Louvain and CC
    // memberships, aggregate once per community, then once per partition:
    // degree-mass squares for both modularity numerators AND the size
    // histograms in a single job
    val ps = ext.select(explode(array(
        struct(lit("l").as("k"), col("lc").as("cid"), col("deg").as("d")),
        struct(lit("c").as("k"), col("ccmp").as("cid"), col("deg").as("d"))))
        .as("kc"))
      .select(col("kc.k").as("k"), col("kc.cid").as("cid"), col("kc.d").as("d"))
      .groupBy(col("k"), col("cid"))
      .agg(coalesce(sum(col("d")), lit(0L)).as("dmass"),
        count(lit(1)).as("sz"))
      .groupBy(col("k"))
      .agg(coalesce(sum(col("dmass") * col("dmass")), lit(0L)).as("degsq"),
        coalesce(min(col("sz")), lit(0L)).as("mn"),
        coalesce(max(col("sz")), lit(0L)).as("mx"),
        coalesce(sum(col("sz")), lit(0L)).as("ssum"))
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    val (dl, minSz, maxSz, sumSz) = ps.getOrElse("l", (0L, 0L, 0L, 0L))
    val (dc, _, maxCsz, _) = ps.getOrElse("c", (0L, 0L, 0L, 0L))

    // every invariant is computed — release the caches so nothing squats
    // on executor storage into the next query
    Seq(ext, deg, wUnd, wEdges).foreach(_.unpersist(blocking = false))
    LouvainStats(m2 = m2, nNodes = nNodes, nComps = nComps, maxCsz = maxCsz,
      nComms = nComms, minSize = minSz, maxSize = maxSz, sumSizes = sumSz,
      ccModNum = within.getLong(1) * m2 - dc,
      lvModNum = within.getLong(0) * m2 - dl,
      valid = rows == nNodes && nd == nNodes && bad == 0L,
      refines = nComms == nPairs)
  }

  val g05 = QueryDef(
    "g05_communities",
    "Louvain partition invariants + CC-modularity cross-check (Q7)",
    (s, dir) => {
      import s.implicits._
      val st = louvainStats(s, dir, weighted = false)
      // value-encoded invariants (r9: no literal-TRUE pins left) — each
      // Louvain-specific invariant emits a value the oracle independently
      // recomputes from the raw tables, or -1 when it fails:
      //   comms_ge_comps_nodes  -> n_nodes  iff nComms >= nComps
      //   louvain_floor_edges   -> m2       iff lvQ >= 95% of ccQ (exact ints)
      //   refines_components_n  -> n_comps  iff every community in ONE component
      //   valid_partition_nodes -> n_nodes  iff assignment is a vertex bijection
      Seq((st.ccModNum,
        if (st.nComms >= st.nComps) st.nNodes else -1L,
        if (st.lvModNum * 100L >= st.ccModNum * 95L) st.m2 else -1L,
        st.nComps, st.nNodes,
        if (st.refines) st.nComps else -1L,
        st.m2,
        if (st.valid) st.nNodes else -1L))
        .toDF("cc_mod_num", "comms_ge_comps_nodes", "louvain_floor_edges",
          "n_components", "n_nodes", "refines_components_n", "sym_edges",
          "valid_partition_nodes")
    },
    Some("""WITH RECURSIVE
      edges AS (SELECT DISTINCT o_custkey*2 AS a, l_suppkey*2+1 AS b
                FROM orders JOIN lineitem ON o_orderkey = l_orderkey
                WHERE l_quantity = 1 AND month(l_shipdate) = 1),
      und AS (SELECT a AS src, b AS dst FROM edges
              UNION SELECT b AS src, a AS dst FROM edges),
      deg AS (SELECT src, COUNT(*) AS d FROM und GROUP BY src),
      walk(node, lbl) AS (
        SELECT src, src AS lbl FROM deg
        UNION
        SELECT u.dst AS node, w.lbl FROM walk w JOIN und u ON u.src = w.node
        WHERE w.lbl < u.dst),
      comp AS (SELECT node, MIN(lbl) AS component FROM walk GROUP BY node),
      degc AS (SELECT c.component, SUM(d.d) AS dc
               FROM comp c JOIN deg d ON c.node = d.src GROUP BY 1),
      stats AS (SELECT
        (SELECT COUNT(*) FROM und) AS m2,
        (SELECT COUNT(*) FROM deg) AS n_nodes,
        (SELECT COUNT(DISTINCT component) FROM comp) AS n_components,
        (SELECT SUM(dc*dc) FROM degc) AS degsq)
      SELECT
        CAST(m2*m2 - degsq AS BIGINT) AS cc_mod_num,
        CAST(n_nodes AS BIGINT) AS comms_ge_comps_nodes,
        CAST(m2 AS BIGINT) AS louvain_floor_edges,
        n_components, n_nodes,
        CAST(n_components AS BIGINT) AS refines_components_n,
        m2 AS sym_edges,
        CAST(n_nodes AS BIGINT) AS valid_partition_nodes
      FROM stats"""))

  /** The user-facing Q7 result shape — Louvain community sizes (what
    * gds.louvain.write + a size histogram reads as). Math pinned by
    * GraphAlgsSpec clique fixtures; the g05 gate cross-checks the same
    * assignment's global invariants against DuckDB.
    */
  def louvainHistogram(s: SparkSession, dir: String): DataFrame = {
    val e = edges(s, dir, filtered = true)
      .select(col("a").as("src"), col("b").as("dst"))
    GraphAlgs.louvainDF(e, maxLevels = 2, maxSweeps = 4)
      .groupBy(col("community")).agg(count(lit(1)).as("size"))
      .orderBy(col("size").desc, col("community"))
  }

  /** The gated form of [[louvainHistogram]] (VERDICT r4 task 6, oracle
    * strengthened r7 item 6): the user-facing Q7 community-size histogram,
    * checked through the SQL-reachable invariants of a valid size
    * distribution. No SQL engine can replay the greedy move sequence, so
    * each invariant is encoded as a VALUE the oracle recomputes
    * independently from the raw tables (no literal-TRUE pins):
    *   - communities_in_bounds_nodes: the vertex count when the community
    *     count lies in [n_components, n_nodes] (refining a partition of
    *     the components can do nothing else), −1 otherwise; the oracle
    *     computes n_nodes from its own degree CTE;
    *   - max_component_size: greatest(largest community, largest
    *     component) — equal to the largest component iff no community
    *     spans components; the oracle recomputes component sizes via the
    *     recursive min-label CTE;
    *   - min_size_ok_components: n_components when every size >= 1
    *     (vacuously on an empty histogram), −1 otherwise; oracle
    *     recomputes n_components;
    *   - nodes_covered: the histogram's size sum vs the oracle's vertex
    *     count.
    * A broken Louvain (lost/duplicated nodes, cross-component merges,
    * degenerate collapse) skews one of these values and hash-fails the
    * gate. Reads the same [[louvainStats]] g05 does, computed per call.
    */
  val g06 = QueryDef(
    "g06_louvain_histogram",
    "Louvain community-size histogram invariants (Q7 user shape)",
    (s, dir) => {
      import s.implicits._
      val st = louvainStats(s, dir, weighted = false)
      val inBounds = st.nComms >= st.nComps && st.nComms <= st.sumSizes
      val minOk = st.minSize >= 1L || st.nComms == 0L
      Seq((if (inBounds) st.nNodes else -1L,
        math.max(st.maxSize, st.maxCsz),
        if (minOk) st.nComps else -1L,
        st.sumSizes))
        .toDF("communities_in_bounds_nodes", "max_component_size",
          "min_size_ok_components", "nodes_covered")
    },
    Some("""WITH RECURSIVE
      edges AS (SELECT DISTINCT o_custkey*2 AS a, l_suppkey*2+1 AS b
                FROM orders JOIN lineitem ON o_orderkey = l_orderkey
                WHERE l_quantity = 1 AND month(l_shipdate) = 1),
      und AS (SELECT a AS src, b AS dst FROM edges
              UNION SELECT b AS src, a AS dst FROM edges),
      deg AS (SELECT src, COUNT(*) AS d FROM und GROUP BY src),
      walk(node, lbl) AS (
        SELECT src, src AS lbl FROM deg
        UNION
        SELECT u.dst AS node, w.lbl FROM walk w JOIN und u ON u.src = w.node
        WHERE w.lbl < u.dst),
      comp AS (SELECT node, MIN(lbl) AS component FROM walk GROUP BY node),
      csz AS (SELECT component, COUNT(*) AS sz FROM comp GROUP BY component),
      stats AS (SELECT
        (SELECT COUNT(*) FROM deg) AS n_nodes,
        (SELECT COUNT(*) FROM csz) AS n_components,
        (SELECT COALESCE(MAX(sz), 0) FROM csz) AS max_csz)
      SELECT
        CAST(n_nodes AS BIGINT) AS communities_in_bounds_nodes,
        CAST(max_csz AS BIGINT) AS max_component_size,
        CAST(n_components AS BIGINT) AS min_size_ok_components,
        CAST(n_nodes AS BIGINT) AS nodes_covered
      FROM stats"""))

  /** WEIGHTED Louvain gate (the reference's Q7 graph carries integer
    * `weight` edges — data_integration.ipynb c49:2-7; `louvainDF` has
    * handled a weight column since r7 but no driver gate exercised it).
    *
    * Weight = (cust, supp) pair multiplicity in the filtered
    * orders⋈lineitem rows BEFORE dedup — an INTEGER, which keeps the
    * weighted-modularity arithmetic exact end to end:
    * Q·m2² = within·m2 − Σc σc² with m2 = Σw (symmetrized),
    * σc = Σ weighted degree — all int64, no float anywhere, so the gate
    * hash-compares exactly like g05.
    *
    * Invariant encoding follows g06 (no literal-TRUE pins): each
    * Louvain-specific invariant is a VALUE the oracle independently
    * recomputes — the Spark side emits that value only when the
    * invariant holds (−1 otherwise), so a broken weighted Louvain
    * (lost nodes, cross-component merges, modularity collapse) flips a
    * value and hash-fails the gate.
    */
  val g08 = QueryDef(
    "g08_louvain_weighted",
    "weighted Louvain invariants on the multiplicity-weighted graph (Q7 weight column)",
    (s, dir) => {
      import s.implicits._
      val st = louvainStats(s, dir, weighted = true)
      val inBounds = st.nComms >= st.nComps && st.nComms <= st.nNodes
      Seq((st.ccModNum,
        if (inBounds) st.nNodes else -1L,
        if (st.lvModNum * 100L >= st.ccModNum * 95L) st.nNodes else -1L,
        st.nComps, st.nNodes,
        if (st.refines) st.m2 else -1L,
        st.m2,
        if (st.valid) st.nComps else -1L))
        .toDF("cc_mod_num_w", "communities_in_bounds_nodes",
          "louvain_floor_nodes", "n_components", "n_nodes", "refines_m2w",
          "sym_weight", "valid_components")
    },
    Some("""WITH RECURSIVE
      edges AS (SELECT o_custkey*2 AS a, l_suppkey*2+1 AS b,
                       CAST(COUNT(*) AS BIGINT) AS w
                FROM orders JOIN lineitem ON o_orderkey = l_orderkey
                WHERE l_quantity = 1 AND month(l_shipdate) = 1
                GROUP BY 1, 2),
      und AS (SELECT a AS src, b AS dst, w FROM edges
              UNION ALL SELECT b AS src, a AS dst, w FROM edges),
      deg AS (SELECT src, CAST(SUM(w) AS BIGINT) AS d FROM und GROUP BY src),
      walk(node, lbl) AS (
        SELECT src, src AS lbl FROM deg
        UNION
        SELECT u.dst AS node, w2.lbl FROM walk w2 JOIN und u ON u.src = w2.node
        WHERE w2.lbl < u.dst),
      comp AS (SELECT node, MIN(lbl) AS component FROM walk GROUP BY node),
      degc AS (SELECT c.component, CAST(SUM(d.d) AS BIGINT) AS dc
               FROM comp c JOIN deg d ON c.node = d.src GROUP BY 1),
      stats AS (SELECT
        (SELECT CAST(SUM(w) AS BIGINT) FROM und) AS m2,
        (SELECT COUNT(*) FROM deg) AS n_nodes,
        (SELECT COUNT(DISTINCT component) FROM comp) AS n_components,
        (SELECT CAST(SUM(dc*dc) AS BIGINT) FROM degc) AS degsq)
      SELECT
        CAST(m2*m2 - degsq AS BIGINT) AS cc_mod_num_w,
        CAST(n_nodes AS BIGINT) AS communities_in_bounds_nodes,
        CAST(n_nodes AS BIGINT) AS louvain_floor_nodes,
        n_components, n_nodes,
        CAST(m2 AS BIGINT) AS refines_m2w,
        CAST(m2 AS BIGINT) AS sym_weight,
        CAST(n_components AS BIGINT) AS valid_components
      FROM stats"""))

  /** Per-node triangle count + local clustering coefficient — the
    * remaining standard GDS-style metric next to degree (g01), CC (g03),
    * ArticleRank (g04) and Louvain (g05/g06). The bipartite base graph
    * has no triangles by construction, so the gate runs on the projected
    * customer–customer graph (g02's sampled shape: customers sharing a
    * supplier).
    *
    * Scale shape: edges are ORIENTED from the endpoint with the smaller
    * (degree, id) key to the larger, and every wedge is enumerated from
    * its lowest-key corner only — the classic orientation bound that
    * makes triangle enumeration O(m^1.5) total work instead of
    * O(sum deg²) exploding on hub nodes; the closing check is an
    * equi-join on the oriented (v, w) pair. Per-node counts come from
    * exploding each triangle's three corners (every triangle found
    * exactly once). The lcc division is one double op over
    * exactly-represented integers, so it is bit-identical in DuckDB.
    */
  /** g07 core over any undirected edge list `proj` (u, v) with u != v and
    * one row per edge: (node, degree, triangles, lcc) — see the gate
    * scaladoc for the orientation bound. Factored out so GraphAlgsSpec
    * can pin the semantics on hand-counted fixtures.
    */
  /** Edge-row bound under which the triangle computation replays
    * driver-side — the [[GraphAlgs.DefaultDriverGraphLimit]] hybrid
    * discipline applied to g07: at gate scale the distributed chain is
    * ~7 job dispatches over a few hundred rows, pure fixed overhead; the
    * driver replay is one limit-probe job. The replay is output-identical
    * by construction (same orientation keys, same wedge enumeration,
    * same one-division lcc — parity pinned in GraphAlgsSpec with the
    * distributed path forced).
    */
  private[graph] val DriverTriangleEdgeLimit = 200000

  private[graph] def triangleStats(projIn: DataFrame,
      driverLimit: Int = DriverTriangleEdgeLimit): DataFrame = {
    val proj = projIn
      .select(col("u").cast("long").as("u"), col("v").cast("long").as("v"))
      .cache()
    // limit-probe doubles as the collect when the graph is small: at or
    // under the bound the probe IS the full edge list
    val probe = proj.limit(driverLimit + 1).collect()
    if (probe.length <= driverLimit) {
      proj.unpersist(blocking = false)
      val s = projIn.sparkSession
      import s.implicits._
      driverTriangles(probe.map(r => (r.getLong(0), r.getLong(1))).toSeq)
        .toDF("node", "degree", "triangles", "lcc")
    } else {
      proj.count() // orientation + wedge + closing joins all reuse it
      // materialize (node-bounded rows), then release the projection
      // cache — a long-lived session must not accumulate
      // one cached edge set per invocation
      val out = triangleFrame(proj).localCheckpoint(true)
      proj.unpersist(blocking = false)
      out
    }
  }

  /** Exact driver replay of [[triangleFrame]]: same (degree, id)
    * orientation, wedges enumerated from the lowest-key corner, closing
    * edge membership, per-corner counts, one-division lcc — every value
    * an exact integer until the final division, so the replay is
    * bit-identical to the distributed chain.
    */
  private def driverTriangles(edges: Seq[(Long, Long)])
      : Seq[(Long, Long, Long, Double)] = {
    val deg = scala.collection.mutable.Map.empty[Long, Long].withDefaultValue(0L)
    edges.foreach { case (u, v) => deg(u) += 1L; deg(v) += 1L }
    def key(n: Long): (Long, Long) = (deg(n), n)
    val oriented = edges.map { case (u, v) =>
      if (Ordering[(Long, Long)].lteq(key(u), key(v))) (u, v) else (v, u) }
    val edgeSet = oriented.toSet
    val tri = scala.collection.mutable.Map.empty[Long, Long].withDefaultValue(0L)
    oriented.groupBy(_._1).foreach { case (src, es) =>
      val dsts = es.map(_._2).sortBy(key)
      var i = 0
      while (i < dsts.length) {
        var j = i + 1
        while (j < dsts.length) {
          if (edgeSet.contains((dsts(i), dsts(j)))) {
            tri(src) += 1L; tri(dsts(i)) += 1L; tri(dsts(j)) += 1L
          }
          j += 1
        }
        i += 1
      }
    }
    deg.keys.toSeq.sorted.map { n =>
      val d = deg(n)
      val t = tri(n)
      (n, d, t, if (d >= 2) 2.0 * t / (d * (d - 1)) else 0.0)
    }
  }

  /** The lazy (node, degree, triangles, lcc) plan over a CACHED
    * projection — the distributed core of [[triangleStats]].
    */
  private def triangleFrame(proj: DataFrame): DataFrame = {
    val deg = proj.select(explode(array(col("u"), col("v"))).as("n"))
      .groupBy(col("n")).agg(count(lit(1)).as("d"))
    val dj = proj
      .join(deg.select(col("n").as("u"), col("d").as("du")), Seq("u"))
      .join(deg.select(col("n").as("v"), col("d").as("dv")), Seq("v"))
    val ku = struct(col("du").as("d"), col("u").as("n"))
    val kv = struct(col("dv").as("d"), col("v").as("n"))
    val o = dj.select(least(ku, kv).as("s"), greatest(ku, kv).as("t"))
      .select(col("s.n").as("src"), col("t.n").as("dst"), col("t").as("dstk"))
    val tri = o.as("e1")
      .join(o.as("e2"),
        col("e1.src") === col("e2.src") && col("e1.dstk") < col("e2.dstk"))
      .join(o.as("e3"),
        col("e3.src") === col("e1.dst") && col("e3.dst") === col("e2.dst"))
      .select(col("e1.src").as("x"), col("e1.dst").as("y"), col("e2.dst").as("z"))
    val tc = tri.select(explode(array(col("x"), col("y"), col("z"))).as("n"))
      .groupBy(col("n")).agg(count(lit(1)).as("t"))
    deg.join(tc, Seq("n"), "left")
      .select(col("n").as("node"), col("d").as("degree"),
        coalesce(col("t"), lit(0L)).as("triangles"),
        when(col("d") >= 2,
          (lit(2.0) * coalesce(col("t"), lit(0L))) / (col("d") * (col("d") - 1)))
          .otherwise(lit(0.0)).as("lcc"))
      .orderBy(col("node"))
  }

  val g07 = QueryDef(
    "g07_triangles",
    "per-node triangles + local clustering coefficient (oriented wedges)",
    (s, dir) => {
      val e = edges(s, dir, filtered = false).filter(col("a") % 200 === 0)
      triangleStats(e.as("x").join(e.as("y"),
          col("x.b") === col("y.b") && col("x.a") < col("y.a"))
        .select(col("x.a").as("u"), col("y.a").as("v")).distinct())
    },
    Some("""WITH e AS (SELECT DISTINCT o_custkey*2 AS a, l_suppkey*2+1 AS b
              FROM orders JOIN lineitem ON o_orderkey = l_orderkey
              WHERE o_custkey % 100 = 0),
      proj AS (SELECT DISTINCT x.a AS u, y.a AS v
               FROM e x JOIN e y ON x.b = y.b AND x.a < y.a),
      deg AS (SELECT n, CAST(COUNT(*) AS BIGINT) AS d
              FROM (SELECT u AS n FROM proj UNION ALL SELECT v AS n FROM proj) t
              GROUP BY n),
      tri AS (SELECT e1.u AS x, e1.v AS y, e2.v AS z
              FROM proj e1
              JOIN proj e2 ON e2.u = e1.v
              JOIN proj e3 ON e3.u = e1.u AND e3.v = e2.v),
      tc AS (SELECT n, CAST(COUNT(*) AS BIGINT) AS t
             FROM (SELECT x AS n FROM tri UNION ALL SELECT y AS n FROM tri
                   UNION ALL SELECT z AS n FROM tri) t
             GROUP BY n)
      SELECT deg.n AS node, deg.d AS degree,
             COALESCE(tc.t, 0) AS triangles,
             CASE WHEN deg.d >= 2
                  THEN (2.0 * COALESCE(tc.t, 0)) / (deg.d * (deg.d - 1))
                  ELSE 0.0 END AS lcc
      FROM deg LEFT JOIN tc ON tc.n = deg.n
      ORDER BY node"""))

  val all: Seq[QueryDef] = Seq(g01, g02, g03, g04, g05, g06, g07, g08)
}
