package graft
package queries

import org.apache.spark.sql.functions._

import graft.Tables._
import QueryHelpers._

/** Graph analytics over the road graph and synthetic graphs:
  * components, triangles, coreness, centralities, PageRank and HITS,
  * and community detection (LPA, local-move refinement, Louvain). */
object GraphQueries {
  /** PageRank oracle: the same strict directed edge set (shared routing
    * core), iterations UNROLLED as generated CTEs p0..p20 — recursive
    * CTEs can't aggregate over their own recursive reference, so the
    * fixed iteration count becomes a fixed CTE chain. Semantics mirror
    * GraphCheck.pageRank exactly (dangling mass leaks; teleport
    * 0.15/n), and 8-place rounding on both sides absorbs float-sum
    * order drift. */
  private def pagerankOracleSql: String = {
    val iters = 20
    // MATERIALIZED throughout: DuckDB inlines plain CTEs, so without it
    // each p_k re-inlines dedges AND its whole merged-network upstream —
    // 20 nested copies of the recursive graph build took >30 min of
    // optimizer+execution time and single-handedly stalled the full
    // correctness sweep; materialized, the chain is 20 tiny joins (<1 s)
    val chain = (1 to iters).map { k =>
      s"""         p$k AS MATERIALIZED (
           SELECT nd.node, 0.15 / nn.n + 0.85 * COALESCE(s.c, 0) AS rank
           FROM pgnodes nd CROSS JOIN nn
           LEFT JOIN (
             SELECT e.dst AS node, sum(p${k - 1}.rank / od.deg) AS c
             FROM dm e JOIN p${k - 1} ON e.src = p${k - 1}.node
                       JOIN od ON od.node = e.src
             GROUP BY e.dst) s ON s.node = nd.node)"""
    }.mkString(",\n")
    routeSssp + s""",
         dm AS MATERIALIZED (SELECT src, dst FROM dedges),
         pgnodes AS MATERIALIZED (
           -- GROUP BY, not UNION: under WITH RECURSIVE DuckDB 1.0 does
           -- NOT dedup UNION branches of non-recursive CTEs, and a
           -- duplicated node universe compounds the rank sums each
           -- iteration (ranks in the thousands by p20)
           SELECT node FROM (SELECT src AS node FROM dm
                             UNION ALL SELECT dst FROM dm)
           GROUP BY node),
         nn AS MATERIALIZED (
           SELECT CAST(count(*) AS DOUBLE) AS n FROM pgnodes),
         od AS MATERIALIZED (
           SELECT src AS node, CAST(count(*) AS DOUBLE) AS deg
           FROM dm GROUP BY src),
         p0 AS MATERIALIZED (
           SELECT node, 1.0 / nn.n AS rank FROM pgnodes CROSS JOIN nn),
$chain
         SELECT CAST(node AS BIGINT) AS node_id, round(rank, 8) AS rank
         FROM p$iters ORDER BY node_id"""
  }

  /** Personalized PageRank replayed round-for-round: the
    * pagerankOracleSql chain with teleport mass and the initial rank
    * concentrated on the seed set. */
  private def pprOracleSql(seeds: Seq[Long], iters: Int): String = {
    val inList = seeds.mkString(", ")
    val share = s"0.15 / ${seeds.size}.0"
    val init = s"1.0 / ${seeds.size}.0"
    val chain = (1 to iters).map { k =>
      s"""         p$k AS MATERIALIZED (
           SELECT nd.node,
                  CASE WHEN nd.node IN ($inList) THEN $share
                       ELSE 0.0 END + 0.85 * COALESCE(s.c, 0) AS rank
           FROM pgnodes nd
           LEFT JOIN (
             SELECT e.dst AS node, sum(p${k - 1}.rank / od.deg) AS c
             FROM dm e JOIN p${k - 1} ON e.src = p${k - 1}.node
                       JOIN od ON od.node = e.src
             GROUP BY e.dst) s ON s.node = nd.node)"""
    }.mkString(",\n")
    routeSssp + s""",
         dm AS MATERIALIZED (SELECT src, dst FROM dedges),
         pgnodes AS MATERIALIZED (
           SELECT node FROM (SELECT src AS node FROM dm
                             UNION ALL SELECT dst FROM dm)
           GROUP BY node),
         od AS MATERIALIZED (
           SELECT src AS node, CAST(count(*) AS DOUBLE) AS deg
           FROM dm GROUP BY src),
         p0 AS MATERIALIZED (
           SELECT node,
                  CASE WHEN node IN ($inList) THEN $init
                       ELSE 0.0 END AS rank
           FROM pgnodes),
$chain
         SELECT CAST(node AS BIGINT) AS node_id, round(rank, 8) AS rank
         FROM p$iters ORDER BY node_id"""
  }

  /** HITS replayed round-for-round (the pagerankOracleSql policy:
    * fixed MATERIALIZED chain, doubles, consumer round(6)): per round
    * an authority pass (sum of inbound hub, sum-normalized) then a hub
    * pass (sum of outbound authority, sum-normalized). */
  private def hitsOracleSql(iters: Int): String = {
    val chain = (1 to iters).map { k =>
      s"""         ar$k AS MATERIALIZED (
           SELECT e.dst AS node, sum(h${k - 1}.hub) AS a
           FROM dm e JOIN h${k - 1} ON e.src = h${k - 1}.node
           GROUP BY e.dst),
         sa$k AS MATERIALIZED (SELECT sum(a) AS s FROM ar$k),
         a$k AS MATERIALIZED (
           SELECT nd.node,
                  CASE WHEN s.s > 0 THEN COALESCE(ar.a, 0) / s.s
                       ELSE 0 END AS auth
           FROM hnodes nd CROSS JOIN sa$k s
           LEFT JOIN ar$k ar ON ar.node = nd.node),
         hr$k AS MATERIALIZED (
           SELECT e.src AS node, sum(a$k.auth) AS h
           FROM dm e JOIN a$k ON e.dst = a$k.node
           GROUP BY e.src),
         sh$k AS MATERIALIZED (SELECT sum(h) AS s FROM hr$k),
         h$k AS MATERIALIZED (
           SELECT nd.node,
                  CASE WHEN s.s > 0 THEN COALESCE(hr.h, 0) / s.s
                       ELSE 0 END AS hub
           FROM hnodes nd CROSS JOIN sh$k s
           LEFT JOIN hr$k hr ON hr.node = nd.node)"""
    }.mkString(",\n")
    routeSssp + s""",
         dm AS MATERIALIZED (SELECT src, dst FROM dedges),
         hnodes AS MATERIALIZED (
           SELECT node FROM (SELECT src AS node FROM dm
                             UNION ALL SELECT dst FROM dm)
           GROUP BY node),
         hn AS MATERIALIZED (
           SELECT CAST(count(*) AS DOUBLE) AS n FROM hnodes),
         h0 AS MATERIALIZED (
           SELECT node, 1.0 / hn.n AS hub FROM hnodes CROSS JOIN hn),
$chain
         SELECT CAST(h.node AS BIGINT) AS node_id,
                round(h.hub, 6) AS hub, round(a.auth, 6) AS authority
         FROM h$iters h JOIN a$iters a ON a.node = h.node
         ORDER BY node_id"""
  }

  /** Shared LPA round chain (graphPrefix + lsym + l0..l{rounds}) — the
    * WITH-prefix only, so modularity / refinement oracles can extend
    * the same labeling instead of re-deriving it. */
  private def lpaChainSql(rounds: Int): String = {
    val chain = (1 to rounds).map { k =>
      s"""         l$k AS MATERIALIZED (
           SELECT a AS node_id, label FROM (
             SELECT s.a, l.label,
                    row_number() OVER (PARTITION BY s.a
                      ORDER BY count(*) DESC, l.label) AS rn
             FROM lsym s JOIN l${k - 1} l ON s.b = l.node_id
             GROUP BY s.a, l.label)
           WHERE rn = 1)"""
    }.mkString(",\n")
    graphPrefix + s""",
         lsym AS MATERIALIZED (
           SELECT start_node AS a, end_node AS b FROM merged
           WHERE start_node <> end_node
           UNION
           SELECT end_node, start_node FROM merged
           WHERE start_node <> end_node),
         l0 AS MATERIALIZED (
           SELECT DISTINCT a AS node_id, a AS label FROM lsym),
$chain"""
  }

  /** Synchronous LPA replayed round-for-round: fixed iteration count →
    * fixed MATERIALIZED CTE chain (the pagerankOracleSql policy), the
    * per-node argmax as row_number over (count DESC, label) — exactly
    * the engine's (−count, label) struct-min tie order. */
  private def lpaOracleSql(rounds: Int): String =
    lpaChainSql(rounds) + s"""
         SELECT CAST(node_id AS BIGINT) AS node_id,
                CAST(label AS BIGINT) AS community
         FROM l$rounds ORDER BY node_id"""

  /** Newman modularity of the LPA labeling, exact integer sums (DuckDB
    * BIGINT sums land in HUGEINT — exact), double only in the final
    * ratio — mirrors GraphCheck.modularity's DECIMAL(38,0) contract. */
  private def modularityOracleSql(rounds: Int): String =
    lpaChainSql(rounds) + s""",
         mund AS MATERIALIZED (
           SELECT DISTINCT least(start_node, end_node) AS a,
                  greatest(start_node, end_node) AS b
           FROM merged WHERE start_node <> end_node),
         mdeg AS (
           SELECT node, count(*) AS d FROM (
             SELECT a AS node FROM mund
             UNION ALL SELECT b AS node FROM mund)
           GROUP BY node),
         mlc AS (
           SELECT la.label, count(*) AS lc
           FROM mund
           JOIN l$rounds la ON mund.a = la.node_id
           JOIN l$rounds lb ON mund.b = lb.node_id
           WHERE la.label = lb.label GROUP BY la.label),
         mdc AS (
           SELECT la.label, sum(mdeg.d) AS dcs
           FROM mdeg JOIN l$rounds la ON mdeg.node = la.node_id
           GROUP BY la.label),
         mm AS (SELECT count(*) AS m FROM mund)
         SELECT CAST(mm.m AS BIGINT) AS m_edges,
                CAST(count(*) AS BIGINT) AS n_communities,
                round(CAST(sum(4 * mm.m * coalesce(mlc.lc, 0)
                               - mdc.dcs * mdc.dcs) AS DOUBLE)
                      / (4.0 * mm.m * mm.m), 6) AS modularity
         FROM mdc LEFT JOIN mlc ON mlc.label = mdc.label, mm
         GROUP BY mm.m"""

  /** `refineRounds` chained synchronous exact-integer local-move
    * rounds over the LPA labeling — mirrors
    * GraphCheck.refineCommunities[Rounds]: per round, argmax of
    * 2m·w − d·D_c (ties to smallest c), move iff
    * 2m·(w_new − w_old) > d·(D_new − D_old + d), all in HUGEINT,
    * recomputing w/D from the previous round's labels. The chain form
    * ends at the `ref{refineRounds}` CTE so louvainOracleSql can keep
    * building on it. */
  private def refineChainSql(lpaRounds: Int, refineRounds: Int): String = {
    val steps = (1 to refineRounds).map { k =>
      val in = if (k == 1) s"l$lpaRounds" else s"ref${k - 1}"
      s""",
         rdc$k AS (
           SELECT la.label, sum(rdeg.d) AS dcs
           FROM rdeg JOIN $in la ON rdeg.node_id = la.node_id
           GROUP BY la.label),
         rw$k AS (
           SELECT r.a AS node_id, lb.label AS c, count(*) AS w
           FROM rsym r JOIN $in lb ON r.b = lb.node_id
           GROUP BY r.a, lb.label),
         scored$k AS (
           SELECT rw$k.node_id, rw$k.c, rw$k.w, rdc$k.dcs,
                  la.label AS cur, rdeg.d
           FROM rw$k
           JOIN rdc$k ON rdc$k.label = rw$k.c
           JOIN $in la ON la.node_id = rw$k.node_id
           JOIN rdeg ON rdeg.node_id = rw$k.node_id),
         best$k AS (
           SELECT node_id, c, w, dcs FROM (
             SELECT s.node_id, s.c, s.w, s.dcs,
                    row_number() OVER (PARTITION BY s.node_id
                      ORDER BY (CAST(m2.m2 AS HUGEINT) * s.w
                                - CAST(s.d AS HUGEINT) * s.dcs) DESC,
                               s.c) AS rn
             FROM scored$k s, m2 WHERE s.c <> s.cur)
           WHERE rn = 1),
         own$k AS (
           SELECT node_id, w AS wold FROM scored$k WHERE c = cur),
         ref$k AS MATERIALIZED (
           SELECT la.node_id,
                  CASE WHEN best$k.node_id IS NOT NULL
                         AND CAST(m2.m2 AS HUGEINT)
                               * (best$k.w - coalesce(own$k.wold, 0))
                             > CAST(rdeg.d AS HUGEINT)
                               * (best$k.dcs - dcur.dcs + rdeg.d)
                       THEN best$k.c ELSE la.label END AS label
           FROM $in la
           JOIN rdeg ON rdeg.node_id = la.node_id
           JOIN rdc$k dcur ON dcur.label = la.label
           LEFT JOIN best$k ON best$k.node_id = la.node_id
           LEFT JOIN own$k ON own$k.node_id = la.node_id, m2)"""
    }.mkString
    lpaChainSql(lpaRounds) + mundSql + s""",
         rsym AS MATERIALIZED (
           SELECT a, b FROM mund UNION ALL SELECT b, a FROM mund),
         rdeg AS MATERIALIZED (
           SELECT a AS node_id, count(*) AS d FROM rsym GROUP BY a),
         m2 AS (SELECT 2 * count(*) AS m2 FROM mund)""" + steps
  }

  private def refineOracleSql(lpaRounds: Int, refineRounds: Int): String =
    refineChainSql(lpaRounds, refineRounds) + s"""
         SELECT CAST(node_id AS BIGINT) AS node_id,
                CAST(label AS BIGINT) AS community
         FROM ref$refineRounds
         ORDER BY node_id"""

  /** Canonical simple undirected edge set of the micro graph. */
  private val mundSql = """,
         mund AS MATERIALIZED (
           SELECT DISTINCT least(start_node, end_node) AS a,
                  greatest(start_node, end_node) AS b
           FROM merged WHERE start_node <> end_node)"""

  /** Louvain phase-2 coarsening of `labelCte`'s communities: super-node
    * graph with internal edges on the diagonal — mirrors
    * GraphCheck.coarsenGraph. */
  private def coarseChainSql(labelCte: String): String = s""",
         coarse AS MATERIALIZED (
           SELECT least(la.label, lb.label) AS a,
                  greatest(la.label, lb.label) AS b, count(*) AS w
           FROM mund
           JOIN $labelCte la ON mund.a = la.node_id
           JOIN $labelCte lb ON mund.b = lb.node_id
           GROUP BY least(la.label, lb.label),
                    greatest(la.label, lb.label))"""

  private def coarsenOracleSql(lpaRounds: Int): String =
    lpaChainSql(lpaRounds) + mundSql + coarseChainSql(s"l$lpaRounds") + """
         SELECT CAST(a AS BIGINT) AS community_a,
                CAST(b AS BIGINT) AS community_b,
                CAST(w AS BIGINT) AS w
         FROM coarse ORDER BY community_a, community_b"""

  /** Weighted modularity of the coarse graph under identity labels —
    * Win_c is the diagonal, S_c the super-node strength; exact HUGEINT
    * numerator, one double ratio (the GraphCheck.modularityWeighted
    * contract). Must equal q_osm_modularity's Q bit-for-bit. */
  private def modularity2OracleSql(lpaRounds: Int): String =
    lpaChainSql(lpaRounds) + mundSql + coarseChainSql(s"l$lpaRounds") + """,
         cdeg AS MATERIALIZED (
           SELECT node_id, sum(s) AS d FROM (
             SELECT a AS node_id, w AS s FROM coarse WHERE a <> b
             UNION ALL SELECT b, w FROM coarse WHERE a <> b
             UNION ALL SELECT a, 2 * w FROM coarse WHERE a = b) t
           GROUP BY node_id),
         cw AS (SELECT sum(w) AS m FROM coarse)
         SELECT CAST(cw.m AS BIGINT) AS w_total,
                CAST(count(*) AS BIGINT) AS n_communities,
                round(CAST(sum(4 * cw.m * coalesce(sl.w, 0)
                               - cdeg.d * cdeg.d) AS DOUBLE)
                      / (4.0 * cw.m * cw.m), 6) AS modularity
         FROM cdeg LEFT JOIN (SELECT a, w FROM coarse WHERE a = b) sl
           ON sl.a = cdeg.node_id, cw
         GROUP BY cw.m"""

  /** Two-level Louvain replayed move-for-move: the refine chain's
    * ref{l1} labels, coarsened; then `l2Rounds` weighted synchronous
    * sweeps over the community graph, round k gated to super-nodes
    * with id % 2 == k % 2 (the parity alternation that breaks the
    * two-community synchronous swap); labels projected back. All
    * arithmetic HUGEINT — mirrors GraphCheck.louvainTwoLevel. */
  private def louvainOracleSql(lpaRounds: Int, l1Rounds: Int,
      l2Rounds: Int): String = {
    val steps = (1 to l2Rounds).map { k =>
      val in = if (k == 1) "c0" else s"cref${k - 1}"
      val p = k % 2
      s""",
         wdc$k AS (
           SELECT la.label, sum(cdeg.d) AS dcs
           FROM cdeg JOIN $in la ON cdeg.node_id = la.node_id
           GROUP BY la.label),
         ww$k AS (
           SELECT r.a AS node_id, lb.label AS c, sum(r.w) AS w
           FROM csym r JOIN $in lb ON r.b = lb.node_id
           GROUP BY r.a, lb.label),
         wsc$k AS (
           SELECT ww$k.node_id, ww$k.c, ww$k.w, wdc$k.dcs,
                  la.label AS cur, cdeg.d
           FROM ww$k
           JOIN wdc$k ON wdc$k.label = ww$k.c
           JOIN $in la ON la.node_id = ww$k.node_id
           JOIN cdeg ON cdeg.node_id = ww$k.node_id),
         wbest$k AS (
           -- gated rounds admit DOWN candidates only (c < cur): the
           -- engine's swap-proof move rule
           SELECT node_id, c, w, dcs FROM (
             SELECT s.node_id, s.c, s.w, s.dcs,
                    row_number() OVER (PARTITION BY s.node_id
                      ORDER BY (CAST(cm2.m2 AS HUGEINT) * s.w
                                - CAST(s.d AS HUGEINT) * s.dcs) DESC,
                               s.c) AS rn
             FROM wsc$k s, cm2 WHERE s.c < s.cur)
           WHERE rn = 1),
         wown$k AS (
           SELECT node_id, w AS wold FROM wsc$k WHERE c = cur),
         cref$k AS MATERIALIZED (
           SELECT la.node_id,
                  CASE WHEN la.node_id % 2 = $p
                         AND wbest$k.node_id IS NOT NULL
                         AND CAST(cm2.m2 AS HUGEINT)
                               * (wbest$k.w - coalesce(wown$k.wold, 0))
                             > CAST(cdeg.d AS HUGEINT)
                               * (wbest$k.dcs - dcur.dcs + cdeg.d)
                       THEN wbest$k.c ELSE la.label END AS label
           FROM $in la
           JOIN cdeg ON cdeg.node_id = la.node_id
           JOIN wdc$k dcur ON dcur.label = la.label
           LEFT JOIN wbest$k ON wbest$k.node_id = la.node_id
           LEFT JOIN wown$k ON wown$k.node_id = la.node_id, cm2)"""
    }.mkString
    refineChainSql(lpaRounds, l1Rounds) +
      coarseChainSql(s"ref$l1Rounds") + s""",
         csym AS MATERIALIZED (
           SELECT a, b, w FROM coarse WHERE a <> b
           UNION ALL SELECT b, a, w FROM coarse WHERE a <> b),
         cdeg AS MATERIALIZED (
           SELECT node_id, sum(s) AS d FROM (
             SELECT a AS node_id, w AS s FROM csym
             UNION ALL
             SELECT a, 2 * w FROM coarse WHERE a = b) t
           GROUP BY node_id),
         cm2 AS (SELECT 2 * sum(w) AS m2 FROM coarse),
         c0 AS MATERIALIZED (
           SELECT DISTINCT label AS node_id, label FROM ref$l1Rounds)""" +
      steps + s"""
         SELECT CAST(la.node_id AS BIGINT) AS node_id,
                CAST(cf.label AS BIGINT) AS community
         FROM ref$l1Rounds la
         JOIN cref$l2Rounds cf ON la.label = cf.node_id
         ORDER BY la.node_id"""
  }

  /** H-index coreness replayed round-for-round: fixed rounds →
    * MATERIALIZED CTE chain; H = max rank r (neighbors sorted by value
    * desc) with value ≥ r — tie order inside equal values cannot change
    * H, so row_number is safe on both engines. */
  private def corenessOracleSql(rounds: Int): String = {
    val chain = (1 to rounds).map { k =>
      s"""         h$k AS MATERIALIZED (
           SELECT a AS node_id,
                  coalesce(max(CASE WHEN value >= rn THEN rn END), 0) AS value
           FROM (
             SELECT s.a, v.value,
                    CAST(row_number() OVER (PARTITION BY s.a
                      ORDER BY v.value DESC) AS BIGINT) AS rn
             FROM csym s JOIN h${k - 1} v ON s.b = v.node_id)
           GROUP BY a)"""
    }.mkString(",\n")
    s"""WITH und AS (
           SELECT DISTINCT least(l_partkey % 200, l_suppkey % 200) AS a,
                  greatest(l_partkey % 200, l_suppkey % 200) AS b
           FROM lineitem
           WHERE l_partkey % 200 <> l_suppkey % 200),
         csym AS MATERIALIZED (
           SELECT a, b FROM und UNION SELECT b, a FROM und),
         h0 AS MATERIALIZED (
           SELECT a AS node_id, CAST(count(*) AS BIGINT) AS value
           FROM csym GROUP BY a),
$chain
         SELECT CAST(node_id AS BIGINT) AS node_id,
                CAST(value AS BIGINT) AS coreness
         FROM h$rounds ORDER BY node_id"""
  }

  val all: Seq[Query] = Seq(
    // ---- connected-components health check over the merged network
    //      (iterative min-label propagation; oracle = recursive CTE)
    // ---- exact triangle counting + local clustering coefficient
    //      (igraph count_triangles/transitivity_local): degree-ordered
    //      wedge join — orientation caps out-neighborhoods at O(sqrt m)
    //      so the wedge self-join is O(m^1.5) worst case, not sum-deg².
    //      Synthetic graph from lineitem keys mod 200 (sparse at
    //      sf0.01: varied clustering, non-vacuous triangles)
    Query("q_osm_triangles", (s, dir) => {
      val e = lineitem(s, dir).select(
        (col("l_partkey") % 200).cast("long").as("start_node"),
        (col("l_suppkey") % 200).cast("long").as("end_node"))
      osm.GraphCheck.triangleCounts(e)
        .select(col("node_id"), col("degree"), col("triangles"),
          round(col("clustering"), 6).as("clustering"))
        .orderBy("node_id")
    },
      // triangles re-derived by ordered 3-way self-join (x<y<z, every
      // edge canonical a<b) — orientation-free, so the oracle is
      // independent of the engine's degree-ordering trick
      """WITH und AS (
           SELECT DISTINCT least(l_partkey % 200, l_suppkey % 200) AS a,
                  greatest(l_partkey % 200, l_suppkey % 200) AS b
           FROM lineitem
           WHERE l_partkey % 200 <> l_suppkey % 200),
         deg AS (
           SELECT node_id, count(*) AS degree FROM (
             SELECT a AS node_id FROM und
             UNION ALL SELECT b FROM und) GROUP BY node_id),
         tri AS (
           SELECT e1.a AS x, e1.b AS y, e2.b AS z
           FROM und e1
           JOIN und e2 ON e2.a = e1.b
           JOIN und e3 ON e3.a = e1.a AND e3.b = e2.b),
         tcnt AS (
           SELECT node_id, count(*) AS triangles FROM (
             SELECT x AS node_id FROM tri
             UNION ALL SELECT y FROM tri
             UNION ALL SELECT z FROM tri) GROUP BY node_id)
         SELECT CAST(d.node_id AS BIGINT) AS node_id,
                CAST(d.degree AS BIGINT) AS degree,
                CAST(coalesce(t.triangles, 0) AS BIGINT) AS triangles,
                round(CASE WHEN d.degree >= 2
                  THEN 2.0 * coalesce(t.triangles, 0)
                       / (d.degree * (d.degree - 1))
                  ELSE 0.0 END, 6) AS clustering
         FROM deg d LEFT JOIN tcnt t ON d.node_id = t.node_id
         ORDER BY node_id"""),

    // ---- k-core numbers by synchronous H-index iteration (8 fixed
    //      rounds, oracle-replayed; fixpoint = igraph coreness, spec-
    //      gated against sequential peeling)
    Query("q_osm_coreness", (s, dir) => {
      val e = lineitem(s, dir).select(
        (col("l_partkey") % 200).cast("long").as("start_node"),
        (col("l_suppkey") % 200).cast("long").as("end_node"))
      osm.GraphCheck.coreness(e, rounds = 8)
        .orderBy("node_id")
    },
      corenessOracleSql(8)),

    // ---- degree assortativity over the same synthetic graph: exact
    //      long sums, one float ratio at the end
    Query("q_osm_assortativity", (s, dir) => {
      val e = lineitem(s, dir).select(
        (col("l_partkey") % 200).cast("long").as("start_node"),
        (col("l_suppkey") % 200).cast("long").as("end_node"))
      osm.GraphCheck.degreeAssortativity(e)
        .select(col("n_pairs"),
          round(col("assortativity"), 6).as("assortativity"))
    },
      // assortativity: symmetrized-pair Pearson — exact DECIMAL(38,0) sums,
      // exact min=max zero-variance gate, double only for the final ratio
      """WITH und AS (
           SELECT DISTINCT least(l_partkey % 200, l_suppkey % 200) AS a,
                  greatest(l_partkey % 200, l_suppkey % 200) AS b
           FROM lineitem
           WHERE l_partkey % 200 <> l_suppkey % 200),
         asym AS (SELECT a, b FROM und UNION ALL SELECT b, a FROM und),
         deg AS (SELECT a AS node_id, count(*) AS degree
                 FROM asym GROUP BY a),
         p AS (
           SELECT da.degree AS x, db.degree AS y
           FROM asym s
           JOIN deg da ON s.a = da.node_id
           JOIN deg db ON s.b = db.node_id),
         m AS (SELECT count(*) AS n,
                      sum(CAST(x AS DECIMAL(19,0))) AS sx,
                      sum(CAST(x AS DECIMAL(19,0)) * CAST(x AS DECIMAL(19,0)))
                        AS sxx,
                      sum(CAST(x AS DECIMAL(19,0)) * CAST(y AS DECIMAL(19,0)))
                        AS sxy,
                      min(x) AS dmin, max(x) AS dmax FROM p)
         SELECT CAST(n AS BIGINT) AS n_pairs,
                round(CASE WHEN dmin = dmax
                      THEN 0.0
                      ELSE (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                            - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                           / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                              - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                      END, 6)
                  AS assortativity
         FROM m"""),

    // ---- global transitivity over the same synthetic graph: 6T / Σd(d−1),
    //      exact longs until the final ratio
    Query("q_osm_transitivity", (s, dir) => {
      val e = lineitem(s, dir).select(
        (col("l_partkey") % 200).cast("long").as("start_node"),
        (col("l_suppkey") % 200).cast("long").as("end_node"))
      osm.GraphCheck.globalTransitivity(e)
        .select(col("n_triangles"), col("wedges_x2"),
          round(col("transitivity"), 6).as("transitivity"))
    },
      // transitivity from the same orientation-free triangle enumeration
      """WITH und AS (
           SELECT DISTINCT least(l_partkey % 200, l_suppkey % 200) AS a,
                  greatest(l_partkey % 200, l_suppkey % 200) AS b
           FROM lineitem
           WHERE l_partkey % 200 <> l_suppkey % 200),
         deg AS (
           SELECT node_id, count(*) AS degree FROM (
             SELECT a AS node_id FROM und
             UNION ALL SELECT b FROM und) GROUP BY node_id),
         tri AS (
           SELECT count(*) AS t FROM und e1
           JOIN und e2 ON e2.a = e1.b
           JOIN und e3 ON e3.a = e1.a AND e3.b = e2.b),
         w AS (SELECT sum(degree * (degree - 1)) AS w2 FROM deg)
         SELECT CAST(tri.t AS BIGINT) AS n_triangles,
                CAST(w.w2 AS BIGINT) AS wedges_x2,
                round(CASE WHEN w.w2 > 0 THEN 6.0 * tri.t / w.w2
                      ELSE 0.0 END, 6) AS transitivity
         FROM tri, w"""),

    Query("q_osm_components", (s, dir) => {
      val t = osm.OsmModel.microFixture(s)
      osm.GraphCheck.connectedComponents(
          osm.RoadGraph.buildMergedNetworkCached(t, "micro"))
        .orderBy("node_id")
    },
      (graphPrefix.replaceFirst("WITH",
      "WITH RECURSIVE") +
      """,
         sym AS (
           SELECT start_node AS a, end_node AS b FROM merged
           UNION
           SELECT end_node, start_node FROM merged),
         reach(node_id, label) AS (
           SELECT a, a FROM (SELECT DISTINCT a FROM sym)
           UNION
           SELECT s.a, r.label FROM sym s JOIN reach r ON s.b = r.node_id)
         SELECT CAST(node_id AS BIGINT) AS node_id,
                CAST(min(label) AS BIGINT) AS component
         FROM reach GROUP BY node_id ORDER BY node_id""")),

    // ---- community detection: synchronous LPA, 3 fixed rounds,
    //      (max count, min label) tie order — a pure function of the
    //      edge set, replayed round-for-round by the oracle
    Query("q_osm_lpa", (s, dir) => {
      val t = osm.OsmModel.microFixture(s)
      osm.GraphCheck.labelPropagation(
          osm.RoadGraph.buildMergedNetworkCached(t, "micro"), rounds = 3)
        .select(col("node_id"), col("label").as("community"))
        .orderBy("node_id")
    },
      lpaOracleSql(3)),

    // ---- Newman modularity of the LPA communities — the first number
    //      every igraph user computes after community detection. Exact
    //      DECIMAL(38,0) numerator, one double ratio (the assortativity
    //      numeric contract), bit-matched by the oracle's HUGEINT sums.
    Query("q_osm_modularity", (s, dir) => {
      val t = osm.OsmModel.microFixture(s)
      val edges = osm.RoadGraph.buildMergedNetworkCached(t, "micro")
      val labels = osm.GraphCheck.labelPropagation(edges, rounds = 3)
      osm.GraphCheck.modularity(edges, labels)
    },
      modularityOracleSql(3)),

    // ---- one synchronous local-move refinement round (parallel
    //      Louvain phase-1 step) over the LPA labels: exact-integer
    //      gain test, all moves simultaneous — a pure function of the
    //      graph, replayed move-for-move by the oracle
    Query("q_osm_refine", (s, dir) => {
      val t = osm.OsmModel.microFixture(s)
      val edges = osm.RoadGraph.buildMergedNetworkCached(t, "micro")
      val labels = osm.GraphCheck.labelPropagation(edges, rounds = 3)
      osm.GraphCheck.refineCommunities(edges, labels)
        .select(col("node_id"), col("label").as("community"))
        .orderBy("node_id")
    },
      refineOracleSql(3, 1)),

    // ---- the full distributed Louvain phase-1 loop: three chained
    //      synchronous local-move rounds over the LPA labels, every
    //      round's stats recomputed from the previous — the oracle
    //      unrolls the identical three rounds in HUGEINT
    Query("q_osm_louvain", (s, dir) => {
      val t = osm.OsmModel.microFixture(s)
      val edges = osm.RoadGraph.buildMergedNetworkCached(t, "micro")
      val labels = osm.GraphCheck.labelPropagation(edges, rounds = 3)
      osm.GraphCheck.refineCommunitiesRounds(edges, labels, rounds = 3)
        .select(col("node_id"), col("label").as("community"))
        .orderBy("node_id")
    },
      refineOracleSql(3, 3)),

    // ---- Louvain phase-2 coarsening: LPA communities collapsed to
    //      super-nodes, internal edges riding self-loops — the exact
    //      weighted community graph the multi-level loop runs on
    Query("q_osm_coarsen", (s, dir) => {
      val t = osm.OsmModel.microFixture(s)
      val edges = osm.RoadGraph.buildMergedNetworkCached(t, "micro")
      val labels = osm.GraphCheck.labelPropagation(edges, rounds = 3)
      osm.GraphCheck.coarsenGraph(edges, labels)
        .select(col("start_node").as("community_a"),
          col("end_node").as("community_b"), col("w"))
        .orderBy("community_a", "community_b")
    },
      coarsenOracleSql(3)),

    // ---- weighted modularity of the coarsened graph under identity
    //      labels — must equal q_osm_modularity's Q bit-for-bit (the
    //      invariant multi-level Louvain rests on), re-derived by the
    //      oracle from the coarse graph's self-loops and strengths
    Query("q_osm_modularity2", (s, dir) => {
      val t = osm.OsmModel.microFixture(s)
      val edges = osm.RoadGraph.buildMergedNetworkCached(t, "micro")
      val labels = osm.GraphCheck.labelPropagation(edges, rounds = 3)
      val ident = labels.select(col("label").as("node_id")).distinct()
        .withColumn("label", col("node_id"))
      osm.GraphCheck.modularityWeighted(
        osm.GraphCheck.coarsenGraph(edges, labels), ident)
    },
      modularity2OracleSql(3)),

    // ---- two-level Louvain: 3 phase-1 sweeps, coarsen, 2 weighted
    //      parity-alternated sweeps on the community graph, project
    //      back — every move replayed in HUGEINT by the oracle
    Query("q_osm_louvain2", (s, dir) => {
      val t = osm.OsmModel.microFixture(s)
      val edges = osm.RoadGraph.buildMergedNetworkCached(t, "micro")
      val labels = osm.GraphCheck.labelPropagation(edges, rounds = 3)
      osm.GraphCheck.louvainTwoLevel(edges, labels,
          level1Rounds = 3, level2Rounds = 2)
        .select(col("node_id"), col("label").as("community"))
        .orderBy("node_id")
    },
      louvainOracleSql(3, 3, 2)),

    // ---- connected components at DATA SCALE on a worst-case topology:
    //      64-node CHAIN components synthesized from part (edge k->k+1
    //      unless k % 64 == 0). Chains are the adversarial case for
    //      naive min-label propagation (needs 64 rounds = the diameter);
    //      pointer jumping converges in ~log2(64). The oracle is the
    //      closed form of the block structure.
    Query("q_osm_components_scale", (s, dir) => {
      val edges = part(s, dir)
        .filter(col("p_partkey") % 64 =!= 0)
        .select(col("p_partkey").cast("long").as("start_node"),
          (col("p_partkey") + 1).cast("long").as("end_node"))
      osm.GraphCheck.connectedComponents(edges).orderBy("node_id")
    },
      // chain components have the closed form component(k) = its block min
      """WITH nodes AS (
           SELECT CAST(p_partkey AS BIGINT) AS node_id FROM part
           WHERE p_partkey % 64 <> 0
           UNION
           SELECT CAST(p_partkey + 1 AS BIGINT) FROM part
           WHERE p_partkey % 64 <> 0)
         SELECT node_id,
                CAST(node_id - ((node_id - 1) % 64) AS BIGINT) AS component
         FROM nodes ORDER BY node_id"""),

    // ---- sampled closeness centrality (the space-syntax accessibility
    //      measure the reference's igraph hand-off computes): per node,
    //      the exact integer SUM of distances from every sampled source
    //      that reaches it + the reaching count — division happens at
    //      presentation time, so the relation stays hash-exact.
    Query("q_osm_closeness", (s, dir) => {
      val e = microCmEdges(osm.OsmModel.microFixture(s))
      osm.GraphCheck.closenessFromSources(e, Seq(1L, 3L, 4L, 5L, 6L))
        .select(col("node_id"), col("sum_dist").as("sum_cm"), col("n_from"))
        .orderBy("node_id")
    },
      // closeness pieces: the same chain, recursion re-seeded at every
      // sampled source (seed column), per-(seed,node) min, then integer
      // sum + count per node — the unused single-seed `r` CTE from the
      // shared core is simply not referenced
      (seededSssp("(1), (3), (4), (5), (6)") + """
         SELECT CAST(node AS BIGINT) AS node_id,
                CAST(sum(d) AS BIGINT) AS sum_cm,
                count(*) AS n_from
         FROM mc GROUP BY node ORDER BY node_id""")),

    // ---- sampled harmonic centrality: the disconnected-robust sibling
    //      of closeness (unreached pairs contribute 0); per-meter scale
    //      applied BEFORE rounding so the cm-exact distances keep
    //      six significant digits
    Query("q_osm_harmonic", (s, dir) => {
      val e = microCmEdges(osm.OsmModel.microFixture(s))
      osm.GraphCheck.harmonicFromSources(e, Seq(1L, 3L, 4L, 5L, 6L))
        .select(col("node_id"), col("n_from"),
          round(col("inv_sum") * 100, 6).as("harmonic_per_m"))
        .orderBy("node_id")
    },
      // harmonic: same per-seed BFS relation, the fold is sum(1/d) over
      // d > 0 with the same pre-round meter scaling as the engine
      (seededSssp("(1), (3), (4), (5), (6)") + """
         SELECT CAST(node AS BIGINT) AS node_id,
                count(*) AS n_from,
                round(100.0 * sum(1.0 / d), 6) AS harmonic_per_m
         FROM mc WHERE d > 0 GROUP BY node ORDER BY node_id""")),

    // ---- sampled eccentricity per seed (max network distance + reach
    //      count): exact integer centimeters; max over seeds = diameter
    //      lower bound, min = radius upper bound
    Query("q_osm_eccentricity", (s, dir) => {
      val e = microCmEdges(osm.OsmModel.microFixture(s))
      osm.GraphCheck.eccentricityFromSources(e, Seq(1L, 3L, 4L, 5L, 6L))
        .select(col("node_id"), col("ecc").as("ecc_cm"), col("reached"))
        .orderBy("node_id")
    },
      // eccentricity: per SEED max distance + reach count off the same
      // BFS relation (the seed's own 0-row counts as reached)
      (seededSssp("(1), (3), (4), (5), (6)") + """
         SELECT CAST(seed AS BIGINT) AS node_id,
                CAST(max(d) AS BIGINT) AS ecc_cm,
                count(*) AS reached
         FROM mc GROUP BY seed ORDER BY node_id""")),

    // ---- pseudo-diameter: the classical two-sweep BFS bound (hop
    //      metric, ties to the smallest id) — the scale-sane diameter
    //      estimate; the oracle replays both sweeps
    Query("q_osm_pseudo_diameter", (s, dir) => {
      val t = osm.OsmModel.microFixture(s)
      val merged = osm.RoadGraph.buildMergedNetworkCached(t, "micro")
      val e = osm.RoadGraph.directed(merged)
      osm.GraphCheck.pseudoDiameter(e, seed = 1L)
    },
      // pseudo-diameter: both hop-BFS sweeps replayed, argmax ties to
      // the smallest node id at each sweep
      (routeSssp +
      """,
         r1(node, d, hops) AS (
           SELECT CAST(1 AS BIGINT), 0, 0
           UNION ALL
           SELECT e.dst, r1.d + 1, r1.hops + 1
           FROM r1 JOIN dedges e ON e.src = r1.node WHERE r1.hops < 10),
         m1 AS (SELECT node, min(d) AS d FROM r1 GROUP BY node),
         u AS (SELECT node FROM m1 ORDER BY d DESC, node LIMIT 1),
         r2(node, d, hops) AS (
           SELECT node, 0, 0 FROM u
           UNION ALL
           SELECT e.dst, r2.d + 1, r2.hops + 1
           FROM r2 JOIN dedges e ON e.src = r2.node WHERE r2.hops < 10),
         m2 AS (SELECT node, min(d) AS d FROM r2 GROUP BY node),
         v AS (SELECT node, d FROM m2 ORDER BY d DESC, node LIMIT 1)
         SELECT CAST(u.node AS BIGINT) AS from_node,
                CAST(v.node AS BIGINT) AS to_node,
                CAST(v.d AS BIGINT) AS pseudo_diameter
         FROM u, v""")),

    // ---- HITS hubs/authorities, 10 sum-normalized synchronous rounds
    //      over the directed graph — the oracle unrolls the identical
    //      chain in doubles, round(6) absorbing addition order
    Query("q_osm_hits", (s, dir) => {
      val t = osm.OsmModel.microFixture(s)
      val merged = osm.RoadGraph.buildMergedNetworkCached(t, "micro")
      val e = osm.RoadGraph.directed(merged)
      osm.GraphCheck.hits(e, iters = 10)
        .select(col("node_id"), round(col("hub"), 6).as("hub"),
          round(col("authority"), 6).as("authority"))
        .orderBy("node_id")
    },
      hitsOracleSql(10)),

    // ---- sampled betweenness centrality (Brandes from seed sources) —
    //      completes the space-syntax centrality pair with closeness;
    //      the oracle enumerates ALL simple paths from each seed,
    //      keeps per-(s,t) shortest ones, and counts pass-throughs.
    Query("q_osm_betweenness", (s, dir) => {
      val e = microCmEdges(osm.OsmModel.microFixture(s))
      osm.GraphCheck.betweennessFromSources(e, Seq(1L, 3L, 4L, 5L, 6L))
        .select(col("node_id"),
          round(col("betweenness"), 6).as("betweenness"))
        .orderBy("node_id")
    },
      // Brandes pair-dependencies re-derived by brute force: enumerate
      // ALL simple paths from each seed (revisit guard terminates the
      // recursion), keep the per-(s,t) minimum-cost ones, count how many
      // pass through each interior node, and sum σ_st(v)/σ_st.
      (routeSssp +
      """,
         sp(seed, node, dist, path) AS (
           SELECT seed, seed, CAST(0 AS BIGINT), CAST(seed AS VARCHAR)
           FROM (VALUES (1), (3), (4), (5), (6)) s(seed)
           UNION ALL
           SELECT sp.seed, e.dst, sp.dist + e.w,
                  sp.path || ',' || CAST(e.dst AS VARCHAR)
           FROM sp JOIN dedges e ON e.src = sp.node
           WHERE position(',' || CAST(e.dst AS VARCHAR) || ','
                          IN ',' || sp.path || ',') = 0),
         mind AS (
           SELECT seed, node AS t, min(dist) AS d
           FROM sp WHERE node <> seed GROUP BY seed, node),
         short AS (
           SELECT sp.seed, sp.node AS t, sp.path
           FROM sp JOIN mind
             ON mind.seed = sp.seed AND mind.t = sp.node
            AND sp.dist = mind.d),
         sigma AS (
           SELECT seed, t, count(*) AS sig FROM short GROUP BY seed, t),
         gnodes AS (
           SELECT DISTINCT node FROM (
             SELECT src AS node FROM dedges
             UNION SELECT dst FROM dedges)),
         pass AS (
           SELECT sh.seed, sh.t, n.node AS v, count(*) AS sv
           FROM short sh JOIN gnodes n
             ON position(',' || CAST(n.node AS VARCHAR) || ','
                         IN ',' || sh.path || ',') > 0
            AND n.node <> sh.seed AND n.node <> sh.t
           GROUP BY sh.seed, sh.t, n.node),
         bc AS (
           SELECT p.v AS node_id,
                  sum(CAST(p.sv AS DOUBLE) / sg.sig) AS b
           FROM pass p JOIN sigma sg
             ON sg.seed = p.seed AND sg.t = p.t
           GROUP BY p.v)
         SELECT CAST(n.node AS BIGINT) AS node_id,
                round(coalesce(bc.b, 0), 6) AS betweenness
         FROM gnodes n LEFT JOIN bc ON bc.node_id = n.node
         ORDER BY node_id""")),

    // ---- strongly connected components (pgr_strongComponents): the
    //      DIRECTED routable-core health check — oneway tags create
    //      one-way-in pockets that undirected components can't see.
    //      Label = max node id of the SCC (deterministic, so the
    //      mutual-reachability oracle reproduces it exactly).
    Query("q_osm_scc", (s, dir) => {
      val t = osm.OsmModel.microFixture(s)
      val merged = osm.RoadGraph.buildMergedNetworkCached(t, "micro")
      val e = osm.RoadGraph.directed(merged)
        .select(col("start_node"), col("end_node"))
      osm.GraphCheck.stronglyConnectedComponents(e)
        .select(col("node_id"), col("scc"))
        .orderBy("node_id")
    },
      // strongly connected components: full reachability closure rr via
      // a DISTINCT recursive CTE (terminates on cycles without a hop
      // bound), SCC label = max mutually-reachable node — the engine's
      // coloring-algorithm label is provably the same max
      (routeSssp +
      """,
         gnodes AS (SELECT DISTINCT src AS node FROM dedges
                    UNION SELECT DISTINCT dst FROM dedges),
         rr(a, b) AS (
           SELECT node, node FROM gnodes
           UNION
           SELECT rr.a, e.dst FROM rr JOIN dedges e ON e.src = rr.b)
         SELECT CAST(f.a AS BIGINT) AS node_id, CAST(max(f.b) AS BIGINT) AS scc
         FROM rr f JOIN rr r ON f.a = r.b AND f.b = r.a
         GROUP BY f.a ORDER BY node_id""")),

    // ---- PageRank over the strict directed graph: 20 fixed
    //      iterations, dangling mass leaks (both sides implement the
    //      same semantics); 8-place rounding absorbs the ~1e-14
    //      partition-order float drift in the per-node inbound sums.
    Query("q_osm_pagerank", (s, dir) => {
      val t = osm.OsmModel.microFixture(s)
      val merged = osm.RoadGraph.buildMergedNetworkCached(t, "micro")
      val e = osm.RoadGraph.directed(merged)
        .select(col("start_node"), col("end_node"))
      osm.GraphCheck.pageRank(e, iters = 20)
        .select(col("node_id"), round(col("rank"), 8).as("rank"))
        .orderBy("node_id")
    },
      pagerankOracleSql),

    // ---- personalized PageRank (random walk with restart from seeds
    //      {1, 4}): teleport mass on the seed set only — the
    //      relevance-to-these-nodes score; identical chain economics
    //      to q_osm_pagerank, oracle unrolls the seeded variant
    Query("q_osm_ppr", (s, dir) => {
      val t = osm.OsmModel.microFixture(s)
      val merged = osm.RoadGraph.buildMergedNetworkCached(t, "micro")
      val e = osm.RoadGraph.directed(merged)
        .select(col("start_node"), col("end_node"))
      osm.GraphCheck.personalizedPageRank(e, Seq(1L, 4L), iters = 20)
        .select(col("node_id"), round(col("rank"), 8).as("rank"))
        .orderBy("node_id")
    },
      pprOracleSql(Seq(1L, 4L), 20)),
  )
}
