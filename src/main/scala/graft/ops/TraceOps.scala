package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables._
import graft.trace.Trace

/** J5/J6 — the reference's flagship recursive multi-hop fund trace
  * (app.py:339-366: `WITH RECURSIVE trace_path`, hop cap, per-hop window
  * filter; app.py:380-383: OOM fallback to 1 hop), as oracle-gated
  * registry queries over a synthetic (src, dst) edge set.
  *
  * j5, j6 and the Sankey readout run the served trace's own weighted-hop
  * loop and hop-1 fallback (trace/Trace: `weightedHops`,
  * `withHop1Fallback`), so the DuckDB oracle checks the code of the
  * served trace's distributed arm, which serves windows above 2¹⁶
  * edges. Windows at or below that bound are served by its driver arm,
  * which TraceArmSpec checks against the distributed arm and the
  * benchmark's trace check against a path expansion and DuckDB's
  * recursive CTE. Spark 4's SQL engine also supports
  * `WITH RECURSIVE` (UnionLoop execution): `j9_trace_recursive_cte` runs
  * the reference's own CTE text natively, oracle-checked against the same
  * DuckDB SQL — the fixed point the engine drives itself, vs the loop the
  * library drives.
  */
object TraceOps extends QueryModule {

  /** Synthetic homogeneous graph from the events table: node ids are
    * residues mod 50 so the edge set is bounded (≤2500 distinct edges)
    * regardless of scale factor — the traversal cost scales with the scan
    * + distinct, not with path blowup.
    *
    * Memoized (graft.util.PlanMemo, lazy localCheckpoint): FOUR queries
    * share this derivation (j5, j6, j9's domain twin, graph_pagerank —
    * which references it once per unrolled iteration subtree), so after
    * the first action the suite scans a ≤2500-row checkpoint instead of
    * re-running the events scan + distinct each time. Bounded by the
    * residue domain, session-scoped, never cacheManager-registered
    * (TraceSpec's empty-registry pin holds). */
  def edgeSet(s: SparkSession, d: String): DataFrame =
    graft.util.PlanMemo.memo("trace_edge_set", s, d)(
      events(s, d).select(
        (col("user_id") % 50).as("src"),
        (col("event_id") % 50).as("dst")).distinct())

  /** The one weighted-hop loop over the (src, dst) edge set, renamed at
    * the call: (hop INT, src, dst, paths BIGINT), one row per reached
    * edge — the edge set is distinct, so (hop, src, dst) is unique. */
  private[graft] def hops(edges: DataFrame, source: Long,
      maxHops: Int): DataFrame =
    Trace.weightedHops(edges.withColumnsRenamed(Map(
        "src" -> "source_address", "dst" -> "destination_address")),
        source, maxHops)
      .select(col("hop"), col("source_address").as("src"),
        col("destination_address").as("dst"), col("paths"))

  def all: Seq[Q] = Seq(
    Q("j5_trace_recursive",
      (s, d) => hops(edgeSet(s, d), source = 7L, maxHops = 3),
      Some("""WITH RECURSIVE edges AS (
                SELECT DISTINCT user_id % 50 AS src, event_id % 50 AS dst
                FROM events),
              trace_path AS (
                SELECT src, dst, 1 AS hop FROM edges WHERE src = 7
                UNION ALL
                SELECT e.src, e.dst, t.hop + 1
                FROM trace_path t JOIN edges e ON t.dst = e.src
                WHERE t.hop < 3)
              SELECT hop, src, dst, COUNT(*) AS paths
              FROM trace_path GROUP BY 1, 2, 3""")),

    // The same traversal as j5 through Spark's native recursive CTE —
    // the SQL text is (modulo the view name) the oracle's own.
    Q("j9_trace_recursive_cte",
      (s, d) => Sql.withView(s, events(s, d), "graft_events_cte") { v =>
        s.sql(s"""WITH RECURSIVE edges AS (
                   SELECT DISTINCT user_id % 50 AS src, event_id % 50 AS dst
                   FROM $v),
                 trace_path AS (
                   SELECT src, dst, 1 AS hop FROM edges WHERE src = 7
                   UNION ALL
                   SELECT e.src, e.dst, t.hop + 1
                   FROM trace_path t JOIN edges e ON t.dst = e.src
                   WHERE t.hop < 3)
                 SELECT hop, src, dst, COUNT(*) AS paths
                 FROM trace_path GROUP BY 1, 2, 3""")
      },
      Some("""WITH RECURSIVE edges AS (
                SELECT DISTINCT user_id % 50 AS src, event_id % 50 AS dst
                FROM events),
              trace_path AS (
                SELECT src, dst, 1 AS hop FROM edges WHERE src = 7
                UNION ALL
                SELECT e.src, e.dst, t.hop + 1
                FROM trace_path t JOIN edges e ON t.dst = e.src
                WHERE t.hop < 3)
              SELECT hop, src, dst, COUNT(*) AS paths
              FROM trace_path GROUP BY 1, 2, 3""")),

    // The dashboard's Sankey readout (app.py:418-434): collapse the trace
    // result into source→destination flow weights — per-edge path count
    // summed over hops, top edges only. Completes dashboard parity: every
    // reference readout now has a registered query. ORDER BY carries a
    // (src, dst) tiebreak — (src, dst) is unique after the final group, so
    // the LIMIT is total-order deterministic.
    Q("trace_sankey_agg",
      (s, d) => hops(edgeSet(s, d), source = 7L, maxHops = 3)
        .groupBy("src", "dst")
        .agg(sum(col("paths")).as("flow_weight"),
          count(lit(1)).as("n_hops"))
        .orderBy(desc("flow_weight"), asc("src"), asc("dst"))
        .limit(20),
      Some("""WITH RECURSIVE edges AS (
                SELECT DISTINCT user_id % 50 AS src, event_id % 50 AS dst
                FROM events),
              trace_path AS (
                SELECT src, dst, 1 AS hop FROM edges WHERE src = 7
                UNION ALL
                SELECT e.src, e.dst, t.hop + 1
                FROM trace_path t JOIN edges e ON t.dst = e.src
                WHERE t.hop < 3),
              agg AS (
                SELECT hop, src, dst, COUNT(*) AS paths
                FROM trace_path GROUP BY 1, 2, 3)
              SELECT src, dst, CAST(SUM(paths) AS BIGINT) AS flow_weight,
                COUNT(*) AS n_hops
              FROM agg GROUP BY 1, 2
              ORDER BY flow_weight DESC, src, dst LIMIT 20""")),

    // J6: the fallback wrapper — same result as the plain trace when no
    // failure occurs (2 hops keeps the bench cost distinct from j5).
    Q("j6_trace_fallback",
      (s, d) => Trace.withHop1Fallback(maxHops = 2)(
        hops(edgeSet(s, d), source = 7L, _)),
      Some("""WITH RECURSIVE edges AS (
                SELECT DISTINCT user_id % 50 AS src, event_id % 50 AS dst
                FROM events),
              trace_path AS (
                SELECT src, dst, 1 AS hop FROM edges WHERE src = 7
                UNION ALL
                SELECT e.src, e.dst, t.hop + 1
                FROM trace_path t JOIN edges e ON t.dst = e.src
                WHERE t.hop < 2)
              SELECT hop, src, dst, COUNT(*) AS paths
              FROM trace_path GROUP BY 1, 2, 3"""))
  )
}
