package graft.trace

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String
import graft.util.SizeGate
import java.sql.Timestamp
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** The flagship recursive fund trace (reference: app.py:339-383 —
  * `WITH RECURSIVE trace_path` over fct_transaction_traces, hop cap ≤ 3,
  * per-hop date window, LIMIT 1000, OOM fallback to 1 hop).
  *
  * The anchor selects edges leaving `sourceAddress` inside the window;
  * each step joins the frontier's destination to the edges' source with
  * the same window predicate (app.py:353-365), accumulating with UNION
  * ALL semantics (path multiplicity preserved, carried as a count). The
  * DataFrame API has no recursive operator, so the closure is a bounded
  * driver-side loop of equi-joins: the loop count (maxHops ≤ 3) is tiny
  * and static, every join inside it is distributed. `trace` is lazy, so
  * a distributed trace is one plan; the hop cap and the weighted
  * frontier keep it bounded.
  *
  * The served trace (`traceWithFallback`) is size-gated: a window within
  * `SizeGate.TraceDriver`'s edge bound is fetched once and traced on
  * the driver under the same weighted expansion, total order and
  * re-expansion, because on KB-scale windows job scheduling, not data,
  * is the cost of the distributed plan. Larger windows run the lazy plan
  * behind the hop-1 fallback.
  *
  * The oracle-gated registry queries (ops/TraceOps: j5, j6, the Sankey
  * readout) run the distributed loop and the hop-1 fallback over their
  * (src, dst) edge set; Spark's native `WITH RECURSIVE` runs the
  * reference's CTE text as j9, the fixed point the engine drives itself.
  *
  * Scale: edges pre-filtered by the time window (partition pruning when
  * traces are date-partitioned); the frontier is the small shrinking side
  * of each hop join. With edges bucketed by source_address the per-hop
  * join is co-partitioned.
  */
object Trace {

  final case class TraceParams(
      sourceAddress: String,
      maxHops: Int,
      startTime: Timestamp,
      endTime: Timestamp,
      limit: Int = 1000)

  /** The output's total order (app.py:373-374's ORDER BY, made
    * deterministic with the hash/destination tiebreak). */
  private def orderKey: Seq[Column] = Seq(col("hop"), col("tx_time"),
    col("transaction_hash"), col("destination_address"))

  /** The trace's edges: the six edge columns in the time window, with
    * both endpoints present. Both arms of the served trace read this. */
  private def window(traces: DataFrame, p: TraceParams): DataFrame =
    traces.select(
        col("source_address"), col("destination_address"),
        col("transaction_hash"), col("block_id"), col("tx_time"),
        col("transferred_value_btc"))
      .filter(col("tx_time").between(lit(p.startTime), lit(p.endTime)))
      .filter(col("source_address").isNotNull &&
        col("destination_address").isNotNull)

  /** The WEIGHTED trace accumulator over edges carrying
    * `source_address` and `destination_address` (any further columns
    * ride along): one row per (hop, reached edge) carrying `paths` = how
    * many distinct hop-paths from `anchor` arrive over that edge, instead
    * of one row PER PATH. Path counting is distributive — the count
    * arriving at an edge is the sum of the counts that arrived at its
    * source — so each hop joins only the DISTINCT destinations of the
    * previous hop (with their path counts) to the edge set and never
    * materializes multiplicity as rows. Every hop's state is bounded by
    * |edges|, where the row-per-path frontier grows like |edges|^h on hub
    * graphs (the blow-up the reference punts on with LIMIT + OOM retry,
    * app.py:364-383). TraceFrontierSpec and TraceServingFrontierSpec pin
    * the bound and the row-per-path parity on multiplicity-heavy
    * fixtures.
    *
    * No broadcast hint on the edge side: a hard-coded broadcast is a
    * driver OOM at real edge cardinality. The planner (and AQE at runtime)
    * broadcasts small edge sets on its own and falls back to a shuffle
    * join when they outgrow the threshold. Each hop's plan repeats the
    * earlier hops as subtrees; their identical exchanges run once
    * (ReuseExchange), and the edge scan repeats once per hop join. */
  private[graft] def weightedHops(edges: DataFrame, anchor: Any,
      maxHops: Int): DataFrame = {
    var hopRows = edges
      .filter(col("source_address") === anchor)
      .withColumn("hop", lit(1))
      .withColumn("paths", lit(1L))
    var acc = hopRows
    for (h <- 2 to maxHops) {
      // Weighted frontier: ONE row per distinct reached address. This
      // groupBy is the whole fix — the join input below can never
      // exceed the address domain, regardless of path multiplicity.
      val frontier = hopRows
        .groupBy(col("destination_address").as("prev_dst"))
        .agg(sum(col("paths")).as("prev_paths"))
      hopRows = frontier
        .join(edges, col("prev_dst") === edges("source_address"))
        .withColumn("hop", lit(h))
        .withColumn("paths", col("prev_paths"))
        .drop("prev_dst", "prev_paths")
      acc = acc.unionByName(hopRows)
    }
    acc
  }

  /** Multi-hop trace over trace edges (columns of
    * fct_transaction_traces). Output: hop, source_address,
    * destination_address, transaction_hash, block_id, tx_time,
    * transferred_value_btc — ordered by (hop, tx_time), LIMIT applied
    * (app.py:373-374). Row-per-path semantics (UNION ALL multiplicity
    * preserved, as the reference's recursive CTE produces), but
    * computed through the weighted accumulator above and re-expanded
    * only at the very end, bounded by `p.limit`:
    *
    *  1. top-k the weighted rows by the output order (every weighted
    *     row carries >= 1 path, so the first `limit` output rows are
    *     contained in the expansion of the first `limit` weighted rows
    *     — a distributed TakeOrderedAndProject, never a global sort);
    *  2. over that <= `limit`-row slice, a running path total assigns
    *     each row its start position, rows starting past the limit are
    *     dropped, and each survivor explodes into
    *     min(paths, limit - start) copies — so no more than ~limit
    *     rows are ever materialized even when one edge carries 1e14
    *     paths.
    *
    * Identical output to enumerate-then-limit (duplicate rows are
    * interchangeable under the sort), with memory bounded by
    * |edges| + limit instead of |paths|. The returned plan is lazy and
    * pins nothing: a long-lived serving session tracing many windows
    * accumulates no cached edge plans (TraceCacheSpec). */
  def trace(traces: DataFrame, p: TraceParams): DataFrame = {
    val topWeighted = weightedHops(window(traces, p), p.sourceAddress,
        p.maxHops)
      .orderBy(orderKey: _*)
      .limit(p.limit)
    // <= limit rows from here on: the single-partition window is over
    // the top-k slice, not the trace state.
    val pos = Window.orderBy(orderKey: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    topWeighted
      .withColumn("start_pos", sum(col("paths")).over(pos) - col("paths"))
      .filter(col("start_pos") < p.limit)
      .withColumn("n_copies",
        least(col("paths"), lit(p.limit.toLong) - col("start_pos")))
      .withColumn("copy_i", explode(sequence(lit(1L), col("n_copies"))))
      .select(col("hop"), col("source_address"),
        col("destination_address"), col("transaction_hash"),
        col("block_id"), col("tx_time"), col("transferred_value_btc"))
      .orderBy(orderKey: _*)
      .limit(p.limit)
  }

  /** J6 — degradation retry (app.py:380-383, Snowflake error 100298
    * equivalent): `run(maxHops)`, and on any failure `run(1)`. The eager
    * localCheckpoint forces execution inside the try — returning the lazy
    * plan would defer runtime failures (the OOM class this guards
    * against) past the catch to the caller's first action. Both the
    * served trace and the registry's j6 go through this one wrapper. */
  def withHop1Fallback(maxHops: Int)(run: Int => DataFrame): DataFrame =
    try run(maxHops).localCheckpoint(true)
    catch { case _: Exception => run(1).localCheckpoint(true) }

  /** The served trace, size-gated ([[SizeGate.TraceDriver]]) on the
    * window's edge count. One bounded fetch, `limit(bound + 1)
    * .collect()`, reads the window's edges. If at most the bound come
    * back, [[onDriver]] answers from them and the result is a local
    * relation: collecting it runs no job and checkpoints nothing.
    * Otherwise the fetch is discarded and the lazy plan runs behind the
    * hop-1 fallback, whose result (bounded by `p.limit`) is cheap to
    * checkpoint. The decision is exact and the driver never holds more
    * than `bound + 1` edges. A failed fetch counts as above the bound,
    * and a forced gate runs no fetch. */
  def traceWithFallback(traces: DataFrame, p: TraceParams): DataFrame = {
    val edges = window(traces, p)
    lazy val fetched =
      edges.limit(SizeGate.TraceDriver.bound.toInt + 1).collect()
    if (!SizeGate.below(traces.sparkSession, SizeGate.TraceDriver)(
        fetched.length))
      withHop1Fallback(p.maxHops)(h => trace(traces, p.copy(maxHops = h)))
    else {
      val rows =
        try onDriver(fetched, p)
        catch { case _: ArithmeticException =>
          onDriver(fetched, p.copy(maxHops = 1)) }
      traces.sparkSession.createDataFrame(rows.asJava,
        StructType(StructField("hop", IntegerType, nullable = false) +:
          edges.schema.fields))
    }
  }

  /** [[trace]] on the driver over the window's fetched edges (the six
    * [[window]] columns, in order), row for row the distributed plan's
    * answer:
    *  - the weighted expansion: the frontier holds one entry per
    *    distinct reached address with its path count, so each hop's
    *    state is bounded by |edges|, as in [[weightedHops]];
    *  - the top-`limit` weighted rows under [[orderKey]]'s total order,
    *    ascending with nulls first and strings compared by UTF-8 bytes,
    *    as Spark sorts;
    *  - the re-expansion, each row repeated for its paths until `limit`
    *    rows are out.
    * Path counts and the running path total add with `Math.addExact`,
    * so an overflow throws `ArithmeticException` where the distributed
    * plan's ANSI sums fail; the caller then answers at hop 1. */
  private def onDriver(edges: Array[Row], p: TraceParams): Seq[Row] = {
    val bySrc = edges.groupBy(_.getString(0))
    val weighted = ArrayBuffer.empty[(Int, Row, Long)]
    var frontier = Map(p.sourceAddress -> 1L)
    for (h <- 1 to p.maxHops) {
      val hop = for {
        (addr, paths) <- frontier.toSeq
        e <- bySrc.getOrElse(addr, Array.empty[Row])
      } yield (h, e, paths)
      weighted ++= hop
      if (h < p.maxHops) frontier =
        hop.groupMapReduce(_._2.getString(1))(_._3)(Math.addExact)
    }
    def key(w: (Int, Row, Long)) = (w._1, w._2.getTimestamp(4),
      Option(w._2.getString(2)).map(UTF8String.fromString),
      UTF8String.fromString(w._2.getString(1)))
    val byKey = Ordering.Tuple4(Ordering.Int,
      Ordering.fromLessThan[Timestamp](_.before(_)),
      Ordering.Option(Ordering.ordered[UTF8String]),
      Ordering.ordered[UTF8String])
    val top = weighted.map(w => (key(w), w)).sortBy(_._1)(byKey)
      .take(p.limit).map(_._2)
    val out = ArrayBuffer.empty[Row]
    var total = 0L
    for ((h, e, paths) <- top) {
      val start = total
      total = Math.addExact(total, paths)
      if (start < p.limit)
        for (_ <- 1L to math.min(paths, p.limit - start))
          out += Row.fromSeq(h +: e.toSeq)
    }
    out.toSeq
  }

  /** J4 + O2/O3 — final enrichment join to dim_blocks and ordered page
    * (app.py:372-374). */
  def traceWithBlocks(traces: DataFrame, dimBlocks: DataFrame,
      p: TraceParams): DataFrame =
    trace(traces, p)
      .join(dimBlocks.select(col("block_id"), col("block_hash"),
        col("difficulty")), Seq("block_id"))
      .orderBy(orderKey: _*)
      .limit(p.limit)
}
