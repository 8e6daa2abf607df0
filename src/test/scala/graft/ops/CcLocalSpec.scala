package graft.ops

import org.apache.spark.sql.functions._
import graft.SparkSpec

/** The size-gated local union-find fast path (r15): for a bounded,
  * materialized edge list `ccAuto` must return EXACTLY what the
  * distributed star loop returns — min-member labels, member-count
  * sizes, one row per raw endpoint (self-loop-only nodes as
  * singletons). Pinned on randomized graphs plus the shapes that
  * historically broke CC variants (chains, duplicate edges, self
  * loops, singletons), and the gate's routing is pinned both ways. */
class CcLocalSpec extends SparkSpec {

  private def canonical(df: org.apache.spark.sql.DataFrame)
      : Seq[(Long, Long, Long)] =
    df.select(col("node").cast("long"), col("component_id").cast("long"),
      col("component_size").cast("long"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sorted.toSeq

  private def edgesDf(pairs: Seq[(Long, Long)]) = {
    import spark.implicits._
    pairs.toDF("src", "dst")
  }

  test("randomized graphs: ccLocal ≡ ccLogStar row-for-row") {
    val rnd = new scala.util.Random(4215)
    for (trial <- 1 to 8) {
      val n = 2 + rnd.nextInt(40)
      val m = rnd.nextInt(60)
      val pairs = Seq.fill(m)(
        (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong)) ++
        // guarantee at least one self loop and one duplicate edge
        Seq((1L, 1L), (0L, math.min(1L, n - 1L)),
          (0L, math.min(1L, n - 1L)))
      val df = edgesDf(pairs).localCheckpoint(true)
      val local = canonical(GraphOps.ccLocal(df))
      val dist = canonical(GraphOps.ccLogStar(df))
      assert(local == dist, s"trial $trial (n=$n, m=${pairs.size})")
    }
  }

  test("chain + duplicate edges + singleton self loop: min labels and " +
    "sizes exact") {
    val df = edgesDf(Seq((5L, 4L), (4L, 3L), (3L, 2L), (2L, 1L),
      (1L, 1L), (9L, 9L), (7L, 8L), (8L, 7L))).localCheckpoint(true)
    val got = canonical(GraphOps.ccLocal(df))
    assert(got == Seq((1L, 1L, 5L), (2L, 1L, 5L), (3L, 1L, 5L),
      (4L, 1L, 5L), (5L, 1L, 5L), (7L, 7L, 2L), (8L, 7L, 2L),
      (9L, 9L, 1L)))
  }

  test("ccAuto routes by the gate: local below, distributed forced above") {
    val df = edgesDf(Seq((1L, 2L), (2L, 3L))).localCheckpoint(true)
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet.toSet
    val local = canonical(GraphOps.ccAuto(df))
    // the local path collects — it may not create tracked round
    // checkpoints beyond the caller's own input
    assert((sc.getPersistentRDDs.keySet.toSet -- before).isEmpty,
      "local path must not leave star-loop checkpoints behind")
    val dist = canonical(forcedAbove(graft.util.SizeGate.CcDriver)(
      GraphOps.ccAuto(df)))
    assert(local == dist)
  }
}
