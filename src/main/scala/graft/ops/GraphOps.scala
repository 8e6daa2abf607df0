package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.Tables._
import graft.util.SizeGate
import Parity._

/** Graph analytics over the events-derived transfer graph — the natural
  * extension of the reference's fund-tracing domain
  * (transaction_tracing/app.py:339-366 traces paths; these operators
  * answer the follow-up questions an analyst asks of the same graph:
  * which addresses cluster together, which are structurally important,
  * how far does tainted value spread, how inter-connected is a
  * neighborhood).
  *
  * Scale designs:
  *  - Connected components: min-label propagation with per-round
  *    pointer jumping (lab ← lab(lab), the Hash-to-Min shortcut —
  *    Rastogi et al., ICDE'13) — O(log diameter) rounds of joins on
  *    the EDGE list only (the vertex payload never enters the loop;
  *    r14 added the jump: pure propagation paid a round per hop of
  *    diameter). The independent large-star/small-star twin
  *    (Kiveris et al., "Connected Components in MapReduce and
  *    Beyond", SoCC'14) gives O(log n) rounds by edge rewriting —
  *    a structurally different algorithm, kept as the cross-check.
  *  - PageRank / taint: a FIXED iteration count unrolls into one lazy
  *    plan — each iteration is a single shuffle on the destination key
  *    plus a broadcast of the one-row node count; no driver-side
  *    actions, no caching requirement. Contributions are rounded into
  *    DECIMAL(28,12) before the per-destination sum so the aggregate is
  *    accumulation-order-independent (ops/Parity discipline — a double
  *    sum would drift between partial-agg orders, let alone engines).
  *  - Triangles: the standard ordered-edge wedge join — orienting every
  *    edge low→high counts each triangle exactly once and caps wedge
  *    fan-out by the ordered degree (the classic degree-ordering
  *    optimization falls out of the a<b<c orientation).
  */
object GraphOps extends QueryModule {

  /** Undirected block-ring graph: nodes (user_id%200)*5 + k are wired in
    * a ring inside each block of 5, so edges NEVER cross blocks — the
    * per-block membership is a test-able invariant of the components. */
  def blockRingEdges(s: SparkSession, d: String): DataFrame =
    graft.util.PlanMemo.memo("block_ring_edges", s, d)(
      events(s, d).select(
        ((col("user_id") % 200) * 5 + col("event_id") % 5).as("src"),
        ((col("user_id") % 200) * 5 + (col("event_id") + 1) % 5).as("dst"))
        .distinct())

  /** Weighted directed transfer graph on the SAME 50-node domain as the
    * trace edge set (TraceOps.edgeSet) — one graph, several analyses.
    * Both endpoints share the domain so multi-hop propagation never
    * dead-ends (user_id's raw range is tiny at small scale factors, so
    * an asymmetric modulus would make the graph near-bipartite and
    * strand the second hop). Weights are exact decimal value sums so
    * flow ratios are engine-portable. */
  def transferEdges(s: SparkSession, d: String): DataFrame =
    graft.util.PlanMemo.memo("transfer_edges", s, d)(
      events(s, d)
        .groupBy((col("user_id") % 50).as("src"),
          (col("event_id") % 50).as("dst"))
        .agg(sum(dec(col("value"))).as("w")))

  /** Bounded wait for an [[org.apache.spark.sql.Observation]]'s metrics:
    * await its future up to `timeoutMs`, returning None on expiry.
    * `obs.get` blocks FOREVER if the SQLExecutionEnd event is dropped
    * (listener-bus overflow under load), which would hang the CC
    * convergence loops where the replaced count() action used to fail
    * loudly (ADVICE r14). Callers fall back to an explicit (exact)
    * aggregate over the already-checkpointed round output — one extra
    * bounded job on the rare dropped-event path, never a hang. */
  private[ops] def observedOrNone(obs: org.apache.spark.sql.Observation,
      timeoutMs: Long = 60000L): Option[Map[String, Any]] =
    try {
      val row = scala.concurrent.Await.result(obs.future,
        scala.concurrent.duration.Duration(timeoutMs,
          java.util.concurrent.TimeUnit.MILLISECONDS))
      Some(row.schema.fieldNames.iterator
        .map(n => n -> row.getAs[Any](n)).toMap)
    } catch { case _: java.util.concurrent.TimeoutException => None }

  /** Max materialized edge count at which the min-label loop may
    * broadcast the label table into the per-round propagation join.
    * Labels ≤ distinct endpoints ≤ 2·edges rows of two longs, so 1M
    * edges bounds the broadcast at a few tens of MB — far under the
    * executor budget; above it every round keeps the co-partitioned
    * shuffle join. Tuned for safety, not the crossover (a broadcast
    * stays profitable well past this), so the gate can only forgo wins,
    * never OOM. */
  private[ops] val CC_LABEL_BCAST_MAX_EDGES = 1L << 20

  /** Connected components by min-label propagation over an undirected
    * edge list. Convergence-driven round count → EAGER (same contract
    * as dup_clusters): every cache is released before returning and the
    * result is checkpointed so no plan state stays pinned. */
  def connectedComponents(symEdges: DataFrame): DataFrame = {
    import graft.util.Checkpoints
    // Per-round state is a tracked localCheckpoint, NOT a cache: each
    // round references the previous labels twice (propagation join +
    // the union carrying `prev`), and cache() does not truncate
    // lineage, so a cached loop doubles the logical plan per round —
    // invisible on the diameter-2 block-ring fixture, an analyzer OOM
    // on a near-critical graph whose diameter reaches ~20 (found by
    // graph_cc_scale_twin's sparsified instance). The checkpoint roots
    // every round's plan at the previous round's RDD; blocks are
    // label-table-sized and the superseded round's are released
    // immediately. EVERY materialization — including the edge cache
    // count and the initial label checkpoint — sits inside the
    // try/finally: a job failure at any point must not leave the edge
    // cache or a label snapshot pinned in a long-lived session.
    val edges = symEdges.cache()
    var cur: DataFrame = null
    var curIds: Set[Int] = Set.empty
    try {
      val edgeCount = edges.count()
      // Label-side join strategy, decided ONCE from the materialized
      // edge count (bounded metadata — the count the loop already pays
      // for): the label table has at most one row per distinct
      // endpoint, so edgeCount bounds it. Below the bound a broadcast
      // hint removes the per-round label exchange + sort; above it (or
      // on any doubt) the hint is withheld and the round keeps the
      // scale-safe co-partitioned shuffle join — the same fail-closed
      // size-gate discipline as graft.util.SizeGate (a forced broadcast
      // on a node-proportional side is the OOM class the r10-r12
      // broadcast audit removed everywhere else).
      val bcastLabels = edgeCount <= CC_LABEL_BCAST_MAX_EDGES
      val init = Checkpoints.ckptTracked(
        edges.select(col("src").as("node")).distinct()
          .withColumn("lab", col("node"))
          .withColumn("prev", col("lab")))
      cur = init._1; curIds = init._2
      var changed = 1L
      var rounds = 0
      while (changed > 0 && rounds < 64) {
        // one aggregate carries BOTH the new label and the previous one
        // (each node contributes exactly one non-null prev row), so the
        // convergence check needs no second join; and since r14 the
        // change count rides the checkpoint materialization itself as
        // an observed metric (CollectMetrics is row-transparent, the
        // counter is collected DURING the round's one job) — the
        // per-round "count the changed rows" follow-up job is gone
        // (guide §1/§2: same answer, one fewer action per round, which
        // on a cluster is one fewer scheduler round-trip per round).
        val labels = cur.select("node", "lab")
        val labSide = labels.withColumnRenamed("node", "src")
        val prop = edges
          .join(if (bcastLabels) broadcast(labSide) else labSide,
            Seq("src"))
          .select(col("dst").as("node"), col("lab"),
            lit(null).cast("long").as("prev"))
        val m1 = labels.withColumn("prev", col("lab")).union(prop)
          .groupBy("node")
          .agg(min("lab").as("lab"), max("prev").as("prev"))
        // r14: per-round POINTER JUMP (path compression) — after the
        // neighbor-min step, shortcut every label through its own
        // label's label (lab ← lab(lab); every label value is itself a
        // node key of m1, so m1 doubles as the mapping table). Labels
        // stay monotone non-increasing and the fixpoint is unchanged
        // (stable ⟺ every label is its component minimum — the same
        // argument as before, since next ≤ m1 ≤ cur elementwise), but
        // the round count drops from O(diameter) to O(log diameter)
        // (Rastogi et al., "Finding Connected Components in MapReduce
        // in Logarithmic Rounds", ICDE'13 — the Hash-to-Min shortcut):
        // the sf0.1 near-critical instance's ~21 propagation rounds
        // become ~8, and at 100 TB a transfer CHAIN no longer costs a
        // round per hop. One extra equi-join per jumping round (gated
        // like the propagation side) buys the exponential round cut —
        // but it is pure overhead on short-diameter graphs that
        // converge in 2-3 rounds anyway (measured: the block-ring
        // query paid ~2× for zero round savings), so the jump engages
        // from round 2: rounds 0-1 are plain propagation (a jump
        // cannot shortcut more than propagation reaches until labels
        // point beyond one hop), the asymptotics keep the log bound
        // with a constant delay, and converged-by-round-2 instances
        // pay one jump join at most (the confirming round).
        val jumping = rounds >= 2
        val body =
          if (!jumping) m1
          else {
            val jmap =
              m1.select(col("node").as("jn"), col("lab").as("jlab"))
            m1.join(if (bcastLabels) broadcast(jmap) else jmap,
                col("lab") === col("jn"))
              .select(col("node"), col("jlab").as("lab"), col("prev"))
          }
        val obs = org.apache.spark.sql.Observation()
        val (next, nextIds) = Checkpoints.ckptTracked(
          body.observe(obs, coalesce(sum(
              when(col("lab") =!= col("prev"), 1L).otherwise(0L)),
              lit(0L)).as("changed")))
        // bounded metric wait (ADVICE r14: a dropped SQLExecutionEnd
        // must not hang the loop); the fallback recomputes the SAME
        // count over the just-checkpointed round output — exact, one
        // bounded job, only on the dropped-event path
        changed = observedOrNone(obs)
          .map(_("changed").asInstanceOf[Long])
          .getOrElse(next.filter(col("lab") =!= col("prev")).count())
        Checkpoints.release(cur, curIds)
        cur = next; curIds = nextIds
        rounds += 1
      }
      require(changed == 0, s"components not converged after $rounds rounds")
      val labels = cur.select("node", "lab")
      val sizes = labels.groupBy("lab")
        .agg(count(lit(1)).as("component_size"))
      // tracked so a mid-job failure of the result materialization
      // self-cleans (ckptTracked releases its own partial blocks); on
      // success the ids are deliberately dropped — the blocks back the
      // returned plan and the ContextCleaner reclaims them when the
      // caller drops the result
      Checkpoints.ckptTracked(
        labels.join(sizes, Seq("lab"))
          .select(col("node"), col("lab").as("component_id"),
            col("component_size")))._1 // materialized before finally releases
    } finally {
      edges.unpersist()
      if (cur != null) Checkpoints.release(cur, curIds)
    }
  }

  /** Each edge in both directions as a single Generate pass —
    * `e.union(e.swap)` scans the (checkpointed) round input twice and
    * doubles its subtree in the plan; explode reads it once (guide §2.3:
    * don't recompute what one pass can emit; `Measure ab symshape`).
    * Same rows, order-insensitive consumers only. */
  private[graft] def symmetrize(e: DataFrame): DataFrame = e
    .select(explode(array(
      struct(col("src").as("s"), col("dst").as("d")),
      struct(col("dst").as("s"), col("src").as("d")))).as("p"))
    .select(col("p.s").as("src"), col("p.d").as("dst"))

  /** O(log n)-round connected components — alternating large-star /
    * small-star (Kiveris et al., "Connected Components in MapReduce and
    * Beyond", SoCC'14): each round hangs every node's neighbors onto
    * the minimum of its closed neighborhood, so component trees flatten
    * geometrically and the round count is O(log n) INDEPENDENT of
    * component diameter — the scale path the min-label loop's Scaladoc
    * promises for adversarial diameters (a 100 TB transfer graph's
    * longest chain easily exceeds any affordable min-label round
    * count). Each round is two shuffles over the (shrinking) edge list.
    * Output is identical to [[connectedComponents]]: min-member labels.
    */
  def ccLogStar(edges: DataFrame): DataFrame = {
    // canonical undirected pair set, no self loops
    def canon(e: DataFrame): DataFrame = e
      .select(least(col("src"), col("dst")).as("src"),
        greatest(col("src"), col("dst")).as("dst"))
      .where(col("src") =!= col("dst")).distinct()
    // the paper's two phases (Algorithms 1-2), each as ONE window-min
    // pass instead of a groupBy + self-join: min(dst) OVER
    // (PARTITION BY src) computes the same per-neighborhood minimum the
    // aggregate did, on the same shuffle, and the join that re-attached
    // it to the rows disappears — per phase the r14 rewrite drops one
    // Exchange and one join from every round (guide §2.4; measured in
    // OPTIMIZATION_r14.md). Values are identical: least(min Γ(u), u) is
    // the same closed-neighborhood minimum either way.
    //
    // large-star: over the FULL neighborhood, hang every strictly-larger
    // neighbor on min(Γ⁺(u)). small-star: over only the ≤ neighbors,
    // hang N ∪ {u} itself on min(N ∪ {u}) — emitting for u too is what
    // keeps each node linked to its parent (dropping it collapses the
    // edge set to nothing and every node becomes a singleton).
    val bySrc = org.apache.spark.sql.expressions.Window.partitionBy("src")
    def largeStar(e: DataFrame): DataFrame =
      symmetrize(e)
        .withColumn("m", least(min("dst").over(bySrc), col("src")))
        .where(col("dst") > col("src"))
        .select(col("dst").as("src"), col("m").as("dst"))
    def smallStar(e: DataFrame): DataFrame = {
      // the self row (src, src) plays two roles on the one shuffle: it
      // folds u itself into the window min (the paper's N ∪ {u}), and
      // its own emission is the (u, m) edge the join formulation added
      // with a separate union. Emitting it per ≤-neighbor (not once)
      // is harmless: the duplicates carry identical values and the
      // round's closing canon() is a distinct.
      val smaller = symmetrize(e).where(col("dst") <= col("src"))
      smaller
        .select(explode(array(
          struct(col("src").as("s"), col("dst").as("d")),
          struct(col("src").as("s"), col("src").as("d")))).as("p"))
        .select(col("p.s").as("src"), col("p.d").as("dst"))
        .withColumn("m", least(min("dst").over(bySrc), col("src")))
        .select(col("dst").as("src"), col("m").as("dst"))
    }
    // node universe from the RAW endpoints: a node whose only edge is a
    // self loop still owns a (singleton) component even though canon()
    // strips the loop from the pair set
    val nodes = edges.select(col("src").as("node"))
      .union(edges.select(col("dst").as("node"))).distinct()
    // localCheckpoint (not cache) each round: each star phase
    // references its input FOUR times, so an uncut lineage grows as
    // 4^rounds and OOMs plan construction long before data does. The
    // checkpoint blocks are NOT registered with the cacheManager, so
    // each round tracks the persistent-RDD ids it created and releases
    // the previous round's explicitly — at scale, waiting for the GC +
    // ContextCleaner to notice dropped snapshots lets full-edge-set
    // blocks pile up across tens of rounds. (Shared helper:
    // graft.util.Checkpoints — the incremental build and corpus staging
    // use the same pattern.)
    import graft.util.Checkpoints.{ckptTracked, release}
    def releaseIds(ids: Set[Int]): Unit = release(edges, ids)
    // Each round's checkpoint also observes a cheap edge-set signature
    // (count, Σsrc, Σdst) — collected during the round's own job.
    // Signatures of unequal sets CAN coincide, so they are never
    // trusted for convergence; but signatures of EQUAL sets always
    // match, so a mismatch proves the round changed something and the
    // exact set-equality action is skipped (r14: the equality check is
    // a full union+aggregate job per round; on converging instances it
    // now runs ~once, at the fixed point, instead of every round).
    def observed(e: DataFrame): (DataFrame, org.apache.spark.sql.Observation) = {
      val obs = org.apache.spark.sql.Observation()
      (e.observe(obs,
        count(lit(1)).as("n"),
        coalesce(sum(col("src")), lit(0L)).as("ssrc"),
        coalesce(sum(col("dst")), lit(0L)).as("sdst")), obs)
    }
    // bounded metric wait (ADVICE r14: obs.get blocks forever if the
    // SQLExecutionEnd event is dropped); the fallback recomputes the
    // SAME signature over the just-checkpointed round output — exact,
    // one bounded job, only on the dropped-event path
    def sig(obs: org.apache.spark.sql.Observation,
        ckpt: DataFrame): (Any, Any, Any) =
      observedOrNone(obs) match {
        case Some(m) => (m("n"), m("ssrc"), m("sdst"))
        case None =>
          val r = ckpt.agg(count(lit(1)),
            coalesce(sum(col("src")), lit(0L)),
            coalesce(sum(col("dst")), lit(0L))).head()
          (r.get(0), r.get(1), r.get(2))
      }
    val (obsInit, obs0) = observed(canon(edges))
    var (cur, curIds) = ckptTracked(obsInit)
    var curSig = sig(obs0, cur)
    try {
      var rounds = 0
      var done = false
      while (!done && rounds < 64) {
        val (obsNext, obsN) = observed(canon(smallStar(largeStar(cur))))
        val (next, nextIds) = ckptTracked(obsNext)
        val nextSig = sig(obsN, next)
        // exact convergence in ONE action, no hash collisions: both
        // sets are distinct, so every pair in (cur ∪ next) appears
        // exactly twice iff the sets are equal; run it only when the
        // observed signatures agree (a mismatch already proves
        // inequality); release the fresh round's blocks if the read
        // fails (the finally only tracks the adopted round)
        done = nextSig == curSig && {
          try cur.unionByName(next).groupBy("src", "dst").count()
            .filter(col("count") =!= 2).isEmpty
          catch { case e: Throwable => releaseIds(nextIds); throw e }
        }
        releaseIds(curIds)
        cur = next; curIds = nextIds; curSig = nextSig
        rounds += 1
      }
      require(done, s"log-star components not converged after $rounds rounds")
      // at the fixed point every edge is (child, root): label = min
      // neighbor (the root), roots and isolated nodes label themselves
      val sym = symmetrize(cur).toDF("node", "nbr")
      val labels = nodes.join(sym, Seq("node"), "left")
        .groupBy("node")
        .agg(least(min("nbr"), first("node")).as("component_id"))
      val sizes = labels.groupBy("component_id")
        .agg(count(lit(1)).as("component_size"))
      ckptTracked( // self-cleans on failure; result blocks stay (see CC)
        labels.join(sizes, Seq("component_id"))
          .select(col("node"), col("component_id"),
            col("component_size")))._1
    } finally {
      releaseIds(curIds)
    }
  }

  /** Connected components with a size-gated LOCAL fast path: a
    * MATERIALIZED edge list (callers pass a checkpoint; the count is
    * bounded metadata they can afford) at or below
    * `SizeGate.DRIVER_MAX_ROWS` collects to the driver and resolves via
    * union-find with min-member canonical labels — identical output to
    * [[ccLogStar]] by construction (CcLocalEquivalenceSpec pins it on
    * randomized graphs); above the gate the O(log n) distributed loop
    * runs unchanged (the distributed loop at that size pays ~5 rounds ×
    * 3 exchanges of pure scheduling over a KB-scale edge list:
    * dup_clusters measured ~1 s of its 1.9 s in the star loop over 25
    * pairs). Used by the corpus-curation consumers
    * (dup_clusters, split_leakage_safe), whose near-dup pair graphs are
    * KB-scale until the corpus is enormous; the graph-tier queries call
    * the distributed bodies directly so the algorithms themselves stay
    * oracle-exercised at every scale. */
  def ccAuto(edges: DataFrame,
      localMaxEdges: Long = SizeGate.DRIVER_MAX_ROWS): DataFrame = {
    val n = edges.count()
    if (n <= localMaxEdges) ccLocal(edges) else ccLogStar(edges)
  }

  /** Driver union-find over a BOUNDED edge list — gate via [[ccAuto]],
    * never call on an unbounded input. Output contract identical to
    * [[connectedComponents]]/[[ccLogStar]]: one row per distinct raw
    * endpoint (self-loop-only nodes own singleton components), label =
    * minimum member, component_size = member count. */
  private[ops] def ccLocal(edges: DataFrame): DataFrame = {
    val s = edges.sparkSession
    val raw = edges.select(col("src").cast("long"), col("dst").cast("long"))
      .collect()
    val parent = scala.collection.mutable.LongMap[Long]()
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent(r)
      var c = x
      while (parent.getOrElse(c, c) != c) {
        val nxt = parent(c); parent(c) = r; c = nxt
      }
      r
    }
    def union(a: Long, b: Long): Unit = {
      parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
      val ra = find(a); val rb = find(b)
      // root at the MIN so the final find IS the min-member label
      if (ra < rb) parent(rb) = ra else if (rb < ra) parent(ra) = rb
    }
    raw.foreach { r => union(r.getLong(0), r.getLong(1)) }
    val nodes = parent.keys.toArray
    val labels = nodes.map(n => n -> find(n))
    val sizes = labels.groupBy(_._2).map { case (l, m) => l -> m.length.toLong }
    import s.implicits._
    s.createDataset(labels.toSeq.map { case (n, l) => (n, l, sizes(l)) })
      .toDF("node", "component_id", "component_size")
  }

  /** Full PageRank with dangling-mass redistribution, damping 0.85,
    * `iters` fixed iterations unrolled into ONE lazy plan: per
    * iteration, pr = 0.15/n + 0.85·(insum + dangling_mass/n), where
    * dangling_mass is the previous ranks of nodes with no out-edges.
    * The dangling sum is a one-row broadcast aggregate (anti-join
    * against the out-degree set) cast through DECIMAL(28,12) — like the
    * contribution sums — so it is accumulation-order-independent and
    * engine-portable.
    *
    * The edge list excludes sources in a fixed sink set (node % 10 = 9;
    * those nodes still appear as destinations), so the graph has
    * STRUCTURAL sinks at every scale and the redistribution term is
    * genuinely exercised by the hash gate — on the raw mod-50 edge set
    * every residue occurs as a source and a zero dangling term would be
    * vacuously "correct". PageRankMassSpec pins conservation:
    * Σpr stays ≈ 1, which fails without redistribution (the 5 sinks
    * leak ~8.5% of total mass per iteration). */
  /** Iterations per lazy unroll segment: each iteration references the
    * previous ranks TWICE (contribution join + dangling aggregate), so
    * the unrolled logical plan doubles per iteration — fine for the
    * gate's 3 iterations (~8 shared subtrees, ReuseExchange dedupes the
    * shuffles), geometric for a caller's iters=20. Every `prBarrier`-th
    * iteration therefore materializes the ranks as a localCheckpoint —
    * the standard Spark iterative-algorithm barrier — bounding any
    * segment at 2^4 subtrees. The gate path (iters=3) never reaches a
    * barrier, so its zero-job construction pin (GraphOpsSpec) holds;
    * barrier'd intermediates are reclaimed by the ContextCleaner when
    * the next barrier drops the reference. */
  private val prBarrier = 4

  def pagerank(s: SparkSession, d: String, iters: Int): DataFrame =
    pagerankOn(
      TraceOps.edgeSet(s, d) // memoized distinct (src,dst)
        .filter(col("src") % 10 =!= 9), // structural sinks: ..9 never emit
      iters,
      // the fixed residue-domain graph has ≤55 nodes — broadcasting its
      // degree table is always right
      broadcastDeg = true)

  /** [[pagerank]] over an arbitrary directed distinct edge list — the
    * same unrolled plan, callable on graphs that grow with scale (see
    * `graph_pagerank_scale_mass`). Contract fine print:
    *  - construction is LAZY only for `iters <= prBarrier` (the
    *    registered gates use 3); beyond that each barrier runs its
    *    segment's jobs at construction — callers registering a bigger
    *    iters as a Q must mark it eager.
    *  - `broadcastDeg` force-broadcasts the out-degree table; leave it
    *    false for node-proportional graphs (the degree table grows
    *    with the node count and a forced broadcast would hit the
    *    broadcast limit exactly at the scales worth measuring) and let
    *    the planner pick from stats. */
  /** @param barrierEvery materialize the ranks as a tracked
    *        localCheckpoint every N iterations. Defaults to [[prBarrier]]
    *        (lazy for the registered iters=3 gates — their zero-job
    *        construction pin holds). EAGER callers (e.g.
    *        `graph_pagerank_scale_mass`) pass 1: each iteration
    *        references the previous ranks once and the per-dst sums
    *        twice, so a lazy unroll DOUBLES the logical plan per
    *        iteration (r15 measured: 7,690 formatted lines / 610
    *        Exchange nodes for 3 iterations over the scale edge set,
    *        and 1.9 s of the gate's 3.1 s wall was driver gaps —
    *        analysis/optimization/AQE re-planning, not data). A
    *        barrier per iteration cuts the plan to one iteration's
    *        worth at the price of materializing the node-proportional
    *        rank table (guide §3.3: materialise intermediates to
    *        truncate plan-bound queries). Values are bit-identical —
    *        a checkpoint is row-transparent. */
  def pagerankOn(e: DataFrame, iters: Int,
      broadcastDeg: Boolean = false,
      barrierEvery: Int = prBarrier): DataFrame = {
    val deg0 = e.groupBy("src").agg(count(lit(1)).as("od"))
    val ewd0 = e.join(if (broadcastDeg) broadcast(deg0) else deg0, "src")
    // one pass over e, not union-of-two-scans: explode emits both
    // endpoints per edge row, halving the subtree the unrolled
    // iterations copy and the scans the executed plan runs (guide §2.3)
    val nodes0 = e
      .select(explode(array(col("src"), col("dst"))).as("node"))
      .distinct()
    // Per-iteration barriers (barrierEvery=1, the eager path) would
    // otherwise re-run the iteration-INDEPENDENT subtrees — the edge
    // distinct, degree aggregate and node universe — once per barrier
    // materialization, where the lazy unroll paid them once under
    // ReuseExchange (measured r15: first barrierEvery=1 cut took
    // taskTime 0.7→2.0 s at sf0.1 exactly from this). Checkpoint ewd
    // and nodes ONCE up front in that mode; their blocks back every
    // iteration incl. the returned plan (edge-/node-proportional, the
    // same bound as the CC gates' loop state) and are reclaimed by the
    // ContextCleaner when the caller drops the result. Lazy callers
    // (barrierEvery >= prBarrier) are untouched — construction stays
    // zero-job.
    // r15b refinement of the eager path: checkpoint the EDGE expression
    // once first — ewd and nodes previously each re-ran the full
    // upstream (events scan + sample filter + node-count broadcast +
    // distinct) inside their own materialization job — then materialize
    // the two derived checkpoints on two driver threads (guide §2.6:
    // they are independent, and actions are only sequential because the
    // driver calls them sequentially; ckptTracked is thread-exact since
    // r15). The edge snapshot is released as soon as both derived
    // checkpoints adopt it, so peak pinned state gains one bounded
    // edge-proportional block set only transiently. Values unchanged —
    // checkpoints are row-transparent and deg/ewd/nodes compute from
    // the same rows either way. Lazy callers untouched.
    val (ewd, nodes) =
      if (barrierEvery == 1) {
        import graft.util.Checkpoints
        val (eCkpt, eIds) = Checkpoints.ckptTracked(e)
        try {
          val degE = eCkpt.groupBy("src").agg(count(lit(1)).as("od"))
          val ewdE = eCkpt.join(
            if (broadcastDeg) broadcast(degE) else degE, "src")
          val nodesE = eCkpt
            .select(explode(array(col("src"), col("dst"))).as("node"))
            .distinct()
          val Seq(ewdC, nodesC) = graft.util.Overlap.all(Seq(
            () => Checkpoints.ckptTracked(ewdE)._1,
            () => Checkpoints.ckptTracked(nodesE)._1))
          (ewdC, nodesC)
        } finally Checkpoints.release(eCkpt, eIds)
      } else (ewd0, nodes0)
    val n = nodes.agg(count(lit(1)).as("n_nodes"))
    var pr = nodes.crossJoin(broadcast(n))
      .select(col("node"), round(lit(1.0) / col("n_nodes"), 12).as("pr"))
    // each barrier releases the PREVIOUS barrier's tracked blocks (the
    // new checkpoint's data no longer needs them); the final barrier's
    // blocks back the returned plan and are reclaimed by the
    // ContextCleaner when the caller drops the result
    var barrier: Option[(DataFrame, Set[Int])] = None
    try {
    for (i <- 1 to iters) {
      // r14: contributions and dangling mass ride ONE pass over pr.
      // A LEFT join against the out-degree-carrying edge list tags
      // every (node, pr) row: matched rows fan out to per-edge
      // contributions (pr/od, the old inner join unchanged), unmatched
      // rows are EXACTLY the dangling nodes (no out-edges) and carry
      // their pr under the null-dst group of the same aggregate. The
      // old plan's per-iteration second aggregate over pr (the
      // dangling semi-join against a nodes⟕deg anti-join) is gone —
      // one aggregation pass instead of two, and the anti-join subtree
      // no longer repeats per unrolled iteration (guide §2.3/§2.4).
      // Value path is unchanged: same DECIMAL(28,12) casts, same sum
      // then cast-to-double, so results are bit-identical.
      val tagged = pr.join(ewd, col("node") === col("src"), "left")
        .select(col("dst"),
          when(col("od").isNull, col("pr").cast(DecimalType(28, 12)))
            .otherwise((col("pr") / col("od")).cast(DecimalType(28, 12)))
            .as("c"))
      val sums = tagged.groupBy("dst").agg(sum(col("c")).as("s"))
      val insum = sums.where(col("dst").isNotNull)
        .select(col("dst"), col("s").cast("double").as("insum"))
      val dangling = sums.where(col("dst").isNull)
        .agg(coalesce(sum(col("s")).cast("double"), lit(0.0)).as("dm"))
      pr = nodes.crossJoin(broadcast(n)).crossJoin(broadcast(dangling))
        .join(insum, col("node") === col("dst"), "left")
        .select(col("node"),
          round(lit(0.15) / col("n_nodes") +
            lit(0.85) * (coalesce(col("insum"), lit(0.0)) +
              col("dm") / col("n_nodes")), 12).as("pr"))
      if (i % barrierEvery == 0 && i < iters) {
        val t = graft.util.Checkpoints.ckptTracked(pr)
        barrier.foreach { case (df, ids) =>
          graft.util.Checkpoints.release(df, ids) }
        barrier = Some(t)
        pr = t._1
      }
    }
    } catch {
      // a later barrier's materialization failing must not strand the
      // previously adopted barrier's blocks (ckptTracked self-cleans
      // only its OWN partials); on success the last barrier backs the
      // returned plan and is deliberately kept
      case e: Throwable =>
        barrier.foreach { case (df, ids) =>
          graft.util.Checkpoints.release(df, ids) }
        throw e
    }
    pr.orderBy("node")
  }

  /** DuckDB twin of [[pagerank]]: the same fixed iterations unrolled as
    * chained CTEs with the identical decimal-rounded contribution and
    * dangling-mass sums. */
  private def pagerankSql(iters: Int): String = {
    val base = s"""WITH edges AS (
        SELECT src, dst FROM (
          SELECT DISTINCT user_id % 50 AS src, event_id % 50 AS dst
          FROM events)
        WHERE src % 10 <> 9),
      deg AS (SELECT src, COUNT(*) AS od FROM edges GROUP BY 1),
      nodes AS (SELECT src AS node FROM edges
                UNION SELECT dst FROM edges),
      n AS (SELECT COUNT(*) AS n_nodes FROM nodes),
      pr0 AS (SELECT node, ROUND(CAST(1.0 AS DOUBLE) / n_nodes, 12) AS pr
              FROM nodes CROSS JOIN n)"""
    val iterCtes = (1 to iters).map { i =>
      s""",
      d$i AS (
        SELECT COALESCE(CAST(SUM(CAST(p.pr AS DECIMAL(28,12)))
            AS DOUBLE), CAST(0.0 AS DOUBLE)) AS dm
        FROM pr${i - 1} p
        WHERE NOT EXISTS (SELECT 1 FROM deg WHERE deg.src = p.node)),
      pr$i AS (
        SELECT nodes.node,
          ROUND(CAST(0.15 AS DOUBLE) / n.n_nodes +
            CAST(0.85 AS DOUBLE) *
            (COALESCE(s$i.insum, CAST(0.0 AS DOUBLE)) +
             d$i.dm / n.n_nodes), 12) AS pr
        FROM nodes CROSS JOIN n CROSS JOIN d$i
        LEFT JOIN (
          SELECT e.dst,
            CAST(SUM(CAST(p.pr / d.od AS DECIMAL(28,12))) AS DOUBLE)
              AS insum
          FROM pr${i - 1} p
          JOIN edges e ON p.node = e.src
          JOIN deg d ON d.src = e.src
          GROUP BY 1) s$i ON s$i.dst = nodes.node)"""
    }.mkString
    base + iterCtes + s"\nSELECT node, pr FROM pr$iters ORDER BY node"
  }

  /** Haircut taint propagation: unit taint at `source` flows along
    * edges in proportion to each edge's share of its source's total
    * outflow; `hops` fixed hops unrolled into one lazy plan. Returns
    * per-node taint after the final hop. */
  def haircutTaint(s: SparkSession, d: String, source: Long,
      hops: Int): DataFrame = {
    val w = transferEdges(s, d)
    val outflow = w.groupBy("src").agg(sum(col("w")).as("total_out"))
    val ratio = w.join(outflow, "src")
      .select(col("src"), col("dst"),
        (col("w").cast("double") / col("total_out").cast("double"))
          .as("ratio"))
    var taint: DataFrame = s.range(1)
      .select(lit(source).as("node"), lit(1.0).as("taint"))
    for (_ <- 1 to hops) {
      taint = taint.join(ratio, col("node") === col("src"))
        .select(col("dst"),
          (col("taint") * col("ratio")).cast(DecimalType(28, 12)).as("c"))
        .groupBy("dst").agg(sum(col("c")).cast("double").as("taint"))
        .withColumnRenamed("dst", "node")
    }
    taint.filter(col("taint") > 0).orderBy("node")
  }

  /** DuckDB twin of [[haircutTaint]]. */
  private def taintSql(source: Long, hops: Int): String = {
    val base = s"""WITH w AS (
        SELECT user_id % 50 AS src, event_id % 50 AS dst,
          SUM(CAST(value AS DECIMAL(18,6))) AS w
        FROM events GROUP BY 1, 2),
      outflow AS (SELECT src, SUM(w) AS total_out FROM w GROUP BY 1),
      ratio AS (
        SELECT w.src, w.dst,
          CAST(w.w AS DOUBLE) / CAST(o.total_out AS DOUBLE) AS ratio
        FROM w JOIN outflow o ON o.src = w.src),
      t0 AS (SELECT CAST($source AS BIGINT) AS node,
             CAST(1.0 AS DOUBLE) AS taint)"""
    val iterCtes = (1 to hops).map { i =>
      s""",
      t$i AS (
        SELECT r.dst AS node,
          CAST(SUM(CAST(t.taint * r.ratio AS DECIMAL(28,12))) AS DOUBLE)
            AS taint
        FROM t${i - 1} t JOIN ratio r ON r.src = t.node
        GROUP BY 1)"""
    }.mkString
    base + iterCtes +
      s"\nSELECT node, taint FROM t$hops WHERE taint > 0 ORDER BY node"
  }

  /** Directed sparse edge list whose node count tracks the 15k·sf user
    * domain and whose edge count tracks events — the input for the
    * scale-proportional gates. Keeping ~2% of events as edges puts
    * edges/nodes ≈ 1.3 at EVERY sf: the near-critical G(n,m) regime,
    * so the instance has a giant component PLUS many small ones at any
    * scale (an all-in-one-component instance would let a broken CC
    * labeling agree trivially), diameters reach ~20 (which is what
    * exposed the min-label lineage bug), and a third of the nodes are
    * natural sinks for the PageRank mass gate. */
  private[ops] def scaleEdges(s: SparkSession, d: String): DataFrame = {
    // Deliberately NOT PlanMemo'd, unlike the other shared graph
    // inputs: the memo contract pins BOUNDED plans only (edge sets on
    // fixed residue domains), while this set is scale-PROPORTIONAL by
    // design (~2% of events) — a session-lifetime pin that grows with
    // the corpus is exactly what PlanMemo's doc forbids. The gates pay
    // one extra scan+distinct per run instead (ReuseExchange dedupes
    // the repeated subtree inside the pagerank unroll); the CC twin
    // eagerly checkpoints-and-releases its symmetrized copy per run.
    val ev = events(s, d)
    val nu = ev.agg((max(col("user_id")) + 1).as("nu"))
    ev.filter(pmod(xxhash64(col("event_id"), lit(7)), lit(50)) === 0)
      .crossJoin(broadcast(nu))
      .select(col("user_id").as("src"),
        pmod(xxhash64(col("event_id")), col("nu")).as("dst"))
      .filter(col("src") =!= col("dst"))
      .distinct()
  }

  def all: Seq[Q] = Seq(

    // ---- Address clustering: connected components over the undirected
    //      block-ring graph. EAGER (convergence-driven rounds); the
    //      ScalaTest pins schema + the blocks-never-mix invariant.
    Q("graph_cc_components",
      (s, d) => {
        val e = blockRingEdges(s, d)
        connectedComponents(
          e.union(e.select(col("dst"), col("src"))).toDF("src", "dst"))
      },
      Some("""WITH RECURSIVE
              base AS (
                SELECT DISTINCT (user_id % 200) * 5 + event_id % 5 AS src,
                  (user_id % 200) * 5 + (event_id + 1) % 5 AS dst
                FROM events),
              edges AS (SELECT src, dst FROM base
                        UNION SELECT dst, src FROM base),
              reach(node, lab) AS (
                SELECT src, src FROM edges
                UNION
                SELECT e.dst, r.lab
                FROM reach r JOIN edges e ON e.src = r.node),
              lab AS (SELECT node, MIN(lab) AS component_id
                      FROM reach GROUP BY 1)
              SELECT node, component_id,
                CAST(COUNT(*) OVER (PARTITION BY component_id) AS BIGINT)
                  AS component_size
              FROM lab"""),
      eager = true),

    // ---- The same clustering through the O(log n) star algorithm —
    //      identical output, diameter-independent round count; the twin
    //      is held to the SAME recursive-CTE oracle.
    Q("graph_cc_logstar",
      (s, d) => {
        val e = blockRingEdges(s, d)
        ccLogStar(e.union(e.select(col("dst"), col("src")))
          .toDF("src", "dst"))
      },
      Some("""WITH RECURSIVE
              base AS (
                SELECT DISTINCT (user_id % 200) * 5 + event_id % 5 AS src,
                  (user_id % 200) * 5 + (event_id + 1) % 5 AS dst
                FROM events),
              edges AS (SELECT src, dst FROM base
                        UNION SELECT dst, src FROM base),
              reach(node, lab) AS (
                SELECT src, src FROM edges
                UNION
                SELECT e.dst, r.lab
                FROM reach r JOIN edges e ON e.src = r.node),
              lab AS (SELECT node, MIN(lab) AS component_id
                      FROM reach GROUP BY 1)
              SELECT node, component_id,
                CAST(COUNT(*) OVER (PARTITION BY component_id) AS BIGINT)
                  AS component_size
              FROM lab"""),
      eager = true),

    // ---- Structural importance: 3-iteration PageRank over the trace
    //      edge set (minus the structural sink sources) — one lazy
    //      plan, per-iteration decimal-exact contribution sums and
    //      dangling-mass redistribution.
    Q("graph_pagerank",
      (s, d) => pagerank(s, d, iters = 3),
      Some(pagerankSql(iters = 3))),

    // ---- Taint spread: unit taint at node 7, 3 proportional hops over
    //      the weighted transfer graph.
    Q("graph_taint_haircut",
      (s, d) => haircutTaint(s, d, source = 7L, hops = 3),
      Some(taintSql(source = 7L, hops = 3))),

    // ---- Neighborhood inter-connectedness: global triangle count via
    //      the DEGREE-ORDERED wedge join (Suri & Vassilvitskii,
    //      "Counting Triangles and the Curse of the Last Reducer",
    //      WWW'11). Two scale decisions, both forced by measurement:
    //
    //      1. The projected node domain GROWS WITH THE DATA — a
    //         count-derived modulus (|events|/50, floor 40) computed by
    //         a broadcast singleton on the Spark side and the identical
    //         scalar subquery in the oracle. The round-8 third-decade
    //         run caught the old fixed mod-2000 domain going 27×
    //         super-linear at sf10: with nodes capped, edge DENSITY
    //         rises with every added row and wedge fan-out is
    //         quadratic in density. A domain proportional to the data
    //         keeps density (and per-node degree) constant, so cost
    //         tracks the edge count.
    //      2. Each edge is oriented from lower to higher (degree, node)
    //         rank and wedges open only at their lowest-ranked apex:
    //         out-degrees are bounded by O(√m) REGARDLESS of skew, so
    //         one hub cannot own a quadratic wedge set — the "last
    //         reducer" a natural-key wedge join dies on at 100 TB.
    //         Each triangle is counted exactly once (apex = min rank;
    //         the closing edge is oriented low→high rank by
    //         construction, so one semi-join closes it).
    Q("graph_triangles",
      (s, d) => {
        val k = events(s, d)
          .agg(greatest((count(lit(1)) / 50).cast("long"), lit(40L))
            .as("k"))
        val raw = events(s, d).filter(col("event_id") % 7 === 0)
          .crossJoin(broadcast(k))
          .select((col("user_id") % col("k")).as("x"),
            (col("event_id") % col("k")).as("y"))
        val und = raw
          .select(least(col("x"), col("y")).as("a"),
            greatest(col("x"), col("y")).as("b"))
          .filter(col("a") =!= col("b")).distinct()
        val deg = und.select(col("a").as("node"))
          .union(und.select(col("b").as("node")))
          .groupBy("node").agg(count(lit(1)).as("deg"))
        // orient by (deg, node) rank; carry the endpoint degrees so the
        // wedge stage can compare ranks without re-joining
        val withDeg = und
          .join(deg.select(col("node").as("a"), col("deg").as("da")),
            Seq("a"))
          .join(deg.select(col("node").as("b"), col("deg").as("db")),
            Seq("b"))
        val oriented = withDeg.select(
          when(col("da") < col("db") ||
            (col("da") === col("db") && col("a") < col("b")),
            struct(col("a").as("u"), col("b").as("v"),
              col("db").as("dv")))
            .otherwise(struct(col("b").as("u"), col("a").as("v"),
              col("da").as("dv")))
            .as("e"))
          .select(col("e.u").as("u"), col("e.v").as("v"),
            col("e.dv").as("dv"))
        val wedge = oriented
          .join(oriented.select(col("u").as("u2"), col("v").as("w"),
            col("dv").as("dw")), col("u") === col("u2"))
          .filter(col("dv") < col("dw") ||
            (col("dv") === col("dw") && col("v") < col("w")))
        wedge.join(
            oriented.select(col("u").as("v3"), col("v").as("w3")),
            col("v") === col("v3") && col("w") === col("w3"),
            "left_semi")
          .agg(count(lit(1)).as("n_triangles"))
      },
      Some("""WITH k AS (
                SELECT GREATEST(COUNT(*) // 50, 40) AS k FROM events),
              raw AS (
                SELECT user_id % k.k AS x, event_id % k.k AS y
                FROM events CROSS JOIN k WHERE event_id % 7 = 0),
              und AS (
                SELECT DISTINCT LEAST(x, y) AS a, GREATEST(x, y) AS b
                FROM raw WHERE x <> y),
              deg AS (
                SELECT node, COUNT(*) AS deg FROM (
                  SELECT a AS node FROM und
                  UNION ALL
                  SELECT b AS node FROM und)
                GROUP BY 1),
              oriented AS (
                SELECT
                  CASE WHEN da.deg < db.deg
                         OR (da.deg = db.deg AND e.a < e.b)
                    THEN e.a ELSE e.b END AS u,
                  CASE WHEN da.deg < db.deg
                         OR (da.deg = db.deg AND e.a < e.b)
                    THEN e.b ELSE e.a END AS v,
                  CASE WHEN da.deg < db.deg
                         OR (da.deg = db.deg AND e.a < e.b)
                    THEN db.deg ELSE da.deg END AS dv
                FROM und e
                JOIN deg da ON da.node = e.a
                JOIN deg db ON db.node = e.b)
              SELECT COUNT(*) AS n_triangles
              FROM oriented e1
              JOIN oriented e2 ON e2.u = e1.u
                AND (e1.dv < e2.dv OR (e1.dv = e2.dv AND e1.v < e2.v))
              WHERE EXISTS (SELECT 1 FROM oriented e3
                            WHERE e3.u = e1.v AND e3.v = e2.v)""")),

    // ---- PageRank mass-conservation gate on the SCALE-PROPORTIONAL
    //      graph: the oracle-checked graph_pagerank runs on the fixed
    //      mod-50 domain (sized for its unrolled-CTE oracle), so the
    //      dangling-redistribution term was only ever exercised on a
    //      55-node instance. This lazy gate runs the same unrolled plan
    //      over the directed sparse scale edges — where a third of the
    //      nodes are natural sinks — and emits its one row ONLY when
    //      total mass stays 1 within rounding (per-node round(·,12)
    //      accumulates ≤ n·5e-13; the 1e-6 bound holds to n≈10⁶). A
    //      redistribution regression leaks ~sink-share of the mass per
    //      iteration and zeroes the row.
    //      EAGER since r15 (plan-size fix, not a semantics change): the
    //      lazy 3-iteration unroll over the scale-proportional edge set
    //      optimized to 7,690 plan lines / 610 Exchanges, and 1.9 s of
    //      the gate's 3.1 s wall was the driver re-analyzing that plan (r15,
    //      `Measure bench`). barrierEvery=1 checkpoints the rank table per
    //      iteration — construction now runs those bounded jobs, so the
    //      Q is flagged eager (same contract as the CC gates; schema
    //      pinned in PageRankMassSpec). The mass row is bit-identical:
    //      checkpoints are row-transparent and the value path is
    //      untouched.
    Q("graph_pagerank_scale_mass",
      (s, d) => pagerankOn(scaleEdges(s, d), iters = 3, barrierEvery = 1)
        .agg(count(lit(1)).as("n_nodes"),
          round(sum(col("pr").cast(DecimalType(28, 12))).cast("double"),
            6).as("total_mass"))
        .filter(abs(col("total_mass") - 1.0) <= lit(1e-6)),
      None,
      eager = true),

    // ---- Scale-proportional CC twin gate. The oracle-checked CC pair
    //      above runs on the fixed 1000-node block-ring domain (sized
    //      for the recursive-CTE oracle) — which means the measured
    //      graph suite never grows with sf. This gate runs BOTH
    //      independent CC implementations (convergence min-label loop
    //      vs O(log n) large/small-star) on a graph whose node count
    //      tracks the user domain (15k·sf) and whose edge count tracks
    //      the events table, and emits its one summary row ONLY when
    //      every node's label agrees — two algorithms with different
    //      round structures and shuffle patterns agreeing on a
    //      million-edge instance is a real equivalence check, the same
    //      twin-gate shape as minhash_lsh_recall. EAGER: both bodies
    //      are convergence loops; the shared symmetric edge list is
    //      checkpointed once and released after both results are
    //      materialized (each body checkpoints its own output).
    Q("graph_cc_scale_twin",
      (s, d) => {
        val raw = scaleEdges(s, d)
        // one-pass symmetrization (r15b): the union form scanned the
        // distinct-edge subtree twice (ReuseExchange shares the shuffle
        // but each arm re-runs the dedup aggregate over it); explode
        // emits both directions in one pass — the same rewrite (and the
        // same rows) as ccLogStar's symmetrize helper, guide §2.3
        val (edges, ids) = graft.util.Checkpoints.ckptTracked(
          raw.select(explode(array(
            struct(col("src").as("s"), col("dst").as("d")),
            struct(col("dst").as("s"), col("src").as("d")))).as("p"))
            .select(col("p.s").as("src"), col("p.d").as("dst")))
        try {
          // The two CC bodies are INDEPENDENT convergence loops over the
          // same checkpointed edge list, but ran sequentially until r15 —
          // half the twin's wall was one loop's driver gaps while the other
          // loop had runnable work (r15 `Measure bench`: 91 jobs, 2.4 s of
          // gaps in a 5.7 s wall). Run them on two driver threads (guide
          // §2.6: actions are only sequential because the driver calls
          // them sequentially); Checkpoints.ckptTracked is exact under
          // concurrent callers, so each loop's planning overlaps the
          // other's jobs. Results are unchanged — the loops share nothing
          // but the read-only edge snapshot.
          val Seq(minLabel, logStar) = graft.util.Overlap.all(Seq(
            () => connectedComponents(edges), () => ccLogStar(edges)))
          val a = minLabel
            .select(col("node"), col("component_id").as("cid_minlabel"))
          val b = logStar
            .select(col("node"), col("component_id").as("cid_logstar"))
          a.join(b, Seq("node"))
            .agg(count(lit(1)).as("n_nodes"),
              countDistinct(col("cid_minlabel")).as("n_components"),
              sum(when(col("cid_minlabel") =!= col("cid_logstar"), 1)
                .otherwise(0)).as("n_disagree"))
            .filter(col("n_disagree") === 0)
        } finally graft.util.Checkpoints.release(edges, ids)
      },
      None,
      eager = true),

    // ---- Hub readout (the "richest addresses" analog): top-20 sources
    //      by total outflow with fan-out, total-order tiebreak on src.
    Q("graph_degree_hubs",
      (s, d) => {
        val e = events(s, d).select((col("user_id") % 2000).as("src"),
          (col("event_id") % 2000).as("dst"), col("value"))
        e.groupBy("src")
          .agg(countDistinct(col("dst")).as("out_deg"),
            decSum(col("value")).as("outflow"))
          .orderBy(desc("outflow"), asc("src")).limit(20)
      },
      Some(s"""SELECT user_id % 2000 AS src,
                COUNT(DISTINCT event_id % 2000) AS out_deg,
                ${sqlDecSum("value")} AS outflow
              FROM events
              GROUP BY 1
              ORDER BY outflow DESC, src LIMIT 20"""))
  )
}
