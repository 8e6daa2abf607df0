package graft.ops

import org.scalatest.funsuite.AnyFunSuite

/** Broadcast-site boundedness audit, pinned (SCALE.md §Broadcast audit).
  *
  * A forced `broadcast()` is per-executor memory that must be bounded by
  * something that does NOT grow with the fact tables — r10/r11 removed
  * four unbounded ones (j1/j4 dims, the blocks dim in the flows mart,
  * the rare-gram list), each the same bug class: "small relative to the
  * fact" is linear in the fact, not bounded. Every remaining call site
  * is classified in SCALE.md as domain-bounded (nation/region/language),
  * parameter-bounded (query sets, eval shingles, detection caps,
  * one-row scalars), or caller-controlled (a documented contract).
  *
  * This spec greps the main source tree ([[graft.SourceAudit]]) and fails
  * on ANY new `broadcast(` call site: adding one requires classifying it
  * in the SCALE.md table and updating the allowlist here — the class
  * cannot regress silently. */
class BroadcastAuditSpec extends AnyFunSuite {

  /** file (relative to the graft source root) → audited call-site
    * count. Keep in lockstep with SCALE.md's audit table. */
  private val audited = Map(
    "Measure.scala" -> 1, // ANN query set (lsh_kernel experiment)
    "ops/ClassicQueries.scala" -> 4, // nation/region dims
    "ops/ClassicQueries2.scala" -> 9, // nation/region dims + 1-row scalars
    "ops/CorpusOps.scala" -> 4, // eval shingles, lang thresholds, scalars
    "ops/GraphOps.scala" -> 9, // 1-row scalars + opt-in broadcastDeg flag
    // (both pagerankOn arms: the lazy path and the r15 eager path's
    // checkpoint-derived degE carry the same caller-gated hint)
    // + 2 edge-count-gated label/jump sides in the min-label loop (r14)
    "ops/ScaleOps.scala" -> 3, // ≤100 hot keys, IVF probes, lang thresholds
    "ops/VectorOps.scala" -> 4, // ANN query sets + 1-row count +
    // quadGuard-capped BNLJ build side (emb_neardup_pairs, r15: the
    // guard bounds it at ~10k vectors at any corpus size)
    "ops/TextOps.scala" -> 2, // corpus-bytes-gated gram dims (rare, c1)
    "streaming/StreamQueries.scala" -> 1, // 1-row watermark
    "util/SizeGate.scala" -> 1, // THE gate: stats-bounded hint helper
  )

  test("every broadcast() call site in src/main is in the audited list") {
    val found = graft.SourceAudit.calls("\\bbroadcast\\(".r)
    val unaudited = found.filterNot { case (p, n) => audited.get(p).contains(n) }
    val stale = audited.filterNot { case (p, n) => found.get(p).contains(n) }
    assert(unaudited.isEmpty && stale.isEmpty,
      s"""broadcast audit drift.
         |  new/changed sites (classify in SCALE.md, then update the
         |  allowlist): $unaudited
         |  stale allowlist entries: $stale""".stripMargin)
  }
}
