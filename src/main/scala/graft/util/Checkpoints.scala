package graft.util

import org.apache.spark.sql.DataFrame

/** Tracked eager localCheckpoints. `localCheckpoint(true)` pins RDD
  * blocks that never register with the SQL cacheManager, so convergence
  * loops (and anything else that checkpoints per-iteration) must track
  * the persistent-RDD ids they created and release the stale ones
  * explicitly — waiting for GC + ContextCleaner lets full-size block
  * sets pile up across rounds. Shared by GraphOps' star loops,
  * CorpusOps' pair staging, and the incremental-build sentinel snapshot.
  *
  * THREAD-SAFE since r15 (success path): the returned ids are read
  * directly off the checkpointed Dataset's own LogicalRDD leaf instead
  * of a global persistent-RDD diff, so concurrent callers' checkpoint
  * materializations run fully overlapped and are never mis-attributed.
  * The concurrent callers are the [[graft.util.Overlap]] tasks of one
  * call: the two halves of graph_cc_scale_twin and of the eager
  * PageRank's edge checkpoints, and the two sentinel snapshots of
  * `Pipeline.writeBuildIncremental`'s concurrent mart writes.
  * The FAILURE path still falls back to a global diff (a failed
  * materialization returns no Dataset to read ids from); under
  * concurrency that cleanup may also unpersist a sibling task's
  * in-flight checkpoint or cache. That collateral is acceptable: the
  * failed task already fails the whole `Overlap.all` call, so a sibling
  * that loses its blocks at worst fails or recomputes inside a call that
  * is failing anyway, and the call rethrows only after every sibling has
  * finished.
  */
object Checkpoints {

  /** Eagerly checkpoint `df`, returning the checkpointed frame plus the
    * persistent-RDD ids the materialization created (release them with
    * [[release]] once no live plan references the snapshot). */
  def ckptTracked(df: DataFrame): (DataFrame, Set[Int]) = {
    val sc = df.sparkSession.sparkContext
    val before = sc.getPersistentRDDs.keySet.toSet
    try {
      val out = df.localCheckpoint(true)
      // the checkpointed Dataset's plan IS a LogicalRDD over the
      // persisted internal RDD — its id is exactly what localCheckpoint
      // pinned, with no races against concurrent persists
      val ids = out.queryExecution.analyzed.collect {
        case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd.id
      }.toSet
      (out, if (ids.nonEmpty) ids
      else sc.getPersistentRDDs.keySet.toSet -- before)
    } catch {
      // localCheckpoint(true) persists the RDD BEFORE running the
      // materialization job, so a mid-job task failure (disk/OOM)
      // leaves partial blocks pinned while the caller never receives
      // ids to release — unpersist the diff here so the failure path
      // leaks nothing (best effort under concurrency, see above).
      case e: Throwable =>
        (sc.getPersistentRDDs.keySet.toSet -- before).foreach(id =>
          sc.getPersistentRDDs.get(id).foreach(_.unpersist(blocking = false)))
        throw e
    }
  }

  def release(df: DataFrame, ids: Set[Int]): Unit = {
    val sc = df.sparkSession.sparkContext
    ids.foreach(id =>
      sc.getPersistentRDDs.get(id).foreach(_.unpersist(blocking = false)))
  }
}
