package graftbench

import scala.collection.mutable

/** Per-layer metrics from the recorded spans. Every total is divided by
  * the number of operations the traced part ran (days or requests), so runs of different lengths compare. */
object Layers {
  val Names = Seq("schema", "ingest", "models", "quality", "serve", "trace")

  def all(rec: Recorder, root: String, ops: Double,
      cores: Int): Map[String, Double] = {
    val m = mutable.LinkedHashMap[String, Double]()
    for (layer <- Names) {
      val ss = rec.spans.toSeq.filter(_.name == layer)
      if (ss.nonEmpty) {
        val cs = ss.map(rec.counters)
        def put(k: String, v: Double): Unit = m(s"$layer.$k") = v / ops
        put("wall_s", ss.map(_.wallS).sum)
        put("self_s", ss.map(rec.selfS).sum)
        put("jobs", cs.map(_.jobs).sum.toDouble)
        put("tasks", cs.map(_.tasks).sum.toDouble)
        put("task_s", cs.map(_.taskMs).sum / 1e3)
        put("plan_s", ss.map(rec.planS).sum)
        put("driver_gap_s", ss.map(rec.driverGapS).sum)
        put("shuffle_mb", cs.map(_.shuffleWrite).sum / 1e6)
        put("spill_mb", cs.map(_.spill).sum / 1e6)
        put("input_mb", cs.map(_.inBytes).sum / 1e6)
        put("output_mb", cs.map(_.outBytes).sum / 1e6)
      }
    }
    val roots = rec.spans.toSeq.filter(_.name == root)
    val wall = roots.map(_.wallS).sum
    val covered = roots.flatMap(rec.children).map(_.wallS).sum
    m("spans.wall_s") = wall / ops
    m("spans.uncovered_s") = (wall - covered) / ops
    val cs = rec.byGroup.values.toSeq
    val taskS = cs.map(_.taskMs).sum / 1e3
    m("exec.stages") = cs.map(_.stages).sum / ops
    m("exec.cpu_s") = cs.map(_.cpuNs).sum / 1e9 / ops
    m("exec.gc_s") = cs.map(_.gcMs).sum / 1e3 / ops
    m("exec.core_util") = if (wall > 0) taskS / (wall * cores) else 0.0
    m("exec.shuffle_read_mb") = cs.map(_.shuffleRead).sum / 1e6 / ops
    m("exec.shuffle_write_mb") = cs.map(_.shuffleWrite).sum / 1e6 / ops
    val qs = rec.queries.toSeq.filter(q => rec.spanAt(q.startMs).isDefined)
    m("catalyst.analysis_s") = qs.map(_.analysisMs).sum / 1e3 / ops
    m("catalyst.optimization_s") = qs.map(_.optimizationMs).sum / 1e3 / ops
    m("catalyst.planning_s") = qs.map(_.planningMs).sum / 1e3 / ops
    m("catalyst.queries") = qs.size / ops
    m.toMap
  }
}
