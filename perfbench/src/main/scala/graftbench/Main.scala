package graftbench

import java.nio.file.{Files, Paths}
import scala.collection.mutable
import org.apache.spark.sql.SparkSession

/** What one workload run hands back to `run.py`. */
final class Outcome {
  var attempted = 0L
  var failed = 0L
  val errors = mutable.Buffer[String]()
  /** end-to-end metrics (tracing off) */
  val metrics = mutable.LinkedHashMap[String, Double]()
  /** facts the correctness checks in `run.py` compare */
  val checks = mutable.LinkedHashMap[String, Any]()

  def attempt[T](what: String)(body: => T): Option[T] = {
    attempted += 1
    try Some(body)
    catch { case e: Throwable =>
      failed += 1
      errors += s"$what: ${e.getClass.getSimpleName}: ${e.getMessage}"
        .take(2000)
      None
    }
  }
}

/** Workload runner, started by `run.py` once the program is built:
  * `graftbench.Main --workload W --seed N --seconds S --trace 0|1
  *  --work DIR --inputs DUMPS --cpus N`. Writes `DIR/result.json`. */
object Main {

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) =>
      k.stripPrefix("--") -> v }.toMap
    val work = opt("work")
    val cpus = opt("cpus")
    val seconds = opt("seconds").toDouble
    val traced = opt("trace") == "1"
    val seed = opt("seed").toLong
    val spark = graft.Sessions.builder(cpus, cpus)
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val rec = new Recorder(spark)
    val out = new Outcome
    val w = new Window(seconds, traced)
    opt("workload") match {
      case "daily_etl" =>
        DailyEtl.run(spark, rec, out, w, opt("inputs"), work)
      case "dashboard_serve" =>
        DashboardServe.run(spark, rec, out, w, opt("inputs"), work, seed)
      case other => sys.error(s"unknown workload $other")
    }
    out.metrics("setup_end_epoch_ms") = w.setupEndMs.toDouble
    spark.stop() // drains the listener bus before layers are read
    val layers =
      if (!traced) Map.empty[String, Double]
      else w.layerMetrics(rec) +
        ("exec.peak_storage_mb" -> rec.peakStorageBytes / 1e6)
    Files.writeString(Paths.get(work, "result.json"), Json(Map(
      "attempted" -> out.attempted, "failed" -> out.failed,
      "errors" -> out.errors.toSeq, "metrics" -> out.metrics,
      "layers" -> layers, "checks" -> out.checks)))
  }
}

/** The measured window of one run, and what the traced run found.
  * `spans.overhead_ratio` compares traced with untraced operations of one
  * run where a workload interleaves them (the dashboard client). */
final class Window(val seconds: Double, val traced: Boolean) {
  var setupEndMs = 0L
  private var phaseEnd = 0L
  var untracedOpS = Seq.empty[Double]
  var tracedOpS = Seq.empty[Double]
  var layerFn: Recorder => Map[String, Double] = _ => Map.empty

  def setupDone(): Unit = {
    setupEndMs = System.currentTimeMillis()
    phaseEnd = System.nanoTime() + (seconds * 1e9).toLong
  }
  /** Whether the window still has time. */
  def open: Boolean = System.nanoTime() < phaseEnd

  def layerMetrics(rec: Recorder): Map[String, Double] = {
    val m = mutable.LinkedHashMap[String, Double]()
    m ++= layerFn(rec)
    if (untracedOpS.nonEmpty && tracedOpS.nonEmpty)
      m("spans.overhead_ratio") =
        Stats.median(tracedOpS) / Stats.median(untracedOpS)
    m.toMap
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  /** Linear-interpolated quantile. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    if (xs.isEmpty) return Double.NaN
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  /** The p90 only when at least ten samples lie beyond it. */
  def p90(xs: Seq[Double]): Double =
    if (xs.size >= 100) quantile(xs, 0.9) else Double.NaN
}

/** Minimal JSON rendering for the result file. */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case n @ (_: Int | _: Long) => n.toString
    case b: Boolean => b.toString
    case t: java.sql.Timestamp => t.getTime.toString
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => apply(k.toString) + ":" + apply(x) }
        .mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case a: Array[_] => apply(a.toSeq)
    case r: org.apache.spark.sql.Row => apply(r.toSeq)
    case other => apply(other.toString)
  }
}
