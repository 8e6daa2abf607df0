package graft
import org.apache.spark.sql.SparkSession

/** The one local-mode session shape: every main and the benchmark build
  * through here (SessionAuditSpec), so all run the registry's plans with
  * GraftExtensions installed. Mains with their own sessions drifted once
  * (hardcoded cores, no extensions), and a knob tweaked in one place but
  * not another silently changes what an artifact measured. */
object Sessions {

  /** The session shape every main runs: `(cpus, shuffle)` from
    * SPARK_GRAFT_CPUS (default 4) and SPARK_GRAFT_SHUFFLE (default: the
    * cpus value). The one place these are read. */
  def shape: (String, String) = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    (cpus, sys.env.getOrElse("SPARK_GRAFT_SHUFFLE", cpus))
  }

  /** A main's session: [[builder]] at [[shape]], log level WARN. */
  def start(): SparkSession = {
    val (cpus, shuffle) = shape
    val spark = builder(cpus, shuffle).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Builder with the measurement-session config applied; callers add
    * nothing but `.getOrCreate()`.
    *
    * @param cpus    local-mode thread count (`local[cpus]`)
    * @param shuffle `spark.sql.shuffle.partitions` — decoupled from core
    *                count for the cluster-shape sweeps (SCALE.md: 32 vs
    *                128 at sf100 changes spill-bound queries 1.2-2.3×)
    */
  def builder(cpus: String, shuffle: String): SparkSession.Builder = {
    val base = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", shuffle)
      // Heavy sf100 stages can starve the in-JVM heartbeater for minutes
      // (32 saturated threads + spill I/O + GC). If one heartbeat misses
      // the default 120 s window the driver expires the executor, and
      // local mode cannot re-register (the BlockManager re-register path
      // asks for the CoarseGrainedScheduler endpoint, which only exists
      // on a cluster) — the context then dies after 60 failed
      // heartbeats. Measured: j4's sf100 SMJ killed the q2 solo that
      // followed it. Same knob a busy cluster would set.
      .config("spark.network.timeout", "800s")
      .config("spark.executor.heartbeatInterval", "20s")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
    // Ad-hoc conf overrides (semicolon-separated k=v pairs), applied
    // LAST so they win over the defaults above — the same knob a
    // cluster submit would express as --conf. Keeps scale-dependent
    // settings parameterisable (bench A/B arms, cluster-shape sweeps)
    // without editing code between arms.
    sys.env.get("SPARK_GRAFT_CONF").fold(base) { raw =>
      raw.split(';').map(_.trim).filter(_.nonEmpty).foldLeft(base) {
        (b, kv) =>
          kv.split("=", 2) match {
            case Array(k, v) => b.config(k, v)
            case _ => throw new IllegalArgumentException(
              s"SPARK_GRAFT_CONF entries must be k=v, got '$kv'")
          }
      }
    }.withExtensions(graft.plans.GraftExtensions.install)
  }
}
