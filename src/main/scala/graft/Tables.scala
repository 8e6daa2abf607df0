package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Loaders for the shared parquet test tables (TESTDATA.md).
  *
  * All `SparkEntry.queries` entries take `(spark, sfDir)` and read these
  * tables; the driver's DuckDB oracle reads the same files, so results must
  * be bit-comparable (see [[graft.ops.Parity]] for the numeric discipline).
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Schema memo, keyed (path, dir mtime) — the catalog role a metastore
    * plays in production. A bare `spark.read.parquet(path)` runs a
    * footer-reading schema-inference JOB on every call (measured r15,
    * BENCH_NOTES r15: 54-86 ms per call at sf0.1 vs 5-9 ms with an
    * explicit schema — the dominant share of EVERY query's construction
    * cost, ~13 s of a full 149-query bench pass). The memo infers once
    * per (table file, modification time) and replays the schema
    * explicitly; the mtime key fails stale-closed (a rewritten fixture
    * dir gets a fresh inference — directory mtime changes whenever files
    * inside are added/replaced). Metadata only — never rows, never
    * results — so bench/oracle runs still compute everything from the
    * parquet inputs. */
  private val schemaMemo = new java.util.concurrent.ConcurrentHashMap[
    (String, Long), org.apache.spark.sql.types.StructType]()

  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    val p = new org.apache.hadoop.fs.Path(path)
    val mtime =
      try p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .getFileStatus(p).getModificationTime
      catch { case _: Exception => -1L } // unresolvable: fall through to
    // a plain inferred read below (the read itself will raise the real
    // error with Spark's message, not a memo-internal one)
    if (mtime < 0) spark.read.parquet(path)
    else {
      val schema = schemaMemo.computeIfAbsent((path, mtime),
        _ => spark.read.parquet(path).schema)
      spark.read.schema(schema).parquet(path)
    }
  }

  def lineitem(s: SparkSession, d: String): DataFrame  = load(s, d, "lineitem")
  def orders(s: SparkSession, d: String): DataFrame    = load(s, d, "orders")
  def customer(s: SparkSession, d: String): DataFrame  = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = load(s, d, "part")
  def nation(s: SparkSession, d: String): DataFrame    = load(s, d, "nation")
  def region(s: SparkSession, d: String): DataFrame    = load(s, d, "region")
  /** events.parquet's `ts` physical type has varied across driver fixture
    * generations: TIMESTAMP(NANOS) (which the vectorized reader rejects —
    * read as epoch-nanos long via `nanosAsLong`, then convert losslessly;
    * the data is microsecond-aligned), a raw epoch-nanos long
    * ([[graft.DataGen]] output), or plain TIMESTAMP_NTZ micros (current
    * driver fixtures). Normalize all of them to a session-TZ timestamp:
    * the session TZ is pinned UTC everywhere (Verify/Bench/specs), so the
    * NTZ→LTZ cast is a wall-clock no-op and matches the DuckDB oracle's
    * naive reading of the same file. `div` is integer division — a double
    * division would lose precision on epoch-nanos.
    *
    * `spark.sql.legacy.parquet.nanosAsLong=true` must be set at SESSION
    * BUILD time — every graft entry point (Verify/Bench/Smoke/specs) does.
    * It used to be set here, but a loader mutating session config is a
    * global side effect a concurrent reader could race. Any ts physical
    * type outside the known variants fails fast HERE with the observed
    * type, so the next driver fixture drift surfaces in this loader (and
    * TablesSpec) with a clear message rather than as an illegible
    * downstream error. */
  def events(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr}
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    val df = load(s, d, "events")
    df.schema("ts").dataType match {
      case LongType         => df.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case TimestampNTZType => df.withColumn("ts", col("ts").cast(TimestampType))
      case TimestampType    => df
      case other => throw new IllegalStateException(
        s"events.ts has unsupported physical type $other (fixture drift?); " +
        "known variants: TIMESTAMP(NANOS) via nanosAsLong, epoch-nanos " +
        "BIGINT, TIMESTAMP_NTZ micros, TIMESTAMP micros")
    }
  }
  def documents(s: SparkSession, d: String): DataFrame = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")
}
