package graft

import org.apache.spark.sql.{SaveMode, SparkSession}
import graft.functions.SplitMix

/** Synthetic test-data generator matching the shape of the driver's
  * TESTDATA.md tables, for scales the driver does not ship (sf1+ — the
  * second decade of the measured scaling curve in SCALE.md).
  *
  * The distributions were reverse-measured from the shipped
  * sf0.01/sf0.1 parquet (cardinality laws, key domains, category mixes,
  * Poisson(4) lines-per-order, Exp(50) event values, unit-sphere
  * embeddings with a weak label bias, the 30-word document vocabulary
  * with ~5% "+ dup"-suffixed near-duplicates and ~0.3% exact
  * duplicates, source = src{doc_id%20}). Row values will NOT bit-match
  * the driver's RNG — sf1 output is for scaling measurements, not the
  * DuckDB hash gate (which runs at sf0.01/sf0.1 where the driver's own
  * files exist).
  *
  * Determinism: every row is generated from a per-id SplitMix64 stream
  * (`rng(id)` below), so output is identical for any partition count —
  * the generation is embarrassingly parallel with zero shuffles.
  *
  * One deliberate schema difference: `events.ts` is written as plain
  * INT64 epoch-NANOS (the driver writes parquet TIMESTAMP(NANOS),
  * which Spark cannot write). `Tables.events` reads both identically —
  * its nanosAsLong path sees a long either way and converts via
  * timestamp_micros(ts div 1000).
  */
object DataGen {

  /** Deterministic per-row value stream: draw k-th variate of row `id`
    * in table `table`. */
  private final class Stream(table: Long, id: Long) {
    private var k = 0L
    def nextLong(): Long = {
      k += 1
      SplitMix.mix(table * 0x9E3779B97F4A7C15L + id * 0xC2B2AE3D27D4EB4FL + k)
    }
    /** uniform in [0, 1) */
    def u01(): Double = (nextLong() >>> 11) * (1.0 / (1L << 53))
    def uniform(lo: Double, hi: Double): Double = lo + u01() * (hi - lo)
    def int(n: Int): Int = ((nextLong() >>> 1) % n).toInt
    def exp(mean: Double): Double = -mean * math.log1p(-u01())
    def gaussian(): Double = {
      val u1 = math.max(u01(), 1e-300); val u2 = u01()
      math.sqrt(-2.0 * math.log(u1)) * math.cos(2.0 * math.Pi * u2)
    }
    /** Poisson by inversion (small lambda only). */
    def poisson(lambda: Double): Int = {
      var l = math.exp(-lambda); var p = 1.0; var k0 = -1
      while ({ k0 += 1; p *= u01(); p > l }) ()
      k0
    }
  }

  private val regions =
    Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
  private val segments = Seq("AUTOMOBILE", "BUILDING", "FURNITURE",
    "HOUSEHOLD", "MACHINERY")
  private val priorities = Seq("1-URGENT", "2-HIGH", "3-MEDIUM",
    "4-NOT SPECIFIED", "5-LOW")
  private val statuses = Seq("F", "O", "P")
  private val partAdjs = Seq("large", "hot", "blue", "small", "red",
    "green", "shiny", "old")
  private val partNouns = Seq("ring", "bolt", "screw", "widget", "gear",
    "pin", "cap", "rod")
  private val partTypes = Seq("LARGE", "ECONOMY", "SMALL", "STANDARD",
    "PROMO", "MEDIUM")
  private val eventTypes = Seq("click", "error", "purchase", "signup", "view")
  private val langs = Seq("de", "es", "fr", "zh")
  private val vocab = Seq("spark", "window", "merge", "table", "column",
    "vector", "stream", "value", "data", "small", "join", "filter", "big",
    "group", "hash", "customer", "sort", "order", "slow", "line", "part",
    "fast", "row", "the", "agg", "key", "query", "a", "scan", "batch")

  private val dayMs = 86400000L
  private val ordersEpoch = // 1995-01-01 UTC
    java.time.LocalDate.of(1995, 1, 1).toEpochDay * dayMs
  private val orderDays = 2405 // .. 2001-08-01
  private val shipDays = 2500 // 1995-01-02 .. ~2001-11-04
  private val eventsEpochNanos = // 2024-01-01 UTC
    java.time.LocalDate.of(2024, 1, 1).toEpochDay * dayMs * 1000000L
  private val eventsSpanMicros = 30L * 86400L * 1000000L // 30 days

  final case class Customer(c_custkey: Long, c_name: String,
      c_nationkey: Int, c_acctbal: Double, c_mktsegment: String)
  final case class Supplier(s_suppkey: Long, s_name: String,
      s_nationkey: Int, s_acctbal: Double)
  final case class Part(p_partkey: Long, p_name: String, p_brand: String,
      p_type: String, p_size: Int, p_retailprice: Double)
  final case class Order(o_orderkey: Long, o_custkey: Long,
      o_orderstatus: String, o_totalprice: Double,
      o_orderdate: java.sql.Timestamp, o_orderpriority: String)
  final case class Lineitem(l_orderkey: Long, l_partkey: Long,
      l_suppkey: Long, l_linenumber: Int, l_quantity: Double,
      l_extendedprice: Double, l_discount: Double, l_tax: Double,
      l_returnflag: String, l_linestatus: String,
      l_shipdate: java.sql.Timestamp)
  final case class Event(event_id: Long, ts: Long, user_id: Long,
      event_type: String, value: Double, props: String)
  final case class Document(doc_id: Long, text: String, lang: String,
      source: String, n_chars: Long)
  final case class Embedding(vec_id: Long, embedding: Array[Float],
      label: Int)

  /** Base (non-duplicate) document text for an id — duplicates re-evaluate
    * this at their source id, so no cross-row reference is ever needed. */
  private def baseText(id: Long): String = {
    val s = new Stream(8, id)
    val n = 10 + s.int(91)
    (0 until n).map(_ => vocab(s.int(vocab.size))).mkString(" ")
  }

  /** One documents row: ~5% near-duplicates (source text + " dup"),
    * ~0.3% exact duplicates; both re-evaluate baseText at a non-special
    * source id. Shared by [[generate]] and [[generateDocuments]]. */
  private def docRow(id: Long): Document = {
    val s = new Stream(7, id)
    val nearDup = id % 20 == 7
    val exactDup = id % 625 == 13
    val text =
      if ((nearDup || exactDup) && id > 2) {
        var src = s.int(id.toInt)
        while (src % 20 == 7 || src % 625 == 13) src = (src + 1) % id.toInt
        if (nearDup) baseText(src) + " dup" else baseText(src)
      } else baseText(id)
    val lu = s.u01()
    val lang = if (lu < 0.4) "en" else langs(((lu - 0.4) / 0.15).toInt.min(3))
    Document(id, text, lang, s"src${id % 20}", text.length.toLong)
  }

  def main(args: Array[String]): Unit = {
    val clustered = args.headOption.contains("clustered")
    val docsOnly = args.headOption.contains("docs")
    val sf = if (clustered || docsOnly) 0.0
      else args.headOption.map(_.toDouble).getOrElse(1.0)
    val outDir = args.lift(1).getOrElse("/root/repo/testdata/sf1")
    val spark = Sessions.builder("32", "32").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    if (clustered) {
      // `DataGen clustered <nVecs> <outDir>`: embeddings-only fixture in
      // the CLUSTERED regime (see generateClusteredEmbeddings).
      generateClusteredEmbeddings(spark, args(1).toLong, args(2))
    } else if (docsOnly) {
      // `DataGen docs <nDocs> <outDir>`: documents-only fixture — the
      // docs-amplified knob for exercising the >1 GiB corpus-cache gate
      // (SizeGate.DEFAULT_CACHE_MAX_BYTES) without a full sf300 star
      // schema. Same law and SplitMix determinism as the main generator.
      generateDocuments(spark, args(1).toLong, args(2))
    } else generate(spark, sf, outDir)
    spark.stop()
  }

  /** Documents-only fixture at an arbitrary row count (the corpus-gate
    * scale knob). Identical per-id law to [[generate]]'s documents
    * table — both route through [[docRow]]. */
  def generateDocuments(spark: SparkSession, nDocs: Long,
      outDir: String): Unit = {
    import spark.implicits._
    spark.range(nDocs).mapPartitions(_.map(id => docRow(id)))
      .toDF().write.mode(SaveMode.Overwrite)
      .parquet(s"$outDir/documents.parquet")
    println(s"DATAGEN docs-only n=$nDocs dir=$outDir")
  }

  /** Clustered-embedding fixture: label-centered Gaussians with the
    * centroid DOMINATING (|centroid| ≈ √64 vs noise σ=0.15 per dim →
    * in-cluster cosine ≈ 0.98, cross-cluster ≈ 0±0.12), unlike the
    * driver fixture's near-uniform sphere (0.04 label bias, neighbor
    * cosine 0.24–0.42). This is the regime a real corpus's embedding
    * space is in — near-duplicates and same-topic documents form tight
    * cones — and the regime LSH bucketing actually prunes in: whole
    * clusters land in a bucket, cross-cluster pairs rarely collide at
    * ≥10 bits. The r9 grid sweep measured recall + candidate fraction on
    * these dirs (BENCH_NOTES "LSH clustered" entry). Same schema and
    * SplitMix determinism as the main generator; only embeddings.parquet
    * is written (the sweep reads nothing else). */
  def generateClusteredEmbeddings(spark: SparkSession, nVecs: Long,
      outDir: String, nClusters: Int = 64, noise: Double = 0.15): Unit = {
    import spark.implicits._
    spark.range(nVecs).mapPartitions(_.map { id =>
      val s = new Stream(11, id)
      val label = s.int(nClusters)
      val cs = new Stream(12, label.toLong) // shared cluster centroid
      val raw = Array.tabulate(64)(_ => cs.gaussian() + noise * s.gaussian())
      val norm = math.sqrt(raw.map(x => x * x).sum)
      Embedding(id, raw.map(x => (x / norm).toFloat), label)
    }).toDF().coalesce(8).write.mode(SaveMode.Overwrite)
      .parquet(s"$outDir/embeddings.parquet")
    println(s"DATAGEN clustered embeddings n=$nVecs dir=$outDir")
  }

  /** Generate all tables at `sf` under `outDir`. `slices` overrides the
    * range parallelism — output content is IDENTICAL for any value
    * (every row derives only from its id), which is what makes the
    * generated scales regenerable byte-for-value; DataGenSpec pins it. */
  def generate(spark: SparkSession, sf: Double, outDir: String,
      slices: Option[Int] = None): Unit = {
    import spark.implicits._
    def range(n: Long) =
      slices.fold(spark.range(n))(k => spark.range(0, n, 1, k))

    val nCustomers = (150000 * sf).toLong
    val nSuppliers = (10000 * sf).toLong
    val nParts = (200000 * sf).toLong
    val nOrders = (1500000 * sf).toLong
    val nEvents = (1000000 * sf).toLong
    val nUsers = (15000 * sf).toLong
    val nDocs = math.max(500L, (50000 * sf).toLong)
    val nVecs = math.max(500L, (20000 * sf).toLong)

    def save(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
      df.write.mode(SaveMode.Overwrite).parquet(s"$outDir/$name.parquet")
      println(s"DATAGEN $name done")
    }

    save(regions.zipWithIndex
      .map { case (r, i) => (i, r) }.toDF("r_regionkey", "r_name"), "region")
    save((0 until 25).map(i => (i, s"NATION_$i", i % 5))
      .toDF("n_nationkey", "n_name", "n_regionkey"), "nation")

    save(range(nCustomers).mapPartitions(_.map { id =>
      val s = new Stream(1, id)
      Customer(id, f"Customer#$id%09d", s.int(25),
        math.rint(s.uniform(-1000, 10000) * 100) / 100,
        segments(s.int(5)))
    }).toDF(), "customer")

    save(range(nSuppliers).mapPartitions(_.map { id =>
      val s = new Stream(2, id)
      Supplier(id, f"Supplier#$id%09d", s.int(25),
        math.rint(s.uniform(-1000, 10000) * 100) / 100)
    }).toDF(), "supplier")

    save(range(nParts).mapPartitions(_.map { id =>
      val s = new Stream(3, id)
      Part(id, s"${partAdjs(s.int(partAdjs.size))} ${partNouns(s.int(partNouns.size))}",
        s"Brand#${1 + s.int(20)}", partTypes(s.int(partTypes.size)),
        1 + s.int(50), math.rint((900.0 + id * 0.1) * 100) / 100)
    }).toDF(), "part")

    save(range(nOrders).mapPartitions(_.map { id =>
      val s = new Stream(4, id)
      Order(id, s.int(nCustomers.toInt.max(1)).toLong,
        statuses(s.int(3)),
        math.rint(s.uniform(1000, 500000) * 100) / 100,
        new java.sql.Timestamp(ordersEpoch + s.int(orderDays) * dayMs),
        priorities(s.int(5)))
    }).toDF(), "orders")

    // lineitem: Poisson(4) lines per order (orders drawing 0 have none),
    // flatMapped from the order range so the row count follows the law,
    // not a precomputed total.
    save(range(nOrders).mapPartitions(_.flatMap { oid =>
      val s = new Stream(5, oid)
      val n = s.poisson(4.0)
      (1 to n).map { ln =>
        Lineitem(oid, s.int(nParts.toInt.max(1)).toLong,
          s.int(nSuppliers.toInt.max(1)).toLong, ln,
          (1 + s.int(50)).toDouble,
          math.rint(s.uniform(900, 105000) * 100) / 100,
          math.rint(s.uniform(0, 0.10) * 100) / 100,
          math.rint(s.uniform(0, 0.08) * 100) / 100,
          Seq("A", "N", "R")(s.int(3)), Seq("F", "O")(s.int(2)),
          new java.sql.Timestamp(ordersEpoch + dayMs +
            s.int(shipDays) * dayMs))
      }
    }).toDF(), "lineitem")

    save(range(nEvents).mapPartitions(_.map { id =>
      val s = new Stream(6, id)
      val micros = (s.u01() * eventsSpanMicros).toLong
      Event(id, eventsEpochNanos + micros * 1000L,
        s.int(nUsers.toInt.max(1)).toLong,
        eventTypes(s.int(5)),
        math.rint(s.exp(50.0) * 100) / 100,
        s"""{"k": ${s.int(100)}}""")
    }).toDF(), "events")

    // documents: ~5% near-duplicates (source text + " dup"), ~0.3% exact
    // duplicates; both re-evaluate baseText at a non-special source id.
    save(range(nDocs).mapPartitions(_.map(id => docRow(id))).toDF(), "documents")

    save(range(nVecs).mapPartitions(_.map { id =>
      val s = new Stream(9, id)
      val label = s.int(10)
      val cs = new Stream(10, label.toLong) // shared weak label centroid
      val raw = Array.tabulate(64)(_ => s.gaussian() + 0.04 * cs.gaussian())
      val norm = math.sqrt(raw.map(x => x * x).sum)
      Embedding(id, raw.map(x => (x / norm).toFloat), label)
    }).toDF(), "embeddings")

    println(s"DATAGEN complete sf=$sf dir=$outDir")
  }
}
