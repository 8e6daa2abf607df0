package graft.functions

import org.apache.datasketches.kll.KllDoublesSketch
import org.apache.datasketches.memory.Memory
import org.apache.spark.sql.{Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator

/** Mergeable quantile sketches (DataSketches KLL) as typed
  * `Aggregator`s — the quantile counterpart of the HLL distinct mart
  * (`ops/ScaleOps.dailyUserSketches`): build one bounded-size sketch per
  * history partition, persist it as a plain BINARY parquet column, and
  * answer any-window percentile queries by unioning stored sketches
  * instead of re-scanning history (the shape
  * `quality_quantile_filter`'s exact `percentile()` cannot take to
  * 100 TB — its state is the group's whole value list).
  *
  * One deliberate asymmetry vs the HLL mart, documented because its
  * gate differs: HLL register state is an order-invariant per-register
  * max, so merged-vs-direct estimates compare EXACTLY equal. KLL
  * compaction flips random coins (datasketches-java
  * KllDoublesHelper), so two aggregation orders — or a union of parts
  * vs one direct sketch — legitimately retain different samples. What
  * IS exact through any merge tree: the total mass `n` and the
  * min/max items. What is guaranteed within ε: the rank of any
  * returned quantile value (k=400 → normalized rank error ≈0.9% at
  * 99% confidence; merging never degrades the bound). The mart gate
  * (`kll_mart_quality`) therefore pins mass/range EXACTLY and rank
  * error ≤0.02, instead of the HLL gate's estimate equality.
  */
object KllQuantile {

  /** Sketch accuracy parameter: k=400 halves the default k=200's rank
    * error (≈1.65% → ≈0.9% at 99% confidence) so the gate's 0.02 rank
    * bound has no realistic flake budget, at ~3 KB per sketch row. */
  val K = 400

  /** finish() readout of one merged sketch: exact mass and range,
    * plus the estimated quantile at `rank`. */
  final case class KllSummary(n: Long, min: Double, max: Double,
      quantile: Double)

  /** Aggregation buffer: a heap KLL sketch behind Java-serialization
    * hooks (the sketch's own compact byte encoding, restored with
    * heapify). Mutation is in-place per row; serialization happens only
    * at partial-aggregation boundaries — the TopKFreq lifecycle. */
  final class Holder(k: Int) extends Serializable {
    @transient private var sk: KllDoublesSketch =
      KllDoublesSketch.newHeapInstance(k)

    def sketch: KllDoublesSketch = sk
    def add(v: Double): Holder = { sk.update(v); this }
    def addBytes(b: Array[Byte]): Holder = {
      if (b != null && b.nonEmpty)
        sk.merge(KllDoublesSketch.heapify(Memory.wrap(b)))
      this
    }
    def mergeWith(o: Holder): Holder = { sk.merge(o.sketch); this }

    def summary(rank: Double): KllSummary =
      if (sk.isEmpty) KllSummary(0L, Double.NaN, Double.NaN, Double.NaN)
      else KllSummary(sk.getN, sk.getMinItem, sk.getMaxItem,
        sk.getQuantile(rank))

    private def writeObject(out: java.io.ObjectOutputStream): Unit = {
      val b = sk.toByteArray
      out.writeInt(b.length)
      out.write(b)
    }
    private def readObject(in: java.io.ObjectInputStream): Unit = {
      val b = new Array[Byte](in.readInt())
      in.readFully(b)
      sk = KllDoublesSketch.heapify(Memory.wrap(b))
    }
  }

  /** The one Aggregator body behind the three public ones: a fresh
    * [[Holder]] per group, `step` folds one input row into it, partial
    * buffers merge by sketch union, and `out` reads the merged sketch.
    * The three differ only in `step`, `out` and the output encoder. */
  private def agg[IN, OUT](k: Int, step: (Holder, IN) => Holder,
      out: Holder => OUT, enc: Encoder[OUT]): Aggregator[IN, Holder, OUT] =
    new Aggregator[IN, Holder, OUT] {
      override def zero: Holder = new Holder(k)
      override def reduce(b: Holder, v: IN): Holder = step(b, v)
      override def merge(a: Holder, b: Holder): Holder = a.mergeWith(b)
      override def finish(r: Holder): OUT = out(r)
      override def bufferEncoder: Encoder[Holder] =
        Encoders.javaSerialization[Holder]
      override def outputEncoder: Encoder[OUT] = enc
    }

  private def summaryEncoder: Encoder[KllSummary] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder()

  /** Values → serialized sketch (the mart-build aggregate: one BINARY
    * row per history partition, parquet-writable, unionable after
    * read-back). */
  def sketchAgg(k: Int = K): Aggregator[Double, Holder, Array[Byte]] =
    agg[Double, Array[Byte]](k, _ add _, _.sketch.toByteArray,
      Encoders.BINARY)

  /** Stored sketches → union → (n, min, max, quantile-at-`rank`)
    * readout (the any-window serving aggregate over the mart). */
  def unionSummaryAgg(rank: Double, k: Int = K)
      : Aggregator[Array[Byte], Holder, KllSummary] =
    agg[Array[Byte], KllSummary](k, _ addBytes _, _.summary(rank),
      summaryEncoder)

  /** Raw values → one direct sketch → summary (the single-pass arm the
    * gate compares the mart path against). */
  def valueSummaryAgg(rank: Double, k: Int = K)
      : Aggregator[Double, Holder, KllSummary] =
    agg[Double, KllSummary](k, _ add _, _.summary(rank), summaryEncoder)
}
