package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, ImplicitCastInputTypes, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, LongType}

/** One-pass multi-table LSH bucket kernel.
  *
  * The compositional form — `array(struct(t, sum_j when(graft_dot(v,
  * plane_tj) > 0, 1<<j)))` over tables×bits planes — is semantically
  * right but physically hostile at 20×6: the projection inlines 120
  * literal 64-double arrays into one expression tree, and any stage
  * that fuses it with a downstream join blows the whole-stage-codegen
  * method past the JVM's compile limits, knocking the ENTIRE fused
  * stage (scan, 120 dot products, probe) onto the uncompiled path.
  * Measured on sf10 (200k vectors): the same broadcast join runs 97.8 s
  * fused with the compositional projection and 1.2 s when the
  * projection is materialized first — a 80× cliff with zero plan-shape
  * difference. (Round 10; `graft.Measure ab lsh_kernel`.)
  *
  * This expression collapses the whole bucket computation into ONE
  * tiny codegen call: the plane matrix rides along as a primitive
  * `double[][]` reference (no boxed literal arrays), the vector is
  * copied to a primitive buffer once (one null/length scan), and the
  * tables×bits×dim triple loop runs in pre-compiled Scala that the JIT
  * sees as an ordinary hot method. Generated code size is constant in
  * the geometry, so the fused stage stays compiled at any
  * (tables, bits).
  *
  * Semantics mirror the compositional form bit-for-bit, including the
  * degenerate cases: a null element or a vector whose length differs
  * from the planes' dimension makes every `graft_dot` null, every
  * `when(null > 0)` fall to `otherwise(0)`, hence every bucket 0 —
  * pinned against the compositional form in LshExprsSpec.
  */
case class LshTableBuckets(child: Expression, planes: Seq[Seq[Double]],
    tables: Int, bits: Int)
    extends UnaryExpression with ImplicitCastInputTypes {

  require(planes.length >= tables * bits,
    s"need ${tables * bits} planes, got ${planes.length}")

  // The planes ride as Seq[Seq[Double]] — a STRUCTURAL-equality type —
  // so two lshTableBuckets calls over identical geometry compare equal
  // and Catalyst canonicalization / common-subexpression elimination
  // can dedupe them (an Array param's reference-identity equals would
  // silently defeat both). The primitive matrix the kernel needs is
  // derived lazily; @transient so executors rebuild it from the Seq
  // instead of serializing it twice.
  @transient private lazy val planeMatrix: Array[Array[Double]] =
    planes.map(_.toArray).toArray

  override def inputTypes = Seq(ArrayType(DoubleType))
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_lsh_buckets"
  override def nullable: Boolean = true

  override def nullSafeEval(v: Any): Any =
    LshKernel.buckets(v.asInstanceOf[ArrayData], planeMatrix, tables, bits)

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode = {
    val planesRef = ctx.addReferenceObj("lshPlanes", planeMatrix,
      "double[][]")
    nullSafeCodeGen(ctx, ev, v => {
      s"""
        ${ev.value} = graft.functions.LshKernel.buckets(
          $v, $planesRef, $tables, $bits);
      """
    })
  }

  override protected def withNewChildInternal(newChild: Expression) =
    copy(child = newChild)
}

object LshKernel {
  /** Bucket ids per table: bucket(t) = Σ_j [dot(v, plane(t·bits+j)) > 0]·2ʲ.
    * Null element / dimension mismatch ⇒ all-zero buckets (see Scaladoc
    * on [[LshTableBuckets]]). The dot accumulates in ascending index
    * order — the same fold as [[DotProduct]] — so signs agree
    * bit-for-bit with the compositional form. */
  def buckets(v: ArrayData, planes: Array[Array[Double]], tables: Int,
      bits: Int): ArrayData = {
    val n = v.numElements()
    val dim = if (planes.length > 0) planes(0).length else 0
    var valid = n == dim
    val x = new Array[Double](n)
    var i = 0
    while (valid && i < n) {
      if (v.isNullAt(i)) valid = false else x(i) = v.getDouble(i)
      i += 1
    }
    val out = new Array[Long](tables)
    if (valid) {
      var t = 0
      while (t < tables) {
        var bucket = 0L
        var j = 0
        while (j < bits) {
          val p = planes(t * bits + j)
          var acc = 0.0
          var k = 0
          while (k < dim) { acc += x(k) * p(k); k += 1 }
          if (acc > 0.0) bucket |= 1L << j
          j += 1
        }
        out(t) = bucket
        t += 1
      }
    }
    new GenericArrayData(out)
  }
}

object LshExprs {
  /** Column API for [[LshTableBuckets]]: array<long> of length `tables`,
    * element t = table t's bucket id. Input must be array<double>
    * (ImplicitCastInputTypes widens). */
  def lshTableBuckets(v: Column, planes: Seq[Seq[Double]], tables: Int,
      bits: Int): Column =
    ColumnBridge.column(LshTableBuckets(ColumnBridge.expression(v),
      planes, tables, bits))
}
