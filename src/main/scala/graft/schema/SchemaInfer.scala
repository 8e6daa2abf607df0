package graft.schema

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.{Alias, AttributeReference,
  BoundReference, GenericInternalRow, Predicate}
import org.apache.spark.sql.catalyst.plans.logical.Project
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType, StringType}
import SchemaMerge._

/** Distributed schema inference for unknown TSV feeds (reference:
  * generate_snowflake_ddl.py:334-405 — pandas chunked sampling with
  * per-column classification).
  *
  * The reference pulls a 1M-row sample into pandas on the driver; that
  * collapses at 100 TB. Here each partition folds its share of the sample
  * into per-column statistics (non-null count, max length, which probes
  * still hold) and only those are collected: one job, no shuffle.
  *
  * Cost model: probe elimination. A failed `try_*` parse probe costs one
  * exception thrown and caught inside Spark (about 4–6 µs measured on the
  * `inputs` dump), and most probes fail (a hash fails every date format).
  * Classification only asks whether a probe held on every sampled value,
  * so a probe dies at its first failure and is never run again on that
  * column: a hash column pays its five date-format failures once, and
  * only probes that keep holding (the long probe on an int column) run on
  * every value.
  *
  * Classification order matches the reference exactly: date/timestamp
  * (format-list order), all-null → VARCHAR(default), integer, float,
  * boolean, else VARCHAR(tier(maxLen)).
  */
object SchemaInfer {

  /** (Spark datetime pattern from config/ddl_config.json:7-10, isDate).
    * Tried in order; first full-parse wins. */
  val dateFormats: Seq[(String, Boolean)] = Seq(
    ("yyyy-MM-dd", true), ("yyyy/MM/dd", true), ("dd-MM-yyyy", true),
    ("yyyy-MM-dd HH:mm:ss", false), ("yyyy-MM-dd HH:mm:ss.SSSSSS", false))

  /** A candidate-type probe: true when the non-null value does not parse
    * as the candidate. The try_* forms return null on failure under ANSI
    * mode (the Spark 4 default) instead of raising. */
  private type Probe = Column => Column

  // Strict parse: trailing characters fail, so a date-only format rejects
  // timestamps (mirrors the pandas errors='raise' probe); DATE vs
  // TIMESTAMP classification comes from the format flag. The probe table
  // is ordered formats, long, double, boolean; bit i of a mask is probe i.
  private val probes: Seq[Probe] =
    dateFormats.map { case (fmt, _) =>
      (c: Column) => try_to_timestamp(c, lit(fmt)).isNull
    } ++ Seq[Probe](_.try_cast(LongType).isNull,
      _.try_cast(DoubleType).isNull, c => !c.isin("True", "False"))
  private val (longBit, doubleBit, boolBit) =
    (dateFormats.size, dateFormats.size + 1, dateFormats.size + 2)

  /** Infer warehouse column specs from an all-string DataFrame (the raw
    * TSV read). `sampleRows` bounds the scan, mirroring --sample-rows
    * (blockchair_etl_pipeline.sh:194): each partition reads at most its
    * even share, so a one-file dump reads exactly its leading rows. */
  def infer(raw: DataFrame, sampleRows: Int = 1000000): Schema = {
    val n = raw.columns.length
    // The probes as Catalyst resolves and optimizes them (try_to_timestamp
    // replaced), rebound to slot 0 of a one-value row. Quoted, so a name
    // holding `.` is one column rather than a nested field path.
    val first = col("`" + raw.columns.head.replace("`", "``") + "`")
    val tests = raw.select(probes.map(_(first)): _*)
      .queryExecution.optimizedPlan match {
      case Project(list, _) => list.map(_.asInstanceOf[Alias].child.transform {
        case _: AttributeReference => BoundReference(0, StringType, true)
      })
    }
    val rdd = raw.queryExecution.toRdd
    val share = ((sampleRows.toLong + rdd.getNumPartitions - 1) /
      math.max(rdd.getNumPartitions, 1)).toInt
    val all = (1 << probes.size) - 1

    val parts = rdd.mapPartitions { rows =>
      val preds = tests.map(Predicate.createInterpreted).toArray
      val value = new GenericInternalRow(1)
      val live = Array.fill(n)(all)
      val nonNull = new Array[Long](n)
      val maxLen = new Array[Int](n)
      rows.take(share).foreach { r =>
        var j = 0
        while (j < n) {
          if (!r.isNullAt(j)) {
            val v = r.getUTF8String(j)
            nonNull(j) += 1
            maxLen(j) = math.max(maxLen(j), v.numChars)
            value.update(0, v)
            var m = live(j)
            while (m != 0) {
              val bit = Integer.numberOfTrailingZeros(m)
              if (preds(bit).eval(value)) live(j) &= ~(1 << bit)
              m &= m - 1
            }
          }
          j += 1
        }
      }
      Iterator((live, nonNull, maxLen))
    }.collect()

    raw.columns.toSeq.zipWithIndex.map { case (name, j) =>
      val live = parts.foldLeft(all)(_ & _._1(j))
      val nonNull = parts.map(_._2(j)).sum
      def holds(bit: Int) = (live & (1 << bit)) != 0
      val matchedFmt = dateFormats.indices.indexWhere(holds)
      val typ: SfType =
        if (nonNull == 0) SfVarchar(defaultStringLength)
        else if (matchedFmt >= 0)
          if (dateFormats(matchedFmt)._2) SfDate else SfTimestamp
        else if (holds(longBit)) SfInteger
        else if (holds(doubleBit)) SfFloat
        else if (holds(boolBit)) SfBoolean
        else SfVarchar(varcharTier(Some(parts.map(_._3(j)).max)))
      ColumnSpec(sanitize(name, j), typ)
    }
  }
}
