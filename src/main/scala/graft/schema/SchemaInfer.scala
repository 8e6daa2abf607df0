package graft.schema

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType}
import SchemaMerge._

/** Distributed schema inference for unknown TSV feeds (reference:
  * generate_snowflake_ddl.py:334-405 — pandas chunked sampling with
  * per-column classification).
  *
  * The reference pulls a 1M-row sample into pandas on the driver; that
  * collapses at 100 TB. Here at most [[WitnessRows]] (256) leading
  * sampled rows reach the driver; every per-column statistic (non-null
  * count, max length, parse-failure counts per candidate type) comes from
  * ONE distributed aggregation pass over the sample.
  *
  * Cost model. A failed `try_*` parse probe costs one exception thrown
  * and caught inside Spark (about 4–6 µs measured on the `inputs` dump),
  * and a gzip dump is one task on one core. Counting every probe on every
  * value pays that for rows × columns × failing probes, and most probes
  * fail (a hash fails every date format); extrapolated from the measured
  * unit cost, a 1M-row `inputs` sample would take on the order of ten
  * minutes. So each column first keeps up to three witnesses from the
  * leading rows (first non-null, shortest, longest) and the probes run
  * on them as a projection over a local relation, which the optimizer
  * folds on the driver without a job. A probe any witness fails has a
  * failure count > 0, and classification only ever tests `== 0`, so that
  * probe is decided without a scan: failures are paid only on values of
  * columns whose witnesses all parsed. The result equals counting every
  * probe (the witnesses are sampled rows; a witness from outside a
  * nondeterministic multi-partition sample only ever widens the type).
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

  /** Leading sampled rows the witnesses are picked from. */
  val WitnessRows = 256

  /** A candidate-type probe: true when the non-null value does not parse
    * as the candidate. The try_* forms return null on failure under ANSI
    * mode (the Spark 4 default) instead of raising. */
  private type Probe = Column => Column

  // Strict parse: trailing characters fail, so a date-only format rejects
  // timestamps (mirrors the pandas errors='raise' probe); DATE vs
  // TIMESTAMP classification comes from the format flag.
  private val formatProbes: Seq[Probe] = dateFormats.map { case (fmt, _) =>
    (c: Column) => try_to_timestamp(c, lit(fmt)).isNull
  }
  private val longProbe: Probe = _.try_cast(LongType).isNull
  private val doubleProbe: Probe = _.try_cast(DoubleType).isNull
  private val boolProbe: Probe = c => !c.isin("True", "False")
  private val probes: Seq[Probe] =
    formatProbes ++ Seq(longProbe, doubleProbe, boolProbe)

  /** Column reference for a raw header name. Quoted, so a name holding
    * `.` or a backtick is one column rather than a nested field path. */
  private def ref(name: String): Column =
    col("`" + name.replace("`", "``") + "`")

  private def failed(probe: Probe, c: Column): Column =
    c.isNotNull && probe(c)

  /** Infer warehouse column specs from an all-string DataFrame (the raw
    * TSV read). `sampleRows` bounds the scan, mirroring --sample-rows
    * (blockchair_etl_pipeline.sh:194). */
  def infer(raw: DataFrame, sampleRows: Int = 1000000): Schema = {
    val df = raw.limit(sampleRows)
    val cols = df.columns.toSeq.map(ref)

    // Witnesses: per column the first non-null, shortest and longest
    // value of the leading rows, laid out as up to three local rows.
    val lead = df.take(WitnessRows)
    val witnesses: Seq[Seq[String]] = cols.indices.map { j =>
      val vs = lead.toSeq.flatMap(r => Option(r.getString(j)))
      Seq(vs.headOption, vs.minByOption(_.length), vs.maxByOption(_.length))
        .flatten.distinct
    }
    val witnessRows = (0 until witnesses.map(_.size).maxOption.getOrElse(0))
      .map(k => Row.fromSeq(witnesses.map(_.lift(k).orNull)))
    val local = df.sparkSession.createDataFrame(
      java.util.Arrays.asList(witnessRows: _*), df.schema)
    val witnessed = local.select(
      (for (c <- cols; p <- probes) yield failed(p, c)): _*).collect()

    // One counting pass: non-null count and max length per column, plus
    // failure counts for the probes no witness refuted.
    def cnt(c: Column) = sum(when(c, 1L).otherwise(0L))
    val counted: Seq[Seq[Probe]] = cols.indices.map(j =>
      probes.zipWithIndex.collect { case (p, i)
        if !witnessed.exists(_.getBoolean(j * probes.size + i)) => p })
    val aggs = cols.zip(counted).flatMap { case (c, ps) =>
      Seq(cnt(c.isNotNull), max(length(c))) ++ ps.map(p => cnt(failed(p, c)))
    }
    val row: Row = df.agg(aggs.head, aggs.tail: _*).collect()(0)
    val offsets = counted.scanLeft(0)(_ + 2 + _.size)
    def l(pos: Int): Long = row.get(pos) match {
      case null => 0L
      case v => v.asInstanceOf[Number].longValue()
    }

    df.columns.toSeq.zipWithIndex.map { case (name, j) =>
      val base = offsets(j)
      val nonNull = l(base)
      def passes(p: Probe): Boolean = counted(j).indexOf(p) match {
        case -1 => false
        case k => l(base + 2 + k) == 0L
      }
      val matchedFmt = formatProbes.indexWhere(p => nonNull > 0 && passes(p))
      val typ: SfType =
        if (matchedFmt >= 0)
          if (dateFormats(matchedFmt)._2) SfDate else SfTimestamp
        else if (nonNull == 0) SfVarchar(defaultStringLength)
        else if (passes(longProbe)) SfInteger
        else if (passes(doubleProbe)) SfFloat
        else if (passes(boolProbe)) SfBoolean
        else SfVarchar(varcharTier(Option(row.get(base + 1))
          .map(_.asInstanceOf[Number].intValue())))
      ColumnSpec(sanitize(name, j), typ)
    }
  }
}
