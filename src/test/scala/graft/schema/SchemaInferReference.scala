package graft.schema

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import SchemaMerge._

/** Reference for [[SchemaInfer.infer]]: one aggregation that counts the
  * failures of every candidate-type probe on every sampled value, then
  * classifies in the reference order. `SchemaInfer` must return exactly
  * this schema for every input; it only stops running a probe on a
  * column once the probe has failed there. Column references are quoted so
  * the reference also runs on header names holding `.`.
  */
object SchemaInferReference {

  def infer(raw: DataFrame, sampleRows: Int = 1000000): Schema = {
    val df = raw.limit(sampleRows)
    val cols = df.columns.toSeq

    def cnt(c: org.apache.spark.sql.Column) =
      sum(when(c, 1L).otherwise(0L))
    val aggs = cols.flatMap { name =>
      val q = s"`${name.replace("`", "``")}`"
      val c = col(q)
      val nn = c.isNotNull
      Seq(
        cnt(nn).as(s"${name}__nn"),
        cnt(nn && expr(s"try_cast($q AS BIGINT)").isNull)
          .as(s"${name}__notlong"),
        cnt(nn && expr(s"try_cast($q AS DOUBLE)").isNull)
          .as(s"${name}__notdbl"),
        cnt(nn && !c.isin("True", "False")).as(s"${name}__notbool"),
        max(length(c)).as(s"${name}__maxlen")) ++
        SchemaInfer.dateFormats.zipWithIndex.map { case ((fmt, _), i) =>
          cnt(nn && expr(s"try_to_timestamp($q, '$fmt')").isNull)
            .as(s"${name}__fmt$i")
        }
    }
    val row: Row = df.agg(aggs.head, aggs.tail: _*).collect()(0)
    def l(field: String): Long = {
      val v = row.getAs[Any](field)
      if (v == null) 0L else v.asInstanceOf[Number].longValue()
    }

    cols.zipWithIndex.map { case (name, idx) =>
      val nonNull = l(s"${name}__nn")
      val matchedFmt = SchemaInfer.dateFormats.indices.find(i =>
        nonNull > 0 && l(s"${name}__fmt$i") == 0L)
      val typ: SfType = matchedFmt match {
        case Some(i) =>
          if (SchemaInfer.dateFormats(i)._2) SfDate else SfTimestamp
        case None if nonNull == 0 => SfVarchar(defaultStringLength)
        case None if l(s"${name}__notlong") == 0 => SfInteger
        case None if l(s"${name}__notdbl") == 0 => SfFloat
        case None if l(s"${name}__notbool") == 0 => SfBoolean
        case None =>
          val maxLen = row.getAs[Any](s"${name}__maxlen") match {
            case null => None
            case v => Some(v.asInstanceOf[Number].intValue())
          }
          SfVarchar(varcharTier(maxLen))
      }
      ColumnSpec(sanitize(name, idx), typ)
    }
  }
}
