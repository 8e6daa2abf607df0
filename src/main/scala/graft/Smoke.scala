package graft

/** Local smoke check mirroring the driver's t1 gate: SparkEntry.entry must
  * return >0 rows on sf0.001. */
object Smoke {
  def main(args: Array[String]): Unit = {
    val spark = Sessions.start()
    val df = SparkEntry.entry(spark)
    println("ENTRY_SCHEMA=" + df.schema.simpleString)
    println("ENTRY_ROWS=" + df.count())
    spark.stop()
  }
}
