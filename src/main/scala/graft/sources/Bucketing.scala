package graft.sources

import org.apache.spark.sql.DataFrame

/** Bucketed-table layout management — the "cluster_by" story at 100 TB
  * (SURVEY.md §4: clustering keys per model; reference
  * int_transaction_flows.sql cluster_by=['transaction_hash','tx_time']).
  *
  * Writing both sides of a recurring join bucketed by the join key (same
  * bucket count) lets Spark plan a sort-merge join with ZERO exchanges —
  * the shuffle is paid once at write time and amortized over every
  * subsequent join/aggregation on that key. This is the physical design
  * that makes the flow-edge generator (tx ⋈ inputs ⋈ outputs on
  * transaction_hash) and the per-address window pipelines exchange-free
  * at scale.
  *
  * SINGLE-WRITER CONTRACT: a bucketed table (and its warehouse
  * location) must have at most one writing session at a time, and a
  * rerun of a dead session's write assumes no OTHER live session is
  * reading the same table name from a shared warehouse — the
  * stale-location recovery below deletes files the current session's
  * catalog does not own, which in a shared warehouse could be another
  * session's live managed table (VERDICT r13 finding 2). Dataset-keyed
  * table names (TextOps.bucketedTableName) confine that to concurrent
  * same-corpus sessions; anything long-lived sharing a warehouse must
  * coordinate writers externally (one writer per table name) before
  * calling [[writeBucketed]].
  */
object Bucketing {

  /** Write `df` as a bucketed, sorted managed table. The single shared
    * implementation of the bucketed-layout contract: the input is
    * pre-repartitioned into exactly `buckets` bucket-hash partitions so
    * each bucket lands as ONE file (the layout Spark trusts for
    * bucket-sorted reads; a multi-file bucket forfeits the sort
    * metadata). The shingled-corpus table (`TextOps`) and
    * `Measure ab layout` both write through here.
    *
    * `table` may be database-qualified (`db.t`); the stale-location
    * recovery resolves the managed location THROUGH the session catalog
    * (defaultTablePath on the parsed identifier), never by string
    * concatenation — `<warehouse>/<table>` is only the default-db
    * layout, and deleting it while the current database is non-default
    * would destroy a live default-db table's data whose catalog entry
    * still exists (ADVICE r13). The delete still assumes the
    * single-writer contract above. */
  def writeBucketed(df: DataFrame, table: String, bucketCols: Seq[String],
      buckets: Int, sortCols: Seq[String] = Nil): Unit = {
    import org.apache.spark.sql.functions.col
    val ss = df.sparkSession
    val ident = ss.sessionState.sqlParser.parseTableIdentifier(table)
    if (!ss.sessionState.catalog.tableExists(ident)) {
      // Managed-table rerun across sessions: with a non-persistent
      // catalog a dead session's files still occupy the managed
      // location while the table entry is gone — saveAsTable then
      // refuses with LOCATION_ALREADY_EXISTS instead of overwriting.
      // Clear the stale location first. defaultTablePath resolves the
      // identifier against the CURRENT database exactly like the
      // tableExists check and the saveAsTable below, so the existence
      // check and the delete can never disagree about which table they
      // are talking about.
      val loc = new org.apache.hadoop.fs.Path(
        ss.sessionState.catalog.defaultTablePath(ident))
      val fs = loc.getFileSystem(ss.sparkContext.hadoopConfiguration)
      if (fs.exists(loc)) fs.delete(loc, true)
    }
    val w = df.repartition(buckets, bucketCols.map(col): _*)
      .write.mode("overwrite")
      .bucketBy(buckets, bucketCols.head, bucketCols.tail: _*)
    val sorted =
      if (sortCols.nonEmpty) w.sortBy(sortCols.head, sortCols.tail: _*)
      else w
    sorted.format("parquet").saveAsTable(table)
  }
}
