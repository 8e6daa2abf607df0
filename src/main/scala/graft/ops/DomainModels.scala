package graft.ops

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables._
import Parity._

/** Composite queries mirroring the reference's dbt model DAG
  * (transaction_tracing/models/), re-keyed onto the shared test tables:
  *
  *  - flows_edges          ≈ int_transaction_flows (J1+J2+P5): the edge
  *    generator joining facts to both endpoints and categorizing rows.
  *  - balance_history      ≈ int_address_balances_with_history
  *    (P6+U1+J3+W1): sign-flipped debit/credit union with a running
  *    RANGE-frame balance per entity.
  *  - dim_entity           ≈ dim_addresses (A1+A2): per-entity totals +
  *    exact distinct counts.
  *
  * Scale: flows_edges shuffles the fact table once on the join key
  * (dims broadcast); balance_history's window shuffles on the entity key —
  * the same partitioning a bucketed-by-entity layout would make free.
  */
object DomainModels extends QueryModule {

  import org.apache.spark.sql.DataFrame

  /** flows_edges' join+projection over ANY layout of the two inputs
    * (plain parquet or bucketed tables) — the bucketed-layout A/B
    * (`graft.Measure ab layout`) must measure the identical expressions the
    * registry query runs. */
  private[graft] def flowsFrom(l: DataFrame, o: DataFrame): DataFrame =
    l.join(o, l("l_orderkey") === o("o_orderkey"))
      .select(
        col("l_suppkey").as("source_id"),
        col("o_custkey").as("dest_id"),
        col("o_orderdate").as("tx_time"),
        col("l_orderkey").as("tx_id"),
        col("l_linenumber").as("line_no"),
        (col("l_extendedprice") * (lit(1) - col("l_discount")))
          .as("value"),
        when(col("o_orderstatus") === "F", "final")
          .otherwise("pending").as("tx_type"))

  /** balance_history's debit∪credit change stream — the frame a 100 TB
    * deployment materializes ONCE bucketed by entity (the layout
    * `Measure ab layout` writes through `Bucketing.writeBucketed`);
    * [[balanceOver]] then windows over it exchange-free. */
  private[graft] def balanceChanges(
      s: org.apache.spark.sql.SparkSession, d: String): DataFrame = {
    val o = orders(s, d)
    val debits = o.select(col("o_custkey").as("entity"),
      col("o_orderdate").as("ts"), col("o_orderkey").as("ref_id"),
      (-col("o_totalprice")).as("delta"))
    val l = lineitem(s, d)
    val credits = l.join(o, l("l_orderkey") === o("o_orderkey"))
      .select(col("o_custkey").as("entity"),
        col("o_orderdate").as("ts"), col("l_orderkey").as("ref_id"),
        (col("l_extendedprice") * (lit(1) - col("l_discount")))
          .as("delta"))
    debits.unionByName(credits)
  }

  /** The running-balance window over a changes frame of any layout. */
  private[graft] def balanceOver(changes: DataFrame): DataFrame = {
    val w = Window.partitionBy("entity").orderBy("ts")
    changes.select(col("entity"), col("ts"), col("ref_id"),
      col("delta"),
      outDec(sum(dec(col("delta"))).over(w)).as("running_balance"))
  }

  def all: Seq[Q] = Seq(

    Q("flows_edges",
      (s, d) => flowsFrom(lineitem(s, d), orders(s, d)),
      Some("""SELECT l_suppkey AS source_id, o_custkey AS dest_id,
              o_orderdate AS tx_time, l_orderkey AS tx_id,
              l_linenumber AS line_no,
              l_extendedprice * (1 - l_discount) AS value,
              CASE WHEN o_orderstatus = 'F' THEN 'final'
                   ELSE 'pending' END AS tx_type
              FROM lineitem JOIN orders ON l_orderkey = o_orderkey""")),

    Q("balance_history",
      (s, d) => balanceOver(balanceChanges(s, d)),
      Some(s"""WITH changes AS (
                SELECT o_custkey AS entity, o_orderdate AS ts,
                       o_orderkey AS ref_id, -o_totalprice AS delta
                FROM orders
                UNION ALL
                SELECT o_custkey, o_orderdate, l_orderkey,
                       l_extendedprice * (1 - l_discount)
                FROM lineitem JOIN orders ON l_orderkey = o_orderkey)
              SELECT entity, ts, ref_id, delta,
              ${sqlOutDec("SUM(CAST(delta AS DECIMAL(18,6))) OVER " +
                "(PARTITION BY entity ORDER BY ts)")} AS running_balance
              FROM changes""")),

    Q("dim_entity",
      (s, d) => {
        val o = orders(s, d)
        o.groupBy(col("o_custkey").as("entity"))
          .agg(decSum(col("o_totalprice")).as("total_value"),
            countDistinct(col("o_orderkey")).as("tx_count"),
            min(col("o_orderdate")).as("first_seen"),
            max(col("o_orderdate")).as("last_seen"))
      },
      Some(s"""SELECT o_custkey AS entity,
              ${sqlDecSum("o_totalprice")} AS total_value,
              COUNT(DISTINCT o_orderkey) AS tx_count,
              MIN(o_orderdate) AS first_seen,
              MAX(o_orderdate) AS last_seen
              FROM orders GROUP BY 1"""))
  )
}
