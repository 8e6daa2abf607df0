package graft.quality

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** M8 — the dbt schema tests as executable assertion queries
  * (models/staged/schema.yml: unique + not_null on address / block_id /
  * transaction_hash; unique_combination_of_columns on [address],
  * [block_id, block_hash], [transaction_hash, block_id]).
  *
  * Each check returns the VIOLATION rows (empty = pass), so failures are
  * debuggable; `runAll` reduces them to a pass/fail summary with counts.
  * All checks are single hash-aggregations — map-side combinable.
  */
object Checks {

  final case class CheckResult(name: String, violations: Long) {
    def passed: Boolean = violations == 0
  }

  /** not_null on `cols` — violation rows have any null key. */
  def notNull(df: DataFrame, cols: String*): DataFrame =
    df.filter(cols.map(col(_).isNull).reduce(_ || _))

  /** unique (or unique_combination_of_columns) on `cols`. */
  def unique(df: DataFrame, cols: String*): DataFrame =
    df.groupBy(cols.map(col): _*)
      .agg(count(lit(1)).as("occurrences"))
      .filter(col("occurrences") > 1)

  /** The reference's exact staging-layer suite
    * (models/staged/schema.yml:9-78). */
  def stagingSuite(stgAddresses: DataFrame, stgBlocks: DataFrame,
      stgTransactions: DataFrame, stgInputs: DataFrame,
      stgOutputs: DataFrame): Seq[(String, DataFrame)] = Seq(
    "addresses_address_not_null" -> notNull(stgAddresses, "address"),
    "addresses_address_unique" -> unique(stgAddresses, "address"),
    "blocks_block_id_not_null" -> notNull(stgBlocks, "block_id"),
    "blocks_id_hash_unique" -> unique(stgBlocks, "block_id", "block_hash"),
    "transactions_hash_not_null" ->
      notNull(stgTransactions, "transaction_hash"),
    "transactions_hash_block_unique" ->
      unique(stgTransactions, "transaction_hash", "block_id"),
    "inputs_hash_not_null" -> notNull(stgInputs, "transaction_hash"),
    "outputs_hash_not_null" -> notNull(stgOutputs, "transaction_hash"))

  /** One `count()` per check, the checks run concurrently
    * ([[graft.util.Overlap]]); results come back in suite order. */
  def runAll(checks: Seq[(String, DataFrame)]): Seq[CheckResult] =
    graft.util.Overlap.all(checks.map { case (name, df) =>
      () => CheckResult(name, df.count()) })
}
