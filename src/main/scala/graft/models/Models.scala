package graft.models

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The reference's three-layer dbt DAG re-expressed as pure
  * `DataFrame => DataFrame` functions (transaction_tracing/models/ —
  * staged views → intermediate tables → analytics marts). Function
  * composition replaces dbt's per-model optimization barriers: Catalyst
  * sees the whole lineage and optimizes globally.
  *
  * Unit contract (transaction_tracing/README.md:3, models/sources.yml:8-17):
  * sats (Long) / BTC = sats/1e8 (Double) / USD (Double) / bytes / WU /
  * seconds / days / coin-days.
  */
object Models {

  /** P3 — macros/convert_to_btc.sql:1-3 (compile-time macro → plain
    * Column function; no UDF). */
  def convertToBtc(c: Column): Column = c / 100000000.0

  /** P4 — macros/calculate_cdd.sql:1-3. */
  def calculateCdd(lifespanSecs: Column, valueSats: Column): Column =
    (lifespanSecs / 86400.0) * (valueSats / 100000000.0)

  // ===== staging (views; P1 rename + P2 null-key filter + P3/P4) =====

  /** stg_blocks (models/staged/stg_blocks.sql:9-52). */
  def stgBlocks(blocksRaw: DataFrame): DataFrame =
    blocksRaw.select(
      col("id").as("block_id"),
      col("hash").as("block_hash"),
      col("time").as("block_time"),
      col("median_time").as("median_block_time"),
      col("size").as("size_bytes"),
      col("stripped_size").as("stripped_size_bytes"),
      col("weight").as("weight_wu"),
      col("version"), col("version_hex"), col("version_bits"),
      col("merkle_root"), col("nonce"), col("bits"), col("difficulty"),
      col("chainwork"), col("coinbase_data_hex"),
      col("transaction_count"), col("witness_count"),
      col("input_count"), col("output_count"),
      col("input_total").as("input_total_sats"),
      convertToBtc(col("input_total")).as("input_total_btc"),
      col("input_total_usd"),
      col("output_total").as("output_total_sats"),
      convertToBtc(col("output_total")).as("output_total_btc"),
      col("output_total_usd"),
      col("fee_total").as("fee_total_sats"),
      convertToBtc(col("fee_total")).as("fee_total_btc"),
      col("fee_total_usd"),
      col("fee_per_kb").as("fee_per_kb_sats"),
      col("fee_per_kb_usd"),
      col("fee_per_kwu").as("fee_per_kwu_sats"),
      col("fee_per_kwu_usd"),
      col("cdd_total").as("cdd_total_days"),
      col("generation").as("generation_sats"),
      convertToBtc(col("generation")).as("generation_btc"),
      col("generation_usd"),
      col("reward").as("reward_sats"),
      convertToBtc(col("reward")).as("reward_btc"),
      col("reward_usd"),
      col("guessed_miner"))
      .filter(col("block_id").isNotNull)

  /** stg_transactions (models/staged/stg_transactions.sql:9-36). */
  def stgTransactions(txRaw: DataFrame): DataFrame =
    txRaw.select(
      col("block_id"),
      col("hash").as("transaction_hash"),
      col("time").as("tx_time"),
      col("size").as("size_bytes"),
      col("weight").as("weight_wu"),
      col("version"), col("lock_time"), col("is_coinbase"),
      col("has_witness"), col("input_count"), col("output_count"),
      col("input_total").as("input_total_sats"),
      convertToBtc(col("input_total")).as("input_total_btc"),
      col("input_total_usd"),
      col("output_total").as("output_total_sats"),
      convertToBtc(col("output_total")).as("output_total_btc"),
      col("output_total_usd"),
      col("fee").as("fee_sats"),
      convertToBtc(col("fee")).as("fee_btc"),
      col("fee_usd"),
      col("fee_per_kb").as("fee_per_kb_sats"),
      col("fee_per_kb_usd"),
      col("fee_per_kwu").as("fee_per_kwu_sats"),
      col("fee_per_kwu_usd"),
      col("cdd_total").as("cdd_total_days"))
      .filter(col("transaction_hash").isNotNull)

  /** stg_inputs (models/staged/stg_inputs.sql:9-35) — includes the
    * calculated_cdd_days validation column next to the shipped cdd. */
  def stgInputs(inputsRaw: DataFrame): DataFrame =
    inputsRaw.select(
      col("block_id"), col("transaction_hash"), col("index"), col("time"),
      col("value").as("value_sats"),
      convertToBtc(col("value")).as("value_btc"),
      col("value_usd"),
      col("recipient"), col("type"), col("script_hex"),
      col("is_from_coinbase"), col("is_spendable"),
      col("spending_block_id"), col("spending_transaction_hash"),
      col("spending_index"), col("spending_time"),
      col("spending_value_usd"), col("spending_sequence"),
      col("spending_signature_hex"), col("spending_witness"),
      col("lifespan").as("lifespan_secs"),
      (col("lifespan") / 86400.0).as("lifespan_days"),
      col("cdd").as("cdd_days"),
      calculateCdd(col("lifespan"), col("value")).as("calculated_cdd_days"))
      .filter(col("transaction_hash").isNotNull)

  /** stg_outputs (models/staged/stg_outputs.sql:9-23). */
  def stgOutputs(outputsRaw: DataFrame): DataFrame =
    outputsRaw.select(
      col("block_id"), col("transaction_hash"), col("index"), col("time"),
      col("value").as("value_sats"),
      convertToBtc(col("value")).as("value_btc"),
      col("value_usd"),
      col("recipient"), col("type"), col("script_hex"),
      col("is_from_coinbase"), col("is_spendable"))
      .filter(col("transaction_hash").isNotNull)

  /** stg_addresses (models/staged/stg_addresses.sql:9-14). */
  def stgAddresses(addressRaw: DataFrame): DataFrame =
    addressRaw.select(
      col("address"),
      col("balance").as("balance_sats"),
      convertToBtc(col("balance")).as("balance_btc"))
      .filter(col("address").isNotNull)

  // ===== intermediate (tables) =====

  /** int_transaction_flows (models/intermediate/int_transaction_flows
    * .sql:8-46): J1 (tx→blocks, single key) + J2 (tx→inputs, tx→outputs on
    * the composite (transaction_hash, block_id) — the N×M per-tx edge
    * fan-out) + P5 coinbase categorization.
    *
    * Scale: the blocks dim ("≈ 1/2000th of tx", linear in the fact)
    * rides a SIZE-GATED broadcast ([[graft.util.SizeGate.BlocksBroadcast]],
    * 256 MiB estimated; gate-scale plan pinned in PlanSpec via
    * `pipeline_e2e_trace_mart`) and falls back to the scale-safe
    * shuffled join past it. inputs/outputs/tx all shuffle on the same
    * composite key, so the two fan-out joins
    * reuse one exchange per side; at 100 TB these three tables should
    * be bucketed by transaction_hash to make the exchanges vanish. */
  def intTransactionFlows(stgTx: DataFrame, stgBlocks: DataFrame,
      stgInputs: DataFrame, stgOutputs: DataFrame): DataFrame = {
    // cdd_total_days exists on both tx and blocks — rename the block-side
    // column at the source to keep references unambiguous.
    val b = stgBlocks.select(col("block_id"), col("block_time"),
      col("cdd_total_days").as("block_cdd_days"), col("reward_btc"))
    val in = stgInputs.select(col("transaction_hash"), col("block_id"),
      col("recipient").as("input_address"),
      col("value_sats").as("input_value_sats"),
      col("value_btc").as("input_value_btc"),
      col("value_usd").as("input_value_usd"),
      col("cdd_days").as("input_cdd_days"),
      col("lifespan_days"), col("is_from_coinbase"))
    val out = stgOutputs.select(col("transaction_hash"), col("block_id"),
      col("recipient").as("output_address"),
      col("value_sats").as("output_value_sats"),
      col("value_btc").as("output_value_btc"),
      col("value_usd").as("output_value_usd"))
    stgTx
      .join(graft.util.SizeGate.broadcastIfSmall(b), Seq("block_id"), "left")
      .join(in, Seq("transaction_hash", "block_id"), "left")
      .join(out, Seq("transaction_hash", "block_id"), "left")
      .select(
        col("transaction_hash"), col("block_id"),
        col("block_time").as("tx_time"),
        col("input_address"), col("output_address"),
        col("input_value_sats"), col("input_value_btc"),
        col("output_value_sats"), col("output_value_btc"),
        col("input_value_usd"), col("output_value_usd"),
        col("fee_sats"), col("fee_btc"), col("fee_usd"),
        col("input_cdd_days"),
        col("block_cdd_days"),
        col("lifespan_days"),
        when(col("is_from_coinbase") === 1, "coinbase")
          .otherwise("standard").as("tx_type"),
        col("reward_btc").as("block_reward_btc"))
  }

  /** The signed balance-change stream (P6 sign-flip + U1 union) — single-
    * sourced so the full rebuild and the incremental day-fold
    * ([[foldBalancesDay]]) cannot diverge on sign or column conventions. */
  private[models] def balanceChanges(stgInputs: DataFrame,
      stgOutputs: DataFrame): DataFrame = {
    val debits = stgInputs.select(
      col("recipient").as("address"), col("time"),
      (-col("value_sats")).as("value_change_sats"),
      (-col("value_btc")).as("value_change_btc"),
      (-col("value_usd")).as("value_change_usd"),
      col("transaction_hash"))
    val credits = stgOutputs.select(
      col("recipient").as("address"), col("time"),
      col("value_sats").as("value_change_sats"),
      col("value_btc").as("value_change_btc"),
      col("value_usd").as("value_change_usd"),
      col("transaction_hash"))
    debits.unionByName(credits)
  }

  /** int_address_balances_with_history
    * (models/intermediate/int_address_balances_with_history.sql:8-50):
    * P6 sign-flip + U1 union + J3 left join + W1 running balances with the
    * default RANGE frame (ties in time share the cumulative value).
    *
    * Scale: the window and the join both partition by address — one
    * shuffle, reused. */
  def intAddressBalances(stgAddresses: DataFrame, stgInputs: DataFrame,
      stgOutputs: DataFrame): DataFrame = {
    val changes = balanceChanges(stgInputs, stgOutputs)
    val joined = stgAddresses.join(changes, Seq("address"), "left")
    val w = Window.partitionBy("address").orderBy("time")
    joined.select(
      col("address"), col("time"), col("transaction_hash"),
      col("value_change_sats"), col("value_change_btc"),
      col("value_change_usd"),
      sum(col("value_change_sats")).over(w).as("running_balance_sats"),
      sum(col("value_change_btc")).over(w).as("running_balance_btc"),
      sum(col("value_change_usd")).over(w).as("running_balance_usd"),
      col("balance_sats").as("current_balance_sats"),
      col("balance_btc").as("current_balance_btc"))
  }

  /** Compact per-address checkpoint of the balance history: cumulative
    * change totals + latest time seen. O(addresses) rows regardless of
    * history depth — everything [[foldBalancesDay]] needs.
    *
    * Null recipients (coinbase inputs) are NOT addresses and are excluded:
    * the full rebuild's address-anchored join can never emit them, and a
    * null key would silently split in the fold's state join (groupBy
    * treats nulls as one group; joins match no null to no null). */
  def balanceState(stgInputs: DataFrame, stgOutputs: DataFrame): DataFrame =
    balanceChanges(stgInputs, stgOutputs)
      .filter(col("address").isNotNull)
      .groupBy("address").agg(
      max("time").as("last_time"),
      sum("value_change_sats").as("cum_sats"),
      sum("value_change_btc").as("cum_btc"),
      sum("value_change_usd").as("cum_usd"))

  /** O(day) incremental balance history — the scale path the full-rebuild
    * scaladoc above promises. Folds ONE new day of inputs/outputs into the
    * checkpointed [[balanceState]]: running balance = checkpointed
    * cumulative + the RANGE-frame prefix sum within the day. Returns
    * `(dayHistoryRows, newState)`; the history rows carry exactly the
    * [[intAddressBalances]] activity-row schema, the state feeds day N+1.
    *
    * Cost: one shuffle of the DAY's changes by address (window + state
    * join share it) against a state table of O(addresses) — versus the
    * full rebuild's shuffle of ALL history every day.
    *
    * Fails fast (one counting job) if any new row's time is NULL or at or
    * before its address's checkpointed `last_time`: running balances are
    * prefix sums, so late-arriving history cannot fold — those addresses
    * must be rebuilt from full history instead (the RANGE tie frame would
    * have merged equal-time rows that the checkpoint already folded), and
    * a null-time row has no position in the prefix order at all (the full
    * rebuild sorts it before ALL history; a day-fold cannot).
    *
    * History rows cover EVERY active address. The `current_balance_*`
    * columns are denormalized snapshot attributes (the full rebuild
    * stamps rebuild-day balances onto all history): here they carry the
    * fold-day snapshot, null for addresses not yet snapshotted — the one
    * deliberate divergence from a later full rebuild, confined to those
    * two columns (refresh them with a cheap dim join at read time). */
  def foldBalancesDay(state: DataFrame, stgAddresses: DataFrame,
      dayInputs: DataFrame, dayOutputs: DataFrame): (DataFrame, DataFrame) = {
    // One materialization serves the late-row gate, the history rows, and
    // the state advance (lineage-truncated local checkpoint; without it
    // each of the three downstream jobs would re-derive the day's changes
    // from the raw inputs). Executor-local blocks only — fine for a
    // single-JVM daily job; a multi-node run would persist+release.
    val changes = balanceChanges(dayInputs, dayOutputs)
      .filter(col("address").isNotNull) // match balanceState's exclusion
      .localCheckpoint(true)
    val st = state.select(col("address"), col("last_time"),
      col("cum_sats"), col("cum_btc"), col("cum_usd"))
    val joined = changes.join(st, Seq("address"), "left")
    // NULL times must be refused explicitly: `time <= last_time` is NULL
    // (not true) for them, so they would slip through a late-only gate,
    // get no stable position in the prefix order, and never advance
    // max(last_time) — refold-eligible forever.
    val late = joined.filter(col("time").isNull ||
      (col("last_time").isNotNull && col("time") <= col("last_time")))
      .count()
    require(late == 0L,
      s"$late change rows with null time or at/before the checkpointed " +
        "last_time — such history cannot fold incrementally; rebuild " +
        "those addresses from full history")
    // LEFT join to the snapshot: history rows exist for every active
    // address (so the materialized table never permanently misses the
    // pre-snapshot days of a late-appearing address); snapshot balances
    // are null until the address is snapshotted. The state advance uses
    // the UNfiltered changes for the same reason.
    val w = Window.partitionBy("address").orderBy("time")
    val hist = joined
      .join(stgAddresses.select(col("address"),
        col("balance_sats"), col("balance_btc")), Seq("address"), "left")
      .select(
      col("address"), col("time"), col("transaction_hash"),
      col("value_change_sats"), col("value_change_btc"),
      col("value_change_usd"),
      (coalesce(col("cum_sats"), lit(0L)) +
        sum("value_change_sats").over(w)).as("running_balance_sats"),
      (coalesce(col("cum_btc"), lit(0.0)) +
        sum("value_change_btc").over(w)).as("running_balance_btc"),
      (coalesce(col("cum_usd"), lit(0.0)) +
        sum("value_change_usd").over(w)).as("running_balance_usd"),
      col("balance_sats").as("current_balance_sats"),
      col("balance_btc").as("current_balance_btc"))
    val dayTotals = changes.groupBy("address").agg( // UNfiltered: see above
      max("time").as("day_last"),
      sum("value_change_sats").as("day_sats"),
      sum("value_change_btc").as("day_btc"),
      sum("value_change_usd").as("day_usd"))
    // full outer: untouched addresses keep their state, new ones enter.
    // day_last (when present) is later than last_time by the gate above.
    val newState = st.join(dayTotals, Seq("address"), "full")
      .select(col("address"),
        coalesce(col("day_last"), col("last_time")).as("last_time"),
        (coalesce(col("cum_sats"), lit(0L)) +
          coalesce(col("day_sats"), lit(0L))).as("cum_sats"),
        (coalesce(col("cum_btc"), lit(0.0)) +
          coalesce(col("day_btc"), lit(0.0))).as("cum_btc"),
        (coalesce(col("cum_usd"), lit(0.0)) +
          coalesce(col("day_usd"), lit(0.0))).as("cum_usd"))
    (hist, newState)
  }

  // ===== marts (tables) =====

  /** fct_transaction_traces (models/marts/fct_transaction_traces
    * .sql:8-25): W2 trace_sequence over the flow edges. */
  def fctTransactionTraces(flows: DataFrame): DataFrame = {
    val w = Window.partitionBy("transaction_hash").orderBy("tx_time")
    flows.select(
      col("input_address").as("source_address"),
      col("output_address").as("destination_address"),
      col("transaction_hash"), col("block_id"), col("tx_time"),
      col("input_value_sats").as("transferred_value_sats"),
      col("input_value_btc").as("transferred_value_btc"),
      col("input_value_usd").as("transferred_value_usd"),
      col("fee_sats"), col("fee_btc"), col("fee_usd"),
      col("tx_type"), col("input_cdd_days"), col("block_cdd_days"),
      col("block_reward_btc"),
      row_number().over(w).as("trace_sequence"))
  }

  /** dim_addresses (models/marts/dim_addresses.sql:8-16): A1 sums + A2
    * exact distinct per address. */
  def dimAddresses(balances: DataFrame): DataFrame =
    balances.groupBy("address", "current_balance_sats",
      "current_balance_btc")
      .agg(
        sum("value_change_sats").as("lifetime_value_change_sats"),
        sum("value_change_btc").as("lifetime_value_change_btc"),
        countDistinct("transaction_hash").as("tx_count"))

  /** dim_blocks (models/marts/dim_blocks.sql:8-21). */
  def dimBlocks(stgBlocks: DataFrame): DataFrame =
    stgBlocks.select(
      col("block_id"), col("block_hash"), col("block_time"),
      col("difficulty"), col("transaction_count"),
      col("fee_total_sats"), col("fee_total_btc"), col("fee_total_usd"),
      col("reward_sats"), col("reward_btc"), col("reward_usd"),
      col("cdd_total_days"), col("guessed_miner"))
}
