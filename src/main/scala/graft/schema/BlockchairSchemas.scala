package graft.schema

import org.apache.spark.sql.types._

/** Authoritative schemas for the five raw blockchair tables
  * (reference: sql/ddl/create_blocks_raw.sql:1-38,
  * create_transactions_raw.sql:1-24, create_inputs_raw.sql:1-23,
  * create_outputs_raw.sql:1-13, create_addresses.sql:1-4).
  *
  * Snowflake INTEGER ≡ NUMBER(38,0); satoshi totals routinely exceed 2³¹,
  * so every count/sats column is LongType (SURVEY.md §1.2). Boolean-ish
  * columns (IS_COINBASE …) stay 0/1 LongType for parity. VARCHAR tier
  * lengths are carried as column metadata: the reference DDL's declared
  * lengths, advisory and never enforced at runtime (Snowflake
  * semantics).
  */
object BlockchairSchemas {

  private val TierKey = "graft.varchar.tier"

  def varchar(name: String, tier: Int, nullable: Boolean = true): StructField =
    StructField(name, StringType, nullable,
      new MetadataBuilder().putLong(TierKey, tier.toLong).build())

  def long(name: String): StructField = StructField(name, LongType)
  def dbl(name: String): StructField = StructField(name, DoubleType)
  def ts(name: String): StructField = StructField(name, TimestampType)

  /** blocks_raw — 37 cols (create_blocks_raw.sql:1-38). */
  val blocks: StructType = StructType(Seq(
    long("id"), varchar("hash", 64), ts("time"), ts("median_time"),
    long("size"), long("stripped_size"), long("weight"), long("version"),
    varchar("version_hex", 16), varchar("version_bits", 32),
    varchar("merkle_root", 64), long("nonce"), long("bits"),
    long("difficulty"), varchar("chainwork", 64),
    varchar("coinbase_data_hex", 256), long("transaction_count"),
    long("witness_count"), long("input_count"), long("output_count"),
    long("input_total"), dbl("input_total_usd"), long("output_total"),
    dbl("output_total_usd"), long("fee_total"), dbl("fee_total_usd"),
    dbl("fee_per_kb"), dbl("fee_per_kb_usd"), dbl("fee_per_kwu"),
    dbl("fee_per_kwu_usd"), dbl("cdd_total"), long("generation"),
    dbl("generation_usd"), long("reward"), dbl("reward_usd"),
    varchar("guessed_miner", 64)))

  /** transactions_raw — 22 cols (create_transactions_raw.sql:1-24). */
  val transactions: StructType = StructType(Seq(
    long("block_id"), varchar("hash", 64), ts("time"), long("size"),
    long("weight"), long("version"), long("lock_time"), long("is_coinbase"),
    long("has_witness"), long("input_count"), long("output_count"),
    long("input_total"), dbl("input_total_usd"), long("output_total"),
    dbl("output_total_usd"), long("fee"), dbl("fee_usd"),
    dbl("fee_per_kb"), dbl("fee_per_kb_usd"), dbl("fee_per_kwu"),
    dbl("fee_per_kwu_usd"), dbl("cdd_total")))

  /** inputs_raw — 21 cols incl. spending_* (create_inputs_raw.sql:1-23). */
  val inputs: StructType = StructType(Seq(
    long("block_id"), varchar("transaction_hash", 64), long("index"),
    ts("time"), long("value"), dbl("value_usd"), varchar("recipient", 128),
    varchar("type", 32), varchar("script_hex", 16384),
    long("is_from_coinbase"), long("is_spendable"),
    long("spending_block_id"), varchar("spending_transaction_hash", 64),
    long("spending_index"), ts("spending_time"), dbl("spending_value_usd"),
    long("spending_sequence"), varchar("spending_signature_hex", 16384),
    varchar("spending_witness", 262144), long("lifespan"), dbl("cdd")))

  /** outputs_raw — 11 cols (create_outputs_raw.sql:1-13). */
  val outputs: StructType = StructType(Seq(
    long("block_id"), varchar("transaction_hash", 64), long("index"),
    ts("time"), long("value"), dbl("value_usd"), varchar("recipient", 128),
    varchar("type", 32), varchar("script_hex", 16384),
    long("is_from_coinbase"), long("is_spendable")))

  /** address_raw — 2 cols (create_addresses.sql:1-4). */
  val addresses: StructType = StructType(Seq(
    varchar("address", 128), long("balance")))

  val all: Map[String, StructType] = Map(
    "blocks" -> blocks, "transactions" -> transactions,
    "inputs" -> inputs, "outputs" -> outputs, "addresses" -> addresses)
}
