package graft.serve

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import java.sql.Timestamp
import scala.collection.concurrent.TrieMap
import scala.util.{Failure, Success, Try}

/** The six dashboard queries (reference: transaction_tracing/app.py) as a
  * serving API over the mart tables, plus the serving-edge behaviors:
  * M5 retry-with-backoff (app.py:180) and M6 result memoization
  * (app.py:181, st.cache_data ttl=600).
  */
object Dashboard {

  /** A3 — "Total Transactions": filtered global COUNT(DISTINCT)
    * (app.py:289-293). */
  def totalTransactions(traces: DataFrame, from: Timestamp,
      to: Timestamp): DataFrame =
    traces.filter(col("tx_time").between(lit(from), lit(to)))
      .agg(countDistinct("transaction_hash").as("total_transactions"))

  /** A4 — average nonzero fee with null guard (app.py:304-308:
    * COALESCE(AVG(NULLIF(fee_btc,0)),0)). */
  def avgFee(traces: DataFrame, from: Timestamp, to: Timestamp): DataFrame =
    traces.filter(col("tx_time").between(lit(from), lit(to)))
      .agg(coalesce(avg(nullif(col("fee_btc"), lit(0.0))), lit(0.0))
        .as("avg_fee_btc"))

  /** O1 — richest address (app.py:319-324). */
  def richestAddress(dimAddresses: DataFrame): DataFrame =
    dimAddresses.orderBy(desc("current_balance_btc"), asc("address"))
      .limit(1)
      .select("address", "current_balance_btc")

  /** A5 — most-active source address (app.py:239-246). */
  def mostActiveSource(traces: DataFrame): DataFrame =
    traces.filter(col("source_address").isNotNull)
      .groupBy("source_address").agg(count(lit(1)).as("n"))
      .orderBy(desc("n"), asc("source_address")).limit(1)

  /** Balance trend readout (app.py:451-461): per-address running balance
    * over a window, ordered, LIMIT 1000. */
  def balanceTrend(balances: DataFrame, address: String, from: Timestamp,
      to: Timestamp): DataFrame =
    balances.filter(col("address") === address)
      .filter(col("time").between(lit(from), lit(to)))
      .select(col("time"), col("running_balance_btc"))
      .orderBy(col("time")).limit(1000)

  /** Block metrics (app.py:488-499): time-range filter + sort + LIMIT. */
  def blockMetrics(dimBlocks: DataFrame, from: Timestamp,
      to: Timestamp): DataFrame =
    dimBlocks.filter(col("block_time").between(lit(from), lit(to)))
      .select(col("block_time"), col("transaction_count"),
        col("fee_total_btc"), col("reward_btc"))
      .orderBy(col("block_time")).limit(1000)

  /** F7 — Bitcoin address validation (app.py:99-102). */
  private val AddressPattern =
    "^(1[a-zA-Z0-9]{25,34}|3[a-zA-Z0-9]{25,34}|bc1[a-zA-Z0-9]{11,71})$".r
  def isValidAddress(addr: String): Boolean =
    AddressPattern.matches(addr)

  /** M5 — retry with exponential backoff (3 attempts, 4–10 s envelope in
    * the reference; the waits are injectable for tests). */
  def retry[T](attempts: Int = 3, baseWaitMs: Long = 4000,
      sleep: Long => Unit = Thread.sleep)(body: => T): T = {
    var last: Throwable = null
    var wait = baseWaitMs
    for (i <- 1 to attempts) {
      Try(body) match {
        case Success(v) => return v
        case Failure(e) =>
          last = e
          if (i < attempts) { sleep(wait); wait = math.min(wait * 2, 10000) }
      }
    }
    throw last
  }

  /** M6 — (key → result) memo with TTL, the st.cache_data analog. Callers
    * collect bounded results (all dashboard queries are LIMITed). Storing
    * a result drops every expired entry, as `st.cache_data(ttl=...)` does,
    * so a long-lived session whose keys rarely repeat (request windows)
    * holds only the last TTL's worth of results. */
  final class ResultCache[K, V](ttlMillis: Long,
      now: () => Long = () => System.currentTimeMillis()) {
    private val store = TrieMap.empty[K, (Long, V)]
    def getOrCompute(key: K)(compute: => V): V = {
      store.get(key) match {
        case Some((t, v)) if now() - t < ttlMillis => v
        case _ =>
          val v = compute
          val t = now()
          store.foreach { case (k, e) =>
            if (t - e._1 >= ttlMillis) store.remove(k, e) }
          store.put(key, (t, v))
          v
      }
    }
    def size: Int = store.size
  }
}
