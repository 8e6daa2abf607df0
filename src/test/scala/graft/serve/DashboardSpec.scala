package graft.serve

import graft.{Fixtures, SparkSpec}
import graft.models.Pipeline
import java.nio.file.Files
import java.sql.Timestamp

class DashboardSpec extends SparkSpec {

  private lazy val bld = {
    val d = Files.createTempDirectory("graft-dash")
    Fixtures.writeAll(d)
    Pipeline.readRaw(spark, d.toString)
  }
  private val from = Timestamp.valueOf("2025-08-20 00:00:00")
  private val to = Timestamp.valueOf("2025-08-20 23:59:59")

  test("A3: total transactions (distinct within window)") {
    val n = Dashboard.totalTransactions(bld.fctTransactionTraces, from, to)
      .collect()(0).getLong(0)
    assert(n == 3)
  }

  test("A4: avg fee excludes zero fees, coalesces empty to 0") {
    val v = Dashboard.avgFee(bld.fctTransactionTraces, from, to)
      .collect()(0).getDouble(0)
    // nonzero fees: t2 edges (0.121 btc ×4) and t3 (0.01 btc) → avg of
    // the five nonzero edge rows
    assert(math.abs(v - (0.121 * 4 + 0.01) / 5) < 1e-9)
    // empty window → 0.0, not null
    val empty = Dashboard.avgFee(bld.fctTransactionTraces,
      Timestamp.valueOf("1990-01-01 00:00:00"),
      Timestamp.valueOf("1990-01-02 00:00:00")).collect()(0).getDouble(0)
    assert(empty == 0.0)
  }

  test("O1: richest address") {
    val r = Dashboard.richestAddress(bld.dimAddresses).collect()(0)
    assert(r.getAs[String]("address") == "addrC")
  }

  test("A5: most-active source address") {
    val r = Dashboard.mostActiveSource(bld.fctTransactionTraces)
      .collect()(0)
    // addrA and addrB each have 2 edges; tie broken by address asc
    assert(r.getAs[String]("source_address") == "addrA")
    assert(r.getAs[Long]("n") == 2)
  }

  test("balance trend readout is windowed, ordered, limited") {
    val r = Dashboard.balanceTrend(bld.intAddressBalances, "addrC",
      from, to).collect()
    assert(r.length == 2)
    assert(r(0).getAs[Double]("running_balance_btc") == 30000.0)
  }

  test("block metrics readout") {
    val r = Dashboard.blockMetrics(bld.dimBlocks, from, to).collect()
    assert(r.length == 2)
    assert(r(0).getAs[Long]("transaction_count") == 2)
  }

  test("F7: address validation regex (app.py:99-102)") {
    assert(Dashboard.isValidAddress("1A1zP1eP5QGefi2DMPTfTL5SLmv7DivfNa"))
    assert(Dashboard.isValidAddress("3J98t1WpEZ73CNmQviecrnyiWrnqRhWNLy"))
    assert(Dashboard.isValidAddress("bc1qar0srrr7xfkvy5l643lydnw9re59gtzzwf5mdq"))
    assert(!Dashboard.isValidAddress("addrA"))
    assert(!Dashboard.isValidAddress("0xdeadbeef"))
  }

  test("M5: retry retries with backoff then succeeds") {
    var calls = 0
    val waits = scala.collection.mutable.ArrayBuffer.empty[Long]
    val out = Dashboard.retry(attempts = 3, baseWaitMs = 4,
      sleep = waits.append(_)) {
      calls += 1
      if (calls < 3) throw new RuntimeException("transient")
      "ok"
    }
    assert(out == "ok" && calls == 3)
    assert(waits.toSeq == Seq(4L, 8L))
    // exhausted attempts rethrow
    assertThrows[RuntimeException] {
      Dashboard.retry(attempts = 2, baseWaitMs = 1, sleep = _ => ()) {
        throw new RuntimeException("always")
      }
    }
  }

  test("M6: result cache memoizes within TTL and expires after") {
    var clock = 0L
    val cache = new Dashboard.ResultCache[String, Int](ttlMillis = 100,
      now = () => clock)
    var computes = 0
    def get(): Int = cache.getOrCompute("k") { computes += 1; computes }
    assert(get() == 1 && get() == 1 && computes == 1)
    clock = 150
    assert(get() == 2 && computes == 2)
  }

  test("M6: storing a result evicts every expired entry, not only its " +
    "own key") {
    var clock = 0L
    val cache = new Dashboard.ResultCache[String, Int](ttlMillis = 100,
      now = () => clock)
    for (i <- 1 to 5) cache.getOrCompute(s"w$i")(i)
    assert(cache.size == 5)
    clock = 60
    cache.getOrCompute("fresh")(6)
    assert(cache.size == 6, "nothing has expired yet")
    // w1..w5 are 100 ms old (expired), `fresh` 40 ms (kept)
    clock = 100
    assert(cache.getOrCompute("next")(7) == 7)
    assert(cache.size == 2)
    assert(cache.getOrCompute("fresh")(-1) == 6, "a live entry survives")
    assert(cache.getOrCompute("w1")(-1) == -1, "an evicted key recomputes")
  }
}
