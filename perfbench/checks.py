"""Correctness checks of one benchmark run.

Each workload's outputs are compared with what is known independently of
the program: the generator's ledger, DuckDB over the same files, or both.
`run` returns a list of problems; an empty list means every check passed.
"""
import collections
import math

import duckdb

import gen


def _con():
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    con.execute("SET threads=2")
    return con


def run(workload, facts, ledger, dumps):
    check = {"daily_etl": check_daily,
             "dashboard_serve": check_dashboard}[workload]
    try:
        return check(facts, ledger, dumps)
    except KeyError as e:  # the run failed before recording this fact
        return [f"the run recorded no {e.args[0]}"]


# ---------------------------------------------------------------- daily_etl

def check_daily(facts, led, dumps):
    bad = []
    for t in gen.ALL_TYPES:
        if facts["landed_rows"][t] != led.rows[t]:
            bad.append(f"{t} rows landed {facts['landed_rows'][t]} != "
                       f"generated {led.rows[t]}")
        if facts["staging_drops"][t] != led.nulls[t]:
            bad.append(f"{t} staging drops {facts['staging_drops'][t]} != "
                       f"null-key rows {led.nulls[t]}")
    if facts["flow_edges"] != led.flows:
        bad.append(f"flow edges {facts['flow_edges']} != {led.flows}")
    for name in facts["rebuild_differs"]:
        bad.append(f"{name}: the day-by-day build differs from a one-shot "
                   f"rebuild")
    con = _con()
    state = dict(con.execute(
        f"SELECT address, cum_sats FROM '{facts['state_dir']}/*.parquet'")
        .fetchall())
    if state != led.net:
        diff = [a for a in set(state) | set(led.net)
                if state.get(a) != led.net.get(a)]
        bad.append(f"balance state differs from the ledger for {len(diff)} "
                   f"addresses, e.g. {diff[:3]}")
    if sum(state.values()) != sum(led.net.values()):
        bad.append("balance state does not conserve the ledger's total")
    bad += check_e2e_oracle(con, dumps, facts["traces_dir"])
    return bad


def check_e2e_oracle(con, dumps, traces_dir):
    """The `pipeline_e2e_trace_mart` oracle shape over the generated TSVs:
    the dbt DAG in DuckDB SQL, compared as a row multiset with the trace
    mart the day-by-day build wrote."""
    def src(kind, types):
        spec = ",".join(f"'{k}':'{v}'" for k, v in types.items())
        return (f"read_csv('{dumps}/*_{kind}_*.tsv.gz', delim='\\t', "
                f"header=true, quote='', escape='', types={{{spec}}})")
    oracle = f"""
      WITH blocks_raw AS (SELECT * FROM {src('blocks', {
          'id': 'BIGINT', 'time': 'TIMESTAMP', 'cdd_total': 'DOUBLE',
          'reward': 'BIGINT'})}),
      tx_raw AS (SELECT * FROM {src('transactions', {
          'block_id': 'BIGINT', 'hash': 'VARCHAR', 'fee': 'BIGINT',
          'fee_usd': 'DOUBLE'})}),
      inputs_raw AS (SELECT * FROM {src('inputs', {
          'block_id': 'BIGINT', 'transaction_hash': 'VARCHAR',
          'value': 'BIGINT', 'value_usd': 'DOUBLE', 'recipient': 'VARCHAR',
          'is_from_coinbase': 'BIGINT', 'cdd': 'DOUBLE'})}),
      outputs_raw AS (SELECT * FROM {src('outputs', {
          'block_id': 'BIGINT', 'transaction_hash': 'VARCHAR',
          'recipient': 'VARCHAR'})}),
      stg_blocks AS (
        SELECT id AS block_id, time AS block_time,
          cdd_total AS block_cdd_days,
          CAST(reward AS DOUBLE) / CAST(100000000 AS DOUBLE)
            AS block_reward_btc
        FROM blocks_raw WHERE id IS NOT NULL),
      stg_tx AS (
        SELECT block_id, hash AS transaction_hash, fee AS fee_sats,
          CAST(fee AS DOUBLE) / CAST(100000000 AS DOUBLE) AS fee_btc, fee_usd
        FROM tx_raw WHERE hash IS NOT NULL),
      stg_inputs AS (
        SELECT transaction_hash, block_id, recipient AS input_address,
          value AS input_value_sats,
          CAST(value AS DOUBLE) / CAST(100000000 AS DOUBLE) AS input_value_btc,
          value_usd AS input_value_usd, cdd AS input_cdd_days,
          is_from_coinbase
        FROM inputs_raw WHERE transaction_hash IS NOT NULL),
      stg_outputs AS (
        SELECT transaction_hash, block_id, recipient AS output_address
        FROM outputs_raw WHERE transaction_hash IS NOT NULL)
      SELECT i.input_address AS source_address,
        o.output_address AS destination_address,
        t.transaction_hash, t.block_id, b.block_time AS tx_time,
        i.input_value_sats AS transferred_value_sats,
        i.input_value_btc AS transferred_value_btc,
        i.input_value_usd AS transferred_value_usd,
        t.fee_sats, t.fee_btc, t.fee_usd,
        CASE WHEN i.is_from_coinbase = 1 THEN 'coinbase'
             ELSE 'standard' END AS tx_type,
        i.input_cdd_days, b.block_cdd_days, b.block_reward_btc
      FROM stg_tx t
      LEFT JOIN stg_blocks b USING (block_id)
      LEFT JOIN stg_inputs i USING (transaction_hash, block_id)
      LEFT JOIN stg_outputs o USING (transaction_hash, block_id)"""
    cols = ("source_address, destination_address, transaction_hash, "
            "block_id, CAST(tx_time AS TIMESTAMP), transferred_value_sats, "
            "transferred_value_btc, transferred_value_usd, fee_sats, fee_btc, "
            "fee_usd, tx_type, input_cdd_days, block_cdd_days, "
            "block_reward_btc")
    mart = f"SELECT {cols} FROM '{traces_dir}/*/*.parquet'"
    want = f"SELECT {cols} FROM ({oracle})"
    a = con.execute(f"SELECT count(*) FROM ({mart} EXCEPT ALL {want})") \
        .fetchone()[0]
    b = con.execute(f"SELECT count(*) FROM ({want} EXCEPT ALL {mart})") \
        .fetchone()[0]
    n = con.execute(f"SELECT count(*) FROM ({want})").fetchone()[0]
    if a or b or n == 0:
        return [f"trace mart vs the e2e DuckDB oracle over the TSVs: "
                f"{a} extra rows, {b} missing rows of {n}"]
    return []


# ---------------------------------------------------------- dashboard_serve

def _close(x, y):
    return x == y or (x is not None and y is not None and
                      math.isclose(x, y, rel_tol=1e-9, abs_tol=1e-12))


def check_dashboard(facts, led, dumps):
    bad = []
    marts = facts["marts_dir"]
    con = _con()
    con.execute(f"CREATE VIEW traces AS SELECT * FROM "
                f"'{marts}/fct_transaction_traces/*.parquet'")
    con.execute(f"CREATE VIEW balances AS SELECT * FROM "
                f"'{marts}/int_address_balances_with_history/*.parquet'")
    richest = min(led.balance.items(), key=lambda kv: (-kv[1], kv[0]))
    active = min(led.source_edges.items(), key=lambda kv: (-kv[1], kv[0]))
    for ans in facts["answers"]:
        k, rows = ans["kind"], ans["rows"]
        lo, hi = ans["from"], ans["to"]
        if k == "total_transactions":
            want = len({h for (t, h, _, _) in led.txs if lo <= t <= hi})
            ok = rows == [[want]]
        elif k == "avg_fee":
            paid = [(f, e) for (t, _, f, e) in led.txs
                    if lo <= t <= hi and f > 0]
            want = sum(f / 1e8 * e for f, e in paid) / \
                sum(e for _, e in paid) if paid else 0.0
            ok = len(rows) == 1 and _close(rows[0][0], want)
        elif k == "richest_address":
            ok = rows == [[richest[0], richest[1] / 1e8]]
            want = richest
        elif k == "most_active_source":
            ok = rows == [list(active)]
            want = active
        elif k == "block_metrics":
            want = [[t * 1000, n, f / 1e8, r / 1e8]
                    for (_, t, n, f, r) in led.blocks if lo <= t <= hi][:1000]
            ok = rows == want
        elif k == "balance_trend":
            want = con.execute(
                "SELECT epoch_ms(CAST(time AS TIMESTAMP)), running_balance_btc "
                "FROM balances WHERE address = ? AND CAST(time AS TIMESTAMP) "
                "BETWEEN make_timestamp(?::BIGINT * 1000000) AND "
                "make_timestamp(?::BIGINT * 1000000) ORDER BY 1 LIMIT 1000",
                [ans["addr"], lo, hi]).fetchall()
            ok = sorted(map(tuple, rows)) == sorted(want)
        elif k == "trace":
            ok, want = check_trace(con, ans)
        else:
            ok, want = False, "unknown request kind"
        if not ok:
            bad.append(f"{k} {ans['addr']} {lo}..{hi} hops={ans['hops']}: "
                       f"got {str(rows)[:300]}, expected {str(want)[:300]}")
    if not facts["answers"]:
        bad.append("no dashboard answers were recorded")
    return bad


def check_trace(con, ans):
    """The fund trace: path semantics of app.py's recursive CTE (one row
    per path, ordered by hop, tx_time, hash, destination, LIMIT 1000).
    Expected rows come from a path-count expansion over the edges in the
    window; where the number of paths is small, DuckDB's recursive CTE
    gives the same answer directly."""
    lo, hi, hops, addr = ans["from"], ans["to"], ans["hops"], ans["addr"]
    edges = con.execute(
        "SELECT source_address, destination_address, transaction_hash, "
        "block_id, epoch_ms(CAST(tx_time AS TIMESTAMP)), transferred_value_btc "
        "FROM traces WHERE CAST(tx_time AS TIMESTAMP) BETWEEN "
        "make_timestamp(?::BIGINT * 1000000) AND "
        "make_timestamp(?::BIGINT * 1000000) AND source_address IS NOT NULL "
        "AND destination_address IS NOT NULL", [lo, hi]).fetchall()
    by_src = collections.defaultdict(list)
    for e in edges:
        by_src[e[0]].append(e)
    weighted, frontier = [], {addr: 1}
    for h in range(1, hops + 1):
        nxt = collections.Counter()
        for src, n in frontier.items():
            for e in by_src.get(src, ()):
                weighted.append(((h, e[4], e[2], e[1]), (h, *e), n))
                nxt[e[1]] += n
        frontier = nxt
    weighted.sort(key=lambda x: x[0])
    want = []
    for _, row, n in weighted:
        want += [list(row)] * min(n, 1000 - len(want))
        if len(want) >= 1000:
            break
    got = [[r[0], r[1], r[2], r[3], r[4], r[5], r[6]] for r in ans["rows"]]
    total_paths = sum(n for _, _, n in weighted)
    if total_paths <= 20000:
        cte = con.execute("""
          WITH RECURSIVE trace_path AS (
            SELECT 1 AS hop, source_address, destination_address,
              transaction_hash, block_id, tx_time, transferred_value_btc
            FROM traces
            WHERE source_address = ? AND destination_address IS NOT NULL
              AND CAST(tx_time AS TIMESTAMP) BETWEEN
                make_timestamp(?::BIGINT * 1000000) AND
                make_timestamp(?::BIGINT * 1000000)
            UNION ALL
            SELECT tp.hop + 1, t.source_address, t.destination_address,
              t.transaction_hash, t.block_id, t.tx_time,
              t.transferred_value_btc
            FROM trace_path tp JOIN traces t
              ON tp.destination_address = t.source_address
            WHERE tp.hop < ? AND t.destination_address IS NOT NULL
              AND CAST(t.tx_time AS TIMESTAMP) BETWEEN
                make_timestamp(?::BIGINT * 1000000) AND
                make_timestamp(?::BIGINT * 1000000))
          SELECT hop, source_address, destination_address, transaction_hash,
            block_id, epoch_ms(CAST(tx_time AS TIMESTAMP)),
            transferred_value_btc
          FROM trace_path
          ORDER BY hop, tx_time, transaction_hash, destination_address
          LIMIT 1000""", [addr, lo, hi, hops, lo, hi]).fetchall()
        if not _same_page(cte, want):
            return False, f"recursive CTE disagrees with the path expansion"
    return _same_page(got, want), want


def _same_page(got, want):
    """Equal as an ordered page, up to the order of rows that tie on the
    sort key; the rows of the last key group are compared by key only,
    since LIMIT may cut that group anywhere."""
    key = lambda r: (r[0], r[5], r[3], r[2])  # hop, tx_time, hash, dest
    got, want = [list(r) for r in got], [list(r) for r in want]
    if [key(r) for r in got] != [key(r) for r in want]:
        return False
    if not want:
        return True
    last = key(want[-1])
    full = len(want) >= 1000
    body = lambda rows: sorted(tuple(r) for r in rows
                               if not (full and key(r) == last))
    return body(got) == body(want)
