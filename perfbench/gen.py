"""Seeded generator of blockchair-shaped daily dumps.

Writes `blockchair_bitcoin_{type}_{YYYYMMDD}.tsv.gz` for blocks,
transactions, inputs and outputs, plus an addresses snapshot per day, with
the columns of the reference DDL (`graft.schema.BlockchairSchemas`, in
that order). The rows form a real UTXO graph: every input spends an output
created in an earlier block (an earlier day's, or a pre-history output that
is not in any dump) and no output is spent twice. Each block has one
coinbase transaction; coinbase outputs mature after 100 blocks. Recipient
addresses follow a Zipf law, so a few hub addresses carry much of the
traffic. Block totals exceed 2^31 satoshi. A small share of rows carries a
null key (the rows staging must drop). Signature and witness hex have the
widths of real P2PKH and P2WPKH spends, so parse cost follows bytes.

The same seed gives byte-identical files (gzip mtime and name are fixed).
`generate` returns a ledger of what the files hold: row and null-key counts
per type and day, the expected flow-edge count, and per-address net
changes and balances. The benchmark checks the program's outputs against it.

Conventions follow the repository's fixtures: an input row's
`transaction_hash`/`block_id` name the spending transaction, and its
`spending_*` columns name the output it spends.
"""
import datetime
import gzip
import hashlib
import itertools
import os
import random

COIN = "bitcoin"
START = datetime.date(2025, 8, 20)
BLOCKS_PER_DAY = 144
FIRST_HEIGHT = 910000
REWARD = 312_500_000
MATURITY = 100
NULL_KEY_SHARE = 0.003

HEADERS = {
    "blocks": "id hash time median_time size stripped_size weight version "
              "version_hex version_bits merkle_root nonce bits difficulty "
              "chainwork coinbase_data_hex transaction_count witness_count "
              "input_count output_count input_total input_total_usd "
              "output_total output_total_usd fee_total fee_total_usd "
              "fee_per_kb fee_per_kb_usd fee_per_kwu fee_per_kwu_usd "
              "cdd_total generation generation_usd reward reward_usd "
              "guessed_miner",
    "transactions": "block_id hash time size weight version lock_time "
                    "is_coinbase has_witness input_count output_count "
                    "input_total input_total_usd output_total "
                    "output_total_usd fee fee_usd fee_per_kb fee_per_kb_usd "
                    "fee_per_kwu fee_per_kwu_usd cdd_total",
    "inputs": "block_id transaction_hash index time value value_usd "
              "recipient type script_hex is_from_coinbase is_spendable "
              "spending_block_id spending_transaction_hash spending_index "
              "spending_time spending_value_usd spending_sequence "
              "spending_signature_hex spending_witness lifespan cdd",
    "outputs": "block_id transaction_hash index time value value_usd "
               "recipient type script_hex is_from_coinbase is_spendable",
    "addresses": "address balance",
}
HEADERS = {k: "\t".join(v.split()) for k, v in HEADERS.items()}
TYPES = ["blocks", "transactions", "inputs", "outputs"]
ALL_TYPES = TYPES + ["addresses"]
KEY_COL = {"blocks": "id", "transactions": "hash",
           "inputs": "transaction_hash", "outputs": "transaction_hash",
           "addresses": "address"}

B58 = "123456789ABCDEFGHJKLMNPQRSTUVWXYZabcdefghijkmnopqrstuvwxyz"
BECH = "qpzry9x8gf2tvdw0s3jn54khce6mua7l"
MINERS = ["Foundry USA", "AntPool", "ViaBTC", "F2Pool", "MARA Pool",
          "SpiderPool", "Luxor", "Binance Pool"]


def file_name(kind, date):
    return f"blockchair_{COIN}_{kind}_{date.strftime('%Y%m%d')}.tsv.gz"


def day_date(day):
    return START + datetime.timedelta(days=day)


def ts(sec):
    return datetime.datetime.fromtimestamp(sec, datetime.timezone.utc) \
        .strftime("%Y-%m-%d %H:%M:%S")


def usd(sats, price):
    return repr(round(sats / 1e8 * price, 2))


class _Hex:
    """Deterministic hex strings from the seeded stream."""

    def __init__(self, rng):
        self.rng = rng

    def __call__(self, nbytes):
        return self.rng.getrandbits(nbytes * 8).to_bytes(nbytes, "big").hex()


def _address(rng, kind):
    if kind == "p2pkh":
        return "1" + "".join(rng.choices(B58, k=33))
    if kind == "p2sh":
        return "3" + "".join(rng.choices(B58, k=33))
    return "bc1q" + "".join(rng.choices(BECH, k=38))


class Output:
    __slots__ = ("tx", "index", "block_id", "time", "value", "address",
                 "kind", "coinbase", "usd")

    def __init__(self, tx, index, block_id, time, value, address, kind,
                 coinbase, usd_value):
        self.tx, self.index, self.block_id, self.time = tx, index, block_id, time
        self.value, self.address, self.kind = value, address, kind
        self.coinbase, self.usd = coinbase, usd_value


class Ledger:
    """What the generated dumps hold, by construction."""

    def __init__(self, days):
        self.days = days
        self.rows = {t: [0] * days for t in ALL_TYPES}
        self.nulls = {t: [0] * days for t in ALL_TYPES}
        self.flows = [0] * days
        self.net = {}            # address -> net satoshi change in the dumps
        self.balance = {}        # address -> balance after the last day
        self.blocks = []         # (block_id, time, tx_count, fee_total, reward)
        self.txs = []            # (time, hash, fee_sats, edges)
        self.source_edges = {}   # input address -> trace rows it sources
        self.prehistory = {}     # (tx, index) -> value of pre-dump outputs
        self.pool = []           # addresses in the dumps, by Zipf rank
        self.span = (0, 0)       # first and last second of the dumped days

    def credit(self, address, sats):
        self.net[address] = self.net.get(address, 0) + sats


def generate(out_dir, seed, days, tx_per_day):
    """Write `days` days of dumps into `out_dir`; return the Ledger."""
    rng = random.Random(seed)
    hexs = _Hex(rng)
    os.makedirs(out_dir, exist_ok=True)
    led = Ledger(days)
    hash_ctr = itertools.count()

    def new_hash():
        return hashlib.sha256(f"{seed}:{next(hash_ctr)}".encode()).hexdigest()

    # Zipf address pool: rank r is drawn with weight 1 / r^1.1
    pool_size = max(1000, tx_per_day * 3)
    kinds = rng.choices(["p2pkh", "p2sh", "p2wpkh"], weights=[4, 2, 4],
                        k=pool_size)
    pool = [(_address(rng, k), k) for k in kinds]
    cum, acc = [], 0.0
    for r in range(pool_size):
        acc += 1.0 / (r + 1) ** 1.1
        cum.append(acc)

    def draw_addresses(n):
        return rng.choices(pool, cum_weights=cum, k=n)

    def script(kind):
        return {"p2pkh": "76a914" + hexs(20) + "88ac",
                "p2sh": "a914" + hexs(20) + "87",
                "p2wpkh": "0014" + hexs(20)}[kind]

    balance = {}
    seen = set()

    def own(o, sign):
        balance[o.address] = balance.get(o.address, 0) + sign * o.value

    # pre-history: unspent outputs created before the first dumped day
    epoch0 = int(datetime.datetime(START.year, START.month, START.day,
                                   tzinfo=datetime.timezone.utc).timestamp())
    utxo = []
    for (addr, kind) in draw_addresses(tx_per_day * 3):
        o = Output(new_hash(), rng.randrange(4), FIRST_HEIGHT - 1 -
                   rng.randrange(50000), epoch0 - rng.randrange(1, 3 * 10**7),
                   int(rng.lognormvariate(15.5, 2.2)) + 1000, addr, kind,
                   0, 0.0)
        led.prehistory[(o.tx, o.index)] = o.value
        own(o, +1)
        utxo.append(o)
    maturing = []  # (spendable from block number, Output)

    def take_utxo():
        i = rng.randrange(len(utxo))
        o = utxo[i]
        utxo[i] = utxo[-1]
        utxo.pop()
        return o

    for day in range(days):
        date = day_date(day)
        price = round(110000 + 2000 * day + rng.uniform(-500, 500), 2)
        rows = {t: [] for t in ALL_TYPES}
        day_start = epoch0 + day * 86400
        for b in range(BLOCKS_PER_DAY):
            bno = day * BLOCKS_PER_DAY + b
            height = FIRST_HEIGHT + bno
            btime = day_start + b * 600 + rng.randrange(600)
            while maturing and maturing[0][0] <= bno:
                utxo.append(maturing.pop(0)[1])
            created = []
            n_tx = max(1, int(rng.gauss(tx_per_day / BLOCKS_PER_DAY,
                                        tx_per_day / BLOCKS_PER_DAY / 4)))
            blk = dict(inputs=0, outputs=0, in_total=0, out_total=0, fees=0,
                       size=0, weight=0, cdd=0.0, witness=0)
            tx_rows = []
            # regular transactions first; the coinbase needs their fees
            for _ in range(n_tx - 1):
                if len(utxo) < 8:
                    break
                n_in = 1
                while rng.random() < 0.6 and n_in < 20:
                    n_in += 1
                n_out = 1
                while rng.random() < 0.63 and n_out < 30:
                    n_out += 1
                spent = [take_utxo() for _ in range(n_in)]
                h = new_hash()
                total_in = sum(o.value for o in spent)
                vsize = 11 + 68 * n_in + 31 * n_out
                fee = 0 if rng.random() < 0.02 else \
                    int(vsize * rng.lognormvariate(1.6, 0.7))
                fee = min(fee, total_in - 546 * n_out) if \
                    total_in > 546 * n_out + fee else 0
                pay = total_in - fee
                n_out = max(1, min(n_out, pay // 546))
                cuts = sorted(rng.randrange(1, pay) for _ in range(n_out - 1)) \
                    if pay > n_out else []
                values = [e - s for s, e in zip([0] + cuts, cuts + [pay])]
                values = [v for v in values if v > 0] or [pay]
                n_out = len(values)
                outs = draw_addresses(n_out)
                if rng.random() < 0.3:  # change back to a spending address
                    outs[-1] = (spent[0].address, spent[0].kind)
                witness = any(o.kind == "p2wpkh" for o in spent)
                size = vsize + (108 * n_in if witness else 0)
                weight = vsize * 4
                cdd_total = 0.0
                for i, o in enumerate(spent):
                    lifespan = btime - o.time
                    cdd = round(lifespan / 86400 * o.value / 1e8, 6)
                    cdd_total += cdd
                    if o.kind == "p2wpkh":
                        sig, wit = "", hexs(72) + "," + hexs(33)
                    else:
                        sig, wit = "47" + hexs(71) + "21" + hexs(33), ""
                    rows["inputs"].append("\t".join(map(str, (
                        height, h, i, ts(btime), o.value, usd(o.value, price),
                        o.address, o.kind, script(o.kind), o.coinbase, 1,
                        o.block_id, o.tx, o.index, ts(o.time),
                        repr(o.usd), 4294967295, sig, wit, lifespan,
                        repr(cdd)))))
                    led.credit(o.address, -o.value)
                    led.source_edges[o.address] = \
                        led.source_edges.get(o.address, 0) + n_out
                    own(o, -1)
                    seen.add(o.address)
                for i, (v, (addr, kind)) in enumerate(zip(values, outs)):
                    o = Output(h, i, height, btime, v, addr, kind, 0,
                               round(v / 1e8 * price, 2))
                    rows["outputs"].append("\t".join(map(str, (
                        height, h, i, ts(btime), v, usd(v, price), addr, kind,
                        script(kind), 0, 1))))
                    created.append(o)
                    led.credit(addr, v)
                    own(o, +1)
                    seen.add(addr)
                fee_kb = round(fee / vsize * 1000, 3)
                fee_kwu = round(fee / weight * 1000, 3)
                tx_rows.append("\t".join(map(str, (
                    height, h, ts(btime), size, weight, 2, 0, 0,
                    int(witness), n_in, n_out, total_in, usd(total_in, price),
                    pay, usd(pay, price), fee, usd(fee, price), fee_kb,
                    round(fee_kb / 1e8 * price, 4), fee_kwu,
                    round(fee_kwu / 1e8 * price, 4), round(cdd_total, 6)))))
                led.txs.append((btime, h, fee, n_in * n_out))
                led.flows[day] += n_in * n_out
                blk["inputs"] += n_in
                blk["outputs"] += n_out
                blk["in_total"] += total_in
                blk["out_total"] += pay
                blk["fees"] += fee
                blk["size"] += size
                blk["weight"] += weight
                blk["cdd"] += cdd_total
                blk["witness"] += int(witness)
            # the coinbase: one input without a recipient, 1-2 outputs
            h = new_hash()
            reward = REWARD + blk["fees"]
            miner = rng.randrange(len(MINERS))
            payees = draw_addresses(1 + (rng.random() < 0.3))
            split = [reward] if len(payees) == 1 else \
                [reward - reward // 50, reward // 50]
            rows["inputs"].append("\t".join(map(str, (
                height, h, 0, ts(btime), 0, "0.0", "", "coinbase",
                "03" + hexs(40), 1, 0, "", "", "", "", "", "", "", "", 0,
                "0.0"))))
            for i, (v, (addr, kind)) in enumerate(zip(split, payees)):
                o = Output(h, i, height, btime, v, addr, kind, 1,
                           round(v / 1e8 * price, 2))
                rows["outputs"].append("\t".join(map(str, (
                    height, h, i, ts(btime), v, usd(v, price), addr, kind,
                    script(kind), 1, 1))))
                maturing.append((bno + MATURITY, o))
                led.credit(addr, v)
                own(o, +1)
                seen.add(addr)
            tx_rows.insert(0, "\t".join(map(str, (
                height, h, ts(btime), 250, 1000, 2, 0, 1, 1, 1, len(split),
                0, "0.0", reward, usd(reward, price), 0, "0.0", 0.0, 0.0,
                0.0, 0.0, 0.0))))
            led.txs.append((btime, h, 0, len(split)))
            led.flows[day] += len(split)
            rows["transactions"].extend(tx_rows)
            n_tx = len(tx_rows)
            fee_kb = round(blk["fees"] / max(1, blk["size"]) * 1000, 3)
            fee_kwu = round(blk["fees"] / max(1, blk["weight"]) * 1000, 3)
            rows["blocks"].append("\t".join(map(str, (
                height, hexs(32), ts(btime), ts(btime - 1800),
                blk["size"] + 250, blk["size"] + 200, blk["weight"] + 1000,
                536870912, "20000000", "0" * 29 + "1", hexs(32),
                rng.getrandbits(32), 386021892, 129697438529603, hexs(32),
                "03" + hexs(60), n_tx, blk["witness"] + 1,
                blk["inputs"] + 1, blk["outputs"] + len(split),
                blk["in_total"], usd(blk["in_total"], price),
                blk["out_total"] + reward,
                usd(blk["out_total"] + reward, price), blk["fees"],
                usd(blk["fees"], price), fee_kb,
                round(fee_kb / 1e8 * price, 4), fee_kwu,
                round(fee_kwu / 1e8 * price, 4), round(blk["cdd"], 6),
                REWARD, usd(REWARD, price), reward, usd(reward, price),
                MINERS[miner]))))
            led.blocks.append((height, btime, n_tx, blk["fees"], reward))
            utxo.extend(created)
        # a small share of null-key rows per table: staging must drop them
        for t in TYPES:
            n_null = max(1, int(len(rows[t]) * NULL_KEY_SHARE))
            cols = HEADERS[t].split("\t")
            key = cols.index(KEY_COL[t])
            for _ in range(n_null):
                donor = rows[t][rng.randrange(len(rows[t]))].split("\t")
                donor[key] = ""
                rows[t].insert(rng.randrange(len(rows[t]) + 1),
                               "\t".join(donor))
            led.nulls[t][day] = n_null
        # addresses snapshot: every address seen so far, balance at day end
        rows["addresses"] = [f"{a}\t{balance[a]}" for a in sorted(seen)]
        n_null = max(1, int(len(rows["addresses"]) * NULL_KEY_SHARE))
        rows["addresses"].extend(f"\t{rng.randrange(10**9)}"
                                 for _ in range(n_null))
        led.nulls["addresses"][day] = n_null
        for t in ALL_TYPES:
            led.rows[t][day] = len(rows[t])
            write_tsv_gz(os.path.join(out_dir, file_name(t, date)),
                         HEADERS[t], rows[t])
    led.balance = {a: balance[a] for a in seen}
    led.pool = [a for a, _ in pool if a in seen]
    led.span = (epoch0, epoch0 + days * 86400 - 1)
    return led


def write_request_inputs(out_dir, led):
    """The address pool in Zipf rank order and the time span of the data,
    from which the dashboard client draws its requests."""
    with open(os.path.join(out_dir, "pool.txt"), "w") as f:
        f.write("\n".join(led.pool) + "\n")
    with open(os.path.join(out_dir, "span.txt"), "w") as f:
        f.write(f"{led.span[0]}\n{led.span[1]}\n")


def write_tsv_gz(path, header, rows):
    data = (header + "\n" + "\n".join(rows) + "\n").encode()
    with open(path, "wb") as f:
        with gzip.GzipFile(filename="", mode="wb", fileobj=f, mtime=0,
                           compresslevel=6) as gz:
            gz.write(data)
