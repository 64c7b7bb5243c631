"""Seeded input generators for the benchmark.

Two families of inputs, both a pure function of (seed, size):

* cashback extracts: daily batches of reference-shaped `rewards` and
  `transactions` CSVs (FIXTURES.md A1/A2 columns, header row, empty field
  for null). A seeded set of each batch after the first re-delivers
  rewards an earlier batch already carried, so the idempotent load has
  work to skip.
* a TPC-H-ish star schema plus `events`, `documents` and `embeddings`,
  with the column names, parquet types and value shapes of the engine's
  test tables, so every declared query and its DuckDB oracle run on it.

Same seed, same bytes: every value comes from one numpy PCG64 stream per
table, CSV text is written with fixed formatting, and parquet files carry
no wall-clock metadata.
"""
import csv
import io
import os
import uuid

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# ------------------------------------------------------------ cashback --

REWARD_COLS = [
    "id", "user_id", "amount", "rebate_rate", "type", "reference_type",
    "reference_id", "available", "reason", "base_rate", "staking_rate",
    "subscription_plan", "exchange_rate_id", "fiat_amount_rewarded",
    "approved_by", "createdAt", "updatedAt", "contis_transaction",
    "fiat_transaction"]
TRANSACTION_COLS = [
    "id", "model", "user_id", "currency", "amount", "date", "type",
    "is_debit", "description", "__typename"]

# enum names mixed with bare numeric codes, as in the reference extract
TX_TYPES = ["CARD_SETTLEMENT", "CARD_REFUND", "DEPOSIT_FUNDS_RECEIVED",
            "CARD_AUTHORISATION", "FX_CONVERSION", "DIRECT_DEBIT",
            "ATM_WITHDRAWAL", "TRANSFER_OUT", "TRANSFER_IN", "CASHBACK",
            "31", "29", "35", "45", "5", "0"]
MERCHANTS = ["CRV*PIZZA HUT AIPC HIG", "TESCO STORES 2041", "AMAZON.CO.UK*MK3",
             "Domino's Pizza", "UBER *TRIP", "PRET A MANGER", "SPOTIFY P0D2",
             "TFL TRAVEL CH", "Afas Live\\Johan", "SAINSBURYS S/MKTS",
             "NETFLIX.COM", "DELIVEROO", "CAFE NERO", "STEAMGAMES.COM 4259"]
REFERENCE_TYPES = ["contis_transactions", "fiat_transactions",
                   "contis_transactions_partial", "fiat_transactions_partial",
                   "perk_netflix_reward", "perk_spotify_reward",
                   "perk_amazon_reward", "manual_reward", "referring_reward"]
REASONS = ["Automated approval. Trx below 500",
           "Automated approval after 45 days", "Rejected by admin",
           "Approved by admin", "Pending review", "Refunded"]
PLANS = ["premium", "everyday", "standard"]


def _uuids(rng, n):
    raw = rng.bytes(16 * n)
    return [str(uuid.UUID(bytes=raw[16 * i:16 * i + 16], version=4))
            for i in range(n)]


def _pick(rng, values, n, p=None):
    return np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)]


def _times(epoch_us, unit):
    return np.datetime_as_string(np.asarray(epoch_us, "datetime64[us]"), unit=unit)


def _csv_bytes(header, columns):
    buf = io.StringIO()
    w = csv.writer(buf, lineterminator="\n")
    w.writerow(header)
    w.writerows(zip(*columns))
    return buf.getvalue().encode("utf-8")


def _transactions(rng, n, user, day0):
    """Column lists for `n` transactions of one day, plus (id, signed
    pence, description) per row for the rewards that reference them."""
    ids = _uuids(rng, n)
    amount = rng.integers(1, 25000, n) * np.where(rng.random(n) < 0.8, -1, 1)
    at = (day0 * 1000000 + rng.integers(0, 86400 * 1000000, n))
    desc = np.where(rng.random(n) < 0.27, "", _pick(rng, MERCHANTS, n))
    cols = [ids, _pick(rng, ["ContisTransaction", "FiatTransaction"], n, [0.53, 0.47]),
            [user] * n, ["GBP"] * n, [str(a) for a in amount],
            [t.replace("T", " ") + "+00:00" for t in _times(at, "us")],
            _pick(rng, TX_TYPES, n), _pick(rng, ["", "True", "False"], n, [0.47, 0.43, 0.10]),
            desc, ["transactions_view"] * n]
    return cols, list(zip(ids, amount.tolist(), desc))


def _rewards(rng, n, user, day0, txs):
    """Reward rows for one day; ~0.4% reference no transaction, the rest a
    random transaction of the same day."""
    ids = _uuids(rng, n)
    ref = rng.integers(0, len(txs), n)
    orphan = rng.random(n) < 0.004
    rate = rng.choice([0, 3, 4, 5], n)
    plu = rng.integers(1, 30000000, n) / 1e8
    created = day0 * 1000000 + rng.integers(0, 86400, n) * 1000000 \
        + rng.integers(0, 1000, n) * 1000
    updated = created - created % 1000000 + rng.integers(0, 86400 * 45, n) * 1000000
    ref_type = _pick(rng, REFERENCE_TYPES, n)
    payload = rng.random(n) < 0.9
    settled = rng.random(n) < 0.5
    mcc = rng.integers(1000, 9999, n)
    kind = _pick(rng, ["DAILY_REBATE_DISTRIBUTION", "REBATE_BONUS"], n, [0.996, 0.004])
    available = np.where(rng.random(n) < 0.7, "True", "False")
    reason = np.where(rng.random(n) < 0.033, "", _pick(rng, REASONS, n))
    base_rate = rng.choice([0, 3], n)
    staking_rate = rng.choice([0, 2, 3], n)
    plan = np.where(rng.random(n) < 0.2, "", _pick(rng, PLANS, n))
    rate_id = np.where(rng.random(n) < 0.1, "", _uuids(rng, n))
    no_fiat = rng.random(n) < 0.004
    created_at = [t + "Z" for t in _times(created, "ms")]
    updated_at = [t + "Z" for t in _times(updated, "ms")]
    rows = []
    for i in range(n):
        tx_id, amount, desc = (None, 0, "") if orphan[i] else txs[ref[i]]
        contis = fiat_tx = ""
        if payload[i] and ref_type[i].startswith("contis"):
            contis = repr({"id": tx_id or "", "description": desc or None,
                           "amount": amount, "settled": bool(settled[i])})
        elif payload[i] and ref_type[i].startswith("fiat"):
            fiat_tx = repr({"id": tx_id or "", "clean_description": desc or None,
                            "mcc": str(mcc[i]),
                            "merchantIcon": "https://icons.example/m.png",
                            "card_transactions": {"api_response": {
                                "TransactionAmount": str(amount)}}})
        fiat = "" if no_fiat[i] else f"{float(abs(amount) * rate[i] // 100)}"
        rows.append([ids[i], user, f"{plu[i]:.8f}", str(rate[i]), kind[i],
                     ref_type[i], tx_id or "", available[i], reason[i],
                     str(base_rate[i]), str(staking_rate[i]), plan[i], rate_id[i],
                     fiat, "", created_at[i], updated_at[i], contis, fiat_tx])
    return rows


def cashback_batches(seed, n_batches, rewards_per_batch, tx_per_batch,
                     redeliver_share=0.2):
    """Returns [(rewards_csv_bytes, transactions_csv_bytes, n_rewards,
    new_ids)] for `n_batches` consecutive days. Batch 0 is all new; in
    every later batch `redeliver_share` of the rewards are exact copies of
    rewards from earlier batches (seeded choice), the rest are new."""
    rng = np.random.Generator(np.random.PCG64([seed, 1]))
    user = _uuids(rng, 1)[0]
    delivered = []  # reward rows already sent, in order
    out = []
    for b in range(n_batches):
        day0 = 1640995200 + 86400 * b  # 2022-01-01 + b days
        tx_cols, txs = _transactions(rng, tx_per_batch, user, day0)
        n_old = 0 if b == 0 else int(round(rewards_per_batch * redeliver_share))
        picks = sorted(rng.choice(len(delivered), n_old, replace=False)) if n_old else []
        new_rows = _rewards(rng, rewards_per_batch - n_old, user, day0, txs)
        rows = [delivered[i] for i in picks] + new_rows
        rows = [rows[i] for i in rng.permutation(len(rows))]
        delivered += new_rows
        out.append((_csv_bytes(REWARD_COLS, list(zip(*rows))),
                    _csv_bytes(TRANSACTION_COLS, tx_cols),
                    len(rows), len(new_rows)))
    return out


def write_cashback(dirpath, seed, n_batches, rewards_per_batch, tx_per_batch,
                   redeliver_share=0.2):
    """Writes batch_<i>/rewards.csv and batch_<i>/transactions.csv and
    returns one manifest entry per batch."""
    batches = []
    for i, (rw, tx, n, new) in enumerate(cashback_batches(
            seed, n_batches, rewards_per_batch, tx_per_batch, redeliver_share)):
        d = os.path.join(dirpath, f"batch_{i:02d}")
        os.makedirs(d, exist_ok=True)
        for name, data in (("rewards.csv", rw), ("transactions.csv", tx)):
            with open(os.path.join(d, name), "wb") as f:
                f.write(data)
        batches.append({"rewards": os.path.join(d, "rewards.csv"),
                        "transactions": os.path.join(d, "transactions.csv"),
                        "rows": n, "new_ids": new})
    return batches


# ------------------------------------------------------------- queries --

WORDS = ["a", "agg", "batch", "big", "column", "customer", "data", "fast",
         "filter", "group", "hash", "join", "key", "line", "merge", "order",
         "part", "query", "row", "scan", "slow", "small", "sort", "spark",
         "stream", "table", "the", "value", "vector", "window"]
LANGS = ["en", "fr", "zh", "de", "es"]
LANG_P = [0.41, 0.15, 0.15, 0.14, 0.15]
COLORS = ["red", "blue", "green", "small", "new", "hot", "cold", "old",
          "big", "dark", "pale", "shiny", "dull"]
NOUNS = ["bolt", "anvil", "ring", "rod", "plate"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PTYPES = ["ECONOMY", "SMALL", "STANDARD", "LARGE", "MEDIUM", "PROMO"]
PRIOS = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
DAY_US = 86400 * 1000000


def _days(rng, start, end, n):
    lo = np.datetime64(start, "D").astype("int64")
    hi = np.datetime64(end, "D").astype("int64")
    return rng.integers(lo, hi + 1, n) * DAY_US


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _table_rng(seed, tag):
    return np.random.Generator(np.random.PCG64([seed, 2, tag]))


def star_schema(seed, sf, n_docs, n_vecs):
    """TPC-H-ish tables at scale factor `sf` (lineitem = 6M x sf rows),
    plus `n_docs` documents and `n_vecs` 64-d embeddings. Returns
    {table name: pyarrow.Table}."""
    n_cust, n_supp = int(150000 * sf), max(10, int(10000 * sf))
    n_part, n_ord = int(200000 * sf), int(1500000 * sf)
    n_line, n_ev = int(6000000 * sf), int(1000000 * sf)
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})

    r = _table_rng(seed, 1)
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(r.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(r, -999.99, 9999.99, n_cust),
        "c_mktsegment": pa.array(np.array(SEGMENTS)[r.integers(0, 5, n_cust)])})
    r = _table_rng(seed, 2)
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(r.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(r, -999.99, 9999.99, n_supp)})
    r = _table_rng(seed, 3)
    names = np.array([f"{c} {n}" for c in COLORS for n in NOUNS])
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": pa.array(names[r.integers(0, len(names), n_part)]),
        "p_brand": pa.array(np.array([f"Brand#{i}" for i in range(1, 26)])
                            [r.integers(0, 25, n_part)]),
        "p_type": pa.array(np.array(PTYPES)[r.integers(0, 6, n_part)]),
        "p_size": pa.array(r.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10, 1)})
    r = _table_rng(seed, 4)
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(r.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": pa.array(np.array(["F", "O", "P"])[r.integers(0, 3, n_ord)]),
        "o_totalprice": _money(r, 1000, 500000, n_ord),
        "o_orderdate": pa.array(_days(r, "1995-01-01", "2001-08-01", n_ord),
                                pa.timestamp("us")),
        "o_orderpriority": pa.array(np.array(PRIOS)[r.integers(0, 5, n_ord)])})
    r = _table_rng(seed, 5)
    qty = r.integers(1, 51, n_line).astype("float64")
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(r.integers(0, n_ord, n_line), pa.int64()),
        "l_partkey": pa.array(r.integers(0, n_part, n_line), pa.int64()),
        "l_suppkey": pa.array(r.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(r.integers(1, 8, n_line), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * r.uniform(900, 2100, n_line), 2),
        "l_discount": r.integers(0, 11, n_line) / 100,
        "l_tax": r.integers(0, 9, n_line) / 100,
        "l_returnflag": pa.array(np.array(["A", "N", "R"])[r.integers(0, 3, n_line)]),
        "l_linestatus": pa.array(np.array(["F", "O"])[r.integers(0, 2, n_line)]),
        "l_shipdate": pa.array(_days(r, "1995-01-02", "2001-11-04", n_line),
                               pa.timestamp("us"))})
    r = _table_rng(seed, 6)
    ts0 = np.datetime64("2024-01-01", "us").astype("int64")
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": pa.array(np.sort(ts0 + r.integers(0, 30 * DAY_US, n_ev)),
                       pa.timestamp("us")),
        "user_id": pa.array(r.integers(0, max(100, int(15000 * sf)), n_ev), pa.int64()),
        "event_type": pa.array(np.array(EVENT_TYPES)[r.integers(0, 5, n_ev)]),
        "value": np.round(r.exponential(50.0, n_ev), 2),
        "props": pa.array([f'{{"k": {k}}}' for k in r.integers(0, 100, n_ev)])})

    # documents: 10-99 words over a 30-word vocabulary; 5% are planted
    # near-duplicates (another document's text plus the token "dup")
    r = _table_rng(seed, 7)
    words = np.array(WORDS)
    texts = [" ".join(words[r.integers(0, len(WORDS), r.integers(10, 100))])
             for _ in range(n_docs)]
    dups = r.choice(n_docs, size=n_docs // 20, replace=False)
    originals = np.setdiff1d(np.arange(n_docs), dups)
    for d in dups:
        texts[d] = texts[originals[r.integers(len(originals))]] + " dup"
    t["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": texts,
        "lang": pa.array(np.array(LANGS)[r.choice(5, n_docs, p=LANG_P)]),
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": pa.array([len(x) for x in texts], pa.int64())})

    # embeddings: unit vectors scattered around ten label centroids
    r = _table_rng(seed, 8)
    labels = r.integers(0, 10, n_vecs)
    centroids = r.normal(0, 1, (10, 64))
    vecs = centroids[labels] + r.normal(0, 1.2, (n_vecs, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype("float32")
    t["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_vecs), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())})
    return t


def write_star_schema(dirpath, seed, sf, n_docs, n_vecs):
    os.makedirs(dirpath, exist_ok=True)
    for name, table in star_schema(seed, sf, n_docs, n_vecs).items():
        # one row group per table, as in the engine's test tables
        pq.write_table(table, os.path.join(dirpath, f"{name}.parquet"),
                       compression="snappy", row_group_size=1 << 30)
