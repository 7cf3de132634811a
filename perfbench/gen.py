"""Seeded input generators for the graft benchmark.

Every table has the shape of the sf0.1 star schema the engine's queries are
written against (same column names, types and value domains). The engine
only ever sees the parquet files written here; the seed fully determines
their content, so the same seed gives byte-identical inputs.
"""
import json
import os
from statistics import NormalDist

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

BOARD_SEED = 42  # the board's tables are fixed so its row counts can be pinned
WORDS = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row "
         "the agg key query a scan batch").split()
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
EVENT_TYPES = ["signup", "purchase", "view", "click", "error"]
SEGMENTS = ["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["LARGE", "MEDIUM", "ECONOMY", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["large", "hot", "blue", "old", "cold", "red", "small", "new"]
PART_NOUN = ["ring", "bolt", "plate", "gear", "widget", "rod", "anvil", "gizmo"]
EPOCH_2024_US = 1704067200 * 1_000_000
DAY_US = 86400 * 1_000_000


def _write(table, path):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)


def _days(rng, n, start, end):
    """Midnight timestamps (us) uniformly between two ISO dates."""
    lo = np.datetime64(start, "D").astype(np.int64)
    hi = np.datetime64(end, "D").astype(np.int64)
    return pa.array(rng.integers(lo, hi + 1, n) * DAY_US, pa.timestamp("us"))


def _money(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, n), 2)


def events(rng, n=100_000):
    ts = np.sort(EPOCH_2024_US + rng.integers(0, 30 * DAY_US, n))
    return pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, 1500, n, dtype=np.int64)),
        "event_type": pa.array(np.array(EVENT_TYPES)[rng.integers(0, 5, n)]),
        "value": pa.array(np.round(rng.gamma(1.0, 50.0, n), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
    })


def customer(rng, n=15_000):
    keys = np.arange(n, dtype=np.int64)
    return pa.table({
        "c_custkey": pa.array(keys),
        "c_name": pa.array([f"Customer#{k:09d}" for k in keys]),
        "c_nationkey": pa.array(rng.integers(0, 25, n, dtype=np.int32)),
        "c_acctbal": pa.array(_money(rng, n, -999.99, 9999.99)),
        "c_mktsegment": pa.array(np.array(SEGMENTS)[rng.integers(0, 5, n)]),
    })


def documents(rng, n=5000):
    texts = []
    for i in range(n):
        k = int(rng.integers(10, 101))
        texts.append(" ".join(np.array(WORDS)[rng.integers(0, len(WORDS), k)]))
    # plant near-duplicates: 5% of docs copy an earlier doc plus one token
    for j in rng.choice(np.arange(n // 10, n), n // 20, replace=False):
        texts[j] = texts[int(rng.integers(0, j))] + " dup"
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(np.array(LANGS)[rng.choice(5, n, p=LANG_P)]),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })


def embeddings(rng, n=2000, dim=64, labels=10):
    centroids = rng.normal(0, 1, (labels, dim))
    label = rng.integers(0, labels, n)
    v = centroids[label] + rng.normal(0, 1.5, (n, dim))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(label.astype(np.int32)),
    })


def star_schema(rng):
    n_part, n_supp, n_ord, n_line = 20_000, 1000, 150_000, 600_000
    pk = np.arange(n_part, dtype=np.int64)
    sk = np.arange(n_supp, dtype=np.int64)
    return {
        "region": pa.table({
            "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
            "r_name": pa.array(["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"])}),
        "nation": pa.table({
            "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
            "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5)}),
        "supplier": pa.table({
            "s_suppkey": pa.array(sk),
            "s_name": pa.array([f"Supplier#{k:09d}" for k in sk]),
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp, dtype=np.int32)),
            "s_acctbal": pa.array(_money(rng, n_supp, -999.99, 9999.99))}),
        "part": pa.table({
            "p_partkey": pa.array(pk),
            "p_name": pa.array([f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in
                                zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))]),
            "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
            "p_type": pa.array(np.array(PART_TYPES)[rng.integers(0, 6, n_part)]),
            "p_size": pa.array(rng.integers(1, 51, n_part, dtype=np.int32)),
            "p_retailprice": pa.array(900.0 + (pk % 1000) / 10.0)}),
        "orders": pa.table({
            "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
            "o_custkey": pa.array(rng.integers(0, 15_000, n_ord, dtype=np.int64)),
            "o_orderstatus": pa.array(np.array(["O", "F", "P"])[rng.integers(0, 3, n_ord)]),
            "o_totalprice": pa.array(_money(rng, n_ord, 1000.0, 500_000.0)),
            "o_orderdate": _days(rng, n_ord, "1995-01-01", "2001-08-01"),
            "o_orderpriority": pa.array(np.array(PRIORITIES)[rng.integers(0, 5, n_ord)])}),
        "lineitem": pa.table({
            "l_orderkey": pa.array(rng.integers(0, n_ord, n_line, dtype=np.int64)),
            "l_partkey": pa.array(rng.integers(0, n_part, n_line, dtype=np.int64)),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_line, dtype=np.int64)),
            "l_linenumber": pa.array(rng.integers(1, 8, n_line, dtype=np.int32)),
            "l_quantity": pa.array(rng.integers(1, 51, n_line).astype(np.float64)),
            "l_extendedprice": pa.array(_money(rng, n_line, 900.0, 105_000.0)),
            "l_discount": pa.array(rng.integers(0, 11, n_line) / 100.0),
            "l_tax": pa.array(rng.integers(0, 9, n_line) / 100.0),
            "l_returnflag": pa.array(np.array(["N", "R", "A"])[rng.integers(0, 3, n_line)]),
            "l_linestatus": pa.array(np.array(["F", "O"])[rng.integers(0, 2, n_line)]),
            "l_shipdate": _days(rng, n_line, "1995-01-02", "2001-11-04")}),
    }


def gen_board(out):
    """The full sf0.1-shaped table set the board's queries read."""
    rng = np.random.default_rng(BOARD_SEED)
    tables = star_schema(rng)
    tables["customer"] = customer(rng)
    tables["events"] = events(rng)
    tables["documents"] = documents(rng)
    tables["embeddings"] = embeddings(rng)
    for name, t in tables.items():
        _write(t, os.path.join(out, f"{name}.parquet"))
    return {"tables": sorted(tables)}


def split_uneven(rng, n_rows, n_files, block=10):
    """File index per row: a seeded hash of the row id into files of uneven
    expected size. Every run of `block` consecutive files holds the same
    size mix (lognormal quantiles, shuffled per block by the seed), so any
    seed's backlog carries the same rows per file on average."""
    mix = np.exp([0.8 * NormalDist().inv_cdf((i + 0.5) / block) for i in range(block)])
    weights = np.concatenate([rng.permutation(mix) for _ in range(-(-n_files // block))])[:n_files]
    salt = int(rng.integers(1, 2**31))
    h = (np.arange(n_rows, dtype=np.uint64) * np.uint64(0x9E3779B97F4A7C15)
         + np.uint64(salt)) * np.uint64(0xBF58476D1CE4E5B9)
    u = (h >> np.uint64(11)).astype(np.float64) / float(1 << 53)
    idx = np.searchsorted(np.cumsum(weights) / weights.sum(), u, side="right")
    idx = np.minimum(idx, n_files - 1)
    idx[:n_files] = np.arange(n_files)  # every file gets at least one row
    return idx


def gen_ingest(out, seed, n_files=400):
    """sf0.1 `events`, split into an uneven backlog of small parquet files."""
    rng = np.random.default_rng(seed)
    ev = events(rng)
    idx = split_uneven(rng, ev.num_rows, n_files)
    order = np.argsort(idx, kind="stable")
    bounds = np.searchsorted(idx[order], np.arange(n_files + 1))
    files = {}
    for f in range(n_files):
        name = f"events_{f:05d}.parquet"
        part = ev.take(pa.array(order[bounds[f]:bounds[f + 1]]))
        _write(part, os.path.join(out, "backlog", name))
        files[name] = part.num_rows
    return {"files": files, "rows": ev.num_rows}


def cdc_rounds(rng, live, next_key, rounds, per_round=300, hot_share=0.95,
               hot_width=1500):
    """Change sets for `rounds` upstream commits, one table per commit.
    At most one change per key per commit. Updates and deletes land in one
    contiguous hot key range with probability `hot_share` and uniformly
    over the live keys otherwise, so per-file key stats can prune the
    merge; inserts take fresh keys above the current maximum."""
    live = np.array(sorted(live), dtype=np.int64)
    hot_lo = int(rng.integers(0, max(1, live.max() - hot_width)))
    for r in range(1, rounds + 1):
        n_ins = per_round * 15 // 100
        n_del = per_round * 15 // 100
        n_upd = per_round - n_ins - n_del
        hot = live[(live >= hot_lo) & (live < hot_lo + hot_width)]
        n_hot = min(len(hot), int((n_upd + n_del) * hot_share))
        picked = rng.choice(hot, n_hot, replace=False)
        rest = np.setdiff1d(live, picked, assume_unique=True)
        picked = np.concatenate([picked, rng.choice(rest, n_upd + n_del - n_hot, replace=False)])
        rng.shuffle(picked)
        upd, dele = picked[:n_upd], picked[n_upd:]
        ins = np.arange(next_key, next_key + n_ins, dtype=np.int64)
        next_key += n_ins
        keys = np.concatenate([upd, dele, ins])
        kinds = ["update_postimage"] * len(upd) + ["delete"] * len(dele) + ["insert"] * len(ins)
        n = len(keys)
        deleted = np.arange(n) >= len(upd)
        deleted[len(upd) + len(dele):] = False
        bal = _money(rng, n, -999.99, 9999.99)
        changes = pa.table({
            "c_custkey": pa.array(keys),
            "c_name": pa.array([None if d else f"Customer#{k:09d}" for k, d in zip(keys, deleted)],
                               pa.string()),
            "c_nationkey": pa.array(np.where(deleted, 0, rng.integers(0, 25, n)).astype(np.int32),
                                    mask=deleted),
            "c_acctbal": pa.array(bal, mask=deleted),
            "c_mktsegment": pa.array(
                [None if d else SEGMENTS[s] for s, d in zip(rng.integers(0, 5, n), deleted)],
                pa.string()),
            "_change_type": pa.array(kinds),
            "_commit_version": pa.array(np.full(n, r, dtype=np.int64)),
        })
        live = np.union1d(np.setdiff1d(live, dele, assume_unique=True), ins)
        yield changes


def gen_cdc(out, seed, rounds=120):
    """sf0.1 `customer` as the upstream seed plus one change file per
    upstream commit."""
    rng = np.random.default_rng(seed)
    cust = customer(rng)
    _write(cust, os.path.join(out, "customer.parquet"))
    counts = {}
    keys = cust.column("c_custkey").to_numpy()
    for r, ch in enumerate(cdc_rounds(rng, keys, int(keys.max()) + 1, rounds), 1):
        name = f"round_{r:05d}.parquet"
        _write(ch, os.path.join(out, "changes", name))
        counts[name] = ch.num_rows
    return {"rows": cust.num_rows, "rounds": counts}


def generate(workload, out, seed):
    if workload == "ingest":
        manifest = gen_ingest(out, seed)
    elif workload == "cdc":
        manifest = gen_cdc(out, seed)
    elif workload == "board":
        manifest = gen_board(out)
    else:
        raise ValueError(f"unknown workload {workload}")
    with open(os.path.join(out, "manifest.json"), "w") as f:
        json.dump(manifest, f)
    return manifest
