"""Seeded fixture generator for the benchmark.

Writes the engine's ten input tables (region, nation, customer, supplier,
part, orders, lineitem, events, documents, embeddings) as one parquet file
each, with the schemas the engine pins in `graft.Tables`, and the raw-zone
snapshot arrivals of the etl workload. The same seed always gives the same
rows; nothing here reads outside the output directory.

Shapes follow the engine's reference fixtures: a TPC-H-like star schema,
an `events` stream spread over 30 days, word-soup `documents` over a
30-word vocabulary with 5% near-duplicates (a perturbed copy of an earlier
document ending in "dup"), and unit-norm 64-dim `embeddings`.
"""
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("scan column window order sort part agg value line key join merge "
         "group query a vector hash slow stream filter fast the batch spark "
         "table small data big customer row").split()
LANGS = ["en", "fr", "es", "zh", "de"]
LANG_P = [0.39, 0.16, 0.16, 0.15, 0.14]
EVENT_TYPES = ["signup", "click", "error", "view", "purchase"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
DAY_US = 86_400_000_000


def _us(date: str) -> int:
    return int(np.datetime64(date, "us").astype(np.int64))


def _dates(rng, n, lo, hi):
    days = (_us(hi) - _us(lo)) // DAY_US
    us = _us(lo) + rng.integers(0, days + 1, n) * DAY_US
    return pa.array(us, pa.timestamp("us"))


def _money(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, n), 2)


def _write(out, name, table):
    pq.write_table(table, os.path.join(out, f"{name}.parquet"))


def star_tables(rng, sf):
    n_cust, n_supp = int(150_000 * sf), int(10_000 * sf)
    n_part, n_ord, n_li = int(200_000 * sf), int(1_500_000 * sf), int(6_000_000 * sf)
    pick = lambda xs, n: pa.array(np.array(xs, dtype=object)[rng.integers(0, len(xs), n)])
    yield "region", pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    yield "nation", pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    yield "customer", pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, n_cust, -999.99, 9999.99),
        "c_mktsegment": pick(SEGMENTS, n_cust)})
    yield "supplier", pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, n_supp, -999.99, 9999.99)})
    names = [f"{a} {b}" for a in ADJ for b in NOUN]
    yield "part", pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": pick(names, n_part),
        "p_brand": pick([f"Brand#{i}" for i in range(1, 26)], n_part),
        "p_type": pick(PTYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 1)})
    yield "orders", pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": pick(["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, n_ord, 1000.0, 500_000.0),
        "o_orderdate": _dates(rng, n_ord, "1995-01-01", "2001-08-01"),
        "o_orderpriority": pick(PRIORITIES, n_ord)})
    yield "lineitem", pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(rng, n_li, 900.0, 105_000.0),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": pick(["A", "N", "R"], n_li),
        "l_linestatus": pick(["F", "O"], n_li),
        "l_shipdate": _dates(rng, n_li, "1995-01-02", "2001-11-04")})


def events_table(rng, n, n_users):
    """`events`: n events of n_users users over 30 days, in time order."""
    start = _us("2024-01-01")
    props = np.array([f'{{"k": {k}}}' for k in range(100)], dtype=object)
    return pa.table({
        "event_id": pa.array(np.arange(n), pa.int64()),
        "ts": pa.array(np.sort(start + rng.integers(0, 30 * DAY_US, n)), pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, n), pa.int64()),
        "event_type": pa.array(np.array(EVENT_TYPES, dtype=object)[rng.integers(0, 5, n)],
                               pa.string()),
        "value": np.round(rng.uniform(0.0, 500.0, n), 2),
        "props": pa.array(props[rng.integers(0, 100, n)], pa.string())})


def base_texts(rng, n):
    vocab = np.array(VOCAB, dtype=object)
    texts = []
    for i in range(n):
        if i >= 20 and rng.random() < 0.05:
            words = texts[rng.integers(0, i)].split(" ")
            words = [w for w in words if w != "dup"]
            flip = rng.random(len(words)) < 0.1
            words = [vocab[rng.integers(0, len(vocab))] if f else w
                     for w, f in zip(words, flip)] + ["dup"]
        else:
            words = list(vocab[rng.integers(0, len(vocab), rng.integers(10, 100))])
        texts.append(" ".join(words))
    return texts


def documents_table(rng, n):
    texts = base_texts(rng, n)
    langs = np.array(LANGS, dtype=object)[rng.choice(5, n, p=LANG_P)]
    out = {"doc_id": list(range(n)), "text": texts, "lang": list(langs),
           "source": [f"src{i % 20}" for i in range(n)],
           "n_chars": [len(t) for t in texts]}
    return pa.table(out, schema=pa.schema([
        ("doc_id", pa.int64()), ("text", pa.string()), ("lang", pa.string()),
        ("source", pa.string()), ("n_chars", pa.int64())]))


def embeddings_table(rng, n):
    v = rng.standard_normal((n, 64))
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    emb = pa.FixedSizeListArray.from_arrays(pa.array(v.astype(np.float32).ravel()), 64)
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": emb.cast(pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n), pa.int32())})


def tables(out, seed, sf, docs, vecs, events_sf=None):
    """All ten tables for one fixture directory `out`; events at
    `events_sf` (default `sf`)."""
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng(seed)
    for name, t in star_tables(rng, sf):
        _write(out, name, t)
    esf = sf if events_sf is None else events_sf
    _write(out, "events", events_table(rng, int(1_000_000 * esf), max(15, int(15_000 * esf))))
    _write(out, "documents", documents_table(rng, docs))
    _write(out, "embeddings", embeddings_table(rng, vecs))


def arrivals(out, seed, events, count, page=100):
    """`count` snapshot arrivals of the etl workload, staged under `out`.

    The reference extracts by paging through every run of every repo on
    each run and archives the whole listing (SURVEY.md section 0,
    `main.py:90-141`), so arrival i is a full re-extraction: every run
    id known so far, plus the runs created since the previous one. The
    reference does not say how often it runs; the extraction is assumed
    daily, so each arrival brings one day of new runs at the fixture's own
    rate (`events` spreads its rows evenly over 30 days: len(events) / 30).
    A re-extracted run keeps its latest fields, except the runs created in
    the previous interval, which were still in progress then and now come
    back with a new value. Before arrival 0 that is the last day of
    `events` (ids grow with `ts`); the two built snapshots already hold the
    rest, the second re-extracting every third id at value + 1000.

    `events` is the `events` table (event_id, user_id, event_type, value);
    its type is the raw zone's `repo`. Each arrival is laid out like the
    raw zone it lands in,
    `out/<i>/repo=<type>/extracted_at=<stamp>/part-00000.txt`, one page of
    at most `page` runs per JSON line, and its rows are also returned as a
    table for the independent latest-per-key check.
    """
    rng = np.random.default_rng(seed + 7919)
    ids0 = np.asarray(events.column("event_id"))
    assert (ids0 == np.arange(len(ids0))).all(), "event ids must be 0..n-1"
    types = np.asarray(events.column("event_type").to_pylist(), dtype=object)
    users = np.asarray(events.column("user_id"))
    vals = np.where(ids0 % 3 == 0, np.asarray(events.column("value")) + 1000.0,
                    np.asarray(events.column("value")))
    new_per = max(1, len(ids0) // 30)
    in_progress = np.arange(len(ids0) - new_per, len(ids0))
    rows = []
    for i in range(count):
        stamp = f"202402{i + 1:02d}-000000Z"
        vals[in_progress] = np.round(rng.uniform(0.0, 2000.0, len(in_progress)), 2)
        fresh = np.arange(len(types), len(types) + new_per)
        types = np.concatenate([types, np.array(EVENT_TYPES, dtype=object)[
            rng.integers(0, 5, new_per)]])
        users = np.concatenate([users, rng.integers(0, 100_000, new_per)])
        vals = np.concatenate([vals, np.round(rng.uniform(0.0, 2000.0, new_per), 2)])
        in_progress = fresh
        ids = np.arange(len(types))
        for t in EVENT_TYPES:
            sel = np.nonzero(types == t)[0]
            d = os.path.join(out, str(i), f"repo={t}", f"extracted_at={stamp}")
            os.makedirs(d)
            lines = []
            for p in range(0, len(sel), page):
                runs = [{"id": int(j), "type": t, "value": float(vals[j]),
                         "user": {"id": int(users[j])}} for j in sel[p:p + page]]
                lines.append(json.dumps({"workflow_runs": runs}))
            with open(os.path.join(d, "part-00000.txt"), "w") as f:
                f.write("".join(ln + "\n" for ln in lines))
        rows.append(pa.table({
            "id": pa.array(ids, pa.int64()), "user_id": pa.array(users, pa.int64()),
            "event_type": pa.array(types, pa.string()), "value": vals.copy(),
            "extracted_at": [stamp] * len(ids)}))
    return pa.concat_tables(rows)
