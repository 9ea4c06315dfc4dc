"""Seeded inputs for the benchmark workloads, written as parquet.

Every table is drawn from numpy's PCG64 generator keyed by (seed, table), so
a seed always renders the same rows. Schemas are the ones `graft.Tables`
reads: money with two decimals, naive (TIMESTAMP_NTZ) microsecond
timestamps, so the engine's DuckDB oracle twins compare hash-for-hash.

The benchmark may read nothing outside its checkout, so it cannot load the
sf0.1 tables the engine's tests use. It renders tables of the same sizes
and shapes instead; the shape statistics of the sf0.1 tables that each
generator matches are listed in its docstring (and in README.md).
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
PART_ADJECTIVES = ["blue", "cold", "hot", "large", "new", "old", "red",
                   "small"]
PART_NOUNS = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod",
              "widget"]
VOCABULARY = ["a", "agg", "batch", "big", "column", "customer", "data", "fast",
              "filter", "group", "hash", "join", "key", "line", "merge",
              "order", "part", "query", "row", "scan", "slow", "small", "sort",
              "spark", "stream", "table", "the", "value", "vector", "window"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.41, 0.1475, 0.1475, 0.1475, 0.1475]
TABLE_SALT = {"region": 1, "nation": 2, "customer": 3, "supplier": 4,
              "part": 5, "orders": 6, "lineitem": 7, "events": 8,
              "staging": 9, "corpus": 10, "serves": 11}
US_PER_DAY = 86400 * 1_000_000
EPOCH_1995 = np.datetime64("1995-01-01T00:00:00", "us")
EVENTS_START = np.datetime64("2024-01-01T00:00:00", "us")
FIRST_ANCHOR = np.datetime64("2024-03-01T00:00:00", "us")


def rng(seed, table):
    return np.random.Generator(np.random.PCG64([seed, TABLE_SALT[table]]))


def money(r, lo, span, n):
    return np.round(lo + r.random(n) * span, 2)


def choose(r, values, n, p=None):
    return np.array(values, dtype=object)[
        r.choice(len(values), n, p=p) if p else r.integers(0, len(values), n)]


def write(table, path):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)


def sized(n, sf):
    return max(1, round(n * sf / 0.1))


def unit_vectors(r, n, dim):
    v = r.standard_normal((n, dim))
    return (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)


def analytics(out, seed, sf, tables):
    """The TPC-H-shaped tables plus `events` named in `tables`.

    Matches the sf0.1 tables: 150k orders (keys 0..n-1, dates uniform over
    1995-01-01 + 0..2404 days, total price uniform 1000..500000, status and
    priority uniform); 600k lineitems whose order key is uniform over the
    orders, so lines per order are Poisson(4) and about 1.8% of orders have
    none, line numbers uniform 1..7, ship dates uniform over 1995-01-01 +
    1..2499 days and independent of the order date; 64 part names (8
    adjectives x 8 nouns); 100k events over 30 days with exponential gaps
    in id order, 1,500 users, exponential `value` with mean 50 and 100
    distinct `props`. Every other column is uniform over its range."""
    n_cust, n_supp, n_part = sized(15000, sf), sized(1000, sf), sized(20000, sf)
    n_ord, n_ev, n_users = sized(150000, sf), sized(100000, sf), sized(1500, sf)

    def put(name, cols):
        if name in tables:
            write(pa.table(cols), f"{out}/{name}.parquet/part-0.parquet")

    put("region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    put("nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    r = rng(seed, "customer")
    put("customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": r.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": money(r, -999.99, 10999.98, n_cust),
        "c_mktsegment": choose(r, SEGMENTS, n_cust)})
    r = rng(seed, "supplier")
    put("supplier", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": r.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": money(r, -999.99, 10999.98, n_supp)})
    r = rng(seed, "part")
    adj, noun = choose(r, PART_ADJECTIVES, n_part), choose(r, PART_NOUNS, n_part)
    put("part", {
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [f"{a} {b}" for a, b in zip(adj, noun)],
        "p_brand": [f"Brand#{b}" for b in r.integers(1, 26, n_part)],
        "p_type": choose(r, PART_TYPES, n_part),
        "p_size": r.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10,
                                  2)})
    r = rng(seed, "orders")
    put("orders", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": r.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": choose(r, ["F", "O", "P"], n_ord),
        "o_totalprice": money(r, 1000.0, 499000.0, n_ord),
        "o_orderdate": EPOCH_1995 + r.integers(0, 2405, n_ord) * US_PER_DAY,
        "o_orderpriority": choose(r, PRIORITIES, n_ord)})
    r = rng(seed, "lineitem")
    n_li = 4 * n_ord
    put("lineitem", {
        "l_orderkey": r.integers(0, n_ord, n_li).astype(np.int64),
        "l_partkey": r.integers(0, n_part, n_li).astype(np.int64),
        "l_suppkey": r.integers(0, n_supp, n_li).astype(np.int64),
        "l_linenumber": r.integers(1, 8, n_li).astype(np.int32),
        "l_quantity": r.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": money(r, 900.0, 104100.0, n_li),
        "l_discount": r.integers(0, 11, n_li) / 100,
        "l_tax": r.integers(0, 9, n_li) / 100,
        "l_returnflag": choose(r, ["A", "N", "R"], n_li),
        "l_linestatus": choose(r, ["F", "O"], n_li),
        "l_shipdate": EPOCH_1995 + r.integers(1, 2500, n_li) * US_PER_DAY})
    r = rng(seed, "events")
    span_us = 30 * US_PER_DAY
    gaps = r.exponential(span_us / n_ev, n_ev)
    offs = np.minimum(np.cumsum(gaps), span_us - 1).astype(np.int64)
    put("events", {
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": EVENTS_START + offs,
        "user_id": r.integers(0, n_users, n_ev).astype(np.int64),
        "event_type": choose(r, EVENT_TYPES, n_ev),
        "value": np.round(r.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in r.integers(0, 100, n_ev)]})


def staging(out, seed, days):
    """Raw jobs-board rows rendered from sf0.1-sized `orders` with the
    engine's own formulas: the salary text of `e2_clean_salary` and the
    update and deadline texts of `e4_calculate_dates`, keyed by the order
    key; the location of `f4_like_vietnamese`, keyed by the customer key;
    the title of `e1_clean_title` for a seeded part. The seed slices the
    orders into the days of the scrape calendar; a row's scrape time `ts`
    falls in the 24 hours before its day's anchor (midnight closing the
    day). Written partitioned by day, with the anchors in
    `anchors.parquet`."""
    analytics(out, seed, 0.1, ("orders", "part"))
    orders = pq.read_table(f"{out}/orders.parquet")
    part = pq.read_table(f"{out}/part.parquet")["p_name"].to_pylist()
    okey = orders["o_orderkey"].to_numpy()
    ckey = orders["o_custkey"].to_numpy()
    n = len(okey)
    r = rng(seed, "staging")
    pkey = r.integers(0, len(part), n)
    titles = [f"{part[p]} - Lương Upto 30Tr" if p % 3 == 0 else
              f"🔥 {part[p]}" if p % 3 == 1 else part[p] for p in pkey]
    salaries = []
    for k in okey:
        v1, u1 = k % 50 + 5, (k % 20 + 5) * 100
        salaries.append(
            "Thỏa thuận" if k % 5 == 0 else f"{v1} - {v1 + 10} triệu"
            if k % 5 == 1 else f"{v1} triệu" if k % 5 == 2
            else f"{u1} - {u1 + 500} USD" if k % 5 == 3
            else f"Lên đến {v1} củ")
    updates = [f"Đăng {k % 24 + 1} giờ trước" for k in okey]
    deadlines = ["Đã hết hạn" if k % 7 == 0
                 else f"Còn {k % 30 + 1} ngày để ứng tuyển" for k in okey]
    locations = np.array(["Quận 1, Hồ Chí Minh", "Hà Nội", "Đà Nẵng"],
                         dtype=object)[ckey % 3]
    day = r.integers(0, days, n)
    anchors = FIRST_ANCHOR + np.arange(days + 1, dtype=np.int64) * US_PER_DAY
    ts = anchors[day] - r.integers(1, 86400, n) * 1_000_000
    table = pa.table({
        "ts": ts,
        "job_name": titles,
        "job_link": [f"https://www.topcv.vn/viec-lam/job-{k}.html"
                     for k in okey],
        "salary": salaries,
        "company_name": [f"Công ty {c}" for c in ckey],
        "update": updates,
        "job_location": locations,
        "remaining_time": deadlines})
    for d in range(days):
        write(table.filter(pa.array(day == d)),
              f"{out}/rendered/day={d}/part-0.parquet")
    write(pa.table({"day": pa.array(range(days + 1), pa.int32()),
                    "anchor": anchors}), f"{out}/anchors.parquet/part-0.parquet")


def corpus(out, seed, batches, serves, dim=64, labels=10):
    """`documents` plus a seeded `ts` and one `embedding` drawn from
    `embeddings`, cut into seeded batches (`batches/batch=<b>`), and the
    seeded serve queries (`serves.parquet`: two BM25 terms and an ANN
    vector each).

    Matches the sf0.1 tables: 5,000 docs of 10..99 words (uniform) drawn
    uniformly from a 30-word vocabulary; 250 of them (5%, at random
    positions) are another doc's text plus the word "dup"; `lang` is 41%
    "en" and the rest split evenly over de/es/fr/zh; `source` is
    "src<id mod 20>". `embeddings` holds 2,000 unit-norm Gaussian 64-d
    vectors with a uniform label 0..9 that carries no cluster structure."""
    n_docs, n_vecs, n_dups = 5000, 2000, 250
    r = rng(seed, "corpus")
    vecs = unit_vectors(r, n_vecs, dim)
    write(pa.table({"vec_id": np.arange(n_vecs, dtype=np.int64),
                    "embedding": list(vecs),
                    "label": r.integers(0, labels, n_vecs).astype(np.int32)}),
          f"{out}/embeddings.parquet/part-0.parquet")
    vocab = np.array(VOCABULARY, dtype=object)
    text = [" ".join(vocab[r.integers(0, len(vocab), r.integers(10, 100))])
            for _ in range(n_docs)]
    dups = r.choice(n_docs, n_dups, replace=False)
    originals = np.setdiff1d(np.arange(n_docs), dups)
    for i, src in zip(dups, r.choice(originals, n_dups)):
        text[i] = text[src] + " dup"
    batch = r.integers(0, batches, n_docs)
    docs = pa.table({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": text,
        "lang": choose(r, LANGS, n_docs, LANG_P),
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(t) for t in text], dtype=np.int64),
        "ts": EVENTS_START + r.integers(0, 30 * 24 * 60, n_docs) * 60_000_000,
        "embedding": list(vecs[r.integers(0, n_vecs, n_docs)])})
    write(docs, f"{out}/documents.parquet/part-0.parquet")
    for b in range(batches):
        write(docs.filter(pa.array(batch == b)),
              f"{out}/batches/batch={b}/part-0.parquet")
    q = rng(seed, "serves")
    write(pa.table({
        "serve": np.arange(serves, dtype=np.int32),
        "terms": [list(vocab[q.integers(0, len(vocab), 2)])
                  for _ in range(serves)],
        "vector": list(unit_vectors(q, serves, dim))}),
        f"{out}/serves.parquet/part-0.parquet")


def render(workload, out, seed):
    if workload == "jobs_dag":
        staging(out, seed, days=30)
        analytics(f"{out}/catalog", seed, sf=0.005, tables=(
            "region", "nation", "customer", "supplier", "part", "orders",
            "lineitem", "events"))
    else:
        corpus(out, seed, batches=10, serves=64)
