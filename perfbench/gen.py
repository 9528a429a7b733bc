"""Seeded input generator for the benchmark.

Two kinds of input, both written before any timing starts:

* ``catalog`` -- the ten TPC-H-ish tables the catalog queries read
  (region ... embeddings), at scale factor ``sf``, as single-row-group
  parquet files with the same physical schema the queries expect.
* ``pages`` -- the ``pipeline`` workload's ``reddit_comments`` JSONL
  pages: a seed page, then pages that each carry new comments past the
  previous page plus re-sent ids (with changed scores) from the page
  before. The seed page is also written as the starting table
  (``seed/reddit_comments/``, parquet). ``manifest.json`` records rows and
  bytes per page.

The same seed always gives byte-identical files. A different seed gives
different values but the same row counts.

Usage: python3 perfbench/gen.py catalog <outDir> <sf> <seed>
       python3 perfbench/gen.py pages <outDir> <seed> <seedRows> <newRows> <pages>
"""
import datetime as dt
import json
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part fast "
         "row the agg key query a scan batch").split()
ADJ = "blue old red large hot cold small new".split()
NOUN = "widget gizmo ring gear bolt plate rod anvil".split()
SEGMENTS = ["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"]
TYPES = ["LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM", "PROMO"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["signup", "click", "error", "view", "purchase"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
LANGS = ["en", "fr", "es", "zh", "de"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
EPOCH = dt.datetime(1970, 1, 1)


def _us(d):
    return int((d - EPOCH).total_seconds()) * 1_000_000


def _days(rng, n, lo, hi):
    """n midnight timestamps (micros) uniform over [lo, hi] dates."""
    span = (hi - lo).days
    return _us(lo) + rng.integers(0, span + 1, n) * 86_400_000_000


def _money(rng, n, lo, hi):
    return np.round(rng.integers(int(lo * 100), int(hi * 100) + 1, n) / 100.0, 2)


def _write(out, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"))


def catalog(out, sf, seed):
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_cust, n_supp = int(150_000 * sf), int(10_000 * sf)
    n_part, n_ord = int(200_000 * sf), int(1_500_000 * sf)
    n_line, n_ev = int(6_000_000 * sf), int(1_000_000 * sf)
    n_users = max(1, int(15_000 * sf))
    n_doc, n_emb = max(500, int(50_000 * sf)), max(500, int(20_000 * sf))
    i32, i64, f64, s = pa.int32(), pa.int64(), pa.float64(), pa.string()
    ts = pa.timestamp("us")

    _write(out, "region", {
        "r_regionkey": pa.array(range(5), i32), "r_name": pa.array(REGIONS, s)})
    _write(out, "nation", {
        "n_nationkey": pa.array(range(25), i32),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)], s),
        "n_regionkey": pa.array([i % 5 for i in range(25)], i32)})
    _write(out, "customer", {
        "c_custkey": pa.array(np.arange(n_cust), i64),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)], s),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
        "c_acctbal": pa.array(_money(rng, n_cust, -999.99, 9999.99), f64),
        "c_mktsegment": pa.array(rng.choice(SEGMENTS, n_cust), s)})
    _write(out, "supplier", {
        "s_suppkey": pa.array(np.arange(n_supp), i64),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)], s),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
        "s_acctbal": pa.array(_money(rng, n_supp, -999.99, 9999.99), f64)})
    pk = np.arange(n_part)
    _write(out, "part", {
        "p_partkey": pa.array(pk, i64),
        "p_name": pa.array([f"{a} {b}" for a, b in zip(
            rng.choice(ADJ, n_part), rng.choice(NOUN, n_part))], s),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)], s),
        "p_type": pa.array(rng.choice(TYPES, n_part), s),
        "p_size": pa.array(rng.integers(1, 51, n_part), i32),
        "p_retailprice": pa.array(np.round(900 + (pk % 1000) * 0.1, 2), f64)})
    _write(out, "orders", {
        "o_orderkey": pa.array(np.arange(n_ord), i64),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), i64),
        "o_orderstatus": pa.array(rng.choice(["O", "F", "P"], n_ord), s),
        "o_totalprice": pa.array(_money(rng, n_ord, 1000, 500_000), f64),
        "o_orderdate": pa.array(_days(rng, n_ord, dt.datetime(1995, 1, 1),
                                      dt.datetime(2001, 8, 1)), ts),
        "o_orderpriority": pa.array(rng.choice(PRIORITIES, n_ord), s)})
    _write(out, "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), i64),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), i64),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), i32),
        "l_quantity": pa.array(rng.integers(1, 51, n_line).astype(float), f64),
        "l_extendedprice": pa.array(_money(rng, n_line, 900, 105_000), f64),
        "l_discount": pa.array(rng.integers(0, 11, n_line) / 100.0, f64),
        "l_tax": pa.array(rng.integers(0, 9, n_line) / 100.0, f64),
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n_line), s),
        "l_linestatus": pa.array(rng.choice(["O", "F"], n_line), s),
        "l_shipdate": pa.array(_days(rng, n_line, dt.datetime(1995, 1, 2),
                                     dt.datetime(2001, 11, 4)), ts)})
    month = 30 * 86_400_000_000
    _write(out, "events", {
        "event_id": pa.array(np.arange(n_ev), i64),
        "ts": pa.array(np.sort(_us(dt.datetime(2024, 1, 1))
                               + rng.integers(0, month, n_ev)), ts),
        "user_id": pa.array(rng.integers(0, n_users, n_ev), i64),
        "event_type": pa.array(rng.choice(EVENT_TYPES, n_ev), s),
        "value": pa.array(np.round(rng.exponential(50.0, n_ev), 2), f64),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)], s)})
    # Documents: uniform bag-of-words texts; 5% are near-duplicates (another
    # document's text plus " dup"), which is what the dedup rows look for.
    texts = [" ".join(rng.choice(VOCAB, int(k))) for k in rng.integers(10, 100, n_doc)]
    for i in np.flatnonzero(rng.random(n_doc) < 0.05):
        texts[i] = texts[int(rng.integers(0, n_doc))] + " dup"
    _write(out, "documents", {
        "doc_id": pa.array(np.arange(n_doc), i64),
        "text": pa.array(texts, s),
        "lang": pa.array(rng.choice(LANGS, n_doc, p=LANG_P), s),
        "source": pa.array([f"src{i % 20}" for i in range(n_doc)], s),
        "n_chars": pa.array([len(t) for t in texts], i64)})
    emb = rng.standard_normal((n_emb, 64)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    _write(out, "embeddings", {
        "vec_id": pa.array(np.arange(n_emb), i64),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb), i32)})


SUBREDDITS = ["survivor", "survivorcbs", "survivorau", "bigbrother", "tv"]
T0 = 1_700_000_000  # created_utc of the first seed comment


def _comment(rng, idx, ts):
    return {"id": f"c{idx:08d}", "author": f"u{int(rng.integers(0, 50_000)):05d}",
            "body": " ".join(rng.choice(VOCAB, 12)),
            "subreddit": SUBREDDITS[int(rng.integers(0, len(SUBREDDITS)))],
            "stringified_media": None, "created_utc": int(ts),
            "score": int(rng.integers(-20, 500)),
            "most_recent_season": int(rng.integers(1, 46)),
            "most_recent_episode": int(rng.integers(1, 15)),
            "within_season": int(rng.integers(0, 2))}


def _seed_table(out, rows):
    """Page 0 as the stored table, in the catalog schema's column order."""
    s, i64 = pa.string(), pa.int64()
    cols = {k: pa.array([r[k] for r in rows], s) for k in
            ("id", "author", "body", "subreddit", "stringified_media")}
    cols.update({k: pa.array([r[k] for r in rows], i64) for k in
                 ("created_utc", "score", "most_recent_season", "most_recent_episode",
                  "within_season")})
    cols["created_dt"] = pa.array([r["created_utc"] * 1_000_000 for r in rows],
                                  pa.timestamp("us", tz="UTC"))
    table_dir = os.path.join(out, "seed", "reddit_comments")
    os.makedirs(table_dir)
    pq.write_table(pa.table(cols), os.path.join(table_dir, "part-00000.parquet"))


def pages(out, seed, seed_rows, new_rows, n_pages):
    """Page 0 seeds the table; page k>0 holds `new_rows` new comments, all
    newer than any earlier comment, plus 30% re-sent ids drawn from the last
    `new_rows` new comments of page k-1, with a changed score. Within a page
    ids are unique."""
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng(seed % 2**64)  # any integer seed, negative too
    resent = int(round(new_rows * 0.3 / 0.7))
    idx, ts, prev, meta = 0, T0, [], []
    for k in range(n_pages + 1):
        n = seed_rows if k == 0 else new_rows
        fresh = []
        for _ in range(n):
            ts += int(rng.integers(0, 3))  # equal timestamps happen
            fresh.append(_comment(rng, idx, ts))
            idx += 1
        rows = list(fresh)
        if k > 0:
            pool = prev[-new_rows:]
            for j in rng.choice(len(pool), resent, replace=False):
                r = dict(pool[int(j)])
                r["score"] = r["score"] + int(rng.integers(1, 100))
                rows.append(r)
        rng.shuffle(rows)
        path = os.path.join(out, f"page{k:03d}.jsonl")
        with open(path, "w") as f:
            for r in rows:
                f.write(json.dumps(r, separators=(",", ":")) + "\n")
        meta.append({"page": k, "file": os.path.basename(path), "rows": len(rows),
                     "new": len(fresh), "resent": len(rows) - len(fresh),
                     "bytes": os.path.getsize(path),
                     "min_ts": min(r["created_utc"] for r in rows),
                     "max_ts": max(r["created_utc"] for r in rows)})
        if k == 0:
            _seed_table(out, rows)
        prev = fresh
    with open(os.path.join(out, "manifest.json"), "w") as f:
        json.dump({"seed": seed, "pages": meta}, f, indent=1)
    return meta


if __name__ == "__main__":
    kind = sys.argv[1] if len(sys.argv) > 1 else ""
    if kind == "catalog" and len(sys.argv) == 5:
        catalog(sys.argv[2], float(sys.argv[3]), int(sys.argv[4]))
    elif kind == "pages" and len(sys.argv) == 7:
        pages(sys.argv[2], int(sys.argv[3]), *map(int, sys.argv[4:7]))
    else:
        sys.exit(__doc__)
