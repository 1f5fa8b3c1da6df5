"""Seeded corpus generator for the benchmark.

Writes the engine's corpus tables (the TPC-H-ish star schema plus `events`,
`documents` and `embeddings`, with the column names, types and value domains
FIXTURES.md lists) as one parquet file each. The same (seed, scale) always
gives byte-identical tables. The domain fixtures the engine derives from the
corpus (tiles, boxes, counties, tracker rows) follow from these tables, so the
properties that shape them are recorded here:

- boxes per tile: `lineitem.l_orderkey % 1000` is the tile id; orders are
  drawn uniformly, so boxes per tile vary by seeded Poisson noise only;
- near-duplicate share: DOC_DUP_SHARE of `documents` rows (at least one)
  repeat an earlier row's text verbatim; the seed picks which rows.

`manifest.json` in the corpus directory records the sizes and properties.
Usage: python3 gen.py <out_dir> <seed> <scale>
"""
import json
import os
import shutil
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TILES = 1000
VOCAB = ("a the key agg row scan slow fast table value part hash batch spark "
         "line sort window merge join small customer query order data column "
         "stream big filter group vector").split()
ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
EMBED_DIM = 64
# Shape of the engine's own sf0.01 and sf0.1 test corpora (TESTDATA.md),
# measured there: boxes per tile are uniform up to Poisson noise (the standard
# deviation of log(boxes per tile) is 0.041 at sf0.1, the Poisson floor for
# 600 boxes a tile), 8 of 5,000 documents repeat an earlier text verbatim,
# and no two embeddings are near each other (highest cosine 0.60). The seed
# draws which rows repeat; their count is fixed (at least one, so the dedup
# operators always have a pair to join), so runs with different seeds do
# comparable work.
DOC_DUP_SHARE = 8 / 5000


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, start, end, n):
    """Midnight timestamps (microseconds, no zone) uniform in [start, end]."""
    lo = np.datetime64(start, "D").astype("int64")
    hi = np.datetime64(end, "D").astype("int64")
    d = rng.integers(lo, hi + 1, n)
    return pa.array(d * 86_400_000_000, pa.timestamp("us"))


def _pick(rng, values, n, p=None):
    return pa.array(np.asarray(values)[rng.choice(len(values), n, p=p)])


def generate(seed, scale):
    """Returns ({table: pa.Table}, manifest dict)."""
    rng = np.random.default_rng([seed, int(round(scale * 1e6))])
    n_cust = max(150, int(150_000 * scale))
    n_supp = max(10, int(10_000 * scale))
    n_part = max(200, int(200_000 * scale))
    n_ord = max(1_500, int(1_500_000 * scale)) // TILES * TILES
    n_line = max(6_000, int(6_000_000 * scale))
    n_evt = max(1_000, int(1_000_000 * scale))
    n_doc = max(500, int(50_000 * scale))
    n_vec = max(500, int(20_000 * scale))

    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": _pick(rng, SEGMENTS, n_cust)})
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)})
    names = [f"{a} {b}" for a in ADJ for b in NOUN]
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": _pick(rng, names, n_part),
        "p_brand": _pick(rng, [f"Brand#{i}" for i in range(1, 26)], n_part),
        "p_type": _pick(rng, TYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 1)})
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", n_ord),
        "o_orderpriority": _pick(rng, PRIORITIES, n_ord)})

    # tile id = l_orderkey % 1000
    okey = rng.integers(0, n_ord, n_line)
    per_tile = np.bincount(okey % TILES, minlength=TILES)
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(okey, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n_line),
        "l_discount": np.round(rng.integers(0, 11, n_line) * 0.01, 2),
        "l_tax": np.round(rng.integers(0, 9, n_line) * 0.01, 2),
        "l_returnflag": _pick(rng, ["A", "N", "R"], n_line),
        "l_linestatus": _pick(rng, ["F", "O"], n_line),
        "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", n_line)})

    span_us = 30 * 86_400_000_000
    ts = np.sort(rng.integers(0, span_us, n_evt)) + np.datetime64(
        "2024-01-01", "us").astype("int64")
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(n_evt), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, max(150, n_cust // 10), n_evt), pa.int64()),
        "event_type": _pick(rng, EVENT_TYPES, n_evt),
        "value": np.round(rng.exponential(50.0, n_evt), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_evt)]})

    texts = []
    n_dup_docs = max(1, round(DOC_DUP_SHARE * n_doc))
    dup_rows = set(rng.choice(np.arange(1, n_doc), n_dup_docs, replace=False).tolist())
    for i in range(n_doc):
        if i in dup_rows:
            texts.append(texts[int(rng.integers(0, i))])
        else:
            k = int(rng.integers(10, 100))
            texts.append(" ".join(VOCAB[j] for j in rng.integers(0, len(VOCAB), k)))
    t["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_doc), pa.int64()),
        "text": texts,
        "lang": _pick(rng, LANGS, n_doc, LANG_P),
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": pa.array([len(x) for x in texts], pa.int64())})

    vecs = rng.normal(0.0, 1.0, (n_vec, EMBED_DIM))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    flat = pa.array(vecs.astype(np.float32).ravel(), pa.float32())
    t["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_vec), pa.int64()),
        "embedding": pa.ListArray.from_arrays(
            pa.array(np.arange(0, n_vec * EMBED_DIM + 1, EMBED_DIM), pa.int32()), flat),
        "label": pa.array(rng.integers(0, 10, n_vec), pa.int32())})

    manifest = {
        "seed": seed, "scale": scale,
        "rows": {k: v.num_rows for k, v in t.items()},
        "tiles": TILES,
        "boxes_per_tile": {
            "mean": round(float(per_tile.mean()), 2),
            "p50": int(np.median(per_tile)),
            "max": int(per_tile.max()),
            "skew_max_over_mean": round(float(per_tile.max() / per_tile.mean()), 3)},
        "near_dup_share": DOC_DUP_SHARE,
        "near_dup_docs": n_dup_docs,
        "tracker_chips": n_ord,
    }
    return t, manifest


def write(out_dir, seed, scale):
    """Writes the corpus unless a complete copy is already there."""
    done = os.path.join(out_dir, "manifest.json")
    if os.path.exists(done):
        with open(done) as f:
            return json.load(f)
    tables, manifest = generate(seed, scale)
    tmp = out_dir + ".tmp"
    os.makedirs(tmp, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(tmp, f"{name}.parquet"), compression="snappy")
    with open(os.path.join(tmp, "manifest.json"), "w") as f:
        json.dump(manifest, f, indent=1)
    if os.path.exists(out_dir):
        shutil.rmtree(out_dir)
    os.replace(tmp, out_dir)
    return manifest


if __name__ == "__main__":
    print(json.dumps(write(sys.argv[1], int(sys.argv[2]), float(sys.argv[3]))))
