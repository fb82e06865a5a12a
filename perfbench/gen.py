"""Seeded input generators for the benchmark workloads.

Every table is drawn from one numpy PCG64 stream keyed on (workload,
seed) and written with pyarrow, so the same seed gives byte-identical
parquet files. Shapes follow the repository's fixture schemas
(FIXTURES.md: the Numerai frame of section A, the warehouse tables of
section B).

    python3 perfbench/gen.py <workload> <seed> <out_dir>
"""
import hashlib
import json
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Input sizes per workload. `sf` scales the warehouse tables the way
# the repository fixtures scale (sf 0.01 = 60k lineitem rows).
SIZES = {
    "era_experiment": {"sf": 0.001, "eras": 24, "rows_per_era": 160,
                       "features": 8},
    "pipeline_mix": {"sf": 0.01, "base_docs": 500, "base_vecs": 500,
                     "copies": 2, "keep": 0.9},
}

WORDS = ("a the key agg row scan slow fast table value part hash merge "
         "batch spark line sort window data column join small customer "
         "query order group filter big stream vector").split()
COLORS = "blue red hot small old new green dark".split()
NOUNS = "bolt gear ring widget anvil rod nut spring".split()
TIME0 = np.datetime64("1995-01-01T00:00:00", "us")


def _seed_of(workload, seed):
    h = hashlib.sha256(f"{workload}:{seed}".encode()).digest()
    return int.from_bytes(h[:8], "little")


def _write(table, out, name):
    pq.write_table(table, os.path.join(out, f"{name}.parquet"),
                   compression="snappy")


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _texts(rng, n, dup_share=0.1):
    """Word-salad documents from a small vocabulary; a share of them are
    near-duplicates (one word replaced) of an earlier document, so the
    dedup pipelines have pairs to find."""
    out = []
    for i in range(n):
        if i > 10 and rng.random() < dup_share:
            words = out[int(rng.integers(0, i))].split()
            words[int(rng.integers(0, len(words)))] = WORDS[int(rng.integers(0, len(WORDS)))]
        else:
            words = [WORDS[j] for j in rng.integers(0, len(WORDS), int(rng.integers(8, 90)))]
        out.append(" ".join(words))
    return out


def _unit_vectors(rng, n, dim=64, dup_share=0.05):
    v = rng.standard_normal((n, dim))
    for i in range(10, n):
        if rng.random() < dup_share:
            v[i] = v[int(rng.integers(0, i))] + 0.01 * rng.standard_normal(dim)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    return v.astype(np.float32)


def documents_table(rng, n, key0=0):
    texts = _texts(rng, n)
    langs = rng.choice(["en", "de", "fr", "es", "zh"], n, p=[0.44, 0.14, 0.14, 0.14, 0.14])
    ids = np.arange(key0, key0 + n, dtype=np.int64)
    return pa.table({
        "doc_id": ids,
        "text": texts,
        "lang": langs.tolist(),
        "source": [f"src{i % 20}" for i in ids],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def embeddings_table(rng, n):
    v = _unit_vectors(rng, n)
    return pa.table({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": pa.array(list(v), type=pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n).astype(np.int32),
    })


def warehouse(rng, out, sf, docs=None, vecs=None):
    """The TPC-H-shaped star schema plus events, documents and
    embeddings, at scale factor `sf`."""
    n_cust, n_supp = max(150, int(150000 * sf)), max(10, int(10000 * sf))
    n_part, n_ord = max(200, int(200000 * sf)), max(1500, int(1500000 * sf))
    n_ev = max(1000, int(1000000 * sf))
    _write(pa.table({
        "r_regionkey": np.arange(5, dtype=np.int32),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]}), out, "region")
    _write(pa.table({
        "n_nationkey": np.arange(25, dtype=np.int32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": (np.arange(25) % 5).astype(np.int32)}), out, "nation")
    segs = ["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"]
    _write(pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(segs, n_cust).tolist()}), out, "customer")
    _write(pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)}), out, "supplier")
    pk = np.arange(n_part, dtype=np.int64)
    _write(pa.table({
        "p_partkey": pk,
        "p_name": [f"{COLORS[a]} {NOUNS[b]}" for a, b in
                   zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"],
                             n_part).tolist(),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 2)}), out, "part")
    odate = TIME0 + rng.integers(0, 2404, n_ord).astype("timedelta64[D]")
    _write(pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord).tolist(),
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": pa.array(odate, type=pa.timestamp("us")),
        "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                                       "5-LOW"], n_ord).tolist()}), out, "orders")
    lines = rng.integers(1, 8, n_ord)
    okey = np.repeat(np.arange(n_ord, dtype=np.int64), lines)
    lnum = np.concatenate([np.arange(1, k + 1) for k in lines]).astype(np.int32)
    n_li = len(okey)
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    ship = np.repeat(odate, lines) + rng.integers(1, 122, n_li).astype("timedelta64[D]")
    _write(pa.table({
        "l_orderkey": okey,
        "l_partkey": rng.integers(0, n_part, n_li).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_li).astype(np.int64),
        "l_linenumber": lnum,
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n_li), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": rng.choice(["R", "A", "N"], n_li).tolist(),
        "l_linestatus": rng.choice(["F", "O"], n_li).tolist(),
        "l_shipdate": pa.array(ship, type=pa.timestamp("us"))}), out, "lineitem")
    ev0 = np.datetime64("2024-01-01T00:00:00", "us")
    ts = ev0 + np.sort(rng.integers(0, 30 * 86400 * 10**6, n_ev)).astype("timedelta64[us]")
    _write(pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": pa.array(ts, type=pa.timestamp("us")),
        "user_id": rng.integers(0, max(50, int(15000 * sf)), n_ev).astype(np.int64),
        "event_type": rng.choice(["click", "signup", "error", "view", "purchase"], n_ev).tolist(),
        "value": np.round(rng.uniform(0.01, 490.02, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]}), out, "events")
    _write(docs if docs is not None else
           documents_table(rng, max(100, int(50000 * sf))), out, "documents")
    _write(vecs if vecs is not None else
           embeddings_table(rng, max(100, int(50000 * sf))), out, "embeddings")


def numerai_frame(rng, out, eras, rows_per_era, features):
    """FIXTURES.md section A: id, era, data_type, quantized features and a
    quantized target that depends on a few of the features."""
    n = eras * rows_per_era
    q = np.array([0.0, 0.25, 0.5, 0.75, 1.0])
    feats = q[rng.integers(0, 5, (n, features))]
    w = np.zeros(features)
    w[:4] = [0.5, -0.3, 0.2, 0.1]
    signal = feats @ w + 0.35 * rng.standard_normal(n)
    ranks = signal.argsort().argsort() / (n - 1)
    target = q[np.minimum((ranks * 5).astype(int), 4)]
    cols = {"id": [f"n{v:015x}" for v in rng.integers(0, 2**60, n)],
            "era": np.repeat(np.arange(1, eras + 1, dtype=np.int32), rows_per_era),
            "data_type": ["train"] * n}
    for j in range(features):
        cols[f"feature_{j}"] = feats[:, j]
    cols["target"] = target
    _write(pa.table(cols), out, "numerai")


def blowup_corpus(rng, base_docs, base_vecs, copies, keep):
    """Key-shifted, word-salted copies of a seeded base corpus (the
    ScaleProbe.buildBlowup recipe): every copy shifts keys by a power of
    ten above the key domain, salts every word of its documents with a
    seeded per-copy suffix, and flips a seeded sign per embedding
    dimension (an isometry within a copy). The seed also picks the
    `keep` share of base rows that enter the blow-up."""
    docs = documents_table(rng, base_docs)
    vecs = embeddings_table(rng, base_vecs)
    dsub = np.sort(rng.choice(base_docs, int(base_docs * keep), replace=False))
    vsub = np.sort(rng.choice(base_vecs, int(base_vecs * keep), replace=False))
    docs, vecs = docs.take(dsub), vecs.take(vsub)
    stride_d = 10 ** len(str(base_docs))
    stride_v = 10 ** len(str(base_vecs))
    texts = docs.column("text").to_pylist()
    emb = np.array(vecs.column("embedding").to_pylist(), dtype=np.float32)
    dparts, vparts = [], []
    for i in range(copies):
        salt = "" if i == 0 else "~" + "".join(
            chr(97 + c) for c in rng.integers(0, 26, 4))
        t = texts if i == 0 else [" ".join(w + salt for w in s.split()) for s in texts]
        dparts.append(pa.table({
            "doc_id": pa.array(docs.column("doc_id").to_numpy() + i * stride_d),
            "text": t,
            "lang": docs.column("lang"),
            "source": docs.column("source"),
            "n_chars": np.array([len(s) for s in t], dtype=np.int64)}))
        signs = np.ones(emb.shape[1], dtype=np.float32) if i == 0 else \
            rng.choice(np.array([-1.0, 1.0], dtype=np.float32), emb.shape[1])
        vparts.append(pa.table({
            "vec_id": pa.array(vecs.column("vec_id").to_numpy() + i * stride_v),
            "embedding": pa.array(list(emb * signs), type=pa.list_(pa.float32())),
            "label": vecs.column("label")}))
    return pa.concat_tables(dparts), pa.concat_tables(vparts)


def generate(workload, seed, out):
    size = SIZES[workload]
    rng = np.random.Generator(np.random.PCG64(_seed_of(workload, seed)))
    os.makedirs(out, exist_ok=True)
    if workload == "era_experiment":
        numerai_frame(rng, out, size["eras"], size["rows_per_era"], size["features"])
        warehouse(rng, out, size["sf"])
    else:
        docs, vecs = blowup_corpus(rng, size["base_docs"], size["base_vecs"],
                                   size["copies"], size["keep"])
        warehouse(rng, out, size["sf"], docs=docs, vecs=vecs)
    manifest = {"workload": workload, "seed": seed, "sizes": size, "files": {}}
    for name in sorted(os.listdir(out)):
        if name.endswith(".parquet"):
            p = os.path.join(out, name)
            with open(p, "rb") as f:
                digest = hashlib.sha256(f.read()).hexdigest()
            manifest["files"][name] = {
                "bytes": os.path.getsize(p), "rows": pq.ParquetFile(p).metadata.num_rows,
                "sha256": digest}
    with open(os.path.join(out, "manifest.json"), "w") as f:
        json.dump(manifest, f, indent=1, sort_keys=True)
    return manifest


if __name__ == "__main__":
    if len(sys.argv) != 4 or sys.argv[1] not in SIZES:
        sys.exit(f"usage: gen.py <{'|'.join(SIZES)}> <seed> <out_dir>")
    generate(sys.argv[1], int(sys.argv[2]), sys.argv[3])
