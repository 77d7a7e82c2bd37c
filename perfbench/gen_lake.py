"""Seeded generator of the query lake that `curation_composites` reads.

The tables have the names, column types and value distributions of the
project's test lakes (see FIXTURES.md): `lineitem` (TPC-H-like, read by
x_freq_itemsets), and `documents`, a text corpus with exact and near
duplicates, with unit `embeddings` (both read by x_incremental_curation).
Row counts scale with `sf` (lineitem = 6M x sf, documents = 50k x sf,
embeddings = 20k x sf). One parquet file per table,
written without pandas metadata, so the same (seed, sf) always gives the
same bytes.

    python3 perfbench/gen_lake.py <out_dir> <seed> <sf>
"""
import json
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row "
         "the agg key query a scan batch").split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.41, 0.1475, 0.1475, 0.1475, 0.1475]
DUP_RATE = 0.05


def tables(seed: int, sf: float) -> dict:
    rng = np.random.default_rng(seed)
    n_ord, n_part, n_supp = int(1_500_000 * sf), int(200_000 * sf), int(10_000 * sf)
    n_line, n_doc, n_emb = int(6_000_000 * sf), int(50_000 * sf), int(20_000 * sf)
    ship = np.datetime64("1995-01-02", "D") + rng.integers(0, 2499, n_line)
    lineitem = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900, 105000, n_line), 2),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)]),
        "l_linestatus": pa.array(np.array(["F", "O"])[rng.integers(0, 2, n_line)]),
        "l_shipdate": pa.array(ship.astype("datetime64[us]"), pa.timestamp("us"))})
    labels = rng.integers(0, 10, n_emb)
    v = rng.normal(0, 1, (10, 64))[labels] * 0.5 + rng.normal(0, 1, (n_emb, 64))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    embeddings = pa.table({
        "vec_id": pa.array(np.arange(n_emb), pa.int64()),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())})
    return {"lineitem": lineitem, "documents": _documents(rng, n_doc),
            "embeddings": embeddings}


def _documents(rng, n: int) -> pa.Table:
    """Random texts over a 30-word vocabulary, 10-100 tokens each; 5% of
    the documents copy another document's text plus the token `dup` (near
    duplicates; two copies of one source are exact duplicates)."""
    lens = rng.integers(10, 101, n)
    words = rng.integers(0, len(VOCAB), int(lens.sum()))
    texts, w = [], 0
    for k in lens:
        texts.append(" ".join(VOCAB[j] for j in words[w:w + k]))
        w += k
    dups = rng.choice(n, int(n * DUP_RATE), replace=False)
    is_dup = np.zeros(n, bool)
    is_dup[dups] = True
    sources = np.flatnonzero(~is_dup)
    for d, s in zip(dups, rng.choice(sources, len(dups))):
        texts[d] = texts[s] + " dup"
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts),
        "lang": pa.array(np.array(LANGS)[rng.choice(5, n, p=LANG_P)]),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array([len(x) for x in texts], pa.int64())})


def generate(out_dir: str, seed: int, sf: float) -> dict:
    os.makedirs(out_dir, exist_ok=True)
    rows = {}
    for name, table in tables(seed, sf).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"),
                       compression="snappy")
        rows[name] = table.num_rows
    return {"seed": seed, "sf": sf, "rows": rows}


if __name__ == "__main__":
    out, seed, sf = sys.argv[1], int(sys.argv[2]), float(sys.argv[3])
    print(json.dumps(generate(out, seed, sf)))
