#!/usr/bin/env python3
"""Seeded input generator for the benchmark.

Two kinds of input, each a pure function of the seed:

* a training-data corpus: ``documents.parquet`` and ``embeddings.parquet``
  with the column layout the corpus queries read (word-salad documents
  with planted exact and near duplicates, 64-dim unit vectors in ten
  clusters with planted near duplicates);
* a lake job stream: Keboola datadirs (``config.json`` plus a CSV table
  with a typed manifest and a primary key) that upsert into, append to
  and bootstrap one native table over a fixed key space.

    python3 perfbench/gen.py corpus <seed> <outdir>
    python3 perfbench/gen.py lake <seed> <outdir>

Equal seeds give byte-identical files.
"""
import json
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# corpus size (sf0.1)
CORPUS_DOCS = 5_000
CORPUS_VECTORS = 2_000

VOCAB = np.array([
    "a", "agg", "batch", "big", "column", "customer", "data", "dup",
    "fast", "filter", "group", "hash", "join", "key", "line", "merge",
    "order", "part", "query", "row", "scan", "slow", "small", "sort",
    "spark", "stream", "table", "the", "value", "vector", "window"])
LANGS = np.array(["en"] * 8 + ["de", "fr", "zh", "es"] * 3)

# lake job stream
LAKE_KEYS = 50_000           # fixed key space of the upsert target
LAKE_JOB_ROWS = 25_000       # reference default batch size
LAKE_BOOT_SLICES = 4         # bootstrap = the key space in 4 headerless slices
LAKE_JOBS = 32               # distinct jobs; the stream cycles through them
LAKE_COLUMNS = [("id", "INTEGER"), ("grp", "INTEGER"), ("amount", "NUMERIC"),
                ("qty", "INTEGER"), ("name", "STRING"), ("ts", "TIMESTAMP"),
                ("batch", "INTEGER")]
# job kinds in one pass of the stream; DELETE, compact and vacuum are
# run by the harness at fixed positions between these jobs
LAKE_PASS = ["upsert", "upsert", "append", "upsert", "upsert", "upsert",
             "upsert", "upsert"]
TS0 = np.datetime64("2024-01-01T00:00:00", "s").astype(np.int64)


def corpus(seed, outdir):
    n_doc, n_emb = CORPUS_DOCS, CORPUS_VECTORS
    rng = np.random.default_rng(seed)
    os.makedirs(outdir, exist_ok=True)

    lens = rng.integers(8, 106, n_doc)
    words = VOCAB[rng.integers(0, len(VOCAB), int(lens.sum()))]
    ends = np.cumsum(lens)
    texts = [" ".join(words[e - n:e]) for e, n in zip(ends, lens)]
    for i in range(0, n_doc - 1, 500):
        texts[i + 1] = texts[i]  # exact duplicate
    for i in range(250, n_doc - 1, 100):
        ws = texts[i].split(" ")
        for _ in range(max(1, len(ws) // 20)):
            ws[int(rng.integers(0, len(ws)))] = str(VOCAB[int(rng.integers(0, len(VOCAB)))])
        texts[i + 1] = " ".join(ws)  # near duplicate
    pq.write_table(pa.table({
        "doc_id": pa.array(np.arange(n_doc), pa.int64()),
        "text": texts,
        "lang": LANGS[rng.integers(0, len(LANGS), n_doc)],
        "source": np.array([f"src{s}" for s in range(20)])[rng.integers(0, 20, n_doc)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())}),
        os.path.join(outdir, "documents.parquet"))

    centers = rng.standard_normal((10, 64))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    labels = rng.integers(0, 10, n_emb)
    vecs = centers[labels] + 0.35 * rng.standard_normal((n_emb, 64))
    for i in range(0, n_emb - 1, 100):
        labels[i + 1] = labels[i]
        vecs[i + 1] = vecs[i] + 0.02 * rng.standard_normal(64)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    pq.write_table(pa.table({
        "vec_id": pa.array(np.arange(n_emb), pa.int64()),
        "embedding": pa.array(list(vecs.astype(np.float32)), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())}),
        os.path.join(outdir, "embeddings.parquet"))


def _rows(rng, ids, batch):
    n = len(ids)
    grp = rng.integers(0, 100, n)
    cents = rng.integers(0, 10_000_000, n)
    qty = rng.integers(1, 500, n)
    name = rng.integers(0, 1_000_000, n)
    ts = (TS0 + rng.integers(0, 86_400 * 365, n)).astype("datetime64[s]")
    ts_txt = np.datetime_as_string(ts).astype(object)
    return "".join(
        f"{i},{g},{c // 100}.{c % 100:02d},{q},item-{nm:06d},{t.replace('T', ' ')},{batch}\n"
        for i, g, c, q, nm, t in zip(ids.tolist(), grp.tolist(), cents.tolist(),
                                     qty.tolist(), name.tolist(), ts_txt))


def _datadir(root, mode, sliced_rows=None, rows=None):
    tables = os.path.join(root, "in", "tables")
    os.makedirs(tables, exist_ok=True)
    cols = [c for c, _ in LAKE_COLUMNS]
    manifest = {
        "name": "items", "columns": cols, "primary_key": ["id"],
        "column_metadata": {c: [{"key": "KBC.datatype.basetype", "value": t}]
                            for c, t in LAKE_COLUMNS}}
    with open(os.path.join(tables, "items.csv.manifest"), "w") as f:
        json.dump(manifest, f, sort_keys=True)
    data = os.path.join(tables, "items.csv")
    if sliced_rows is not None:
        os.makedirs(data, exist_ok=True)
        for k, part in enumerate(sliced_rows):
            with open(os.path.join(data, f"part-{k:03d}.csv"), "w") as f:
                f.write(part)
    else:
        with open(data, "w") as f:
            f.write(",".join(cols) + "\n")
            f.write(rows)
    config = {"parameters": {"destination": {
        "table_type": "native", "mode": mode, "warehouse": "local",
        "catalog": "bench", "schema_name": "lake", "table": "items"}}}
    with open(os.path.join(root, "config.json"), "w") as f:
        json.dump(config, f, sort_keys=True)


def lake(seed, outdir):
    """Writes ``boot/`` (the full key space, sliced) and ``job_0000`` ..
    ``job_NNNN``; ``jobs.json`` lists each job's directory and mode."""
    rng = np.random.default_rng(seed)
    os.makedirs(outdir, exist_ok=True)
    keys = np.arange(LAKE_KEYS)
    slices = np.array_split(keys, LAKE_BOOT_SLICES)
    _datadir(os.path.join(outdir, "boot"), "append",
             sliced_rows=[_rows(rng, s, 0) for s in slices])
    jobs = [{"dir": "boot", "mode": "append", "batch": 0}]
    next_fresh = LAKE_KEYS
    for j in range(LAKE_JOBS):
        mode = LAKE_PASS[j % len(LAKE_PASS)]
        if mode == "upsert":
            # scattered over the whole key space: every data file is hit
            ids = np.sort(rng.choice(LAKE_KEYS, LAKE_JOB_ROWS, replace=False))
            ids = ids[rng.permutation(len(ids))]
        else:
            # fresh keys above the key space; the harness DELETEs them later
            ids = np.arange(next_fresh, next_fresh + LAKE_JOB_ROWS)
            next_fresh += LAKE_JOB_ROWS
        name = f"job_{j:04d}"
        _datadir(os.path.join(outdir, name), mode, rows=_rows(rng, ids, j + 1))
        jobs.append({"dir": name, "mode": mode, "batch": j + 1})
    with open(os.path.join(outdir, "jobs.json"), "w") as f:
        json.dump({"keys": LAKE_KEYS, "jobs": jobs}, f, indent=1, sort_keys=True)


def main(argv):
    if len(argv) == 4 and argv[1] == "corpus":
        corpus(int(argv[2]), argv[3])
    elif len(argv) == 4 and argv[1] == "lake":
        lake(int(argv[2]), argv[3])
    else:
        sys.exit(__doc__)


if __name__ == "__main__":
    main(sys.argv)
