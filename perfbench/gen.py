"""Seeded input generator for the corpus workloads.

Reads only the fixture directory and writes only under the directory it
is given. The same seed gives the same input hashes.

Corpus replica at factor F: replica 0 is the fixture itself, so planted
structure (near-duplicates, contamination, boilerplate) survives; replica
r > 0 re-shuffles every document's words and draws fresh Gaussian
embeddings from (seed, r, id), the scheme of graft.tools.ScaleRehearsal.
Ids of replica r are shifted by r * ID_STRIDE. The other tables are the
fixture's own files.
"""
import hashlib
import os
import random
import shutil
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
GENERATED = ("documents", "embeddings")
ID_STRIDE = 1_000_000
# generated tables are written as this many part files, so scans of the
# replica run in parallel
PARTS = 4


def _shuffled(text, rnd):
    words = text.split()
    rnd.shuffle(words)
    return " ".join(words)


def _rng(seed, *key):
    return random.Random(":".join(str(k) for k in (seed,) + key))


def _write_parts(table, path):
    os.makedirs(path, exist_ok=True)
    step = -(-table.num_rows // PARTS)
    for i in range(PARTS):
        pq.write_table(table.slice(i * step, step), f"{path}/part-{i:05d}.parquet")


def _rows(path):
    return pq.ParquetDataset(path).read().num_rows if os.path.isdir(path) \
        else pq.ParquetFile(path).metadata.num_rows


def _bytes(path):
    if os.path.isdir(path):
        return sum(os.path.getsize(os.path.join(path, f)) for f in os.listdir(path))
    return os.path.getsize(path)


def table_hash(path):
    """Order-independent content hash of a parquet table: row count plus
    the sorted digests of its rows."""
    t = pq.ParquetDataset(path).read() if os.path.isdir(path) else pq.read_table(path)
    cols = [c.to_pylist() for c in t.columns]
    rows = sorted(hashlib.md5(repr(r).encode()).hexdigest() for r in zip(*cols))
    return f"{t.num_rows}:{hashlib.md5(''.join(rows).encode()).hexdigest()}"


def file_hash(path):
    with open(path, "rb") as f:
        return hashlib.md5(f.read()).hexdigest()


def record(name, path, content=True):
    """Rows, bytes and hash of one input table; `content` hashes its rows,
    else the file's bytes (for copies of the fixture)."""
    return {"name": name, "rows": _rows(path), "bytes": _bytes(path),
            "hash": table_hash(path) if content else file_hash(path)}


def corpus_replica(fixtures, out, factor, seed):
    os.makedirs(out, exist_ok=True)
    docs = pq.read_table(f"{fixtures}/documents.parquet")
    ids = docs.column("doc_id").to_pylist()
    texts = docs.column("text").to_pylist()
    rest = {c: docs.column(c).to_pylist() for c in ("lang", "source", "n_chars")}
    cols = {c: [] for c in docs.column_names}
    for rep in range(factor):
        cols["doc_id"] += [i + rep * ID_STRIDE for i in ids]
        cols["text"] += texts if rep == 0 else [
            _shuffled(t, _rng(seed, "doc", rep, i)) for i, t in zip(ids, texts)]
        for c, v in rest.items():
            cols[c] += v
    _write_parts(pa.table(cols, schema=docs.schema), f"{out}/documents.parquet")

    emb = pq.read_table(f"{fixtures}/embeddings.parquet")
    vids = emb.column("vec_id").to_pylist()
    vecs = emb.column("embedding").to_pylist()
    labels = emb.column("label").to_pylist()
    dim = len(vecs[0])
    ecols = {"vec_id": [], "embedding": [], "label": []}
    for rep in range(factor):
        ecols["vec_id"] += [i + rep * ID_STRIDE for i in vids]
        ecols["embedding"] += vecs if rep == 0 else [
            np.random.default_rng([seed & (2**63 - 1), rep, i])
            .standard_normal(dim).astype(np.float32).tolist() for i in vids]
        ecols["label"] += labels
    _write_parts(pa.table(ecols, schema=emb.schema), f"{out}/embeddings.parquet")

    for t in TABLES:
        if t not in GENERATED:
            shutil.copyfile(f"{fixtures}/{t}.parquet", f"{out}/{t}.parquet")


def corpus_records(out):
    return [record(t, f"{out}/{t}.parquet", t in GENERATED)
            for t in TABLES]


def update_batch(corpus, out, seed, n):
    """The nightly increment for IncrementalFunnel: n rows with ids above
    the corpus's max id (monotone ingest). Even-ranked rows are exact
    duplicates of corpus documents picked by a seeded hash; odd-ranked
    rows are new documents drawn from a vocabulary the corpus does not
    use, so they share no 3-gram with its eval split and survive the
    funnel."""
    docs = pq.ParquetDataset(f"{corpus}/documents.parquet").read()
    ids = docs.column("doc_id").to_pylist()
    rank = sorted(range(len(ids)), key=lambda j: (
        hashlib.sha1(f"{seed}:{ids[j]}".encode()).hexdigest(), ids[j]))[:n]
    picked = docs.take(rank).to_pydict()
    top = max(ids)
    picked["doc_id"] = [top + 1 + k for k in range(len(rank))]
    for k in range(1, len(rank), 2):
        rnd = _rng(seed, "batch", k)
        words = [f"nw{rnd.randrange(36 ** 4):x}" for _ in range(rnd.randint(20, 60))]
        picked["text"][k] = " ".join(words)
        picked["n_chars"][k] = len(picked["text"][k])
    pq.write_table(pa.table(picked, schema=docs.schema), out)


def fixture_records(fixtures):
    return [record(t, f"{fixtures}/{t}.parquet", content=False) for t in TABLES]


def generate(workload, seed, fixtures, work, factor, batch_rows, repeats):
    """Inputs for one run of a corpus workload. Generation is repeated
    `repeats` times into fresh directories (hashing is not timed).
    Returns (data dir, update batch path or None, per-repeat seconds,
    input records)."""
    times, data, batch = [], None, None
    for i in range(repeats):
        t0 = time.perf_counter()
        data = os.path.join(work, f"corpus{i}")
        corpus_replica(fixtures, data, factor, seed)
        if workload == "corpus_jobs":
            batch = os.path.join(work, f"update_batch{i}.parquet")
            update_batch(data, batch, seed, batch_rows)
        times.append(time.perf_counter() - t0)
    recs = corpus_records(data)
    if batch:
        recs.append(record("update_batch", batch))
    return data, batch, times, recs
