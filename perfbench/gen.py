"""Seeded input generator for the perfbench workloads.

Run as its own process before anything is timed:

    python3 perfbench/gen.py <workload> <seed> <out_dir>

The same (workload, seed) writes byte-identical files. out_dir is
emptied first. A MANIFEST.json with the sha256 of every file is
written last.

- logs_standard / logs_fanout: `generate_transcripts(n, seed)` from the
  engine's own transcripts source (skewed conv ids, access/kv/json/free
  text families) split into 8 parquet files, plus the lookup tables the
  standard spec joins.
- dedup_pass: documents with planted near-dup clusters, exact dups and
  NULL texts, and one embedding per document (near-dup documents get
  near-dup vectors).
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

# input sizes: turns for the logs workloads, documents for dedup_pass
SIZES = {"logs_standard": 25_000, "logs_fanout": 25_000, "dedup_pass": 4_000}
N_FILES = 8
EMB_DIM = 32

# share of documents of each kind in dedup_pass
NEAR_DUP = 0.12
EXACT_DUP = 0.06
NULL_TEXT = 0.02


def write_transcripts(n: int, seed: int, out: str) -> None:
    from gogstash_spark.sources.transcripts import generate_transcripts, write_lookups

    table = generate_transcripts(n, seed)
    tdir = os.path.join(out, "transcripts")
    os.makedirs(tdir)
    per = -(-table.num_rows // N_FILES)
    for i in range(N_FILES):
        pq.write_table(table.slice(i * per, per), os.path.join(tdir, "part-%05d.parquet" % i))
    write_lookups(out)


def _vocab(rng: np.random.Generator, size: int) -> np.ndarray:
    syll = np.array(["ka", "lo", "mi", "ne", "su", "ra", "ti", "vo", "pe", "zu", "da", "fi"])
    words = set()
    while len(words) < size:
        k = rng.integers(2, 5)
        words.add("".join(rng.choice(syll, k)))
    return np.array(sorted(words))


def generate_documents(n: int, seed: int) -> tuple[pa.Table, pa.Table]:
    """(documents, embeddings). Base documents draw Zipf-weighted words
    from a 4000-word vocabulary, so unrelated documents share almost no
    3-word shingles. Near dups copy a base document and replace ~8% of
    its words (3-shingle Jaccard ~0.6, above the 0.35 verify threshold);
    exact dups copy a base text verbatim; NULL-text documents keep an
    embedding so they still reach semantic_dedup."""
    rng = np.random.default_rng(seed)
    vocab = _vocab(rng, 4000)
    w = 1.0 / (np.arange(len(vocab)) + 10.0)
    w /= w.sum()
    kind = rng.choice(4, n, p=[1 - NEAR_DUP - EXACT_DUP - NULL_TEXT, NEAR_DUP, EXACT_DUP, NULL_TEXT])
    kind[0] = 0  # the first document is always a base document
    texts: list[str | None] = [None] * n
    words: list[np.ndarray | None] = [None] * n
    vecs = np.empty((n, EMB_DIM), dtype=np.float32)
    bases: list[int] = []
    for i in range(n):
        k = kind[i]
        if k in (1, 2):
            src = bases[rng.integers(len(bases))]
            if k == 1:
                toks = words[src].copy()
                hit = rng.random(len(toks)) < 0.08
                toks[hit] = rng.choice(vocab, int(hit.sum()), p=w)
                texts[i] = " ".join(toks)
                noise = rng.normal(0.0, 0.02, EMB_DIM)
                vecs[i] = vecs[src] + noise.astype(np.float32)
            else:
                texts[i] = texts[src]
                vecs[i] = vecs[src]
            continue
        vecs[i] = rng.normal(0.0, 1.0, EMB_DIM).astype(np.float32) / np.sqrt(EMB_DIM)
        if k == 3:
            continue
        toks = rng.choice(vocab, int(rng.integers(20, 60)), p=w)
        words[i] = toks
        texts[i] = " ".join(toks)
        bases.append(i)
    ids = np.arange(n, dtype=np.int64)
    docs = pa.table({"doc_id": ids, "text": pa.array(texts, pa.string())})
    emb = pa.table({
        "vec_id": ids,
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
    })
    return docs, emb


def write_documents(n: int, seed: int, out: str) -> None:
    docs, emb = generate_documents(n, seed)
    pq.write_table(docs, os.path.join(out, "documents.parquet"))
    pq.write_table(emb, os.path.join(out, "embeddings.parquet"))


def manifest(out: str) -> dict[str, str]:
    digests = {}
    for dirpath, _, files in os.walk(out):
        for f in sorted(files):
            p = os.path.join(dirpath, f)
            rel = os.path.relpath(p, out)
            if rel == "MANIFEST.json":
                continue
            with open(p, "rb") as fh:
                digests[rel] = hashlib.sha256(fh.read()).hexdigest()
    return dict(sorted(digests.items()))


def generate(workload: str, seed: int, out: str) -> dict:
    if workload not in SIZES:
        raise SystemExit("unknown workload %r (known: %s)" % (workload, sorted(SIZES)))
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    n = SIZES[workload]
    if workload == "dedup_pass":
        write_documents(n, seed, out)
    else:
        write_transcripts(n, seed, out)
    info = {"workload": workload, "seed": seed, "rows": n, "files": manifest(out)}
    with open(os.path.join(out, "MANIFEST.json"), "w") as f:
        json.dump(info, f, indent=1)
    return info


if __name__ == "__main__":
    if len(sys.argv) != 4:
        raise SystemExit("usage: gen.py <workload> <seed> <out_dir>")
    generate(sys.argv[1], int(sys.argv[2]), sys.argv[3])
