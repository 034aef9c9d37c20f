"""Seeded inputs of the benchmark's workloads.

The same seed gives the same files. graft receives only these files (and
the fixture tables under perfbench/data); the DuckDB references in
oracle.py read the same files.

- writeback: the MERGE target (customer keys, segment, balance in cents)
  and BATCHES upsert batches. Each batch updates keys numbering about 5%
  of the table (a quarter of them leave the balance NULL, so the target's
  value carries over), deletes about 1% and inserts about 2% new keys, all
  in TOUCHED seeded segments. A key's segment never changes, which the
  partition-scoped writer requires.
- release_pipeline: SLICES ingest slices of documents arriving at the
  release-dedup door, a seeded mix of exact copies of stored documents,
  copies with one token replaced, and new documents.
"""
import os
from decimal import Decimal

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

BATCHES = 2
TOUCHED = 2
SLICES = 2
SLICE_DOCS = 40
NEW_KEY_BASE = 50_000_000
NEW_DOC_BASE = 9_000_000_000_000

TARGET_SCHEMA = pa.schema([("c_custkey", pa.int64()), ("segment", pa.string()),
                           ("acctbal_cents", pa.int64())])
BATCH_SCHEMA = pa.schema([("c_custkey", pa.int64()), ("segment", pa.string()),
                          ("acctbal_cents", pa.int64()), ("is_deleted", pa.bool_())])
DOC_SCHEMA = pa.schema([("doc_id", pa.int64()), ("text", pa.string()), ("lang", pa.string()),
                        ("source", pa.string()), ("n_chars", pa.int64())])


def cents(x: float) -> int:
    return int((Decimal(repr(x)) * 100).to_integral_value())


def writeback(rng: np.random.Generator, fixture: str, out: str) -> None:
    customer = pq.read_table(os.path.join(fixture, "customer.parquet")).to_pylist()
    state = {c["c_custkey"]: (c["c_mktsegment"], cents(c["c_acctbal"])) for c in customer}
    segments = sorted({s for s, _ in state.values()})
    pq.write_table(pa.Table.from_pylist(
        [{"c_custkey": k, "segment": s, "acctbal_cents": b} for k, (s, b) in sorted(state.items())],
        TARGET_SCHEMA), os.path.join(out, "target.parquet"))
    next_key = NEW_KEY_BASE
    n = len(state)
    n_upd, n_del, n_ins = max(3, n // 20), max(2, n // 100), max(2, n // 50)
    for i in range(BATCHES):
        # every batch touches TOUCHED segments (partitions), so each seed
        # gives the partition-scoped writer the same amount of work
        touched = [segments[int(j)] for j in rng.choice(len(segments), TOUCHED, replace=False)]
        live = sorted(k for k, (seg, _) in state.items() if seg in touched)
        picked = rng.choice(live, size=n_upd + n_del, replace=False)
        rows = []
        for k in picked[:n_upd]:
            seg, _ = state[int(k)]
            bal = None if rng.random() < 0.25 else int(rng.integers(-100_000, 1_000_000))
            rows.append({"c_custkey": int(k), "segment": seg, "acctbal_cents": bal,
                         "is_deleted": False})
        for k in picked[n_upd:]:
            rows.append({"c_custkey": int(k), "segment": state[int(k)][0],
                         "acctbal_cents": None, "is_deleted": True})
        for j in range(n_ins):
            rows.append({"c_custkey": next_key, "segment": touched[j % TOUCHED],
                         "acctbal_cents": int(rng.integers(0, 1_000_000)), "is_deleted": False})
            next_key += 1
        for r in rows:
            k = r["c_custkey"]
            if r["is_deleted"]:
                state.pop(k, None)
            else:
                old = state.get(k)
                bal = r["acctbal_cents"] if r["acctbal_cents"] is not None else (old[1] if old else None)
                state[k] = (r["segment"], bal)
        order = rng.permutation(len(rows))
        pq.write_table(pa.Table.from_pylist([rows[j] for j in order], BATCH_SCHEMA),
                       os.path.join(out, f"batch-{i}.parquet"))


def release(rng: np.random.Generator, fixture: str, out: str) -> None:
    docs = pq.read_table(os.path.join(fixture, "documents.parquet")).to_pylist()
    vocab = sorted({t for d in docs for t in d["text"].split(" ")})
    langs = sorted({d["lang"] for d in docs})
    sources = sorted({d["source"] for d in docs})
    slices = os.path.join(out, "slices")
    os.makedirs(slices)
    doc_id = NEW_DOC_BASE
    for s in range(SLICES):
        rows = []
        for _ in range(SLICE_DOCS):
            kind = rng.choice(3, p=[0.3, 0.3, 0.4])
            if kind < 2:
                base = docs[int(rng.integers(len(docs)))]
                tokens = base["text"].split(" ")
                if kind == 1:
                    tokens[int(rng.integers(len(tokens)))] = vocab[int(rng.integers(len(vocab)))]
                lang, source = base["lang"], base["source"]
            else:
                tokens = [vocab[int(j)] for j in rng.integers(len(vocab), size=int(rng.integers(20, 80)))]
                lang = langs[int(rng.integers(len(langs)))]
                source = sources[int(rng.integers(len(sources)))]
            text = " ".join(tokens)
            rows.append({"doc_id": doc_id, "text": text, "lang": lang, "source": source,
                         "n_chars": len(text)})
            doc_id += 1
        pq.write_table(pa.Table.from_pylist(rows, DOC_SCHEMA),
                       os.path.join(slices, f"slice-{s:04d}.parquet"))


def make(workload: str, seed: int, fixture: str, out: str) -> None:
    """Write the seeded inputs of `workload` under `out`."""
    rng = np.random.default_rng(seed)
    if workload == "writeback":
        os.makedirs(os.path.join(out, "writeback"))
        writeback(rng, fixture, os.path.join(out, "writeback"))
    elif workload == "release_pipeline":
        os.makedirs(os.path.join(out, "release"))
        release(rng, fixture, os.path.join(out, "release"))
