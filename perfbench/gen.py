"""Seeded input generators for the three workloads.

Every generator is a pure function of ``(seed, size)``: the same pair
writes byte-identical parquet. Inputs land under
``.bench_data/<workload>-s<seed>-<size>-<code hash>/`` in the checkout and
are reused by later runs with the same pair and code; a ``_COMPLETE``
marker is written last, so an interrupted generation is redone, never
half-read.

Schemas follow the engine's fixture tables (FIXTURES.md §B), so the
registry's DuckDB oracles apply to them unchanged:

- quotes: ``events`` rows (``user_id`` = ticker, ``value`` = close) landed
  Hive-style ``ano=/mes=/dia=`` for January 2024, plus a held-back
  ``2024-01-25`` tranche for the daily increment and the 25-row ``nation``
  ticker dimension.
- corpus: ``documents`` with planted exact duplicates (case/whitespace
  variants) and near-duplicate clusters (a few tokens swapped).
- vectors: ``embeddings`` (64-d, clustered by ``label``), with
  ``vec_id % 40 == 7`` rows held back as delta tranches.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# sizes: "toy" for the self-test smoke runs, "full" for measured runs
SIZES = {
    "lake_release": {
        "toy": {"tickers": 300, "docs": 400},
        "full": {"tickers": 1000, "docs": 1000},
    },
    "vector_index": {"toy": {"vectors": 800}, "full": {"vectors": 1500}},
}

# corpus generator parameters (recorded in the manifest)
EXACT_DUP_SHARE = 0.05
NEAR_DUP_SHARE = 0.15
LOW_QUALITY_SHARE = 0.05

# vectors: the kNN delta rows (vec_id % 40 == 7 — the registry oracle's
# delta predicate) split into this many landing files; one fold per file
N_TRANCHES = 1
DIM = 64
N_LABELS = 8

LAKE_DAYS = 31  # January 2024
DELTA_DAY = dt.date(2024, 1, 25)


def _vocab(rng: np.random.Generator, n: int = 3000) -> np.ndarray:
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    out = set()
    while len(out) < n:
        k = int(rng.integers(3, 10))
        out.add("".join(rng.choice(letters, k)))
    return np.array(sorted(out))


def _write(table: pa.Table, path: str) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)


def _dir_bytes(root: str) -> int:
    total = 0
    for d, _, files in os.walk(root):
        total += sum(os.path.getsize(os.path.join(d, f)) for f in files)
    return total


def gen_quotes(out: str, seed: int, size: dict) -> dict:
    """``events``-shaped quote lake: one close per (ticker, day) plus ~2%
    re-delivered rows later the same day (the refined job's dedup keeps
    the first by (ts, event_id))."""
    rng = np.random.default_rng(seed)
    n_t = size["tickers"]
    start = dt.datetime(2024, 1, 1)
    price = rng.uniform(5.0, 200.0, n_t)
    base_id = 0
    job_rows = 0
    for day in range(LAKE_DAYS):
        d = start + dt.timedelta(days=day)
        price = np.maximum(price * np.exp(rng.normal(0.0, 0.02, n_t)), 0.5)
        redo = rng.random(n_t) < 0.02
        tick = np.concatenate([np.arange(n_t), np.nonzero(redo)[0]])
        n = len(tick)
        secs = rng.integers(9 * 3600, 17 * 3600, n)
        close = np.round(price[tick] * (1.0 + rng.normal(0.0, 0.001, n)), 2)
        ts = np.datetime64(d, "us") + secs.astype("timedelta64[s]").astype("timedelta64[us]")
        table = pa.table(
            {
                "event_id": pa.array(base_id + np.arange(n), pa.int64()),
                "ts": pa.array(ts, pa.timestamp("us")),
                "user_id": pa.array(tick, pa.int64()),
                "event_type": pa.array(np.where(np.arange(n) < n_t, "trade", "redelivery")),
                "value": pa.array(close, pa.float64()),
                "props": pa.array(np.char.add(np.char.add('{"k": ', rng.integers(0, 100, n).astype(str)), "}")),
            }
        )
        base_id += n
        part = f"ano={d.year}/mes={d.month}/dia={d.day}/part-0.parquet"
        tree = "delta" if d.date() == DELTA_DAY else "raw"
        job_rows += n if tree == "raw" else 0
        _write(table, os.path.join(out, tree, part))
    nation = pa.table(
        {
            "n_nationkey": pa.array(np.arange(25), pa.int32()),
            "n_name": pa.array([f"SECTOR_{i}" for i in range(25)]),
            "n_regionkey": pa.array(np.arange(25) % 5, pa.int32()),
        }
    )
    _write(nation, os.path.join(out, "nation.parquet"))
    return {
        "tickers": n_t,
        "rows": base_id,
        "job_rows": job_rows,
        "bytes": _dir_bytes(os.path.join(out, "raw")),
        "delta_bytes": _dir_bytes(os.path.join(out, "delta")),
    }


def _doc_text(rng, vocab, zipf_p, n_tok: int) -> list[str]:
    stop = ["the", "a", "of", "and", "to", "in", "is", "that", "it", "for"]
    toks = list(rng.choice(vocab, n_tok, p=zipf_p))
    for i in rng.choice(n_tok, max(2, n_tok // 8), replace=False):
        toks[i] = stop[int(rng.integers(0, len(stop)))]
    return toks


def gen_corpus(out: str, seed: int, size: dict) -> dict:
    """``documents`` with planted duplicates. Shares of exact duplicates,
    near-duplicates (cluster members: 3-10% of a base doc's tokens
    replaced) and low-quality docs (fail the Gopher rules) are module
    parameters and go into the manifest."""
    rng = np.random.default_rng(seed)
    n = size["docs"]
    vocab = _vocab(rng)
    zipf = 1.0 / np.arange(1, len(vocab) + 1) ** 0.9
    zipf /= zipf.sum()
    texts: list[str] = []
    kinds: list[str] = []
    while len(texts) < n:
        r = rng.random()
        if texts and r < EXACT_DUP_SHARE:
            src = texts[int(rng.integers(0, len(texts)))]
            variant = src.upper() if rng.random() < 0.5 else "  " + src.replace(" ", "  ") + " "
            texts.append(variant)
            kinds.append("exact")
        elif texts and r < EXACT_DUP_SHARE + NEAR_DUP_SHARE:
            src = texts[int(rng.integers(0, len(texts)))].split()
            k = max(1, int(len(src) * rng.uniform(0.03, 0.10)))
            for i in rng.choice(len(src), k, replace=False):
                src[i] = vocab[int(rng.integers(0, len(vocab)))]
            texts.append(" ".join(src))
            kinds.append("near")
        elif r < EXACT_DUP_SHARE + NEAR_DUP_SHARE + LOW_QUALITY_SHARE:
            w = vocab[int(rng.integers(0, len(vocab)))]
            texts.append(" ".join([w] * int(rng.integers(3, 30))))
            kinds.append("low")
        else:
            texts.append(" ".join(_doc_text(rng, vocab, zipf, int(rng.integers(40, 160)))))
            kinds.append("base")
    langs = np.array(["en", "es", "fr", "de", "pt"])
    table = pa.table(
        {
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": pa.array(texts),
            "lang": pa.array(langs[rng.integers(0, len(langs), n)]),
            "source": pa.array([f"src{int(i)}" for i in rng.integers(0, 6, n)]),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )
    _write(table, os.path.join(out, "documents.parquet"))
    # the re-delivered shard: every 10th doc again under a new id — the
    # registry's corpus construction, so its oracle applies unchanged
    mask = np.arange(n) % 10 == 0
    redo = table.filter(pa.array(mask))
    redo = redo.set_column(0, "doc_id", pa.array(np.arange(n)[mask] + 1_000_000, pa.int64()))
    _write(redo, os.path.join(out, "shard", "part-0.parquet"))
    return {
        "rows": n,
        "redelivered": int(mask.sum()),
        "bytes": _dir_bytes(out),
        "exact_dup_share": EXACT_DUP_SHARE,
        "near_dup_share": NEAR_DUP_SHARE,
        "low_quality_share": LOW_QUALITY_SHARE,
        "planted": {k: kinds.count(k) for k in ("base", "exact", "near", "low")},
    }


def gen_vectors(out: str, seed: int, size: dict) -> dict:
    """Clustered 64-d float32 embeddings labelled by cluster. The full
    table is the registry oracles' ``embeddings``; the delta rows
    (``vec_id % 40 == 7``) are also split into ``N_TRANCHES`` landing
    files, and the rest form the base corpus the index is built from."""
    rng = np.random.default_rng(seed)
    n = size["vectors"]
    centers = rng.normal(0.0, 1.0, (N_LABELS, DIM))
    label = rng.integers(0, N_LABELS, n)
    vecs = (centers[label] + rng.normal(0.0, 0.6, (n, DIM))) / np.sqrt(DIM)
    vecs = vecs.astype(np.float32)
    ids = np.arange(n, dtype=np.int64)

    def table(mask: np.ndarray) -> pa.Table:
        flat = pa.array(vecs[mask].reshape(-1), pa.float32())
        emb = pa.FixedSizeListArray.from_arrays(flat, DIM).cast(pa.list_(pa.float32()))
        return pa.table(
            {
                "vec_id": pa.array(ids[mask], pa.int64()),
                "embedding": emb,
                "label": pa.array(label[mask].astype(np.int32), pa.int32()),
            }
        )

    delta = ids % 40 == 7
    _write(table(np.ones(n, bool)), os.path.join(out, "embeddings.parquet"))
    _write(table(~delta), os.path.join(out, "base.parquet"))
    d_ids = ids[delta]
    for t in range(N_TRANCHES):
        m = np.zeros(n, bool)
        m[d_ids[t::N_TRANCHES]] = True
        _write(table(m), os.path.join(out, "tranches", f"t{t}.parquet"))
    return {"rows": n, "bytes": os.path.getsize(os.path.join(out, "embeddings.parquet"))}


def gen_lake_release(out: str, seed: int, size: dict) -> dict:
    """Both inputs of the nightly batch: the quote lake and the corpus."""
    quotes = gen_quotes(os.path.join(out, "quotes"), seed, size)
    corpus = gen_corpus(os.path.join(out, "corpus"), seed + 1, size)
    return {
        "quotes": quotes,
        "corpus": corpus,
        "rows": quotes["job_rows"] + corpus["rows"] + corpus["redelivered"],
        "bytes": quotes["bytes"] + corpus["bytes"],
    }


GENERATORS = {
    "lake_release": gen_lake_release,
    "vector_index": gen_vectors,
}


def _code_version() -> str:
    """Hash of the code that shapes cached inputs and expected outputs, so
    a cache written by other generator or workload code is never reused."""
    here = os.path.dirname(os.path.abspath(__file__))
    h = hashlib.sha1()
    for name in ("gen.py", "oracle.py", "workloads.py"):
        with open(os.path.join(here, name), "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:10]


def ensure_inputs(data_root: str, workload: str, seed: int, size: str) -> tuple[str, dict]:
    """Generate (or reuse) the inputs for ``(workload, seed, size)``;
    returns the input directory and its manifest."""
    out = os.path.join(data_root, f"{workload}-s{seed}-{size}-{_code_version()}")
    marker = os.path.join(out, "_COMPLETE")
    if os.path.exists(marker):
        with open(marker) as f:
            return out, json.load(f)
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    manifest = GENERATORS[workload](out, seed, SIZES[workload][size])
    manifest.update({"workload": workload, "seed": seed, "size": size})
    with open(marker, "w") as f:
        json.dump(manifest, f)
    return out, manifest
