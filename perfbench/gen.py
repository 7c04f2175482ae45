"""Seeded corpus generator: every benchmark input comes from here.

One corpus serves all workloads; each takes a prefix of it. Documents
carry a Zipf-distributed client key (the group key), a lognormal token
length, and ~10% planted near-duplicates: a copy of an earlier original
with exactly one token replaced. The generator records the planted
pairs as ground truth next to the corpus.

The same seed gives byte-identical files (numpy's PCG64 stream plus a
fixed pyarrow parquet writer configuration).
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Generator parameters. Changing any of them changes every workload's
# input, so it is a benchmark change of its own.
PARAMS = {
    "n_docs": 12_000,  # corpus size; workloads take prefixes
    "n_groups": 2_000,  # distinct client keys before sampling
    "zipf_s": 1.1,  # P(group rank r) ~ r^-s
    "vocab": 5_000,  # token alphabet w0..w4999
    "len_mu": 3.9,  # token count ~ lognormal(mu, sigma), clipped
    "len_sigma": 0.4,
    "len_min": 40,  # >= 29 keeps a one-token edit above Jaccard 0.8
    "len_max": 200,
    "dup_frac": 0.10,  # share of docs that are planted near-dups
}

DOCS = "docs.parquet"
PAIRS = "dup_pairs.parquet"


def generate(seed: int, params: dict = PARAMS) -> tuple[pa.Table, pa.Table]:
    """(docs, dup_pairs) for ``seed``.

    docs: id int64, client string, text string, label int64,
    score double. dup_pairs: orig_id, dup_id (orig_id < dup_id)."""
    rng = np.random.default_rng(seed)
    n = params["n_docs"]
    g = params["n_groups"]
    weights = 1.0 / np.arange(1, g + 1) ** params["zipf_s"]
    client = rng.choice(g, size=n, p=weights / weights.sum())
    lens = np.clip(
        rng.lognormal(params["len_mu"], params["len_sigma"], n).astype(np.int64),
        params["len_min"],
        params["len_max"],
    )
    offs = np.concatenate([[0], np.cumsum(lens)])
    tokens = rng.integers(0, params["vocab"], offs[-1])

    # plant near-dups: doc i copies an earlier ORIGINAL j with one
    # token changed; dups never serve as sources, so every pair is one
    # edit away from a clean original
    per_doc = [tokens[offs[k] : offs[k + 1]] for k in range(n)]
    is_dup = np.zeros(n, dtype=bool)
    picked = np.sort(
        rng.choice(np.arange(1, n), size=int(n * params["dup_frac"]), replace=False)
    )
    is_dup[picked] = True
    pairs = []
    for i in picked:
        originals = np.flatnonzero(~is_dup[:i])
        j = int(originals[rng.integers(0, len(originals))])
        copy = per_doc[j].copy()
        pos = int(rng.integers(0, len(copy)))
        copy[pos] = (copy[pos] + rng.integers(1, params["vocab"])) % params["vocab"]
        per_doc[i] = copy
        pairs.append((j, int(i)))

    vocab = np.array([f"w{t}" for t in range(params["vocab"])], dtype=object)
    texts = [" ".join(vocab[t]) for t in per_doc]
    docs = pa.table(
        {
            "id": pa.array(np.arange(n, dtype=np.int64)),
            "client": pa.array([f"c{c:04d}" for c in client]),
            "text": pa.array(texts),
            "label": pa.array(rng.integers(0, 10, n).astype(np.int64)),
            "score": pa.array(rng.random(n)),
        }
    )
    dup_pairs = pa.table(
        {
            "orig_id": pa.array([j for j, _ in pairs], type=pa.int64()),
            "dup_id": pa.array([i for _, i in pairs], type=pa.int64()),
        }
    )
    return docs, dup_pairs


def _write(table: pa.Table, path: str) -> None:
    pq.write_table(
        table, path, compression="snappy", row_group_size=1 << 20,
        write_statistics=True,
    )


def materialise(seed: int, cache_dir: str) -> str:
    """Write the corpus for ``seed`` under ``cache_dir`` once and return
    its directory. A finished directory is reused; a partial one (an
    interrupted run) never becomes visible, because files are written
    to a staging directory that is renamed into place."""
    out = os.path.join(cache_dir, f"seed-{seed}")
    if os.path.isdir(out):
        return out
    os.makedirs(cache_dir, exist_ok=True)
    stage = f"{out}.tmp-{os.getpid()}"
    shutil.rmtree(stage, ignore_errors=True)
    os.makedirs(stage)
    docs, dup_pairs = generate(seed)
    _write(docs, os.path.join(stage, DOCS))
    _write(dup_pairs, os.path.join(stage, PAIRS))
    try:
        os.rename(stage, out)
    except OSError:
        # another run of the same seed finished first; use its copy
        shutil.rmtree(stage, ignore_errors=True)
    return out
