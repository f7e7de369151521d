"""Seeded curation corpus whose per-stage survivors are known by construction.

Planted document kinds (ids are shuffled, so a kind never maps to an id
range):

- ``unique``: random-vocabulary prose; survives every stage.
- ``empty``: control characters and whitespace only; gone after normalize.
- ``short`` / ``repetitive``: under the token floor, or one word repeated
  (quality score ~0.1); gone after the quality filter.
- exact-duplicate groups: an original plus copies that differ only in case,
  whitespace and control characters; one per group (the minimum id)
  survives exact dedup.
- near-duplicate clusters: an original plus variants with one distinct
  word appended (Jaccard >= 0.97 on 3-word shingles).  Each variant is
  checked here to share at least one LSH band with its original under the
  program's md5 MinHash (4 hashes, bands of 2), so the cluster is one
  connected component and exactly its minimum id survives.
- contaminated: prose wrapping one benchmark passage verbatim
  (containment 1.0); gone after decontamination.

``expected`` in the returned spec lists the survivor count after each
stage of ``curate_corpus`` and the exact surviving id set.
"""

from __future__ import annotations

import hashlib
import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

N_UNIQUE = 1000
N_EMPTY = 10
N_SHORT = 15
N_REPETITIVE = 15
EXACT_GROUPS, EXACT_COPIES = 60, 2
NEAR_CLUSTERS, NEAR_VARIANTS = 60, 2
N_CONTAMINATED = 30
N_BENCH = 45
N_HASHES, BAND_SIZE, SHINGLE_N = 4, 2, 3  # curate_corpus / minhash_lsh_dedup defaults

STAGES = ("input", "normalized", "quality", "exact_dedup", "near_dedup", "decontaminated")


def _vocab(rng: np.random.Generator, size: int = 6000) -> list[str]:
    syll = ["ka", "lo", "mi", "ren", "tu", "sa", "vor", "el", "qui", "dan", "po", "zi", "hem", "ba", "ne", "os"]
    words: set[str] = set()
    while len(words) < size:
        k = int(rng.integers(2, 5))
        words.add("".join(syll[int(i)] for i in rng.integers(0, len(syll), k)))
    return sorted(words)


def _band_keys(tokens: list[str]) -> set[tuple[int, str]]:
    """The program's LSH band keys: per salt j the min over distinct
    shingles of md5('j|shingle'), grouped into bands of BAND_SIZE."""
    sh = {" ".join(tokens[i:i + SHINGLE_N]) for i in range(len(tokens) - SHINGLE_N + 1)}
    mins = [min(hashlib.md5(f"{j}|{s}".encode()).hexdigest() for s in sh) for j in range(N_HASHES)]
    return {(b, "|".join(mins[b * BAND_SIZE:(b + 1) * BAND_SIZE])) for b in range(N_HASHES // BAND_SIZE)}


def _noisy_copy(rng: np.random.Generator, text: str) -> str:
    """Same text after normalize_text (lowercase, control-char strip,
    whitespace collapse + trim)."""
    out = []
    for w in text.split(" "):
        if rng.random() < 0.3:
            w = w.upper()
        out.append(w)
    sep = [" ", "  ", "\t", " \n "]
    body = "".join(w + sep[int(rng.integers(0, len(sep)))] for w in out).rstrip()
    return "\x01 " + body + "\x07 "


def generate(out_dir: str, seed: int) -> dict:
    """Write ``docs.parquet`` and ``bench.parquet``; returns the planted
    expectations."""
    rng = np.random.default_rng([seed, 3])
    vocab = _vocab(rng)

    def prose(lo: int = 40, hi: int = 90) -> list[str]:
        return [vocab[int(i)] for i in rng.integers(0, len(vocab), int(rng.integers(lo, hi)))]

    docs: list[tuple[str, str]] = []  # (kind/group tag, text)
    for _ in range(N_UNIQUE):
        docs.append(("unique", " ".join(prose())))
    for _ in range(N_EMPTY):
        docs.append(("drop_normalize", "\x01\x02 \t \x0b"))
    for _ in range(N_SHORT):
        docs.append(("drop_quality", " ".join(prose(1, 5))))
    for _ in range(N_REPETITIVE):
        docs.append(("drop_quality", " ".join([vocab[int(rng.integers(len(vocab)))]] * 8)))
    for g in range(EXACT_GROUPS):
        text = " ".join(prose())
        docs.append((f"exact{g}", text))
        for _ in range(EXACT_COPIES):
            docs.append((f"exact{g}", _noisy_copy(rng, text)))
    for c in range(NEAR_CLUSTERS):
        toks = prose()
        keys = _band_keys(toks)
        docs.append((f"near{c}", " ".join(toks)))
        used: set[str] = set()
        while len(used) < NEAR_VARIANTS:
            extra = vocab[int(rng.integers(len(vocab)))]
            if extra in used or not keys & _band_keys(toks + [extra]):
                continue
            used.add(extra)
            docs.append((f"near{c}", " ".join(toks + [extra])))
    bench = [" ".join(prose(30, 31)) for _ in range(N_BENCH)]
    for b in range(N_CONTAMINATED):
        text = " ".join(prose(15, 25)) + " " + bench[b] + " " + " ".join(prose(15, 25))
        docs.append(("drop_decontaminate", text))

    order = rng.permutation(len(docs))
    frame = pd.DataFrame(
        {"doc_id": np.arange(len(docs), dtype=np.int64), "text": [docs[i][1] for i in order]}
    )
    tags = [docs[i][0] for i in order]

    survivors = set()
    first: dict[str, int] = {}
    for doc_id, tag in enumerate(tags):
        if tag == "unique":
            survivors.add(doc_id)
        elif tag.startswith(("exact", "near")) and tag not in first:
            first[tag] = doc_id  # ids ascend, so the first seen is the minimum
    survivors |= set(first.values())

    n = len(docs)
    n_norm = n - N_EMPTY
    n_quality = n_norm - N_SHORT - N_REPETITIVE
    n_exact = n_quality - EXACT_GROUPS * EXACT_COPIES
    n_near = n_exact - NEAR_CLUSTERS * NEAR_VARIANTS
    n_clean = n_near - N_CONTAMINATED
    assert n_clean == len(survivors)

    os.makedirs(out_dir, exist_ok=True)
    docs_path = os.path.join(out_dir, "docs.parquet")
    bench_path = os.path.join(out_dir, "bench.parquet")
    pq.write_table(pa.Table.from_pandas(frame, preserve_index=False), docs_path)
    pq.write_table(
        pa.Table.from_pandas(
            pd.DataFrame({"bench_id": np.arange(N_BENCH, dtype=np.int64), "text": bench}),
            preserve_index=False,
        ),
        bench_path,
    )
    return {
        "docs": docs_path,
        "bench": bench_path,
        "expected": dict(zip(STAGES, (n, n_norm, n_quality, n_exact, n_near, n_clean))),
        "survivors": survivors,
    }
