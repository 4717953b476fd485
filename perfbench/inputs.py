"""Seeded inputs for the benchmark workloads.

Each generator is a pure function of its seed: the same seed gives a
byte-identical corpus, so two runs (or two commits) measure the same
input. The program under test only ever sees the generated rows; the
planted truth stays here, in the benchmark.

Inputs are written once per seed under the work directory, before the
Spark session starts, so generation is outside both ``setup_s`` and the
timed window.
"""

from __future__ import annotations

import hashlib
import os
import shutil

import numpy as np
import pandas as pd

# Token ids below VOCAB form documents; edits draw from [VOCAB, 10*VOCAB),
# so an edited token never re-creates a shingle of the original.
VOCAB = 20_000

# dedup_families shape. One giant family gives the skewed buckets (each of
# its members keeps most of the root's band keys, so the largest buckets
# hold ~0.8 * GIANT rows after the exact-duplicate collapse); MID_FAMILIES
# give many mid-sized buckets, and SINGLETONS the long tail of buckets of
# one. Every member is its family's root with 0.5-2% of its tokens
# replaced, which keeps the member-root Jaccard at or above
# DedupConfig().tau = 0.8 for roots of >= 40 tokens. The giant root has a
# fixed length: its pairs are most of the verify work, so a random length
# would make the work differ by seed far more than the rest of the corpus.
GIANT = 250
GIANT_TOKENS = 80
MID_FAMILIES = 100
MID_SIZE = 12
SINGLETONS = 2_000
EXACT_COPIES = 120
ROOT_TOKENS = (40, 120)
# update_dedup batches: each appended doc joins an existing mid family
# (new near member, or an exact copy of a member), plus a few new singletons.
BATCH_JOINERS = 60
BATCH_SINGLETONS = 20
# the timed appends plus one untimed warm-up append
BATCHES = 4


def _text(tokens: np.ndarray) -> str:
    return " ".join(f"t{int(t)}" for t in tokens)


def _edit(rng: np.random.Generator, root: np.ndarray) -> np.ndarray:
    out = root.copy()
    n = max(1, int(len(root) * rng.uniform(0.005, 0.02)))
    pos = rng.choice(len(root), size=n, replace=False)
    out[pos] = rng.integers(VOCAB, 10 * VOCAB, size=n)
    return out


def _root(rng: np.random.Generator, n_tokens: int | None = None) -> np.ndarray:
    n = n_tokens or int(rng.integers(*ROOT_TOKENS))
    return rng.integers(0, VOCAB, size=n)


def families(seed: int) -> tuple[pd.DataFrame, list[pd.DataFrame], pd.DataFrame]:
    """(base, batches, truth) for the dedup_families workload.

    ``base`` and every batch are ``(doc_id long, content string)`` frames;
    doc ids are a seeded permutation, so families are spread over the
    corpus. ``truth`` holds the planted pairs ``(a, b, batch)``: every
    member paired with its family root, where ``batch`` is 0 for pairs
    whose docs are both in the base corpus and i for pairs completed by
    append batch i.
    """
    rng = np.random.default_rng(seed)
    texts: list[str] = []
    family: list[int] = []  # family id per doc, -1 for singletons
    roots: list[np.ndarray] = []

    def add_family(size: int, n_tokens: int | None = None) -> None:
        fid = len(roots)
        root = _root(rng, n_tokens)
        roots.append(root)
        texts.append(_text(root))
        family.append(fid)
        for _ in range(size - 1):
            texts.append(_text(_edit(rng, root)))
            family.append(fid)

    add_family(GIANT, GIANT_TOKENS)
    for _ in range(MID_FAMILIES):
        add_family(MID_SIZE)
    for _ in range(SINGLETONS):
        texts.append(_text(_root(rng)))
        family.append(-1)
    members = np.flatnonzero(np.asarray(family) >= 0)
    for src in rng.choice(members, size=EXACT_COPIES, replace=False):
        texts.append(texts[int(src)])
        family.append(family[int(src)])
    n_base = len(texts)

    batch_of = [0] * n_base
    mid_ids = np.arange(1, MID_FAMILIES + 1)
    for b in range(1, BATCHES + 1):
        for _ in range(BATCH_JOINERS):
            fid = int(rng.choice(mid_ids))
            if rng.random() < 0.2:
                same = np.flatnonzero(np.asarray(family) == fid)
                texts.append(texts[int(rng.choice(same))])
            else:
                texts.append(_text(_edit(rng, roots[fid])))
            family.append(fid)
            batch_of.append(b)
        for _ in range(BATCH_SINGLETONS):
            texts.append(_text(_root(rng)))
            family.append(-1)
            batch_of.append(b)

    doc_id = rng.permutation(len(texts)).astype(np.int64)
    docs = pd.DataFrame(
        {"doc_id": doc_id, "content": texts, "batch": np.asarray(batch_of)}
    )
    base = docs[docs["batch"] == 0][["doc_id", "content"]].reset_index(drop=True)
    batches = [
        docs[docs["batch"] == b][["doc_id", "content"]].reset_index(drop=True)
        for b in range(1, BATCHES + 1)
    ]

    # the first doc of each family is its root (add_family appends it first)
    fam = np.asarray(family)
    first = {}
    for i, f in enumerate(fam):
        if f >= 0 and f not in first:
            first[int(f)] = i
    rows = [
        (doc_id[first[int(f)]], doc_id[i], batch_of[i])
        for i, f in enumerate(fam)
        if f >= 0 and i != first[int(f)]
    ]
    truth = pd.DataFrame(rows, columns=["root", "member", "batch"])
    truth = pd.DataFrame(
        {
            "a": np.minimum(truth["root"], truth["member"]).astype(np.int64),
            "b": np.maximum(truth["root"], truth["member"]).astype(np.int64),
            "batch": truth["batch"].astype(np.int64),
        }
    )
    return base, batches, truth


def write_families(seed: int, out_dir: str) -> str:
    """Write the dedup_families inputs for ``seed`` once; return the dir.

    Layout: ``base.parquet``, ``batch_<i>.parquet`` (i = 1..BATCHES)
    and ``truth.parquet``. A ``_DONE`` marker makes a reused directory
    complete by construction; the directory name carries a hash of this
    file, so a changed generator never reuses an old corpus.
    """
    with open(__file__, "rb") as f:
        version = hashlib.sha256(f.read()).hexdigest()[:12]
    path = os.path.join(out_dir, f"families-{seed}-{version}")
    if os.path.exists(os.path.join(path, "_DONE")):
        return path
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    base, batches, truth = families(seed)
    base.to_parquet(os.path.join(path, "base.parquet"), index=False)
    for i, b in enumerate(batches, start=1):
        b.to_parquet(os.path.join(path, f"batch_{i}.parquet"), index=False)
    truth.to_parquet(os.path.join(path, "truth.parquet"), index=False)
    open(os.path.join(path, "_DONE"), "w").close()
    return path

