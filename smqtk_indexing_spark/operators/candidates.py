"""Bucket construction + candidate-pair generation — the heart of the engine.

Reference analog: the hash->uuids multimap build (``/root/reference/
smqtk_indexing/impls/nn_index/lsh.py:315-323``) and the near-hash -> candidate
UUID expansion (``lsh.py:489-497``), generalized from single-query lookup to
an all-pairs self-join: every document is simultaneously query and corpus.

Scale design (north rule: "partitioning / shuffle / skew handled explicitly"):
- band keys already fold the band index (kernels.band_keys), so the bucket key
  is one LongType column — a single hash-partitionable shuffle key.
- all-mode generation is ONE bucket-key exchange plus a spillable sort on
  band_hash within each partition, feeding a streaming kernel
  (``block_rows``) that sees each bucket as a contiguous run of rows. The
  kernel holds one Arrow batch plus the one bucket that straddles its end,
  never a whole partition; Spark's sort does the grouping and spills under
  pressure. The sort key is band_hash alone: a single long key takes
  Spark's radix sort, while adding doc_id forces a comparison sort (sort
  time on the 160k-row sf0.1 bucket table in a fresh local[4] JVM: 37 ms
  vs 300-800 ms), and the pair set does not depend on member order.
- pair explosion is quadratic per bucket. Every bucket is emitted as BLOCK
  rows: a small bucket is one self block pair; a giant bucket (more than
  ``salt_block_rows`` members) is striped into blocks of ``salt_block_rows``
  and emitted as its ``ceil(m/salt)^2 / 2`` block pairs, which are then
  round-robin spread, so one hot key's O(m^2) work runs over O((m/r)^2)
  independent rows. No pairs are lost — salting redistributes, it does not
  sample.
- buckets larger than ``bucket_cap`` are dropped (recall boundary, logged):
  at corpus scale those are boilerplate whose members are already collapsed
  by the exact-sha fast path upstream (plans/pipeline.py).
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from smqtk_indexing_spark.config import DedupConfig
from smqtk_indexing_spark.session import python_stage_width

# Member ids one output frame of the block kernel may hold before it is
# yielded. A row holds at most 2 x salt_block_rows ids, so a frame stays
# under this plus one row however many block pairs a giant bucket emits.
FRAME_IDS = 1 << 17


def band_buckets(sig_df: DataFrame, cfg: DedupConfig) -> DataFrame:
    """signatures -> (band_hash, doc_id) bucket membership rows.

    The un-aggregated form of the reference's KV multimap (``lsh.py:224-225``)
    — kept exploded so downstream groupBy/self-join shuffles on the bucket
    key directly.
    """
    return sig_df.select(
        F.col("doc_id"), F.explode("bands").alias("band_hash")
    )


def bucket_stats(buckets: DataFrame) -> DataFrame:
    """Bucket-size profile — operator A2/S6 analog (``lsh.py:271-281``)."""
    return (
        buckets.groupBy("band_hash")
        .agg(F.count("*").alias("sz"))
        .groupBy("sz")
        .agg(F.count("*").alias("n_buckets"))
        .orderBy("sz")
    )


class BucketTail:
    """The trailing bucket of the rows ``block_rows`` has read so far: the
    only state carried across a batch edge. ``rows`` is what it holds —
    0 once the bucket has passed the cap, whose remaining rows are then
    skipped rather than kept."""

    def __init__(self) -> None:
        self.key = None
        self.parts: list = []
        self.rows = 0
        self.over = False

    def start(self, key, members: np.ndarray, cap: int) -> None:
        self.key = key
        self.parts, self.rows, self.over = [], 0, False
        self.add(members, cap)

    def add(self, members: np.ndarray, cap: int) -> None:
        if self.over:
            return
        if self.rows + len(members) > cap:
            self.parts, self.rows, self.over = [], 0, True
            return
        # a copy, so the batch the slice came from can be released
        self.parts.append(members.copy())
        self.rows += len(members)

    def take(self) -> np.ndarray | None:
        """The finished bucket's members (None if it was dropped), then
        reset to empty."""
        members = None
        if self.key is not None and not self.over:
            members = np.concatenate(self.parts)
        self.key, self.parts, self.rows, self.over = None, [], 0, False
        return members


def _bucket_blocks(members: np.ndarray | None, salt: int) -> Iterator[tuple]:
    """(ba, bb, same) block rows of one finished bucket: with ``same`` the
    consumer keeps only y > x, so each pair comes out once in any member
    order."""
    if members is None or len(members) < 2:
        return
    if len(members) <= salt:
        yield members, members, True
        return
    blocks = [members[i : i + salt] for i in range(0, len(members), salt)]
    for i, bi in enumerate(blocks):
        for j in range(i, len(blocks)):
            yield bi, blocks[j], i == j


def block_rows(
    batches: Iterator[pd.DataFrame],
    salt: int,
    cap: int,
    tail: BucketTail | None = None,
) -> Iterator[tuple]:
    """Stream (band_hash, doc_id) batches, sorted on band_hash across the
    whole iterator, into the (ba, bb, same) block rows of every bucket with
    2..``cap`` members.

    Every bucket that ends inside a batch is emitted before the next batch
    is read; only the bucket running to the batch's end is carried over, in
    ``tail`` (pass one to observe it). A bucket is dropped as soon as it
    passes ``cap``, and its later rows are skipped, so the rows held never
    exceed one batch plus ``cap``."""
    tail = tail if tail is not None else BucketTail()
    for pdf in batches:
        bh = pdf["band_hash"].to_numpy(np.int64)
        did = pdf["doc_id"].to_numpy(np.int64)
        if not len(bh):
            continue
        starts = np.flatnonzero(np.r_[True, bh[1:] != bh[:-1]])
        ends = np.r_[starts[1:], len(bh)]
        first = 0
        if bh[0] == tail.key:
            tail.add(did[: ends[0]], cap)
            if len(starts) == 1:
                continue
            first = 1
        yield from _bucket_blocks(tail.take(), salt)
        # runs between the first and the last end inside this batch
        s, e = starts[first:-1], ends[first:-1]
        keep = (e - s >= 2) & (e - s <= cap)
        for a, b in zip(s[keep].tolist(), e[keep].tolist()):
            # copied: a view would pin the whole batch in the output frame
            yield from _bucket_blocks(did[a:b].copy(), salt)
        tail.start(bh[starts[-1]], did[starts[-1] :], cap)
    yield from _bucket_blocks(tail.take(), salt)


def block_frames(rows: Iterator[tuple]) -> Iterator[pd.DataFrame]:
    """Group block rows into output frames of about ``FRAME_IDS`` ids."""
    ba: list = []
    bb: list = []
    same: list = []
    ids = 0
    for a, b, s in rows:
        ba.append(a)
        bb.append(b)
        same.append(s)
        ids += len(a) + len(b)
        if ids >= FRAME_IDS:
            yield pd.DataFrame({"ba": ba, "bb": bb, "same": same})
            ba, bb, same, ids = [], [], [], 0
    if ba:
        yield pd.DataFrame({"ba": ba, "bb": bb, "same": same})


def candidate_pairs(
    buckets: DataFrame,
    cfg: DedupConfig,
    salt_threshold: int | None = None,
    mode: str | None = None,
    ranked: DataFrame | None = None,
) -> DataFrame:
    """Candidate pairs (a < b) sharing >= 1 band bucket, distinct.
    Corresponds to J1+J3 in SURVEY.md §2.4.

    mode="all" (default): EVERY co-bucketed pair — the exact pair-output
    semantic (matches the brute-force oracle). The bucket table is
    hash-partitioned ONCE on band_hash and sorted on it within each
    partition, so each task sees its buckets whole, as contiguous runs;
    ``block_rows`` streams them into block rows (see the module
    docstring), dropping singletons and buckets over ``bucket_cap`` inside
    the task. Quadratic per bucket: template-heavy corpora produce buckets
    of thousands of members whose sum(C(m,2)) pair explosion dominates the
    whole job (measured on the 400k-doc synthetic corpus: 1.0e9 raw pairs
    over the RAW bucket table; the upstream exact-dup collapse, which the
    pipeline always applies first, cuts the same corpus to ~570k raw pairs
    — the collapse IS the primary skew defense, this operator handles what
    survives it).

    mode="star": per bucket, connect each member to the bucket MINIMUM only
    — sum(m-1) rows, linear in corpus size. For CLUSTERING this preserves
    connectivity whenever each true group member verifies against at least
    one of its 32 bucket minima (measured: identical cluster assignments on
    the test corpora); it is the right candidate topology at 10^12-file
    scale, where giant boilerplate groups make all-pairs enumeration
    quadratic. The pair LIST is a connectivity skeleton, not the full pair
    set — use "all" when the pair set itself is the product.

    ``ranked`` must be None; it is accepted only so older callers that
    pass ``ranked=None`` keep working.
    """
    if ranked is not None:
        raise ValueError("candidate_pairs no longer takes a ranked table")
    mode = mode or cfg.pair_mode
    salt = salt_threshold or cfg.salt_block_rows
    if mode == "star":
        # Per-bucket (min, count) via groupBy agg (map-side partial
        # combine) + join-back, NOT a window: the window form sorts the
        # ENTIRE 32x-exploded bucket table inside one wide exchange,
        # while the agg's combiner ships near-unique (band_hash, min,
        # count) rows and the join-back filtered to >1-member buckets
        # probes only the ~10% surviving keys.
        #
        # The join-back is FORCED to a shuffle-hash join (build side = the
        # small survivor list). Round-6 isolated A/B on the 800k-corpus
        # bucket table (3 interleaved rounds, stage-level floor probes,
        # BENCH/cand_ab_20260817_200213.json):
        # the AQE broadcast probe builds its ~1M-row hash relation
        # SERIALLY on the driver — a constant that does not shrink with
        # cores — and lost to SHJ in-window at BOTH levels in every round
        # (best-of local[2] 31.0 vs 23.6 s, local[8] 11.6 vs 8.1 s);
        # 2->8 scaling: SHJ 0.73 raw / 0.96 floor-corrected vs AQE
        # 0.67 / 0.80. A window-min form (one exchange + full sort, no
        # join) is fastest at 2 cores (15.5 s) but the sort doesn't
        # parallelize (0.66 floor-corrected) and buffers giant buckets —
        # wrong at 10^12 files. SHJ is also the no-driver-state form:
        # both sides hash-partition on band_hash, nothing is serialized
        # on one node. Then a distinct over the linear sum(m-1) edges.
        agg = (
            buckets.groupBy("band_hash")
            .agg(F.min("doc_id").alias("m"), F.count("*").alias("n"))
            .where(F.col("n") > 1)
            .select("band_hash", "m")
        )
        return (
            buckets.join(agg.hint("shuffle_hash"), "band_hash")
            .where(F.col("doc_id") != F.col("m"))
            .select(F.col("m").alias("a"), F.col("doc_id").alias("b"))
            .distinct()
        )
    cap = cfg.bucket_cap
    width = python_stage_width(buckets.sparkSession)

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        return block_frames(block_rows(batches, salt, cap))

    blocks = (
        buckets.select("band_hash", "doc_id")
        .repartition(width, "band_hash")
        .sortWithinPartitions("band_hash")
        .mapInPandas(kernel, schema="ba array<long>, bb array<long>, same boolean")
        # spread block-pair rows (giant buckets emit many from one task)
        .repartition(width)
    )
    gx = F.explode("ba").alias("x")
    return (
        blocks.select(gx, "bb", "same")
        .select(
            F.col("x"),
            F.explode(
                F.when(F.col("same"), F.filter("bb", lambda y: y > F.col("x")))
                .otherwise(F.col("bb"))
            ).alias("y"),
        )
        .select(F.least("x", "y").alias("a"), F.greatest("x", "y").alias("b"))
        .distinct()
    )
