"""Bucket construction + candidate-pair generation — the heart of the engine.

Reference analog: the hash->uuids multimap build (``/root/reference/
smqtk_indexing/impls/nn_index/lsh.py:315-323``) and the near-hash -> candidate
UUID expansion (``lsh.py:489-497``), generalized from single-query lookup to
an all-pairs self-join: every document is simultaneously query and corpus.

Scale design (north rule: "partitioning / shuffle / skew handled explicitly"):
- band keys already fold the band index (kernels.band_keys), so the bucket key
  is one LongType column — a single hash-partitionable shuffle key.
- pair explosion is quadratic per bucket. Buckets are split into a *normal*
  path (self-equi-join; Catalyst/AQE pick the physical join and split skewed
  partitions) and a *salted* path for giant buckets: members are striped into
  blocks of ~``salt_block_rows`` and block-pairs are enumerated via an
  exploded block-index join, so one hot key's O(m^2) work spreads over
  O((m/r)^2) independent tasks. No pairs are lost — salting redistributes,
  it does not sample.
- buckets larger than ``bucket_cap`` are dropped (recall boundary, logged):
  at corpus scale those are boilerplate whose members are already collapsed
  by the exact-sha fast path upstream (plans/pipeline.py).
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from smqtk_indexing_spark.config import DedupConfig
from smqtk_indexing_spark.session import python_stage_width


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


def ranked_hot_buckets(buckets: DataFrame, cfg: DedupConfig) -> DataFrame:
    """(band_hash, doc_id, m, rn) for members of HOT buckets only
    (2 <= m <= bucket_cap): bucket sizes via groupBy count (map-side
    partial combine), an AQE-adaptive join back (broadcast while the hot
    bucket list is small, shuffle join at corpus scale), then ONE rank
    window over the ~10x-smaller survivor set.

    This is the shared input of every all-mode candidate branch (x side,
    y side, giant-bucket striping). It exists as its own operator so
    callers can MATERIALIZE it once (pipeline checkpoint stage / persist):
    Catalyst does not share non-exchange subplans between the self-join's
    branches, so an unmaterialized frame re-derives the explode + join +
    window once per branch (round-4 measurement: the duplicated derivation
    was most of the cand_pairs stage wall)."""
    sizes = (
        buckets.groupBy("band_hash")
        .agg(F.count("*").alias("m"))
        .where((F.col("m") > 1) & (F.col("m") <= cfg.bucket_cap))
    )
    w_rank = Window.partitionBy("band_hash").orderBy("doc_id")
    return buckets.join(sizes, "band_hash").withColumn(
        "rn", F.row_number().over(w_rank)
    )


def candidate_pairs_local(
    buckets: DataFrame,
    cfg: DedupConfig,
    salt_threshold: int | None = None,
    rows: int | None = None,
) -> DataFrame:
    """All-mode candidate pairs via ONE bucket-key exchange + a
    per-partition kernel — the r07 generator for the driver-query paths
    (same pair set as ``candidate_pairs(mode='all')``, oracle-gated).

    The hybrid generator derives the shared ranked-hot-bucket table with a
    sizes groupBy (exchange 1), an AQE join-back, and a rank window
    (exchange 2), then self-joins the survivors — and every branch that is
    not materialized re-derives the upstream signature pass (guide §2.4:
    remove shuffles outright; the rank ordinal only re-encoded doc_id
    order). Here the bucket table is hash-partitioned ONCE on band_hash,
    so each task holds its buckets complete and computes exact sizes
    locally: singletons and ``bucket_cap`` drops never leave the task, and
    the sizes join + rank window disappear. Emission is uniform BLOCK
    rows: a small bucket (m <= ``salt_threshold``) is one self block pair
    over its sorted member list; a giant bucket is striped into
    ``ceil(m/salt)^2`` block pairs exactly like the hybrid's salted path —
    so a hot key's O(m^2) enumeration still spreads over the whole cluster
    after the block repartition, and no single kernel task materializes a
    giant bucket's pair set. Downstream: one explode to (a, b) + distinct
    (unchanged).

    Measured at the 50k-doc bench corpus (local[32], warm): the
    near_dup_pairs_lsh candidate stage (ranked persist + hybrid) 3.5 s ->
    ~1 s; pair sets identical at every SF.

    Memory: each kernel task buffers its whole hash partition, so the
    width comes from ``session.python_stage_width``. Pass ``rows`` (the
    bucket-table row count) when it is known: the width then grows so no
    task holds more than ``PYTHON_STAGE_ROWS_PER_TASK`` rows. Without it
    the width is one task per core, which bounds the path to the
    query-table scale it serves; the pipeline keeps the streaming hybrid
    generator.
    """
    salt = salt_threshold or cfg.salt_block_rows
    cap = cfg.bucket_cap
    width = python_stage_width(buckets.sparkSession, rows)

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        pdfs = list(batches)
        if not pdfs:
            return
        bh = np.concatenate([p["band_hash"].to_numpy(np.int64) for p in pdfs])
        did = np.concatenate([p["doc_id"].to_numpy(np.int64) for p in pdfs])
        o = np.lexsort((did, bh))
        bh, did = bh[o], did[o]
        starts = np.flatnonzero(np.concatenate([[True], bh[1:] != bh[:-1]]))
        ends = np.concatenate([starts[1:], [len(bh)]])
        sizes = ends - starts
        keep = (sizes >= 2) & (sizes <= cap)
        ba: list = []
        bb: list = []
        same: list = []
        for s, e in zip(starts[keep], ends[keep]):
            mem = did[s:e]
            m = e - s
            if m <= salt:
                ba.append(mem)
                bb.append(mem)
                same.append(True)
            else:
                blocks = [mem[i : i + salt] for i in range(0, m, salt)]
                nb = len(blocks)
                for i in range(nb):
                    for j in range(i, nb):
                        ba.append(blocks[i])
                        bb.append(blocks[j])
                        same.append(i == j)
        if ba:
            yield pd.DataFrame({"ba": ba, "bb": bb, "same": same})

    blocks = (
        buckets.repartition(width, "band_hash")
        .mapInPandas(gen, schema="ba array<long>, bb array<long>, same boolean")
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
    semantic (matches the brute-force oracle). Quadratic per bucket:
    template-heavy corpora produce buckets of thousands of members whose
    sum(C(m,2)) pair explosion dominates the whole job (measured on the
    400k-doc synthetic corpus: 1.0e9 raw pairs over the RAW bucket table;
    the upstream exact-dup collapse, which the pipeline always applies
    first, cuts the same corpus to ~570k raw pairs — the collapse IS the
    primary skew defense, this operator handles what survives it).

    mode="star": per bucket, connect each member to the bucket MINIMUM only
    — sum(m-1) rows, linear in corpus size. For CLUSTERING this preserves
    connectivity whenever each true group member verifies against at least
    one of its 32 bucket minima (measured: identical cluster assignments on
    the test corpora); it is the right candidate topology at 10^12-file
    scale, where giant boilerplate groups make all-pairs enumeration
    quadratic. The pair LIST is a connectivity skeleton, not the full pair
    set — use "all" when the pair set itself is the product.
    """
    mode = mode or cfg.pair_mode
    salt_threshold = salt_threshold or cfg.salt_block_rows
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
        # bucket table (tools/cand_stage_ab.py, 3 interleaved rounds,
        # stage-level floor probes, BENCH/cand_ab_20260817_200213.json):
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
    # Hybrid "all" topology (round-3 measurement: the in-row HOF explosion
    # scaled 2->8 at only 0.53 on small-bucket corpora while a
    # window-rank co-partitioned self-join scaled at 0.84 and was 24%
    # faster at 8 cores; identical pair sets):
    #
    # - Bucket sizes come from a groupBy COUNT first (map-side partial
    #   combine), not a count window: ~90% of bucket rows are singletons
    #   (11.9M -> 1.09M survivors measured on the 400k corpus), so
    #   filtering BEFORE the rank window sorts 1/10th the rows — and the
    #   union's two branches each re-derive their input, so keeping that
    #   input lean also halves the duplicated work (round-4: this cut the
    #   cand_pairs stage from ~22 s to ~8 s at local[8]). The hot-size
    #   join is left to AQE: broadcast while the >1-member bucket list is
    #   small, shuffle join at corpus scale.
    # - SMALL buckets (m <= salt_threshold — after the exact-dup collapse
    #   this is virtually every bucket): the rank-ordered self-join
    #   reuses the window's hash partitioning, so pair generation is
    #   whole-stage-codegen JVM work with no interpreted higher-order
    #   functions and no second wide exchange.
    # - GIANT buckets (m > salt_threshold): the salted in-row block
    #   machinery below — a hot band_hash key would serialize the
    #   co-partitioned join into one task, so giant buckets' O(m^2) work
    #   is striped over O((m/r)^2) independent block-pair rows instead
    #   (deterministic by construction, not reliant on AQE skew splits).
    # ``ranked``: pass a MATERIALIZED ranked_hot_buckets(buckets, cfg)
    # frame to stop each branch below re-deriving it (see that operator's
    # docstring); defaults to the lazy inline form.
    hot = ranked if ranked is not None else ranked_hot_buckets(buckets, cfg)
    small = hot.where(F.col("m") <= salt_threshold)
    x = small.select(
        "band_hash", F.col("doc_id").alias("xa"), F.col("rn").alias("ra")
    )
    y = small.select(
        "band_hash", F.col("doc_id").alias("yb"), F.col("rn").alias("rb")
    )
    small_pairs = (
        x.join(y, "band_hash")
        .where(F.col("ra") < F.col("rb"))
        .select(F.least("xa", "yb").alias("a"), F.greatest("xa", "yb").alias("b"))
    )
    giant = hot.where(F.col("m") > salt_threshold).select("band_hash", "doc_id")
    nb = F.ceil(F.size("ms") / F.lit(salt_threshold)).cast("int")
    # (i, j) block-INDEX pairs are enumerated first (O(nb^2) ints, a few
    # KB even at bucket_cap) and the member blocks are sliced only in the
    # per-row projection AFTER the explode — so no single row ever holds
    # the fully materialized nested block-pair array (round-4 VERDICT
    # item 3: the previous in-row form evaluated ~nb^2 x 2r longs, ~78 MB
    # at bucket_cap=100k/salt=1024, inside ONE row). Peak per-row memory
    # is now O(m + 2 x salt_threshold): the collect_list row plus one
    # sliced block pair.
    index_pairs = F.flatten(
        F.transform(
            F.sequence(F.lit(0), F.col("nb") - 1),
            lambda i: F.transform(
                F.sequence(i, F.col("nb") - 1),
                lambda j: F.struct(i.alias("i"), j.alias("j")),
            ),
        )
    )
    g = (
        giant.groupBy("band_hash")
        .agg(F.collect_list("doc_id").alias("ms"))
        .withColumn("nb", nb)
        .select("ms", F.explode(index_pairs).alias("ij"))
        .select(
            F.slice(
                "ms", F.col("ij.i") * salt_threshold + 1, salt_threshold
            ).alias("ba"),
            F.slice(
                "ms", F.col("ij.j") * salt_threshold + 1, salt_threshold
            ).alias("bb"),
            (F.col("ij.i") == F.col("ij.j")).alias("same"),
        )
        # spread giant buckets' work over the WHOLE cluster: width follows
        # the session's actual parallelism, not a fixed config constant
        # (round-1 VERDICT item 8)
        .repartition(python_stage_width(buckets.sparkSession))
    )
    gx = F.explode("ba").alias("x")
    giant_pairs = (
        g.select(gx, "bb", "same")
        .select(
            F.col("x"),
            F.explode(
                F.when(F.col("same"), F.filter("bb", lambda y: y > F.col("x")))
                .otherwise(F.col("bb"))
            ).alias("y"),
        )
        .select(F.least("x", "y").alias("a"), F.greatest("x", "y").alias("b"))
    )
    return small_pairs.unionByName(giant_pairs).distinct()
