"""The benchmark workloads.

Each workload is one closed-loop client: an operation is sent only after
the previous one has finished. A workload function runs its untimed
warm-up, then a fixed number of timed operations, then its output checks
(untimed), and returns a :class:`Outcome`. The counts do not depend on
speed, so two commits measured with the benchmark do the same work.

With ``trace`` on, every call into a layer runs under a Spark job group
named after the layer (``Tracer.span``); ``run.py`` reads the groups back
from Spark's event log and builds the per-layer metrics from them.
"""

from __future__ import annotations

import os
import sys
import time
import traceback
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field

import pandas as pd

import inputs

# The ten bench.py headline queries, in bench.py's order, with the row
# counts bench.py records for them at sf0.1 (BENCH_r07.json).
EXPECTED_ROWS = {
    "near_dup_pairs_lsh": 255,
    "dup_clusters": 5000,
    "substring_containment": 248,
    "exact_dup_groups": 8,
    "token_stats": 5000,
    "quality_scores": 5000,
    "ann_cosine_topk": 10000,
    "ann_rp_lsh_topk": 10000,
    "minhash_signatures": 5000,
    "simhash_hamming_pairs": 121,
}

# dedup_families: timed run_dedup base builds and update_dedup batches per
# run, so each wall is a median of more than one sample. More do not fit
# the benchmark's time budget: every run also pays the session set-up and
# an untimed warm-up. The last generated batch is the warm-up's append.
BUILDS = 2
APPENDS = inputs.BATCHES - 1
# The traced run's untraced builds (B) and stage-by-stage replays (R). The
# JVM still speeds up from one run_dedup to the next, and this order gives
# both kinds the same mean position, which cancels a linear trend between
# them; four of each average out the noise of single walls in
# trace.coverage.
TRACE_ORDER = "BRRBRBBR"
MIN_PAIR_RECALL = 0.99


@dataclass
class Outcome:
    attempted: int = 0
    failed: int = 0
    walls: dict = field(default_factory=lambda: defaultdict(list))
    counts: dict = field(default_factory=dict)  # untimed sizes for the trace
    context: dict = field(default_factory=dict)

    def check(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            print(f"check failed: {what}", file=sys.stderr)


class Tracer:
    """Spans around layer calls: wall time per name and, when enabled,
    a Spark job group per name so the event log can attribute the work."""

    def __init__(self, spark, enabled: bool):
        self.sc = spark.sparkContext
        self.enabled = enabled
        self.walls: dict[str, float] = defaultdict(float)
        self.calls: dict[str, int] = defaultdict(int)

    @contextmanager
    def span(self, name: str):
        if self.enabled:
            self.sc.setJobGroup(name, name)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.walls[name] += time.perf_counter() - t0
            self.calls[name] += 1
            if self.enabled:
                self.sc.setLocalProperty("spark.jobGroup.id", None)


def _failed(out: Outcome, what: str) -> None:
    traceback.print_exc()
    out.check(False, what)


# ---------------------------------------------------------------------------
# queries_sf0.1
# ---------------------------------------------------------------------------

def queries(spark, data: str, tracer: Tracer) -> Outcome:
    """The ten headline queries at sf0.1, timed as bench.py times them:
    each query first runs untimed at sf0.001 (``data``/sf0.001), then at
    sf0.1 (``data``/sf0.1) up to its ``.count()``. One pass, so no query
    reuses a stage memoized by an earlier timed call of itself. The input
    is the fixed sf0.1 table set the recorded row counts belong to, so the
    seed does not change it."""
    import __spark_entry__ as E
    import pyarrow.parquet as pq

    qs = E.queries()
    out = Outcome()
    sf_dir, warm_dir = os.path.join(data, "sf0.1"), os.path.join(data, "sf0.001")
    out.counts["docs"] = pq.read_metadata(
        os.path.join(sf_dir, "documents.parquet")
    ).num_rows
    pass_wall = 0.0
    for name, expected in EXPECTED_ROWS.items():
        try:
            with tracer.span("entry.warm"):
                qs[name](spark, warm_dir).count()
            with tracer.span(f"entry.{name}"):
                t = time.perf_counter()
                rows = qs[name](spark, sf_dir).count()
                wall = time.perf_counter() - t
        except Exception:
            _failed(out, f"{name} raised")
            continue
        out.walls[name].append(wall)
        pass_wall += wall
        out.check(rows == expected, f"{name}: {rows} rows, expected {expected}")
        if name == "substring_containment":
            out.counts["substr_pairs"] = rows
    out.walls["pass"].append(pass_wall)
    if tracer.enabled:
        from smqtk_indexing_spark.operators import ann

        # rp_signatures runs inside rp_lsh_topk; time it alone once
        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").repartition(
            spark.sparkContext.defaultParallelism
        )
        with tracer.span("ann.lsh.rp_signatures"):
            ann.rp_signatures(emb).count()
    return out


# ---------------------------------------------------------------------------
# dedup_families
# ---------------------------------------------------------------------------

def _corpus(spark, path: str, n_batches: int):
    files = [os.path.join(path, "base.parquet")] + [
        os.path.join(path, f"batch_{i}.parquet") for i in range(1, n_batches + 1)
    ]
    return spark.read.parquet(*files)


def _clusters(res) -> pd.Series:
    pdf = res.tables["clusters"].toPandas()
    return pdf.set_index("doc_id")["cluster_id"].sort_index()


def _pair_recall(clusters: pd.Series, truth: pd.DataFrame) -> float:
    a = clusters.reindex(truth["a"].to_numpy()).to_numpy()
    b = clusters.reindex(truth["b"].to_numpy()).to_numpy()
    return float((a == b).mean())


def _new_ids(spark, path: str, i: int):
    return spark.read.parquet(os.path.join(path, f"batch_{i}.parquet")).select("doc_id")


def families(spark, path: str, tracer: Tracer) -> Outcome:
    """BUILDS run_dedup base builds over the seeded near-duplicate-family
    corpus in ``path`` (TRACE_ORDER's builds and replays when tracing),
    then APPENDS update_dedup batches whose docs join existing families,
    chained on the last build."""
    from pyspark.sql import functions as F

    from smqtk_indexing_spark.config import DedupConfig
    from smqtk_indexing_spark.plans.pipeline import run_dedup, update_dedup

    cfg = DedupConfig()
    out = Outcome()
    truth = pd.read_parquet(os.path.join(path, "truth.parquet"))
    base = spark.read.parquet(os.path.join(path, "base.parquet"))

    # Warm-up. The first run_dedup in a JVM is about twice as slow as later
    # ones, and the JVM still speeds up over the next run_dedup and
    # update_dedup calls, so the warm-up makes one of each after the first:
    # - run_dedup of the corpus after APPENDS batches, which is also the
    #   from-scratch reference for the clusters after the last timed append;
    # - update_dedup of the last generated batch onto that reference;
    # - run_dedup of the base corpus.
    with tracer.span("warmup"):
        ref = run_dedup(spark, _corpus(spark, path, APPENDS))
        reference = _clusters(ref)
        update_dedup(
            spark, _corpus(spark, path, inputs.BATCHES),
            _new_ids(spark, path, inputs.BATCHES), ref,
        )
        run_dedup(spark, base)

    results = []
    try:
        for op in TRACE_ORDER if tracer.enabled else "B" * BUILDS:
            if op == "R":
                _replay(spark, base, cfg, tracer, res, out)
                continue
            with tracer.span("pipeline.run_dedup"):
                t = time.perf_counter()
                res = run_dedup(spark, base)
                out.walls["build"].append(time.perf_counter() - t)
            results.append((0, res))
        for i in range(1, APPENDS + 1):
            new_ids = _new_ids(spark, path, i)
            with tracer.span("pipeline.update"):
                t = time.perf_counter()
                res = update_dedup(spark, _corpus(spark, path, i), new_ids, res)
                out.walls["append"].append(time.perf_counter() - t)
            results.append((i, res))
    except Exception:
        _failed(out, "run_dedup/update_dedup raised")

    out.counts["base_rows"] = len(pd.read_parquet(os.path.join(path, "base.parquet")))

    # output checks, untimed: one per timed operation
    recall = None
    for i, res in results:
        low = res.tables["dup_pairs"].where(F.col("jaccard") < cfg.tau).count()
        clusters = _clusters(res)
        recall = _pair_recall(clusters, truth[truth["batch"] <= i])
        ok = low == 0 and recall >= MIN_PAIR_RECALL
        what = f"batch {i}: {low} pairs below tau, pair recall {recall:.4f}"
        if i == APPENDS:
            same = clusters.equals(reference)
            ok = ok and same
            what += f", clusters equal to a from-scratch run_dedup: {same}"
        out.check(ok, what)
    out.context["pair_recall"] = recall
    return out


def _materialize(df):
    """The stage boundary run_dedup's Checkpointer draws: a lazy local
    checkpoint whose first action is the row count."""
    df = df.localCheckpoint(eager=False)
    return df, df.count()


def _replay(spark, files, cfg, tracer: Tracer, mirrored, out: Outcome) -> None:
    """Stage-by-stage replay of ``run_dedup`` (no substrings), each layer's
    public function called under its own span and materialized at the
    boundary. The replay's clusters must equal those of ``mirrored``, the
    untraced run_dedup result it mirrors."""
    from pyspark.sql import functions as F

    from smqtk_indexing_spark.operators import candidates as C
    from smqtk_indexing_spark.operators.cluster import connected_components
    from smqtk_indexing_spark.operators.dedup import member_map_from_sigs
    from smqtk_indexing_spark.operators.signatures import (
        compute_shingle_arrays,
        compute_signatures,
    )
    from smqtk_indexing_spark.operators.verify import verify_pairs

    t_start = time.perf_counter()
    base = files.select(
        F.col("doc_id").cast("long").alias("doc_id"), F.col("content").alias("text")
    )
    with tracer.span("signatures"):
        sigs_all, out.counts["docs"] = _materialize(
            compute_signatures(base, cfg, include=("simhash", "bands", "sha256"))
        )
    with tracer.span("dedup"):
        member_map, n_docs = _materialize(member_map_from_sigs(sigs_all))
    reps_ids = member_map.where(F.col("doc_id") == F.col("rep_id")).select("doc_id")
    if n_docs <= cfg.broadcast_id_cap:
        reps_ids = F.broadcast(reps_ids)
    sigs = sigs_all.join(reps_ids, "doc_id", "left_semi")
    with tracer.span("candidates"):
        buckets = C.band_buckets(sigs, cfg)
        ranked = None
        if cfg.pair_mode == "all" and n_docs >= cfg.ranked_persist_min_docs:
            ranked, _ = _materialize(C.ranked_hot_buckets(buckets, cfg))
        cand, out.counts["cand_pairs"] = _materialize(
            C.candidate_pairs(buckets, cfg, ranked=ranked)
        )
    with tracer.span("signatures.shingles"):
        cand_ids = (
            cand.select(F.col("a").alias("doc_id"))
            .unionAll(cand.select(F.col("b").alias("doc_id")))
            .distinct()
        )
        if n_docs <= cfg.broadcast_id_cap:
            cand_docs = base.join(F.broadcast(cand_ids), "doc_id", "left_semi")
        else:
            width = max(cfg.shuffle_partitions, 4 * spark.sparkContext.defaultParallelism)
            cand_docs = base.join(
                cand_ids.hint("shuffle_hash"), "doc_id", "left_semi"
            ).repartition(width)
        cand_docs = cand_docs.persist()
        out.counts["shingle_docs"] = cand_docs.count()
        shingle_df = compute_shingle_arrays(cand_docs, cfg).persist()
        shingle_df.count()
    with tracer.span("verify"):
        pairs, out.counts["dup_pairs"] = _materialize(
            verify_pairs(cand, shingle_df, cfg)
        )
    cand_docs.unpersist()
    shingle_df.unpersist()
    exact_edges = member_map.where(F.col("doc_id") != F.col("rep_id")).select(
        F.col("doc_id").alias("a"), F.col("rep_id").alias("b")
    )
    edges = pairs.select("a", "b").unionByName(exact_edges)
    with tracer.span("cluster"):
        clusters, _ = _materialize(
            connected_components(edges, nodes=member_map.select("doc_id"))
        )
    out.walls["replay"].append(time.perf_counter() - t_start)

    # untimed probes: sizes the spans above do not count
    out.counts["reps"] = reps_ids.count()
    out.counts["edges"] = edges.count()
    out.counts["components"] = clusters.select("cluster_id").distinct().count()
    with tracer.span("probe.bucket_stats"):
        stats = C.bucket_stats(C.band_buckets(sigs, cfg)).toPandas()
    out.counts["bucket_rows"] = int((stats["sz"] * stats["n_buckets"]).sum())
    out.counts["max_bucket"] = int(stats["sz"].max()) if len(stats) else 0
    out.counts["dropped_buckets"] = int(stats.loc[stats["sz"] > cfg.bucket_cap, "n_buckets"].sum())

    replayed = clusters.toPandas().set_index("doc_id")["cluster_id"].sort_index()
    same = replayed.equals(_clusters(mirrored))
    out.check(same, f"replayed clusters equal run_dedup clusters: {same}")

