"""Incremental pipeline update: append a batch, update signatures/pairs
incrementally, and verify cluster equivalence with a from-scratch run over
the full corpus (reference state-transition pattern: additive-update
invariants, tests/impls/nn_index/test_faiss.py:197-226 analog)."""

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from smqtk_indexing_spark.config import DedupConfig
from smqtk_indexing_spark.plans.pipeline import run_dedup, update_dedup
from smqtk_indexing_spark.sources.files import synth_files

CFG = DedupConfig()


def test_incremental_update_equals_full_rebuild(spark):
    files, _ = synth_files(n=500, seed=23)
    full_df = spark.createDataFrame(files)
    first = spark.createDataFrame(files.iloc[:350])
    new_ids = spark.createDataFrame(
        [(int(i),) for i in files.iloc[350:]["doc_id"]], "doc_id long"
    )

    prior = run_dedup(spark, first, CFG)
    updated = update_dedup(spark, full_df, new_ids, prior, CFG)
    scratch = run_dedup(spark, full_df, CFG)

    inc_clusters = {
        (r.doc_id, r.cluster_id) for r in updated.tables["clusters"].collect()
    }
    full_clusters = {
        (r.doc_id, r.cluster_id) for r in scratch.tables["clusters"].collect()
    }
    assert inc_clusters == full_clusters

    inc_pairs = {(r.a, r.b) for r in updated.tables["dup_pairs"].collect()}
    full_pairs = {(r.a, r.b) for r in scratch.tables["dup_pairs"].collect()}
    # full-run pairs are generated among exact-dup representatives of the
    # FULL corpus; the incremental run verified some of them in round one
    # under the smaller corpus's representative choice. The pair sets must
    # agree up to exact-duplicate substitution — cluster equality above is
    # the strong check; here assert no full-run pair is missing.
    assert full_pairs <= inc_pairs


def test_incremental_update_from_sha_less_prior(spark):
    """Resume compatibility (ADVICE r5): a prior whose signatures
    checkpoint predates the sha256 column must be backfilled (one content
    pass over the prior corpus), not crash the unionByName or feed null
    shas into the exact-dup map."""
    files, _ = synth_files(n=400, seed=31)
    full_df = spark.createDataFrame(files)
    first = spark.createDataFrame(files.iloc[:280])
    new_ids = spark.createDataFrame(
        [(int(i),) for i in files.iloc[280:]["doc_id"]], "doc_id long"
    )
    prior = run_dedup(spark, first, CFG)
    # simulate the pre-r5 checkpoint schema
    prior.tables["signatures"] = prior.tables["signatures"].drop("sha256")

    updated = update_dedup(spark, full_df, new_ids, prior, CFG)
    scratch = run_dedup(spark, full_df, CFG)
    inc = {(r.doc_id, r.cluster_id) for r in updated.tables["clusters"].collect()}
    full = {(r.doc_id, r.cluster_id) for r in scratch.tables["clusters"].collect()}
    assert inc == full
    sigs = updated.tables["signatures"]
    assert "sha256" in sigs.columns
    assert sigs.where(F.col("sha256").isNull()).count() == 0


def test_incremental_update_signature_counts(spark):
    files, _ = synth_files(n=300, seed=29)
    full_df = spark.createDataFrame(files)
    first = spark.createDataFrame(files.iloc[:200])
    new_ids = spark.createDataFrame(
        [(int(i),) for i in files.iloc[200:]["doc_id"]], "doc_id long"
    )
    prior = run_dedup(spark, first, CFG)
    updated = update_dedup(spark, full_df, new_ids, prior, CFG)
    # every doc has exactly one signature row after the update
    sigs = updated.tables["signatures"]
    assert sigs.count() == 300
    assert sigs.select("doc_id").distinct().count() == 300


def test_chained_updates_equal_scratch_after_every_step(spark):
    """Three update_dedup appends in a chain; after each one the clusters
    equal a from-scratch run_dedup over the same corpus. The second batch
    only joins existing families: exact copies, and whitespace variants
    whose shingles (so every band bucket) equal their source's, so every
    bucket it touches already existed."""
    files, truth = synth_files(n=400, seed=41)
    order = np.random.default_rng(41).permutation(len(files))
    first, batch1, batch3 = (
        files.iloc[order[:250]], files.iloc[order[250:320]], files.iloc[order[320:]]
    )
    # sources: members of families both of whose ends are already indexed
    seen = set(first["doc_id"]) | set(batch1["doc_id"])
    in_seen = truth["a"].isin(seen) & truth["b"].isin(seen)
    family = sorted(
        {int(x) for x in pd.concat([truth["a"][in_seen], truth["b"][in_seen]])}
    )[:12]
    assert len(family) >= 6
    src = files.set_index("doc_id").loc[family].reset_index()
    copies = src.assign(doc_id=src["doc_id"] + 10_000)
    variants = src.assign(
        doc_id=src["doc_id"] + 20_000,
        content=src["content"].str.replace(" ", "  ", n=1),
    )
    batch2 = pd.concat([copies, variants], ignore_index=True)
    assert (variants["content"] != src["content"]).all()

    corpus = first
    res = run_dedup(spark, spark.createDataFrame(first), CFG)
    for batch in (batch1, batch2, batch3):
        corpus = pd.concat([corpus, batch], ignore_index=True)
        all_df = spark.createDataFrame(corpus)
        new_ids = spark.createDataFrame(
            [(int(i),) for i in batch["doc_id"]], "doc_id long"
        )
        old_bands = {
            h
            for r in res.tables["signatures"].select("bands").collect()
            for h in r.bands
        }
        res = update_dedup(spark, all_df, new_ids, res, CFG)
        if batch is batch2:
            new_bands = {
                h
                for r in res.tables["signatures"]
                .where(F.col("doc_id") >= 10_000)
                .select("bands")
                .collect()
                for h in r.bands
            }
            assert new_bands and new_bands <= old_bands
        scratch = run_dedup(spark, all_df, CFG)
        inc = {(r.doc_id, r.cluster_id) for r in res.tables["clusters"].collect()}
        full = {
            (r.doc_id, r.cluster_id) for r in scratch.tables["clusters"].collect()
        }
        assert inc == full
        assert len(inc) == len(corpus)
    # every copy and variant landed in its source's cluster
    labels = dict(inc)
    for d in family:
        assert labels[d + 10_000] == labels[d] == labels[d + 20_000]
