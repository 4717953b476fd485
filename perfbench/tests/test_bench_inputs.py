import filecmp
import os

import numpy as np

import inputs

FILES = ["base.parquet", "truth.parquet"] + [
    f"batch_{i}.parquet" for i in range(1, inputs.BATCHES + 1)
]


def test_same_seed_same_bytes_other_seed_differs(tmp_path):
    a = inputs.write_families(3, str(tmp_path / "a"))
    b = inputs.write_families(3, str(tmp_path / "b"))
    c = inputs.write_families(4, str(tmp_path / "c"))
    for name in FILES:
        assert filecmp.cmp(os.path.join(a, name), os.path.join(b, name), shallow=False)
    assert not filecmp.cmp(
        os.path.join(a, "base.parquet"), os.path.join(c, "base.parquet"), shallow=False
    )


def test_planted_pairs_reach_tau():
    # every planted (root, member) pair is a near or exact duplicate at the
    # engine's default threshold, so pair recall can reach 1
    from smqtk_indexing_spark import kernels as K
    from smqtk_indexing_spark.config import DedupConfig

    cfg = DedupConfig()
    base, batches, truth = inputs.families(5)
    text = dict(zip(base["doc_id"], base["content"]))
    for b in batches:
        text.update(zip(b["doc_id"], b["content"]))
    assert len(text) == len(base) + sum(len(b) for b in batches)
    rng = np.random.default_rng(0)
    for i in rng.choice(len(truth), size=200, replace=False):
        a, b = truth.iloc[i][["a", "b"]]
        sa = set(K.text_shingles(text[a], cfg.shingle_k))
        sb = set(K.text_shingles(text[b], cfg.shingle_k))
        assert len(sa & sb) / len(sa | sb) >= cfg.tau
