"""Driver-contract smoke tests: entry() runs, queries()/oracle_sql() keys
line up, a fast subset of queries matches DuckDB at sf0.001."""

import sys

import duckdb
import pytest

sys.path.insert(0, "/root/repo")
import __spark_entry__ as E

FAST_ORACLE_QUERIES = [
    "sha256_rows",
    "exact_dup_groups",
    "token_stats",
    "quality_scores",
    "lang_id",
    "index_counts",
    "multimodal_features",
]


def test_entry_returns_rows(spark):
    df = E.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert set(df.columns) == {"a", "b", "jaccard"}


def test_oracle_keys_subset_of_queries():
    qs = E.queries()
    os_ = E.oracle_sql()
    assert set(os_) <= set(qs)
    # the hash-dependent ones are intentionally rows-only
    assert "minhash_signatures" in qs and "minhash_signatures" not in os_


def test_whitespace_ratio_vertical_tab_matches_oracle(spark):
    # round-2 ADVICE: Java \s includes \x0B, RE2 \s does not — the shared
    # explicit class must keep the twins identical on \x0B-bearing docs
    from smqtk_indexing_spark.functions import text as TX

    doc = "a\x0bb \tc\x0b"
    df = spark.createDataFrame([(1, doc)], "doc_id long, text string")
    got = df.select(TX.whitespace_ratio("text").alias("r")).first()["r"]
    want = duckdb.execute(
        "SELECT length(regexp_replace(?, '[^ \t\n\x0B\f\r]', '', 'g'))::DOUBLE"
        " / length(?)",
        [doc, doc],
    ).fetchone()[0]
    assert got == want == 4 / 7


@pytest.mark.parametrize("name", FAST_ORACLE_QUERIES)
def test_fast_queries_match_duckdb_sf0001(spark, name, sf001_dir):
    import math

    df = E.queries()[name](spark, sf001_dir)
    cols = [c.lower() for c in df.columns]
    rows = [tuple(r) for r in df.collect()]
    con = duckdb.connect()
    for t in ["documents", "embeddings"]:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf001_dir}/{t}.parquet'")
    res = con.execute(E.oracle_sql()[name])
    ocols = [d[0].lower() for d in res.description]
    orows = res.fetchall()

    def norm(cs, rs):
        idx = sorted(range(len(cs)), key=lambda i: cs[i])
        def cell(v):
            return f"{v:.9g}" if isinstance(v, float) and not math.isnan(v) else str(v)
        return sorted(tuple(cell(r[i]) for i in idx) for r in rs)

    assert sorted(cols) == sorted(ocols)
    assert norm(cols, rows) == norm(ocols, orows)


@pytest.mark.parametrize("sf", ["sf0.001", "sf0.01", "sf0.1"])
def test_candidate_width_does_not_change_pairs(spark, monkeypatch, sf, sf001_dir):
    # python_stage_width gives the candidate stage one task per core. The
    # pair and top-k sets must not depend on the width.
    import os

    from smqtk_indexing_spark.operators import ann, candidates

    sf_dir = os.path.join(os.path.dirname(sf001_dir), sf)

    def build():
        pairs = E._lsh_pairs(spark, sf_dir, materialize=False)
        topk = ann.rp_lsh_topk(E._emb(spark, sf_dir), k=E.TOPK, materialize=False)
        return (
            sorted(map(tuple, pairs.collect())),
            sorted(map(tuple, topk.collect())),
        )

    new = build()
    monkeypatch.setattr(candidates, "python_stage_width", lambda spark: 32)
    old = build()
    assert new == old
    assert new[0] and new[1]
