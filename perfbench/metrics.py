"""Metric composition: from a workload's timings, counts and event-log
groups to the named metrics of BENCHMARK.json.

Pure functions, so the metric names can be checked without Spark.
"""

from __future__ import annotations

import statistics

from workloads import EXPECTED_ROWS

QUERIES = tuple(EXPECTED_ROWS)

# layer -> the span (and job group) whose work stands for it, per workload.
# On queries_sf0.1 the queries are called whole; a query whose body is one
# layer's public function stands for that layer.
LAYER_SPANS = {
    "queries_sf0.1": {
        "signatures": "entry.minhash_signatures",
        "substrings": "entry.substring_containment",
        "ann.exact": "entry.ann_cosine_topk",
        "ann.lsh": "entry.ann_rp_lsh_topk",
        "ann.lsh.rp_signatures": "ann.lsh.rp_signatures",
    },
    "dedup_families": {
        "signatures": "signatures",
        "signatures.shingles": "signatures.shingles",
        "dedup": "dedup",
        "candidates": "candidates",
        "verify": "verify",
        "cluster": "cluster",
        "pipeline.update": "pipeline.update",
    },
}

# spans that together make up the traced operation, and the span of the
# untraced operation they are compared with
TRACED = {
    "queries_sf0.1": ([f"entry.{q}" for q in QUERIES], None),
    "dedup_families": (
        ["signatures", "dedup", "candidates", "signatures.shingles", "verify", "cluster"],
        "pipeline.run_dedup",
    ),
}


def median(xs) -> float:
    return statistics.median(xs) if xs else 0.0


def end_to_end(workload: str, walls: dict, counts: dict, setup_s: float) -> dict:
    """Name -> value of every end_to_end metric."""
    if workload == "queries_sf0.1":
        wall = median(walls["pass"])
        files_per_s = counts["docs"] / median(walls["near_dup_pairs_lsh"])
    else:
        wall = median(walls["append"])
        files_per_s = counts["base_rows"] / median(walls["build"])
    return {
        "setup_s": setup_s,
        "wall_s": wall,
        "files_per_s": files_per_s,
    }


def per_layer(
    workload: str,
    walls: dict,
    span_walls: dict,
    span_calls: dict,
    counts: dict,
    groups: dict,
    session: tuple,
    cpus: int,
) -> dict:
    """Name -> value of every per_layer metric. Times and event-log totals
    are per call of the layer; layers the workload does not call read 0."""
    spans = LAYER_SPANS[workload]

    def busy(span: str | None) -> float:
        n = span_calls.get(span, 0)
        return span_walls[span] / n if n else 0.0

    def tot(span: str | None, field: str) -> float:
        n = span_calls.get(span, 0)
        g = groups.get(span)
        return getattr(g, field) / n if n and g else 0.0

    def layer(name: str, field: str | None = None) -> float:
        span = spans.get(name)
        return busy(span) if field is None else tot(span, field)

    def util(name: str) -> float:
        b = layer(name)
        return layer(name, "executor_run_s") / (b * cpus) if b else 0.0

    m = {"session.start_s": session[0], "session.warm_s": session[1]}
    for q in QUERIES:
        m[f"entry.{q}.s"] = busy(f"entry.{q}")
        m[f"entry.{q}.tasks"] = tot(f"entry.{q}", "tasks")
    m.update({
        "signatures.busy_s": layer("signatures"),
        "signatures.docs": counts.get("docs", 0),
        "signatures.shingle_busy_s": layer("signatures.shingles"),
        "signatures.shingle_docs": counts.get("shingle_docs", 0),
        "signatures.tasks": layer("signatures", "tasks"),
        "signatures.python_s": layer("signatures", "python_s"),
        "signatures.executor_run_s": layer("signatures", "executor_run_s"),
        "signatures.core_util": util("signatures"),
        "dedup.busy_s": layer("dedup"),
        "dedup.reps": counts.get("reps", 0),
        "candidates.busy_s": layer("candidates"),
        "candidates.bucket_rows": counts.get("bucket_rows", 0),
        "candidates.max_bucket": counts.get("max_bucket", 0),
        "candidates.dropped_buckets": counts.get("dropped_buckets", 0),
        "candidates.pairs": counts.get("cand_pairs", 0),
        "candidates.tasks": layer("candidates", "tasks"),
        "candidates.python_s": layer("candidates", "python_s"),
        "candidates.shuffle_write_mb": layer("candidates", "shuffle_write_mb"),
        "candidates.spill_mb": layer("candidates", "spill_mb"),
        "candidates.core_util": util("candidates"),
        "verify.busy_s": layer("verify"),
        "verify.pairs_out": counts.get("dup_pairs", 0),
        "verify.yield": (
            counts["dup_pairs"] / counts["cand_pairs"] if counts.get("cand_pairs") else 0.0
        ),
        "verify.tasks": layer("verify", "tasks"),
        "verify.python_s": layer("verify", "python_s"),
        "substrings.busy_s": layer("substrings"),
        "substrings.pairs": counts.get("substr_pairs", 0),
        "substrings.tasks": layer("substrings", "tasks"),
        "substrings.python_s": layer("substrings", "python_s"),
        "substrings.shuffle_write_mb": layer("substrings", "shuffle_write_mb"),
        "substrings.spill_mb": layer("substrings", "spill_mb"),
        "cluster.busy_s": layer("cluster"),
        "cluster.edges": counts.get("edges", 0),
        "cluster.components": counts.get("components", 0),
        "pipeline.update_busy_s": layer("pipeline.update"),
        "pipeline.update_tasks": layer("pipeline.update", "tasks"),
        "pipeline.update_python_s": layer("pipeline.update", "python_s"),
        "pipeline.update_shuffle_write_mb": layer("pipeline.update", "shuffle_write_mb"),
        "ann.exact.busy_s": layer("ann.exact"),
        "ann.exact.tasks": layer("ann.exact", "tasks"),
        "ann.exact.python_s": layer("ann.exact", "python_s"),
        "ann.lsh.busy_s": layer("ann.lsh"),
        "ann.lsh.rp_signatures_s": layer("ann.lsh.rp_signatures"),
        "ann.lsh.tasks": layer("ann.lsh", "tasks"),
        "ann.lsh.python_s": layer("ann.lsh", "python_s"),
        "ann.lsh.shuffle_write_mb": layer("ann.lsh", "shuffle_write_mb"),
    })

    traced, untraced_span = TRACED[workload]
    covered = sum(busy(s) for s in traced)
    if untraced_span is None:
        # called whole: the traced operation is the untraced one
        untraced, overhead = covered, 0.0
    else:
        untraced = busy(untraced_span)
        overhead = statistics.mean(walls["replay"]) - untraced if walls.get("replay") else 0.0
    m["trace.coverage"] = covered / untraced if untraced else 0.0
    m["trace.overhead_s"] = overhead
    return m

