"""Round-7 optimization harness — per-query isolation at arbitrary SF dirs.

NOT the driver contract (that is the frozen bench.py). This file exists so
optimization work can time individual queries at the driver's escalated
scale (/root/testdata/sf1.0) with the same methodology as bench.py
(per-query warm pass at sf0.001, steal telemetry, .count() action) plus an
optional noop-sink mode (guide §1.4) that computes every column.

Usage:
  python bench_extra.py [--sf DIR] [--repeats N] [--noop] [query ...]
"""

from __future__ import annotations

import json
import os
import sys
import time


def _steal_counters():
    p = open("/proc/stat").readline().split()
    return int(p[8]), sum(int(x) for x in p[1:])


def _steal_pct(before, after):
    return round(100 * (after[0] - before[0]) / max(1, after[1] - before[1]), 2)


def main() -> None:
    args = sys.argv[1:]
    sf_dir = "/root/testdata/sf1.0"
    repeats = 1
    noop = False
    names = []
    i = 0
    while i < len(args):
        a = args[i]
        if a == "--sf":
            sf_dir = args[i + 1]
            i += 2
        elif a == "--repeats":
            repeats = int(args[i + 1])
            i += 2
        elif a == "--noop":
            noop = True
            i += 1
        else:
            names.append(a)
            i += 1
    if repeats < 1:
        raise SystemExit(f"--repeats must be >= 1, got {repeats}")
    if not names:
        names = [
            "near_dup_pairs_lsh",
            "dup_clusters",
            "substring_containment",
            "exact_dup_groups",
            "token_stats",
            "quality_scores",
            "ann_cosine_topk",
            "ann_rp_lsh_topk",
            "minhash_signatures",
            "simhash_hamming_pairs",
        ]

    import bench as B
    import __spark_entry__ as E
    from smqtk_indexing_spark.session import get_spark

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark = get_spark(
        app_name="bench-extra", master=f"local[{cpus}]", shuffle_partitions=2 * cpus
    )
    B._warm_workers(spark)
    warm_dir = os.environ.get("SPARK_GRAFT_WARM_DIR", "/root/testdata/sf0.001")
    qs = E.queries()
    out: dict = {}
    for name in names:
        qs[name](spark, warm_dir).count()
        samples = []
        steals = []
        for _ in range(repeats):
            s0 = _steal_counters()
            t0 = time.time()
            df = qs[name](spark, sf_dir)
            if noop:
                df.write.format("noop").mode("overwrite").save()
                n = -1
            else:
                n = df.count()
            samples.append(round(time.time() - t0, 3))
            steals.append(_steal_pct(s0, _steal_counters()))
            print(f"  {name}: {n} rows in {samples[-1]}s (steal {steals[-1]}%)",
                  file=sys.stderr)
        out[name] = {"samples": samples, "steal_pct": steals, "rows": n}
    print(json.dumps({"sf_dir": sf_dir, "noop": noop, "queries": out}))
    spark.stop()


if __name__ == "__main__":
    main()
