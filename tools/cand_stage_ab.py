"""Isolated A/B of the star-mode cand_pairs stage physical form at two
parallelism levels (the one stage below the 0.8 scaling gate, VERDICT r5
item 1). Reads a pre-materialized bucket table (band_hash, doc_id) from
parquet so trials time ONLY the candidate-generation exchanges.

Variants:
- agg_aqe   : current form — groupBy (min, count) agg, AQE-adaptive
              join-back (broadcast while the survivor list is small; the
              broadcast hash relation is built SERIALLY on the driver —
              the suspected non-scaling term).
- agg_shj   : same agg, join-back forced to a shuffle-hash join on
              band_hash — two scalable exchanges, no serial driver build.
- window    : one exchange + per-partition sort — min/count window over
              band_hash, no join at all.
- window_min: window form without the count column (the doc_id != min
              filter already removes singleton buckets' only row).
- floor     : the agg_aqe plan over a ~2k-doc bucket table where every
              data-dependent term is ~0 — measures the stage-level FIXED
              cost (scan setup, exchange scheduling, AQE re-planning,
              distinct, count job) at each parallelism level, mirroring
              the job-level BENCH/fixed_floor.json protocol. The summary
              uses it to print floor-corrected efficiencies.

Usage: python tools/cand_stage_ab.py [rounds] [buckets_parquet]
Child:  python tools/cand_stage_ab.py --one <master> <variant> <path>
Gen:    python tools/cand_stage_ab.py --gen <corpus_parquet> <out_parquet>
        (corpus -> signatures -> exact-dup collapse -> band buckets,
        the same upstream the pipeline feeds candidate_pairs)
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

DEFAULT_PATH = "/dev/shm/bench-buckets-800k.parquet"
FLOOR_PATH = "/dev/shm/bench-buckets-2k.parquet"


def _steal():
    p = open("/proc/stat").readline().split()
    return int(p[8]), sum(int(x) for x in p[1:])


def child(master: str, variant: str, path: str) -> None:
    cpus = int(master[len("local[") : -1])
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from smqtk_indexing_spark.session import get_spark

    spark = get_spark(master=master, shuffle_partitions=max(8, 2 * cpus))
    b = spark.read.parquet(path)
    # warm the JVM scheduler + codegen on a small slice of the same shape
    small = b.limit(200_000)
    small.groupBy("band_hash").agg(F.min("doc_id").alias("m")).count()
    t0 = time.time()
    if variant in ("agg_aqe", "agg_shj", "floor"):
        agg = (
            b.groupBy("band_hash")
            .agg(F.min("doc_id").alias("m"), F.count("*").alias("n"))
            .where(F.col("n") > 1)
            .select("band_hash", "m")
        )
        if variant == "agg_shj":
            agg = agg.hint("shuffle_hash")
        out = (
            b.join(agg, "band_hash")
            .where(F.col("doc_id") != F.col("m"))
            .select(F.col("m").alias("a"), F.col("doc_id").alias("b"))
            .distinct()
        )
    elif variant == "window":
        w = Window.partitionBy("band_hash")
        out = (
            b.withColumn("m", F.min("doc_id").over(w))
            .withColumn("n", F.count("*").over(w))
            .where((F.col("n") > 1) & (F.col("doc_id") != F.col("m")))
            .select(F.col("m").alias("a"), F.col("doc_id").alias("b"))
            .distinct()
        )
    elif variant == "window_min":
        # leaner star: the doc_id != m filter already removes singleton
        # buckets' only row, so the count column is unnecessary
        w = Window.partitionBy("band_hash")
        out = (
            b.withColumn("m", F.min("doc_id").over(w))
            .where(F.col("doc_id") != F.col("m"))
            .select(F.col("m").alias("a"), F.col("doc_id").alias("b"))
            .distinct()
        )
    elif variant in ("all_aqe", "all_window"):
        # 'all' candidate topology: the real operator, fed either the
        # current agg+join-back ranked table or a one-sort window form
        from smqtk_indexing_spark.config import DedupConfig
        from smqtk_indexing_spark.operators.candidates import (
            candidate_pairs,
            ranked_hot_buckets,
        )

        cfg = DedupConfig()
        if variant == "all_window":
            w = Window.partitionBy("band_hash").orderBy("doc_id")
            ranked = (
                b.withColumn("rn", F.row_number().over(w))
                .withColumn(
                    "m", F.count("*").over(Window.partitionBy("band_hash"))
                )
                .where((F.col("m") > 1) & (F.col("m") <= cfg.bucket_cap))
            )
        else:
            ranked = ranked_hot_buckets(b, cfg)
        # pipeline materializes the shared ranked table as its own stage
        # at this corpus size — emulate that boundary inside the window
        ranked = ranked.localCheckpoint(eager=True)
        out = candidate_pairs(b, cfg, mode="all", ranked=ranked)
    else:
        raise SystemExit(f"unknown variant {variant}")
    n = out.count()
    print(
        "RESULT "
        + json.dumps(
            {
                "variant": variant,
                "master": master,
                "wall": round(time.time() - t0, 3),
                "rows": n,
            }
        )
    )
    spark.stop()


def gen(corpus: str, out: str) -> None:
    """Materialize the bucket table the pipeline feeds candidate_pairs:
    corpus -> one-scan signatures -> exact-dup collapse -> band explode."""
    from pyspark.sql import functions as F

    from smqtk_indexing_spark.config import DedupConfig
    from smqtk_indexing_spark.operators import dedup as X
    from smqtk_indexing_spark.operators.candidates import band_buckets
    from smqtk_indexing_spark.operators.signatures import compute_signatures
    from smqtk_indexing_spark.session import get_spark

    spark = get_spark(master="local[8]", shuffle_partitions=16)
    cfg = DedupConfig()
    docs = spark.read.parquet(corpus)
    sigs = compute_signatures(
        docs, cfg, text_col="content", include=("bands", "sha256")
    ).localCheckpoint()
    mm = X.member_map_from_sigs(sigs)
    reps = mm.where(F.col("doc_id") == F.col("rep_id")).select("doc_id")
    b = band_buckets(sigs.join(reps, "doc_id", "left_semi"), cfg)
    b.write.mode("overwrite").parquet(out)
    print("bucket rows:", spark.read.parquet(out).count())
    spark.stop()


def main() -> None:
    if "--one" in sys.argv:
        i = sys.argv.index("--one")
        child(sys.argv[i + 1], sys.argv[i + 2], sys.argv[i + 3])
        return
    if "--gen" in sys.argv:
        i = sys.argv.index("--gen")
        gen(sys.argv[i + 1], sys.argv[i + 2])
        return
    rounds = int(sys.argv[1]) if len(sys.argv) > 1 else 3
    path = sys.argv[2] if len(sys.argv) > 2 else DEFAULT_PATH
    variants = os.environ.get("CAND_AB_VARIANTS", "agg_aqe,agg_shj,window").split(",")
    masters = os.environ.get("CAND_AB_MASTERS", "local[2],local[8]").split(",")
    res = []
    for r in range(rounds):
        for v in variants:
            for m in masters:
                s0, t0j = _steal()
                vpath = FLOOR_PATH if v == "floor" else path
                out = subprocess.run(
                    [sys.executable, os.path.abspath(__file__), "--one", m, v, vpath],
                    capture_output=True,
                    text=True,
                    env=dict(os.environ, SPARK_DRIVER_MEMORY="24g"),
                )
                s1, t1j = _steal()
                rec = None
                for line in out.stdout.splitlines():
                    if line.startswith("RESULT "):
                        rec = json.loads(line[len("RESULT ") :])
                if rec is None:
                    print(f"round {r} {v} {m}: FAILED\n{out.stderr[-1000:]}")
                    continue
                rec["steal_pct"] = round(100 * (s1 - s0) / max(1, t1j - t0j), 2)
                rec["round"] = r
                res.append(rec)
                print(
                    f"round {r} {v:8s} {m:9s}: {rec['wall']:7.2f}s "
                    f"rows={rec['rows']} steal={rec['steal_pct']}%"
                )
    # summary: best-of per (variant, master) + floor-corrected efficiencies
    floor = {}
    for m in masters:
        ws = [x["wall"] for x in res if x["variant"] == "floor" and x["master"] == m]
        if ws:
            floor[m] = min(ws)
    print("\nbest-of:")
    for v in variants:
        if v == "floor":
            continue
        best = {}
        for m in masters:
            ws = [x["wall"] for x in res if x["variant"] == v and x["master"] == m]
            if ws:
                best[m] = min(ws)
        if len(best) == 2:
            m2, m8 = masters
            eff = best[m2] / (4 * best[m8])
            line = f"  {v:10s}: {m2}={best[m2]:.2f}s {m8}={best[m8]:.2f}s eff={eff:.3f}"
            if len(floor) == 2:
                ceff = (best[m2] - floor[m2]) / (4 * (best[m8] - floor[m8]))
                line += f" floor-corrected={ceff:.3f}"
            print(line)
    if len(floor) == 2:
        print(f"  floor     : " + " ".join(f"{m}={floor[m]:.2f}s" for m in masters))
    out_path = time.strftime("BENCH/cand_ab_%Y%m%d_%H%M%S.json")
    with open(out_path, "w") as f:
        json.dump(res, f, indent=1)
    print(f"raw -> {out_path}")


if __name__ == "__main__":
    main()
