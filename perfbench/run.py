"""Benchmark runner for the dedup engine.

Run from the root of a checkout:

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

One workload per invocation, on ``local[<cpus>]`` from this single driver
process, with the session ``bench.py`` builds (``session.get_spark``,
app name ``bench``, shuffle partitions 2 x cpus, ``bench._warm_workers``)
and ``DedupConfig()`` defaults. The last line of standard output is one
JSON object ``{"correct", "attempted", "failed", "metrics"}``; with
``--trace 0`` the metrics are the ``end_to_end`` list of BENCHMARK.json,
with ``--trace 1`` the ``per_layer`` list. The line before it records the
run's context (CPU steal, cpus, commit). Everything the run writes stays
under ``.bench_work/`` in the checkout.

A run makes a fixed number of operations, whatever their speed, so two
commits do the same work. ``--seconds`` is accepted for the benchmark
interface; the counts are sized so that the timed window lasts about
BENCHMARK.json's ``run_seconds``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))


def spec() -> dict:
    with open(os.path.join(HERE, os.pardir, "BENCHMARK.json")) as f:
        return json.load(f)


class PeakRss:
    """Samples the summed RSS of this process and all its descendants
    (the JVM and its Python workers) on a background thread."""

    def __init__(self, interval_s: float = 0.1):
        self.interval_s = interval_s
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._page = os.sysconf("SC_PAGE_SIZE")

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()

    def _run(self) -> None:
        while True:
            self.peak_bytes = max(self.peak_bytes, self._tree_rss())
            if self._stop.wait(self.interval_s):
                return

    def _tree_rss(self) -> int:
        children: dict[int, list[int]] = {}
        for d in os.listdir("/proc"):
            if not d.isdigit():
                continue
            try:
                with open(f"/proc/{d}/stat") as f:
                    stat = f.read()
            except OSError:  # the process exited while we looked
                continue
            ppid = int(stat.rsplit(")", 1)[1].split()[1])
            children.setdefault(ppid, []).append(int(d))
        total, todo = 0, [os.getpid()]
        while todo:
            pid = todo.pop()
            todo.extend(children.get(pid, ()))
            try:
                with open(f"/proc/{pid}/statm") as f:
                    total += int(f.read().split()[1]) * self._page
            except OSError:
                pass
        return total


def steal_counters() -> tuple[int, int]:
    """(steal, total) jiffies from the first line of /proc/stat."""
    with open("/proc/stat") as f:
        p = f.readline().split()
    return int(p[8]), sum(int(x) for x in p[1:])


def commit() -> str | None:
    if not os.path.isdir(".git"):
        return None
    r = subprocess.run(
        ["git", "rev-parse", "HEAD"], capture_output=True, text=True, check=False
    )
    return r.stdout.strip() or None


def prepare_env(work: str) -> None:
    """Keep every file Spark and the JVM write inside the checkout, and let
    the Python workers import the package from it."""
    for d in ("spark-local", "tmp"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData"
    )
    root = os.getcwd()
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH")) if p
    )
    if root not in sys.path:
        sys.path.insert(0, root)


def process_start() -> float:
    """Wall-clock start time of this process, from /proc."""
    with open("/proc/self/stat") as f:
        ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/stat") as f:
        btime = next(int(line.split()[1]) for line in f if line.startswith("btime"))
    return btime + ticks / os.sysconf("SC_CLK_TCK")


def start_session(cpus: int, event_log_dir: str | None):
    """The bench.py session and worker warm-up; returns (spark, start_s,
    warm_s), where start_s counts from process start."""
    import bench
    from smqtk_indexing_spark.session import get_spark

    extra = None
    if event_log_dir:
        extra = {
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + event_log_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        }
    spark = get_spark(
        app_name="bench",
        master=f"local[{cpus}]",
        shuffle_partitions=2 * cpus,
        extra_conf=extra,
    )
    started = time.time()
    bench._warm_workers(spark)
    warmed = time.time()
    return spark, started - process_start(), warmed - started


def stop_session(spark) -> None:
    """Stop the session and wait for the JVM (and with it the Python
    workers) to exit. The JVM exits when its stdin closes."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        gateway.shutdown()
        proc.stdin.close()
        proc.wait(timeout=60)


WORKLOADS = ("queries_sf0.1", "dedup_families")


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    # the program under test is built from the checkout this runs in
    missing = [p for p in ("__spark_entry__.py", "bench.py", "smqtk_indexing_spark")
               if not os.path.exists(p)]
    if missing:
        print(f"not a checkout of the engine: missing {missing}", file=sys.stderr)
        return 2

    work = os.path.join(os.getcwd(), ".bench_work")
    for stale in ("eventlog", "spark-local", "tmp"):
        shutil.rmtree(os.path.join(work, stale), ignore_errors=True)
    prepare_env(work)
    import eventlog
    import inputs
    import metrics
    import workloads

    # inputs first: generation is outside set-up and the timed window
    if args.workload == "dedup_families":
        data = inputs.write_families(args.seed, os.path.join(work, "inputs"))
    else:
        data = os.path.join(HERE, "data")

    cpus = len(os.sched_getaffinity(0))
    log_dir = os.path.join(work, "eventlog") if args.trace else None
    if log_dir:
        os.makedirs(log_dir)
    spark, start_s, warm_s = start_session(cpus, log_dir)
    tracer = workloads.Tracer(spark, enabled=bool(args.trace))
    run = {"queries_sf0.1": workloads.queries, "dedup_families": workloads.families}[
        args.workload
    ]
    steal0 = steal_counters()
    try:
        with PeakRss() as rss:
            out = run(spark, data, tracer)
    finally:
        steal1 = steal_counters()
        stop_session(spark)

    if args.trace:
        (log,) = os.listdir(log_dir)
        groups = eventlog.parse(os.path.join(log_dir, log))
        values = metrics.per_layer(
            args.workload, out.walls, tracer.walls, tracer.calls, out.counts, groups,
            (start_s, warm_s), cpus,
        )
        listed = spec()["per_layer"]
    else:
        values = metrics.end_to_end(
            args.workload, out.walls, out.counts, start_s + warm_s
        )
        listed = spec()["end_to_end"]
    units = {m["name"]: m["unit"] for m in listed}
    if set(values) != set(units):
        raise RuntimeError(f"metrics {sorted(set(values) ^ set(units))} do not match BENCHMARK.json")

    context = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "cpus": cpus,
        "steal_pct": 100 * (steal1[0] - steal0[0]) / max(1, steal1[1] - steal0[1]),
        "peak_rss_mb": rss.peak_bytes / 2**20,
        "commit": commit(),
        "walls_s": out.walls,
        **out.context,
    }
    print(json.dumps({"context": context}))
    print(json.dumps({
        "correct": out.failed == 0,
        "attempted": out.attempted,
        "failed": out.failed,
        "metrics": {k: {"value": float(v), "unit": units[k]} for k, v in values.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
