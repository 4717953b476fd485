"""Record the small event log the parser test reads.

Run from the root of a checkout:

    python3 perfbench/tests/record_eventlog.py

Runs two job groups on ``local[2]`` with Spark's event log on, then keeps
only the event types ``eventlog.parse`` reads (whole lines, unchanged) in
``perfbench/tests/data/small_eventlog.jsonl``.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile

KEEP = {"SparkListenerJobStart", "SparkListenerStageSubmitted", "SparkListenerTaskEnd"}
OUT = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "small_eventlog.jsonl")


def _identity(batches):
    yield from batches


def main() -> None:
    sys.path.insert(0, os.getcwd())
    from smqtk_indexing_spark.session import get_spark

    log_dir = tempfile.mkdtemp(dir=os.getcwd(), prefix=".eventlog-")
    os.environ["SPARK_LOCAL_DIRS"] = log_dir
    spark = get_spark(
        app_name="eventlog-fixture",
        master="local[2]",
        shuffle_partitions=2,
        extra_conf={
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + log_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
            "spark.sql.adaptive.enabled": "false",
        },
    )
    sc = spark.sparkContext
    try:
        sc.setJobGroup("python", "python")
        spark.range(0, 4000, 1, 4).mapInPandas(_identity, "id long").count()
        sc.setJobGroup("shuffle", "shuffle")
        spark.range(0, 1000, 1, 3).selectExpr("id % 7 AS k").groupBy("k").count().collect()
        sc.setLocalProperty("spark.jobGroup.id", None)
        spark.range(10).count()  # outside any group
    finally:
        spark.stop()
    (name,) = os.listdir(log_dir)
    with open(os.path.join(log_dir, name)) as src, open(OUT, "w") as dst:
        for line in src:
            if json.loads(line)["Event"] in KEEP:
                dst.write(line)
    shutil.rmtree(log_dir)


if __name__ == "__main__":
    main()
