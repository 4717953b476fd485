"""Engine source guards: every DedupConfig field is a knob some engine code
reads, and the candidate-verify chain has one implementation."""

import dataclasses
import pathlib
import re

from smqtk_indexing_spark.config import DedupConfig

ROOT = pathlib.Path(__file__).resolve().parents[1]


# engine code: the package, the driver entry and the jobs
ENGINE = [
    *(ROOT / "smqtk_indexing_spark").rglob("*.py"),
    ROOT / "__spark_entry__.py",
    *(ROOT / "jobs").rglob("*.py"),
]


def test_every_config_field_is_read():
    config = ROOT / "smqtk_indexing_spark" / "config.py"
    src = "\n".join(p.read_text() for p in ENGINE if p != config)
    unread = [
        f.name
        for f in dataclasses.fields(DedupConfig)
        if not re.search(rf"\.{f.name}\b", src)
    ]
    assert unread == [], f"DedupConfig fields no engine code reads: {unread}"


def test_one_candidate_verify_chain():
    # candidate -> shingle arrays -> exact Jaccard is written once, in
    # operators/verify.py (verify_candidates); every other engine caller
    # goes through it (their definitions are not calls)
    verify = ROOT / "smqtk_indexing_spark" / "operators" / "verify.py"
    callers = sorted(
        str(p.relative_to(ROOT))
        for p in ENGINE
        if p != verify
        and re.search(
            r"(?<!def )\b(compute_shingle_arrays|verify_pairs)\(", p.read_text()
        )
    )
    assert callers == [], f"engine code outside verify.py calls the chain: {callers}"
