"""DedupConfig guards: every field is a knob some engine code reads."""

import dataclasses
import pathlib
import re

from smqtk_indexing_spark.config import DedupConfig

ROOT = pathlib.Path(__file__).resolve().parents[1]


def test_every_config_field_is_read():
    # engine code: the package, the driver entry and the jobs, without the
    # config module itself
    config = ROOT / "smqtk_indexing_spark" / "config.py"
    paths = [
        *(ROOT / "smqtk_indexing_spark").rglob("*.py"),
        ROOT / "__spark_entry__.py",
        *(ROOT / "jobs").rglob("*.py"),
    ]
    src = "\n".join(p.read_text() for p in paths if p != config)
    unread = [
        f.name
        for f in dataclasses.fields(DedupConfig)
        if not re.search(rf"\.{f.name}\b", src)
    ]
    assert unread == [], f"DedupConfig fields no engine code reads: {unread}"
