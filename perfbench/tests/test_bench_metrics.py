import json
import os
import re

import metrics

SPEC = os.path.join(os.path.dirname(__file__), os.pardir, os.pardir, "BENCHMARK.json")
NAME = re.compile(r"[A-Za-z0-9_.-]+")


def _spec():
    with open(SPEC) as f:
        return json.load(f)


def test_printed_names_are_listed():
    spec = _spec()
    e2e = {m["name"] for m in spec["end_to_end"]}
    layer = {m["name"] for m in spec["per_layer"]}
    for w in spec["workloads"]:
        walls = {"pass": [1.0], "near_dup_pairs_lsh": [1.0], "append": [1.0], "build": [1.0]}
        counts = {"docs": 1, "base_rows": 1}
        got = metrics.end_to_end(w["name"], walls, counts, 1.0)
        assert set(got) == e2e
        got = metrics.per_layer(w["name"], {}, {}, {}, {}, {}, (1.0, 1.0), 4)
        assert set(got) == layer
    for name in e2e | layer:
        assert NAME.fullmatch(name), name


def test_spec_shape():
    spec = _spec()
    assert set(spec) == {
        "command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"
    }
    assert any(
        m["name"] == "setup_s" and m["unit"] == "s" and m["better"] == "lower"
        for m in spec["end_to_end"]
    )
    setup_bound = next(m["bound"] for m in spec["end_to_end"] if m["name"] == "setup_s")
    for m in spec["end_to_end"]:
        assert set(m) == {"name", "unit", "better", "bound"}
        assert 0 < m["bound"] <= min(0.25, setup_bound)
    for m in spec["per_layer"]:
        assert set(m) == {"name", "unit", "better"}
    names = [m["name"] for m in spec["end_to_end"] + spec["per_layer"] + spec["workloads"]]
    assert len(names) == len(set(names))
