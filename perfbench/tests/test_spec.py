"""BENCHMARK.json keeps to the benchmark contract, and the traced run
produces every per-layer metric it names."""

import json
import os
import re

from perfbench import run
from perfbench.stats import Span
from perfbench.workloads import WORKLOADS

SPEC = json.load(open(os.path.join(run.ROOT, "BENCHMARK.json")))
NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def test_top_level_keys_and_limits():
    assert set(SPEC) == {"command", "paths", "run_seconds", "workloads",
                         "end_to_end", "per_layer"}
    assert SPEC["command"] == ["python3", "perfbench/run.py"]
    assert SPEC["paths"] == ["perfbench"]
    assert isinstance(SPEC["run_seconds"], int) and 1 <= SPEC["run_seconds"] <= 60
    assert 2 <= len(SPEC["workloads"]) <= 8
    assert os.path.getsize(os.path.join(run.ROOT, "BENCHMARK.json")) <= 64 * 1024


def test_metric_entries():
    names = []
    for w in SPEC["workloads"]:
        assert set(w) == {"name", "why"} and len(w["why"]) <= 200 and "\n" not in w["why"]
        assert w["name"] in WORKLOADS
        names.append(w["name"])
    for m in SPEC["end_to_end"]:
        assert set(m) == {"name", "unit", "better", "bound"}
        assert 0 < m["bound"] <= 0.25
        names.append(m["name"])
    for m in SPEC["per_layer"]:
        assert set(m) == {"name", "unit", "better"}
        names.append(m["name"])
    for m in SPEC["end_to_end"] + SPEC["per_layer"]:
        assert NAME.match(m["name"]) and UNIT.match(m["unit"])
        assert m["better"] in ("lower", "higher")
    assert len(names) == len(set(names))
    setup = [m for m in SPEC["end_to_end"] if m["name"] == "setup_s"][0]
    assert setup["unit"] == "s" and setup["better"] == "lower"
    assert setup["bound"] == max(m["bound"] for m in SPEC["end_to_end"])


class _FakeWorkload:
    counts = {"merge.ops": 2, "embed.rows": 10, "chunker.docs": 4, "search.results": 20}
    layer = {"ann.sq_build_s": 1.5}


def test_layer_metrics_cover_every_per_layer_name():
    spans = [Span("s1", "search", None, "o", 0.0, 1.0, {"kind": "search"}),
             Span("s2", "embed", None, "o", 1.0, 2.0)]
    got = run.layer_metrics(_FakeWorkload(), spans, {}, 7.0, 4)
    got.update({"trace.items_per_s": 1.0, "trace.op_p50_ms": 1.0})
    missing = [m["name"] for m in SPEC["per_layer"] if m["name"] not in got]
    assert not missing
    assert got["search.dense_p50_ms"] == 1000.0 and got["embed.rows_per_s"] == 10.0
