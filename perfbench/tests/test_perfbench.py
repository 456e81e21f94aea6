"""The benchmark's own checks: BENCHMARK.json is well formed and names
exactly the metrics run.py prints, and the seeded generators are
deterministic. No Spark needed.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import gen  # noqa: E402
import run  # noqa: E402
import spans  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


@pytest.fixture(scope="module")
def spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_benchmark_json_shape(spec):
    assert set(spec) == {
        "command", "paths", "run_seconds", "workloads", "end_to_end",
        "per_layer",
    }
    assert spec["command"] == ["python3", "perfbench/run.py"]
    assert spec["paths"] == ["perfbench"]
    assert isinstance(spec["run_seconds"], int)
    assert 1 <= spec["run_seconds"] <= 60
    for w in spec["workloads"]:
        assert set(w) == {"name", "why"}
        assert "\n" not in w["why"] and len(w["why"]) <= 200
    for m in spec["end_to_end"]:
        assert set(m) == {"name", "unit", "better", "bound"}
        assert 0 < m["bound"] <= 0.25
    for m in spec["per_layer"]:
        assert set(m) == {"name", "unit", "better"}
    setup = [m for m in spec["end_to_end"] if m["name"] == "setup_s"]
    assert setup and setup[0]["unit"] == "s" and setup[0]["better"] == "lower"
    assert setup[0]["bound"] == max(m["bound"] for m in spec["end_to_end"])


def test_metric_names_valid_and_unique(spec):
    names = [
        x["name"] for k in ("workloads", "end_to_end", "per_layer")
        for x in spec[k]
    ]
    assert len(names) == len(set(names))
    for n in names:
        assert NAME.match(n), n
    for m in spec["end_to_end"] + spec["per_layer"]:
        assert UNIT.match(m["unit"]), m
        assert m["better"] in ("higher", "lower"), m


def test_json_matches_what_run_prints(spec):
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.E2E
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.LAYERS
    assert [w["name"] for w in spec["workloads"]] == list(WORKLOADS)


def test_store_points_deterministic():
    a, b = gen.store_points(7), gen.store_points(7)
    assert gen.digest(a) == gen.digest(b)
    assert gen.digest(gen.to_arrow(a)) == gen.digest(gen.to_arrow(b))
    assert gen.digest(a) != gen.digest(gen.store_points(8))
    assert len(a["time_us"]) == gen.STORE_POINTS
    assert (a["time_us"][1:] > a["time_us"][:-1]).all()


def test_op_plans_deterministic_and_seed_dependent():
    def plan(seed):
        cols = gen.store_points(seed)
        t_lo, t_hi = int(cols["time_us"][0]), int(cols["time_us"][-1])
        r = gen.rng(seed, "writes")
        cycles = [gen.cycle_plan(r) for _ in range(3)]
        params = [
            gen.read_params(r, shape, t_lo, t_hi)
            for _w, (_op, shape) in cycles[0]
        ]
        return cycles, params, gen.dml_params(r, t_lo, t_hi)

    assert gen.digest(plan(1)) == gen.digest(plan(1))
    one, two = plan(1), plan(2)
    assert one[0] != two[0]  # op order
    assert one[1] != two[1]  # windows and tag values
    assert one[2] != two[2]
    for cycle in one[0]:
        assert sorted(w for w, _r in cycle) == sorted(gen.WRITES + ["compact"])
        assert sorted(r for _w, r in cycle) == sorted(gen.READ_MIX)


def test_corpus_deterministic():
    rows = {"events": 500, "documents": 50, "embeddings": 40}
    a, b = gen.corpus_tables(3, rows), gen.corpus_tables(3, rows)
    assert gen.digest(a) == gen.digest(b)
    assert gen.digest(a) != gen.digest(gen.corpus_tables(4, rows))
    assert {k: t.num_rows for k, t in a.items()} == rows
    docs = a["documents"].to_pydict()
    assert docs["n_chars"] == [len(t) for t in docs["text"]]


def test_pipeline_order_is_seeded():
    names = [
        [int(i) for i in gen.rng(s, "order").permutation(6)] for s in (1, 2)
    ]
    assert sorted(names[0]) == list(range(6))
    assert names[0] != names[1]


def test_cpu_between_counts_this_process_busy_time():
    a = spans.cpu_ticks()
    assert os.getpid() in a
    t = time.process_time()
    while time.process_time() - t < 0.3:
        pass
    assert 0.2 <= spans.cpu_between(a, spans.cpu_ticks()) < 5.0
