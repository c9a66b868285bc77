"""Tests of the benchmark itself: seeded inputs, percentile and span
arithmetic, metric names, and a tiny smoke run of each workload.

    python -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import re
import shutil
import subprocess
import sys
import threading

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
REPO = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import gen  # noqa: E402
import run  # noqa: E402
import spans  # noqa: E402
import stats  # noqa: E402

NAME_RE = re.compile(r"[A-Za-z0-9_.-]+")


# ---- seeded inputs ---------------------------------------------------------

def test_same_seed_same_tables_and_streams():
    a, b = gen.make_tables(0.001, 5), gen.make_tables(0.001, 5)
    assert all(a[t].equals(b[t]) for t in a)
    assert not a["lineitem"].equals(gen.make_tables(0.001, 6)["lineitem"])
    assert gen.analytic_stream(5, 30) == gen.analytic_stream(5, 30)
    assert gen.analytic_stream(5, 30) != gen.analytic_stream(6, 30)
    assert gen.write_requests(5, 150, 9) == gen.write_requests(5, 150, 9)


def test_sizes_depend_only_on_scale():
    for seed in (1, 2):
        t = gen.make_tables(0.001, seed)
        assert {k: v.num_rows for k, v in t.items()} == gen.table_sizes(0.001)


def test_same_seed_same_ntriples(tmp_path):
    p1, p2 = tmp_path / "a.nt", tmp_path / "b.nt"
    c1 = gen.write_ntriples(gen.make_tables(0.0002, 3), str(p1))
    c2 = gen.write_ntriples(gen.make_tables(0.0002, 3), str(p2))
    assert c1 == c2 and p1.read_bytes() == p2.read_bytes()
    assert c1["triples"] == sum(1 for _ in open(p1))


def test_write_requests_use_distinct_keys_and_rotate_shapes():
    reqs = gen.write_requests(1, 100, 3 * len(gen.WRITE_SHAPES))
    keys = [op["key"] for ops in reqs for op in ops if "key" in op]
    assert len(keys) == len(set(keys))
    assert [tuple(op["kind"] for op in ops) for ops in reqs[:3]] == list(gen.WRITE_SHAPES)
    assert max(len(ops) for ops in reqs) == 4


# ---- percentiles -----------------------------------------------------------

def test_nearest_rank_percentile():
    xs = list(range(1, 11))
    assert stats.percentile(xs, 50) == 5
    assert stats.percentile(xs, 90) == 9
    assert stats.percentile(xs, 100) == 10
    assert stats.percentile([3.0], 99) == 3.0
    with pytest.raises(ValueError):
        stats.percentile([], 50)


def test_tail_needs_ten_samples_beyond():
    assert stats.beyond(100, 90) == 10
    assert stats.beyond(99, 90) == 9
    assert stats.tail_percentile(19) is None
    assert stats.tail_percentile(20) == 50.0
    assert stats.tail_percentile(99) == 50.0
    assert stats.tail_percentile(100) == 90.0
    assert stats.tail_percentile(1000) == 99.0
    assert stats.tail_percentile(10_000) == 99.9


# ---- spans -----------------------------------------------------------------

def _span(sid, name, a, b, parent=None):
    return spans.Span(sid, name, a, b, parent=parent.span_id if parent else None)


def test_covered_merges_overlaps_and_clips():
    assert spans.covered([(1, 3), (2, 5), (7, 8)], 0, 10) == 5
    assert spans.covered([(-5, 2), (9, 20)], 0, 10) == 3
    assert spans.covered([], 0, 10) == 0


def test_self_times_account_for_op_wall():
    root = _span(0, spans.ROOT, 0.0, 10.0)
    compile_ = _span(1, "sparql.compile", 1.0, 3.0, root)
    plan = _span(2, "spark.plan", 3.0, 4.0, root)
    execute = _span(3, "spark.exec", 4.0, 9.0, root)
    inner = _span(4, "graph.inventory", 1.5, 2.0, compile_)
    root.children = [compile_, plan, execute]
    compile_.children = [inner]
    selfs = spans.layer_self_times([root, compile_, plan, execute, inner])
    assert selfs == pytest.approx({
        "other": 2.0, "sparql.compile": 1.5, "graph.inventory": 0.5,
        "spark.plan": 1.0, "spark.exec": 5.0,
    })
    assert sum(selfs.values()) == pytest.approx(10.0)


def test_tracer_nests_per_thread_and_disabled_records_nothing():
    tr = spans.Tracer(True)

    def op(i):
        with tr.span(spans.ROOT, op_id=f"op{i}"):
            with tr.span("sparql.compile"):
                pass
            with tr.span("spark.exec"):
                pass

    threads = [threading.Thread(target=op, args=(i,)) for i in range(4)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=10)
        assert not t.is_alive()
    assert len(tr.spans) == 12
    by_id = {s.span_id: s for s in tr.spans}
    for s in tr.spans:
        if s.name != spans.ROOT:
            parent = by_id[s.parent]
            assert parent.name == spans.ROOT and parent.op_id == s.op_id
    off = spans.Tracer(False)
    with off.span(spans.ROOT, op_id="x"):
        with off.span("spark.exec"):
            pass
    assert off.spans == []


def test_failed_span_is_marked():
    tr = spans.Tracer(True)
    with pytest.raises(RuntimeError):
        with tr.span("mutation.save"):
            raise RuntimeError("disk full")
    assert tr.spans[0].error


# ---- metric names ----------------------------------------------------------

def test_metric_names_and_benchmark_json_agree():
    with open(os.path.join(REPO, "BENCHMARK.json")) as f:
        spec = json.load(f)
    e2e = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    layer = {m["name"]: m["unit"] for m in spec["per_layer"]}
    assert e2e == run.END_TO_END
    assert layer == run.PER_LAYER
    for name in [*e2e, *layer, *(w["name"] for w in spec["workloads"])]:
        assert NAME_RE.fullmatch(name) and len(name) <= 64
    assert {w["name"] for w in spec["workloads"]} == set(run.WORKLOADS)
    assert all(m["bound"] <= 0.25 for m in spec["end_to_end"])


# ---- runs ------------------------------------------------------------------

def test_refuses_to_run_without_the_program(tmp_path):
    shutil.copytree(BENCH, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(REPO, "BENCHMARK.json"), tmp_path)
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "analytic", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert p.returncode != 0
    assert '"correct"' not in p.stdout


def processes_naming(text: str) -> list[str]:
    """Command lines of the live processes that mention ``text``."""
    found = []
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/cmdline", "rb") as f:
                cmd = f.read().replace(b"\0", b" ").decode(errors="replace")
        except OSError:
            continue
        if text in cmd:
            found.append(f"{entry} {cmd[:200]}")
    return found


SMOKE = """
import sys
sys.path.insert(0, {bench!r})
import run, workloads
workloads.ANALYTIC_SF = 0.001
workloads.WRITE_MIN_ROUNDS = 1
sys.exit(run.main(sys.argv[1:]))
"""


@pytest.mark.parametrize("workload,trace", [("analytic", 1), ("write_mix", 1)])
def test_smoke_run(tmp_path, workload, trace):
    p = subprocess.run(
        [sys.executable, "-c", SMOKE.format(bench=BENCH), "--workload", workload,
         "--seed", "1", "--seconds", "1", "--trace", str(trace)],
        cwd=tmp_path, capture_output=True, text=True, timeout=600,
    )
    assert p.returncode == 0, p.stderr[-3000:]
    assert processes_naming(str(tmp_path)) == []  # the JVM and its workers have ended
    out = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] and out["failed"] == 0 and out["attempted"] >= 1
    names = run.PER_LAYER if trace else run.END_TO_END
    assert {k: v["unit"] for k, v in out["metrics"].items()} == names
    if trace:
        m = {k: v["value"] for k, v in out["metrics"].items()}
        layer_sum = sum(m[name] for name in run.SPAN_METRICS.values())
        assert layer_sum == pytest.approx(m["op_wall_s"], rel=1e-6)
