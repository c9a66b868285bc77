"""Benchmark of record for the RDF graph engine.

    python3 perfbench/run.py --workload analytic|write_mix \
        --seed N --seconds S --trace 0|1

Run from the repository root. Makes its inputs from the seed under
``.perfbench_work/``, sets up, measures a closed loop for about S
seconds, checks every op's output outside the timed region, and
prints one JSON line: the end-to-end metrics with ``--trace 0``, the
per-layer metrics with ``--trace 1``. A fuller report (sample counts,
tail percentiles, failures) is left in the run's work directory.
See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import ctypes
import json
import os
import shutil
import signal
import statistics
import sys
import time
from collections import defaultdict

import oracle
import spans
import stats
import workloads

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
WORKLOADS = ("analytic", "write_mix")
PR_SET_CHILD_SUBREAPER = 36  # prctl option, linux/prctl.h

END_TO_END = {  # name -> unit
    "setup_s": "s",
    "ops_per_s": "1/s",
    "latency_p50_s": "s",
    "rss_peak_mb": "MiB",
}

# span name -> per-layer metric (mean self seconds per op)
SPAN_METRICS = {
    "sparql.compile": "sparql.compile_s",
    "cypher.compile": "cypher.compile_s",
    "dsl.compile": "dsl.compile_s",
    "spark.plan": "spark.plan_s",
    "spark.exec": "spark.exec_s",
    "inference.closure": "inference.closure_s",
    "analytics.call": "analytics.call_s",
    "sources.read": "sources.read_s",
    "sources.import": "sources.import_s",
    "mutation.save": "mutation.save_s",
    "mutation.load": "mutation.load_s",
    "sparql.update.apply": "sparql.update.apply_s",
    "cypher_write.apply": "cypher_write.apply_s",
    "trace.count": "trace.count_s",
    "other": "other_s",
}
LAYERS = ("session", "graph", "sparql", "sparql.update", "cypher", "cypher_write", "dsl",
          "spark", "inference", "analytics", "sources", "mutation")

PER_LAYER = {  # name -> unit
    "session.start_s": "s", "graph.build_s": "s", "graph.inventory_s": "s",
    **{m: "s" for m in SPAN_METRICS.values()},
    "op_wall_s": "s",
    "spark.jobs_per_op": "count", "spark.stages_per_op": "count", "spark.tasks_per_op": "count",
    "spark.task_time_s": "s", "spark.input_bytes_per_op": "bytes",
    "spark.shuffle_bytes_per_op": "bytes", "spark.exchanges_per_op": "count",
    "spark.broadcasts_per_op": "count",
    "spark.plan_nodes_per_op": "count", "spark.slot_utilization": "ratio",
    "inference.closure_computes": "count", "inference.cache_hit_ratio": "ratio",
    "mutation.bytes_written": "bytes",
    **{f"{layer}.errors": "count" for layer in LAYERS},
    "trace.spans_per_op": "count", "trace.record_s_per_op": "s",
    "process.cpu_s_per_op": "s", "host.steal_frac": "ratio",
    "jvm.gc_s_per_op": "s", "jvm.jit_s_per_op": "s",
    "ops.samples": "count",
    "ops.tail_pct": "pct", "ops.latency_tail_s": "s",
    "write_mix.ingest_triples_per_s": "1/s",
    "write_mix.read_after_write_p50_s": "s", "write_mix.stored_bytes_per_input_byte": "ratio",
}


def layer_of(span_name: str) -> str:
    if span_name.startswith("sparql.update"):
        return "sparql.update"
    return span_name.split(".")[0]


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=WORKLOADS, required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def prepare_env(work: str) -> None:
    """Keep every file the run writes inside its work directory, and
    pin the JVM heap (1 GiB) so memory figures compare across runs."""
    for sub in ("tmp", "local"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--conf spark.sql.warehouse.dir={os.path.join(work, 'warehouse')} "
        f"--driver-java-options '-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData' "
        "pyspark-shell"
    )


# ---- checking ------------------------------------------------------------

def check_reads(records, table_dir: str) -> list[str]:
    """Compare every op's result with DuckDB at the op's parameters;
    returns one failure line per failed op."""
    con = oracle.connect(table_dir)
    failures = []
    for rec in records:
        if rec.error is not None:
            failures.append(f"{rec.op_id} {rec.kind}: {rec.error}")
            continue
        for part, sql in oracle.analytic_sql(rec.kind, rec.params).items():
            cols, rows = rec.result[part]
            if oracle.canon(cols, rows) != oracle.expected(con, sql):
                failures.append(f"{rec.op_id} {rec.kind}[{part}] {rec.params}: result differs from oracle")
                break
    con.close()
    return failures


def check_writes(out: dict) -> list[str]:
    failures = []
    expect, got = out["ingest_counts"]
    if got != expect:
        failures.append(f"ingest counts {got} != expected {expect}")
    for rec in out["requests"]:
        if rec.error is not None:
            failures.append(f"{rec.op_id} write: {rec.error}")
    for rec in out["reads"]:
        if rec.error is not None:
            failures.append(f"{rec.op_id} read: {rec.error}")
            continue
        _, rows = rec.result["main"]
        want = rec.params["expect"]
        ok = (not rows) if want is None else (
            len(rows) == 1 and float(rows[0][0]) == float(want))
        if not ok:
            failures.append(f"{rec.op_id} read-after-write saw {rows!r}, expected {want!r}")
    return failures


# ---- metrics -------------------------------------------------------------

def end_to_end(b, out, workload: str, rss_mb: float) -> tuple[dict, dict]:
    setup_s = b.setup["session.start_s"] + out["build_s"] + out["inv_s"] + out["warm_s"]
    window = b.window[1] - b.window[0]
    if workload == "write_mix":
        timed = out["requests"]
    else:
        timed = b.records
    lat = [r.latency for r in timed]
    metrics = {
        "setup_s": setup_s,
        "ops_per_s": len(timed) / window,
        "latency_p50_s": statistics.median(lat),
        "rss_peak_mb": rss_mb,
    }
    tail = stats.tail_percentile(len(lat))
    extra = {
        "samples": len(lat),
        "tail_pct": tail or 0.0,
        "latency_tail_s": stats.percentile(lat, tail) if tail else 0.0,
        "window_s": window,
        "cpu_s_per_op": b.window_cpu_s / len(timed),
        "steal_frac": b.window_steal,
        "jvm_gc_s": b.window_jvm[0],
        "jvm_jit_s": b.window_jvm[1],
    }
    if workload == "write_mix":
        extra.update({
            "ingest_triples_per_s": b.extra["ingest_triples"] / b.extra["ingest_s"],
            "read_after_write_p50_s": statistics.median([r.latency for r in out["reads"]]),
            "stored_bytes_per_input_byte": b.extra["stored_bytes_per_input_byte"],
        })
    return metrics, extra


def per_layer(b, out, extra: dict, log_dir: str) -> dict:
    op_ids = {r.op_id for r in b.records} | set(out.get("ingest_ops", ()))
    n_ops = len(op_ids)
    measured = [s for s in b.tr.spans if s.op_id in op_ids]
    selfs = spans.layer_self_times(measured)
    m = {name: selfs.get(span, 0.0) / n_ops for span, name in SPAN_METRICS.items()}
    m["op_wall_s"] = sum(s.end - s.start for s in measured if s.name == spans.ROOT) / n_ops
    m["session.start_s"] = b.setup["session.start_s"]
    m["graph.build_s"] = out["build_s"]
    m["graph.inventory_s"] = out["inv_s"]

    groups = spans.job_group_counts(log_dir)
    tot = defaultdict(float)
    for op in op_ids:
        for k, v in groups.get(op, {}).items():
            tot[k] += v
    # slot use over the measured window only (write_mix's ingest precedes it)
    window = b.window[1] - b.window[0]
    window_task_s = sum(groups.get(r.op_id, {}).get("task_time_s", 0.0) for r in b.records)

    def plan_total(i: int) -> int:
        return sum(b.plan_stats.get(o, [0, 0, 0])[i] for o in op_ids)

    m.update({
        "spark.jobs_per_op": tot["jobs"] / n_ops,
        "spark.stages_per_op": tot["stages"] / n_ops,
        "spark.tasks_per_op": tot["tasks"] / n_ops,
        "spark.task_time_s": tot["task_time_s"] / n_ops,
        "spark.input_bytes_per_op": tot["input_bytes"] / n_ops,
        "spark.shuffle_bytes_per_op": tot["shuffle_bytes"] / n_ops,
        "spark.exchanges_per_op": plan_total(0) / n_ops,
        "spark.broadcasts_per_op": plan_total(1) / n_ops,
        "spark.plan_nodes_per_op": plan_total(2) / n_ops,
        "spark.slot_utilization": window_task_s / (window * workloads.CPUS),
    })
    calls = b.tr.counts.get("inference.calls", 0.0) - b.counts0.get("inference.calls", 0.0)
    computes = b.extra.get("inference.closure_computes", 0)
    m["inference.closure_computes"] = computes
    m["inference.cache_hit_ratio"] = (1.0 - computes / calls) if calls else 0.0
    m["mutation.bytes_written"] = (
        b.tr.counts.get("mutation.bytes_written", 0.0) - b.counts0.get("mutation.bytes_written", 0.0))

    errors = defaultdict(int)
    for s in b.tr.spans:
        if s.error and s.name != spans.ROOT:
            errors[layer_of(s.name)] += 1
    errors["spark"] += int(tot["failed_tasks"])
    m.update({f"{layer}.errors": errors.get(layer, 0) for layer in LAYERS})

    m["process.cpu_s_per_op"] = extra["cpu_s_per_op"]
    m["host.steal_frac"] = b.window_steal
    m["jvm.gc_s_per_op"] = b.window_jvm[0] / extra["samples"]
    m["jvm.jit_s_per_op"] = b.window_jvm[1] / extra["samples"]
    m["trace.spans_per_op"] = len(measured) / n_ops
    m["trace.record_s_per_op"] = b.tr.record_s / max(1, len(b.tr.spans)) * m["trace.spans_per_op"]
    m["ops.samples"] = extra["samples"]
    m["ops.tail_pct"] = extra["tail_pct"]
    m["ops.latency_tail_s"] = extra["latency_tail_s"]
    for k in ("ingest_triples_per_s", "read_after_write_p50_s", "stored_bytes_per_input_byte"):
        m[f"write_mix.{k}"] = extra.get(k, 0.0)
    return m


def kind_medians(records) -> dict[str, float]:
    by = defaultdict(list)
    for rec in records:
        by[rec.kind].append(rec.latency)
    return {k: statistics.median(v) for k, v in sorted(by.items())}


def own_descendants() -> None:
    """Make this process the subreaper of every process it starts,
    so none outlives the run unseen, and turn SIGTERM into an exit
    that still stops the session."""
    ctypes.CDLL(None).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)
    signal.signal(signal.SIGTERM, lambda signum, _frame: sys.exit(128 + signum))


def main(argv=None) -> int:
    args = parse_args(argv)
    own_descendants()
    sys.path.insert(0, REPO)
    import pidb_rdf_spark  # noqa: F401  -- fail fast without the program

    work = os.path.join(os.getcwd(), ".perfbench_work", f"{args.workload}-{args.seed}-{args.trace}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    prepare_env(work)

    b = workloads.Bench(work, args.seed, args.seconds, spans.Tracer(bool(args.trace)))
    runner = {"analytic": workloads.run_analytic, "write_mix": workloads.run_write_mix}[args.workload]
    t0 = time.perf_counter()
    try:
        out = runner(b)
        rss = stats.rss_peak_mb()
    finally:
        with b.phase("stop"):
            b.stop_session()

    t_check = time.perf_counter()
    if args.workload == "write_mix":
        failures = check_writes(out)
        attempted = 1 + len(out["requests"]) + len(out["reads"])
    else:
        failures = check_reads(b.records, out["table_dir"])
        attempted = len(b.records)
    failed = len(failures)
    b.phases["check"] = time.perf_counter() - t_check
    e2e, extra = end_to_end(b, out, args.workload, rss)
    if args.trace:
        log_dir = os.path.join(work, "eventlog")
        metrics = per_layer(b, out, extra, log_dir)
        units = PER_LAYER
        b.tr.dump(os.path.join(work, "spans.jsonl"))
    else:
        metrics, units = e2e, END_TO_END

    report = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "attempted": attempted, "failed": failed,
        "failed_frac": failed / attempted, "failures": failures[:50],
        "end_to_end": e2e, "extra": extra, "metrics": metrics,
        "run_s": time.perf_counter() - t0, "phases": b.phases,
        "warm_s": out["warm_s"], "build_s": out["build_s"], "inv_s": out["inv_s"],
        "kind_p50_s": kind_medians(b.records),
    }
    for name in os.listdir(work):  # keep the report, spans and event log
        path = os.path.join(work, name)
        if name in ("spans.jsonl", "eventlog"):
            continue
        if os.path.isdir(path):
            shutil.rmtree(path, ignore_errors=True)
        else:
            os.remove(path)
    with open(os.path.join(work, "report.json"), "w") as f:
        json.dump(report, f, indent=1, default=str)
    for line in failures[:20]:
        print("FAIL", line, file=sys.stderr)
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
