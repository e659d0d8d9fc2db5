"""Self-tests of the benchmark's input generator, event-log fold and
per-layer report schema. Run from the repository root:

    python -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT, HERE]

import eventlog  # noqa: E402
import inputs  # noqa: E402
import run  # noqa: E402
import workloads  # noqa: E402


def test_nquads_lines_are_seeded_and_distinct():
    a = inputs.nquads_lines(5, 2000)
    assert a == inputs.nquads_lines(5, 2000)
    assert a != inputs.nquads_lines(6, 2000)
    assert len(a) == len(set(a)) == 2000
    assert all(line.endswith(" .") for line in a)


def test_nquads_lines_mix_term_kinds():
    lines = inputs.nquads_lines(11, 3000)
    bnode_subjects = [ln for ln in lines if ln.startswith("_:")]
    assert 0.05 * len(lines) < len(bnode_subjects) < 0.25 * len(lines)
    assert sum("^^<" in ln for ln in lines) > 0.1 * len(lines)
    assert sum('"@' in ln for ln in lines) > 0.05 * len(lines)
    assert any(ln.count("<") == 4 for ln in lines)  # named-graph quads
    assert any(ln.count("<") == 3 and not ln.startswith("_:") for ln in lines)


def test_every_blank_node_has_a_distinguishing_literal():
    lines = inputs.nquads_lines(2, 3000)
    ids = {}
    for ln in lines:
        if ln.startswith("_:"):
            label, _, rest = ln.partition(" ")
            ids.setdefault(label, []).append(rest)
    literals = [rest[0] for rest in ids.values()]
    assert all(len(rest) == 1 for rest in ids.values())
    assert len(set(literals)) == len(literals)
    used = {tok for ln in lines for tok in ln.split() if tok.startswith("_:")}
    assert used <= set(ids)


def test_statement_digest_ignores_order_and_counts_duplicates():
    lines = inputs.nquads_lines(3, 200)
    assert inputs.statement_digest(lines) == inputs.statement_digest(reversed(lines))
    assert inputs.statement_digest(lines + [""]) == inputs.statement_digest(lines)
    assert inputs.statement_digest(lines + lines[:1]) != inputs.statement_digest(lines)
    half = len(lines) // 2
    assert inputs.combine_digests(
        inputs.statement_digest(lines[:half]), inputs.statement_digest(lines[half:])
    ) == inputs.statement_digest(lines)


def _events():
    def job(jid, stages, group):
        return {"Event": "SparkListenerJobStart", "Job ID": jid, "Stage IDs": stages,
                "Properties": {eventlog.GROUP_KEY: group} if group else {}}

    def stage_done(sid, n):
        return {"Event": "SparkListenerStageCompleted",
                "Stage Info": {"Stage ID": sid, "Number of Tasks": n}}

    def task(sid, run_ms, cpu_ns, shuffle):
        return {"Event": "SparkListenerTaskEnd", "Stage ID": sid, "Task Metrics": {
            "Executor Run Time": run_ms, "Executor CPU Time": cpu_ns,
            "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle}}}

    return [
        job(0, [0, 1], "extract"), task(0, 1500, 500_000_000, eventlog.MB),
        task(0, 500, 250_000_000, 0), stage_done(0, 2),
        task(1, 1000, 1_000_000_000, 0), stage_done(1, 1),
        job(1, [2], None), task(2, 10, 0, 0), stage_done(2, 1),
    ]


def _log_lines():
    """The events as Spark writes them: compact JSON, one per line, with
    events the fold does not read in between."""
    other = {"Event": "SparkListenerTaskStart", "Stage ID": 0}
    for e in _events():
        yield json.dumps(other, separators=(",", ":"))
        yield json.dumps(e, separators=(",", ":"))


def test_fold_totals_per_group():
    folded = eventlog.fold(_log_lines())
    ext = folded["extract"]
    assert ext == pytest.approx({
        "jobs": 1, "tasks": 3, "serial_stages": 1, "run_s": 3.0, "cpu_s": 1.75,
        "offjvm_s": 1.25, "shuffle_mb": 1.0,
    })
    assert folded[""]["jobs"] == 1 and folded[""]["tasks"] == 1


def _benchmark():
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
        return json.load(fh)


def test_per_layer_report_matches_benchmark_definition():
    class FakeTracer:
        wall_s = {"extract": 2.5}
        rows_out = {"extract": 10}

    folded = eventlog.fold(_log_lines())
    metrics = run._layer_metrics(FakeTracer(), folded)
    assert len(metrics) == len(workloads.LAYERS) * len(workloads.LAYER_METRICS)
    assert metrics["extract.wall_s"] == {"value": 2.5, "unit": "s"}
    assert metrics["extract.tasks"]["value"] == 3
    assert metrics["compare.jobs"]["value"] == 0
    declared = {m["name"]: m["unit"] for m in _benchmark()["per_layer"]}
    produced = {k: v["unit"] for k, v in metrics.items()}
    produced.update({"trace.eventlog_mb": "MB", "trace.overhead_s": "s"})
    assert produced == declared


def test_benchmark_definition_names_the_workloads():
    bench = _benchmark()
    assert [w["name"] for w in bench["workloads"]] == list(workloads.WORKLOADS)
    assert {m["name"] for m in bench["end_to_end"]} == {
        "wall_s", "statements_per_s", "cpu_s", "setup_s"}


# Runs in its own interpreter: the JVM it starts carries the event-log
# settings as system properties, which must not reach a session that other
# tests in the same pytest process create later.
_REAL_LOG = """
import json, os, sys
from pyspark.sql import functions as F
import eventlog, run, workloads

work = sys.argv[1]
events = os.path.join(work, "events")
os.makedirs(events)
run._configure_env(work)
spark = run._start(work, events)
try:
    spark.range(10).count()  # before the log is attached: not in it
    run._attach_event_log(spark)
    trace = workloads.Tracer(spark)
    trace("extract", lambda: spark.range(100).groupBy((F.col("id") % 3).alias("k")).count())
    rows = trace.rows_out["extract"]
    trace.release()
finally:
    run._shutdown()
(log,) = os.listdir(events)
print(json.dumps({"rows": rows, "folded": eventlog.fold_file(os.path.join(events, log))}))
"""


def test_traced_layer_is_folded_from_a_real_event_log(tmp_path):
    import subprocess

    env = {**os.environ, "PYTHONPATH": os.pathsep.join([ROOT, HERE])}
    proc = subprocess.run([sys.executable, "-c", _REAL_LOG, str(tmp_path)], env=env,
                          capture_output=True, text=True, timeout=300)
    assert proc.returncode == 0, proc.stderr[-2000:]
    out = json.loads(proc.stdout.strip().splitlines()[-1])
    folded = out["folded"]
    assert out["rows"] == 3
    assert set(folded) == {"extract"}
    assert folded["extract"]["jobs"] >= 1
    assert folded["extract"]["tasks"] >= 2
    assert folded["extract"]["run_s"] >= folded["extract"]["cpu_s"] >= 0
