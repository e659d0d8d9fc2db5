"""Benchmark driver for the KG-construction pipeline and the rdf CLI.

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload kg_build --seed 1 --seconds 5 --trace 0

One process drives all load on ``local[min(4, nproc)]``. Set-up is timed
as ``setup_s``: interpreter and session start and input generation. Then
the workload runs for ``--seconds`` (at least one iteration), and every
iteration's outputs are checked after the timed region. The first
iteration is the session's first run of the workload's code paths,
Python-worker start included, as it is for a user's CLI call or pipeline
job, each of which starts its own session.

With ``--trace 0`` the last stdout line carries the end-to-end metrics.
With ``--trace 1`` the Spark event log is then attached, each layer's
public functions run under their own job group, and the last line carries
the per-layer metrics folded from that log. The line before the last is a
report: settings, per-command times, error rate, the driver JVM's peak
RSS and, when traced, the layer table and per-group totals.

Every run writes only under ``.perfbench_work/`` in the checkout and
removes it at exit.
"""

from __future__ import annotations

import time

T0 = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DRIVER_MEM = "4g"


def _configure_env(work: str) -> dict:
    """Fit the session to this host through the settings the program reads,
    and keep every file Spark or Python writes inside ``work``."""
    cpus = min(4, os.cpu_count() or 1)
    env = {
        "SPARK_GRAFT_CPUS": str(cpus),
        # the program's default (32) is sized for a 16-32 core host
        "SPARK_GRAFT_SHUFFLE_PARTITIONS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        # Shuffle and spill files. The program's default is the RAM-backed
        # /dev/shm, which is outside the checkout, so here they go to the
        # checkout's disk instead. A run shuffles under 10 MB, which the
        # page cache holds, so the disk's throughput does not enter the
        # figures at these input sizes; it would at the paper's scale.
        "SPARK_GRAFT_LOCAL_DIR": os.path.join(work, "local"),
        "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
        "TMPDIR": os.path.join(work, "tmp"),
        # both JVMs (launcher and driver): no temp files or perf-data
        # files outside the checkout
        "JAVA_TOOL_OPTIONS": f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(work, 'tmp')}",
        # Python workers import cli_spark and the benchmark's modules
        "PYTHONPATH": os.pathsep.join([ROOT, HERE]),
    }
    os.environ.update(env)
    os.makedirs(env["TMPDIR"], exist_ok=True)
    return env


def _spark_conf(work: str, event_dir: str | None) -> dict:
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    }
    if event_dir:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": event_dir,
            # zstandard is not installed and the fold reads plain JSON lines
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return conf


def _start(work: str, event_dir: str | None = None):
    """Start the session. With ``event_dir`` the event log is configured
    but detached until the traced phase, so set-up and the untraced
    iterations are not logged."""
    from cli_spark.session import get_spark

    spark = get_spark("perfbench", extra_conf=_spark_conf(work, event_dir))
    if event_dir:
        jsc = spark.sparkContext._jsc.sc()
        jsc.listenerBus().removeListener(jsc.eventLogger().get())
    return spark


def _attach_event_log(spark):
    """Attach the event log that ``_start`` detached; returns the bus."""
    jsc = spark.sparkContext._jsc.sc()
    bus = jsc.listenerBus()
    bus.addToEventLogQueue(jsc.eventLogger().get())
    return bus


def _peak_rss_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError("no VmHWM for the driver JVM")


def _descendants(pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [pid]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _tree_cpu_s() -> float:
    """CPU seconds used so far by this process and its live descendants (the
    driver JVM and its Python workers). A worker that exited and was reaped
    by its parent is still counted, in the parent's children times."""
    total = 0
    for pid in [os.getpid(), *_descendants(os.getpid())]:
        try:
            with open(f"/proc/{pid}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    return total / os.sysconf("SC_CLK_TCK")


def _shutdown() -> None:
    """Stop the JVM this process started and wait until it and its Python
    workers have exited."""
    import signal

    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    proc = gw.proc
    kids = _descendants(proc.pid)
    gw.shutdown()
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except Exception:
        proc.kill()
        proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None
    deadline = time.monotonic() + 30
    for pid in kids:
        while os.path.exists(f"/proc/{pid}") and time.monotonic() < deadline:
            time.sleep(0.1)
        if os.path.exists(f"/proc/{pid}"):
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass


def _layer_metrics(trace, folded: dict) -> dict:
    """``<layer>.<metric>`` for every layer; a layer that did not run on
    this workload reads 0."""
    import eventlog
    from workloads import LAYER_METRICS, LAYERS

    metrics = {}
    for layer in LAYERS:
        tot = folded.get(layer, {})
        values = {
            **{k: tot.get(k, 0) for k in eventlog.FIELDS},
            "wall_s": trace.wall_s.get(layer, 0.0),
            "rows_out": trace.rows_out.get(layer, 0),
        }
        for name, unit, _ in LAYER_METRICS:
            metrics[f"{layer}.{name}"] = {"value": values[name], "unit": unit}
    return metrics


def _run_once(wl, i: int) -> dict:
    """One timed iteration; an exception is recorded as a failed one."""
    t = time.perf_counter()
    cpu = _tree_cpu_s()
    try:
        res = wl.run_once(i)
    except Exception as exc:
        res = {"wall_s": time.perf_counter() - t, "statements": 0, "cmd": {},
               "error": repr(exc)}
    res["cpu_s"] = _tree_cpu_s() - cpu
    return res


def _check(wl, results) -> tuple[int, list[str]]:
    failed = 0
    problems = []
    for res in results:
        if "error" in res:
            p = [f"iteration raised {res['error']}"]
        else:
            try:
                p = wl.check(res)
            except Exception as exc:  # a check that cannot run is a failed check
                p = [f"check raised {exc!r}"]
        failed += bool(p)
        problems += p
    return failed, problems


def run(workload: str, seed: int, seconds: int, trace: bool) -> dict:
    """One benchmark run; returns the result object of the last stdout line
    and prints the report line before it."""
    work = os.path.join(ROOT, ".perfbench_work", f"{workload}-{seed}-{os.getpid()}")
    os.makedirs(work)
    env = _configure_env(work)
    event_dir = os.path.join(work, "events") if trace else None
    if event_dir:
        os.makedirs(event_dir)
    from workloads import WORKLOADS

    try:
        spark = _start(work, event_dir)
        wl = WORKLOADS[workload](spark, work, seed)
        wl.setup()
        setup_s = time.perf_counter() - T0
        results = []
        start = time.perf_counter()
        while not results or time.perf_counter() - start < seconds:
            results.append(_run_once(wl, len(results)))
        report = {
            "workload": workload, "seed": seed,
            "settings": {**env, **wl.settings, "spark_conf": _spark_conf(work, event_dir)},
            "setup_s": setup_s,
            "cmd_s": [r["cmd"] for r in results],
        }
        if trace:
            return _traced(spark, wl, results, event_dir, report)
        peak_rss_mb = _peak_rss_mb(spark.sparkContext._gateway.proc.pid)
        failed, problems = _check(wl, results)
        wall_s = statistics.median(r["wall_s"] for r in results)
        statements = statistics.median(r["statements"] for r in results)
        report.update(iterations=len(results), error_rate=failed / len(results),
                      problems=problems, peak_rss_mb=peak_rss_mb)
        print(json.dumps({"report": report}))
        return {
            "correct": failed == 0, "attempted": len(results), "failed": failed,
            "metrics": {
                "wall_s": {"value": wall_s, "unit": "s"},
                "statements_per_s": {"value": statements / wall_s, "unit": "1/s"},
                "cpu_s": {"value": statistics.median(r["cpu_s"] for r in results),
                          "unit": "s"},
                "setup_s": {"value": setup_s, "unit": "s"},
            },
        }
    finally:
        _shutdown()
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass


def _traced(spark, wl, untraced: list, event_dir: str, report: dict) -> dict:
    """Per-layer accounting, after the untraced iterations: with the event
    log attached, each layer's public functions run under their own job
    group, and the log is folded by group.

    The tracing overhead is the time the event-log listener spent handling
    events, from the listener bus's own timer (count x mean duration). A
    traced-minus-untraced wall difference would need two more warm
    iterations of the workload in this run."""
    import eventlog
    from workloads import LAYERS, Tracer

    bus = _attach_event_log(spark)
    tracer = Tracer(spark)
    wl.trace_layers(tracer)
    tracer.release()
    timer = bus.metrics().metricRegistry().getTimers().get(
        "listenerProcessingTime.org.apache.spark.scheduler.EventLoggingListener")
    overhead_s = timer.getCount() * timer.getSnapshot().getMean() / 1e9
    failed, problems = _check(wl, untraced)
    spark.stop()
    (log,) = [os.path.join(event_dir, f) for f in os.listdir(event_dir)]
    folded = eventlog.fold_file(log)
    metrics = _layer_metrics(tracer, folded)
    metrics["trace.eventlog_mb"] = {"value": os.path.getsize(log) / eventlog.MB, "unit": "MB"}
    metrics["trace.overhead_s"] = {"value": overhead_s, "unit": "s"}
    report["trace"] = {
        "layers_run": sorted(layer for layer in LAYERS if layer in tracer.wall_s),
        "layer_moves": {layer: {"moves": m, "on": on} for layer, (m, on) in LAYERS.items()},
        "untraced_wall_s": statistics.median(r["wall_s"] for r in untraced),
        "traced_layers_wall_s": sum(tracer.wall_s.values()),
        "groups": folded,
    }
    report.update(error_rate=failed / len(untraced), problems=problems)
    print(json.dumps({"report": report}))
    return {"correct": failed == 0, "attempted": len(untraced), "failed": failed,
            "metrics": metrics}


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "cli_spark")):
        print(f"error: no cli_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, HERE]
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"error: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    result = run(args.workload, args.seed, args.seconds, bool(args.trace))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
