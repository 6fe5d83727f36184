#!/usr/bin/env python3
"""Closed-loop, single-client benchmark of the ema_bigdata_spark library.

Run from the repository root:

    python3 perfbench/run.py --workload tpch_sql --seed 1 --seconds 10 --trace 0

One run is one workload on ``local[<cores>]``: set-up (repeated
``SETUP_REPS`` times, median reported), one cold pass, steady passes
for ``--seconds``, then an output check of the last timed result of
every entry, outside the timer.  ``--seed`` sets the per-pass entry
order (seeded shuffle) and relabels the generated fixtures.

``--trace 0`` prints the end-to-end metrics.  ``--trace 1`` runs the
steady passes half untraced and half in a fresh session with a Spark
event log, job groups, listeners and layer spans (each half after one
warm-up pass), and prints the per-layer metrics per traced pass; the
per-query breakdown and span self times go to stdout and to
``.bench_build/perfbench/runs/``.

The last stdout line is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``.
Inputs, expected outputs and Spark scratch space live under
``.bench_build/perfbench`` in the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".bench_build", "perfbench")
SETUP_REPS = 3
#: driver heap, fixed at start (-Xms = -Xmx) as JVM benchmarks do, so
#: peak RSS does not follow the collector's heap-growth decisions
DRIVER_MEM = "1g"

END_TO_END_UNITS = {
    "setup_s": "s",
    "cold_pass_s": "s",
    "pass_s": "s",
    "query_p50_s": "s",
    "input_rows_per_s": "rows/s",
    "peak_rss_mb": "MB",
}


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def core_count() -> int:
    return len(os.sched_getaffinity(0))


def prepare_env(cores: int) -> None:
    """Pin the session shape and keep every Spark scratch file inside
    the work directory; must run before the JVM starts."""
    tmp = os.path.join(WORK, "tmp")
    local = os.path.join(WORK, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cores),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_LOCAL_IP": "127.0.0.1",
        "SPARK_LOCAL_DIRS": local,
        "TMPDIR": tmp,
        # no JVM perf-data files in the system temp dir
        "SPARK_LAUNCHER_OPTS": "-XX:-UsePerfData",
        "PYSPARK_SUBMIT_ARGS": shlex.join([
            "--driver-java-options",
            f"-XX:-UsePerfData -Djava.io.tmpdir={tmp} -Xms{DRIVER_MEM}",
            "--conf", f"spark.sql.warehouse.dir={os.path.join(WORK, 'warehouse')}",
            "--conf", "spark.ui.showConsoleProgress=false",
            "pyspark-shell",
        ]),
    })
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR


def vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def descendants(pid: int) -> list[int]:
    out: list[int] = []
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return out
    for tid in tids:
        try:
            with open(f"/proc/{pid}/task/{tid}/children") as f:
                kids = [int(k) for k in f.read().split()]
        except OSError:
            continue
        for k in kids:
            out.append(k)
            out.extend(descendants(k))
    return out


class Run:
    """One workload run; also the context the workload entries see."""

    def __init__(self, args, data_dir, rows, expected):
        from stats import Tally
        from spans import Tracer

        self.args = args
        self.seed = args.seed
        self.cores = core_count()
        self.data_dir = data_dir
        self.rows = rows
        self.expected = expected
        self.tracer = Tracer()
        self.tally = Tally()
        self.spark = None
        self.jvm_pid: int | None = None
        self.sinks = os.path.join(WORK, "sinks")
        shutil.rmtree(self.sinks, ignore_errors=True)  # last run's output
        self.last_sink: dict[str, str] = {}
        self._sink_n = 0
        self.setup_times: list[float] = []
        self.get_spark_times: list[float] = []
        self.passes: list[dict] = []
        self.peak_jvm_mb = 0.0
        self.workload = None  # set once built against this context
        self.orders = None
        self.trace_detail: dict = {}

    def sink_path(self, name: str) -> str:
        self._sink_n += 1
        return os.path.join(self.sinks, f"{name}-{self._sink_n}")

    # ---- session ----
    def start_session(self) -> float:
        from ema_bigdata_spark import registry, session
        from ema_bigdata_spark.sources import tables

        t0 = time.perf_counter()
        with self.tracer.span("session.get_spark"):
            self.spark = session.get_spark(app_name="perfbench")
        self.get_spark_times.append(time.perf_counter() - t0)
        registry.load_all()
        for t in self.workload.tables:
            tables.load_table(self.spark, self.data_dir, t).count()
        self.jvm_pid = int(
            self.spark._jvm.java.lang.ProcessHandle.current().pid()
        )
        return time.perf_counter() - t0

    def setup(self) -> None:
        for i in range(SETUP_REPS):
            if i:
                self.stop_session()
            self.setup_times.append(self.start_session())

    def stop_session(self) -> None:
        self.peak_jvm_mb = max(self.peak_jvm_mb, vm_hwm_mb(self.jvm_pid))
        self.spark.stop()

    def shutdown(self) -> None:
        """Stop Spark, end the JVM and wait for it and its children;
        safe to call again or before a session exists."""
        from pyspark import SparkContext

        if self.spark is not None and self.jvm_pid is not None:
            self.stop_session()
        self.spark = None
        gateway = SparkContext._gateway
        if gateway is None:
            return
        proc = getattr(gateway, "proc", None)
        kids = descendants(proc.pid) if proc is not None else []
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is None:
            return
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()
        deadline = time.monotonic() + 30
        for pid in kids:
            while time.monotonic() < deadline:
                try:
                    os.kill(pid, 0)
                except OSError:
                    break
                time.sleep(0.05)

    # ---- passes ----
    def run_pass(self, traced: bool) -> dict:
        order = next(self.orders)
        sc = self.spark.sparkContext
        n = len(self.passes)
        lat: dict[str, float] = {}
        results = {}
        t0 = time.perf_counter()
        for e in order:
            call_id = f"{n}:{e.name}"
            self.tracer.call_id = call_id
            if traced:
                sc.setJobGroup(call_id, e.name)
            a = time.perf_counter()
            try:
                with self.tracer.span("registry.call"):
                    res = e.call(self)
                with self.tracer.span("registry.force"):
                    e.force(self, res)
            except Exception as exc:  # counted, the pass goes on
                traceback.print_exc(file=sys.stderr)
                self.tally.record(e.name, f"{type(exc).__name__}: {exc}")
                continue
            self.tally.record(e.name, None)
            lat[e.name] = time.perf_counter() - a
            results[e.name] = res
        wall = time.perf_counter() - t0
        self.tracer.call_id = None
        if traced:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        p = {"index": n, "wall": wall, "latency": lat, "traced": traced,
             "order": [e.name for e in order], "results": results}
        self.passes.append(p)
        return p

    def steady(self, seconds: float, traced: bool) -> list[dict]:
        out = []
        t0 = time.perf_counter()
        while not out or time.perf_counter() - t0 < seconds:
            out.append(self.run_pass(traced))
        return out

    def check(self, results: dict) -> None:
        """Compare the last timed result of every entry with its
        expected output (outside the timer)."""
        for e in self.workload.entries:
            if e.name not in results:
                continue  # its failure is already counted
            try:
                err = e.check(self, results[e.name])
            except Exception as exc:  # counted like a mismatch
                traceback.print_exc(file=sys.stderr)
                err = f"check raised {type(exc).__name__}: {exc}"
            self.tally.record(f"check {e.name}", err)


def end_to_end(run: Run, steady: list[dict], cold: dict,
               python_mb: float) -> dict[str, float]:
    from stats import median, tail

    walls = [p["wall"] for p in steady]
    lat = [v for p in steady for v in p["latency"].values()]
    # the tail is printed, not gated: at 3-5 samples per run the rule
    # falls to the lowest sample
    p90, level, n = tail(lat)
    print(f"query_p90_s = {p90:.6g} s (level p{100 * level:.0f}"
          f" of {n} samples)")
    pass_s = median(walls)
    return {
        "setup_s": median(run.setup_times),
        "cold_pass_s": cold["wall"],
        "pass_s": pass_s,
        "query_p50_s": median(lat),
        "input_rows_per_s": run.workload.input_rows / pass_s,
        "peak_rss_mb": run.peak_jvm_mb + python_mb,
    }


def traced_session(run: Run, log_dir: str):
    """Restart the session with an uncompressed event log in
    ``log_dir``; returns the listener handles."""
    import spans

    run.stop_session()
    shutil.rmtree(log_dir, ignore_errors=True)
    os.makedirs(log_dir)
    system = run.spark._jvm.java.lang.System
    props = {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + log_dir,
        "spark.eventLog.compress": "false",
    }
    for k, v in props.items():
        system.setProperty(k, v)
    run.start_session()
    for k in props:
        system.clearProperty(k)
    return spans.listeners(run.spark, run.tracer)


def per_layer(run: Run, untraced: list[dict], traced: list[dict],
              log_dir: str, phases, stream_runs) -> dict[str, float]:
    import eventlog
    from stats import median, self_times

    calls = eventlog.fold(eventlog.read_events(log_dir), stream_runs)
    for call, c in eventlog.assign_phases(
        phases, run.tracer.windows()
    ).items():
        calls.setdefault(call, dict.fromkeys(eventlog.COUNTERS, 0)).update(c)
    traced_ids = {f"{p['index']}:{name}"
                  for p in traced for name in p["latency"]}
    n = len(traced)
    totals = dict.fromkeys(eventlog.COUNTERS, 0.0)
    per_query: dict[str, dict[str, float]] = {}
    for call, counters in calls.items():
        if call not in traced_ids:
            continue
        q = per_query.setdefault(call.split(":", 1)[1],
                                 dict.fromkeys(eventlog.COUNTERS, 0.0))
        for k, v in counters.items():
            totals[k] += v
            q[k] += v
    every = run.tracer.closed()
    mine = [i for i, s in enumerate(every) if s[4] in traced_ids]
    span_s: dict[str, float] = {}
    selfs: dict[str, float] = {}
    own = self_times(every)
    for i in mine:
        name, start, end = every[i][:3]
        span_s[name] = span_s.get(name, 0.0) + end - start
        selfs[name] = selfs.get(name, 0.0) + own[i]
    wall = sum(p["wall"] for p in traced)
    out = {k: v / n for k, v in totals.items()}
    out["exec.busy_share"] = totals["exec.task_run_s"] / (wall * run.cores)
    out["session.get_spark_s"] = median(run.get_spark_times)
    for name in ("registry.call", "registry.force", "sources.load_table",
                 "sources.sinks_write", "gmm.value_histogram",
                 "gmm.gmm_fit_hist", "dedup.connected_components"):
        out[f"{name}_s"] = span_s.get(name, 0.0) / n
    out["trace.overhead_share"] = (
        median([p["wall"] for p in traced])
        / median([p["wall"] for p in untraced]) - 1.0
    )
    # the breakdown behind the totals, for reading, not for the gate
    for name, q in sorted(per_query.items()):
        shown = {k: round(v / n, 4) for k, v in q.items() if v}
        print(f"query {name}: {json.dumps(shown, sort_keys=True)}")
    for name, v in sorted(selfs.items()):
        print(f"self {name}: {v / n:.4f} s/pass")
    unattributed = calls.get(eventlog.UNATTRIBUTED, {})
    run.trace_detail = {
        "per_query_per_pass": {k: {c: v / n for c, v in q.items()}
                               for k, q in per_query.items()},
        "self_s_per_pass": {k: v / n for k, v in selfs.items()},
        "unattributed": unattributed,
    }
    return out


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path[:0] = [HERE, ROOT]
    try:
        import pyspark  # noqa: F401
        from ema_bigdata_spark import registry
        from tests import oracle  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: the library is not importable: {exc}",
              file=sys.stderr)
        return 2
    import workloads

    if args.workload not in workloads.NAMES:
        print(f"perfbench: unknown workload {args.workload!r};"
              f" choose from {', '.join(workloads.NAMES)}", file=sys.stderr)
        return 2
    if args.seconds <= 0:
        print("perfbench: --seconds must be positive", file=sys.stderr)
        return 2

    import expected as exp

    os.makedirs(WORK, exist_ok=True)
    prepare_env(core_count())
    data_dir, rows = exp.ensure_data(WORK)
    registry.load_all()
    expected = exp.Expected(WORK, data_dir)
    expected.prepare(workloads.registered_names(args.workload))

    run = Run(args, data_dir, rows, expected)
    run.workload = workloads.build(args.workload, run)
    run.orders = workloads.pass_orders(run.workload.entries, args.seed)
    workloads.apply_patches(run.workload.patches)

    try:
        metrics, units = measure(run, args)
    except BaseException:
        run.shutdown()
        raise

    print(f"workload={args.workload} seed={args.seed} trace={args.trace}"
          f" cores={run.cores} passes={len(run.passes) - 1}"
          f" error_rate={run.tally.error_rate:.4f}")
    for reason in run.tally.reasons:
        print(f"failed: {reason}")
    for name, v in metrics.items():
        print(f"{name} = {v:.6g} {units[name]}")
    write_record(run, metrics)
    print(json.dumps({
        "correct": run.tally.failed == 0,
        "attempted": run.tally.attempted,
        "failed": run.tally.failed,
        "metrics": {k: {"value": v, "unit": units[k]}
                    for k, v in metrics.items()},
    }))
    return 0


def measure(run: Run, args) -> tuple[dict[str, float], dict[str, str]]:
    """Set-up, passes and output check; the session is shut down before
    the metrics are computed.  Returns ``(metrics, units)``."""
    run.setup()
    cold = run.run_pass(traced=False)
    if not args.trace:
        steady = run.steady(args.seconds, traced=False)
        run.check(steady[-1]["results"])
        run.shutdown()
        return (end_to_end(run, steady, cold, vm_hwm_mb("self")),
                END_TO_END_UNITS)
    import spans

    # each half gets one warm-up pass in its own session first,
    # so the traced half is not compared with a colder untraced one
    run.run_pass(traced=False)
    untraced = run.steady(args.seconds / 2, traced=False)
    log_dir = os.path.join(WORK, "eventlog")
    phases, stream_runs, unregister = traced_session(run, log_dir)
    patches = spans.Patches(run.tracer)
    patches.install()
    try:
        run.run_pass(traced=True)
        traced = run.steady(args.seconds / 2, traced=True)
    finally:
        patches.restore()
    run.spark.sparkContext.setJobGroup("check", "output check")
    run.check(traced[-1]["results"])
    unregister()
    run.shutdown()
    metrics = per_layer(run, untraced, traced, log_dir, phases,
                        stream_runs)
    units = layer_units()
    return metrics, units


def layer_units() -> dict[str, str]:
    """Unit of each per-layer metric, from its name's suffix."""
    import eventlog

    names = list(eventlog.COUNTERS) + [
        "exec.busy_share", "session.get_spark_s", "registry.call_s",
        "registry.force_s", "sources.load_table_s", "sources.sinks_write_s",
        "gmm.value_histogram_s", "gmm.gmm_fit_hist_s",
        "dedup.connected_components_s", "trace.overhead_share",
    ]
    out = {}
    for n in names:
        if n.endswith("_ms"):
            out[n] = "ms"
        elif n.endswith("_s"):
            out[n] = "s"
        elif n.endswith("_bytes") or n.startswith("python.bytes"):
            out[n] = "bytes"
        elif n.endswith("_share"):
            out[n] = "ratio"
        elif n.endswith("_rows"):
            out[n] = "rows"
        else:
            out[n] = "count"
    return out


def write_record(run: Run, metrics: dict[str, float]) -> None:
    a = run.args
    path = os.path.join(WORK, "runs",
                        f"{a.workload}-seed{a.seed}-trace{a.trace}.json")
    os.makedirs(os.path.dirname(path), exist_ok=True)
    record = {
        "workload": a.workload, "seed": a.seed, "trace": a.trace,
        "cores": run.cores, "loadavg": os.getloadavg(),
        "setup_s": run.setup_times,
        "passes": [{k: v for k, v in p.items() if k != "results"}
                   for p in run.passes],
        "failures": run.tally.reasons,
        "metrics": metrics,
        "spans": run.tracer.closed(),
        **run.trace_detail,
    }
    with open(path, "w") as f:
        json.dump(record, f, indent=1, default=str)


if __name__ == "__main__":
    sys.exit(main())
