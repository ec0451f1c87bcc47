#!/usr/bin/env python3
"""Closed-loop benchmark of the cdw_spark engine: two seeded workloads.

    python3 perfbench/run.py --workload query_suite --seed 1 --seconds 5 --trace 0

Runs from any directory: everything it writes goes under ``.perfbench/``
at the root of the checkout that holds this file. One client sends one
operation at a time on ``local[<cpus>]``. The seed drives the input
generator and the order of operations in each pass; the engine sees only
the generated inputs.

A run generates its inputs, warms the workload, then runs whole passes
until ``--seconds`` have elapsed. Correctness is checked outside the timed
window and outside the set-up time; the command exits 1 when an operation
or a check failed. The last
line of standard output is one JSON object. With ``--trace 0`` it holds
the end-to-end metrics, measured with no tracing. With ``--trace 1`` the
passes alternate untraced and traced, and it holds the per-layer metrics
read from the traced passes, the Spark event log, and the difference
between traced and untraced latency. The spans go to
``.perfbench/traces/``. See NOTES.md beside this file.
"""

from __future__ import annotations

import argparse
import gc
import json
import math
import os
import random
import shutil
import signal
import statistics
import sys
import time
import traceback
from contextlib import nullcontext

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".perfbench")
WORK = os.path.join(STATE, "work")
GEN_REPEATS = 3
# Only the initial heap is pinned; the maximum stays the engine's own.
INITIAL_HEAP = "2g"


def _cpus() -> int:
    return len(os.sched_getaffinity(0))


def pin_environment(trace: bool) -> dict[str, str]:
    """Pin every location and size the engine would otherwise take from the
    host, before pyspark or cdw_spark is imported. Returns extra Spark conf."""
    shutil.rmtree(WORK, ignore_errors=True)
    dirs = {k: os.path.join(WORK, k) for k in ("warehouse", "replay", "spark-local", "tmp", "eventlog")}
    for d in dirs.values():
        os.makedirs(d)
    os.environ.update(
        {
            "SPARK_GRAFT_WAREHOUSE": dirs["warehouse"],
            "SPARK_GRAFT_REPLAY_SCRATCH": dirs["replay"],
            "SPARK_LOCAL_DIRS": dirs["spark-local"],
            "TMPDIR": dirs["tmp"],
            "SPARK_GRAFT_CPUS": str(_cpus()),
            "PYSPARK_PYTHON": sys.executable,
            # the launcher JVM that spark-submit starts first
            "SPARK_LAUNCHER_OPTS": f"-XX:-UsePerfData -Djava.io.tmpdir={dirs['tmp']}",
            # Python UDF workers import cdw_spark by module path
            "PYTHONPATH": os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        }
    )
    for p in (ROOT, HERE):
        if p not in sys.path:
            sys.path.insert(0, p)
    conf = {
        "spark.ui.showConsoleProgress": "false",
        # The initial heap would otherwise be 1/64 of the host's memory, and
        # the heap's growth from there varies the peak RSS by 15-30% from run
        # to run; UsePerfData would write /tmp/hsperfdata_<user>.
        "spark.driver.extraJavaOptions": (
            f"-Xms{INITIAL_HEAP} -XX:-UsePerfData -Djava.io.tmpdir={dirs['tmp']}"
        ),
    }
    if trace:
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": dirs["eventlog"],
                "spark.eventLog.compress": "false",
            }
        )
    return conf


def _proc_tree(root: int) -> list[int]:
    """Descendant pids of ``root``."""
    parent: dict[int, int] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    parent[int(d)] = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                pass
    out, frontier = [], [root]
    while frontier:
        p = frontier.pop()
        kids = [c for c, pp in parent.items() if pp == p]
        out.extend(kids)
        frontier.extend(kids)
    return out


def _hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def cpu_seconds() -> float:
    """CPU time (user + system) of this process and every descendant,
    including reaped children's."""
    tick = os.sysconf("SC_CLK_TCK")
    total = 0
    for pid in [os.getpid(), *_proc_tree(os.getpid())]:
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
            total += sum(int(x) for x in fields[11:15])
        except (OSError, ValueError):
            pass
    return total / tick


def _driver_pids() -> list[int]:
    """This Python driver and its JVM child."""
    pids = [os.getpid()]
    for pid in _proc_tree(os.getpid()):
        try:
            with open(f"/proc/{pid}/comm") as f:
                if f.read().strip() == "java":
                    pids.append(pid)
        except OSError:
            pass
    return pids


def reset_peak_rss() -> None:
    """Restart the high-water marks at the current RSS, so that the peak
    covers the timed passes and not the warm-up."""
    for pid in _driver_pids():
        try:
            with open(f"/proc/{pid}/clear_refs", "w") as f:
                f.write("5")
        except OSError:
            pass


def peak_rss_mb() -> float:
    """High-water RSS of this Python driver plus its JVM child."""
    return sum(_hwm_kb(pid) for pid in _driver_pids()) / 1024.0


def shutdown(spark) -> None:
    """Stop Spark and wait until the JVM and every worker it started exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is None:
        return
    children = _proc_tree(os.getpid())
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on EOF of its stdin
        proc.wait(timeout=60)
    deadline = time.monotonic() + 20
    for sig in (None, signal.SIGTERM, signal.SIGKILL):
        alive = [p for p in children if os.path.exists(f"/proc/{p}")]
        if not alive:
            return
        for p in alive:
            if sig is not None:
                try:
                    os.kill(p, sig)
                except ProcessLookupError:
                    pass
        while time.monotonic() < deadline and any(os.path.exists(f"/proc/{p}") for p in alive):
            time.sleep(0.1)
        deadline = time.monotonic() + 5


def housekeeping(spark) -> None:
    """Between operations, outside their timing: free the blocks that
    localCheckpoint leaves behind, so one operation's storage does not slow
    the next (the JVM frees them only once the RDD is garbage-collected)."""
    gc.collect()
    for rdd in list(spark.sparkContext._jsc.getPersistentRDDs().values()):
        rdd.unpersist()


def timed_loop(spark, wl, rng, seconds: float, tracer, traced_first: bool) -> tuple[list[dict], int]:
    """Whole passes until ``seconds`` have elapsed. With a tracer the passes
    alternate traced and untraced, in pairs; ``traced_first`` picks which
    comes first in a pair (later passes run slightly warmer, so the order
    alternates with the seed and the median over seeds cancels it)."""
    samples: list[dict] = []
    failed = 0
    t_start = time.perf_counter()
    n_pass = 0
    while True:
        traced = tracer is not None and (n_pass % 2 == 0) == traced_first
        wl.before_pass()
        if traced:
            tracer.install()
        try:
            for op in wl.pass_ops(rng):
                offset = time.perf_counter() - t_start
                ok = True
                tr = tracer if traced else None
                if tr:
                    tr.op = len(samples)
                with tr.span("op", kind=op.kind, query=op.name) if tr else nullcontext():
                    c0 = cpu_seconds()
                    t0 = time.perf_counter()
                    try:
                        op.run(tr)
                    except Exception:
                        ok = False
                        traceback.print_exc(file=sys.stderr)
                    dt = time.perf_counter() - t0
                    cpu = cpu_seconds() - c0
                failed += not ok
                samples.append(
                    {"op": op.name, "kind": op.kind, "pass": n_pass, "traced": traced,
                     "offset_s": round(offset, 4), "latency_s": dt, "cpu_s": cpu, "ok": ok}
                )
                housekeeping(spark)
        finally:
            if traced:
                tracer.uninstall()
        n_pass += 1
        done = time.perf_counter() - t_start >= seconds
        if done and (tracer is None or n_pass % 2 == 0):
            return samples, failed


def end_to_end(samples: list[dict]) -> dict:
    """A pass is a fixed mix of unlike operations (0.1 s to 3 s), so its
    median jumps between neighbouring operations from run to run; the
    geometric mean weighs every operation alike and moves smoothly."""
    lat = [s["latency_s"] for s in samples if s["ok"]]
    if not lat:  # every operation failed; the run reports that, not a time
        return {"op_geomean_s": 0.0, "ops_per_s": 0.0}
    return {
        "op_geomean_s": math.exp(statistics.fmean(math.log(x) for x in lat)),
        "ops_per_s": len(lat) / sum(lat),
    }


def per_layer(tracer, samples: list[dict], wl, setup: dict, event_log) -> dict:
    """Per-operation means over the traced passes, unless named a ratio."""
    traced = [s for s in samples if s["traced"] and s["ok"]]
    untraced = [s for s in samples if not s["traced"] and s["ok"]]
    n = max(1, len(traced))
    ops = {s.op: s for s in tracer.spans if s.name == "op"}
    kids = tracer.children()
    by_name: dict[str, list] = {}
    for s in tracer.spans:
        by_name.setdefault(s.name, []).append(s)

    def spans(name):
        return [s for s in by_name.get(name, []) if s.op in ops]

    def dur(ss):
        return sum(s.end - s.start for s in ss)

    def jobs(ss):
        return sum(s.job_hi - s.job_lo for s in ss)

    def self_time(ss):
        return sum((s.end - s.start) - dur(kids.get(s.id, [])) for s in ss)

    m: dict[str, float] = {
        "session.start_s": setup["session_s"],
        "registry.load_s": setup["registry_s"],
        "input.generate_s": setup["generate_s"],
        "suite.warmup_s": setup["warm_s"],
    }
    lf = spans("catalog.load_fixture")
    m["catalog.load_fixture_calls"] = len(lf) / n
    m["catalog.load_fixture_s"] = dur(lf) / n
    m["catalog.load_fixture_jobs"] = jobs(lf) / n
    build = spans("suite.build")
    m["suite.build_s"] = dur(build) / n
    m["suite.build_self_s"] = self_time(build) / n
    m["suite.build_jobs"] = jobs(build) / n
    m["spark.plan_s"] = sum(s.attrs.get("catalyst_s", 0.0) for s in spans("spark.plan")) / n
    sink = spans("spark.sink")
    m["spark.exec_s"] = dur(sink) / n
    m["spark.jobs"] = jobs(sink) / n
    stages = [sid for s in sink for sid in event_log.stages(s)]
    m["spark.stages"] = len(stages) / n
    m["spark.tasks"] = sum(event_log.tasks[sid] for sid in stages) / n
    op_stages = [sid for s in ops.values() for sid in event_log.stages(s)]
    for s in ops.values():  # kept in the trace file, per operation
        s.attrs["task_s"] = sum(event_log.task_s[sid] for sid in event_log.stages(s))
    task_s = sum(s.attrs["task_s"] for s in ops.values())
    m["spark.task_s"] = task_s / n
    # executor run time over the cores' time in the traced operations:
    # near 1 when the executors are the bottleneck, near 0 when the driver is
    op_s = sum(s["latency_s"] for s in traced)
    m["spark.executor_busy_ratio"] = task_s / (op_s * _cpus()) if op_s else 0.0
    m["spark.shuffle_write_bytes"] = sum(event_log.shuffle_write_bytes[sid] for sid in op_stages) / n
    serve = spans("artifacts.serve_at_rest")
    builds = [s for s in serve if s.attrs.get("build")]
    m["artifacts.calls"] = len(serve) / n
    m["artifacts.builds"] = len(builds) / n
    m["artifacts.hit_ratio"] = (1 - len(builds) / len(serve)) if serve else 0.0
    m["artifacts.build_s"] = dur(builds) / n
    replays = spans("streaming.run_available_now")
    m["streaming.replays"] = len(replays) / n
    m["streaming.replay_s"] = dur(replays) / n
    for gate in ("broadcast_if_small", "rebalance_scan"):
        m[f"hints.{gate}_calls"] = len(spans(f"hints.{gate}")) / n
    m["sources.load_staging_s"] = dur(spans("sources.load_staging")) / n
    writes = spans("layout.write_table")
    m["layout.write_table_s"] = dur(writes) / n
    m["layout.bytes_written"] = sum(s.attrs.get("bytes", 0) for s in writes) / n
    from cdw_spark.pipeline.elt import INSERT_ORDER

    for table in ("staging_events", "staging_songs", *INSERT_ORDER):
        ws = [s for s in writes if s.attrs.get("table") == table]
        m[f"layout.write_table_s.{table}"] = dur(ws) / n
        m[f"layout.bytes_written.{table}"] = sum(s.attrs.get("bytes", 0) for s in ws) / n
    m["sparkify.star_write_s"] = dur([s for s in writes if s.attrs.get("table") in INSERT_ORDER]) / n

    full = [s["latency_s"] for s in traced if s["kind"] == "elt_full"]
    batch = [s["latency_s"] for s in traced if s["kind"] == "elt_batch"]
    batch_ops = [o for o in ops.values() if o.attrs.get("kind") == "elt_batch"]
    m["elt.full_s"] = statistics.median(full) if full else 0.0
    m["elt.batch_s"] = statistics.median(batch) if batch else 0.0
    m["elt.batch_jobs"] = jobs(batch_ops) / len(batch_ops) if batch_ops else 0.0
    info = wl.finish()
    elt_s = sum(full) + sum(batch)
    # every pass feeds each event row twice: once in the full rebuild, once
    # in its incremental batch
    m["elt.rows_per_s"] = 2 * info["event_rows"] * len(full) / elt_s if elt_s else 0.0
    m["elt.storage_bytes_per_input_byte"] = (
        info["full_output_bytes"] / info["input_bytes"] if info.get("input_bytes") else 0.0
    )

    m["trace.overhead_op_geomean_s"] = (
        end_to_end(traced)["op_geomean_s"] - end_to_end(untraced)["op_geomean_s"]
    )
    untraced_full = [s["latency_s"] for s in untraced if s["kind"] == "elt_full"]
    m["trace.overhead_elt_full_s"] = (
        statistics.median(full) - statistics.median(untraced_full) if full else 0.0
    )
    return m


def unit_of(name: str) -> str:
    """Units follow the metric names: ``*_s`` seconds, ``*_per_s`` a rate,
    byte counters, ratios, and plain counts for the rest."""
    base = name.split(".")[1]
    if base.endswith("_per_s"):
        return "1/s"
    if base.endswith("_s"):
        return "s"
    if "bytes" in base and not base.endswith("per_input_byte"):
        return "B"
    if base.endswith("ratio") or base.endswith("per_input_byte"):
        return "ratio"
    return "count"


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    needed = (os.path.join(ROOT, "cdw_spark", "registry.py"), os.path.join(ROOT, "tests", "sparkify_data.py"))
    missing = [p for p in needed if not os.path.exists(p)]
    if missing:
        print(f"perfbench: the engine is not in this checkout (missing {missing})", file=sys.stderr)
        return 2

    extra_conf = pin_environment(bool(args.trace))
    import workloads
    from spans import Tracer, read_event_log

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    setup: dict[str, float] = {}
    t0 = time.perf_counter()
    from cdw_spark.session import get_spark

    spark = get_spark(app_name=f"perfbench-{args.workload}", extra_conf=extra_conf)
    spark.sparkContext.setLogLevel("ERROR")
    setup["session_s"] = time.perf_counter() - t0
    try:
        t0 = time.perf_counter()
        from cdw_spark.registry import load_all

        load_all()
        setup["registry_s"] = time.perf_counter() - t0

        wl = workloads.make(args.workload, spark, WORK)
        gen = []
        for _ in range(GEN_REPEATS):
            t0 = time.perf_counter()
            wl.generate(args.seed)
            gen.append(time.perf_counter() - t0)
        setup["generate_s"] = statistics.median(gen)

        rng = random.Random(args.seed)
        t0 = time.perf_counter()
        wl.warm(rng)
        setup["warm_s"] = time.perf_counter() - t0
        setup_s = sum(setup.values())

        tracer = Tracer(spark) if args.trace else None
        reset_peak_rss()
        samples, failed = timed_loop(spark, wl, rng, args.seconds, tracer, args.seed % 2 == 1)
        rss = peak_rss_mb()
        # outside setup_s, the timing and the peak RSS
        t0 = time.perf_counter()
        checks = wl.verify()
        verify_s = time.perf_counter() - t0
    finally:
        shutdown(spark)

    bad_checks = [c for c in checks if not c.ok]
    for c in bad_checks:
        print(f"perfbench: check failed: {c.name}: {c.detail}", file=sys.stderr)
    attempted = len(samples) + len(checks)
    failed += len(bad_checks)

    record = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "setup": setup,
        "verify_s": verify_s,
        "checks": [c.__dict__ for c in checks],
        "samples": samples,
    }
    if args.trace:
        event_log = read_event_log(os.path.join(WORK, "eventlog"))
        metrics = per_layer(tracer, samples, wl, setup, event_log)
        tracer.dump(os.path.join(STATE, "traces", f"{args.workload}-seed{args.seed}.json"), record)
    else:
        metrics = {"setup_s": setup_s, **end_to_end(samples), "peak_rss_mb": rss,
                   "ok_ratio": 1 - failed / attempted}
        os.makedirs(os.path.join(STATE, "records"), exist_ok=True)
        with open(os.path.join(STATE, "records", f"{args.workload}-seed{args.seed}.json"), "w") as f:
            json.dump(record | {"metrics": metrics}, f)

    units = {"setup_s": "s", "op_geomean_s": "s", "ops_per_s": "1/s", "peak_rss_mb": "MB",
             "ok_ratio": "ratio"}
    out = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units.get(k) or unit_of(k)} for k, v in metrics.items()},
    }
    print(json.dumps(out))
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
