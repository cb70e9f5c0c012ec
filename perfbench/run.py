#!/usr/bin/env python3
"""One benchmark run: one workload, in this fresh process.

    python3 perfbench/run.py --workload process --seed 1 --seconds 5 --trace 0

Run from the repository root. Set-up (session start, input generation
from ``--seed``, an untimed warm-up that leaves a checked full pass's
output) is timed as ``setup_s``; then rounds of incr and full passes run
through the public entry points until ``--seconds`` have passed (at
least one round), each pass checked. With ``--trace 1`` the same untimed
rounds give the Spark counts, then one traced pair runs through the
layer functions; the run writes the spans under
``.perfbench_work/traces/`` and reports per-layer metrics.

The last stdout line is the result JSON; the line before it records the
settings, every pass with its status-store counts, and any problems.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402
from pathlib import Path  # noqa: E402

ROOT = Path(__file__).resolve().parent.parent
WORK = Path(".perfbench_work")

# task slots: leave room on a 4-CPU host for the Python workers, the
# driver and the JVM's compiler and GC threads
SLOTS = min(2, os.cpu_count() or 1)
DRIVER_MEM = "3g"
SPARK_CONF = {
    "spark.ui.showConsoleProgress": "false",
    # no web UI; the status stores behind it are kept either way
    "spark.ui.enabled": "false",
    # keep every job, stage and SQL execution of the run in the stores
    "spark.ui.retainedJobs": "100000",
    "spark.ui.retainedStages": "100000",
    "spark.sql.ui.retainedExecutions": "100000",
    "spark.ui.retainedDeadExecutors": "1000",
}

END_TO_END = (("setup_s", "s"), ("full_items_per_s", "1/s"),
              ("incr_s", "s"))

_SPARK_UNITS = {"jobs": "count", "stages": "count", "tasks": "count",
                "sql_execs": "count", "shuffle_write_bytes": "B",
                "shuffle_read_bytes": "B", "spill_bytes": "B",
                "broadcast_bytes": "B", "executor_run_s": "s",
                "executor_cpu_s": "s", "gc_s": "s", "python_rows": "count",
                "python_bytes": "B"}
_DL, _PR, _CU = {"download"}, {"process"}, {"curate"}
_ALL = _DL | _PR | _CU
# per-pass layer quantities: name -> (unit, better, workloads using it)
PASS_LAYERS = {
    **{f"spark.{k}": (u, "lower", _ALL) for k, u in _SPARK_UNITS.items()},
    "ingest.s": ("s", "lower", _DL),
    "ingest.rows_out": ("count", "higher", _DL),
    "spatial.s": ("s", "lower", _DL),
    "spatial.pairs": ("count", "higher", _DL),
    "diff.s": ("s", "lower", _DL),
    "diff.todo_frac": ("ratio", "lower", _DL),
    "fetch.s": ("s", "lower", _DL),
    "fetch.requests": ("count", "lower", _DL),
    "fetch.non200": ("count", "lower", _DL),
    "mseed.s": ("s", "lower", _DL),
    "mseed.errors": ("count", "lower", _DL),
    "upsert.s": ("s", "lower", _DL),
    "upsert.written": ("count", "lower", _DL),
    "upsert.skipped": ("count", "higher", _DL),
    "select.s": ("s", "lower", _PR),
    "select.rows": ("count", "higher", _PR),
    "process.s": ("s", "lower", _PR),
    "process.rows_out": ("count", "higher", _PR),
    "process.skipped": ("count", "lower", _PR),
    "write.s": ("s", "lower", _ALL),
    "write.bytes": ("B", "lower", _ALL),
    "curate.funnel.s": ("s", "lower", _CU),
    "curate.filter.rows_out": ("count", "higher", _CU),
    "curate.exact.s": ("s", "lower", _CU),
    "curate.exact.rows_out": ("count", "higher", _CU),
    "curate.neardup.s": ("s", "lower", _CU),
    "curate.neardup.rows_out": ("count", "higher", _CU),
    "curate.write.s": ("s", "lower", _CU),
    "curate.after_write.jobs": ("count", "lower", _CU),
}
RUN_LAYERS = {
    "mseed.us_per_blob": ("us", "lower", _DL | _PR),
    "pyfunc.us_per_segment": ("us", "lower", _PR),
    "setup.session_s": ("s", "lower", _ALL),
    "setup.generate_s": ("s", "lower", _ALL),
    "setup.warmup_s": ("s", "lower", _ALL),
    "host.control_s": ("s", "lower", _ALL),
    "mem.jvm_peak_rss_mb": ("MB", "lower", _ALL),
    "mem.py_workers_peak_rss_mb": ("MB", "lower", _ALL),
    "trace.overhead_s": ("s", "lower", _ALL),
}


def layer_metrics(workloads: set[str]) -> dict[str, tuple[str, str]]:
    """Per-layer metric name -> (unit, better) printed for runs of any of
    ``workloads``: every layer some of them exercise."""
    out = {}
    for p in ("full", "incr"):
        for q, (unit, better, used) in PASS_LAYERS.items():
            if used & workloads:
                out[f"{p}.{q}"] = (unit, better)
    for q, (unit, better, used) in RUN_LAYERS.items():
        if used & workloads:
            out[q] = (unit, better)
    return out


def benchmark_workloads() -> set[str]:
    with open(ROOT / "BENCHMARK.json", encoding="utf-8") as fh:
        return {w["name"] for w in json.load(fh)["workloads"]}


# ------------------------------------------------------------------ host

def control_probe() -> float:
    """A fixed pure-Python CPU loop: how fast this host runs right now.
    Reported only; never used to normalize."""
    t = time.perf_counter()
    acc = 0
    for i in range(1_000_000):
        acc += i * i % 7
    return time.perf_counter() - t


def _ppid_map() -> dict[int, int]:
    out = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat", encoding="utf-8") as fh:
                    out[int(d)] = int(fh.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                pass
    return out


def descendants(pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for c, p in _ppid_map().items():
        children.setdefault(p, []).append(c)
    out, todo = [], [pid]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def peak_rss_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/status", encoding="utf-8") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024
    except OSError:
        pass
    return 0.0


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat", encoding="utf-8") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def stop_spark(spark, jvm_pid: int | None, timeout: float = 60.0) -> None:
    """Stop the session, the JVM and every process under it; wait for
    each to end."""
    from pyspark import SparkContext
    procs = descendants(jvm_pid) if jvm_pid else []
    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None) if gateway else None
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=timeout)
    deadline = time.monotonic() + timeout
    for pid in procs:
        while _alive(pid) and time.monotonic() < deadline:
            time.sleep(0.05)
        if _alive(pid):
            os.kill(pid, signal.SIGKILL)


# ------------------------------------------------------------------- passes

def _pass(wl, store, kind: str) -> dict:
    """One timed pass plus its (untimed) output check and Spark counts."""
    rec = {"kind": kind, "ok": False}
    # a full collection first, so no pass pays for the garbage of the last
    wl.spark.sparkContext._jvm.System.gc()
    mark = store.mark()
    try:
        t = time.perf_counter()
        getattr(wl, kind)()
        rec["seconds"] = time.perf_counter() - t
    except Exception:  # noqa: BLE001 — a failed op is counted, not fatal
        rec["problems"] = [traceback.format_exc(limit=3)]
        return rec
    finally:
        rec["counts"] = store.counts_since(mark)
    try:
        rec["problems"] = getattr(wl, f"check_{kind}")()
    except Exception:  # noqa: BLE001 — a broken output fails the check
        rec["problems"] = [traceback.format_exc(limit=3)]
    rec["ok"] = not rec["problems"]
    return rec


def run_round(wl, store) -> list[dict]:
    """Timed passes on the full-pass state the warm-up or the last round
    left: ``incr_reps`` incr passes, each from that same state, then
    ``full_reps`` full passes."""
    recs = []
    if wl.incr_reps > 1:
        wl.snapshot()
    for i in range(wl.incr_reps):
        if i:
            wl.restore()
        wl.prepare_incr()
        recs.append(_pass(wl, store, "incr"))
    for _ in range(wl.full_reps):
        wl.reset()
        recs.append(_pass(wl, store, "full"))
    return recs


def nonrepeating(passes: list[dict]) -> list[str]:
    """Status-store counts that differ between passes of one kind."""
    from perfbench.statusstore import EXACT_KEYS
    out = []
    for kind in ("full", "incr"):
        recs = [p["counts"] for p in passes if p["kind"] == kind]
        for k in EXACT_KEYS:
            if len({r[k] for r in recs}) > 1:
                out.append(f"{kind}.spark.{k}: {[r[k] for r in recs]}")
    return out


# --------------------------------------------------------------------- main

def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not (ROOT / "stream2segment_spark" / "__init__.py").is_file():
        print(f"error: no stream2segment_spark package under {ROOT}; run "
              "from a checkout of the repository", file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    from perfbench.workloads import WORKLOADS
    if args.workload not in WORKLOADS:
        print(f"error: unknown workload {args.workload!r} "
              f"(one of {sorted(WORKLOADS)})", file=sys.stderr)
        return 2

    work = (WORK / f"{args.workload}-{args.seed}-{os.getpid()}").resolve()
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    # everything the run writes stays under the checkout
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(SLOTS)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    conf = {**SPARK_CONF,
            "spark.sql.warehouse.dir": str(work / "spark-warehouse"),
            # no hsperfdata file under /tmp
            "spark.driver.extraJavaOptions":
                f"-XX:-UsePerfData -Djava.io.tmpdir={work / 'tmp'} "
                f"-Dderby.system.home={work / 'tmp'}"}
    control = [control_probe()]

    from stream2segment_spark.session import get_spark

    from perfbench.statusstore import StatusStore
    from perfbench.trace import Tracer, self_times

    t = time.perf_counter()
    spark = get_spark(app_name=f"perfbench-{args.workload}",
                      master=f"local[{SLOTS}]", shuffle_partitions=SLOTS,
                      extra_conf=conf)
    gw_proc = getattr(spark.sparkContext._gateway, "proc", None)
    jvm_pid = gw_proc.pid if gw_proc is not None else None
    setup = {"session_s": time.perf_counter() - t}
    result = None
    try:
        store = StatusStore(spark)
        wl = WORKLOADS[args.workload](spark, work, args.seed)
        t = time.perf_counter()
        wl.generate()
        setup["generate_s"] = time.perf_counter() - t
        t = time.perf_counter()
        wl.warmup()
        setup["warmup_s"] = time.perf_counter() - t
        setup_s = time.perf_counter() - T_START
        # untimed: the state the first round starts from is right
        problems = [f"warm-up full pass: {x}" for x in wl.check_full()]

        passes: list[dict] = []
        t_measure = time.perf_counter()
        while True:
            passes += run_round(wl, store)
            if time.perf_counter() - t_measure >= args.seconds:
                break
        problems += [f"{p['kind']} pass: {x}" for p in passes
                     for x in p.get("problems", [])]
        if all(p["ok"] for p in passes):
            problems += wl.run_checks()
        layers, spans_path = {}, None
        if args.trace and all(p["ok"] for p in passes):
            tracer = Tracer(f"{args.workload}-{args.seed}", store)
            layers = wl.traced_pair(tracer)
            layers.update(wl.layer_samples())
            traced = sum(s.duration for s in tracer.spans
                         if s.parent is None)
            untraced = sum(statistics.median(
                p["seconds"] for p in passes if p["kind"] == kind)
                for kind in ("full", "incr"))
            layers["trace.overhead_s"] = traced - untraced
            spans_path = WORK / "traces" / (
                f"{args.workload}-seed{args.seed}.json")
            spans_path.parent.mkdir(parents=True, exist_ok=True)
            tracer.write(str(spans_path))
            selft = self_times(tracer.spans)
            names = {s.id: s.name for s in tracer.spans}
            layers["self_s"] = {
                (f"{names[s.parent]}/{s.name}" if s.parent is not None
                 else s.name): round(selft[s.id], 6)
                for s in tracer.spans}
        control.append(control_probe())
        mem = {"jvm_peak_rss_mb": peak_rss_mb(jvm_pid) if jvm_pid else 0.0,
               "py_workers_peak_rss_mb": sum(
                   peak_rss_mb(p) for p in descendants(jvm_pid))
               if jvm_pid else 0.0}
        result = dict(passes=passes, problems=problems, setup=setup,
                      setup_s=setup_s, layers=layers, mem=mem,
                      spans=str(spans_path) if spans_path else None,
                      items=wl.items())
    finally:
        stop_spark(spark, jvm_pid)
        shutil.rmtree(work, ignore_errors=True)

    passes = result["passes"]
    failed = sum(1 for p in passes if not p["ok"])
    diag = {
        "workload": args.workload, "seed": args.seed,
        "settings": {"master": f"local[{SLOTS}]",
                     "shuffle_partitions": SLOTS,
                     "driver_memory": DRIVER_MEM, "spark_conf": conf,
                     "nproc": os.cpu_count()},
        "setup": result["setup"], "items": result["items"],
        "passes": [{k: p.get(k) for k in ("kind", "seconds", "ok",
                                          "counts", "problems")}
                   for p in passes],
        "nonrepeating_counts": nonrepeating(passes),
        "problems": result["problems"],
        "host_control_s": control, "mem": result["mem"],
        "spans": result["spans"],
    }
    if args.trace:
        diag["self_s"] = result["layers"].pop("self_s", {})
    print(json.dumps(diag))

    ok_full = [p["seconds"] for p in passes if p["kind"] == "full" and p["ok"]]
    ok_incr = [p["seconds"] for p in passes if p["kind"] == "incr" and p["ok"]]
    if not ok_full or not ok_incr:
        print("error: no pass completed correctly", file=sys.stderr)
        return 1
    if args.trace:
        metrics = _layer_values(args.workload, result, passes, control)
    else:
        metrics = {
            "setup_s": result["setup_s"],
            "full_items_per_s": statistics.median(
                result["items"] / s for s in ok_full),
            "incr_s": statistics.median(ok_incr),
        }
        metrics = {n: {"value": metrics[n], "unit": u} for n, u in END_TO_END}
    print(json.dumps({
        "correct": failed == 0 and not result["problems"],
        "attempted": len(passes), "failed": failed, "metrics": metrics}))
    return 0


def _layer_values(workload: str, result: dict, passes: list[dict],
                  control: list[float]) -> dict:
    """Every per-layer metric for this workload's runs; layers the
    workload does not exercise read 0."""
    names = layer_metrics(benchmark_workloads() | {workload})
    vals = dict(result["layers"])
    for p in passes:
        for k, v in p["counts"].items():
            vals.setdefault(f"{p['kind']}.spark.{k}", v)
    for k, v in result["setup"].items():
        vals[f"setup.{k}"] = v
    for k, v in result["mem"].items():
        vals[f"mem.{k}"] = v
    vals["host.control_s"] = statistics.mean(control)
    return {n: {"value": vals.get(n, 0.0), "unit": unit}
            for n, (unit, _) in names.items()}


if __name__ == "__main__":
    sys.exit(main())
