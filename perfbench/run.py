"""Checked, layered benchmark of the engine on the box it runs on.

Usage, from any directory:

    python3 perfbench/run.py --workload report_queries --seed 1 --seconds 16 --trace 0

Workloads (see ``workloads.py``): ``report_queries`` and ``feature_pipeline``.
Spark runs as ``local[<cores>]`` with the core count from the CPU affinity
mask and the driver heap sized from MemTotal. A run:

1. starts the session, generates the seeded input three times and warms up
   (``setup_s`` = session start + median generation + warm-up ops);
2. runs ops in a closed loop, in complete rounds, until at least
   ``--seconds`` of op time and the workload's minimum number of rounds
   have been measured, so that a slow stretch of a shared box cannot cut a
   run's sample short;
3. checks outputs outside the timed region; a failed or mismatched op is
   counted in ``failed`` and makes the command exit 1 after printing.

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` first runs the
same command with ``--trace 0`` in a child process, then repeats the run
with Spark's event log on, a job group per layer call and wrappers around
the pipeline's public callables, and prints the per-layer metrics plus
``overhead.<metric>``: traced minus untraced, for each end-to-end metric.

The last stdout line is the JSON result. Details (box, per-op times, the
rounds and samples behind ``op_s_tail`` and the pooled tail percentile,
the trace with its spans and per-op, per-layer and per-call-site
breakdowns) go to ``.perfbench/results/`` in the directory that holds
``perfbench/``. Everything else the run writes stays under ``.perfbench/``
there and is deleted at the end.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import random
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
GENERATIONS = 3
E2E = {
    "setup_s": "s",
    "ops_per_s": "1/s",
    "op_s_p50": "s",
    "op_s_tail": "s",
    "rows_per_s": "1/s",
    "peak_rss_mb": "MB",
}


def box_info() -> dict:
    with open("/proc/meminfo") as fh:
        mem_kib = next(int(line.split()[1]) for line in fh if line.startswith("MemTotal:"))
    return {
        "cores": len(os.sched_getaffinity(0)),
        "mem_total_gib": mem_kib / 2**20,
        "python": platform.python_version(),
    }


def driver_memory(mem_total_gib: float) -> str:
    """An eighth of RAM, between 1 and 8 GiB.

    The heap bounds how far the JVM's resident size, the bulk of
    ``peak_rss_mb``, can drift with G1's heap sizing; the workloads' inputs
    need far less.
    """
    return f"{int(min(8.0, max(1.0, mem_total_gib / 8)) * 1024)}m"


def loadavg() -> list[float]:
    with open("/proc/loadavg") as fh:
        return [float(x) for x in fh.read().split()[:3]]


def process_tree(pid: int) -> list[tuple[int, int]]:
    """``(process, parent)`` for ``pid`` and every process below it, each
    parent before its children."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [(pid, 0)]
    while todo:
        p, parent = todo.pop()
        out.append((p, parent))
        todo.extend((c, p) for c in children.get(p, []))
    return out


def descendants(pid: int) -> list[int]:
    """``pid`` and every process below it."""
    return [p for p, _ in process_tree(pid)]


class RssSampler(threading.Thread):
    """Peak summed resident memory of this process and all its descendants,
    and that peak's share per process name.

    A child the JVM has forked but not yet exec'd (Hadoop runs shell
    commands that way) shares the JVM's pages and is left out; counting it
    would add the JVM's whole resident set a second time. Python workers
    forked from the PySpark daemon are counted in full.
    """

    def __init__(self, interval_s: float = 0.2):
        super().__init__(daemon=True)
        self.interval_s = interval_s
        self.peak_mb = 0.0
        self.peak_parts: dict[str, float] = {}
        self._done = threading.Event()
        self._page = os.sysconf("SC_PAGE_SIZE")

    def sample(self) -> tuple[float, dict[str, float]]:
        parts: dict[str, float] = {}
        exe: dict[int, str] = {}
        for p, parent in process_tree(os.getpid()):
            try:
                exe[p] = os.readlink(f"/proc/{p}/exe")
                if exe[p] == exe.get(parent) and os.path.basename(exe[p]) == "java":
                    continue
                with open(f"/proc/{p}/statm") as fh:
                    rss = int(fh.read().split()[1]) * self._page / 2**20
                with open(f"/proc/{p}/comm") as fh:
                    comm = fh.read().strip()
            except OSError:
                continue
            parts[comm] = parts.get(comm, 0.0) + rss
        return sum(parts.values()), parts

    def run(self) -> None:
        while not self._done.is_set():
            total, parts = self.sample()
            if total > self.peak_mb:
                self.peak_mb, self.peak_parts = total, parts
            self._done.wait(self.interval_s)

    def stop(self) -> float:
        self._done.set()
        self.join()
        return self.peak_mb


def start_session(work: str, box: dict, event_log_dir: str | None):
    from temporalscope_spark.session import get_spark

    local = os.path.join(work, "spark-local")
    tmp = os.path.join(work, "tmp")
    os.makedirs(local, exist_ok=True)
    os.makedirs(tmp, exist_ok=True)
    # Spark and Python temp files stay inside the work directory
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    conf = {
        "spark.driver.memory": driver_memory(box["mem_total_gib"]),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
        "spark.local.dir": local,
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if event_log_dir:
        os.makedirs(event_log_dir, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + event_log_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    cores = box["cores"]
    spark = get_spark(
        "perfbench", master=f"local[{cores}]", shuffle_partitions=cores, extra_conf=conf
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark, then the JVM, and wait for every child process to end."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None
    deadline = time.monotonic() + 30
    while (left := descendants(os.getpid())[1:]) and time.monotonic() < deadline:
        for p in left:
            try:
                os.kill(p, signal.SIGTERM if time.monotonic() < deadline - 10 else signal.SIGKILL)
            except OSError:
                pass
        time.sleep(0.5)
    for p in left:
        try:
            os.waitpid(p, 0)
        except ChildProcessError:
            pass


def tail(times: list[float]) -> tuple[float, float]:
    """(percentile, value): the highest percentile with at least 10 samples
    above it; with fewer than 20 samples that is at or below the median, so
    the maximum (p100) is reported instead."""
    n = len(times)
    s = sorted(times)
    if n < 20:
        return 100.0, s[-1]
    return 100.0 * (n - 10) / n, s[n - 11]


def e2e_metrics(setup_s: float, ops: list[dict], peak_rss_mb: float) -> dict:
    """End-to-end metrics of the timed ops, taken per round where a run's
    sample is too small to be steady pooled.

    Throughputs are the median over rounds of a round's ops (or input rows)
    per second of op time, so one slow stretch of a shared box moves one
    round, not the run's figure. ``op_s_tail`` is the median over rounds of
    each round's slowest op: a run has 4 to 20 timed ops, too few for a
    pooled percentile above the median to have 10 samples beyond it, and
    the pooled rule's value jumped between the maximum and the median as a
    run's op count crossed 20. With one op per round it equals ``op_s_p50``.
    """
    times = [o["op_s"] for o in ops]
    rounds: dict[int, list[dict]] = {}
    for o in ops:
        rounds.setdefault(o["round"], []).append(o)

    def per_round(f) -> float:
        return statistics.median(f(r) for r in rounds.values())

    busy = lambda r: sum(o["op_s"] for o in r)  # noqa: E731
    return {
        "setup_s": setup_s,
        "ops_per_s": per_round(lambda r: len(r) / busy(r)),
        "op_s_p50": statistics.median(times),
        "op_s_tail": per_round(lambda r: max(o["op_s"] for o in r)),
        "rows_per_s": per_round(lambda r: sum(o["rows"] for o in r) / busy(r)),
        "peak_rss_mb": peak_rss_mb,
    }


def run_once(workload: str, seed: int, seconds: float, traced: bool) -> dict:
    """One full run: set-up, warm-up and checks, then the timed loop."""
    import workloads

    box = box_info()
    box["load_start"] = loadavg()
    work = os.path.join(ROOT, ".perfbench", f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    sampler = RssSampler()
    sampler.start()
    event_log_dir = os.path.join(work, "eventlog") if traced else None
    rng = random.Random(seed)
    failures: list[str] = []
    attempted = 0
    spark = None
    try:
        t0 = time.perf_counter()
        spark = start_session(work, box, event_log_dir)
        session_s = time.perf_counter() - t0
        sc = spark.sparkContext
        box.update(spark=spark.version, java=sc._jvm.System.getProperty("java.version"))
        wl = workloads.WORKLOADS[workload](spark, ROOT, work, seed)
        gen_s = []
        for i in range(GENERATIONS):
            t0 = time.perf_counter()
            wl.generate(os.path.join(work, f"input-{i}"))
            gen_s.append(time.perf_counter() - t0)
        wl.use_input(os.path.join(work, "input-0"))
        warm_s = 0.0
        for i in range(wl.warm_up_rounds):
            for name in wl.round(rng):
                if i == 0:
                    op_s, err = wl.warm_up(name)
                else:
                    op_s = wl.op(name)
                    err = wl.after_op(name)
                spark.catalog.clearCache()
                attempted += 1
                warm_s += op_s
                if err:
                    failures.append(f"warm-up {name}: {err}")
        setup_s = session_s + statistics.median(gen_s) + warm_s

        tracer = None
        if traced:
            import tracing

            tracer = tracing.Tracer(sc, ROOT)
            restore = tracer.label_call_sites() + wl.install_wrappers(tracer)
        jsc = sc._jsc
        ops: list[dict] = []
        rounds = 0
        while rounds < wl.min_timed_rounds or sum(o["op_s"] for o in ops) < seconds:
            rounds += 1
            for name in wl.round(rng):
                rdds0 = jsc.getPersistentRDDs().size()
                cpu0 = time.process_time()
                attempted += 1
                if tracer is None:
                    op_s = wl.op(name)
                    span = None
                else:
                    with tracer.span("op", name) as span:
                        op_s = wl.op(name, tracer, span)
                cpu_s = time.process_time() - cpu0
                err = wl.after_op(name)
                spark.catalog.clearCache()
                if err:
                    failures.append(f"{name}: {err}")
                ops.append({
                    "name": name,
                    "round": rounds,
                    "op_s": op_s,
                    "rows": wl.rows(name),
                    "driver_cpu_s": cpu_s,
                    "leaked_rdds": jsc.getPersistentRDDs().size() - rdds0,
                    "span": span["id"] if span else None,
                })
        if tracer is not None:
            for owner, attr, fn in reversed(restore):
                setattr(owner, attr, fn)
        wl.close()
    except Exception as e:  # a crashed op is a failed run, reported as such
        import traceback

        traceback.print_exc()
        failures.append(f"error: {e!r}")
        ops, setup_s, tracer = [], 0.0, None
    finally:
        if spark is not None:
            stop_session(spark)
        peak_mb = sampler.stop()
    box["load_end"] = loadavg()
    out = {
        "workload": workload,
        "seed": seed,
        "box": box,
        "attempted": max(attempted, 1),
        "failures": failures,
        "ops": ops,
    }
    if ops:
        out["metrics"] = e2e_metrics(setup_s, ops, peak_mb)
        pct, value = tail([o["op_s"] for o in ops])
        out["tail"] = {
            "op_s_tail": "median over rounds of each round's slowest op",
            "rounds": len({o["round"] for o in ops}),
            "samples": len(ops),
            "pooled": {"percentile": pct, "op_s": value},
        }
        out["setup"] = {"session_s": session_s, "generate_s": gen_s, "warm_up_s": warm_s}
        out["peak_rss_mb_by_process"] = sampler.peak_parts
    if tracer is not None and ops:
        out["trace"] = trace_report(tracer, wl, ops, event_log_dir, out)
    shutil.rmtree(work, ignore_errors=True)
    return out


def trace_report(tracer, wl, ops: list[dict], event_log_dir: str, run: dict) -> dict:
    """Per-layer metrics (per timed op) and the full span tree."""
    import tracing

    jobs, stages = tracing.parse_event_log(tracing.find_event_log(event_log_dir))
    by_parent: dict[str, list[dict]] = {}
    for sp in tracer.spans:
        by_parent.setdefault(sp["parent"], []).append(sp)
    n = len(ops)
    op_ids = {o["span"] for o in ops}
    layers = [sp for sp in tracer.spans if sp["parent"] in op_ids]

    def layer_sum(kinds: tuple, key: str) -> float:
        return sum(
            (sp["end"] - sp["start"]) if key == "s" else sp["jobs"]
            for sp in layers
            if sp["kind"] in kinds
        ) / n

    groups = op_ids | {sp["id"] for sp in layers}
    op_jobs = {j["id"] for j in jobs if j["parent"] in groups}
    totals = tracing.spark_totals([s for s in stages if s["parent"] in op_jobs])
    build = ("build", "pipelines.feature_pass.time_buckets", "pipelines.feature_pass.build_features")
    execute = ("exec", "bucket_write", "read_back_count")
    setup = run["setup"]
    per_layer = {
        "session.get_spark.s": (setup["session_s"], "s"),
        "input.generate.s": (statistics.median(setup["generate_s"]), "s"),
        "warm_up.s": (setup["warm_up_s"], "s"),
        "build.s": (layer_sum(build, "s"), "s"),
        "build.jobs": (layer_sum(build, "jobs"), "count"),
        "exec.s": (layer_sum(execute, "s"), "s"),
        "exec.jobs": (layer_sum(execute, "jobs"), "count"),
        "catalyst.s": (sum(wl.catalyst.get(i, 0.0) for i in op_ids) / n, "s"),
        "leaked_rdds": (sum(o["leaked_rdds"] for o in ops) / n, "count"),
        "driver.cpu_s": (sum(o["driver_cpu_s"] for o in ops) / n, "s"),
        "spark.jobs": (len(op_jobs) / n, "count"),
        "spark.stages": (totals["stages"] / n, "count"),
        "spark.tasks": (totals["tasks"] / n, "count"),
        "spark.executor_run_s": (totals["run_s"] / n, "s"),
        "spark.executor_cpu_s": (totals["cpu_s"] / n, "s"),
        "spark.shuffle_write_mb": (totals["shuffle_write_mb"] / n, "MB"),
        "spark.shuffle_read_mb": (totals["shuffle_read_mb"] / n, "MB"),
        "spark.spill_mb": (totals["spill_mb"] / n, "MB"),
        "spark.task_skew": (totals["task_skew"], "ratio"),
    }
    per_op: dict[str, dict] = {}
    for o in ops:
        d = per_op.setdefault(o["name"], {"ops": 0, "op_s": 0.0, "leaked_rdds": 0})
        d["ops"] += 1
        d["op_s"] += o["op_s"]
        d["leaked_rdds"] += o["leaked_rdds"]
        d["catalyst_s"] = d.get("catalyst_s", 0.0) + wl.catalyst.get(o["span"], 0.0)
        for sp in by_parent.get(o["span"], []):
            key = sp["kind"]
            d[f"{key}.s"] = d.get(f"{key}.s", 0.0) + sp["end"] - sp["start"]
            d[f"{key}.jobs"] = d.get(f"{key}.jobs", 0) + sp["jobs"]
    for d in per_op.values():
        k = d["ops"]
        for key in list(d):
            if key != "ops":
                d[key] /= k
    return {
        "per_layer": per_layer,
        "per_op": per_op,
        "attribution": tracing.attribute(tracer.spans, jobs, stages),
        "spans": tracer.spans + jobs + stages,
    }


def write_details(result: dict, traced: bool) -> str:
    out_dir = os.path.join(ROOT, ".perfbench", "results")
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(
        out_dir, f"{result['workload']}-seed{result['seed']}-trace{int(traced)}.json"
    )
    with open(path, "w") as fh:
        json.dump(result, fh, indent=1, default=str)
    return path


def untraced_child(args) -> dict:
    """Run this command with ``--trace 0`` in a child process; its result."""
    cmd = [
        sys.executable, os.path.abspath(__file__),
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", "0",
    ]
    proc = subprocess.run(cmd, stdout=subprocess.PIPE, text=True, check=False)
    lines = proc.stdout.strip().splitlines()
    if not lines:
        raise RuntimeError(f"untraced run printed nothing (exit {proc.returncode})")
    return json.loads(lines[-1])


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=["report_queries", "feature_pipeline"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = p.parse_args(argv)

    missing = [
        f for f in ("__spark_entry__.py", "temporalscope_spark", "scripts/check_oracle.py")
        if not os.path.exists(os.path.join(ROOT, f))
    ]
    if missing:
        print(f"perfbench: engine sources missing under {ROOT}: {missing}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)

    base = untraced_child(args) if args.trace else None
    result = run_once(args.workload, args.seed, args.seconds, traced=bool(args.trace))
    failures = result["failures"]
    correct = not failures and "metrics" in result
    attempted = result["attempted"]
    if args.trace:
        if "trace" not in result:
            failures.append("traced run produced no trace")
            correct = False
        correct = correct and base["correct"]
        attempted += base["attempted"]
        failed = len(failures) + base["failed"]
        metrics = {
            k: {"value": v, "unit": u}
            for k, (v, u) in result.get("trace", {}).get("per_layer", {}).items()
        }
        for k, unit in E2E.items():
            if k in result.get("metrics", {}) and k in base["metrics"]:
                metrics[f"overhead.{k}"] = {
                    "value": result["metrics"][k] - base["metrics"][k]["value"], "unit": unit
                }
    else:
        failed = len(failures)
        metrics = {k: {"value": v, "unit": E2E[k]} for k, v in result.get("metrics", {}).items()}
    result["failed_ratio"] = failed / attempted
    details = write_details(result, bool(args.trace))
    for f in failures:
        print(f"perfbench: FAILED {f}", file=sys.stderr)
    summary = {
        "workload": args.workload,
        "box": result["box"],
        "tail": result.get("tail"),
        "failed_ratio": result["failed_ratio"],
        "details": os.path.relpath(details, ROOT),
    }
    print(json.dumps(summary))
    print(json.dumps({
        "correct": correct,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
