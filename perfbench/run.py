"""Run one benchmark workload with one seed and print its metrics.

    python3 perfbench/run.py --workload ads_pipeline --seed 1 --seconds 5 --trace 0

Run from the repository root. One closed-loop client on local[4] runs
rounds of the workload's ops (the next call starts when the previous
one returns) until --seconds have passed, then checks every output.
The last stdout line is one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end metrics of BENCHMARK.json;
with --trace 1 they are its per-layer metrics. A traced run wraps every
public function of each engine layer in a span and collects Spark's job
and stage metrics per span; its end-to-end figures stay in the artifact,
so they can be set against an untraced run's, and the tracer's own
bookkeeping time is reported as the tracing overhead. Per-run artifacts
(noise probes, per-call records, spans) go to .perfbench/out/. The exit
code is 1 when an output is wrong and 2 when the checkout has no engine.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time
from contextlib import nullcontext

HERE = os.path.dirname(os.path.abspath(__file__))
PKG = "fb_ads_bigquery_etl_spark"
CPUS = 4
WORKLOADS = ("ads_pipeline", "registry_mix")


def stat_fields(pid) -> list[str] | None:
    """The fields of /proc/<pid>/stat after the command name (the state
    first), or None when the process is gone."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()
    except OSError:
        return None


def process_age_s() -> float:
    """Seconds since this process started."""
    start_ticks = int(stat_fields("self")[19])
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def process_tree(root_pid: int) -> dict[int, list[str]]:
    """The stat fields of `root_pid` and all its descendants: the Python
    driver, the JVM it launched and the JVM's Python workers."""
    children: dict[int, list[int]] = {}
    stats: dict[int, list[str]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit() and (fields := stat_fields(name)) is not None:
            stats[int(name)] = fields
            children.setdefault(int(fields[1]), []).append(int(name))
    tree: dict[int, list[str]] = {}
    todo = [root_pid]
    while todo:
        pid = todo.pop()
        if pid in stats:
            tree[pid] = stats[pid]
            todo.extend(children.get(pid, ()))
    return tree


def tree_stats(root_pid: int) -> tuple[int, float]:
    """Resident bytes and CPU seconds (user + system, including reaped
    children) of `root_pid` and all its descendants."""
    tree = process_tree(root_pid).values()
    rss = sum(int(f[21]) for f in tree)
    ticks = sum(int(x) for f in tree for x in f[11:15])
    return rss * os.sysconf("SC_PAGE_SIZE"), ticks / os.sysconf("SC_CLK_TCK")


def alive(pid: int, start: str) -> bool:
    """Whether the process `pid` that started at `start` (so that a pid
    handed out again is not mistaken for it) still runs; a zombie has
    ended."""
    fields = stat_fields(pid)
    return fields is not None and fields[19] == start and fields[0] != "Z"


def stop_spark(spark, timeout: float = 30.0) -> None:
    """Stop Spark, then end the JVM that pyspark launched and wait until
    it and every process below it (Python workers) are gone. Left alone,
    the JVM exits only after this process does, when it reads EOF on its
    stdin, and so outlives the run."""
    from pyspark import SparkContext

    procs = {pid: f[19] for pid, f in process_tree(os.getpid()).items()
             if pid != os.getpid()}
    gateway_proc = getattr(SparkContext._gateway, "proc", None)
    try:
        spark.stop()
    finally:
        if gateway_proc is not None:
            gateway_proc.stdin.close()  # the JVM exits on EOF
            try:
                gateway_proc.wait(timeout)
            except subprocess.TimeoutExpired:
                gateway_proc.kill()
                gateway_proc.wait()
        deadline = time.monotonic() + timeout
        while any(alive(p, s) for p, s in procs.items()):
            if time.monotonic() > deadline:
                for pid, start in procs.items():
                    if alive(pid, start):
                        try:
                            os.kill(pid, signal.SIGKILL)
                        except ProcessLookupError:
                            pass
                deadline = math.inf
            time.sleep(0.05)


class PeakRss:
    """Samples the process tree's RSS every `interval` seconds."""

    def __init__(self, interval: float = 0.2):
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, args=(interval,), daemon=True)
        self._thread.start()

    def _run(self, interval: float) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_stats(me)[0])
            self._stop.wait(interval)

    def stop(self) -> float:
        self._stop.set()
        self._thread.join()
        return self.peak / (1024.0 * 1024.0)


def cpu_probe() -> float:
    """bench.py's single-core work unit at a tenth of its size (3M integer
    adds, seconds): ten times this figure compares with bench.py's own."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(3_000_000):
        acc += i
    if acc != 3_000_000 * (3_000_000 - 1) // 2:
        raise RuntimeError("cpu probe computed a wrong sum")
    return round(time.perf_counter() - t0, 4)


def io_probe(work: str) -> float:
    """bench.py's disk work unit (64 MB written, fsynced and read back),
    written inside the checkout."""
    buf = bytes(range(256)) * (64 * 1024 * 1024 // 256)
    path = os.path.join(work, "io_probe.bin")
    t0 = time.perf_counter()
    with open(path, "w+b") as fh:
        fh.write(buf)
        fh.flush()
        os.fsync(fh.fileno())
        fh.seek(0)
        n = 0
        while chunk := fh.read(8 * 1024 * 1024):
            n += len(chunk)
    os.remove(path)
    if n != len(buf):
        raise RuntimeError("io probe read back a truncated buffer")
    return round(time.perf_counter() - t0, 3)


def tail_latency(lat: list[float]) -> tuple[float, int]:
    """The highest percentile with at least ten samples beyond it, and
    that count; with fewer than 20 samples, the maximum (0 beyond)."""
    xs = sorted(lat)
    n = len(xs)
    if n < 20:
        return xs[-1], 0
    rank = math.ceil((1 - 10 / n) * n)
    return xs[rank - 1], n - rank


def make_spark(work: str):
    from fb_ads_bigquery_etl_spark.session import get_spark

    spark = get_spark("perfbench", master=f"local[{CPUS}]", shuffle_partitions=CPUS,
                      extra_conf={
                          "spark.ui.showConsoleProgress": "false",
                          "spark.local.dir": os.path.join(work, "spark"),
                          "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
                          "spark.driver.extraJavaOptions":
                              f"-Djava.io.tmpdir={work} -XX:-UsePerfData",
                      })
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def make_workload(args, spark, cache: str, work: str):
    if args.workload == "ads_pipeline":
        from ads import AdsPipeline

        return AdsPipeline(spark, args.seed, args.scale, work, corrupt=args.corrupt)
    from registry import Registry

    return Registry(spark, args.seed, args.scale, cache, corrupt=args.corrupt)


def run_rounds(workload, seconds: float, tracer) -> list[dict]:
    """Closed loop over whole rounds until `seconds` have passed; with a
    tracer, every round is traced."""
    rounds: list[dict] = []
    t0 = time.perf_counter()
    while not rounds or time.perf_counter() - t0 < seconds:
        if tracer:
            tracer.patch_layers()
            workload.start_trace()
        calls = []
        dag = workload.spark.sparkContext._jsc.sc().dagScheduler()
        cpu0, jobs0 = tree_stats(os.getpid())[1], dag.nextJobId()
        for op, fn in workload.round_ops():
            span = (tracer.span(op, workload.op_layer)
                    if tracer and workload.op_layer else nullcontext())
            check, err, rows = None, None, 0
            j = dag.nextJobId()
            t = time.perf_counter()
            try:
                with span:
                    rows, check = fn()
            except Exception as exc:  # counted as a failed operation
                err = f"{type(exc).__name__}: {exc}"[:300]
            calls.append({"op": op, "latency_s": time.perf_counter() - t,
                          "jobs": dag.nextJobId() - j, "rows": rows, "check": check,
                          "error": err})
        cpu_s, jobs = tree_stats(os.getpid())[1] - cpu0, dag.nextJobId() - jobs0
        if tracer:
            tracer.unpatch()
            workload.stop_trace()
        for c in calls:
            check = c.pop("check")
            if c["error"] is None and check is not None:
                c["error"] = check()
        try:
            round_errors = workload.round_check()
        except Exception as exc:
            round_errors = [f"{type(exc).__name__}: {exc}"[:3000]]
        workload.clean_round()
        rounds.append({
            "calls": calls, "round_checks": round_errors,
            "wall_s": sum(c["latency_s"] for c in calls), "cpu_s": cpu_s, "jobs": jobs,
        })
    return rounds


def end_to_end(rounds: list[dict], setup_s: float) -> tuple[dict, dict]:
    lat = [c["latency_s"] for r in rounds for c in r["calls"]]
    tail, beyond = tail_latency(lat)
    walls = [r["wall_s"] for r in rounds]
    rows = sum(c["rows"] for r in rounds for c in r["calls"])
    values = {
        "setup_s": setup_s,
        "op_p50_s": statistics.median(lat),
        "cpu_s": statistics.median(r["cpu_s"] for r in rounds),
        # wall-clock figures that CPU-steal windows on a shared host move
        # by more than any bound a gate can hold: reported, not gated
        "round.wall_s": statistics.median(walls),
        "round.op_tail_s": tail,
        "round.rows_per_s": rows / sum(walls),
        "round.jobs": statistics.median(r["jobs"] for r in rounds),
    }
    return values, {"op_samples": len(lat), "op_tail_samples_beyond": beyond}


def per_layer(rounds: list[dict], tracer, workload) -> dict:
    """Layer totals per round. The tracing overhead is the share of the
    traced rounds' wall time spent in the tracer's own bookkeeping."""
    from spans import STATS

    n = len(rounds)
    values: dict[str, float] = {}
    for layer, stats in tracer.layer_totals().items():
        for k in STATS:
            values[f"{layer}.{k}"] = stats[k] / n
    values["trace.overhead_frac"] = tracer.self_s / sum(r["wall_s"] for r in rounds)
    values.update(workload.trace_metrics(rounds))
    return values


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    # self-test knobs: tiny inputs, and a deliberately corrupted output
    ap.add_argument("--scale", choices=("full", "tiny"), default="full")
    ap.add_argument("--corrupt", action="store_true")
    return ap.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    root = os.getcwd()
    spec_path = os.path.join(root, "BENCHMARK.json")
    if not (os.path.isdir(os.path.join(root, PKG))
            and os.path.isfile(os.path.join(root, "__spark_entry__.py"))
            and os.path.isfile(spec_path)):
        print(f"perfbench: no engine checkout at {root} "
              f"(needs {PKG}/, __spark_entry__.py and BENCHMARK.json)", file=sys.stderr)
        return 2
    with open(spec_path) as fh:
        spec = json.load(fh)
    cache = os.path.join(root, ".perfbench")
    work = os.path.join(cache, "work", str(os.getpid()))
    out_dir = os.path.join(cache, "out")
    os.makedirs(work)
    os.makedirs(out_dir, exist_ok=True)
    # Keep every file the engine, Spark and its workers write in the checkout.
    os.environ.update({
        "PYTHONPATH": os.pathsep.join(p for p in (root, os.environ.get("PYTHONPATH")) if p),
        "TMPDIR": work,
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark"),
        "SPARK_LAUNCHER_OPTS": "-XX:-UsePerfData",  # no JVM perf files in /tmp
        "SPARK_GRAFT_CPUS": str(CPUS),
        # a bounded driver heap, as a deployment sets it; the engine's 8g
        # default grows the heap by a different amount on every run
        "SPARK_GRAFT_DRIVER_MEM": "2g",
    })
    import tempfile

    tempfile.tempdir = work
    sys.path[:0] = [root, HERE]

    # a terminated run still stops Spark and removes its scratch directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    rss = PeakRss()
    spark = None
    try:
        probes = {"cpu_before_s": cpu_probe(), "io_before_s": io_probe(work)}
        probe_s = sum(probes.values())
        spark = make_spark(work)
        workload = make_workload(args, spark, cache, work)
        workload.setup()
        setup_s = process_age_s() - probe_s - workload.build_s
        tracer = None
        if args.trace:
            from spans import Tracer

            tracer = Tracer(spark)
        rounds = run_rounds(workload, args.seconds, tracer)
        e2e, e2e_extra = end_to_end(rounds, setup_s)
        values = dict(e2e)
        if tracer:
            values.update(per_layer(rounds, tracer, workload))
        # peak RSS moves by a Python worker's size from run to run, too
        # unsteady to gate: it is reported with the per-layer figures
        values["process.peak_rss_mb"] = e2e_extra["peak_rss_mb"] = rss.stop()
        probes.update(cpu_after_s=cpu_probe(), io_after_s=io_probe(work))
    finally:
        rss.stop()
        try:
            if spark is not None:
                stop_spark(spark)
        finally:
            shutil.rmtree(work, ignore_errors=True)

    if args.trace:  # layers a workload never calls report 0
        metrics = {m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]}
                   for m in spec["per_layer"]}
    else:
        metrics = {m["name"]: {"value": float(values[m["name"]]), "unit": m["unit"]}
                   for m in spec["end_to_end"]}
    # each call is one operation, and so is each end-of-round output check
    outcomes = [c["error"] for r in rounds for c in r["calls"]]
    outcomes += [e for r in rounds for e in r["round_checks"]]
    errors = [e for e in outcomes if e]
    result = {"correct": not errors, "attempted": len(outcomes),
              "failed": len(errors), "metrics": metrics}
    artifact = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "scale": args.scale, "probes": probes,
        "build_s": workload.build_s, "end_to_end": e2e, **e2e_extra,
        "rounds": rounds,
        "errors": errors, "result": result, "process_s": process_age_s(),
    }
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    if tracer:
        tracer.dump(os.path.join(out_dir, name + "-spans.json"), {"metrics": values})
    with open(os.path.join(out_dir, name + ".json"), "w") as fh:
        json.dump(artifact, fh, indent=1)
    for err in errors[:5]:
        print(f"perfbench: wrong output: {err}", file=sys.stderr)
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
