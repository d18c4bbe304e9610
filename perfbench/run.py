"""perfbench: end-to-end and per-layer benchmark of the rsyslog_spark engine.

    python3 perfbench/run.py --workload parse_route_agg --seed 1 \\
        --seconds 16 --trace 0

Run from the repository root. Generates the seeded input (gen.py, its own
process), starts one local Spark session sized to this host, warms the
workload up until its iterations stop getting faster (at least two, at most
three iterations), runs it as a closed loop with one client for
``--seconds`` (at least three iterations), checks every output against the
generator's truth and prints the metrics named in BENCHMARK.json as the
last line of stdout:

    {"correct": true, "attempted": N, "failed": F, "metrics": {...}}

A failed check still prints that line, with ``"correct": false`` and the
reasons on the lines before it, and exits 0. The script exits non-zero
without a result line only if it cannot run: the engine is not importable
from the checkout, or generation, Spark or a workload raises.

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` runs the traced
profile of every workload once, writes perfbench/traces/<workload>.json
and prints the per-layer metrics; the spark.* ones belong to
``--workload``.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import statistics
import subprocess
import sys
import tempfile
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
HZ = os.sysconf("SC_CLK_TCK")
PAGE = os.sysconf("SC_PAGE_SIZE")
MB = 1 << 20
# Warm-up ends once an iteration is no more than SETTLED faster than the
# one before it, after at least WARMUP_MIN and at most WARMUP_MAX.
WARMUP_MIN, WARMUP_MAX, SETTLED = 2, 3, 0.05
MIN_TIMED_ITERATIONS = 3


def _stat_fields(pid) -> list[str]:
    """/proc/<pid>/stat fields after the command name (field 3 onwards)."""
    with open(f"/proc/{pid}/stat") as fh:
        return fh.read().rsplit(")", 1)[1].split()


def process_start_perf() -> float:
    """This process's start time on the time.perf_counter() clock."""
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    now = time.perf_counter()
    started = int(_stat_fields("self")[19]) / HZ
    return now - (uptime - started)


T_START = process_start_perf()


class ProcTree:
    """CPU time and resident memory of this process's descendants: the
    JVM and its Python workers. A sampler thread keeps the peak of their
    summed RSS."""

    def __init__(self):
        self.root = os.getpid()
        self.peak_rss = 0
        self._stop = threading.Event()
        self._thread = None

    def pids(self) -> list[int]:
        kids: dict[int, list[int]] = {}
        for d in os.listdir("/proc"):
            if d.isdigit():
                try:
                    ppid = int(_stat_fields(d)[1])
                except (OSError, IndexError, ValueError):
                    continue
                kids.setdefault(ppid, []).append(int(d))
        out, todo = [], list(kids.get(self.root, []))
        while todo:
            p = todo.pop()
            out.append(p)
            todo += kids.get(p, [])
        return out

    def cpu_s(self) -> float:
        """user + sys of live descendants, including what each has
        collected from its own exited children."""
        ticks = 0
        for p in self.pids():
            try:
                f = _stat_fields(p)
            except OSError:
                continue
            ticks += sum(int(x) for x in f[11:15])
        return ticks / HZ

    def rss(self) -> int:
        total = 0
        for p in self.pids():
            try:
                with open(f"/proc/{p}/statm") as fh:
                    total += int(fh.read().split()[1]) * PAGE
            except OSError:
                continue
        return total

    def _sample(self):
        while not self._stop.wait(0.1):
            self.peak_rss = max(self.peak_rss, self.rss())

    def start(self):
        self._thread = threading.Thread(target=self._sample, daemon=True)
        self._thread.start()

    def stop(self):
        self._stop.set()
        if self._thread is not None:
            self._thread.join()


def host_info() -> dict:
    with open("/proc/meminfo") as fh:
        mem_kb = int(next(ln for ln in fh if ln.startswith("MemTotal"))
                     .split()[1])
    aff = sorted(os.sched_getaffinity(0))
    return {"nproc": os.cpu_count(), "affinity": aff,
            "cores": min(len(aff), os.cpu_count()),
            "mem_total_mb": mem_kb // 1024,
            "python": platform.python_version()}


def driver_memory_mb(mem_total_mb: int) -> int:
    """A sixth of the host's memory, between 1 and 8 GiB: leaves room for
    the Python workers and whatever else shares the host."""
    return max(1024, min(8192, mem_total_mb // 6))


def start_spark(host: dict, tmp: str, event_dir: str | None):
    from rsyslog_spark.session import get_spark

    heap_mb = driver_memory_mb(host["mem_total_mb"])
    conf = {
        "spark.driver.memory": f"{heap_mb}m",
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(tmp, "spark-local"),
        # A fixed heap and young generation: resident memory then tracks
        # what the engine keeps alive, not the collector's resizing.
        "spark.driver.extraJavaOptions":
            f"-Xms{heap_mb}m -Xmn{heap_mb // 4}m -Djava.io.tmpdir="
            + os.path.join(tmp, "java-tmp"),
        "spark.sql.warehouse.dir": os.path.join(tmp, "warehouse"),
    }
    if event_dir:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + event_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
            "spark.eventLog.logBlockUpdates.enabled": "true",
        })
    for d in ("spark-local", "java-tmp"):
        os.makedirs(os.path.join(tmp, d), exist_ok=True)
    return get_spark("perfbench", master=f"local[{host['cores']}]",
                     extra_conf=conf)


def stop_spark(spark, tree: ProcTree) -> None:
    """Stop the session, shut the JVM down and wait for every process it
    started to end."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + 10
    while tree.pids() and time.monotonic() < deadline:
        time.sleep(0.1)
    for p in tree.pids():
        try:
            os.kill(p, 9)
        except OSError:
            pass


def generate(seed: int, out: str, workloads: list[str]) -> None:
    cmd = [sys.executable, os.path.join(HERE, "gen.py"), "--seed",
           str(seed), "--out", out]
    for w in workloads:
        cmd += ["--workload", w]
    subprocess.run(cmd, check=True)


def load_truth(inputs: str, workload: str) -> dict:
    with open(os.path.join(inputs, workload, "truth.json")) as fh:
        return json.load(fh)


def measure(spark, args, tmp, inputs, prep_s, tree) -> tuple:
    """Untraced run: warm-up, timed closed loop, checks. Returns the
    verdict and the end-to-end metric values."""
    from checks import Verdict
    from workloads import WORKLOADS

    wl = WORKLOADS[args.workload](
        spark, os.path.join(inputs, args.workload),
        load_truth(inputs, args.workload), tmp)
    verdict = Verdict()
    warm = []
    while len(warm) < WARMUP_MIN or (
            len(warm) < WARMUP_MAX and warm[-1] < (1 - SETTLED) * warm[-2]):
        w0 = time.perf_counter()
        out = wl.iterate()
        warm.append(time.perf_counter() - w0)
        verdict.add(wl.check(out))
    setup_s = time.perf_counter() - T_START - prep_s
    print(f"setup: {setup_s:.2f} s, of which warm-up {sum(warm):.2f} s: "
          + " ".join(f"{w:.3f}" for w in warm), flush=True)
    walls, cpus = [], []
    t_end = time.perf_counter() + args.seconds
    while len(walls) < MIN_TIMED_ITERATIONS or time.perf_counter() < t_end:
        c0, w0 = tree.cpu_s(), time.perf_counter()
        out = wl.iterate()
        w1, c1 = time.perf_counter(), tree.cpu_s()
        walls.append(w1 - w0)
        cpus.append(c1 - c0)
        verdict.add(wl.check(out))
    t = time.perf_counter()
    verdict.add(wl.final_check())
    print(f"final check: {time.perf_counter() - t:.2f} s", flush=True)
    print(f"timed iterations: {len(walls)}, wall s: "
          + " ".join(f"{w:.3f}" for w in walls)
          + ", cpu s: " + " ".join(f"{c:.2f}" for c in cpus), flush=True)
    metrics = {
        "rows_per_s": statistics.median(wl.rows / w for w in walls),
        "cpu_s_per_mrow": statistics.median(c / wl.rows * 1e6 for c in cpus),
        "setup_s": setup_s,
        "peak_rss_mb": tree.peak_rss / MB,
    }
    return verdict, metrics


def traced(spark, args, host, tmp, inputs, event_dir, tree) -> tuple:
    """Traced profile of every workload, in this session; see README."""
    from checks import Verdict
    from tracing import EventLog, Tracer, gc_seconds, spark_layer
    from workloads import WORKLOADS

    tracer = Tracer()
    sc = spark.sparkContext
    verdict = Verdict()
    per: dict[str, dict] = {}
    wls = {}
    for name, cls in WORKLOADS.items():
        rec = per[name] = {"workload": name, "seed": args.seed}
        with tracer.span(name) as top:
            wl = wls[name] = cls(spark, os.path.join(inputs, name),
                                 load_truth(inputs, name), tmp, tracer=tracer)
            t = time.perf_counter()
            verdict.add(wl.check(wl.iterate()))
            rec["iter_warmup_s"] = time.perf_counter() - t
            if name == args.workload:
                t = time.perf_counter()
                verdict.add(wl.check(wl.iterate()))
                rec["iter_plain_s"] = time.perf_counter() - t
            sc.setJobGroup(wl.group, wl.group)
            gc0 = gc_seconds(spark)
            with tracer.span("iteration") as it:
                out = wl.iterate(tracer)
            rec["gc_s"] = gc_seconds(spark) - gc0
            sc.setLocalProperty("spark.jobGroup.id", None)
            rec["iter_traced_s"] = tracer.duration(it)
            verdict.add(wl.check(out))
            rec["layers"] = wl.trace(tracer)
            if name == args.workload:
                verdict.add(wl.final_check())
        rec["span_id"] = top["id"]
    stop_spark(spark, tree)
    log = EventLog(event_dir)
    for name, wl in wls.items():
        rec = per[name]
        if hasattr(wl, "trace_events"):
            rec["layers"].update(wl.trace_events(log))
        rec["layers"].update(spark_layer(
            log, wl.group, rec["iter_traced_s"], host["cores"],
            rec["gc_s"]))
        rec["spans"] = _subtree(tracer.spans, rec["span_id"])
    out_dir = os.path.join(HERE, "traces")
    os.makedirs(out_dir, exist_ok=True)
    metrics = {}
    for name, rec in per.items():
        rec["host"] = host
        with open(os.path.join(out_dir, f"{name}.json"), "w") as fh:
            json.dump(rec, fh, indent=1, default=str)
        metrics.update({k: v for k, v in rec["layers"].items()
                        if not k.startswith("spark.")})
    metrics.update({k: v for k, v in per[args.workload]["layers"].items()
                    if k.startswith("spark.")})
    return verdict, metrics


def _subtree(spans: list[dict], root: int) -> list[dict]:
    ids, out = {root}, []
    for s in spans:
        if s["id"] in ids or s["parent"] in ids:
            ids.add(s["id"])
            out.append(s)
    return out


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    from gen import WORKLOADS as ALL_WORKLOADS  # the regular runs use a subset

    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=ALL_WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=spec["run_seconds"])
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    sys.path.insert(0, ROOT)
    try:
        import rsyslog_spark
    except ImportError as e:
        print(f"perfbench: the engine is not importable from {ROOT}: {e}",
              file=sys.stderr)
        return 2
    if not os.path.abspath(rsyslog_spark.__file__).startswith(ROOT + os.sep):
        print(f"perfbench: rsyslog_spark comes from {rsyslog_spark.__file__},"
              f" not from {ROOT}", file=sys.stderr)
        return 2
    # Python workers import rsyslog_spark too, from any working directory;
    # the library default decode backend is what gets measured.
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ.pop("SPARK_GRAFT_DECODE", None)

    host = host_info()
    base = os.path.join(ROOT, ".perfbench-tmp")
    os.makedirs(base, exist_ok=True)
    tmp = tempfile.mkdtemp(prefix="run-", dir=base)
    os.environ["TMPDIR"] = tmp
    tree = ProcTree()
    spark = None
    try:
        t = time.perf_counter()
        inputs = os.path.join(tmp, "inputs")
        generate(args.seed, inputs,
                 list(ALL_WORKLOADS) if args.trace else [args.workload])
        prep_s = time.perf_counter() - t
        print(f"input generation: {prep_s:.2f} s", flush=True)
        tree.start()
        event_dir = os.path.join(tmp, "events") if args.trace else None
        if event_dir:
            os.makedirs(event_dir)
        os.chdir(tmp)
        spark = start_spark(host, tmp, event_dir)
        jvm = spark._jvm
        host.update(spark=spark.version,
                    java=jvm.java.lang.System.getProperty("java.version"),
                    driver_memory=spark.conf.get("spark.driver.memory"))
        for k, v in host.items():
            print(f"host {k}: {v}", flush=True)
        if args.trace:
            verdict, values = traced(spark, args, host, tmp, inputs,
                                     event_dir, tree)
            spark = None
            wanted = spec["per_layer"]
        else:
            verdict, values = measure(spark, args, tmp, inputs, prep_s,
                                      tree)
            wanted = spec["end_to_end"]
    finally:
        if spark is not None:
            stop_spark(spark, tree)
        tree.stop()
        os.chdir(ROOT)
        shutil.rmtree(tmp, ignore_errors=True)
        try:
            os.rmdir(base)
        except OSError:
            pass
    for p in verdict.problems:
        print(f"CHECK FAILED: {p}", flush=True)
    result = {
        "correct": not verdict.problems,
        "attempted": verdict.attempted,
        "failed": verdict.failed,
        "metrics": {m["name"]: {"value": float(values[m["name"]]),
                                "unit": m["unit"]} for m in wanted},
    }
    print(f"run wall: {time.perf_counter() - T_START:.2f} s", flush=True)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
