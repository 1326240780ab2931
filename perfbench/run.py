"""Benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a source checkout. It generates the workload's
inputs from the seed under ``.perfbench_work/`` in the checkout, sizes
a local Spark session to this machine, runs one client in a closed loop
for ``--seconds`` seconds, checks every output against references
computed from the generator's ground truth, and prints as its last
line one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics``. With ``--trace 0`` the metrics are the end-to-end ones
(BENCHMARK.json ``end_to_end``); with ``--trace 1`` the run alternates
plain and traced units and reports the per-layer ones (``per_layer``),
and writes its spans to ``.perfbench_work/traces/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback

import spans as tr

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "pagerank_mapreduce_implementation_spark"
NAMES = ("wiki_pagerank", "tfidf_files", "search_serving")
DRIVER_MEM = "1g"

#: Layers of the package the benchmark calls into, as span-name prefixes.
LAYERS = (
    "session",
    "sources",
    "functions.wiki",
    "operators.graph",
    "plans.iterative",
    "operators.text",
)


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=NAMES)
    p.add_argument("--seed", required=True, type=int)
    p.add_argument("--seconds", required=True, type=float)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    if args.seconds <= 0:
        p.error("--seconds must be positive")
    return args


def machine() -> dict:
    with open("/proc/meminfo") as f:
        mem_kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    nproc = len(os.sched_getaffinity(0))
    return {
        "nproc": nproc,
        "slots": max(1, nproc // 2),
        "ram_mb": mem_kb // 1024,
        "load1": os.getloadavg()[0],
    }


def configure_environment(work: str, host: dict) -> None:
    """Size the session from outside through the package's own
    environment settings, and keep every file Spark and the JVM write
    inside the checkout."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # half the CPUs run Spark tasks; the JVM's JIT compiler and GC
    # threads and the driver's planning thread keep the other half (the
    # JIT alone still takes about a CPU during a warm pagerank call)
    os.environ["SPARK_GRAFT_CPUS"] = str(host["slots"])
    # far below physical RAM, and ample for the inputs; a heap that
    # reaches its cap early keeps peak RSS steady from run to run (with
    # 3 GiB, G1's growth made it spread by a quarter)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    # the heap starts at its cap: a heap that grows while the loop runs
    # makes collections frequent early and rare later, so unit times
    # would drift down for a minute. SPARK_SUBMIT_OPTS reaches only the
    # driver JVM, not spark-submit's launcher JVM, and keeps the
    # package's own driver Java options
    os.environ["SPARK_SUBMIT_OPTS"] = (
        os.environ.get("SPARK_SUBMIT_OPTS", "") + f" -Xms{DRIVER_MEM}"
    ).strip()
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_WAREHOUSE"] = os.path.join(work, "warehouse")
    os.environ["TMPDIR"] = tmp
    # no hsperfdata file: the JVM would write it under /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"


def cpu_ticks() -> list[int]:
    """Aggregate CPU time counters from ``/proc/stat``."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def jvm_gc_totals(spark) -> dict:
    """Collections and milliseconds per garbage collector of the JVM."""
    mf = spark.sparkContext._gateway.jvm.java.lang.management.ManagementFactory
    return {
        str(b.getName()): [b.getCollectionCount(), b.getCollectionTime()]
        for b in mf.getGarbageCollectorMXBeans()
    }


def quantile(values: list[float], q: int) -> float:
    """The q-th percentile, interpolated; the single value of a
    one-sample list."""
    if len(values) == 1:
        return values[0]
    return statistics.quantiles(values, n=100, method="inclusive")[q - 1]


def stop_spark(spark) -> None:
    """Stop the session and the JVM it runs in, and wait for the JVM."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


class Run:
    def __init__(self, args, wl, tracer) -> None:
        self.args = args
        self.wl = wl
        self.tracer = tracer
        self.traced = args.trace == 1
        self.unit = "query" if wl.name == "search_serving" else "call"
        self.results: list = []
        self.lat: list[float] = []
        self.traced_lat: list[float] = []
        self.raised = 0

    def loop(self) -> None:
        """Closed loop, one client: the next unit starts when the last
        one returns. A traced run alternates plain and traced units, so
        the two samples see the same warm-up."""
        deadline = time.perf_counter() + self.args.seconds
        i = 0
        while True:
            traced = self.traced and i % 2 == 1
            t = time.perf_counter()
            try:
                if traced:
                    with self.tracer.span(self.unit, index=i):
                        out = self.wl.traced_call(i, self.tracer)
                else:
                    out = self.wl.call(i)
            except Exception:
                traceback.print_exc()
                self.raised += 1
                out = None
            dt = time.perf_counter() - t
            (self.traced_lat if traced else self.lat).append(dt)
            self.results.append(out)
            i += 1
            if time.perf_counter() >= deadline and (
                not self.traced or (self.lat and self.traced_lat)
            ):
                break

    def failures(self) -> int:
        problems = self.wl.check([r for r in self.results if r is not None])
        bad = sum(1 for p in problems if p)
        for p in problems:
            if p:
                print(f"check failed: {'; '.join(p[:3])}", file=sys.stderr)
        if self.traced:
            attrs = {}
            for s in self.tracer.spans:
                attrs.update(s["attrs"])
            counted = self.wl.check_traced_counts(attrs)
            if counted:
                print(f"check failed: {'; '.join(counted)}", file=sys.stderr)
                bad += 1
        return self.raised + bad


def end_to_end(run: Run, setup_s: float) -> dict:
    wl, lat = run.wl, run.lat
    total = sum(lat)
    # the timed unit: a program call, or a query on search_serving,
    # whose index build is timed in setup_s
    job_s = statistics.median(lat)
    return {
        "setup_s": (setup_s, "s"),
        "job_s": (job_s, "s"),
        "items_per_s": (wl.items_per_call() * len(lat) / total, "1/s"),
        "latency_p50_ms": (1000 * statistics.median(lat), "ms"),
        # the highest percentile with ten or more samples beyond it for
        # search_serving's queries; for the batch workloads' ~7-10 calls
        # a run it is the interpolated upper tail
        "latency_p90_ms": (1000 * quantile(lat, 90), "ms"),
        "peak_rss_mb": (tr.peak_rss_mb(), "MiB"),
    }


def per_layer(run: Run, cores: int) -> dict:
    """Per-layer metrics from the traced run's spans.

    A span metric is the median, over the units (set-up builds, calls
    or queries) that contain the span, of its summed duration in that
    unit. A layer's self time and Spark counters are per unit too,
    taken over the kind of unit where the layer's work happens: the
    timed calls or queries, else the set-up builds, else the session
    start."""
    tracer = run.tracer
    spans = tracer.spans
    by_id = {s["id"]: s for s in spans}

    def root(s):
        while s["parent"] is not None:
            s = by_id[s["parent"]]
        return s

    units: dict[int, list[dict]] = {}
    for s in spans:
        units.setdefault(root(s)["id"], []).append(s)

    def per_unit(name: str, value) -> list[float]:
        out = []
        for members in units.values():
            hits = [s for s in members if s["name"] == name]
            if hits:
                out.append(sum(value(s) for s in hits))
        return out

    def med(values) -> float:
        return statistics.median(values) if values else 0.0

    def dur(s):
        return s["end"] - s["start"]

    def attr(key):
        vals = [s["attrs"][key] for s in spans if key in s["attrs"]]
        return float(vals[-1]) if vals else 0.0

    m: dict[str, tuple[float, str]] = {}
    m["session.start_s"] = (med(per_unit("session.start", dur)), "s")
    for name in (
        "sources.list", "sources.scan", "sources.write", "functions.wiki.parse",
        "operators.graph.pagerank", "operators.graph.rank_sort",
        "operators.text.tokenize", "operators.text.tfidf",
    ):
        m[f"{name}_s"] = (med(per_unit(name, dur)), "s")
    m["sources.files"] = (attr("files"), "count")
    m["sources.input_bytes"] = (attr("input_bytes"), "bytes")
    m["sources.output_bytes"] = (attr("output_bytes"), "bytes")
    m["functions.wiki.pages"] = (attr("pages"), "count")
    m["functions.wiki.edges"] = (attr("edges"), "count")
    m["operators.text.tokens"] = (attr("tokens"), "count")
    truncs = [s for s in spans if s["name"] == "plans.iterative.truncate"]
    m["plans.iterative.truncations"] = (
        med(per_unit("plans.iterative.truncate", lambda s: 1)), "count"
    )
    m["plans.iterative.truncate_s"] = (med([dur(s) for s in truncs]), "s")
    m["operators.text.search_plan_ms"] = (
        1000 * med(per_unit("operators.text.search_plan", dur)), "ms"
    )
    m["operators.text.search_exec_ms"] = (
        1000 * med(per_unit("operators.text.search_exec", dur)), "ms"
    )
    execs = [s for s in spans if s["name"] == "operators.text.search_exec"]
    m["operators.text.jobs_per_query"] = (med([s["attrs"]["jobs"] for s in execs]), "count")
    scanned = sum(s["counters"]["input_records"] for s in execs)
    found = sum(s["attrs"]["results"] for s in execs)
    m["operators.text.rows_scanned_per_result"] = (scanned / max(1, found), "ratio")

    kinds = ("call", "query", "setup.index_build", "session.start")
    for layer in LAYERS:
        chosen = None
        for kind in kinds:
            members = [
                [s for s in units[uid] if tr.layer_of(s["name"]) == layer]
                for uid in units
                if by_id[uid]["name"] == kind
            ]
            members = [x for x in members if x]
            if members:
                chosen = members
                break
        selfs, counters = [], {k: [] for k in tr.COUNTERS}
        busy_task = busy_wall = 0.0
        for layer_spans in chosen or []:
            wall = sum(tracer.self_time(s) for s in layer_spans)
            own = [tracer.self_counters(s) for s in layer_spans]
            selfs.append(wall)
            for k in tr.COUNTERS:
                counters[k].append(sum(c.get(k, 0.0) for c in own))
            busy_task += sum(c.get("task_s", 0.0) for c in own)
            busy_wall += wall
        m[f"{layer}.self_s"] = (med(selfs), "s")
        for k in tr.COUNTERS:
            if k == "input_records":
                continue
            unit = "s" if k.endswith("_s") else ("bytes" if k.endswith("_bytes") else "count")
            m[f"{layer}.{k}"] = (med(counters[k]), unit)
        m[f"{layer}.busy_share"] = (busy_task / (busy_wall * cores) if busy_wall else 0.0, "ratio")

    untraced = statistics.median(run.lat)
    traced = statistics.median(run.traced_lat)
    m["trace.untraced_unit_s"] = (untraced, "s")
    m["trace.traced_unit_s"] = (traced, "s")
    m["trace.overhead_s"] = (traced - untraced, "s")
    return m


def main(argv=None) -> int:
    t_process = time.perf_counter() - tr.process_age_s()
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"error: package {PACKAGE} not found under {ROOT}", file=sys.stderr)
        return 2
    host = machine()
    work_root = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(work_root, f"{args.workload}-{args.seed}-{os.getpid()}")
    configure_environment(work, host)
    sys.path.insert(0, ROOT)

    from pagerank_mapreduce_implementation_spark.session import get_spark

    import workloads

    spark = None
    # wall seconds of each phase of the run, for the ``# run`` line
    phases: dict[str, float] = {}
    mark = [time.perf_counter()]

    def phase(name: str) -> None:
        now = time.perf_counter()
        phases[name] = round(now - mark[0], 2)
        mark[0] = now

    try:
        spark = get_spark(app_name="perfbench")
        spark.range(1).count()
        t_ready = time.perf_counter()
        session_s = t_ready - t_process
        run_id = f"{args.workload}-{args.seed}-{os.getpid()}"
        counters = tr.SparkCounters(spark) if args.trace else None
        tracer = tr.Tracer(run_id, counters)
        if counters is not None:
            tracer.record("session.start", t_process, t_ready, counters.snapshot())
        wl = workloads.WORKLOADS[args.workload](spark, work, args.seed)
        phase("session")
        wl.prepare()
        phase("inputs")
        wl.setup(tracer)
        setup_s = session_s + (statistics.median(wl.setup_times) if wl.setup_times else 0.0)
        phase("setup")
        wl.warmup()
        phase("warmup")
        run = Run(args, wl, tracer)
        ticks = cpu_ticks()
        run.loop()
        ticks = [b - a for a, b in zip(ticks, cpu_ticks())]
        phase("loop")
        failed = run.failures()
        phase("check")
        attempted = len(run.results)
        if args.trace:
            metrics = per_layer(run, host["slots"])
            tracer.write(os.path.join(work_root, "traces", f"{run_id}.json"))
        else:
            metrics = end_to_end(run, setup_s)
        jvm_gc = jvm_gc_totals(spark)
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
        phase("stop")

    info = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "machine": host,
        # host CPU over the timed loop: steal is time taken by other
        # guests of the machine, the main source of run-to-run spread
        "window_cpu": {
            "busy": round(1 - (ticks[3] + ticks[4]) / sum(ticks), 3),
            "steal": round(ticks[7] / sum(ticks), 3),
        },
        "jvm_gc": jvm_gc,
        "driver_mem": os.environ["SPARK_GRAFT_DRIVER_MEM"],
        "inputs": wl.sizes,
        "phase_s": phases,
        "samples": {"untraced": len(run.lat), "traced": len(run.traced_lat)},
        "unit_ms": [round(1000 * x, 1) for x in run.lat],
        "setup_ms": [round(1000 * x, 1) for x in wl.setup_times],
        "error_rate": failed / attempted,
    }
    print("# run " + json.dumps(info))
    for name, (value, unit) in metrics.items():
        print(f"# {name:44s} {value:16.6f} {unit}")
    print(f"# {'error_rate':44s} {failed / attempted:16.6f} ratio")
    print(
        json.dumps(
            {
                "correct": failed == 0,
                "attempted": attempted,
                "failed": failed,
                "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
