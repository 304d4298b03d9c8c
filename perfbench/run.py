"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout of this repository. One process, one
Spark session on ``local[nproc]``, one closed-loop client: the run
generates its inputs from ``--seed`` under ``.perfbench/`` in the
checkout, sets the workload up, repeats whole workload cycles until
``--seconds`` of cycle time are measured, checks every cycle's outputs
(outside the timed windows) and prints one JSON object as the last line
of standard output. ``--trace 0`` reports the end-to-end metrics;
``--trace 1`` records spans and Spark counters around every call into
the package and reports the per-layer metrics instead. Earlier lines
print the detail metrics by name with their units. README.md in this
directory describes the workloads, the metrics and the pinned settings.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import math
import os
import resource
import shutil
import statistics
import sys
import time
import traceback
from collections import defaultdict

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# Pinned session settings (README.md, "Pinned settings").
DRIVER_MEMORY = "3g"
PROBE_SEED = 0
# Input size: relational scale (1.0 = TPC-H sf 0.01), documents, vectors.
INPUTS = (0.2, 200, 200)
# Start no further cycle that would end after this much wall time,
# whatever --seconds says, so a run on a loaded machine still ends well
# inside its limit.
WALL_CAP_S = 58.0
_TICK = os.sysconf("SC_CLK_TCK")

# Per-layer metrics of a traced run, with their units.
PER_LAYER = (
    ("session.s", "s"), ("floor.probe_s", "s"),
    ("readers.calls", "count"), ("readers.s", "s"), ("readers.self_s", "s"),
    ("readers.jobs", "count"),
    ("star.s", "s"), ("star.self_s", "s"), ("star.jobs", "count"),
    ("star.stages", "count"), ("star.tasks", "count"),
    ("star.shuffle_write_bytes", "bytes"), ("star.output_bytes", "bytes"),
    ("star.spill_bytes", "bytes"), ("star.executor_run_ms", "ms"),
    ("queries.fn_s", "s"), ("queries.self_s", "s"), ("queries.fn_jobs", "count"),
    ("queries.oltp_fn_s", "s"), ("queries.oltp_fn_jobs", "count"),
    ("queries.llm_fn_s", "s"), ("queries.llm_fn_jobs", "count"),
    ("incremental.s", "s"), ("incremental.self_s", "s"),
    ("incremental.jobs", "count"),
    ("lake.create_s", "s"), ("lake.create_jobs", "count"),
    ("lake.merge_s", "s"), ("lake.merge_jobs", "count"),
    ("lake.merge_stages", "count"), ("lake.files_added", "count"),
    ("lake.write_amp", "ratio"), ("lake.files_live", "count"),
    ("lake.read_s", "s"), ("lake.read_jobs", "count"),
    ("lake.occ_retries", "count"), ("lake.self_s", "s"),
    ("exec.s", "s"), ("exec.self_s", "s"), ("exec.jobs", "count"),
    ("exec.stages", "count"), ("exec.tasks", "count"),
    ("exec.executor_run_ms", "ms"), ("exec.executor_cpu_ms", "ms"),
    ("exec.gc_ms", "ms"), ("exec.shuffle_read_bytes", "bytes"),
    ("exec.shuffle_write_bytes", "bytes"), ("exec.spill_bytes", "bytes"),
    ("cache.persisted_rdds", "count"), ("cache.persisted_bytes", "bytes"),
    ("fail_ratio", "ratio"),
    ("trace.overhead_s", "s"), ("trace.cycle_s", "s"), ("trace.spans", "count"),
    ("trace.jobs_total", "count"), ("trace.jobs_unattributed", "count"),
    ("trace.jobs_misattributed", "count"),
)
_COUNTERS = ("jobs", "stages", "tasks", "executor_run_ms", "executor_cpu_ms",
             "gc_ms", "shuffle_read_bytes", "shuffle_write_bytes",
             "spill_bytes", "output_bytes")


def tree_cpu_s(root: int) -> float:
    """CPU seconds used so far by process ``root`` and its descendants
    (the driver JVM and Spark's Python workers are children of this
    process), including children they have already reaped."""
    ticks: dict[int, int] = {}
    children: dict[int, list[int]] = defaultdict(list)
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue  # exited while listing
        children[int(fields[1])].append(int(d))
        ticks[int(d)] = sum(int(x) for x in fields[11:15])
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        total += ticks.get(pid, 0)
        todo.extend(children[pid])
    return total / _TICK


def tail(xs: list[float]) -> tuple[int, float] | None:
    """(p, value) for the highest whole percentile p with at least ten
    samples above it; None below 20 samples."""
    n = len(xs)
    if n < 20:
        return None
    p = math.floor(100 * (n - 10) / n)
    return p, statistics.quantiles(xs, n=100, method="inclusive")[p - 1]


class Run:
    """State of one benchmark run, handed to the workload."""

    def __init__(self, args, spark, tracer, data_dir: str, work_dir: str):
        self.root = ROOT
        self.seed = args.seed
        self.spark = spark
        self.tracer = tracer
        self.data_dir = data_dir
        self.work_dir = work_dir
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.gauges: dict[str, float] = {}
        self.check_s = 0.0
        # (kind, wall seconds, CPU seconds) of the steps since the last reset
        self.steps: list[tuple[str, float, float]] = []

    @contextlib.contextmanager
    def step(self, kind: str):
        """One timed step of a cycle: wall and process-tree CPU time."""
        pid = os.getpid()
        cpu = tree_cpu_s(pid)
        with self.tracer.span(kind, "step") as sp:
            yield
        self.steps.append((kind, sp.seconds, tree_cpu_s(pid) - cpu))

    @contextlib.contextmanager
    def checking(self):
        """Correctness work: its own span, and its time is not set-up."""
        t = time.perf_counter()
        try:
            with self.tracer.span("check", "check"):
                yield
        finally:
            self.check_s += time.perf_counter() - t


def _floor_probe(spark, tracer, probe_dir: str) -> float:
    from olist_data_warehouse_spark.plans.queries import REGISTRY

    with tracer.span("t3_limit", "floor") as sp:
        REGISTRY["t3_limit"].fn(spark, probe_dir).collect()
    return sp.seconds


def _trace_readers(tracer) -> None:
    """Registry builders reach the readers layer through the name
    ``load_testdata`` in ``plans.queries``; wrap it in a span for this
    process only, so schema inference inside fn() shows as readers."""
    from olist_data_warehouse_spark.plans import queries

    inner = queries.load_testdata

    def load_testdata(*args, **kwargs):
        with tracer.span("load_testdata", "readers"):
            return inner(*args, **kwargs)

    queries.load_testdata = load_testdata


def _retained_mb(spark) -> float:
    """JVM heap still in use after a full collection, plus this Python
    process's peak resident set: what a run keeps, not how far the
    collector let the heap grow. A collection only queues unreachable
    broadcasts and shuffles; Spark's cleaner thread then drops the blocks
    they hold, which the next collection frees. So collect, give the
    cleaner a moment, and repeat until the heap stops shrinking."""
    jvm = spark.sparkContext._jvm
    rt = jvm.Runtime.getRuntime()
    heap = float("inf")
    for _ in range(6):
        jvm.System.gc()
        time.sleep(0.3)
        used = rt.totalMemory() - rt.freeMemory()
        if used >= 0.99 * heap:
            heap = min(heap, used)
            break
        heap = used
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    return heap / 2**20 + py_kb / 1024.0


def _peak_rss_mb(spark) -> float:
    """Peak resident set of the driver JVM plus this Python process."""
    kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    pid = spark.sparkContext._gateway.proc.pid
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                kb += int(line.split()[1])
    return kb / 1024.0


def _cache_state(spark) -> tuple[int, int]:
    jsc = spark.sparkContext._jsc
    infos = jsc.sc().getRDDStorageInfo()
    return (
        jsc.getPersistentRDDs().size(),
        sum(i.memSize() + i.diskSize() for i in infos),
    )


def _stop_spark(spark) -> None:
    """Stop the session and wait for the JVM process to exit."""
    proc = spark.sparkContext._gateway.proc
    spark.stop()
    spark.sparkContext._gateway.shutdown()
    with contextlib.suppress(OSError, ValueError):
        proc.stdin.close()
    try:
        proc.wait(timeout=30)
    except Exception:
        proc.kill()
        proc.wait(timeout=30)


def layer_metrics(tracer, n_cycles: int) -> dict[str, float]:
    """Per-layer totals over the measured cycles, divided by the number
    of cycles: each value is per cycle."""
    per: dict[str, float] = defaultdict(float)
    # fn() time includes the readers calls inside it; so do its jobs
    fn_jobs: dict[int, float] = defaultdict(float)
    for sp in tracer.spans:
        a = sp
        while a is not None:
            if a.layer == "queries":
                fn_jobs[a.id] += sp.counters["jobs"]
            a = a.parent
    for sp in tracer.spans:
        a = sp.parent
        while a is not None and a.layer != "cycle":
            a = a.parent
        if a is None:
            continue
        c = sp.counters
        if sp.layer == "queries":
            cls = "oltp" if sp.name.endswith("_oltp") else "llm"
            for pre in ("queries.", f"queries.{cls}_"):
                per[pre + "fn_s"] += sp.seconds
                per[pre + "fn_jobs"] += fn_jobs[sp.id]
            per["queries.self_s"] += sp.self_s
        elif sp.layer == "lake":
            op = sp.name.split(".", 1)[1].split("_")[0]  # create/read/merge
            per[f"lake.{op}_s"] += sp.seconds
            per[f"lake.{op}_jobs"] += c["jobs"]
            if op == "merge":
                per["lake.merge_stages"] += c["stages"]
                per["lake.merge_output_bytes"] += c["output_bytes"]
                for k in ("files_added", "bytes_added", "occ_retries"):
                    per[f"lake.{k}"] += c[k]
            per["lake.self_s"] += sp.self_s
        elif sp.layer in ("readers", "star", "incremental", "exec"):
            per[f"{sp.layer}.s"] += sp.seconds
            per[f"{sp.layer}.self_s"] += sp.self_s
            per[f"{sp.layer}.calls"] += 1
            for k in _COUNTERS:
                per[f"{sp.layer}.{k}"] += c[k]
    out = {k: v / max(n_cycles, 1) for k, v in per.items()}
    out["lake.write_amp"] = (
        per["lake.merge_output_bytes"] / per["lake.bytes_added"]
        if per["lake.bytes_added"] else 0.0
    )
    return out


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    t_start = time.perf_counter()
    sys.path.insert(0, ROOT)
    # Session pins: UTC rendering of collected timestamps, the package's
    # default repartitioning of single-file scans left on.
    os.environ["TZ"] = "UTC"
    time.tzset()
    os.environ.pop("SPARK_GRAFT_NO_HEAL", None)

    import gen
    import workloads
    from spans import Tracer

    if args.workload not in workloads.WORKLOADS:
        ap.error(f"unknown workload {args.workload!r}; "
                 f"choose from {sorted(workloads.WORKLOADS)}")
    wl_cls = workloads.WORKLOADS[args.workload]
    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    base = os.path.join(ROOT, ".perfbench")
    work_dir = os.path.join(base, run_id)
    out_dir = os.path.join(base, "out")
    data_dir = os.path.join(work_dir, "data")
    probe_dir = os.path.join(work_dir, "probe")
    local_dir = os.path.join(work_dir, "local")
    os.makedirs(out_dir, exist_ok=True)
    os.makedirs(local_dir)
    # Spark scratch space stays inside the checkout.
    os.environ["SPARK_LOCAL_DIRS"] = local_dir
    os.environ["TMPDIR"] = local_dir

    spark = None
    try:
        t = time.perf_counter()
        gen.generate(data_dir, args.seed, *INPUTS)
        gen.generate(probe_dir, PROBE_SEED, 0.1, 20, 20)  # sf 0.001 shape
        gen_s = time.perf_counter() - t

        t = time.perf_counter()
        from olist_data_warehouse_spark.session import get_spark

        spark = get_spark(
            f"perfbench-{args.workload}",
            cpus=len(os.sched_getaffinity(0)),
            extra_conf={
                "spark.driver.memory": DRIVER_MEMORY,
                "spark.local.dir": local_dir,
                "spark.sql.warehouse.dir": os.path.join(work_dir, "warehouse"),
                "spark.driver.extraJavaOptions":
                    f"-Djava.io.tmpdir={local_dir} -XX:-UsePerfData",
            },
        )
        session_s = time.perf_counter() - t

        tracer = Tracer(spark, run_id, enabled=bool(args.trace))
        if tracer.enabled:
            _trace_readers(tracer)
        ctx = Run(args, spark, tracer, data_dir, work_dir)
        wl = wl_cls(ctx)

        t = time.perf_counter()
        with tracer.span("setup", "setup"):
            _floor_probe(spark, tracer, probe_dir)  # the JVM's first job
            probe_start = _floor_probe(spark, tracer, probe_dir)
            wl.setup()
        setup_s = session_s + time.perf_counter() - t - ctx.check_s

        cycles: list[list[tuple[str, float, float]]] = []
        cache_rdds: list[int] = [0]
        cache_bytes: list[int] = [0]
        measured = 0.0
        while not cycles or (
            measured < args.seconds
            and time.perf_counter() - t_start + measured / len(cycles) < WALL_CAP_S
        ):
            ctx.steps = []
            try:
                with tracer.span(f"cycle_{len(cycles)}", "cycle"):
                    wl.cycle(len(cycles))
            except Exception:
                # a failed operation: count it, report what was measured
                if not cycles:
                    raise
                traceback.print_exc()
                ctx.attempted += 1
                ctx.failed += 1
                ctx.failures.append(f"cycle {len(cycles)} raised")
                break
            cycles.append(ctx.steps)
            measured += sum(s for _, s, _ in ctx.steps)
            with ctx.checking():
                wl.check(len(cycles) - 1)
            if tracer.enabled:
                n_rdd, n_bytes = _cache_state(spark)
                cache_rdds.append(n_rdd)
                cache_bytes.append(n_bytes)
        probe_end = _floor_probe(spark, tracer, probe_dir)
        peak_rss = _peak_rss_mb(spark)
        retained = _retained_mb(spark)
        total_jobs = tracer.jobs_so_far() if tracer.enabled else 0
    except BaseException:
        if spark is not None:
            _stop_spark(spark)
        shutil.rmtree(work_dir, ignore_errors=True)
        raise

    _stop_spark(spark)
    if tracer.enabled:
        tracer.dump(os.path.join(out_dir, f"{run_id}.spans.jsonl"))
    shutil.rmtree(work_dir, ignore_errors=True)

    # A typical cycle: each step of one cycle at the median of its kind
    # over the measured cycles, so one slow moment of the machine moves
    # one sample, not the reported cycle.
    wall: dict[str, list[float]] = defaultdict(list)
    cpu: dict[str, list[float]] = defaultdict(list)
    for c in cycles:
        for kind, w, u in c:
            wall[kind].append(w)
            cpu[kind].append(u)
    med_wall = {k: statistics.median(v) for k, v in wall.items()}
    med_cpu = {k: statistics.median(v) for k, v in cpu.items()}
    typical_s = sum(med_wall[k] for k, _, _ in cycles[0])
    typical_cpu = sum(med_cpu[k] for k, _, _ in cycles[0])
    fail_ratio = ctx.failed / max(ctx.attempted, 1)

    end_to_end = {
        "setup_s": (setup_s, "s"),
        "cycle_s": (typical_s, "s"),
        "step_p50_s": (
            math.exp(statistics.fmean(math.log(v) for v in med_wall.values())),
            "s",
        ),
        "retained_mb": (retained, "MB"),
    }

    detail: dict[str, tuple[float, str]] = {
        "session_s": (session_s, "s"),
        # process-tree CPU: mostly JIT compilation this early in a JVM
        "cycle_cpu_s": (typical_cpu, "s"),
        "peak_rss_mb": (peak_rss, "MB"),
        "inputs_gen_s": (gen_s, "s"),
        "check_s": (ctx.check_s, "s"),
        "cycles": (len(cycles), "count"),
        "floor_probe_start_s": (probe_start, "s"),
        "floor_probe_end_s": (probe_end, "s"),
        "fail_ratio": (fail_ratio, "ratio"),
    }
    for j, c in enumerate(cycles):
        detail[f"cycle_{j}_wall_s"] = (sum(w for _, w, _ in c), "s")
    for kind, xs in wall.items():
        detail[f"step.{kind}_p50_s"] = (med_wall[kind], "s")
        detail[f"step.{kind}_cpu_p50_s"] = (med_cpu[kind], "s")
        detail[f"step.{kind}_n"] = (len(xs), "count")
        tl = tail(xs)
        if tl is not None:
            detail[f"step.{kind}_tail_p{tl[0]}_s"] = (tl[1], "s")
    # the named metrics of each workload
    forms = {f: [x for k, xs in wall.items() if k.endswith(f"_{f}") for x in xs]
             for f in ("oltp", "dw")}
    named = {
        "etl_build_s": wall.get("etl_build"),
        "etl_land_p50_s": wall.get("etl_land"),
        "report_oltp_p50_s": forms["oltp"],
        "report_dw_p50_s": forms["dw"],
    }
    for name, xs in named.items():
        if xs:
            detail[name] = (statistics.median(xs), "s")
    if forms["oltp"] and forms["dw"]:
        detail["report_oltp_over_dw"] = (
            detail["report_oltp_p50_s"][0] / detail["report_dw_p50_s"][0], "ratio")
    if args.workload == "llm_curation":
        detail["curation_pass_s"] = (typical_s, "s")

    correct = ctx.failed == 0 and ctx.attempted > 0
    if tracer.enabled:
        per = layer_metrics(tracer, len(cycles))
        attributed = sum(len(sp.jobs) for sp in tracer.spans)
        per.update({
            "session.s": session_s,
            "floor.probe_s": (probe_start + probe_end) / 2,
            "cache.persisted_rdds": max(cache_rdds),
            "cache.persisted_bytes": max(cache_bytes),
            "fail_ratio": fail_ratio,
            "trace.overhead_s": tracer.overhead_s,
            "trace.cycle_s": typical_s,
            "trace.spans": len(tracer.spans),
            "trace.jobs_total": total_jobs,
            "trace.jobs_unattributed": total_jobs - attributed,
            "trace.jobs_misattributed": len(tracer.misattributed_jobs),
            "lake.files_live": ctx.gauges.get("lake.files_live", 0),
        })
        metrics = {k: (per.get(k, 0.0), unit) for k, unit in PER_LAYER}
        for k, v in per.items():
            if k not in metrics:
                detail[k] = (v, "")
        # the job-attribution self-check
        correct = correct and per["trace.jobs_unattributed"] == 0 \
            and per["trace.jobs_misattributed"] == 0
    else:
        metrics = end_to_end
    detail.update(metrics)

    for k in sorted(detail):
        v, unit = detail[k]
        print(f"{k:40s} {v:.6g} {unit}")
    for f in ctx.failures:
        print("FAILED", f)
    print(json.dumps({
        "correct": correct,
        "attempted": ctx.attempted,
        "failed": ctx.failed,
        "metrics": {k: {"value": float(v), "unit": u} for k, (v, u) in metrics.items()},
    }), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
