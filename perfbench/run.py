#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload frontier_epoch --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The package is imported from that
checkout; everything the run writes goes under `.perfbench_work/` there.
The last line of standard output is one JSON object:
{"correct", "attempted", "failed", "metrics": {name: {"value", "unit"}}},
with the end-to-end metrics of BENCHMARK.json when --trace 0 and its
per-layer metrics when --trace 1.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import threading
import time
import uuid
from concurrent.futures import ThreadPoolExecutor

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK_ROOT = os.path.join(ROOT, ".perfbench_work")
PACKAGE = "link_profiler_repo_spark"


def parse_args(argv=None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def host_sizing() -> tuple[int, int]:
    """(cores, driver heap in MiB): cores from the CPU affinity mask, like
    `nproc`; the heap a quarter of MemAvailable, between 0.5 and 1 GiB, so a
    run never asks for more than the host can give. The workloads need far
    less; a small cap also keeps the JVM's resident set from tracking when
    garbage collection happens to run."""
    cores = len(os.sched_getaffinity(0))
    avail_kb = 4 << 20
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemAvailable:"):
                avail_kb = int(line.split()[1])
    return cores, max(512, min(1024, avail_kb // 4 // 1024))


def prepare_env(work: str, heap_mb: int, cores: int) -> None:
    """Point every scratch location of Python, the JVM and Spark into the
    run's work dir and pass the heap through SPARK_GRAFT_DRIVER_MEM."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    import tempfile

    tempfile.tempdir = None
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = f"{heap_mb}m"
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["SPARK_SUBMIT_OPTS"] = (
        f"-Djava.io.tmpdir={tmp} -Dderby.system.home={work} -XX:-UsePerfData"
    )
    # the short-lived JVM that spark-submit starts to build the command line
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    # Python workers import the package from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT, HERE] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    os.environ.pop("PYSPARK_SUBMIT_ARGS", None)
    os.chdir(work)


class Ctx:
    """What a workload sees of the run."""

    def __init__(self, args, work: str, cores: int, tracer):
        self.seed = args.seed
        self.work = work
        self.cores = cores
        self.tracer = tracer
        self.spark = None
        self.expected = None
        self.layer: dict[str, float] = {}
        self.attempted = 0
        self.failures: list[str] = []
        # filled for a traced run's layer metrics
        self.selfs: dict[int, float] = {}
        self.stage_of: dict[int, dict] = {}
        self.call_ids: set[int] = set()
        self.call_jobs: set[int] = set()
        self.n_reps = 0

    def jvm_pid(self) -> int:
        import spans as tr

        return next(pid for pid, (_, comm) in tr.process_tree().items() if comm.startswith("java"))


def start_spark(work: str, cores: int, traced: bool, shuffle_partitions: int | None):
    from link_profiler_repo_spark.session import get_spark

    extra = {
        "spark.local.dir": os.path.join(work, "local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    }
    if traced:
        evdir = os.path.join(work, "eventlog")
        os.makedirs(evdir, exist_ok=True)
        extra.update({"spark.eventLog.enabled": "true", "spark.eventLog.dir": evdir})
    spark = get_spark(app="perfbench", cores=cores, shuffle_partitions=shuffle_partitions, extra=extra)
    spark.range(1).count()
    return spark


def stop_processes(spark) -> None:
    """Stop Spark, then end whatever the JVM left behind, and wait for every
    child process to end."""
    import spans as tr

    if spark is not None:
        t = threading.Thread(target=spark.stop, daemon=True)
        t.start()
        t.join(30)
    deadline = time.monotonic() + 15
    sig = signal.SIGTERM
    while True:
        left = [pid for pid in tr.process_tree() if pid != os.getpid()]
        for pid in left:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        try:
            while os.waitpid(-1, os.WNOHANG)[0] > 0:
                pass
        except ChildProcessError:
            pass
        if not left:
            return
        if time.monotonic() > deadline:
            sig = signal.SIGKILL
        time.sleep(0.2)


def quartiles(xs: list[float]) -> tuple[float, float, float]:
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def check_counts_across_runs(workload: str, seed: int, counts: dict) -> str | None:
    """Exact counts must repeat in every run of one seed of this benchmark;
    the first run records them under the work root, keyed by a digest of
    the benchmark's own files."""
    import hashlib

    h = hashlib.sha256()
    for name in sorted(os.listdir(HERE)):
        if name.endswith(".py"):
            with open(os.path.join(HERE, name), "rb") as f:
                h.update(f.read())
    path = os.path.join(WORK_ROOT, "counts", f"{workload}-{seed}-{h.hexdigest()[:12]}.json")
    os.makedirs(os.path.dirname(path), exist_ok=True)
    if os.path.exists(path):
        with open(path) as f:
            prev = json.load(f)
        if prev != counts:
            return f"exact counts {counts} differ from an earlier run of seed {seed}: {prev}"
        return None
    with open(path, "w") as f:
        json.dump(counts, f, sort_keys=True)
    return None


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"perfbench: no {PACKAGE} package beside {HERE}; run from a checkout", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    t_start = time.monotonic()
    # a terminated run still stops Spark and its workers (the `finally` below)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    cores, heap_mb = host_sizing()
    work = os.path.join(WORK_ROOT, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    prepare_env(work, heap_mb, cores)
    sys.path[:0] = [ROOT, HERE]
    import spans as tr
    import workloads as W

    run_id = uuid.uuid4().hex[:12]
    tracer = tr.Tracer(run_id)
    ctx = Ctx(args, work, cores, tracer)
    wl = W.WORKLOADS[args.workload]()
    traced = bool(args.trace)
    pool = ThreadPoolExecutor(max_workers=1)
    refusals: list[str] = []
    try:
        with tracer.span(f"workload:{args.workload}", kind="workload"):
            with tracer.span("setup", kind="setup"):
                ctx.expected = W.start_expected(wl, args.seed, work, pool)
                t0 = time.monotonic()
                ctx.spark = start_spark(work, cores, traced, wl.shuffle_partitions)
                ctx.layer["session.start_s"] = time.monotonic() - t0
                wl.setup(ctx)
            setup_s = time.monotonic() - t_start
            sampler = tr.CpuSampler() if traced else None
            loop = timed_loop(ctx, wl, args.seconds, sampler)
        peak_rss = tr.tree_peak_rss_mb()
        if loop["counts"] is not None:
            msg = check_counts_across_runs(args.workload, args.seed, loop["counts"])
            if msg:
                refusals.append(msg)
        walls = loop["walls"]
        if not walls:
            refusals.append("no operation succeeded")
        if traced:
            metrics = layer_metrics(spec, ctx, wl, work, setup_s, loop, refusals)
        else:
            metrics = {
                "setup_s": setup_s,
                "op_s_p50": statistics.median(walls) if walls else 0.0,
                "items_per_s": statistics.median(loop["rates"]) if walls else 0.0,
                "cpu_s": statistics.median(loop["cpus"]) if walls else 0.0,
                "peak_rss_mb": peak_rss,
            }
        if traced:
            trace_dir = os.path.join(WORK_ROOT, "traces")
            os.makedirs(trace_dir, exist_ok=True)
            tracer.dump(os.path.join(trace_dir, f"{args.workload}-{args.seed}-{run_id}.jsonl"))
    finally:
        pool.shutdown(wait=True)
        stop_processes(ctx.spark)
        os.chdir(ROOT)
        shutil.rmtree(work, ignore_errors=True)

    for msg in ctx.failures + refusals:
        print(f"perfbench: {msg}", file=sys.stderr)
    units = {m["name"]: m["unit"] for m in spec["per_layer" if traced else "end_to_end"]}
    missing = set(units) - set(metrics)
    if missing:
        print(f"perfbench: metrics not measured: {sorted(missing)}", file=sys.stderr)
        return 3
    print(json.dumps({
        "correct": not ctx.failures and not refusals,
        "attempted": ctx.attempted,
        "failed": len(ctx.failures),
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
    }))
    return 0


def timed_loop(ctx, wl, seconds: float, sampler) -> dict:
    """Closed loop: one public call after another until `seconds` have
    passed and the workload's `min_calls` calls were made. Each call is
    timed and its outputs checked; a traced frontier run pairs each call
    with a 1-core call."""
    import spans as tr

    out = {"walls": [], "cpus": [], "rates": [], "counts": None, "effs": [], "one_core_cpu": {}}
    if sampler:
        sampler.start()
    t_loop = time.monotonic()
    while True:
        ctx.n_reps += 1
        with ctx.tracer.span(f"rep:{ctx.n_reps}", kind="rep"):
            cpu0, t0 = tr.tree_cpu_s(), time.monotonic()
            res, err = None, None
            try:
                res = wl.op(ctx)
            except Exception as e:  # noqa: BLE001 - a failed call is counted and the loop goes on
                err = f"{type(e).__name__}: {e}"
            dt, cpu = time.monotonic() - t0, tr.tree_cpu_s() - cpu0
            ctx.attempted += (res or {}).get("attempted", 1)
            if res is not None and res.get("check"):
                try:
                    res["check"]()
                except AssertionError as e:
                    err = str(e)
            if err is not None:
                ctx.failures.append(err)
            else:
                ctx.failures.extend(res.get("failures", []))
                out["walls"].append(dt)
                out["cpus"].append(cpu)
                out["rates"].append(res["items"] / dt)
                if out["counts"] is None:
                    out["counts"] = res["counts"]
                elif res["counts"] != out["counts"]:
                    ctx.failures.append(f"exact counts {res['counts']} != {out['counts']} in one run")
                if sampler and hasattr(wl, "one_core_op"):
                    ctx.attempted += 1
                    before = sampler.snapshot()
                    try:
                        out["effs"].append(wl.one_core_op(ctx) / (ctx.cores * dt))
                    except Exception as e:  # noqa: BLE001 - counted like any failed call
                        ctx.failures.append(f"{type(e).__name__}: {e}")
                    after = sampler.snapshot()
                    for k in after:
                        out["one_core_cpu"][k] = out["one_core_cpu"].get(k, 0.0) + after[k] - before[k]
        if ctx.n_reps >= wl.min_calls and time.monotonic() - t_loop >= seconds:
            break
    if sampler:
        out["cpu"] = sampler.stop()
    return out


def layer_metrics(spec, ctx, wl, work, setup_s, loop, refusals) -> dict:
    """Per-layer metrics of a traced run, from the runner's spans, the
    event log's jobs and stages below them, and the /proc sampler. A layer
    the workload does not exercise reads 0."""
    import spans as tr

    tracer = ctx.tracer
    jobs = tr.eventlog_jobs(tr.read_events(os.path.join(work, "eventlog")))
    ctx.stage_of = tr.attach_jobs(tracer, jobs, list(tracer.spans))
    # timed calls only: warm passes in setup record call spans too
    reps = {s["id"] for s in tracer.spans if s["kind"] == "rep"}
    ctx.call_ids = {s["id"] for s in tracer.spans if s["kind"] == "call" and s["parent"] in reps}
    ctx.call_jobs = {s["id"] for s in tracer.spans if s.get("kind") == "job" and s["parent"] in ctx.call_ids}
    ctx.selfs = tr.self_times(tracer.spans)
    job_ids = {s["job_id"] for s in tracer.spans if s["id"] in ctx.call_jobs}
    calls = [s for s in tracer.spans if s["id"] in ctx.call_ids]

    m = {name["name"]: 0.0 for name in spec["per_layer"]}
    m.update(ctx.layer)
    m.update(wl.layer(ctx, [j for j in jobs if j["id"] in job_ids], calls))
    # exchange and CPU figures per repetition of the loop
    n_reps = max(ctx.n_reps, 1)
    for k in ("shuffle.write_mb", "shuffle.read_mb", "spill.disk_mb", "gc_s", "jvm.task_cpu_s"):
        m[k] /= n_reps
    # process CPU of the timed calls, without the 1-core calls
    cpu = loop["cpu"]
    extra = loop["one_core_cpu"]
    m["pyworker.cpu_s"] = (cpu["python_workers"] - extra.get("python_workers", 0.0)) / n_reps
    m["jvm.process_cpu_s"] = (cpu["jvm"] - extra.get("jvm", 0.0)) / n_reps
    m["trace.setup_s"] = setup_s
    m["trace.op_s_p50"] = statistics.median(loop["walls"]) if loop["walls"] else 0.0
    if loop["effs"]:
        q1, med, q3 = quartiles(loop["effs"])
        m["frontier.scaling_eff"] = med
        if med - (q3 - q1) > 1.0:
            refusals.append(f"scaling efficiency {med:.3f} is above 1 beyond its spread {q3 - q1:.3f}")
    if m["crawl.job_busy_s"]:
        # the crawl steps' self times and the driver gap partition each call
        wall = sum(c["end"] - c["start"] for c in calls) / n_reps
        steps = sum(v for k, v in m.items() if k.startswith("crawl.step.") and k.endswith(".s"))
        accounted = steps + m["crawl.driver_gap_s"]
        if abs(accounted - wall) > 0.10 * wall:
            refusals.append(f"crawl step self times + driver gap {accounted:.2f}s are not within 10% of the run wall {wall:.2f}s")
    return m


if __name__ == "__main__":
    sys.exit(main())
