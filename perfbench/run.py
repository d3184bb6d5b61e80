"""The repository benchmark: one command, two workloads, every metric
printed by name and unit, every answer checked against its error contract.

    python3 perfbench/run.py --workload transcripts_classic --seed 1 \
        --seconds 5 --trace 0

Workloads (``workloads.py``): ``transcripts_classic`` (classic Arrow-feed
path) and ``lineitem_direct`` (direct parquet row-group read); the traced
run of each also times the CLI (``run_sketches.main`` in-process) and the
checkpointed build on the same input.  Load model: a closed loop, one
client in one driver process on ``local[<cpus>]``, queries back to back.

``--trace 0`` prints the end-to-end metrics: set-up time (median CPU
seconds of ``SETUP_REPEATS`` fresh Spark contexts, each shipping the
library and answering the workload's first query), then rows per
CPU-second and the CPU-second p50/p90 of one query over at least two
measured passes (wall-clock figures are printed beside them; see
``timed_run``).  Each run checks the input layout and every query's path
once, after the set-ups.  ``--trace 1`` prints the
per-layer metrics from a traced pass (spans, Spark event log, kernel
microbench) and writes the span file and a self-time report under
``perfbench/work/trace/``.  ``NOTES.md`` records the design and its
measured spread.

The last line of standard output is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``.  Inputs are made
from ``--seed`` and cached under ``perfbench/work/`` (never timed).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = HERE / "work"

CPUS = len(os.sched_getaffinity(0))
DRIVER_MEMORY = "4g"
SHUFFLE_PARTITIONS = max(CPUS, 8)  # get_spark's default for this cpu count
SETUP_REPEATS = 3
MIN_PASSES = 2  # even on a slow box, so every query type has two samples


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", flush=True)


# ------------------------------------------------------------ spark session

def prepare_env() -> None:
    """Keep every file Spark, the JVM and Python workers write inside the
    checkout, and pin the settings the CLI re-reads from the environment."""
    tmp = WORK / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_GRAFT_CPUS"] = str(CPUS)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEMORY
    sys.path.insert(0, str(ROOT))


def session(event_log: Path | None = None):
    from stream_lib_spark.jobs.session import get_spark

    conf = {
        "spark.driver.memory": DRIVER_MEMORY,
        "spark.local.dir": str(WORK / "spark-local"),
        "spark.sql.warehouse.dir": str(WORK / "warehouse"),
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={WORK / 'tmp'} -XX:-UsePerfData"
            " -XX:-UseDynamicNumberOfCompilerThreads",
        "spark.ui.showConsoleProgress": "false",
    }
    if event_log is not None:
        event_log.mkdir(parents=True, exist_ok=True)
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.dir": event_log.as_uri(),
                     "spark.eventLog.compress": "false"})
    return get_spark("perfbench", cpus=CPUS, shuffle_partitions=SHUFFLE_PARTITIONS,
                     extra_conf=conf)


def shutdown() -> None:
    """Stop the SparkContext and the JVM behind it, and wait for both."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
    gw = SparkContext._gateway
    if gw is not None:
        gw.shutdown()
        proc = getattr(gw, "proc", None)
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits on stdin EOF
            proc.wait(timeout=60)
        SparkContext._gateway = None
        SparkContext._jvm = None


# ---------------------------------------------------------------- queries

class Tally:
    """Every query executed, warm-up included, counts as attempted; it
    fails if it raised or broke its error contract."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.reasons: list[str] = []

    def run(self, q):
        """Run one query; return (seconds, answer or None)."""
        self.attempted += 1
        t = time.perf_counter()
        try:
            answer = q.run()
        except Exception as e:  # a failing query is counted, the loop goes on
            dt = time.perf_counter() - t
            self.fail(q, f"raised {type(e).__name__}: {str(e)[:300]}")
            return dt, None
        return time.perf_counter() - t, answer

    def check(self, q, answer) -> None:
        if answer is None:
            return
        try:
            reason = q.check(answer)
        except Exception as e:
            reason = f"check raised {type(e).__name__}: {e}"
        if reason:
            self.fail(q, reason)

    def fail(self, q, reason: str) -> None:
        self.failed += 1
        if len(self.reasons) < 20:
            self.reasons.append(f"{q.name}: {reason}")
        log(f"FAILED {q.name}: {reason}")


def is_direct(df) -> bool:
    """The physical plan's leaves: the direct read feeds task indexes from
    a Range; the classic path scans the files."""
    leaves = df._jdf.queryExecution().sparkPlan().collectLeaves()
    names = {leaves.apply(i).getClass().getSimpleName() for i in range(leaves.size())}
    return "RangeExec" in names and "FileSourceScanExec" not in names


def check_inputs(wl, d: Path) -> int:
    """The layout of the cached input, and the path of every query: count
    the queries that take the direct read; raise if the layout drifted or
    any query took the other path than the one its workload is defined on."""
    import inputs

    inputs.check_layout(d, wl.table, int(inputs.load_exact(d, wl.table)["rows"]))
    direct = 0
    for q in wl.queries:
        hit = is_direct(q.build())
        direct += hit
        if hit != wl.expect_direct:
            raise RuntimeError(f"{wl.name}/{q.name}: direct read "
                               f"{'engaged' if hit else 'did not engage'}")
    return direct


def setup(name: str, d: Path, tally: Tally, meter, event_log: Path | None = None):
    """One timed set-up, up to the first answer: a fresh SparkContext
    (which ships the library and starts new Python workers), the workload's
    DataFrames, and its first query as warm-up.  When no JVM runs yet (the
    inputs were cached), the first set-up also starts it.  Returns the wall
    time and the CPU seconds of the process tree over the set-up.  The
    answer check is excluded from both."""
    import workloads
    from pyspark.sql import SparkSession

    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
    t0, c0 = time.perf_counter(), meter.read()
    spark = session(event_log)
    wl = workloads.WORKLOADS[name].make(spark, d)
    _, answer = tally.run(wl.queries[0])
    elapsed = time.perf_counter() - t0
    cpu = meter.read() - c0
    tally.check(wl.queries[0], answer)
    return spark, wl, elapsed, cpu


def warm(wl, tally: Tally) -> None:
    """Untimed warm-up of the queries the set-up did not run, so that the
    measured passes start with every query's Python workers and generated
    code in place.  The answers are still checked and counted."""
    for q in wl.queries[1:]:
        _, answer = tally.run(q)
        tally.check(q, answer)


def cpu_steal() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs: the share the hypervisor gave
    to other guests, which moves every timing of a run together."""
    with open("/proc/stat") as fh:
        f = [int(x) for x in fh.readline().split()[1:]]
    return f[7], sum(f)


def hd_quantile(values, q: float) -> float:
    """Harrell-Davis estimate of the q-quantile: a Beta-weighted average
    of every order statistic.  The query mix is a few clusters of query
    types, so the plain sample quantile jumps between clusters from run to
    run; this estimate moves smoothly."""
    import numpy as np

    x = np.sort(np.asarray(values, dtype=np.float64))
    n = len(x)
    a, b = q * (n + 1), (1.0 - q) * (n + 1)
    grid = np.linspace(0.0, 1.0, 20_001)[1:-1]
    pdf = np.exp((a - 1) * np.log(grid) + (b - 1) * np.log1p(-grid))
    cdf = np.concatenate([[0.0], np.cumsum((pdf[1:] + pdf[:-1]) / 2)])
    cdf = np.interp(np.arange(n + 1) / n, grid, cdf / cdf[-1])
    return float(np.dot(np.diff(cdf), x))


# ------------------------------------------------------------------- runs

def run_file(name: str, seed: int, pid: int | str) -> Path:
    return WORK / "runs" / f"{name}-seed{seed}-{pid}.json"


def timed_run(name: str, d: Path, seed: int, seconds: float, tally: Tally, meter) -> dict:
    """End-to-end metrics.  Every set-up and query is timed twice over: its
    wall time, and the CPU seconds the whole process tree (driver, JVM,
    Python workers) spent on it.  On a shared 4-vCPU VM the hypervisor
    stole 2-25% of the CPU, varying from run to run, which moves every
    wall time of a run together by up to a third; stolen time is not CPU
    time, so the bound-checked metrics are the CPU ones.  The wall ones
    are printed beside them."""
    setups, setup_cpu = [], []
    for _ in range(SETUP_REPEATS):
        spark, wl, dt, dc = setup(name, d, tally, meter)
        setups.append(dt)
        setup_cpu.append(dc)
    check_inputs(wl, d)
    warm(wl, tally)
    wall = {q.name: [] for q in wl.queries}
    cpu = {q.name: [] for q in wl.queries}
    passes = []  # (rows, wall s, cpu s) of each full pass of the query mix
    steal0 = cpu_steal()
    deadline = time.perf_counter() + seconds
    while len(passes) < MIN_PASSES or time.perf_counter() < deadline:
        rows = pass_wall = pass_cpu = 0.0
        for q in wl.queries:
            c0 = meter.read()
            dt, answer = tally.run(q)
            dc = meter.read() - c0
            tally.check(q, answer)
            wall[q.name].append(dt)
            cpu[q.name].append(dc)
            rows, pass_wall, pass_cpu = rows + q.rows, pass_wall + dt, pass_cpu + dc
        passes.append((rows, pass_wall, pass_cpu))
    steal1 = cpu_steal()
    steal = (steal1[0] - steal0[0]) / max(steal1[1] - steal0[1], 1)
    wall_s = [t for ts in wall.values() for t in ts]
    cpu_s = [t for ts in cpu.values() for t in ts]
    log(f"{name}: {len(passes)} passes, {len(wall_s)} query samples, "
        f"setups {[round(s, 3) for s in setup_cpu]} cpu-s, cpu steal {steal:.1%}")
    log(f"wall: setups {[round(s, 3) for s in setups]} s, "
        f"rows/s {statistics.median(r / w for r, w, _ in passes):.6g}, "
        f"query p50 {hd_quantile(wall_s, 0.5):.4f} s, p90 {hd_quantile(wall_s, 0.9):.4f} s")
    out = run_file(name, seed, os.getpid())
    out.parent.mkdir(parents=True, exist_ok=True)
    out.write_text(json.dumps({"setups": setups, "setup_cpu": setup_cpu, "passes": passes,
                               "steal": steal, "wall": wall, "cpu": cpu}))
    return {
        "setup_s": statistics.median(setup_cpu),
        "rows_per_cpu_s": statistics.median(r / c for r, _, c in passes),
        "query_cpu_p50_s": hd_quantile(cpu_s, 0.5),
        "query_cpu_p90_s": hd_quantile(cpu_s, 0.9),
    }


def traced_run(name: str, d: Path, seed: int, tally: Tally, meter) -> dict:
    import layers
    import workloads

    event_log = WORK / "trace" / f"eventlog-{name}-{seed}-{os.getpid()}"
    shutil.rmtree(event_log, ignore_errors=True)
    spark, wl, _, _ = setup(name, d, tally, meter, event_log)
    direct = check_inputs(wl, d)
    warm(wl, tally)
    sc = spark.sparkContext
    tracer = layers.Tracer()
    answers, split = {}, {}
    for q in wl.queries:
        # the same call untraced right before the traced one, so that both
        # run equally warm
        layers.describe(sc, q.name, "untraced")
        untraced_s, answer = tally.run(q)
        tally.check(q, answer)
        split[q.name], answers[q.name] = traced_query(q, sc, tracer, tally, "query")
        split[q.name].update(untraced_s=untraced_s, direct=wl.expect_direct)

    # the jobs layer: the CLI on this workload's input, and the
    # checkpointed build's two phases timed apart
    spec = workloads.WORKLOADS[name]
    cli_s = output_bytes = 0.0
    for q in spec.make_cli(spark, d, CPUS, WORK / "cli"):
        t, answer = traced_query(q, sc, tracer, tally, "cli", check=False)
        cli_s += t["call_s"]
        if answer is not None:
            output_bytes += sum(f.stat().st_size for f in answer[2].rglob("*") if f.is_file())
            tally.check(q, answer)
    ckpt_dir = WORK / "trace" / f"ckpt-{os.getpid()}"
    shutil.rmtree(ckpt_dir, ignore_errors=True)
    job = workloads.checkpoint_job(spark, ckpt_dir, spec.checkpoint_col)
    layers.describe(sc, "checkpoint", "cli")
    with tracer.span("jobs.checkpoint.build_partials", "checkpoint") as s:
        job.build_partials(spark.read.parquet(str(d / wl.table)))
    ckpt_build = s["end"] - s["start"]
    with tracer.span("jobs.checkpoint.final_merge", "checkpoint") as s:
        job.final_merge().collect()
    ckpt_merge = s["end"] - s["start"]
    shutil.rmtree(ckpt_dir, ignore_errors=True)
    sc.setJobDescription(None)

    arrays, identity = workloads.kernel_inputs(spark, d, name, seed)
    kernels = layers.kernel_bench(arrays, wl.kernel_specs())
    for kind, (qname, hashes) in identity.items():
        q = next(q for q in wl.queries if q.name == qname)
        if answers[qname] is not None and not layers.same_state(q.spec, hashes, answers[qname]):
            tally.fail(q, f"{kind} state built in-process differs from Spark's")
    from pyspark import SparkContext

    rss = layers.peak_rss_mb(SparkContext._gateway.proc.pid)
    spark.stop()  # flushes the event log
    sm = layers.spark_metrics(event_log, ("scan", "build", "query"))

    untraced_total = sum(v["untraced_s"] for v in split.values())
    traced_total = sum(v["call_s"] for v in split.values())
    report = self_times(split)
    report.update({"workload": name, "seed": seed, "untraced_wall_s": untraced_total,
                   "traced_wall_s": traced_total, "queries": split,
                   "self_sum_over_untraced": report["self_sum_s"] / untraced_total})
    trace0 = trace0_wall(name, seed)
    if trace0 is not None:
        report.update({"trace0_wall_s": trace0,
                       "self_sum_over_trace0": report["self_sum_s"] / trace0})
    out_dir = WORK / "trace"
    tracer.write(out_dir / f"spans-{name}-{seed}.json")
    (out_dir / f"report-{name}-{seed}.json").write_text(json.dumps(report, indent=1))
    log("self times per layer (s): " + json.dumps(
        {k: round(v, 3) for k, v in report["self_s"].items()})
        + f"; sum {report['self_sum_s']:.3f} s vs untraced wall {untraced_total:.3f} s"
        + ("" if trace0 is None else f", vs --trace 0 run {trace0:.3f} s"))
    shutil.rmtree(event_log, ignore_errors=True)

    metrics = dict(kernels)
    metrics.update({
        "agg.scan_s": sum(v["scan_s"] for v in split.values()),
        "agg.build_s": sum(v["build_s"] for v in split.values()),
        "agg.merge_collect_s": sum(v["merge_s"] for v in split.values()),
        "functions.finalize_s": sum(v.get("finalize_s", 0.0) for v in split.values()),
        "agg.direct_queries": direct,
        **sm,
        "jobs.run_sketches.wall_s": cli_s,
        "jobs.checkpoint.build_s": ckpt_build,
        "jobs.checkpoint.merge_s": ckpt_merge,
        "jobs.output_bytes": output_bytes,
        "spark.peak_rss_mb": rss,
        "trace.overhead_frac": (traced_total - untraced_total) / untraced_total,
    })
    return metrics


def traced_query(q, sc, tracer, tally: Tally, phase: str, check: bool = True):
    """One query with its layer split, each part under its own span and
    Spark job description (``<phase>`` for the call, ``scan``/``build``/
    ``merge``/``finalize`` for the split; CLI calls prefix them): the
    projected input and the partial build written to the noop sink; the
    merge and collect of the partials, materialized beforehand outside
    the span; for a functions-layer call, the collect of the DataFrame it
    returned; then the public call itself."""
    import layers

    noop = lambda df: df.write.format("noop").mode("overwrite").save()  # noqa: E731
    times = {"layer": q.layer, "scan_s": 0.0}
    with tracer.span("query", q.name):
        split_prefix = "" if phase == "query" else f"{phase}-"
        if q.scan is not None:
            layers.describe(sc, q.name, split_prefix + "scan")
            with tracer.span("spark.scan", q.name) as s:
                noop(q.scan())
            times["scan_s"] = s["end"] - s["start"]
        times["build_s"] = times["scan_s"]
        if q.build is not None:
            layers.describe(sc, q.name, split_prefix + "build")
            with tracer.span("agg.build", q.name) as s:
                noop(q.build())
            times["build_s"] = s["end"] - s["start"]
        if q.merge is not None:
            layers.describe(sc, q.name, split_prefix + "materialize")
            parts = q.build().localCheckpoint(eager=True)
            layers.describe(sc, q.name, split_prefix + "merge")
            with tracer.span(f"{q.layer}.merge_collect", q.name) as s:
                q.merge(parts)
            times["merge_s"] = s["end"] - s["start"]
        if q.result is not None:
            # a functions-layer call builds its answer on the driver, then
            # returns it as a DataFrame that the query collects
            layers.describe(sc, q.name, split_prefix + "materialize")
            out = q.result()
            layers.describe(sc, q.name, split_prefix + "finalize")
            with tracer.span(f"{q.layer}.finalize", q.name) as s:
                out.collect()
            times["finalize_s"] = s["end"] - s["start"]
        layers.describe(sc, q.name, phase)
        with tracer.span(f"{q.layer}.call", q.name) as s:
            _, answer = tally.run(q)
        times["call_s"] = s["end"] - s["start"]
    if check:
        tally.check(q, answer)
    return times, answer


def self_times(split: dict) -> dict:
    """Per-layer self time of one traced pass, from executions of each part
    on its own: the scan is ``spark.scan``; build minus scan is the feed
    plus the sketch kernels (``agg.build``); the merge and collect of
    materialized partials is ``<layer>.merge_collect``; the collect of a
    functions-layer call's returned DataFrame is ``functions.finalize``.
    No part is derived from the call time, so their sum is checked
    against the untraced call rather than equal to it by construction."""
    out: dict[str, float] = {}
    for v in split.values():
        # a direct build reads the files itself: Spark's scan is not on
        # its path, so the whole build is the agg layer's
        scan = 0.0 if v["direct"] else v["scan_s"]
        parts = {"spark.scan": scan, "agg.build": v["build_s"] - scan,
                 f"{v['layer']}.merge_collect": v["merge_s"],
                 "functions.finalize": v.get("finalize_s", 0.0)}
        for k, x in parts.items():
            out[k] = out.get(k, 0.0) + x
    return {"self_s": out, "self_sum_s": sum(out.values())}


def trace0_wall(name: str, seed: int) -> float | None:
    """Untraced wall time of one pass in the newest ``--trace 0`` run of
    this workload and seed, if one ran in this checkout: the sum over the
    queries of each query's median wall time."""
    runs = sorted((WORK / "runs").glob(run_file(name, seed, "*").name),
                  key=lambda f: f.stat().st_mtime)
    if not runs:
        return None
    wall = json.loads(runs[-1].read_text())["wall"]
    return sum(statistics.median(ts) for ts in wall.values())


def declared_metrics(trace: int) -> dict[str, str]:
    """name → unit of the metrics ``BENCHMARK.json`` declares for this mode."""
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    return {m["name"]: m["unit"] for m in bench["per_layer" if trace else "end_to_end"]}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True,
                    choices=["transcripts_classic", "lineitem_direct"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=20.0)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    prepare_env()
    try:
        import stream_lib_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: stream_lib_spark is not importable from {ROOT}: {e}",
              file=sys.stderr)
        return 2
    import inputs
    import workloads

    import layers

    tally = Tally()
    meter = layers.CpuMeter()
    try:
        d = inputs.ensure_table(session, args.seed, workloads.WORKLOADS[args.workload].table)
        if args.trace:
            metrics = traced_run(args.workload, d, args.seed, tally, meter)
        else:
            metrics = timed_run(args.workload, d, args.seed, args.seconds, tally, meter)
    finally:
        shutdown()
        meter.close()
    units = declared_metrics(args.trace)
    if set(metrics) != set(units):
        raise RuntimeError(f"measured metrics differ from BENCHMARK.json: "
                           f"{sorted(set(metrics) ^ set(units))}")
    for k, v in metrics.items():
        log(f"{k} = {v:.6g} {units[k]}")
    result = {
        "correct": tally.failed == 0,
        "attempted": tally.attempted,
        "failed": tally.failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }
    if tally.reasons:
        log("failures: " + "; ".join(tally.reasons))
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
