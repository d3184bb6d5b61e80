"""The workloads: their queries through the library's public API,
and the error contract each answer is checked against.

A query's ``run`` is the timed public call; it returns the answer on the
driver (or, for the CLI, after the output is written).  ``check`` runs
outside the timed region and returns ``None`` when the answer is inside
its published contract, else the reason it is not.
"""

from __future__ import annotations

import contextlib
import io
import json
import math
import shutil
from dataclasses import dataclass
from pathlib import Path
from typing import Callable

import numpy as np

from stream_lib_spark.agg import (SketchSpec, collect_sketch, merge_partials,
                                  multi_sketch_agg, sketch_agg, sketch_from_bytes,
                                  sketch_partials)
from stream_lib_spark.functions import approx_quantiles, approx_topk
from stream_lib_spark.jobs import run_sketches
from stream_lib_spark.jobs.checkpoint import CheckpointedSketchJob
from stream_lib_spark.sketches.bloom import analytic_fpp
from stream_lib_spark.transcripts import turn_latencies

import inputs

QS = (0.01, 0.05, 0.25, 0.5, 0.75, 0.95, 0.99)
RANK_ERROR = 0.015
BLOOM_FPP_SLACK = 0.01
HLL_SIGMAS = 3.0
TOPK_K = 10

# Every sketch parameter of the benchmark is set here once.  TDIGEST and
# KLL are the specs ``approx_quantiles`` builds, TOPK the one
# ``approx_topk(col, TOPK_K)`` builds.
HLL = SketchSpec("hll", p=14)
HLL_KEYED = SketchSpec("hll", p=12)
CMS = SketchSpec("cms", eps=1e-4, confidence=0.99)
TDIGEST = SketchSpec("tdigest", compression=100.0)
KLL = SketchSpec("kll", k=200)
TOPK = SketchSpec("spacesaving", capacity=max(4 * TOPK_K, 64))


@dataclass
class Query:
    name: str
    rows: int                         # input rows the query sketches
    run: Callable[[], object]         # timed public call → answer
    check: Callable[[object], str | None]
    spec: SketchSpec | None = None    # the sketch it builds (None: several)
    layer: str = "agg"                # library layer the public call enters
    build: Callable[[], object] | None = None   # partials DataFrame (agg.build_s)
    scan: Callable[[], object] | None = None    # projected input (agg.scan_s)
    merge: Callable[[object], object] | None = None  # partials → answer on the driver
    result: Callable[[], object] | None = None  # the function's DataFrame, before its collect


@dataclass
class Workload:
    name: str
    queries: list[Query]
    expect_direct: bool               # every query takes the direct read, or none does
    table: str                        # the cached input table it reads

    def kernel_specs(self) -> dict:
        """One spec per sketch kind for the kernel bench: the first query's
        of that kind, so the kernels run with the workload's parameters."""
        specs = {"spacesaving": TOPK}
        for q in reversed(self.queries):
            specs[q.spec.kind] = q.spec
        return specs


# ------------------------------------------------------------------ checks

def check_hll(est: float, n: int, p: int) -> str | None:
    sigma = n * 1.04 / math.sqrt(2 ** p)
    if abs(est - n) > HLL_SIGMAS * sigma:
        return f"hll {est:.1f} vs exact {n} (3 sigma = {HLL_SIGMAS * sigma:.1f})"
    return None


def check_cms(sk, probe_hash, exact, n_total: int) -> str | None:
    if sk.size != n_total:
        return f"cms size {sk.size} != rows {n_total}"
    est = sk.estimate_hashed(probe_hash)
    if (est < exact).any():
        return "cms undercounts"
    misses = int((est - exact > sk.eps * n_total).sum())
    allowed = math.ceil((1.0 - sk.confidence) * len(exact))
    if misses > allowed:
        return f"cms {misses} probes over eps*N (allowed {allowed})"
    return None


def check_bloom(bf, member_hash, absent_hash) -> str | None:
    if not bf.contains_hashed(member_hash).all():
        return "bloom false negative"
    fp = float(bf.contains_hashed(absent_hash).mean())
    want = analytic_fpp(bf.m_bits, bf.k, len(member_hash))
    if abs(fp - want) > BLOOM_FPP_SLACK:
        return f"bloom fp rate {fp:.4f} vs analytic {want:.4f}"
    return None


def check_quantiles(est, sorted_exact) -> str | None:
    n = len(sorted_exact)
    for q, x in zip(QS, est):
        lo = np.searchsorted(sorted_exact, x, "left") / n
        hi = np.searchsorted(sorted_exact, x, "right") / n
        err = 0.0 if lo <= q <= hi else min(abs(q - lo), abs(q - hi))
        if err >= RANK_ERROR:
            return f"q{q}: rank error {err:.4f} of estimate {x}"
    return None


def check_topk(rows, items, counts, capacity: int) -> str | None:
    got = {r[0] for r in rows}
    n = int(counts.sum())
    kth = np.sort(counts)[::-1][TOPK_K] if len(counts) > TOPK_K else -1
    heavy = {i for i, c in zip(items, counts) if c > n / capacity and c > kth}
    missing = heavy - got
    return f"top-k misses heavy hitters {sorted(missing)}" if missing else None


def first(*reasons):
    return next((r for r in reasons if r), None)


# --------------------------------------------------------------- workloads

def _global(df, col, spec):
    return lambda: collect_sketch(sketch_agg(df, [], col, spec))


def _keyed_rows(df, key, col, spec):
    return lambda: sketch_agg(df, [key], col, spec).collect()


def _quantiles(df, col, kind):
    return lambda: list(approx_quantiles(df, col, list(QS), kind=kind).collect()[0])


def _quantiles_df(df, col, kind):
    return lambda: approx_quantiles(df, col, list(QS), kind=kind)


def _merge(keys, spec):
    """The query's tail on its own: merge materialized partials and bring
    the merged sketch (global) or rows (keyed) to the driver."""
    if keys:
        return lambda parts: merge_partials(parts, keys, spec).collect()
    return lambda parts: collect_sketch(merge_partials(parts, [], spec))


def _keyed_hll_check(key_of, truth: dict, p: int):
    def check(rows):
        got = {key_of(r[0]): sketch_from_bytes(bytes(r[1])).cardinality() for r in rows}
        if set(got) != set(truth):
            return f"keyed groups {sorted(map(str, got))[:5]}... != exact"
        return first(*(check_hll(got[k], n, p) for k, n in truth.items()))
    return check


def transcripts_classic(spark, d: Path) -> Workload:
    ex = inputs.load_exact(d, "transcripts")
    tr = spark.read.parquet(str(d / "transcripts"))
    lat = turn_latencies(tr)
    rows = int(ex["rows"])
    bloom = SketchSpec("bloom", n_elements=inputs.TRANSCRIPT_CONVS, fpp=0.01)
    tool_truth = {(None if null else k): int(n) for k, null, n in zip(
        ex["tool_keys"], ex["tool_key_null"], ex["tool_distinct_conv"])}

    def q(name, run, check, col, keys=(), spec=None, src=tr, layer="agg", result=None):
        keys = list(keys)
        return Query(name, rows, run, check, spec=spec, layer=layer,
                     build=lambda: sketch_partials(src, keys, col, spec),
                     scan=lambda: src.select(*keys, col), merge=_merge(keys, spec),
                     result=result)

    queries = [
        q("hll_conv", _global(tr, "conv_id", HLL),
          lambda sk: check_hll(sk.cardinality(), int(ex["distinct_conv"]),
                               HLL.params["p"]),
          "conv_id", spec=HLL),
        q("cms_text", _global(tr, "text", CMS),
          lambda sk: check_cms(sk, ex["text_probe_hash"], ex["text_probe_exact"],
                               int(ex["text_n"])),
          "text", spec=CMS),
        q("bloom_conv", _global(tr, "conv_id", bloom),
          lambda bf: check_bloom(bf, ex["conv_hash"], ex["absent_conv_hash"]),
          "conv_id", spec=bloom),
        q("tdigest_latency", _quantiles(lat, "latency_s", "tdigest"),
          lambda est: check_quantiles(est, ex["latency_sorted"]),
          "latency_s", spec=TDIGEST, src=lat, layer="functions",
          result=_quantiles_df(lat, "latency_s", "tdigest")),
        q("kll_latency", _quantiles(lat, "latency_s", "kll"),
          lambda est: check_quantiles(est, ex["latency_sorted"]),
          "latency_s", spec=KLL, src=lat, layer="functions",
          result=_quantiles_df(lat, "latency_s", "kll")),
        q("hll_conv_by_tool", _keyed_rows(tr, "tool", "conv_id", HLL_KEYED),
          _keyed_hll_check(lambda k: k, tool_truth, HLL_KEYED.params["p"]),
          "conv_id", keys=["tool"], spec=HLL_KEYED),
        q("topk_tool", lambda: approx_topk(tr, "tool", TOPK_K).collect(),
          lambda rs: check_topk(rs, ex["topk_items"], ex["topk_counts"],
                                TOPK.params["capacity"]),
          "tool", spec=TOPK, layer="functions",
          result=lambda: approx_topk(tr, "tool", TOPK_K)),
    ]
    return Workload("transcripts_classic", queries, expect_direct=False,
                    table="transcripts")


def _lineitem_checks(ex, g: str = "") -> dict:
    """Contract checks per sketch column of a lineitem result row; ``g``
    selects the exact answers of one return-flag group."""
    return {
        "hll": lambda sk: check_hll(sk.cardinality(), int(ex[f"distinct_orderkey{g}"]),
                                    HLL.params["p"]),
        "cms": lambda sk: check_cms(sk, ex["partkey_probe_hash"],
                                    ex[f"partkey_probe_exact{g}"], int(ex[f"n{g}"])),
        "bloom": lambda bf: check_bloom(bf, ex[f"supp_hash{g}"], ex["absent_supp_hash"]),
        "tdigest": lambda sk: check_quantiles([sk.quantile(q) for q in QS],
                                              ex[f"price_sorted{g}"]),
        "kll": lambda sk: check_quantiles([sk.quantile(q) for q in QS],
                                          ex[f"price_sorted{g}"]),
    }


LINEITEM_OPS = {  # kind → (column, spec)
    "hll": ("l_orderkey", HLL),
    "cms": ("l_partkey", CMS),
    "bloom": ("l_suppkey",
              SketchSpec("bloom", n_elements=inputs.SUPPLIERS * inputs.LINEITEM_COPIES,
                         fpp=0.01)),
    "tdigest": ("l_extendedprice", TDIGEST),
    "kll": ("l_extendedprice", KLL),
}


def cli_op(col: str, spec: SketchSpec) -> str:
    """The CLI's ``kind:column:k=v,...`` form of a spec."""
    return f"{spec.kind}:{col}:" + ",".join(f"{k}={v}" for k, v in spec.params.items())


def lineitem_direct(spark, d: Path) -> Workload:
    ex = inputs.load_exact(d, "lineitem")
    li = spark.read.parquet(str(d / "lineitem"))
    rows = int(ex["rows"])
    checks = _lineitem_checks(ex)

    def q(name, run, check, col, spec, keys=(), layer="agg", result=None):
        keys = list(keys)
        return Query(name, rows, run, check, spec=spec, layer=layer,
                     build=lambda: sketch_partials(li, keys, col, spec),
                     scan=lambda: li.select(*keys, col), merge=_merge(keys, spec),
                     result=result)

    queries = []
    for kind in ("hll", "cms", "bloom"):
        col, spec = LINEITEM_OPS[kind]
        queries.append(q(f"{kind}_{col[2:]}", _global(li, col, spec), checks[kind], col, spec))
    for kind in ("tdigest", "kll"):
        col, spec = LINEITEM_OPS[kind]
        queries.append(q(f"{kind}_price", _quantiles(li, col, kind),
                         lambda est: check_quantiles(est, ex["price_sorted"]),
                         col, spec, layer="functions", result=_quantiles_df(li, col, kind)))
    flag_truth = {str(f): int(ex[f"distinct_orderkey_{f}"]) for f in ex["flag_keys"]}
    queries.append(q("hll_orderkey_by_flag",
                     _keyed_rows(li, "l_returnflag", "l_orderkey", HLL_KEYED),
                     _keyed_hll_check(str, flag_truth, HLL_KEYED.params["p"]),
                     "l_orderkey", HLL_KEYED, keys=["l_returnflag"]))
    return Workload("lineitem_direct", queries, expect_direct=True, table="lineitem")


class CliRun:
    """One in-process ``run_sketches.main(argv)`` call into a fresh output
    directory.  The CLI prints its own JSON record; it is captured so the
    benchmark's result stays the last line of standard output."""

    def __init__(self, spark, out_root: Path, argv: list[str]):
        self.spark, self.out_root, self.argv = spark, out_root, argv
        self.n = 0

    def __call__(self):
        self.n += 1
        out = self.out_root / f"call-{self.n}"
        argv = self.argv + ["--output", str(out / "result")]
        if "--checkpoint-dir" in argv:
            argv[argv.index("--checkpoint-dir") + 1] = str(out / "ckpt")
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            run_sketches.main(argv)
        record = json.loads(buf.getvalue().strip().splitlines()[-1])
        result = self.spark.read.parquet(str(out / "result")).collect()
        return record, result, out


def _cli(spark, name, argv, check, rows, cpus, out_root, build=None, scan=None):
    def check_and_clean(answer):
        try:
            return check(answer)
        finally:
            shutil.rmtree(answer[2], ignore_errors=True)

    run = CliRun(spark, out_root / name, ["--cpus", str(cpus), "--ops"] + argv)
    return Query(name, rows, run, check_and_clean, layer="jobs", build=build, scan=scan)


def lineitem_cli(spark, d: Path, cpus: int, out_root: Path) -> list[Query]:
    """The five lineitem ops through the CLI, global and keyed by
    ``l_returnflag``: many sketches in one scan via ``multi_sketch_agg``,
    results written instead of collected."""
    ex = inputs.load_exact(d, "lineitem")
    path = str(d / "lineitem")
    li = spark.read.parquet(path)
    ops = [cli_op(c, s) for c, s in LINEITEM_OPS.values()]
    sketches = {f"{k}_{c}": (c, s) for k, (c, s) in LINEITEM_OPS.items()}
    cols = sorted({c for c, _ in sketches.values()})

    def check_row(row, checks):
        return first(*(checks[k](sketch_from_bytes(bytes(row[f"{k}_{LINEITEM_OPS[k][0]}"])))
                       for k in LINEITEM_OPS))

    def check_global(answer):
        record, result, _ = answer
        if record["rows"] != inputs.LINEITEM_ROWS or len(result) != 1:
            return f"cli global: rows {record['rows']}, {len(result)} result rows"
        return check_row(result[0], _lineitem_checks(ex))

    def check_keyed(answer):
        _, result, _ = answer
        if sorted(r["l_returnflag"] for r in result) != sorted(map(str, ex["flag_keys"])):
            return "cli keyed: wrong key groups"
        return first(*(check_row(r, _lineitem_checks(ex, f"_{r['l_returnflag']}"))
                       for r in result))

    return [
        _cli(spark, "cli_global", ops + ["--input", path], check_global,
             inputs.LINEITEM_ROWS, cpus, out_root,
             build=lambda: multi_sketch_agg(li, sketches), scan=lambda: li.select(*cols)),
        _cli(spark, "cli_keyed", ops + ["--keys", "l_returnflag", "--input", path],
             check_keyed, inputs.LINEITEM_ROWS, cpus, out_root,
             build=lambda: multi_sketch_agg(li, sketches, keys=["l_returnflag"]),
             scan=lambda: li.select("l_returnflag", *cols)),
    ]


def transcripts_cli(spark, d: Path, cpus: int, out_root: Path) -> list[Query]:
    """A resumable ``--checkpoint-dir`` CLI run over the transcripts into a
    fresh directory: lineage buckets, partials and metrics written."""
    ex = inputs.load_exact(d, "transcripts")
    path = str(d / "transcripts")
    tr = spark.read.parquet(path)

    def check(answer):
        _, result, out = answer
        if len(result) != 1 or result[0]["rows_seen"] != int(ex["rows"]):
            return "cli checkpoint: wrong rows_seen"
        if not (out / "result_metrics" / "hll_conv_id" / "_SUCCESS").exists():
            return "cli checkpoint: no lineage metrics written"
        sk = sketch_from_bytes(bytes(result[0]["hll_conv_id"]))
        return check_hll(sk.cardinality(), int(ex["distinct_conv"]), HLL.params["p"])

    return [_cli(spark, "cli_checkpoint",
                 [cli_op("conv_id", HLL), "--input", path, "--checkpoint-dir", "<fresh>"],
                 check, int(ex["rows"]), cpus, out_root, scan=lambda: tr.select("conv_id"))]


def checkpoint_job(spark, ckpt_dir: Path, col: str) -> CheckpointedSketchJob:
    """A checkpointed hll build, for timing its two phases apart."""
    return CheckpointedSketchJob(spark=spark, spec=HLL, col=col, keys=[],
                                 checkpoint_dir=str(ckpt_dir), snapshot_id="perfbench")


@dataclass(frozen=True)
class WorkloadSpec:
    table: str                 # cached input table
    make: Callable             # (spark, dir) → Workload
    make_cli: Callable         # (spark, dir, cpus, out_root) → CLI calls of the traced run
    checkpoint_col: str        # column of the traced checkpointed build


WORKLOADS = {
    "transcripts_classic": WorkloadSpec("transcripts", transcripts_classic,
                                        transcripts_cli, "conv_id"),
    "lineitem_direct": WorkloadSpec("lineitem", lineitem_direct, lineitem_cli,
                                    "l_orderkey"),
}


# ---------------------------------------------------------- kernel inputs

def kernel_inputs(spark, d: Path, workload: str, seed: int):
    """Arrays for the in-process kernel bench, and, per monoid kind, the
    query whose answer is Spark's merged state of the whole input with the
    full-input hashes that state was built from."""
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from stream_lib_spark.hashing import xxhash64_long

    if workload == "transcripts_classic":
        ex = inputs.load_exact(d, "transcripts")
        t = pq.read_table(str(d / "transcripts"), columns=["conv_id", "turn_idx", "tool"])
        tr = spark.read.parquet(str(d / "transcripts"))
        hashes = tr.select(F.xxhash64("conv_id").alias("h"),
                           F.xxhash64("text").alias("t")).toPandas()
        rng = np.random.default_rng([seed, 4])
        arrays = {
            "hash": hashes["h"].to_numpy(np.int64),
            "value": rng.permutation(ex["latency_sorted"]),
            "item": t.column("tool").drop_null().to_numpy(zero_copy_only=False),
            "long": t.column("turn_idx").to_numpy().astype(np.int64),
            "strings": t.column("conv_id").combine_chunks(),
        }
        identity = {"hll": ("hll_conv", arrays["hash"]),
                    "cms": ("cms_text", hashes["t"].to_numpy(np.int64)),
                    "bloom": ("bloom_conv", arrays["hash"])}
        return arrays, identity
    t = pq.read_table(str(d / "lineitem"))
    arrays = {
        "hash": xxhash64_long(t.column("l_orderkey").to_numpy()),
        "value": t.column("l_extendedprice").to_numpy(),
        "item": t.column("l_partkey").to_numpy(),
        "long": t.column("l_orderkey").to_numpy(),
        "strings": t.column("l_returnflag").combine_chunks(),
    }
    identity = {"hll": ("hll_orderkey", arrays["hash"]),
                "cms": ("cms_partkey", xxhash64_long(t.column("l_partkey").to_numpy())),
                "bloom": ("bloom_suppkey", xxhash64_long(t.column("l_suppkey").to_numpy()))}
    return arrays, identity
