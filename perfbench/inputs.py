"""Seeded benchmark inputs, their layout checks and their exact answers.

Two tables, both a pure function of the seed and cached under
``perfbench/work/inputs/seed-<n>/`` (generation is never timed):

* ``transcripts`` — the north-star table from
  ``stream_lib_spark.transcripts.generate_transcripts(seed=<n>)``, written
  by Spark as ``TRANSCRIPT_FILES`` parquet files.
* ``lineitem`` — a TPC-H-shaped lineitem of ``LINEITEM_BASE_ROWS`` rows
  drawn with numpy, copied ``LINEITEM_COPIES`` times with every key shifted
  by ``KEY_SHIFT`` per copy, and written by pyarrow as ONE file with
  ``LINEITEM_ROW_GROUP``-row row groups: the single-file layout where the direct row-group
  read engages.

Exact answers are computed once per seed with pyarrow/numpy and stored in
``<table>_exact.npz`` next to the tables.  Probe items are hashed with Spark's own
``xxhash64`` so the driver can query the collected sketches.
"""

from __future__ import annotations

import json
import os
import shutil
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

WORK = Path(__file__).resolve().parent / "work"
INPUT_VERSION = 3
KEEP_SEEDS = 12  # cached seed directories kept on disk (newest first)

TRANSCRIPT_CONVS = 3_500
TRANSCRIPT_FILES = 8
LINEITEM_BASE_ROWS = 200_000
LINEITEM_COPIES = 10
LINEITEM_ROWS = LINEITEM_BASE_ROWS * LINEITEM_COPIES
LINEITEM_ROW_GROUP = 1 << 19  # 4 row groups: one direct-read task per core
LINEITEM_ROW_GROUPS = -(-LINEITEM_ROWS // LINEITEM_ROW_GROUP)
KEY_SHIFT = 1_000_000_000
ORDERS, PARTS, SUPPLIERS = 150_000, 20_000, 1_000

CMS_PROBES_TOP, CMS_PROBES_RANDOM, CMS_PROBES_ABSENT = 50, 150, 50
BLOOM_ABSENT = 50_000


def seed_dir(seed: int) -> Path:
    return WORK / "inputs" / f"v{INPUT_VERSION}-seed-{seed}"


def _prune(keep: Path) -> None:
    root = keep.parent
    dirs = sorted((d for d in root.iterdir() if d.is_dir() and d != keep),
                  key=lambda d: d.stat().st_mtime, reverse=True)
    for d in dirs[KEEP_SEEDS - 1:]:
        shutil.rmtree(d, ignore_errors=True)


def _spark_xxhash64(spark, values: np.ndarray, type_: str) -> np.ndarray:
    """Spark's xxhash64 of each value, in input order."""
    import pandas as pd
    from pyspark.sql import functions as F

    pdf = pd.DataFrame({"i": np.arange(len(values), dtype=np.int64), "v": values})
    df = spark.createDataFrame(pdf, schema=f"i long, v {type_}")
    out = df.select("i", F.xxhash64("v").alias("h")).toPandas().sort_values("i")
    return out["h"].to_numpy(dtype=np.int64)


# --------------------------------------------------------------- generation

def _write_transcripts(spark, path: Path, seed: int) -> None:
    from stream_lib_spark.transcripts import generate_transcripts

    (generate_transcripts(spark, n_convs=TRANSCRIPT_CONVS, seed=seed)
     .repartition(TRANSCRIPT_FILES, "conv_id")
     .write.mode("overwrite").parquet(str(path)))


def _lineitem_base(seed: int) -> dict:
    rng = np.random.default_rng([seed, 1])
    n = LINEITEM_BASE_ROWS
    return {
        "l_orderkey": rng.integers(0, ORDERS, n, dtype=np.int64),
        "l_partkey": rng.integers(0, PARTS, n, dtype=np.int64),
        "l_suppkey": rng.integers(0, SUPPLIERS, n, dtype=np.int64),
        "l_extendedprice": np.round(rng.uniform(900.0, 105_000.0, n), 2),
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n)],
    }


def _write_lineitem(base: dict, path: Path) -> None:
    shift = np.repeat(np.arange(LINEITEM_COPIES, dtype=np.int64) * KEY_SHIFT,
                      LINEITEM_BASE_ROWS)
    cols = {}
    for name, arr in base.items():
        tiled = np.tile(arr, LINEITEM_COPIES)
        cols[name] = tiled + shift if name in ("l_orderkey", "l_partkey", "l_suppkey") else tiled
    table = pa.table({
        "l_orderkey": pa.array(cols["l_orderkey"], pa.int64()),
        "l_partkey": pa.array(cols["l_partkey"], pa.int64()),
        "l_suppkey": pa.array(cols["l_suppkey"], pa.int64()),
        "l_extendedprice": pa.array(cols["l_extendedprice"], pa.float64()),
        "l_returnflag": pa.array(cols["l_returnflag"], pa.string()),
    })
    path.mkdir(parents=True, exist_ok=True)
    tmp = path / "part-0.parquet.tmp"
    pq.write_table(table, tmp, row_group_size=LINEITEM_ROW_GROUP)
    os.replace(tmp, path / "part-0.parquet")


# ------------------------------------------------------------ exact answers

def _probe_counts(values: pa.Array, rng, absent: np.ndarray):
    """Top, random-present and absent probe items with exact counts."""
    vc = pc.value_counts(values)
    items = vc.field("values").to_numpy(zero_copy_only=False)
    counts = vc.field("counts").to_numpy()
    order = np.argsort(-counts, kind="stable")
    top = order[:CMS_PROBES_TOP]
    rest = rng.choice(order[CMS_PROBES_TOP:], CMS_PROBES_RANDOM, replace=False)
    pick = np.concatenate([top, rest])
    probes = np.concatenate([items[pick], absent])
    exact = np.concatenate([counts[pick], np.zeros(len(absent), dtype=np.int64)])
    return probes, exact


def _transcript_exact(spark, path: Path, seed: int) -> dict:
    import pandas as pd

    t = pq.read_table(str(path), columns=["conv_id", "turn_idx", "text", "tool", "ts"])
    rng = np.random.default_rng([seed, 2])
    text = t.column("text").combine_chunks()
    text_probes, text_exact = _probe_counts(
        text.drop_null(), rng,
        np.array([f"absent text {i}" for i in range(CMS_PROBES_ABSENT)], dtype=object))
    convs = pc.unique(t.column("conv_id")).to_numpy(zero_copy_only=False)
    absent_convs = np.array([f"absent-conv-{i}" for i in range(BLOOM_ABSENT)], dtype=object)

    ts = t.column("ts")
    ts_us = ts.cast(pa.timestamp("us", tz=ts.type.tz)).cast(pa.int64())
    pdf = t.select(["conv_id", "turn_idx", "tool"]).to_pandas()
    pdf["us"] = ts_us.to_numpy()
    pdf = pdf.sort_values(["conv_id", "turn_idx"], kind="stable")
    us = pdf["us"].to_numpy()
    same = pdf["conv_id"].to_numpy()[1:] == pdf["conv_id"].to_numpy()[:-1]
    latencies = np.sort((us[1:] - us[:-1])[same] / 1e6)

    by_tool = pdf.groupby("tool", dropna=False)["conv_id"].nunique()
    tools = pc.value_counts(t.column("tool").drop_null())
    return {
        "rows": np.int64(t.num_rows),
        "distinct_conv": np.int64(len(convs)),
        "text_n": np.int64(len(text) - text.null_count),
        "text_probe_hash": _spark_xxhash64(spark, text_probes, "string"),
        "text_probe_exact": text_exact,
        "conv_hash": _spark_xxhash64(spark, convs, "string"),
        "absent_conv_hash": _spark_xxhash64(spark, absent_convs, "string"),
        "latency_sorted": latencies,
        "tool_keys": np.array(["" if pd.isna(k) else k for k in by_tool.index], dtype=object),
        "tool_key_null": np.array([pd.isna(k) for k in by_tool.index]),
        "tool_distinct_conv": by_tool.to_numpy(dtype=np.int64),
        "topk_items": tools.field("values").to_numpy(zero_copy_only=False),
        "topk_counts": tools.field("counts").to_numpy(),
    }


def _lineitem_exact(spark, base: dict, seed: int) -> dict:
    """Exact answers for the whole table and per ``l_returnflag``.

    Every shifted copy repeats the base rows, so each answer follows from
    the base: counts per shifted key are the base counts, distinct counts
    scale by the copy count, and rank fractions are unchanged."""
    rng = np.random.default_rng([seed, 3])
    copies = LINEITEM_COPIES
    part_probes, _ = _probe_counts(
        pa.array(base["l_partkey"]), rng,
        np.arange(CMS_PROBES_ABSENT, dtype=np.int64) + KEY_SHIFT // 2)
    part_probes = part_probes.astype(np.int64)
    shifted_probes = part_probes + KEY_SHIFT * rng.integers(0, copies, len(part_probes))
    absent_supp = np.arange(BLOOM_ABSENT, dtype=np.int64) + KEY_SHIFT // 2

    def members(base_keys):
        u = np.unique(base_keys)
        return (u[None, :] + KEY_SHIFT * np.arange(copies)[:, None]).ravel()

    out = {
        "rows": np.int64(LINEITEM_ROWS),
        "partkey_probe_hash": _spark_xxhash64(spark, shifted_probes, "long"),
        "absent_supp_hash": _spark_xxhash64(spark, absent_supp, "long"),
    }
    flags = np.unique(base["l_returnflag"])
    out["flag_keys"] = flags.astype(object)
    # group "" = the whole table; then one group per return flag
    for g, mask in [("", None)] + [(f"_{f}", base["l_returnflag"] == f) for f in flags]:
        sel = (lambda a: a) if mask is None else (lambda a, m=mask: a[m])
        part = sel(base["l_partkey"])
        supp = members(sel(base["l_suppkey"]))
        exact = np.zeros(len(part_probes), dtype=np.int64)
        pu, pc_ = np.unique(part, return_counts=True)
        idx = np.searchsorted(pu, part_probes)
        hit = (idx < len(pu)) & (pu[np.minimum(idx, len(pu) - 1)] == part_probes)
        exact[hit] = pc_[idx[hit]]
        out[f"n{g}"] = np.int64(len(part) * copies)
        out[f"distinct_orderkey{g}"] = np.int64(len(np.unique(sel(base["l_orderkey"]))) * copies)
        out[f"partkey_probe_exact{g}"] = exact
        out[f"supp_hash{g}"] = _spark_xxhash64(spark, supp, "long")
        out[f"price_sorted{g}"] = np.sort(sel(base["l_extendedprice"]))
    return out


# ------------------------------------------------------------------- public

def ensure_table(make_spark, seed: int, table: str) -> Path:
    """Generate (once per seed) one table and its exact answers; return
    the seed's cache directory.  ``make_spark`` is called for a session
    only when the table is not cached yet."""
    d = seed_dir(seed)
    done = d / f"{table}.done"
    if done.exists():
        os.utime(d)
        return d
    spark = make_spark()
    d.mkdir(parents=True, exist_ok=True)
    _prune(d)
    shutil.rmtree(d / table, ignore_errors=True)
    if table == "transcripts":
        _write_transcripts(spark, d / table, seed)
        exact = _transcript_exact(spark, d / table, seed)
    else:
        base = _lineitem_base(seed)
        _write_lineitem(base, d / table)
        exact = _lineitem_exact(spark, base, seed)
    np.savez(d / f"{table}_exact.npz", **exact)
    done.write_text(json.dumps({"seed": seed, "version": INPUT_VERSION}))
    return d


def load_exact(d: Path, table: str) -> dict:
    with np.load(d / f"{table}_exact.npz", allow_pickle=True) as z:
        return {k: z[k] for k in z.files}


def check_layout(d: Path, table: str, exact_rows: int) -> dict:
    """File count, row-group count and row count of a cached table; raise
    if it drifted from the layout the workload is defined on."""
    files = sorted((d / table).glob("*.parquet"))
    metas = [pq.ParquetFile(f).metadata for f in files]
    layout = {"files": len(files),
              "row_groups": sum(m.num_row_groups for m in metas),
              "rows": sum(m.num_rows for m in metas)}
    if table == "lineitem":
        want = {"files": 1, "row_groups": LINEITEM_ROW_GROUPS, "rows": LINEITEM_ROWS}
    else:
        want = {"files": TRANSCRIPT_FILES, "row_groups": layout["row_groups"],
                "rows": int(exact_rows)}
        if layout["row_groups"] < TRANSCRIPT_FILES:
            want["row_groups"] = f">={TRANSCRIPT_FILES}"
    if layout != want:
        raise RuntimeError(f"{table} layout {layout} != expected {want}")
    return layout
