"""Spark aggregation layer: sketch states as distributed aggregates.

Topology (the reference's advertised map-reduce contract,
``quantile/TDigest.java:48``, made explicit):

1. **partial** — ``mapInPandas`` over each input partition: vectorized
   numpy update of one sketch per (grouping key) per partition, emitted
   as a single BinaryType row per key.  This is the map-side combine:
   the shuffle moves O(partitions × keys) sketch blobs, never rows.
2. **(optional) fan-in** — for global aggregates over many partitions,
   an intermediate ``groupBy(pmod(partial_id, fan_in))`` merge level
   bounds reduce-side state (SURVEY.md §4 item 2).
3. **merge** — ``groupBy(keys).applyInPandas``: fold partials with the
   sketch's monoid merge.
4. **finalize** — estimate/quantile/top-k, driver-side or via UDF.

Hashing happens **JVM-side** (``F.xxhash64``, whole-stage codegen) by
default, so the Python worker only ever sees int64 hashes / float64
values through Arrow — no per-row Python anywhere.  A murmur64 mode
(``hash_mode='murmur64'``) hashes in numpy for bit-parity with the
reference's MurmurHash64A dispatch (``hash/MurmurHash.java:135-217``).

Skew: value-skew in the data (hot conv_id/tool values) is absorbed by
step 1 — every input partition contributes at most one partial per key,
so a key seen in every row still produces only #partitions blobs.
``salted_split`` is provided for the *exact* aggregation paths (oracle
queries, top-k reconciliation) where Spark's groupBy would shuffle raw
rows.
"""

from __future__ import annotations

import os
import urllib.parse
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F, types as T

import pyarrow as pa

from .hashing import murmur64a_array, murmur64a_chunked, xxhash64_long
from .sketches.base import (
    KIND_BLOOM,
    KIND_CMS,
    KIND_HLLPP,
    KIND_KLL,
    KIND_LINEARCOUNTING,
    KIND_LOGLOG,
    KIND_SPACESAVING,
    KIND_TDIGEST,
    unpack_header,
)
from .sketches.bloom import BloomFilter
from .sketches.bottomk import KIND_BOTTOMK, BottomKSample
from .sketches.cms import CountMinSketch
from .sketches.countthenestimate import KIND_CTE, CountThenEstimate
from .sketches.hll import HllPlusPlus
from .sketches.kll import KLL
from .sketches.linear import LinearCounting, LogLog
from .sketches.qdigest import KIND_QDIGEST, QDigest
from .sketches.reference_family import (
    KIND_ALC_REF,
    KIND_BLOOM_REF,
    KIND_CMS_REF,
    KIND_CTE_REF,
    KIND_HLLC_REF,
    KIND_LC_REF,
    KIND_LOGLOG_REF,
    ReferenceFamilyAdaptiveCounting,
    ReferenceFamilyBloom,
    ReferenceFamilyCMS,
    ReferenceFamilyCTE,
    ReferenceFamilyHLLClassic,
    ReferenceFamilyLC,
    ReferenceFamilyLogLog,
)
from .sketches.spacesaving import SpaceSaving
from .sketches.tdigest import TDigest

STATE_COL = "sketch"

_KIND_TO_CLS = {
    KIND_HLLPP: HllPlusPlus,
    KIND_CMS: CountMinSketch,
    KIND_TDIGEST: TDigest,
    KIND_KLL: KLL,
    KIND_BLOOM: BloomFilter,
    KIND_SPACESAVING: SpaceSaving,
    KIND_LINEARCOUNTING: LinearCounting,
    KIND_LOGLOG: LogLog,
    KIND_CTE: CountThenEstimate,
    KIND_BOTTOMK: BottomKSample,
    KIND_QDIGEST: QDigest,
    KIND_CMS_REF: ReferenceFamilyCMS,
    KIND_BLOOM_REF: ReferenceFamilyBloom,
    KIND_LC_REF: ReferenceFamilyLC,
    KIND_LOGLOG_REF: ReferenceFamilyLogLog,
    KIND_ALC_REF: ReferenceFamilyAdaptiveCounting,
    KIND_CTE_REF: ReferenceFamilyCTE,
    KIND_HLLC_REF: ReferenceFamilyHLLClassic,
}


def sketch_from_bytes(blob: bytes):
    _, kind = unpack_header(blob)
    return _KIND_TO_CLS[kind].from_bytes(blob)


class SketchSpec:
    """Declarative sketch constructor shipped to executors (picklable;
    equivalent of the reference's IBuilder, ``util/IBuilder.java``).

    kind: 'hll' | 'cms' | 'tdigest' | 'kll' | 'qdigest' | 'bloom' |
          'spacesaving' | 'linearcounting' | 'loglog' |
          'countthenestimate' | 'bottomk'
    input: 'hash' (64-bit hash of item) | 'value' (float64) |
           'ivalue' (non-negative int64) | 'item' (raw string)
    """

    _FACTORIES = {
        "hll": (lambda p: HllPlusPlus(**p), "hash"),
        "cms": (lambda p: CountMinSketch.from_accuracy(**p) if "eps" in p else CountMinSketch(**p), "hash"),
        "tdigest": (lambda p: TDigest(**p), "value"),
        "kll": (lambda p: KLL(**p), "value"),
        "bloom": (lambda p: BloomFilter.for_capacity(**p) if "fpp" in p else BloomFilter(**p), "hash"),
        "spacesaving": (lambda p: SpaceSaving(**p), "item"),
        "linearcounting": (lambda p: LinearCounting.for_cardinality(**p) if "max_n" in p else LinearCounting(**p), "hash"),
        "loglog": (lambda p: LogLog(**p), "hash"),
        "countthenestimate": (lambda p: CountThenEstimate(**p), "hash"),
        "bottomk": (lambda p: BottomKSample(**p), "item"),
        "qdigest": (lambda p: QDigest(**p), "ivalue"),
    }

    def __init__(self, kind: str, **params):
        if kind not in self._FACTORIES and kind != "hllc":
            # 'hllc' (the reference's classic HyperLogLog class) exists
            # only as a reference-family build; native classic-HLL shape
            # is SketchSpec('hll', sp=0, estimator='classic')
            raise ValueError(f"unknown sketch kind {kind!r}")
        if kind == "hllc" and params.get("hash_family") != "reference":
            raise ValueError("kind 'hllc' requires hash_family='reference'")
        self.kind = kind
        self.params = params
        if params.get("hash_family", None) not in (None, "reference"):
            raise ValueError("hash_family must be 'reference' (or omitted)")
        if self.reference_family and kind not in (
            "cms", "bloom", "linearcounting", "loglog", "countthenestimate",
            "hllc"
        ):
            raise ValueError(f"hash_family='reference' unsupported for {kind!r}")

    @property
    def reference_family(self) -> bool:
        """True = build with the JVM stream-lib hash family (cms, bloom,
        linearcounting, loglog[, adaptive]) so the state is
        reference-wire exportable AND JVM-compatible for continued
        updates / cross-system unions; items flow RAW (string or long),
        never pre-hashed."""
        return self.params.get("hash_family") == "reference"

    @property
    def input_mode(self) -> str:
        if self.reference_family:
            return "ivalue" if self.params.get("item_type") == "long" else "item"
        return self._FACTORIES[self.kind][1]

    def new(self):
        if self.reference_family:
            p = {k: v for k, v in self.params.items() if k != "hash_family"}
            if self.kind == "cms":
                return ReferenceFamilyCMS(**p)
            if self.kind == "bloom":
                return ReferenceFamilyBloom(**p)
            if self.kind == "linearcounting":
                return ReferenceFamilyLC(**p)
            if self.kind == "countthenestimate":
                return ReferenceFamilyCTE(**p)
            if self.kind == "hllc":
                return ReferenceFamilyHLLClassic(**p)
            if p.pop("adaptive", False):
                return ReferenceFamilyAdaptiveCounting(**p)
            return ReferenceFamilyLogLog(**p)
        return self._FACTORIES[self.kind][0](self.params)

    def update(self, sk, arr: np.ndarray, counts: np.ndarray | None = None):
        mode = self.input_mode
        if self.reference_family:
            if counts is None:
                if mode == "ivalue":
                    arr, counts = np.unique(arr.astype(np.int64, copy=False),
                                            return_counts=True)
                else:
                    counts = np.ones(len(arr), dtype=np.int64)
            sk.update_batch(arr, counts)
            return sk
        if mode == "hash":
            sk.update_hashed(arr) if self.kind != "bloom" else sk.add_hashed(arr)
        elif mode == "value":
            sk.add_values(arr)
        elif mode == "ivalue":  # non-negative ints folded as exact counts
            if counts is not None:
                sk.update_batch(arr.astype(np.int64, copy=False), counts)
            else:
                u, c = np.unique(arr.astype(np.int64, copy=False), return_counts=True)
                sk.update_batch(u, c)
        else:  # item: arr = items, counts = exact in-batch frequencies
            sk.update_batch(arr, counts if counts is not None else np.ones(len(arr), dtype=np.int64))
        return sk


def _prepare_input(df: DataFrame, keys: list[str], col: str, spec: SketchSpec,
                   hash_mode: str = "xxhash64") -> tuple[DataFrame, bool]:
    """Project to (keys..., __in) with JVM-side hashing / casting where
    possible.  Returns (df, python_hash) — python_hash=True means the
    Python side must murmur-hash the raw items itself."""
    mode = spec.input_mode
    kc = [F.col(k) for k in keys]
    df = df.where(F.col(col).isNotNull())  # offer(null) is a no-op; also
    # keeps xxhash64(NULL)==seed from polluting the hash domain
    if mode == "hash":
        if hash_mode == "xxhash64":
            return df.select(*kc, F.xxhash64(F.col(col)).alias("__in")), False
        # murmur parity mode: ship raw strings, hash vectorized in numpy
        return df.select(*kc, F.col(col).cast("string").alias("__in")), True
    if mode == "value":
        # try_cast like the ivalue path: under ANSI mode (Spark 4
        # default) a malformed string would otherwise abort the job
        cast_col = F.col(col).try_cast("double")
        return df.where(cast_col.isNotNull()).select(*kc, cast_col.alias("__in")), False
    if mode == "ivalue":
        # mask on the CAST: a failed long cast is null too, and a null in
        # a keyed batch would flip the pandas column to float64
        cast_col = F.col(col).try_cast("long")  # ANSI-safe: malformed → null
        return df.where(cast_col.isNotNull()).select(*kc, cast_col.alias("__in")), False
    return df.select(*kc, F.col(col).cast("string").alias("__in")), False


def _np_from_arrow(arr, mode: str, python_hash: bool):
    """Arrow column → numpy input for a sketch update, with no per-row
    Python: string hashing reads the Arrow offsets/data buffers directly
    (``murmur64a_chunked``); numeric columns are zero-copy views.
    Returns None for an all-null/empty column; for 'item' mode returns
    (values, counts) from Arrow's C++ value_counts."""
    if isinstance(arr, pa.ChunkedArray):
        arr = arr.combine_chunks()
    if arr.null_count:
        arr = arr.drop_null()
    if len(arr) == 0:
        return None
    if mode == "hash":
        if python_hash:
            width = 8 if pa.types.is_large_string(arr.type) or pa.types.is_large_binary(arr.type) else 4
            dtype = np.int64 if width == 8 else np.int32
            offsets = np.frombuffer(arr.buffers()[1], dtype=dtype,
                                    count=len(arr) + 1, offset=arr.offset * width)
            data = np.frombuffer(arr.buffers()[2], dtype=np.uint8)
            return murmur64a_chunked(data, offsets).view(np.int64)
        return arr.to_numpy(zero_copy_only=False).astype(np.int64, copy=False)
    if mode == "value":
        return arr.to_numpy(zero_copy_only=False).astype(np.float64, copy=False)
    if mode == "ivalue":
        return arr.to_numpy(zero_copy_only=False).astype(np.int64, copy=False)
    vc = pa.compute.value_counts(arr)
    # r8: to_numpy converts the Arrow string values in C (one object
    # array), ~4.5x faster than round-tripping through to_pylist +
    # np.array for the same object-dtype result (measured 0.68s ->
    # 0.15s per 1M rows; bytes identical)
    return (vc.field("values").to_numpy(zero_copy_only=False),
            vc.field("counts").to_numpy())


def _arrow_global_build(specs: dict[str, SketchSpec], modes: dict[str, str],
                        python_hash: bool):
    """mapInArrow kernel: fold every batch of a partition into one
    sketch per name; emit a single binary row.

    r8: item-mode columns feeding Space-Saving / bottom-k are BUFFERED
    and folded in large flushes (same bounded-buffer pattern and
    ~4M-row bound as the keyed path) instead of once per ~64k-row Arrow
    batch: one C++ value_counts + one update over the combined chunk
    replaces dozens, cutting the per-batch unique-count / truncation
    overhead ~4x.  Scoped to exactly these two kinds because their
    gate-checked outputs are batching-invariant (Space-Saving gates run
    in the exact regime where any batching yields identical bytes, the
    heavy-hitter guarantee holds under any fold, and bottom-k is a pure
    min-k of hashes); reference-family and count-then-estimate item
    sketches keep per-batch folds — their internal tip-over points are
    batch-order-sensitive."""
    _ITEM_BUFFERED_KINDS = ("spacesaving", "bottomk")
    _FLUSH_ROWS = 1 << 22

    def build(batches):
        states = {n: specs[n].new() for n in specs}
        buffered = [
            n for n, spec in specs.items()
            if modes[n] == "item" and spec.kind in _ITEM_BUFFERED_KINDS
            and not spec.reference_family
        ]
        bufs: dict[str, list] = {n: [] for n in buffered}
        buf_rows = 0

        def flush():
            nonlocal buf_rows
            for n in buffered:
                if not bufs[n]:
                    continue
                arr = pa.chunked_array(bufs[n])
                bufs[n] = []
                got = _np_from_arrow(arr, "item", python_hash)
                if got is not None:
                    specs[n].update(states[n], got[0], got[1])
            buf_rows = 0

        for rb in batches:
            tbl = pa.Table.from_batches([rb])
            for n, spec in specs.items():
                col = tbl.column(f"__in_{n}")
                if n in bufs:
                    bufs[n].append(col.combine_chunks())
                    continue
                got = _np_from_arrow(col, modes[n], python_hash)
                if got is None:
                    continue
                if modes[n] == "item":
                    spec.update(states[n], got[0], got[1])
                else:
                    spec.update(states[n], got)
            if buffered:
                buf_rows += rb.num_rows
                if buf_rows >= _FLUSH_ROWS:
                    flush()
        flush()
        yield pa.RecordBatch.from_pydict(
            {n: pa.array([states[n].to_bytes()], type=pa.binary()) for n in specs}
        )

    return build


# ---------------------------------------------------------------------------
# r8: direct parquet row-group scan for GLOBAL sketch builds (guide §8
# "co-locate instead of join" / §4: eliminate the JVM→Python boundary).
#
# The classic global build feeds every row through Spark's
# InternalRow→Arrow writer into the Python worker; measured floor ~0.8 s
# per 1M-row task for a single int64 column (a no-op mapInArrow consumer
# costs the same — the feed, not the kernel, is the cost).  When the
# input is provably a bare local-filesystem parquet scan, the same rows
# can be read straight off the column chunks by pyarrow INSIDE the
# Python task (~0.02 s per 1M int64 rows), with hashing done by the
# bit-parity ``xxhash64_long`` kernel.  Spark still distributes the
# work: the task list is one row per parquet row group, so parallelism
# equals the scan's natural split and scales with input size.
#
# Strict eligibility (anything else falls back to the classic path):
#   * global aggregate (no keys), non-reference-family, kind in
#     _DIRECT_SCAN_KINDS: hll/cms/bloom are batching-invariant monoids
#     (direct result BYTE-identical to the classic path — pinned by
#     tests/test_direct_scan.py); tdigest/kll build state is
#     batch-boundary-sensitive, so the direct result is deterministic
#     but not byte-equal — admissible because no declared query exposes
#     digest bytes (quantile gates output within-bound booleans, and
#     both paths' estimates sit inside the published rank bound — also
#     pinned by tests/test_direct_scan.py); conservative CMS is
#     order-dependent and excluded;
#   * analyzed plan is a bare LogicalRelation over an unpartitioned
#     HadoopFsRelation/Parquet (no Filter/Project/Limit above it);
#   * every input file is file:// (an executor on another host could
#     not read the driver's local path otherwise; hdfs:/s3: fall back);
#   * hash mode: xxhash64 over LongType (bit parity pinned);
#     value mode: DoubleType (try_cast double is the identity there);
#   * per-file footers are read on the driver only up to
#     $SPARK_GRAFT_DIRECT_SCAN_MAX_FOOTERS (default 4096) files — the
#     same footer metadata Spark itself reads — above that each file
#     becomes one task without row-group splitting, and above
#     $SPARK_GRAFT_DIRECT_SCAN_MAX_FILES (default 65536) the path
#     disengages entirely (driver task-list bound).
# Kill switch: SPARK_GRAFT_DIRECT_SCAN=0.
_DIRECT_SCAN_KINDS = ("hll", "cms", "tdigest", "kll", "bloom")


#: kinds safe for the KEYED direct build: their per-key merged state is
#: a batching-invariant monoid, so the result is byte-identical to the
#: classic path no matter how partial boundaries move.  tdigest/kll are
#: excluded here (unlike the global whitelist) because keyed quantile
#: queries expose per-key estimates directly.
_DIRECT_SCAN_KEYED_KINDS = ("hll", "cms", "bloom")


def _env_int(name: str, default: int) -> int:
    """Integer env knob; a malformed value falls back to the default
    (a bad knob must never abort the query)."""
    try:
        return int(os.environ.get(name, default))
    except ValueError:
        return default


def _direct_scan_tasks(df: DataFrame, cols: list, wants: list) -> list | None:
    """Return [(local_path, row_group_index)] for a bare local parquet
    scan of ``df`` (row_group_index -1 = whole file), or None if the
    plan/layout is not provably eligible.  ``cols``/``wants`` are the
    columns the build will read and their expected arrow types (a
    string column accepts large_string — same values either way)."""
    try:
        plan = df._jdf.queryExecution().analyzed()
        if plan.getClass().getSimpleName() != "LogicalRelation":
            return None
        rel = plan.relation()
        if rel.getClass().getSimpleName() != "HadoopFsRelation":
            return None
        if "parquet" not in rel.fileFormat().toString().lower():
            return None
        if rel.partitionSchema().size() != 0:  # col could live in the path
            return None
        files = df.inputFiles()
    except Exception:
        return None
    max_files = _env_int("SPARK_GRAFT_DIRECT_SCAN_MAX_FILES", 65536)
    if not files or len(files) > max_files:
        return None
    paths = []
    for uri in files:
        parsed = urllib.parse.urlparse(uri)
        if parsed.scheme not in ("file", ""):
            return None
        paths.append(urllib.parse.unquote(parsed.path))
    max_footers = _env_int("SPARK_GRAFT_DIRECT_SCAN_MAX_FOOTERS", 4096)
    # below ~1M total rows the path's constant cost (plan probe, footer
    # read, one extra job) exceeds the per-row feed saving — measured
    # crossover on the alternating frozen-bench A/B: 600k-row tables
    # read 1.1-1.5x slower direct, 6M-row tables 2-3.5x faster.  The
    # threshold is work-based, not scale-tuned: any production input is
    # far above it, and the no-footer branch (file count beyond the
    # driver's footer budget) implies scale and always engages.
    min_rows = _env_int("SPARK_GRAFT_DIRECT_SCAN_MIN_ROWS", 1_000_000)
    tasks: list = []
    try:
        if len(paths) <= max_footers:
            import pyarrow.parquet as pq

            total_rows = 0
            for p in paths:
                pf = pq.ParquetFile(p)
                for c, want in zip(cols, wants):
                    idx = pf.schema_arrow.get_field_index(c)
                    if idx < 0:
                        return None  # renamed/missing column: fall back
                    got = pf.schema_arrow.field(idx).type
                    if got != want and not (
                        want == pa.string() and got == pa.large_string()
                    ):
                        return None  # heterogeneous column: fall back
                total_rows += pf.metadata.num_rows
                tasks.extend((p, rg) for rg in range(pf.metadata.num_row_groups))
            if total_rows < min_rows:
                return None
        else:
            tasks = [(p, -1) for p in paths]
    except Exception:
        return None
    return tasks or None


def _direct_scan_build(tasks: list, col: str, spec: SketchSpec,
                       want: "pa.DataType"):
    """mapInArrow kernel over task-INDEX rows (the (path, row_group)
    list rides in the closure — a pure-JVM Range feed, so the only
    Python crossing is the one-row partial result): each task reads its
    row groups' column chunk with pyarrow and folds it into one sketch;
    emits a single partial row (same contract as the classic global
    build)."""
    mode = spec.input_mode

    def build(batches):
        import pyarrow.parquet as pq

        sk = spec.new()
        for rb in batches:
            for i in rb.column("id").to_pylist():
                p, rg = tasks[i]
                pf = pq.ParquetFile(p)
                tbl = (pf.read_row_group(rg, columns=[col]) if rg >= 0
                       else pf.read(columns=[col]))
                arr = tbl.column(0)
                if isinstance(arr, pa.ChunkedArray):
                    arr = arr.combine_chunks()
                if arr.type != want:
                    # only reachable in no-footer mode; the safe cast is
                    # exactly Spark's schema-widening read (int32→int64)
                    arr = arr.cast(want)
                if arr.null_count:
                    arr = arr.drop_null()
                if len(arr) == 0:
                    continue
                vals = arr.to_numpy(zero_copy_only=False)
                if mode == "hash":
                    vals = xxhash64_long(vals)
                else:
                    vals = vals.astype(np.float64, copy=False)
                spec.update(sk, vals)
        yield pa.RecordBatch.from_pydict(
            {STATE_COL: pa.array([sk.to_bytes()], type=pa.binary())})

    return build


def _direct_scan_keyed_build(tasks: list, keys: list, col: str,
                             spec: SketchSpec, out_cols: list):
    """mapInPandas kernel for the KEYED direct build: each task reads
    keys+value columns of its row groups, drops value-null rows in
    Arrow (a pandas round trip first would flip an int64 value column
    with nulls to float64), folds per-key states across all its row
    groups and emits one (keys..., sketch) row per key — the same
    contract, grouping semantics (null keys kept: dropna=False) and
    per-key fold as the classic keyed build."""

    def build(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        states: dict[tuple, object] = {}
        for pdf_ids in batches:
            for i in pdf_ids["id"]:
                p, rg = tasks[int(i)]
                pf = pq.ParquetFile(p)
                tbl = (pf.read_row_group(rg, columns=keys + [col]) if rg >= 0
                       else pf.read(columns=keys + [col]))
                vcol = tbl.column(len(keys))
                if vcol.null_count:
                    tbl = tbl.filter(pc.is_valid(tbl.column(len(keys))))
                if tbl.num_rows == 0:
                    continue
                pdf = tbl.to_pandas()
                for key, sub in pdf.groupby(keys, dropna=False, sort=False)[col]:
                    key = key if isinstance(key, tuple) else (key,)
                    hashes = xxhash64_long(sub.to_numpy())
                    sk = states.get(key)
                    if sk is None:
                        sk = states[key] = spec.new()
                    spec.update(sk, hashes)
        rows = [list(k) + [s.to_bytes()] for k, s in states.items()]
        yield pd.DataFrame(rows, columns=out_cols)

    return build


def _direct_parquet_partials(df: DataFrame, keys: list[str], col: str,
                             spec: SketchSpec, hash_mode: str) -> DataFrame | None:
    """Fast partial build reading parquet row groups directly in the
    Python tasks.  Returns None (caller uses the classic path) unless
    every eligibility guard holds; results are byte-identical to the
    classic path for the monoid kinds (pinned by
    tests/test_direct_scan.py)."""
    if os.environ.get("SPARK_GRAFT_DIRECT_SCAN", "1") != "1":
        return None
    allowed = _DIRECT_SCAN_KEYED_KINDS if keys else _DIRECT_SCAN_KINDS
    if spec.reference_family or spec.kind not in allowed:
        return None
    if spec.kind == "cms" and spec.params.get("conservative"):
        return None
    mode = spec.input_mode
    try:
        dtype = df.schema[col].dataType
        key_types = [df.schema[k].dataType for k in keys]
    except Exception:
        return None
    if keys and not all(isinstance(t, T.StringType) for t in key_types):
        return None  # the keyed build groups via pandas; string keys only
    if mode == "hash":
        if hash_mode != "xxhash64" or not isinstance(dtype, T.LongType):
            return None
        want = pa.int64()
    elif mode == "value":
        if keys or not isinstance(dtype, T.DoubleType):
            return None
        want = pa.float64()
    else:
        return None
    tasks = _direct_scan_tasks(df, keys + [col],
                               [pa.string()] * len(keys) + [want])
    if not tasks:
        return None
    sess = df.sparkSession
    # one Range partition per task: a pure-JVM feed of one long each (a
    # createDataFrame of the task rows would route through a Python RDD
    # — two extra worker crossings per task, measured ~0.4 s of fixed
    # overhead at sf0.1)
    tdf = sess.range(0, len(tasks), 1, numPartitions=len(tasks))
    if keys:
        key_fields = [df.schema[k] for k in keys]
        out_schema = T.StructType(
            key_fields + [T.StructField(STATE_COL, T.BinaryType())])
        out = tdf.mapInPandas(
            _direct_scan_keyed_build(tasks, keys, col, spec,
                                     keys + [STATE_COL]),
            schema=out_schema)
    else:
        out = tdf.mapInArrow(_direct_scan_build(tasks, col, spec, want),
                             schema=f"{STATE_COL} binary")
    # unlike the classic path, the partial count is KNOWN exactly here;
    # let merge_partials size the fan-in level from it instead of the
    # shuffle-conf upper bound
    out._slp_n_partials = len(tasks)
    return out


# r8 NOTE (measured, rejected): spreading a serial scan (single parquet
# row group -> one non-empty scan task) with a repartition of the
# narrow projection was prototyped for the sketch build and REJECTED on
# interleaved A/B evidence: on a quiet box the exchange + extra AQE
# stage costs more than single-task vectorized sketch building saves at
# every measured size (sf0.1 hll 0.28s -> 0.94s; 10x keyed events
# 1.00s -> 1.48s).  The numpy kernels are ~0.03-0.11 s per 1M rows, so
# a serial build only loses past ~10M rows per row group — a layout the
# generators here never produce.  Heavy-per-row JVM operators are the
# opposite case: pii_screen (7 regex + 7 replaces per doc) and the
# tokenize kernels DO pay for the exchange, which is why textops'
# _ensure_parallelism exists and stays.


def sketch_partials(df: DataFrame, keys: list[str], col: str, spec: SketchSpec,
                    hash_mode: str = "xxhash64") -> DataFrame:
    """Partition-local sketch build: one (keys..., sketch BinaryType)
    row per key per input partition.  Vectorized: numpy kernels over
    whole Arrow batches; the global (key-less) path runs ``mapInArrow``
    with zero-copy buffer access — no per-row Python anywhere."""
    direct = _direct_parquet_partials(df, keys, col, spec, hash_mode)
    if direct is not None:
        return direct
    prepared, python_hash = _prepare_input(df, keys, col, spec, hash_mode)

    if not keys:
        prepared = prepared.withColumnRenamed("__in", f"__in_{STATE_COL}")
        build = _arrow_global_build({STATE_COL: spec}, {STATE_COL: spec.input_mode}, python_hash)
        return prepared.mapInArrow(build, schema=f"{STATE_COL} binary")
    key_fields = [prepared.schema[k] for k in keys]
    out_schema = T.StructType(key_fields + [T.StructField(STATE_COL, T.BinaryType())])

    def build(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        states: dict[tuple, object] = {}

        def upd(key: tuple, series: pd.Series):
            arr = series.to_numpy()
            if spec.input_mode == "hash":
                if python_hash:
                    arr = murmur64a_array(arr.astype(object)).view(np.int64)
                else:
                    arr = arr.astype(np.int64, copy=False)
            elif spec.input_mode == "value":
                arr = arr.astype(np.float64, copy=False)
            elif spec.input_mode == "ivalue":
                arr = arr.astype(np.int64, copy=False)
            sk = states.get(key)
            if sk is None:
                sk = states[key] = spec.new()
            if spec.input_mode == "item":
                vc = pd.Series(arr).value_counts()
                spec.update(sk, vc.index.to_numpy(), vc.to_numpy())
            else:
                spec.update(sk, arr[~pd.isna(arr)] if arr.dtype == object else arr)

        # Buffer Arrow batches and flush the per-key update in larger
        # chunks: the python-call overhead is per (key x flush), so a
        # 200-key partition of N batches pays 200 update chains instead
        # of 200*N, while memory stays bounded at ~FLUSH_ROWS rows of
        # (key, int64/float64) columns (~100 MB worst case).
        FLUSH_ROWS = 1 << 22
        buf: list[pd.DataFrame] = []
        buf_rows = 0

        def flush():
            nonlocal buf, buf_rows
            if not buf:
                return
            pdf = pd.concat(buf, ignore_index=True) if len(buf) > 1 else buf[0]
            buf, buf_rows = [], 0
            for key, sub in pdf.groupby(keys, dropna=False, sort=False)["__in"]:
                upd(key if isinstance(key, tuple) else (key,), sub)

        for pdf in batches:
            mask = pdf["__in"].notna()
            if not mask.all():
                pdf = pdf[mask]
            if len(pdf) == 0:
                continue
            buf.append(pdf)
            buf_rows += len(pdf)
            if buf_rows >= FLUSH_ROWS:
                flush()
        flush()
        rows = [list(k) + [s.to_bytes()] for k, s in states.items()]
        yield pd.DataFrame(rows, columns=keys + [STATE_COL])

    return prepared.mapInPandas(build, schema=out_schema)


def _auto_fan_in(n_parts: int, threshold: int = 64) -> int | None:
    """Two-level merge sizing: above ``threshold`` input partitions a
    global fold gets an intermediate level of ~sqrt(n) buckets, so both
    levels fold ~sqrt(n) blobs.  At 10^6 input partitions the single
    reducer would otherwise pull 10^6 × 16 KB-240 KB blobs."""
    if n_parts <= threshold:
        return None
    import math

    return int(math.ceil(math.sqrt(n_parts)))


def _estimate_partitions(df: DataFrame) -> int:
    """Cheap static UPPER BOUND on a DataFrame's partition count for
    fan-in sizing.  Deliberately NOT ``df.rdd.getNumPartitions()``:
    under AQE, materializing the RDD finalizes the adaptive plan, which
    EXECUTES the upstream query stages — it silently ran the whole
    window+sketch pipeline once before the real collect (the round-2
    ``transcript_latency_tdigest`` +22% regression, measured 1.85s for
    the "metadata" probe vs 0.06s for ``inputFiles``).  Fan-in sizing
    only needs the order of magnitude, so estimate from metadata:
    max(#leaf files, shuffle-partitions conf, defaultParallelism,
    explicit Repartition(n) nodes in the analyzed logical plan).
    Over-estimating just buys an extra ~sqrt(n) merge level over blob
    rows (harmless); the terms jointly bound every plan shape — scans
    by file count (file *splits* exceed it only by the small
    size/maxPartitionBytes factor), wide ops by the shuffle conf, local
    relations by defaultParallelism, user repartitions by the plan
    scan."""
    sess = df.sparkSession
    try:
        n_files = len(df.inputFiles())
    except Exception:
        n_files = 0
    try:
        shuffle_conf = int(sess.conf.get("spark.sql.shuffle.partitions"))
    except (TypeError, ValueError):
        shuffle_conf = 0
    n_repart = 0
    try:
        import re

        analyzed = df._jdf.queryExecution().analyzed().toString()
        for m in re.finditer(r"Repartition (\d+)|RepartitionByExpression \[[^\n]*\], (\d+)", analyzed):
            n_repart = max(n_repart, int(m.group(1) or m.group(2)))
    except Exception:
        pass
    return max(n_files, shuffle_conf, sess.sparkContext.defaultParallelism, n_repart)


def merge_partials(partials: DataFrame, keys: list[str], spec: SketchSpec,
                   fan_in: int | None | str = "auto",
                   finalize_compress: bool = True) -> DataFrame:
    """Tree-merge partial sketches to one row per key.

    ``fan_in``: insert an intermediate merge level over buckets of
    partials (bounds reduce-side fan-in for global aggregates across
    huge partition counts).  Bucketing is deterministic
    (pmod(xxhash64 of monotonically_increasing_id), fan_in) only in
    topology, not in result: all merges are commutative monoids.
    Default ``"auto"``: for GLOBAL aggregates the level is inserted
    automatically once the partials span > 64 partitions (keyed
    aggregates already spread across the groupBy reducers; pass an int
    to force a level there too).
    """
    if fan_in == "auto":
        n_exact = getattr(partials, "_slp_n_partials", None)
        fan_in = None if keys else _auto_fan_in(
            n_exact if n_exact is not None else _estimate_partitions(partials))
    key_fields = [partials.schema[k] for k in keys]
    out_schema = T.StructType(key_fields + [T.StructField(STATE_COL, T.BinaryType())])

    if fan_in:
        bucket = F.pmod(F.xxhash64(F.monotonically_increasing_id()), F.lit(fan_in)).alias("__bkt")
        mid_schema = T.StructType(
            key_fields + [T.StructField("__bkt", T.IntegerType()), T.StructField(STATE_COL, T.BinaryType())]
        )

        def merge_mid(pdf: pd.DataFrame) -> pd.DataFrame:
            blobs = pdf[STATE_COL]
            sk = sketch_from_bytes(blobs.iloc[0])
            for b in blobs.iloc[1:]:
                sk.merge(sketch_from_bytes(b))
            head = pdf[keys + ["__bkt"]].iloc[:1].reset_index(drop=True)
            head[STATE_COL] = [sk.to_bytes()]
            return head

        partials = (
            partials.withColumn("__bkt", bucket.cast("int"))
            .groupBy(*(keys + ["__bkt"]))
            .applyInPandas(merge_mid, schema=mid_schema)
            .drop("__bkt")
        )

    if keys:
        # shuffle by key, then fold EVERY key group of a partition in one
        # Arrow stream (mapInPandas).  groupBy.applyInPandas would make a
        # separate Arrow round trip per GROUP — measured ~8ms of plumbing
        # per key (200 tools: 1.76s of overhead for 0.1s of merging).
        # Merge order within a key is partition row order; all sketch
        # merges are commutative monoids, so results don't depend on it.
        def merge_groups(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            states: dict[tuple, object] = {}
            for pdf in batches:
                for key, blobs in pdf.groupby(keys, dropna=False, sort=False)[STATE_COL]:
                    key = key if isinstance(key, tuple) else (key,)
                    sk = states.get(key)
                    for b in blobs:
                        s = sketch_from_bytes(bytes(b))
                        sk = s if sk is None else sk.merge(s)
                    states[key] = sk
            rows = []
            for key, sk in states.items():
                if finalize_compress and isinstance(sk, (TDigest, KLL)):
                    sk.compress()
                rows.append(list(key) + [sk.to_bytes()])
            yield pd.DataFrame(rows, columns=keys + [STATE_COL])

        return partials.repartition(*keys).mapInPandas(merge_groups, schema=out_schema)

    # Global aggregate: explicit single-reducer fold via repartition(1) +
    # mapInPandas. The exchange moves only sketch blobs (one per input
    # partition / fan-in bucket); partial building upstream stays fully
    # parallel. Guarantees exactly one output row even on empty input.
    def merge_all(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        sk = None
        for pdf in batches:
            for b in pdf[STATE_COL]:
                s = sketch_from_bytes(bytes(b))
                sk = s if sk is None else sk.merge(s)
        if sk is None:
            sk = spec.new()
        if finalize_compress and isinstance(sk, (TDigest, KLL)):
            sk.compress()
        yield pd.DataFrame({STATE_COL: [sk.to_bytes()]})

    out = partials.repartition(1).mapInPandas(merge_all, schema=out_schema)
    if not fan_in:
        # r8 optimization: when no fan-in level was needed (<= 64
        # partials), the final fold moves <= 64 small blobs — the same
        # bytes the single-reducer task would pull.  Mark the DataFrame
        # so ``collect_sketch`` can collect the PARTIALS directly and
        # fold on the driver, removing one Exchange + one Python merge
        # stage + one job per global aggregate (guide §2.4).  Above the
        # fan-in threshold the distributed tree is kept unchanged, so
        # cluster-scale behavior is identical.  The DataFrame itself is
        # untouched — executing it distributed gives the same bytes
        # (merges are commutative monoids; the associativity law is
        # pinned by tests/test_fan_in_auto.py).
        out._slp_driver_fold = (partials, spec, finalize_compress)
    return out


def sketch_agg(df: DataFrame, keys: list[str], col: str, spec: SketchSpec,
               hash_mode: str = "xxhash64", fan_in: int | None | str = "auto") -> DataFrame:
    """Full two-level sketch aggregation → (keys..., sketch).  Global
    aggregates over >64 partitions automatically get a third (fan-in)
    merge level — see ``merge_partials``.

    hll/cms/bloom state is byte-identical whichever path builds it.
    tdigest/kll state is not: the direct parquet row-group read
    (``_direct_parquet_partials``) cuts partials at row-group
    boundaries, the classic Arrow feed at batch boundaries, and both
    sketches compact as they fill, so their bytes depend on where a
    partial was cut.  The two paths can therefore return different
    bytes, while every quantile of either stays inside the
    sketch's published rank bound."""
    return merge_partials(sketch_partials(df, keys, col, spec, hash_mode), keys, spec, fan_in)


def multi_sketch_agg(df: DataFrame, sketches: dict[str, tuple[str, SketchSpec]],
                     keys: list[str] | None = None,
                     hash_mode: str = "xxhash64") -> DataFrame:
    """Update MANY sketches in ONE scan / ONE Arrow crossing.

    ``sketches``: {out_name: (column, spec)}.  At 100 TB the scan and
    the JVM→Python boundary dominate; a pipeline that needs distinct
    conv_ids, token frequencies, latency quantiles and a tool Bloom
    filter should pay for them once, not once per sketch.  Returns one
    row per key group with one BinaryType column per sketch name.
    """
    keys = keys or []
    python_hash = hash_mode != "xxhash64"
    proj = [F.col(k) for k in keys]
    modes: dict[str, str] = {}
    for name, (col, spec) in sketches.items():
        mode = spec.input_mode
        modes[name] = mode
        c = F.col(col)
        if mode == "ivalue" or (mode == "hash" and not python_hash):
            # ivalue takes this path regardless of hash_mode — values
            # ARE the input, they are never murmur-hashed
            if keys:
                # Keyed path: NEVER ship a nullable long — a single null
                # in a batch turns the pandas column float64 and rounds
                # int64 payloads to 53 bits (silent HLL inflation / CMS
                # scatter / Bloom false negatives).  Ship a non-null
                # long plus a separate validity mask instead.
                if mode == "hash":
                    base, valid = F.xxhash64(c), c.isNotNull()
                else:  # ivalue: mask on the CAST (a failed cast is null too)
                    tc = c.try_cast("long")
                    base, valid = F.coalesce(tc, F.lit(0)), tc.isNotNull()
                proj.append(base.alias(f"__in_{name}"))
                proj.append(valid.alias(f"__nn_{name}"))
                continue
            # Global path reads Arrow buffers directly (nulls dropped
            # before numpy conversion), so the nullable column is safe.
            expr = F.when(c.isNotNull(), F.xxhash64(c)) if mode == "hash" else c.try_cast("long")
        elif mode == "hash":
            expr = c.cast("string")
        elif mode == "value":
            expr = c.try_cast("double")  # ANSI-safe: malformed → null, dropped
        else:
            expr = c.cast("string")
        proj.append(expr.alias(f"__in_{name}"))
    prepared = df.select(*proj)

    key_fields = [prepared.schema[k] for k in keys]
    state_fields = [T.StructField(n, T.BinaryType()) for n in sketches]
    out_schema = T.StructType(key_fields + state_fields)
    names = list(sketches)
    specs = {n: sketches[n][1] for n in names}

    if not keys:
        arrow_build = _arrow_global_build(specs, modes, python_hash)
        partials = prepared.mapInArrow(arrow_build, schema=T.StructType(state_fields))
        return _merge_multi(partials, [], names, specs, out_schema)

    def build(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        states: dict[tuple, dict[str, object]] = {}

        def upd(key: tuple, sub: pd.DataFrame):
            group = states.get(key)
            if group is None:
                group = states[key] = {n: specs[n].new() for n in names}
            for n in names:
                col_in = sub[f"__in_{n}"]
                if modes[n] == "ivalue" or (modes[n] == "hash" and not python_hash):
                    # non-null int64 column + separate validity mask —
                    # the dtype stays int64 even when nulls were present
                    valid = sub[f"__nn_{n}"].to_numpy()
                    arr = col_in.to_numpy()
                    if not valid.all():
                        arr = arr[valid.astype(bool)]
                    if len(arr) == 0:
                        continue
                    specs[n].update(group[n], arr.astype(np.int64, copy=False))
                    continue
                mask = col_in.notna()
                arr = col_in[mask].to_numpy() if not mask.all() else col_in.to_numpy()
                if len(arr) == 0:
                    continue
                spec = specs[n]
                if modes[n] == "hash":
                    arr = murmur64a_array(arr.astype(object)).view(np.int64)
                    spec.update(group[n], arr)
                elif modes[n] == "value":
                    spec.update(group[n], arr.astype(np.float64, copy=False))
                else:
                    vc = pd.Series(arr).value_counts()
                    spec.update(group[n], vc.index.to_numpy(), vc.to_numpy())

        for pdf in batches:
            if len(pdf) == 0:
                continue
            for key, sub in pdf.groupby(keys, dropna=False, sort=False):
                upd(key if isinstance(key, tuple) else (key,), sub)
        rows = [list(k) + [grp[n].to_bytes() for n in names] for k, grp in states.items()]
        yield pd.DataFrame(rows, columns=keys + names)

    partials = prepared.mapInPandas(build, schema=out_schema)
    return _merge_multi(partials, keys, names, specs, out_schema)


def _merge_multi(partials: DataFrame, keys: list[str], names: list[str],
                 specs: dict[str, SketchSpec], out_schema: T.StructType,
                 fan_in: int | None | str = "auto") -> DataFrame:
    def merge_cols(pdf: pd.DataFrame, compress: bool) -> dict:
        out = {}
        for n in names:
            sk = None
            for b in pdf[n]:
                s = sketch_from_bytes(bytes(b))
                sk = s if sk is None else sk.merge(s)
            if sk is None:
                sk = specs[n].new()
            if compress and isinstance(sk, (TDigest, KLL)):
                sk.compress()
            out[n] = [sk.to_bytes()]
        return out

    def merge_group(pdf: pd.DataFrame) -> pd.DataFrame:
        out = merge_cols(pdf, compress=True)
        head = pdf[keys].iloc[:1].reset_index(drop=True) if keys else pd.DataFrame(index=[0])
        for n in names:
            head[n] = out[n]
        return head

    if keys:
        # one Arrow stream per partition, not per group — see
        # merge_partials' keyed branch for the measured rationale
        def merge_groups(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            states: dict[tuple, dict] = {}
            for pdf in batches:
                for key, sub in pdf.groupby(keys, dropna=False, sort=False):
                    key = key if isinstance(key, tuple) else (key,)
                    st = states.setdefault(key, {})
                    for n in names:
                        sk = st.get(n)
                        for b in sub[n]:
                            s = sketch_from_bytes(bytes(b))
                            sk = s if sk is None else sk.merge(s)
                        st[n] = sk
            rows = []
            for key, st in states.items():
                row = list(key)
                for n in names:
                    sk = st[n] if st[n] is not None else specs[n].new()
                    if isinstance(sk, (TDigest, KLL)):
                        sk.compress()
                    row.append(sk.to_bytes())
                rows.append(row)
            yield pd.DataFrame(rows, columns=keys + names)

        return partials.repartition(*keys).mapInPandas(merge_groups, schema=out_schema)

    if fan_in == "auto":
        fan_in = _auto_fan_in(_estimate_partitions(partials))
    if fan_in:
        bucket = F.pmod(F.xxhash64(F.monotonically_increasing_id()), F.lit(fan_in)).cast("int")
        mid_schema = T.StructType(
            [T.StructField("__bkt", T.IntegerType())]
            + [out_schema[n] for n in names]
        )

        def merge_mid(pdf: pd.DataFrame) -> pd.DataFrame:
            out = merge_cols(pdf, compress=False)
            head = pd.DataFrame({"__bkt": [int(pdf["__bkt"].iloc[0])]})
            for n in names:
                head[n] = out[n]
            return head

        partials = (
            partials.withColumn("__bkt", bucket)
            .groupBy("__bkt")
            .applyInPandas(merge_mid, schema=mid_schema)
            .drop("__bkt")
        )

    def merge_all(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        pdfs = [p for p in batches if len(p)]
        yield merge_group(pd.concat(pdfs) if pdfs else pd.DataFrame(columns=names))

    return partials.repartition(1).mapInPandas(merge_all, schema=out_schema)


def collect_sketch(df_or_merged: DataFrame):
    """Collect a single global sketch blob to the driver (one small
    row — NOT a data collect).

    Fast path (r8): a global ``merge_partials`` result below the fan-in
    threshold carries its partials DataFrame; collecting those <= 64
    blobs and folding driver-side skips the repartition(1) exchange,
    the Python merge stage and one whole job — the driver pulls exactly
    the bytes the single-reducer task would have pulled.  Bytes are
    identical (commutative-monoid merges, same fold order)."""
    fold = getattr(df_or_merged, "_slp_driver_fold", None)
    if fold is not None:
        partials, spec, finalize_compress = fold
        sk = None
        # toPandas → Arrow transfer of the binary blobs (the session
        # enables arrow.pyspark); py4j row collect pickles each ~1 MB
        # CMS partial through the gateway socket instead
        for b in partials.select(STATE_COL).toPandas()[STATE_COL]:
            s = sketch_from_bytes(bytes(b))
            sk = s if sk is None else sk.merge(s)
        if sk is None:
            sk = spec.new()
        if finalize_compress and isinstance(sk, (TDigest, KLL)):
            sk.compress()
        return sk
    row = df_or_merged.select(STATE_COL).collect()
    if len(row) != 1:
        raise ValueError(f"expected one merged sketch row, got {len(row)}")
    return sketch_from_bytes(bytes(row[0][0]))


def salted_split(df: DataFrame, key: str, salts: int, col_name: str = "__salt") -> DataFrame:
    """Explicit skew salting for exact aggregation paths: adds a
    deterministic sub-key so a hot `key` spreads over `salts` reducers;
    aggregate by (key, salt) then re-aggregate by key (north rule)."""
    return df.withColumn(col_name, F.pmod(F.xxhash64(F.monotonically_increasing_id()), F.lit(salts)).cast("int"))
