"""Per-layer measurement for the traced run, and the CPU meter of both runs.

* ``Tracer`` — spans recorded around the benchmark's own calls into the
  library (name, start, end, parent, query id); kept in memory, written
  out at the end.
* ``spark_metrics`` — Spark's per-operator SQL metrics and job/stage/task
  counts, read back from the uncompressed event log and grouped by the
  job description the benchmark sets on each query phase.
* ``kernel_bench`` — in-process update/merge/serde costs of the sketch
  kernels and ns/row of the two hashing kernels, on arrays taken from the
  workload inputs, plus the byte-identity check of the hll/cms/bloom
  state against the state Spark built from the same input.
* ``peak_rss_mb`` — peak RSS of the driver JVM and its Python workers,
  read from ``/proc``.
* ``CpuMeter`` — running CPU seconds of the driver, the JVM and its Python
  workers, read from ``/proc``; every set-up and query is timed with it.
"""

from __future__ import annotations

import json
import os
import statistics
import threading
import time
from contextlib import contextmanager
from pathlib import Path

import numpy as np

from stream_lib_spark.agg import sketch_from_bytes
from stream_lib_spark.hashing import murmur64a_chunked, xxhash64_long

DESC_PREFIX = "perfbench"


class Tracer:
    def __init__(self):
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, qid: str):
        parent = self._stack[-1] if self._stack else None
        rec = {"id": len(self.spans), "name": name, "qid": qid, "parent": parent,
               "start": time.perf_counter(), "end": None}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def write(self, path: Path) -> None:
        path.parent.mkdir(parents=True, exist_ok=True)
        path.write_text(json.dumps(self.spans))


def describe(sc, qid: str, phase: str) -> None:
    sc.setJobDescription(f"{DESC_PREFIX}|{qid}|{phase}")


# ------------------------------------------------------------- event log

_SQL_METRICS = {  # event-log accumulable → (per-layer metric, scale)
    "data sent to Python workers": ("spark.python_bytes_in", 1.0),
    "time to run Python workers": ("spark.python_time_s", 1e-3),
    "scan time": ("spark.scan_time_s", 1e-3),
    "shuffle bytes written": ("spark.shuffle_write_bytes", 1.0),
}


def _events(log_dir: Path):
    for app in sorted(log_dir.iterdir()):
        files = sorted(app.glob("events_*"), key=lambda f: int(f.name.split("_")[1])) \
            if app.is_dir() else [app]
        for f in files:
            with open(f) as fh:
                for line in fh:
                    yield json.loads(line)


def _top_python_map(plan: dict) -> dict | None:
    """The topmost MapInArrow/MapInPandas node: the partial build."""
    if plan["nodeName"].startswith("MapIn"):
        return plan
    for child in plan["children"]:
        hit = _top_python_map(child)
        if hit is not None:
            return hit
    return None


def spark_metrics(log_dir: Path, phases: tuple[str, ...]) -> dict:
    """Sum of the SQL metrics over every job of ``phases``, the job, stage
    and task counts of those jobs, and the partial rows that the jobs of
    the ``build`` phase produced."""
    stage_phase: dict[int, str] = {}
    plans: dict[int, dict] = {}          # execution id → latest plan
    build_execs: set[int] = set()
    acc_values: dict[int, float] = {}
    jobs = stages = tasks = 0
    out = {m: 0.0 for m, _ in _SQL_METRICS.values()}
    for e in _events(log_dir):
        kind = e["Event"]
        if kind.endswith(("SQLExecutionStart", "SQLAdaptiveExecutionUpdate")):
            plans[e["executionId"]] = e["sparkPlanInfo"]
        elif kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            parts = (props.get("spark.job.description") or "").split("|")
            if len(parts) == 3 and parts[0] == DESC_PREFIX and parts[2] in phases:
                jobs += 1
                for s in e["Stage IDs"]:
                    stage_phase[s] = parts[2]
                if parts[2] == "build" and props.get("spark.sql.execution.id"):
                    build_execs.add(int(props["spark.sql.execution.id"]))
        elif kind == "SparkListenerStageCompleted":
            info = e["Stage Info"]
            if info["Stage ID"] not in stage_phase or "Submission Time" not in info:
                continue  # skipped stages never ran
            stages += 1
            tasks += info["Number of Tasks"]
            for acc in info.get("Accumulables", []):
                try:
                    value = float(acc.get("Value"))
                except (TypeError, ValueError):
                    continue
                acc_values[acc["ID"]] = acc_values.get(acc["ID"], 0.0) + value
                hit = _SQL_METRICS.get(acc.get("Name"))
                if hit:
                    out[hit[0]] += value * hit[1]
    partials = 0.0
    for ex in build_execs:
        node = _top_python_map(plans[ex])
        ids = [m["accumulatorId"] for m in node["metrics"] if m["name"] == "number of output rows"]
        partials += sum(acc_values.get(i, 0.0) for i in ids)
    out.update({"spark.jobs": jobs, "spark.stages": stages, "spark.tasks": tasks,
                "agg.partials_n": partials})
    return out


# ------------------------------------------------------------- kernels

BATCH = 65_536  # rows per update call, as one Arrow batch in a task
REPEATS = 5


def _timed(fn, repeats=REPEATS) -> float:
    times = []
    for _ in range(repeats):
        t = time.perf_counter()
        fn()
        times.append(time.perf_counter() - t)
    return statistics.median(times)


def _build(spec, arr):
    sk = spec.new()
    for i in range(0, len(arr), BATCH):
        chunk = arr[i:i + BATCH]
        if spec.input_mode == "item":
            items, counts = np.unique(chunk, return_counts=True)
            spec.update(sk, items, counts)
        else:
            spec.update(sk, chunk)
    return sk


def kernel_bench(arrays: dict, specs: dict, max_rows: int = 1 << 18) -> dict:
    """``arrays``: 'hash' int64 hashes, 'value' float64, 'item' items,
    'long' int64 raw values, 'strings' an Arrow string array.  ``specs``:
    the spec of each sketch kind, as the workload's queries use it."""
    out = {}
    for kind, spec in specs.items():
        arr = arrays[spec.input_mode][:max_rows]
        out[f"sketches.{kind}.update_ns_per_row"] = (
            _timed(lambda: _build(spec, arr), repeats=3) / len(arr) * 1e9)
        half = len(arr) // 2
        a = _build(spec, arr[:half]).to_bytes()
        b = _build(spec, arr[half:]).to_bytes()

        pairs = [(sketch_from_bytes(a), sketch_from_bytes(b)) for _ in range(REPEATS)]
        out[f"sketches.{kind}.merge_us"] = _timed(
            lambda: (lambda x, y: x.merge(y))(*pairs.pop())) * 1e6
        full = sketch_from_bytes(a).merge(sketch_from_bytes(b))
        out[f"sketches.{kind}.serde_us"] = _timed(
            lambda: sketch_from_bytes(full.to_bytes())) * 1e6
        out[f"sketches.{kind}.state_bytes"] = len(full.to_bytes())
    longs = arrays["long"][:max_rows]
    out["hashing.xxhash64_long.ns_per_row"] = _timed(lambda: xxhash64_long(longs)) / len(longs) * 1e9
    s = arrays["strings"][:max_rows]
    offsets = np.frombuffer(s.buffers()[1], dtype=np.int32, count=len(s) + 1, offset=s.offset * 4)
    data = np.frombuffer(s.buffers()[2], dtype=np.uint8)
    out["hashing.murmur64a_chunked.ns_per_row"] = (
        _timed(lambda: murmur64a_chunked(data, offsets)) / len(s) * 1e9)
    return out


def same_state(spec, hashes: np.ndarray, spark_state) -> bool:
    """Merge-associativity contract: the state built in one process from
    the whole input with the query's spec equals, byte for byte, the state
    Spark merged from its partials."""
    return _build(spec, hashes).to_bytes() == spark_state.to_bytes()


# ------------------------------------------------------------ rss, cpu

def _status_kb(pid: int, field: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith(field + ":"):
                    return int(line.split()[1])
    except (FileNotFoundError, ProcessLookupError, PermissionError):
        pass
    return 0


def _stat(path: str) -> tuple[str, list[str]]:
    """(command name, the fields after it) of one /proc stat file."""
    with open(path) as fh:
        raw = fh.read()
    name, rest = raw[raw.index("(") + 1:].rsplit(")", 1)
    return name, rest.split()


def _descendants(root: int) -> list[int]:
    """Every live process under ``root``, from the parent pid of each
    process in /proc.  Per-thread ``children`` lists miss a child while
    the thread that forked it exits."""
    parent = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                parent[int(entry)] = int(_stat(f"/proc/{entry}/stat")[1][1])
            except (FileNotFoundError, ProcessLookupError):
                continue  # the process ended while we listed
    out, todo = [], [root]
    while todo:
        ppid = todo.pop()
        kids = [p for p, pp in parent.items() if pp == ppid]
        out += kids
        todo += kids
    return out


JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")  # thread names, cut to 15 chars
POLL = 0.1  # seconds between two reads of /proc by the CPU meter


def _tree_ticks() -> dict[tuple[int, int], int]:
    """user+system clock ticks of this process and every live descendant,
    by (pid, start time), without the JVM's JIT compiler threads."""
    out = {}
    for pid in [os.getpid()] + _descendants(os.getpid()):
        try:
            name, f = _stat(f"/proc/{pid}/stat")
            ticks = int(f[11]) + int(f[12])
            if name == "java":
                for tid in os.listdir(f"/proc/{pid}/task"):
                    thread, tf = _stat(f"/proc/{pid}/task/{tid}/stat")
                    if thread in JIT_THREADS:
                        ticks -= int(tf[11]) + int(tf[12])
        except (FileNotFoundError, ProcessLookupError):
            continue
        out[(pid, int(f[19]))] = ticks
    return out


class CpuMeter:
    """Running CPU seconds of this process and every descendant: the
    driver, the JVM and its Python workers.  Time the hypervisor stole
    from this guest is not in it.

    A thread reads /proc every ``POLL`` seconds and keeps the last ticks
    seen for each process, so a process that ends still counts up to its
    last read.  Reaped-children time cannot stand in for that: the Python
    worker daemon ignores SIGCHLD, so a worker's time is added to no
    parent when it ends.  A process first seen after the meter started
    counts whole.

    The JVM's JIT compiler threads are left out.  They compile the JVM's
    own code while it warms up, and how much they still do during a run
    varies from run to run.  The session pins them for the JVM's lifetime,
    so their time never moves into a dead thread's share of the process."""

    def __init__(self):
        self._seen: dict[tuple[int, int], int] = {}
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._base = 0
        self._base = self._update()
        self._thread = threading.Thread(target=self._poll, daemon=True)
        self._thread.start()

    def _update(self) -> int:
        snap = _tree_ticks()
        with self._lock:
            self._seen.update(snap)
            return sum(self._seen.values()) - self._base

    def _poll(self) -> None:
        while not self._stop.wait(POLL):
            self._update()

    def read(self) -> float:
        """CPU seconds since the meter started."""
        return self._update() / os.sysconf("SC_CLK_TCK")

    def close(self) -> None:
        self._stop.set()
        self._thread.join()


def peak_rss_mb(jvm_pid: int) -> float:
    """Peak RSS (VmHWM) of the JVM plus every live Python worker under it."""
    pids = [jvm_pid] + _descendants(jvm_pid)
    return sum(_status_kb(p, "VmHWM") for p in pids) / 1024.0
