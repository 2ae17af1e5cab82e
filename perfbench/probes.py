"""Measurement seams the benchmark attaches from outside the engine.

Nothing here modifies ``dicomdb_spark``: counts come from wrappers
passed through the engine's public parameters (``parser=``,
``connect=``), from Spark accumulators the wrappers add to inside the
Python workers, from the streaming query's progress, and from the Spark
event log, whose jobs are attributed to layers by the job group the
benchmark sets around each span.
"""

from __future__ import annotations

import json
import os
import threading
import time

# -- spans -----------------------------------------------------------------


class Spans:
    """In-memory span records, written out once at the end of a run."""

    def __init__(self) -> None:
        self.records: list[dict] = []
        self._t0 = time.perf_counter()

    def span(self, name: str, op: int) -> "_Span":
        """Time a layer boundary of op ``op`` (the span's request id)."""
        return _Span(self, name, op)

    def total(self, name: str) -> float:
        return sum(r["end"] - r["start"] for r in self.records if r["name"] == name)

    def per_op(self, name: str) -> dict[int, float]:
        out: dict[int, float] = {}
        for r in self.records:
            if r["name"] == name:
                out[r["op"]] = out.get(r["op"], 0.0) + r["end"] - r["start"]
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for r in self.records:
                f.write(json.dumps(r) + "\n")


class _Span:
    def __init__(self, spans: Spans, name: str, op: int):
        self.spans, self.name, self.op = spans, name, op

    def __enter__(self):
        self.start = time.perf_counter() - self.spans._t0
        return self

    def __exit__(self, *exc):
        end = time.perf_counter() - self.spans._t0
        self.spans.records.append(
            {"name": self.name, "op": self.op, "start": self.start, "end": end}
        )
        return False


# -- counting wrappers (run inside Spark's Python workers) ------------------


class CountingParser:
    """``HeaderParser`` wrapper: counts calls and their busy time."""

    def __init__(self, sc, parser=None):
        self.calls = sc.accumulator(0)
        self.secs = sc.accumulator(0.0)
        self.parser = parser

    def __call__(self, content: bytes) -> dict:
        from dicomdb_spark.sources.dicom import minimal_parser

        t = time.perf_counter()
        try:
            return (self.parser or minimal_parser)(content)
        finally:
            self.calls.add(1)
            self.secs.add(time.perf_counter() - t)

    def snapshot(self) -> tuple[int, float]:
        return self.calls.value, self.secs.value


DB_COUNTERS = (
    "statements",
    "rows_written",
    "commits",
    "upsert_s",
    "readback_s",
    "readback_rows",
    "serie_rows",
    "exam_rows",
)


class CountingConnect:
    """Zero-arg DB-API factory (the engine's ``connect`` parameter) whose
    connections time and count statements, upserted rows and commits.

    One upsert statement writes one row (``render_upsert_sql``); a
    ``SELECT`` counts as read-back, timed through its ``fetchall``.
    """

    def __init__(self, sc, db_path: str):
        self.db_path = db_path
        self.acc = {k: sc.accumulator(0.0 if k.endswith("_s") else 0) for k in DB_COUNTERS}

    def __call__(self):
        import duckdb

        return _CountingConnection(duckdb.connect(self.db_path), self.acc)

    def snapshot(self) -> dict[str, float]:
        return {k: a.value for k, a in self.acc.items()}


class _CountingConnection:
    def __init__(self, con, acc):
        self._con, self._acc = con, acc

    def cursor(self):
        return self

    def execute(self, sql: str, *args):
        t = time.perf_counter()
        res = self._con.execute(sql, *args)
        dt = time.perf_counter() - t
        self._acc["statements"].add(1)
        if sql.lstrip()[:6].upper() == "SELECT":
            return _CountingResult(res, self._acc, dt)
        self._acc["upsert_s"].add(dt)
        if sql.lstrip()[:6].upper() == "INSERT":
            self._acc["rows_written"].add(1)
            table = sql.split(None, 3)[2].strip('"`')
            if table in ("serie", "exam"):
                self._acc[f"{table}_rows"].add(1)
        return res

    def commit(self):
        t = time.perf_counter()
        self._con.commit()
        self._acc["commits"].add(1)
        self._acc["upsert_s"].add(time.perf_counter() - t)

    def close(self):
        self._con.close()


class _CountingResult:
    def __init__(self, res, acc, dt):
        self._res, self._acc, self._dt = res, acc, dt

    def fetchall(self):
        t = time.perf_counter()
        rows = self._res.fetchall()
        self._acc["readback_s"].add(self._dt + time.perf_counter() - t)
        self._acc["readback_rows"].add(len(rows))
        return rows


# -- Spark event log: engine counters per job group ------------------------

ENGINE_COUNTERS = (
    "tasks",
    "cpu_s",
    "gc_s",
    "scheduler_delay_s",
    "fetch_wait_s",
    "shuffle_write_bytes",
    "spill_bytes",
    "python_bytes",
)

_PYTHON_BYTES = ("data sent to Python workers", "data returned from Python workers")


def engine_counters(event_log_dir: str) -> dict[str, dict[str, float]]:
    """Sum task metrics from the event log(s) in ``event_log_dir`` by the
    job group of the job that ran each task's stage (``"streaming"`` for
    every job of a streaming query)."""
    stage_group: dict[int, str] = {}
    out: dict[str, dict[str, float]] = {}
    paths = sorted(
        os.path.join(d, n)
        for d, _dirs, names in os.walk(event_log_dir)
        for n in names
        if not n.startswith("appstatus")  # rolling logs: marker file
    )
    for path in paths:
        with open(path) as f:
            for line in f:
                try:
                    ev = json.loads(line)
                except ValueError:  # blank or cut-off last line
                    continue
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    # a streaming query sets its own job group (its run
                    # id) on every job it runs, foreachBatch jobs included
                    if "sql.streaming.queryId" in props:
                        group = "streaming"
                    else:
                        group = props.get("spark.jobGroup.id")
                    if group:
                        for sid in ev.get("Stage IDs", ()):
                            stage_group[sid] = group
                elif kind == "SparkListenerTaskEnd":
                    group = stage_group.get(ev.get("Stage ID"))
                    m = ev.get("Task Metrics")
                    if group is None or not m:
                        continue
                    c = out.setdefault(group, dict.fromkeys(ENGINE_COUNTERS, 0.0))
                    info = ev.get("Task Info", {})
                    dur_ms = info.get("Finish Time", 0) - info.get("Launch Time", 0)
                    busy_ms = (
                        m.get("Executor Run Time", 0)
                        + m.get("Executor Deserialize Time", 0)
                        + m.get("Result Serialization Time", 0)
                        + info.get("Getting Result Time", 0)
                    )
                    c["tasks"] += 1
                    c["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                    c["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                    c["scheduler_delay_s"] += max(dur_ms - busy_ms, 0) / 1e3
                    c["fetch_wait_s"] += m.get("Shuffle Read Metrics", {}).get("Fetch Wait Time", 0) / 1e3
                    c["shuffle_write_bytes"] += m.get("Shuffle Write Metrics", {}).get(
                        "Shuffle Bytes Written", 0
                    )
                    c["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                    for acc in info.get("Accumulables", ()):
                        if acc.get("Name") in _PYTHON_BYTES:
                            c["python_bytes"] += float(acc.get("Update", 0) or 0)
    return out


# -- process-tree resident memory ------------------------------------------


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(d))
    return kids


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def tree_rss_mb(root: int) -> float:
    kids = _children()
    todo, total = [root], 0
    while todo:
        pid = todo.pop()
        total += _rss_kb(pid)
        todo.extend(kids.get(pid, ()))
    return total / 1024.0


class RssSampler:
    """Background sampler of this process tree's summed RSS (driver
    Python, the JVM it launched and the JVM's Python workers)."""

    def __init__(self, interval_s: float = 0.1):
        self.interval_s = interval_s
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def __enter__(self):
        self._thread.start()
        return self

    def _run(self) -> None:
        pid = os.getpid()
        while not self._stop.is_set():
            self.peak_mb = max(self.peak_mb, tree_rss_mb(pid))
            self._stop.wait(self.interval_s)

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)
        return False


def load1() -> float:
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])
