"""Outside-in layer tracing for the traced run.

Spans are recorded from this file only, by wrapping the public entry
points of the layers (nothing inside the package changes):

* ``DataFrame.localCheckpoint`` (the classic implementation PySpark 4.1
  dispatches to): the eager boundaries of ``run_iteration`` and of the
  operators that checkpoint internally;
* ``SnapshotStore.commit / read / manifest / expire_snapshots``;
* ``DataFrameWriter.parquet``: every table write, classified by path;
* whatever stage calls a workload wraps with ``Tracer.span``.

Each span sets a Spark job description ``perfbench:<op>:<span>`` on the
calling thread, so the uncompressed event log attributes every task to
the innermost span that launched it; ``fold_event_log`` folds
``SparkListenerTaskEnd`` metrics per description after the session
stops. Spans and counts stay in memory until the run ends.
"""

from __future__ import annotations

import json
import os
import re
import threading
import time
from contextlib import contextmanager

from harness import dir_bytes

DESC_KEY = "spark.job.description"
_DESC_RE = re.compile(r"^perfbench:(\d+):(.+)$")

# SnapshotStore write paths: <root>/snap=N/<table>[/<mode>]
_WRITE_KINDS = {
    ("urlseen", "add"): "urlseen_add",
    ("frontier", "add"): "frontier_add",
    ("frontier", "delete"): "frontier_delete",
    ("host_state", "upsert"): "host_state_upsert",
    ("host_backoff", "upsert"): "host_backoff_upsert",
}


def classify_write(path: str) -> str | None:
    """Span name of a SnapshotStore table write; None for other writes,
    which stay billed to the caller's span."""
    parts = os.path.normpath(path).split(os.sep)
    snap_i = next(
        (i for i, p in enumerate(parts) if p.startswith("snap=")), None
    )
    if snap_i is None:
        return None
    rest = parts[snap_i + 1 :]
    if rest and rest[-1] == "compacted":
        return "checkpoint.compact"
    if len(rest) == 1:
        return "checkpoint.write_s." + rest[0]
    return "checkpoint.write_s." + _WRITE_KINDS.get(
        (rest[0], rest[1]), f"{rest[0]}_{rest[1]}"
    )


class Tracer:
    """Install with ``install()``; spans are recorded only while an op is
    open (``op(i)``) and ``enabled`` is true, so traced and untraced ops
    can alternate within one run."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.enabled = False
        self.op_index: int | None = None
        self.spans: list[dict] = []
        self._lock = threading.Lock()
        self._local = threading.local()
        self._ckpt_names: dict[str, tuple[str, ...]] = {}
        self._ckpt_seen: dict[int, int] = {}
        self._ids = iter(range(1, 1 << 62))
        self._undo: list[tuple[object, str, object]] = []

    # ------------------------------------------------------------ recording
    def _on(self) -> bool:
        return self.enabled and self.op_index is not None

    @contextmanager
    def span(self, name: str, meta: dict | None = None):
        if not self._on():
            yield
            return
        op = self.op_index
        prev = self.sc.getLocalProperty(DESC_KEY)
        self.sc.setLocalProperty(DESC_KEY, f"perfbench:{op}:{name}")
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        parent_id = stack[-1][1] if stack else None
        with self._lock:
            span_id = next(self._ids)
        stack.append((name, span_id))
        w0 = time.time()
        t0 = time.perf_counter()
        try:
            yield
        finally:
            t1 = time.perf_counter()
            stack.pop()
            self.sc.setLocalProperty(DESC_KEY, prev)
            with self._lock:
                self.spans.append(
                    {
                        "op": op,
                        "name": name,
                        "id": span_id,
                        "parent_id": parent_id,
                        "start": t0,
                        "end": t1,
                        "wall_start": w0,
                        "wall_end": w0 + (t1 - t0),
                        "meta": {} if meta is None else meta,
                    }
                )

    @contextmanager
    def op(self, index: int, traced: bool):
        """One timed operation; spans are recorded when `traced`."""
        self.op_index = index
        self.enabled = traced
        try:
            with self.span("op"):
                yield
        finally:
            self.op_index = None
            self.enabled = False

    # -------------------------------------------------------------- patches
    def _patch(self, owner, attr: str, make) -> None:
        orig = getattr(owner, attr)
        self._undo.append((owner, attr, orig))
        setattr(owner, attr, make(orig))

    def install(self, checkpoint_names: dict[str, tuple[str, ...]]) -> None:
        """`checkpoint_names` maps a span name to the names of the eager
        ``localCheckpoint`` calls made directly under it, in call order;
        any other checkpoint is named ``<enclosing span>.ckpt``."""
        self._ckpt_names = dict(checkpoint_names)
        from pyspark.sql.classic.dataframe import DataFrame as ClassicDF
        from pyspark.sql.readwriter import DataFrameWriter

        from commoncrawl_fetcher_lite_spark.frontier.checkpoint import (
            SnapshotStore,
        )

        tracer = self

        def wrap_ckpt(orig):
            def localCheckpoint(df, eager=True, *a, **kw):
                if not tracer._on() or not eager:
                    return orig(df, eager, *a, **kw)
                top, top_id = tracer._local.stack[-1]
                names = tracer._ckpt_names.get(top, ())
                i = tracer._ckpt_seen.get(top_id, 0)
                tracer._ckpt_seen[top_id] = i + 1
                name = names[i] if i < len(names) else top + ".ckpt"
                meta: dict = {}
                with tracer.span(name, meta):
                    out = orig(df, eager, *a, **kw)
                # row count of the stored blocks: an extra job, kept in
                # its own span so it is not billed to the layer
                with tracer.span("trace.count"):
                    meta["rows"] = out.count()
                return out

            return localCheckpoint

        def wrap_span(name):
            def make(orig):
                def wrapped(*a, **kw):
                    with tracer.span(name):
                        return orig(*a, **kw)

                return wrapped

            return make

        def wrap_parquet(orig):
            def parquet(writer, path, *a, **kw):
                kind = classify_write(str(path))
                if kind is None or not tracer._on():
                    return orig(writer, path, *a, **kw)
                meta = {"path": str(path)}
                with tracer.span(kind, meta):
                    out = orig(writer, path, *a, **kw)
                    meta["bytes"] = dir_bytes(str(path))
                return out

            return parquet

        self._patch(ClassicDF, "localCheckpoint", wrap_ckpt)
        self._patch(DataFrameWriter, "parquet", wrap_parquet)
        self._patch(SnapshotStore, "commit", wrap_span("checkpoint.commit"))
        self._patch(
            SnapshotStore, "expire_snapshots", wrap_span("checkpoint.expire")
        )
        self._patch(SnapshotStore, "manifest", wrap_span("checkpoint.manifest"))
        self._patch(SnapshotStore, "read", wrap_span("checkpoint.read"))

    def uninstall(self) -> None:
        while self._undo:
            owner, attr, orig = self._undo.pop()
            setattr(owner, attr, orig)

    # ------------------------------------------------------------ analysis
    def op_spans(self, op: int) -> list[dict]:
        return [s for s in self.spans if s["op"] == op]



def span_totals(spans: list[dict]) -> dict[str, float]:
    out: dict[str, float] = {}
    for s in spans:
        out[s["name"]] = out.get(s["name"], 0.0) + (s["end"] - s["start"])
    return out


def within(spans: list[dict], span: dict) -> list[dict]:
    """Spans that started inside `span`'s interval, on any thread."""
    return [s for s in spans if span["start"] <= s["start"] < span["end"]]


def fold_event_log(events_dir: str) -> dict:
    """Fold the (uncompressed) event log per job description.

    Returns {"by_desc": {desc: totals}, "stages": {stage_id: info}} where
    totals carry jobs, tasks, executor_s, cpu_s, shuffle_write_bytes,
    shuffle_read_bytes and spill_bytes, and stage info carries the
    description, task count, wall and longest task."""
    files = [
        os.path.join(events_dir, f)
        for f in os.listdir(events_dir)
        if not f.startswith(".")
    ]
    stage_desc: dict[int, str | None] = {}
    by_desc: dict[str, dict] = {}
    stages: dict[int, dict] = {}
    tasks: list[tuple[float, float]] = []

    def tot(desc: str) -> dict:
        return by_desc.setdefault(
            desc,
            {
                "jobs": 0,
                "tasks": 0,
                "executor_s": 0.0,
                "cpu_s": 0.0,
                "shuffle_write_bytes": 0,
                "shuffle_read_bytes": 0,
                "spill_bytes": 0,
            },
        )

    for path in files:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    desc = (ev.get("Properties") or {}).get(DESC_KEY)
                    for sid in ev.get("Stage IDs", []):
                        stage_desc[sid] = desc
                    if desc:
                        tot(desc)["jobs"] += 1
                elif kind == "SparkListenerTaskEnd":
                    sid = ev["Stage ID"]
                    desc = stage_desc.get(sid)
                    info = ev.get("Task Info", {})
                    dur = (info.get("Finish Time", 0) - info.get("Launch Time", 0)) / 1e3
                    tasks.append((info.get("Launch Time", 0) / 1e3,
                                  info.get("Finish Time", 0) / 1e3))
                    st = stages.setdefault(
                        sid,
                        {"desc": desc, "tasks": 0, "max_task_s": 0.0, "wall_s": None,
                         "executor_s": 0.0},
                    )
                    st["tasks"] += 1
                    st["max_task_s"] = max(st["max_task_s"], dur)
                    m = ev.get("Task Metrics") or {}
                    ex = m.get("Executor Run Time", 0) / 1e3
                    st["executor_s"] += ex
                    if not desc:
                        continue
                    t = tot(desc)
                    t["tasks"] += 1
                    t["executor_s"] += ex
                    t["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                    sw = m.get("Shuffle Write Metrics") or {}
                    t["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
                    sr = m.get("Shuffle Read Metrics") or {}
                    t["shuffle_read_bytes"] += sr.get(
                        "Remote Bytes Read", 0
                    ) + sr.get("Local Bytes Read", 0)
                    t["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get(
                        "Disk Bytes Spilled", 0
                    )
                elif kind == "SparkListenerStageCompleted":
                    si = ev["Stage Info"]
                    st = stages.setdefault(
                        si["Stage ID"],
                        {"desc": stage_desc.get(si["Stage ID"]), "tasks": 0,
                         "max_task_s": 0.0, "executor_s": 0.0},
                    )
                    if "Submission Time" in si and "Completion Time" in si:
                        st["wall_s"] = (
                            si["Completion Time"] - si["Submission Time"]
                        ) / 1e3
    return {"by_desc": by_desc, "stages": stages, "tasks": tasks}


def idle_time(tasks: list[tuple[float, float]], start: float, end: float) -> float:
    """Wall in [start, end] (epoch s) during which no task was running:
    driver planning, job scheduling and Python driver work."""
    busy, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, start), min(e, end)) for s, e in tasks if e > start and s < end):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                busy += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        busy += cur_e - cur_s
    return (end - start) - busy


def parse_desc(desc: str | None) -> tuple[int, str] | None:
    m = _DESC_RE.match(desc or "")
    return (int(m.group(1)), m.group(2)) if m else None


def per_span_event_metrics(folded: dict, ops: list[int], cores: int,
                           span_walls: dict[str, float]) -> dict[str, dict]:
    """Event-log totals per span name over the given ops, with
    busy_ratio = executor time ÷ (span wall × cores)."""
    want = set(ops)
    out: dict[str, dict] = {}
    for desc, t in folded["by_desc"].items():
        p = parse_desc(desc)
        if p is None or p[0] not in want:
            continue
        acc = out.setdefault(p[1], {k: 0 for k in t})
        for k, v in t.items():
            acc[k] += v
    for name, acc in out.items():
        wall = span_walls.get(name)
        if wall:
            acc["busy_ratio"] = acc["executor_s"] / (wall * cores)
    return out


def unit_of(key: str) -> str:
    """Unit of a per-layer metric, from its name."""
    if key.endswith(("_s", ".s")) or key.startswith("checkpoint.write_s."):
        return "s"
    if key.endswith(("bytes", "_per_url")):
        return "B"
    if key.endswith(("ratio", "share", "amplification")):
        return "ratio"
    return "count"
