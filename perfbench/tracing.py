"""Tracing for the ``--trace 1`` run: in-memory spans around calls
into the engine's public functions, and a ``StreamingQueryListener``
that keeps each micro-batch's progress.

Wrappers are installed from here, never inside the engine, and only
for the timed phase of a traced run. A span is ``(id, parent, op,
name, t0, t1)``; spans of one op share the op id, and a span opened
while another is open on the same thread is its child.
"""

from __future__ import annotations

import functools
import sys
import threading
import time
from contextlib import contextmanager
from datetime import datetime


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self.op: int | None = None
        self._local = threading.local()
        self._ids = 0
        self._lock = threading.Lock()
        self._restore: list[tuple[object, str, object]] = []

    # ------------------------------------------------------------ spans

    def _stack(self) -> list[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextmanager
    def span(self, name: str, **attrs):
        with self._lock:
            self._ids += 1
            sid = self._ids
        stack = self._stack()
        rec = {
            "id": sid,
            "parent": stack[-1] if stack else None,
            "op": self.op,
            "name": name,
            "t0": time.time(),
            **attrs,
        }
        stack.append(sid)
        try:
            yield
        finally:
            stack.pop()
            rec["t1"] = time.time()
            with self._lock:
                self.spans.append(rec)

    # --------------------------------------------------------- wrappers

    def wrap(self, owner, attr: str, name: str) -> None:
        """Replace ``owner.attr`` with a wrapper that records a span. A
        call made inside another call of the same name (recursion) opens
        no span of its own."""
        orig = getattr(owner, attr)
        local = self._local
        busy = f"in_{name}"

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            if getattr(local, busy, False):
                return orig(*args, **kwargs)
            setattr(local, busy, True)
            try:
                with self.span(name):
                    return orig(*args, **kwargs)
            finally:
                setattr(local, busy, False)

        setattr(owner, attr, wrapper)
        self._restore.append((owner, attr, orig))

    def install_engine_wrappers(self) -> None:
        """Wrap translate (at every module that imported it by name),
        ChWarehouse.execute, the reconcile entry points, their planners
        and apply_statements."""
        from clickhouse_modules_spark import ddl
        from clickhouse_modules_spark.functions import ch_sql
        from clickhouse_modules_spark.reconcile import engine

        translate = ch_sql.translate
        for mod in list(sys.modules.values()):
            if (
                getattr(mod, "__name__", "").startswith("clickhouse_modules_spark")
                and getattr(mod, "translate", None) is translate
            ):
                self.wrap(mod, "translate", "ch_sql.translate")
        self.wrap(ddl.ChWarehouse, "execute", "ddl.execute")
        for fn in ("reconcile_user", "reconcile_roles", "reconcile_grants"):
            self.wrap(engine, fn, "reconcile.call")
        for fn in ("plan_user", "plan_roles", "plan_grants"):
            self.wrap(engine, fn, "reconcile.plan")
        self.wrap(engine, "apply_statements", "reconcile.apply")

    def uninstall(self) -> None:
        while self._restore:
            owner, attr, orig = self._restore.pop()
            setattr(owner, attr, orig)

    # ------------------------------------------------------------ query

    def total(self, name: str) -> tuple[int, float]:
        """(count, summed seconds) of spans named ``name``."""
        xs = [s["t1"] - s["t0"] for s in self.spans if s["name"] == name]
        return len(xs), sum(xs)


def _epoch(ts: str) -> float:
    """StreamingQueryProgress.timestamp (ISO-8601, UTC) -> epoch s."""
    return datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()


def make_stream_listener():
    """A ``StreamingQueryListener`` keeping one dict per progress event."""
    from pyspark.sql.streaming import StreamingQueryListener

    class ProgressLog(StreamingQueryListener):
        def __init__(self) -> None:
            self.batches: list[dict] = []
            self._lock = threading.Lock()

        def onQueryStarted(self, event) -> None:
            pass

        def onQueryProgress(self, event) -> None:
            p = event.progress
            ops = p.stateOperators or []
            rec = {
                "run_id": str(p.runId),
                "batch": p.batchId,
                "t": _epoch(p.timestamp),
                "input_rows": p.numInputRows,
                "durations": dict(p.durationMs or {}),
                "state_rows": sum(o.numRowsTotal for o in ops),
                "state_bytes": sum(o.memoryUsedBytes for o in ops),
                "state_partitions": sum(o.numShufflePartitions for o in ops),
            }
            with self._lock:
                self.batches.append(rec)

        def onQueryIdle(self, event) -> None:
            pass

        def onQueryTerminated(self, event) -> None:
            pass

    return ProgressLog()


def streaming_totals(batches: list[dict], windows) -> dict:
    """Micro-batch phases summed over batches triggered inside
    ``windows``; state figures take each query's largest batch."""
    inside = [
        b for b in batches if any(a <= b["t"] < z for a, z in windows)
    ]
    dur = lambda k: sum(b["durations"].get(k, 0) for b in inside)  # noqa: E731
    per_query: dict[str, dict] = {}
    for b in inside:
        q = per_query.setdefault(
            b["run_id"], {"rows": 0, "bytes": 0, "parts": 0}
        )
        q["rows"] = max(q["rows"], b["state_rows"])
        q["bytes"] = max(q["bytes"], b["state_bytes"])
        q["parts"] = max(q["parts"], b["state_partitions"])
    n = len(inside)
    return {
        "batches": n,
        "empty_batch_frac": (
            sum(1 for b in inside if b["input_rows"] == 0) / n if n else 0.0
        ),
        "trigger_ms": dur("triggerExecution"),
        "add_batch_ms": dur("addBatch"),
        "planning_ms": dur("queryPlanning"),
        "wal_commit_ms": dur("walCommit"),
        "commit_offsets_ms": dur("commitOffsets"),
        "state_rows": sum(q["rows"] for q in per_query.values()),
        "state_mem_mb": sum(q["bytes"] for q in per_query.values()) / 2**20,
        "state_partitions": sum(q["parts"] for q in per_query.values()),
    }
