"""Span recording around dexspark's public entry points.

The tracer lives entirely in the benchmark: it replaces a handful of
public functions and methods with wrappers that record a span (name,
start, end, parent) and restores the originals on ``uninstall``.
Spans stay in memory until the run ends. Parents are tracked per
thread, because Structured Streaming calls ``foreachBatch`` on its own
thread while the main thread waits in ``run_available``.

An untraced run installs no wrappers and leaves ``enabled`` off, so the
spans the benchmark opens around its own operations record nothing.
"""

from __future__ import annotations

import functools
import itertools
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass
from typing import Any

# span name -> layer. A span nested under a view refresh belongs to the
# matview layer whatever its name: the view's own merge, commit and
# ledger walk are the cost of keeping the view, not of the table merge.
LAYER_OF = {
    "apply_changes": "apply",
    "table.committed_batch_ids": "ledger",
    "table.append": "quarantine",
    "table.merge": "merge",
    "manifest.commit": "manifest",
    "manifest.read_root": "manifest",
    "manifest.read_manifest": "manifest",
    "table.maintain": "maintain",
    "table.compact": "maintain",
    "matview.refresh": "matview",
    "table.read": "read",
    "table.count_rows": "read",
    "op.lookup": "read",
    "op.count": "read",
    "op.scan": "read",
    "op.write": "apply",
    "op.maintain": "maintain",
}
LAYERS = ("apply", "ledger", "quarantine", "merge", "manifest", "maintain", "matview", "read")


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None


class Tracer:
    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.enabled = True
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._patches: list[tuple[Any, str, Any]] = []

    def _stack(self) -> list[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextmanager
    def span(self, name: str):
        if not self.enabled or getattr(self._local, "paused", False):
            yield
            return
        stack = self._stack()
        sid = next(self._ids)
        parent = stack[-1] if stack else None
        stack.append(sid)
        t0 = time.time()
        try:
            yield
        finally:
            t1 = time.time()
            stack.pop()
            self.spans.append(Span(sid, name, t0, t1, parent))

    @contextmanager
    def paused(self):
        """Calls made by the benchmark's own bookkeeping record nothing."""
        self._local.paused = True
        try:
            yield
        finally:
            self._local.paused = False

    def wrap(self, owner: Any, attr: str, name: str) -> None:
        orig = owner.__dict__[attr] if isinstance(owner, type) else getattr(owner, attr)

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            with self.span(name):
                return orig(*args, **kwargs)

        setattr(owner, attr, traced)
        self._patches.append((owner, attr, orig))

    def install(self) -> None:
        """Wrap the public entry points of every layer the benchmark
        measures (see README.md for the layer map)."""
        from dexspark.cdc import apply as cdc_apply
        from dexspark.lake import manifest as mf
        from dexspark.lake.matview import AggViewSpec
        from dexspark.lake.table import LakeTable
        from dexspark.streaming import replay

        self.wrap(replay, "apply_changes", "apply_changes")
        self.wrap(cdc_apply, "apply_changes", "apply_changes")
        for meth in ("merge", "append", "committed_batch_ids", "maintain",
                     "compact", "read", "count_rows"):
            self.wrap(LakeTable, meth, f"table.{meth}")
        self.wrap(AggViewSpec, "refresh", "matview.refresh")
        self.wrap(mf, "commit_manifest", "manifest.commit")
        self.wrap(mf, "read_root", "manifest.read_root")
        self.wrap(mf, "read_manifest", "manifest.read_manifest")

    def uninstall(self) -> None:
        while self._patches:
            owner, attr, orig = self._patches.pop()
            setattr(owner, attr, orig)

    # ------------------------------------------------------------ analysis
    def layer_of(self) -> dict[int, str]:
        """Layer of every span: its own, unless a view refresh encloses it."""
        by_id = {s.id: s for s in self.spans}
        out: dict[int, str] = {}

        def resolve(s: Span) -> str:
            if s.id in out:
                return out[s.id]
            if s.parent is not None and s.parent in by_id:
                up = resolve(by_id[s.parent])
                if up == "matview":
                    out[s.id] = "matview"
                    return "matview"
            out[s.id] = LAYER_OF.get(s.name, "other")
            return out[s.id]

        for s in self.spans:
            resolve(s)
        return out

    def self_times(self) -> dict[int, float]:
        """Span duration minus the part of it its children cover."""
        kids: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                kids.setdefault(s.parent, []).append(s)
        return {
            s.id: (s.end - s.start)
            - covered([(c.start, c.end) for c in kids.get(s.id, [])], s.start, s.end)
            for s in self.spans
        }

    def unresolved_parents(self) -> list[int]:
        ids = {s.id for s in self.spans}
        return [s.id for s in self.spans if s.parent is not None and s.parent not in ids]


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total = 0.0
    cur_a = cur_b = None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


class StreamProgress:
    """Per-trigger progress of every streaming query, through Spark's
    public StreamingQueryListener. Registered in traced runs only."""

    def __init__(self, spark) -> None:
        from pyspark.sql.streaming import StreamingQueryListener

        outer = self
        self.progress: list[dict[str, Any]] = []
        self.run_ids: list[str] = []

        class _Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                outer.run_ids.append(str(event.runId))

            def onQueryProgress(self, event):
                p = event.progress
                outer.progress.append(
                    {
                        "run_id": str(p.runId),
                        "batch_id": int(p.batchId),
                        "num_input_rows": int(p.numInputRows),
                        "duration_ms": dict(p.durationMs),
                    }
                )

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self._listener = _Listener()
        self._spark = spark
        spark.streams.addListener(self._listener)

    def wait_for(self, run_id: str, n_batches: int, timeout: float = 10.0) -> None:
        """Listener events arrive asynchronously; wait until a query's
        progress for ``n_batches`` triggers has been delivered."""
        deadline = time.monotonic() + timeout
        while time.monotonic() < deadline:
            if sum(p["run_id"] == run_id for p in self.progress) >= n_batches:
                return
            time.sleep(0.02)

    def close(self) -> None:
        self._spark.streams.removeListener(self._listener)
