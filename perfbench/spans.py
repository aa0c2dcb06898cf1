"""Spans and io-layer counters recorded from the benchmark's side of each
layer boundary.

``Tracer`` keeps spans in memory (name, start, end, parent) and writes them
out once, at the end of a run. A layer's self time is its span's duration
minus the time its child spans cover; summed over every layer, self times
add up to the root span, the timed pass.

``PlanTimes`` reads the Catalyst phase times of each finished SQL execution
from that execution's own planning tracker.

``IoProbe`` wraps the io functions the operators reach the index store
through. The wrappers must be installed before ``registry.all_queries()``
imports the operator modules: those bind ``from ..io import load_table`` at
import, or call through the ``io`` module at run time, so both see the
wrapper. Counting is always on (the tier checks need it); spans are recorded
only when the tracer is enabled.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager

#: io functions wrapped, with the layer name their spans carry
IO_LAYERS = {
    "load_table": "io.load_table",
    "memo_checkpoint": "io.memo",
    "memo_checkpoint_rowwise": "io.memo",
    "index_store_lookup": "io.store.lookup",
    "index_store_publish": "io.store.publish",
}


class Tracer:
    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield
            return
        rec = {
            "name": name,
            "start": time.perf_counter(),
            "end": None,
            "parent": self._stack[-1] if self._stack else None,
            **attrs,
        }
        self._stack.append(len(self.spans))
        self.spans.append(rec)
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def self_times(self, root: int) -> dict[str, float]:
        """Self time per layer over the subtree of span ``root``."""
        inside = {root}
        for i in range(root + 1, len(self.spans)):
            if self.spans[i]["parent"] in inside:
                inside.add(i)
        own = {i: self.spans[i]["end"] - self.spans[i]["start"] for i in inside}
        for i in inside:
            if i != root:
                own[self.spans[i]["parent"]] -= self.spans[i]["end"] - self.spans[i]["start"]
        out: dict[str, float] = {}
        for i, t in own.items():
            name = self.spans[i]["name"]
            out[name] = out.get(name, 0.0) + t
        return out

    def last_index(self) -> int:
        return len(self.spans) - 1

    def add_child(self, parent: int, name: str, seconds: float, **attrs) -> None:
        """Record ``seconds`` spent inside span ``parent`` that was measured
        by someone else (the engine's own clock), as a child span of it."""
        start = self.spans[parent]["start"]
        self.spans.append(
            {"name": name, "start": start, "end": start + seconds, "parent": parent, **attrs}
        )

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


class PlanTimes:
    """A ``QueryExecutionListener``, called through the py4j callback server,
    that records how long each finished SQL execution spent in analysis,
    optimization and physical planning, from its ``QueryPlanningTracker``
    (whole milliseconds). A noop write plans its write command once, inside
    the write; this reads that planning off the write's own tracker instead
    of planning the query a second time to time it."""

    PHASES = ("analysis", "optimization", "planning")

    def __init__(self) -> None:
        self.records: list[float] = []

    def onSuccess(self, func_name, qe, duration_ns):  # noqa: N802 (Java interface)
        self._record(qe)

    def onFailure(self, func_name, qe, exception):  # noqa: N802 (Java interface)
        self._record(qe)

    def _record(self, qe) -> None:
        ms = 0
        it = qe.tracker().phases().iterator()
        while it.hasNext():
            kv = it.next()
            if kv._1() in self.PHASES:
                ms += kv._2().durationMs()
        self.records.append(ms / 1e3)

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]


class IoProbe:
    """Per-pass counts of io calls, and which store tier served them.

    A store lookup made inside a publish is the publish's read-back of what
    it just wrote, not a lookup a query asked for, so it is not counted.
    A memo call is a session hit when it neither looked up nor published
    (the in-session dict served it), and served without a build when it did
    not publish."""

    def __init__(self, tracer: Tracer) -> None:
        self.tracer = tracer
        self._frames: list[dict] = []
        self._in_publish = 0
        self.reset()

    def reset(self) -> None:
        self.counts = {
            "load_table.calls": 0,
            "memo.calls": 0,
            "memo.session_hits": 0,
            "memo.served": 0,
            "store.lookups": 0,
            "store.hits": 0,
            "store.publishes": 0,
            "store.publish_failed": 0,
            "store.lookup_s": 0.0,
            "store.publish_s": 0.0,
        }
        self.looked_up: set[str] = set()
        self.published: set[str] = set()

    def install(self, io_mod) -> None:
        kinds = {
            "load_table": self._load_table,
            "memo_checkpoint": self._memo,
            "memo_checkpoint_rowwise": self._memo,
            "index_store_lookup": self._lookup,
            "index_store_publish": self._publish,
        }
        for fn_name, layer in IO_LAYERS.items():
            fn = getattr(io_mod, fn_name)
            wrapper = kinds[fn_name](layer, fn)
            wrapper.__wrapped__ = fn
            setattr(io_mod, fn_name, wrapper)

    def _load_table(self, layer: str, fn):
        def load_table(*args, **kwargs):
            self.counts["load_table.calls"] += 1
            with self.tracer.span(layer):
                return fn(*args, **kwargs)

        return load_table

    def _memo(self, layer: str, fn):
        def memo(*args, **kwargs):
            c = self.counts
            c["memo.calls"] += 1
            frame = {"lookups": 0, "publishes": 0}
            self._frames.append(frame)
            try:
                with self.tracer.span(layer):
                    return fn(*args, **kwargs)
            finally:
                self._frames.pop()
                if frame["publishes"] == 0:
                    c["memo.served"] += 1
                    if frame["lookups"] == 0:
                        c["memo.session_hits"] += 1

        return memo

    def _lookup(self, layer: str, fn):
        def lookup(spark, tag, key):
            if self._in_publish:
                return fn(spark, tag, key)
            c = self.counts
            t0 = time.perf_counter()
            with self.tracer.span(layer, tag=tag):
                got = fn(spark, tag, key)
            c["store.lookup_s"] += time.perf_counter() - t0
            c["store.lookups"] += 1
            c["store.hits"] += got is not None
            self.looked_up.add(tag)
            if self._frames:
                self._frames[-1]["lookups"] += 1
            return got

        return lookup

    def _publish(self, layer: str, fn):
        def publish(spark, tag, key, df):
            c = self.counts
            t0 = time.perf_counter()
            self._in_publish += 1
            try:
                with self.tracer.span(layer, tag=tag):
                    got = fn(spark, tag, key, df)
            finally:
                self._in_publish -= 1
            c["store.publish_s"] += time.perf_counter() - t0
            c["store.publishes"] += 1
            c["store.publish_failed"] += got is None
            self.published.add(tag)
            if self._frames:
                self._frames[-1]["publishes"] += 1
            return got

        return publish
