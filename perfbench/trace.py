"""In-memory span recorder and the runtime wrappers that feed it.

A span has a name, start, end, parent and thread. Wrappers are installed on
the library's public classes from here (the library itself is not edited)
and removed again, so a run can alternate traced and untraced cycles.
Spans opened on a worker thread with no open span of their own (the
engine's concurrent commit members) are parented to the innermost span open
on the main thread at that moment.

Self time = duration minus the part of the span's interval covered by the
union of its children's intervals (overlapping children are counted once).
"""

from __future__ import annotations

import contextlib
import functools
import json
import threading
import time
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float | None = None
    parent: int | None = None
    thread: int = 0
    attrs: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return (self.end if self.end is not None else self.start) - self.start


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of [lo, hi] covered by the union of ``intervals``."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


class Tracer:
    def __init__(self, clock=time.monotonic):
        self.clock = clock
        self.spans: list[Span] = []
        self._lock = threading.Lock()
        self._local = threading.local()
        self._open: list[Span] = []
        self._main = threading.main_thread().ident
        self._patches: list[tuple[type, str, object]] = []
        self.on_root_start = None  # callbacks for top-level spans
        self.on_root_end = None

    def _stack(self) -> list[Span]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def begin(self, name: str, **attrs) -> Span:
        st = self._stack()
        tid = threading.get_ident()
        with self._lock:
            if st:
                parent = st[-1].id
            else:
                main = [s for s in self._open if s.thread == self._main]
                parent = main[-1].id if main and tid != self._main else None
            sp = Span(len(self.spans), name, self.clock(), parent=parent, thread=tid,
                      attrs=attrs)
            self.spans.append(sp)
            self._open.append(sp)
        st.append(sp)
        if sp.parent is None and self.on_root_start:
            self.on_root_start(sp)
        return sp

    def end(self, sp: Span, end: float | None = None) -> Span:
        if sp.parent is None and self.on_root_end:
            self.on_root_end(sp)
        sp.end = self.clock() if end is None else end
        st = self._stack()
        if st and st[-1] is sp:
            st.pop()
        with self._lock:
            self._open.remove(sp)
        return sp

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        sp = self.begin(name, **attrs)
        try:
            yield sp
        finally:
            self.end(sp)

    def add_children(self, parent: Span, parts: list[tuple[str, float]]) -> None:
        """Record already-measured sequential sub-intervals of ``parent``
        (e.g. run_epoch's returned phase times) as its child spans, and
        re-parent existing children that start inside one of them."""
        t = parent.start
        made = []
        with self._lock:
            for name, dur in parts:
                sp = Span(len(self.spans), name, t, t + dur, parent.id, parent.thread)
                self.spans.append(sp)
                made.append(sp)
                t += dur
            for s in self.spans:
                if s.parent == parent.id and s not in made:
                    for m in made:
                        if m.start <= s.start < m.end:
                            s.parent = m.id
                            break

    # ---------- analysis ----------

    def children(self, sp: Span) -> list[Span]:
        return [s for s in self.spans if s.parent == sp.id]

    def self_time(self, sp: Span) -> float:
        kids = [(c.start, c.end) for c in self.children(sp) if c.end is not None]
        return sp.duration - covered(kids, sp.start, sp.end)

    def by_name(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name and s.end is not None]

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(
                [{**asdict(s), "self": self.self_time(s)} for s in self.spans
                 if s.end is not None],
                f, default=lambda o: o.__dict__,
            )

    # ---------- runtime wrappers ----------

    def wrap(self, cls: type, method: str, name: str) -> None:
        orig = getattr(cls, method)
        tracer = self

        @functools.wraps(orig)
        def traced(*a, **kw):
            sp = tracer.begin(name)
            try:
                return orig(*a, **kw)
            finally:
                tracer.end(sp)

        self._patches.append((cls, method, orig))
        setattr(cls, method, traced)

    def install_library_wrappers(self) -> None:
        """Wrap the public calls that execute Spark actions. Lazy builders
        (select_per_host_topk, prefilter_spark) are attributed through the
        stages of the call that triggers them."""
        from biz_crawlers_spark.engine.crawl import CrawlEngine
        from biz_crawlers_spark.filters.bloom import BloomShards
        from biz_crawlers_spark.tables.snaptable import SnapTable

        for m, n in (("run_epoch", "engine.run_epoch"),
                     ("add_seed_df", "frontier.seed"),
                     ("reseed_from_urls", "frontier.reseed"),
                     ("vacuum", "engine.vacuum")):
            self.wrap(CrawlEngine, m, n)
        for m in ("merge", "append", "adopt_files", "compact", "expire_snapshots"):
            self.wrap(SnapTable, m, f"tables.{m}")
        self.wrap(BloomShards, "add_spark", "filters.bloom_add")
        self.wrap(BloomShards, "rebuild_spark", "filters.bloom_rebuild")

    def uninstall(self) -> None:
        for cls, method, orig in reversed(self._patches):
            setattr(cls, method, orig)
        self._patches.clear()
