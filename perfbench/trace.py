"""In-memory spans around calls into the program's layers.

The tracer wraps a public function where its caller looks it up (a module
global or a class attribute) and puts the original back on ``restore``. It
never edits the program's files. Spans nest per thread; a span's self time is
its duration minus the time its direct child spans cover.
"""

from __future__ import annotations

import functools
import threading
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    child_s: float = 0.0


class Tracer:
    def __init__(self):
        self.spans: list[Span] = []
        self.counts: dict[str, int] = defaultdict(int)
        self.distinct: dict[str, set] = defaultdict(set)
        self._local = threading.local()
        self._patched: list[tuple[object, str, object]] = []

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str):
        stack = self._stack()
        sp = Span(name, time.perf_counter(), parent=stack[-1] if stack else None)
        self.spans.append(sp)
        idx = len(self.spans) - 1
        stack.append(idx)
        try:
            yield sp
        finally:
            stack.pop()
            sp.end = time.perf_counter()
            if sp.parent is not None:
                self.spans[sp.parent].child_s += sp.end - sp.start

    def wrap(self, owner, attr: str, name: str, keys=None) -> None:
        """Record a span named ``name`` around every call of
        ``owner.attr``. ``keys(args)`` gives the call's keys: their number
        adds to ``counts[name]`` and they join ``distinct[name]``."""
        orig = owner.__dict__[attr] if isinstance(owner, type) else getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            if keys is not None:
                ks = set(keys(args))
                tracer.counts[name] += len(ks)
                tracer.distinct[name].update(ks)
            with tracer.span(name):
                return orig(*args, **kwargs)

        setattr(owner, attr, traced)
        self._patched.append((owner, attr, orig))

    def restore(self) -> None:
        while self._patched:
            owner, attr, orig = self._patched.pop()
            setattr(owner, attr, orig)

    def totals(self) -> dict[str, tuple[float, float, int]]:
        """name -> (total seconds, self seconds, calls)."""
        out: dict[str, list] = defaultdict(lambda: [0.0, 0.0, 0])
        for sp in self.spans:
            t = out[sp.name]
            t[0] += sp.end - sp.start
            t[1] += sp.end - sp.start - sp.child_s
            t[2] += 1
        return {k: tuple(v) for k, v in out.items()}


def span_cost_s(calls: int = 20_000) -> float:
    """Seconds one wrapped call costs beyond the bare call."""

    class Owner:
        @staticmethod
        def noop():
            return None

    bare = Owner.noop
    t0 = time.perf_counter()
    for _ in range(calls):
        bare()
    t_bare = time.perf_counter() - t0
    tracer = Tracer()
    tracer.wrap(Owner, "noop", "noop")
    wrapped = Owner.noop
    t0 = time.perf_counter()
    for _ in range(calls):
        wrapped()
    t_wrapped = time.perf_counter() - t0
    tracer.restore()
    return max(t_wrapped - t_bare, 0.0) / calls


def trace_layers(tracer: Tracer) -> None:
    """Wrap the layer entry points the serving and batch paths call."""
    from mecab_ko_lucene_analyzer_spark import engine
    from mecab_ko_lucene_analyzer_spark.query import router, wand

    def terms(args):
        return args[1]

    tracer.wrap(engine.SearchEngine, "search", "engine.search")
    tracer.wrap(engine, "analyze_query", "analysis.analyze")
    tracer.wrap(router, "term_dfs", "query.dfs")
    tracer.wrap(engine, "execute_ast", "query.execute")
    tracer.wrap(engine, "wand_topk", "query.wand")
    tracer.wrap(wand.BlockCache, "get", "query.block_get", keys=terms)
    tracer.wrap(wand.DirectBlockReader, "fetch", "query.block_fetch", keys=terms)
    tracer.wrap(wand.DirectDocMapReader, "fetch", "query.resolve")
    tracer.wrap(router, "distributed_ast_topk", "query.routed")
