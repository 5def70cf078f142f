"""In-memory spans, recorded around the program's layer boundaries.

The traced run wraps public functions of each layer at runtime, from the
benchmark's own files; no file of the program changes.  A span holds its
name, start, end, parent span and the benchmark op that caused it.  Spans
stay in memory until the run ends.
"""

from __future__ import annotations

import functools
import os
import sys
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self):
        self.spans: list[dict] = []
        self.op: str | None = None
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        rec = {
            "name": name,
            "start": time.perf_counter(),
            "end": None,
            "parent": self._stack[-1] if self._stack else None,
            "op": self.op,
            **attrs,
        }
        self._stack.append(len(self.spans))
        self.spans.append(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def wrap(self, name: str, fn, attrs=None):
        """``fn`` recorded as a span; ``attrs(*args)`` adds fields to it."""

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            extra = attrs(*args) if attrs is not None else {}
            with self.span(name, **extra):
                return fn(*args, **kwargs)

        return traced


class Patches:
    """Attribute replacements that ``restore()`` undoes in reverse order."""

    def __init__(self):
        self._saved: list[tuple[object, str, object]] = []

    def replace(self, owner, attr: str, new) -> None:
        self._saved.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, new)

    def replace_everywhere(self, original, new) -> None:
        """Replace ``original`` in every loaded program module that imported
        it by name."""
        for mod_name, mod in list(sys.modules.items()):
            if mod is None or not mod_name.startswith("phoenix_spark"):
                continue
            for attr, value in list(vars(mod).items()):
                if value is original:
                    self.replace(mod, attr, new)

    def restore(self) -> None:
        while self._saved:
            owner, attr, old = self._saved.pop()
            setattr(owner, attr, old)


def _segment_count(table) -> int:
    try:
        return sum(1 for p in os.listdir(table.seg_dir) if p.startswith("seg-"))
    except OSError:
        return 0


def install(tracer: Tracer) -> Patches:
    """Wrap the layer entry points named in the benchmark's README."""
    from pyspark.sql import SparkSession

    import phoenix_spark.queries  # noqa: F401  (load every module first)
    from phoenix_spark import catalog, engine, indexes, mutations, sqlfront
    from phoenix_spark.queries import _util, registry

    registry()
    p = Patches()
    p.replace(engine.Engine, "sql", tracer.wrap("engine.sql", engine.Engine.sql))
    classify = tracer.wrap("sqlfront.classify", sqlfront.classify)
    p.replace_everywhere(sqlfront.classify, classify)
    translate = tracer.wrap("sqlfront.translate", sqlfront.translate_phoenix_sql)
    p.replace_everywhere(sqlfront.translate_phoenix_sql, translate)
    p.replace_everywhere(
        catalog.read_table, tracer.wrap("catalog.read_table", catalog.read_table)
    )
    p.replace(SparkSession, "sql", tracer.wrap("catalyst.analyze", SparkSession.sql))
    mt = mutations.ManagedTable
    p.replace(
        mt,
        "read",
        tracer.wrap(
            "mutations.read",
            mt.read,
            lambda self, *a: {"table": self.name, "segments": _segment_count(self)},
        ),
    )
    for method in ("upsert_df", "upsert_rows", "delete_where", "compact"):
        p.replace(
            mt,
            method,
            tracer.wrap(
                f"mutations.{method}",
                getattr(mt, method),
                lambda self, *a: {"table": self.name},
            ),
        )
    p.replace_everywhere(
        indexes.choose_index, tracer.wrap("indexes.choose", indexes.choose_index)
    )
    spread = _util.spread

    def traced_spread(spark, df):
        before = len(_util._SPLIT_COUNT_CACHE)  # noqa: SLF001
        with tracer.span("queries.spread") as rec:
            out = spread(spark, df)
        rec["memo_hit"] = len(_util._SPLIT_COUNT_CACHE) == before  # noqa: SLF001
        return out

    p.replace_everywhere(spread, functools.wraps(spread)(traced_spread))
    return p


def self_ms(spans: list[dict], idx: int) -> float:
    """A span's duration minus the time its direct children cover."""
    s = spans[idx]
    child = sum(c["end"] - c["start"] for c in spans if c["parent"] == idx)
    return (s["end"] - s["start"] - child) * 1000.0


def check_nesting(spans: list[dict]) -> list[str]:
    """Problems with span structure: open spans, children outside parents,
    or a child attributed to another op than its parent."""
    problems = []
    for i, s in enumerate(spans):
        if s["end"] is None:
            problems.append(f"span {i} {s['name']} never ended")
            continue
        par = s["parent"]
        if par is None:
            continue
        p = spans[par]
        if not (p["start"] <= s["start"] and s["end"] <= p["end"]):
            problems.append(f"span {i} {s['name']} escapes parent {p['name']}")
        if p["op"] != s["op"]:
            problems.append(f"span {i} {s['name']} has op {s['op']} != {p['op']}")
    return problems
