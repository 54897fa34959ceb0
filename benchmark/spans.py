"""Spans around calls into fa_spark's public functions, recorded from outside.

A traced call forces its DataFrame result (persist, then a noop write) inside
its span, so the work Spark would otherwise do lazily later is charged to the
layer that defined it.  Spans stay in memory; ``ledger`` turns them into
self times (a span minus the part of it its child spans cover).
"""

from __future__ import annotations

import contextlib
import time


class Tracer:
    """Spans of one traced iteration.  Span names are ``<layer>:<function>``;
    the layer is a module of fa_spark (``stages.dedup``, ``lineage``, ...)."""

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[dict] = []
        self.rows: dict[str, int] = {}  # span name -> rows of its forced result
        self.hooks: dict[str, object] = {}  # span name -> callback(result)
        self._stack: list[int] = []
        self._cached: list = []

    @contextlib.contextmanager
    def span(self, name: str):
        rec = {"name": name, "start": time.monotonic(), "end": None,
               "parent": self._stack[-1] if self._stack else None,
               "run_id": self.run_id}
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        try:
            yield rec
        finally:
            rec["end"] = time.monotonic()
            self._stack.pop()

    def force(self, name: str, df):
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        df = df.persist()
        obs = Observation(name.replace(":", "_").replace(".", "_"))
        df.observe(obs, F.count(F.lit(1)).alias("rows")).write.format(
            "noop").mode("overwrite").save()
        self.rows[name] = self.rows.get(name, 0) + obs.get["rows"]
        self._cached.append(df)
        return df

    def wrap(self, fn, name: str):
        from pyspark.sql import DataFrame

        def traced(*args, **kwargs):
            with self.span(name):
                out = fn(*args, **kwargs)
                if isinstance(out, DataFrame):
                    out = self.force(name, out)
                hook = self.hooks.get(name)
                if hook is not None:
                    hook(out)
            return out

        return traced

    def release(self) -> None:
        while self._cached:
            self._cached.pop().unpersist()


@contextlib.contextmanager
def patched(targets: list[tuple[object, str, str]], tracer: Tracer):
    """Temporarily replace ``module.attr`` with its traced form for each
    (module, attr, span name) in ``targets``."""
    saved = [(mod, attr, getattr(mod, attr)) for mod, attr, _ in targets]
    try:
        for mod, attr, name in targets:
            setattr(mod, attr, tracer.wrap(getattr(mod, attr), name))
        yield
    finally:
        for mod, attr, fn in saved:
            setattr(mod, attr, fn)


def self_times(spans: list[dict]) -> list[float]:
    """Self time of each span: its duration minus the union of its children's
    intervals (children of one parent never overlap here: one driver thread)."""
    child = [0.0] * len(spans)
    for s in spans:
        if s["parent"] is not None:
            child[s["parent"]] += s["end"] - s["start"]
    return [s["end"] - s["start"] - c for s, c in zip(spans, child)]


def ledger(spans: list[dict]) -> dict:
    """Self time per span name and per layer (the name before ':'); the root
    span's own self time is the residual the layers do not explain."""
    selfs = self_times(spans)
    by_name: dict[str, float] = {}
    by_layer: dict[str, float] = {}
    wall = residual = 0.0
    for s, t in zip(spans, selfs):
        if s["parent"] is None:
            wall += s["end"] - s["start"]
            residual += t
            continue
        by_name[s["name"]] = by_name.get(s["name"], 0.0) + t
        layer = s["name"].split(":")[0]
        by_layer[layer] = by_layer.get(layer, 0.0) + t
    return {"wall_s": wall, "self_s_by_span": by_name, "self_s_by_layer": by_layer,
            "residual_s": residual,
            "residual_frac": residual / wall if wall else 0.0}
