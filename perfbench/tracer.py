"""Spans around the benchmark's own calls into each layer.

Nothing inside ``charmpandas_spark/`` is instrumented: a span opens
before the benchmark calls a public function of a module (a layer)
and closes when the call returns. With tracing off the same calls run
through :class:`Tracer` with ``on=False``, whose ``span`` records
nothing, so the untraced run pays only a context-manager call.

Layers, by span-name prefix:

- ``session``   -- ``session.get_spark`` and the first actions
- ``sources``   -- ``read_parquet`` and ``write_clustered``
- ``dataframe`` -- lazy ``Field``/``DataFrame``/``GroupBy`` wrappers and
  ``operations.concat`` (``dataframe.plan``), and the ``get()`` /
  scalar-reduction actions (``dataframe.get``)
- ``functions`` -- the curation stages (``functions.<stage>``)
- ``op``        -- one query or pass of the workload; its self time is
  the benchmark's own client work
"""

from __future__ import annotations

import time
from contextlib import contextmanager


class Tracer:
    """In-memory span recorder. Spans are written out when the run
    ends; counts attached to a span are stored on it."""

    def __init__(self, on: bool):
        self.on = on
        self.spark = None  # set once the session exists
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.op_id: str | None = None

    @contextmanager
    def op(self, op_id: str, kind: str):
        """One query/pass. In a traced run every Spark job it submits
        carries ``op_id`` as its job group, which is how stage metrics
        are attributed to it."""
        self.op_id = op_id
        if self.on and self.spark is not None:
            self.spark.sparkContext.setJobGroup(op_id, kind)
        try:
            with self.span(f"op.{kind}") as rec:
                yield rec
        finally:
            if self.on and self.spark is not None:
                self.spark.sparkContext.setLocalProperty(
                    "spark.jobGroup.id", None)
            self.op_id = None

    @contextmanager
    def span(self, name: str):
        """Record ``name`` around the block. Yields a dict the caller
        may fill with counts (rows, bytes, files)."""
        rec: dict = {}
        if not self.on:
            yield rec
            return
        rec.update(id=len(self.spans), name=name, op=self.op_id,
                   parent=self._stack[-1] if self._stack else None,
                   start=time.perf_counter())
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()


def self_times(spans: list[dict]) -> dict[str, float]:
    """Seconds per layer: each span's duration minus the part of it
    its child spans cover (children are strictly nested)."""
    child = [0.0] * len(spans)
    for s in spans:
        if s["parent"] is not None:
            child[s["parent"]] += s["end"] - s["start"]
    out: dict[str, float] = {}
    for s in spans:
        layer = s["name"].split(".", 1)[0]
        own = s["end"] - s["start"] - child[s["id"]]
        out[layer] = out.get(layer, 0.0) + own
    return out


def durations(spans: list[dict], name: str) -> list[float]:
    return [s["end"] - s["start"] for s in spans if s["name"] == name]


def per_op(spans: list[dict], name: str) -> dict[str, list[dict]]:
    """Spans called ``name`` grouped by the op that issued them."""
    out: dict[str, list[dict]] = {}
    for s in spans:
        if s["name"] == name and s["op"] is not None:
            out.setdefault(s["op"], []).append(s)
    return out
