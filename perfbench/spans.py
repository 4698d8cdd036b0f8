"""Outside-in spans around the public calls ``run_pipeline`` reaches.

Nothing in the package is edited: ``install`` replaces module and class
attributes with wrappers for the duration of one traced call and
``uninstall`` puts the originals back. Each span sets its own Spark job
group (restoring the parent group on exit), so the event log attributes
every job, task and SQL metric to the innermost span that launched it.
Spans are kept in memory; the caller writes them out once at the end.
"""

from __future__ import annotations

import functools
import itertools
import sys
import time
from dataclasses import dataclass

GROUP_PREFIX = "perfbench:"


@dataclass
class Span:
    tag: str
    sid: int
    name: str
    parent: int | None
    start: float
    end: float = 0.0

    @property
    def group(self) -> str:
        return f"{GROUP_PREFIX}{self.tag}:{self.sid}"

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, sc, tag: str):
        self.sc = sc
        self.tag = tag
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._ids = itertools.count(1)
        self._patches: list[tuple[object, str, object]] = []

    # -- spans ---------------------------------------------------------------
    def span(self, name: str, fn, *args, **kwargs):
        parent = self._stack[-1] if self._stack else None
        prev_group = self.sc.getLocalProperty("spark.jobGroup.id")
        prev_desc = self.sc.getLocalProperty("spark.job.description")
        s = Span(self.tag, next(self._ids), name, parent.sid if parent else None, time.time())
        self.spans.append(s)
        self._stack.append(s)
        self.sc.setJobGroup(s.group, name)
        try:
            return fn(*args, **kwargs)
        finally:
            s.end = time.time()
            self._stack.pop()
            self.sc.setLocalProperty("spark.jobGroup.id", prev_group)
            self.sc.setLocalProperty("spark.job.description", prev_desc)

    # -- patching ------------------------------------------------------------
    def wrap(self, owner, attr: str, name, only_from=None) -> None:
        """Replace ``owner.attr`` with a spanned wrapper. ``name`` is the span
        name, or a callable (args, kwargs) -> name or None (None: no span).
        ``only_from``: a code object; the span is recorded only when the
        immediate caller runs that code."""
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            if only_from is not None and sys._getframe(1).f_code is not only_from:
                return orig(*args, **kwargs)
            label = name(args, kwargs) if callable(name) else name
            if label is None:
                return orig(*args, **kwargs)
            return tracer.span(label, orig, *args, **kwargs)

        self._patches.append((owner, attr, orig))
        setattr(owner, attr, wrapper)

    def uninstall(self) -> None:
        while self._patches:
            owner, attr, orig = self._patches.pop()
            setattr(owner, attr, orig)


def install(tracer: Tracer) -> object:
    """Wrap the layer boundaries of ``run_pipeline``; returns the
    ``run_pipeline`` the caller must invoke (the spanned original)."""
    from pyspark.sql import DataFrameReader, DataFrameWriter

    # the session's concrete DataFrame class overrides collect/count
    from pyspark.sql.classic.dataframe import DataFrame

    from web3_knowledge_graph_spark.plans import pipeline
    from web3_knowledge_graph_spark.sources.checkpoint import CheckpointLog
    from web3_knowledge_graph_spark.sources.warehouse import Table

    run_code = pipeline.run_pipeline.__code__
    tracer.wrap(pipeline, "extract_stage", "plans.extract_stage")
    tracer.wrap(pipeline, "build_graph", "plans.build_graph")
    tracer.wrap(pipeline, "triples", "plans.triples")
    tracer.wrap(pipeline, "canonical_ids", "operators.canon.canonical_ids")
    tracer.wrap(pipeline, "audit_columns", "functions.normalize.audit_columns")
    tracer.wrap(Table, "merge_upsert", "sources.warehouse.merge_upsert")
    tracer.wrap(Table, "overwrite", "sources.warehouse.overwrite")
    tracer.wrap(Table, "read", "sources.warehouse.read", only_from=run_code)
    tracer.wrap(CheckpointLog, "mark", "sources.checkpoint.mark")
    tracer.wrap(
        CheckpointLog, "completed_inputs", "sources.checkpoint.completed_inputs"
    )
    # the corpus fingerprint scan and the side-table signature are the two
    # collects run_pipeline issues itself; they differ by their key column
    tracer.wrap(
        DataFrame,
        "collect",
        lambda a, k: "sources.pages.fingerprint"
        if "d" in a[0].columns
        else "sources.side_tables.signature",
        only_from=run_code,
    )
    tracer.wrap(DataFrame, "count", "plans.run_pipeline.count", only_from=run_code)
    tracer.wrap(DataFrameReader, "parquet", "sources.mentions.read", only_from=run_code)
    tracer.wrap(
        DataFrameWriter,
        "parquet",
        lambda a, k: "plans.extract_write"
        if str(a[1] if len(a) > 1 else k.get("path", "")).endswith("/mentions_data")
        else None,
    )
    return pipeline.run_pipeline
