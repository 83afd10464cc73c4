"""Span recorder for the traced run.

A span is ``(id, name, parent, op, start, end)`` in epoch seconds, the
clock Spark's event log uses (in ms). Entering a span sets the Spark job
group to ``pb<id>``, so every job submitted inside it is attributed to
the innermost open span; leaving restores the enclosing span's group.

``wrap`` replaces a package function or method with one that records a
span around each call. The package itself is not edited: the wrappers
are installed at run time from the benchmark's files and removed by
``unwrap_all``.
"""

from __future__ import annotations

import time
from contextlib import contextmanager

GROUP_PREFIX = "pb"


class Tracer:
    def __init__(self, sc):
        self.sc = sc
        self.spans: list[dict] = []
        self.op: int | None = None
        self._stack: list[int] = []
        self._patched: list[tuple[object, str, object]] = []

    def _set_group(self) -> None:
        if self._stack:
            top = self.spans[self._stack[-1]]
            self.sc.setJobGroup(f"{GROUP_PREFIX}{top['id']}", top["name"])
        else:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)

    @contextmanager
    def span(self, name: str, op=None):
        """Record a span; ``op`` labels it and the spans nested in it."""
        outer_op = self.op
        if op is not None:
            self.op = op
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "op": self.op,
            "start": time.time(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        self._set_group()
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            self._set_group()
            self.op = outer_op

    def wrap(self, owner, attr: str, name: str) -> None:
        original = getattr(owner, attr)

        def traced(*args, **kwargs):
            with self.span(name):
                return original(*args, **kwargs)

        traced.__wrapped__ = original
        setattr(owner, attr, traced)
        self._patched.append((owner, attr, original))

    def unwrap_all(self) -> None:
        while self._patched:
            owner, attr, original = self._patched.pop()
            setattr(owner, attr, original)


def wrap_package(tracer: Tracer) -> None:
    """Install spans on the package entry points the layers are named
    after. Module-level functions are replaced on their module, so calls
    through the module attribute (``A.detect_anomalies``,
    ``save_state(...)`` inside ``checkpoint``) are traced."""
    from datacheck_spark import anomaly, checkpoint, engine, incremental, transcripts

    tracer.wrap(transcripts.TranscriptChecker, "run", "transcripts.run")
    tracer.wrap(engine.ValidationEngine, "summarize", "engine.summarize")
    tracer.wrap(anomaly, "detect_anomalies", "anomaly.detect_anomalies")
    tracer.wrap(checkpoint, "save_state", "checkpoint.save_state")
    tracer.wrap(incremental.IncrementalValidator, "run", "incremental.run")
    tracer.wrap(incremental, "list_data_files", "incremental.list_data_files")
