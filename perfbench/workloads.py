"""The benchmark's operations, each through the package's public entry
points, and the checks of their outputs.

An op returns a small dict of what it produced; checks run after the
timed window and return one message per failed op (None when it passed).
``span`` is the tracer's span context in a traced run and a no-op
otherwise, so traced and untraced ops run the same calls.
"""

from __future__ import annotations

import shutil
from contextlib import nullcontext
from pathlib import Path

import inputs
import session

#: ``bench.SUITE_SHUFFLE_CONF`` at 4 cores, scoped to each flagship op
FLAGSHIP_CONF = {
    "spark.sql.shuffle.partitions": str(session.CORES * 8),
    "spark.sql.adaptive.advisoryPartitionSizeInBytes": "16m",
}


def no_span(name: str):
    return nullcontext()


class _Workload:
    def __init__(self, spark, table: inputs.Table, recount: dict, span=no_span):
        self.spark = spark
        self.table = table
        self.recount = recount
        self.span = span

    def turns(self, result: dict) -> int:
        return self.table.rows


class Flagship(_Workload):
    """``TranscriptChecker().run(df, detect_anomalies=True)`` plus
    ``structure_summary(df).first()`` — ``bench.run_transcript_suite``."""

    name = "flagship"
    #: the JIT keeps speeding a flagship op up (CPU per op falls ~2x) over
    #: its first ~5 runs
    WARMUP_OPS = 5

    def op(self, index: int) -> dict:
        from datacheck_spark.transcripts import TranscriptChecker, structure_summary

        saved = {k: self.spark.conf.get(k, None) for k in FLAGSHIP_CONF}
        for k, v in FLAGSHIP_CONF.items():
            self.spark.conf.set(k, v)
        try:
            df = self.spark.read.parquet(str(self.table.path))
            report = TranscriptChecker().run(df, detect_anomalies=True)
            with self.span("transcripts.structure_summary"):
                srow = structure_summary(df).first()
        finally:
            for k, v in saved.items():
                if v is None:
                    self.spark.conf.unset(k)
                else:
                    self.spark.conf.set(k, v)
        return {
            "total_turns": int(report.total_turns),
            "duplicate_keys": int(report.duplicate_keys),
            "orphan_tools": int(report.orphan_tools),
            "error_count": int(report.error_count),
            "warning_count": int(report.warning_count),
            "failed": {r: int(v["failed"]) for r, v in report.rule_results.items()},
            "failing_convs": int(srow["failing_convs"] or 0),
        }

    def turns(self, result: dict) -> int:
        return result["total_turns"]

    def check(self, results: list[dict]) -> list[str | None]:
        expect = {
            "total_turns": self.table.rows,
            "duplicate_keys": self.recount["duplicate_keys"],
            "orphan_tools": self.recount["orphan_tools"],
        }
        golden = (
            inputs.GOLDEN_160K_SEED42
            if (self.table.seed, self.table.convs) == (42, 160_000)
            else {}
        )
        out = []
        for r in results:
            bad = [k for k, v in expect.items() if r[k] != v]
            bad += [
                f"failed[{k}]"
                for k, v in self.recount["failed"].items()
                if r["failed"].get(k) != v
            ]
            bad += [f"golden {k}" for k, v in golden.items() if r[k] != v]
            if set(r["failed"]) != set(inputs.RULE_IDS):
                bad.append("rule ids")
            if r != results[0]:
                bad.append("differs from the first op")
            out.append(", ".join(bad) or None)
        return out


class ViolationsStore(_Workload):
    """``checkpoint.checkpointed_violations(df, TranscriptChecker(), <fresh
    dir>, n_buckets=32, group_size=8)``."""

    name = "violations_store"
    WARMUP_OPS = 2
    N_BUCKETS = 32

    def __init__(self, *args, **kwargs):
        super().__init__(*args, **kwargs)
        self.out_root = session.WORK / "ops" / self.name
        shutil.rmtree(self.out_root, ignore_errors=True)
        self.out_root.mkdir(parents=True)

    def op(self, index: int) -> dict:
        from datacheck_spark import checkpoint
        from datacheck_spark.transcripts import TranscriptChecker

        out = self.out_root / f"op{index:04d}"
        df = self.spark.read.parquet(str(self.table.path))
        with self.span("checkpoint.checkpointed_violations"):
            state = checkpoint.checkpointed_violations(
                df, TranscriptChecker(), str(out),
                n_buckets=self.N_BUCKETS, group_size=8,
            )
        return {"dir": str(out), "completed": state.completed}

    def reference_failures(self) -> dict[str, int]:
        """Per-rule failures from the report for the same input; run once,
        after the timed window."""
        from datacheck_spark.transcripts import TranscriptChecker

        df = self.spark.read.parquet(str(self.table.path))
        report = TranscriptChecker().run(df, detect_anomalies=False)
        return {r: int(v["failed"]) for r, v in report.rule_results.items() if v["failed"]}

    def check(self, results: list[dict]) -> list[str | None]:
        expect = self.reference_failures()
        golden = 73_249 if (self.table.seed, self.table.convs) == (42, 160_000) else None
        out = []
        for r in results:
            got = inputs.violation_counts(Path(r["dir"]) / "violations")
            bad = []
            if got != expect:
                bad.append(f"violations per rule {got} != report {expect}")
            if r["completed"] != list(range(self.N_BUCKETS)):
                bad.append("buckets not all done")
            if golden is not None and sum(got.values()) != golden:
                bad.append("golden violation rows")
            out.append(", ".join(bad) or None)
            shutil.rmtree(r["dir"], ignore_errors=True)
        return out


WORKLOADS = {w.name: w for w in (Flagship, ViolationsStore)}
