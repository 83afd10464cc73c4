"""Layer probes of the traced run: passes that give a layer its numbers
when the workload's own ops do not exercise it.

- ``rules``: an ablation of the transcripts rule suite on the workload's
  table — a scan of the columns the suite reads, all rules fused through
  ``ValidationEngine.annotate``/``summarize`` (no persist, no extras),
  then each rule alone.
- ``incremental``: ``IncrementalValidator`` over a copy of the table,
  then appends of one pre-generated file each, with their checks.

Every pass runs under a tracer span named after the metric it feeds.
"""

from __future__ import annotations

import shutil

import inputs
import session


def rules_ablation(spark, table: inputs.Table, span) -> dict:
    """Runs each pass once; returns rule_id -> failures of the rule-alone
    passes (for the Arrow UDF's hit ratio)."""
    from pyspark.sql import functions as F

    from datacheck_spark.engine import ValidationEngine
    from datacheck_spark.rules.compiler import RuleSet
    from datacheck_spark.schema import ValidationSchema
    from datacheck_spark.transcripts import transcript_rule_defs

    df = spark.read.parquet(str(table.path))
    cols = ["conv_id", "turn_idx", "role", "text", "tool"]
    with span("rules.scan"):
        df.agg(*[F.count(c) for c in cols]).collect()

    defs = transcript_rule_defs()

    def run(name, chosen):
        rs = RuleSet("perfbench", load_builtins=False)
        for rd in chosen:
            rs.add_rule(rd)
        eng = ValidationEngine(ruleset=rs, schema=ValidationSchema())
        with span(f"rules.{name}"):
            rules = eng.compile(df)
            res = eng.summarize(
                eng.annotate(df, rules=rules), rules, id_col=None,
                collect_failed_ids=False,
            )
        return res

    run("fused", defs)
    failures = {}
    for rd in defs:
        res = run(rd.rule_id, [rd])
        failures[rd.rule_id] = int(res.rule_results[rd.rule_id]["failed"])
    return failures


class IncrementalProbe:
    """Seed table validated once, then one appended file per append."""

    APPEND_CONVS = 2_000

    def __init__(self, spark, table: inputs.Table, n_appends: int):
        from datacheck_spark.transcripts import TranscriptChecker

        self.spark = spark
        self.root = session.WORK / "ops" / "incremental"
        shutil.rmtree(self.root, ignore_errors=True)
        self.table_dir = self.root / "table"
        self.table_dir.mkdir(parents=True)
        for f in table.files:
            shutil.copy2(f, self.table_dir / f.name)
        staged = self.root / "staged"
        self.appends = [
            inputs.append_file(table.seed, i + 1, self.APPEND_CONVS, staged)
            for i in range(n_appends)
        ]
        checker = TranscriptChecker()
        # direct violation count of each append file, for the batch check
        self.expected = [
            checker.violations(spark.read.parquet(str(f)), ordered=False).count()
            for f in self.appends
        ]

    def validator(self):
        from datacheck_spark.incremental import IncrementalValidator

        return IncrementalValidator(str(self.root / "ckpt"))

    def initial(self) -> None:
        self.validator().run(self.spark, str(self.table_dir))

    def append(self, i: int) -> str | None:
        """Adds append file ``i`` and validates it; returns what failed."""
        src = self.appends[i]
        dest = self.table_dir / src.name
        shutil.copy2(src, dest)
        iv = self.validator()
        res = iv.run(self.spark, str(self.table_dir))
        bad = []
        if res["new_files"] != 1:
            bad.append(f"new_files {res['new_files']}")
        rows = inputs.parquet_rows(sorted(self.table_dir.glob("*.parquet")))
        if res["live"]["rows"] != rows:
            bad.append(f"live rows {res['live']['rows']} != footers {rows}")
        state = iv.load_state()
        batch = res["batches_written"][-1] if res["batches_written"] else None
        got = state["batches"].get(str(batch), {}).get("violations")
        if got != self.expected[i]:
            bad.append(f"batch violations {got} != direct count {self.expected[i]}")
        return ", ".join(bad) or None

    def manifest_bytes(self) -> int:
        from datacheck_spark.incremental import INCR_MANIFEST

        return (self.root / "ckpt" / INCR_MANIFEST).stat().st_size
