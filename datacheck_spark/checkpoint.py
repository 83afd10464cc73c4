"""Checkpoint/resume with per-partition lineage + metrics.

North rule: "resumable from checkpoint with per-partition lineage +
metrics". Production shape: an Iceberg checkpoint table keyed by
(snapshot-id, partition-spec, rule-version) — in this sandbox the same
contract runs over parquet results plus an atomically-renamed JSON
manifest, keeping the API identical so Iceberg is a config swap
(SURVEY §7.4). The partition spec is ``n_buckets``.

Work is partitioned by ``pmod(xxhash64(conv_id), n_buckets)``. Buckets
are processed in groups; each group is ONE Spark job — the violation
write, partitioned by bucket — and two ``DataFrame.observe``
observations on that write count each bucket's input rows and violation
rows, so the manifest's per-bucket metrics cost no extra scan. After
each group the manifest records every bucket's own metrics and lineage.
Resume skips completed buckets — an anti-join expressed as a filter on
the bucket id.
"""

from __future__ import annotations

import json
import os
import shutil
import tempfile
from dataclasses import dataclass
from pathlib import Path
from typing import Any, Dict, List

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

MANIFEST = "manifest.json"


@dataclass
class CheckpointState:
    path: str
    rule_version: str
    snapshot_id: str
    n_buckets: int
    buckets: Dict[str, Dict[str, Any]]

    @property
    def completed(self) -> List[int]:
        return sorted(int(b) for b, v in self.buckets.items() if v.get("done"))


def _manifest_path(base: str) -> Path:
    return Path(base) / MANIFEST


def load_state(
    base: str, rule_version: str, snapshot_id: str, n_buckets: int
) -> CheckpointState:
    """Load (or initialize) the manifest. A manifest written by a
    different rule version, input snapshot or bucket count is discarded —
    lineage mismatch means prior partial results are not reusable."""
    lineage = (rule_version, snapshot_id, n_buckets)
    buckets: Dict[str, Dict[str, Any]] = {}
    p = _manifest_path(base)
    if p.exists():
        data = json.loads(p.read_text(encoding="utf-8"))
        if (data.get("rule_version"), data.get("snapshot_id"), data.get("n_buckets")) == lineage:
            buckets = data.get("buckets", {})
    return CheckpointState(base, *lineage, buckets)


def save_state(state: CheckpointState) -> None:
    """Atomic manifest write (tmp file + rename)."""
    Path(state.path).mkdir(parents=True, exist_ok=True)
    payload = json.dumps(
        {
            "rule_version": state.rule_version,
            "snapshot_id": state.snapshot_id,
            "n_buckets": state.n_buckets,
            "buckets": state.buckets,
        },
        indent=1,
    )
    fd, tmp = tempfile.mkstemp(dir=state.path, suffix=".manifest.tmp")
    with os.fdopen(fd, "w", encoding="utf-8") as f:
        f.write(payload)
    os.replace(tmp, _manifest_path(state.path))


def checkpointed_violations(
    df: DataFrame,
    checker,
    base_path: str,
    rule_version: str = "v1",
    n_buckets: int = 32,
    group_size: int = 8,
    snapshot_id: str = "static",
) -> CheckpointState:
    """Write the transcript violation rows bucket-group by bucket-group
    with resume; output parquet is partitioned by bucket so a re-run
    overwrites only its own partitions (dynamic partition overwrite).
    The manifest is committed after each group (kill-and-rerun resumes
    at the next group)."""
    out_dir = str(Path(base_path) / "violations")
    state = load_state(base_path, rule_version, snapshot_id, n_buckets)
    if not state.buckets:
        # fresh lineage: rows left by another rule version, snapshot or
        # bucket count would survive a dynamic overwrite. Only the
        # bucket= partitions are this writer's; siblings (an incremental
        # store's batch= dirs under the same base) are left alone.
        for d in Path(out_dir).glob("bucket=*"):
            shutil.rmtree(d)
    done = set(state.completed)
    pending = [b for b in range(n_buckets) if b not in done]
    bucket = F.pmod(F.xxhash64("conv_id"), F.lit(n_buckets)).cast("int")
    for i in range(0, len(pending), group_size):
        group = pending[i : i + group_size]
        # both frames carry conv_id, so one expression counts the
        # group's input rows and its exploded violation rows per bucket
        per_bucket = [F.count_if(bucket == b).alias(str(b)) for b in group]
        seen, wrote = Observation(), Observation()
        part = df.where(bucket.isin(group)).observe(seen, *per_bucket)
        # order-insensitive store: skip the global sort (its range-
        # sampling job would re-run the fused rule pass a second time)
        (
            checker.violations(part, ordered=False)
            .withColumn("bucket", bucket)
            .observe(wrote, *per_bucket)
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("bucket")
            .parquet(out_dir)
        )
        rows, violations = seen.get, wrote.get
        for b in group:
            state.buckets[str(b)] = {
                "done": True,
                "rule_version": rule_version,
                "snapshot_id": snapshot_id,
                "metrics": {
                    "rows": rows[str(b)],
                    "violations": violations[str(b)],
                    "buckets": group,
                },
            }
        save_state(state)
    return state
