"""Kill-and-resume identity drive for ``checkpointed_violations``.

A child process runs the checkpointed violation store over the bench
transcripts table (``bench.ensure_transcripts``) and is hard-killed
(``os._exit(137)``) right after the first bucket group's manifest
commit. The resume then runs in this process and must

- process only the buckets the child left undone,
- store rows identical to a direct ``TranscriptChecker.violations`` run
  (order-insensitive xor hash of the rows, plus the count),
- leave a manifest whose per-bucket ``rows`` sum to the input row count
  and whose per-bucket ``violations`` sum to the stored rows.

Usage: python tools/resume_drive.py [--convs 20000]
(local[4], 2 GB driver; 32 buckets in groups of 4)
"""

import argparse
import json
import os
import subprocess
import sys
import tempfile
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(ROOT))

N_BUCKETS = 32
GROUP_SIZE = 4


def session():
    from pyspark.sql import SparkSession

    # the Python workers import the package too (the repetitive-text UDF)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p
    )
    spark = (
        SparkSession.builder.master("local[4]")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.driver.memory", "2g")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def store(args, base: str):
    import bench
    import datacheck_spark.checkpoint as CK
    from datacheck_spark.transcripts import TranscriptChecker

    spark = session()
    df = spark.read.parquet(bench.ensure_transcripts(spark, args.convs))
    state = CK.checkpointed_violations(
        df, TranscriptChecker(), base,
        n_buckets=N_BUCKETS, group_size=GROUP_SIZE,
    )
    return spark, df, state


def child(args) -> None:
    import datacheck_spark.checkpoint as CK

    orig = CK.save_state

    def dying_save(state):
        orig(state)
        os._exit(137)  # hard kill right after the first group commits

    CK.save_state = dying_save
    store(args, args.child)


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--convs", type=int, default=20000)
    ap.add_argument("--child", help=argparse.SUPPRESS)
    args = ap.parse_args()
    if args.child:
        return child(args)

    base = tempfile.mkdtemp(prefix="ckpt_drive_")
    r = subprocess.run(
        [sys.executable, __file__, "--child", base, "--convs", str(args.convs)],
        capture_output=True, text=True, timeout=1800,
    )
    manifest = json.loads((Path(base) / "manifest.json").read_text())
    done_at_kill = sorted(int(b) for b, v in manifest["buckets"].items() if v.get("done"))
    print("child rc:", r.returncode, "| buckets done at kill:", done_at_kill)
    assert r.returncode == 137, r.stderr[-2000:]
    assert done_at_kill == list(range(GROUP_SIZE))

    import datacheck_spark.checkpoint as CK
    from pyspark.sql import functions as F

    from datacheck_spark.transcripts import TranscriptChecker

    commits = []
    orig = CK.save_state

    def recording_save(state):
        commits.append(len(state.completed))
        orig(state)

    CK.save_state = recording_save
    spark, df, state = store(args, base)
    CK.save_state = orig
    print("resumed: groups committed", len(commits), "| completed buckets:",
          len(state.completed), "/", N_BUCKETS)
    assert state.completed == list(range(N_BUCKETS))
    assert commits[0] == min(2 * GROUP_SIZE, N_BUCKETS)  # no group re-ran

    def xor_hash(d):
        return d.select(
            F.xxhash64("conv_id", "turn_idx", "rule_id", "observed").alias("h")
        ).agg(F.expr("bit_xor(h)").alias("s"), F.count("h").alias("n")).collect()[0]

    stored = spark.read.parquet(os.path.join(base, "violations"))
    a = xor_hash(stored)
    b = xor_hash(TranscriptChecker().violations(df))
    print("resumed rows:", a["n"], "hashsum:", a["s"])
    print("direct  rows:", b["n"], "hashsum:", b["s"])
    metrics = [v["metrics"] for v in state.buckets.values()]
    n_input = df.count()
    rows_sum = sum(m["rows"] for m in metrics)
    viol_sum = sum(m["violations"] for m in metrics)
    print("manifest rows sum:", rows_sum, "| input rows:", n_input,
          "| manifest violations sum:", viol_sum)
    ok = (a["n"], a["s"]) == (b["n"], b["s"]) and rows_sum == n_input and viol_sum == a["n"]
    print("IDENTICAL:", ok)
    assert ok


if __name__ == "__main__":
    main()
