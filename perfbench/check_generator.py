"""One-time check: the benchmark's generator equals the package's.

Generates the table with ``perfbench/gen.py`` and with
``datacheck_spark.transcripts.generate_transcripts`` (as
``bench.ensure_transcripts`` calls it) and compares, on one Spark session:

- the row count;
- the order-insensitive ``bit_xor(xxhash64(row))`` over every column;
- the rows per file against the rows per ``repartition(files, "conv_id")``
  partition.

Usage (defaults are the flagship table behind ROADMAP's layer baseline;
about a minute on 4 cores):

    python3 perfbench/check_generator.py [--convs 160000] [--seed 42] [--files 64]

Prints one JSON line and exits 1 on any mismatch.
"""

from __future__ import annotations

import argparse
import json
import shutil
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

import gen  # noqa: E402
import session  # noqa: E402


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--convs", type=int, default=160_000)
    ap.add_argument("--seed", type=int, default=42)
    ap.add_argument("--files", type=int, default=64)
    args = ap.parse_args()

    session.prepare_imports()
    out = session.work_dir("check_generator") / f"s{args.seed}_c{args.convs}"
    shutil.rmtree(out, ignore_errors=True)
    files = gen.write_parquet(gen.generate(args.convs, args.seed), out, args.files)

    spark = session.spark_session()
    from pyspark.sql import functions as F

    from datacheck_spark.transcripts import GEN_VERSION, generate_transcripts

    ours = spark.read.parquet(str(out))
    theirs = generate_transcripts(
        spark, n_convs=args.convs, turns_per_conv=gen.TURNS_PER_CONV,
        n_hot_convs=4, hot_factor=gen.HOT_FACTOR, seed=args.seed,
        n_buckets=gen.N_BUCKETS,
    )
    cols = ["conv_id", "turn_idx", "role", "text", "tool", "ts", "conv_bucket"]

    def digest(df):
        r = df.select(
            F.count(F.lit(1)).alias("n"),
            F.bit_xor(F.xxhash64(*cols)).alias("x"),
        ).first()
        return int(r["n"]), int(r["x"])

    (n_ours, x_ours), (n_theirs, x_theirs) = digest(ours), digest(theirs)
    part_rows = {
        int(r["p"]): int(r["n"])
        for r in theirs.repartition(args.files, "conv_id")
        .groupBy(F.spark_partition_id().alias("p"))
        .count()
        .withColumnRenamed("count", "n")
        .collect()
    }
    import pyarrow.parquet as pq

    file_rows = {
        int(f.stem.split("-")[1]): pq.ParquetFile(f).metadata.num_rows
        for f in files
    }
    res = {
        "gen_version": GEN_VERSION,
        "convs": args.convs,
        "seed": args.seed,
        "rows": n_ours,
        "rows_package": n_theirs,
        "xor_hash": x_ours,
        "xor_hash_package": x_theirs,
        "files": len(files),
        "file_rows_match": file_rows == part_rows,
    }
    res["equal"] = (
        n_ours == n_theirs and x_ours == x_theirs and res["file_rows_match"]
    )
    session.stop(spark)
    shutil.rmtree(out, ignore_errors=True)
    print(json.dumps(res))
    return 0 if res["equal"] else 1


if __name__ == "__main__":
    sys.exit(main())
