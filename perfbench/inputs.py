"""Benchmark inputs: the seeded transcripts table, append batches, and
the recounts the output checks compare against.

Inputs are generated by ``gen.py`` (NumPy and pyarrow, no JVM) into
``.perfbench/inputs`` and reused when the same seed and size come again.
The DuckDB recount reads the same parquet the program reads and runs
before the timed set-up begins.
"""

from __future__ import annotations

import json
import shutil
from dataclasses import dataclass
from pathlib import Path

import gen
import session

#: rules the transcripts suite compiles (``transcripts.transcript_rule_defs``)
RULE_IDS = [
    "key_present",
    "turn_idx_nonneg",
    "role_valid",
    "text_non_empty",
    "text_length_bounds",
    "pii_detection",
    "garbled_text",
    "repetitive_text",
]
ROLES = ["user", "assistant", "system", "tool"]
#: ``ValidationSchema`` defaults behind ``text_length_bounds``
MIN_LENGTH, MAX_LENGTH = 1, 100_000

#: seed-42 flagship at 160,000 conversations, as ROADMAP's layer baseline
#: records it (``bench.ensure_transcripts(spark, 160000)``)
GOLDEN_160K_SEED42 = {
    "total_turns": 2_094_487,
    "duplicate_keys": 20_932,
    "failing_convs": 15_844,
    "error_count": 25_275,
    "warning_count": 47_974,
}


@dataclass
class Table:
    path: Path
    files: list[Path]
    rows: int
    convs: int
    seed: int


def parquet_rows(files) -> int:
    import pyarrow.parquet as pq

    return sum(pq.ParquetFile(f).metadata.num_rows for f in files)


def table(seed: int, convs: int, n_files: int) -> Table:
    """The seed table, generated once per (seed, convs, files)."""
    path = session.work_dir("inputs") / f"table_s{seed}_c{convs}_f{n_files}"
    marker = path / "_GENERATED.json"
    if marker.is_file():
        meta = json.loads(marker.read_text())
    else:
        shutil.rmtree(path, ignore_errors=True)
        files = gen.write_parquet(gen.generate(convs, seed), path, n_files)
        meta = {"files": [f.name for f in files], "rows": parquet_rows(files)}
        marker.write_text(json.dumps(meta))
    files = [path / f for f in meta["files"]]
    return Table(path, files, meta["rows"], convs, seed)


def append_file(seed: int, index: int, convs: int, dest: Path) -> Path:
    """One append batch: ``convs`` new conversations from seed+index with
    conv ids that cannot collide with the seed table, as one file."""
    cols = gen.generate(
        convs, seed + index, n_hot_convs=0, conv_prefix=f"a{index:03d}_"
    )
    dest.mkdir(parents=True, exist_ok=True)
    tmp = dest.parent / f".{dest.name}_a{index}"
    shutil.rmtree(tmp, ignore_errors=True)
    (written,) = gen.write_parquet(cols, tmp, 1)
    out = dest / f"append-{index:05d}.parquet"
    written.replace(out)
    shutil.rmtree(tmp, ignore_errors=True)
    return out


def duckdb_recount(t: Table) -> dict:
    """Counts of the checks DuckDB can restate exactly: the dup-key rows,
    orphan tools, and the failures of the four structural/length rules."""
    import duckdb

    files = ", ".join(f"'{f}'" for f in t.files)
    roles = ", ".join(f"'{r}'" for r in ROLES)
    tools = ", ".join(f"'{x}'" for x in gen.TOOL_VOCAB)
    con = duckdb.connect()
    try:
        con.execute(f"CREATE VIEW t AS SELECT * FROM read_parquet([{files}])")
        row = con.execute(
            f"""
            SELECT count(*),
              count(*) FILTER (WHERE conv_id IS NULL OR turn_idx IS NULL),
              count(*) FILTER (WHERE turn_idx < 0),
              count(*) FILTER (WHERE role IS NULL OR role NOT IN ({roles})),
              count(*) FILTER (WHERE text IS NOT NULL AND
                NOT length(text) BETWEEN {MIN_LENGTH} AND {MAX_LENGTH}),
              count(*) FILTER (WHERE tool IS NOT NULL AND tool NOT IN ({tools}))
            FROM t
            """
        ).fetchone()
        (dups,) = con.execute(
            """
            SELECT coalesce(sum(c), 0) FROM (
              SELECT count(*) AS c FROM t GROUP BY conv_id, turn_idx
              HAVING count(*) > 1)
            """
        ).fetchone()
    finally:
        con.close()
    return {
        "total_turns": int(row[0]),
        "failed": {
            "key_present": int(row[1]),
            "turn_idx_nonneg": int(row[2]),
            "role_valid": int(row[3]),
            "text_length_bounds": int(row[4]),
        },
        "orphan_tools": int(row[5]),
        "duplicate_keys": int(dups),
    }


def violation_counts(out_dir: Path) -> dict[str, int]:
    """rule_id -> rows in a violations parquet tree (DuckDB)."""
    import duckdb

    con = duckdb.connect()
    try:
        rows = con.execute(
            "SELECT rule_id, count(*) FROM read_parquet(?, hive_partitioning=true) "
            "GROUP BY rule_id",
            [str(out_dir / "**" / "*.parquet")],
        ).fetchall()
    finally:
        con.close()
    return {r: int(n) for r, n in rows}
