"""Structured Streaming validation: incremental checking of arriving
transcript/data files.

The reference's closest feature is watch mode (``cli.py:500-598``) — a
filesystem-event *re-run* loop with a 2s debounce, not incremental
computation. Here the same capability is expressed Spark-first:
``readStream`` over a directory (or Kafka at scale) → the SAME fused
rule projection (rule compilation is plan-side, so batch and streaming
share one implementation) → windowed aggregation with a watermark for
late events → ``foreachBatch`` or append sinks for violations.
"""

from __future__ import annotations

from typing import Callable, Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from datacheck_spark.engine import ValidationEngine, RULE_PREFIX


def stream_validate(
    spark: SparkSession,
    input_path: str,
    schema,
    engine: Optional[ValidationEngine] = None,
    fmt: str = "parquet",
) -> DataFrame:
    """readStream → fused rule pass. Returns the annotated streaming
    DataFrame (one boolean per rule + verdict), ready for windowed
    aggregation or a violations sink."""
    engine = engine or ValidationEngine()
    reader = spark.readStream.format(fmt).schema(schema)
    if fmt == "csv":
        reader = reader.option("header", "true")
    stream = reader.load(input_path)
    return engine.annotate(stream)


def streaming_dedup(
    df: DataFrame,
    keys,
    ts_col: str = "ts",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Streaming exact dedup with BOUNDED state — the streaming
    analogue of the batch exact dedup (op 25) for at-least-once sources
    (Kafka replays, file re-lists). ``dropDuplicatesWithinWatermark``
    retains a key's dedup state only until the watermark passes its
    event time, so state is proportional to the watermark window, not
    the stream's history; a plain ``dropDuplicates`` on a stream keys
    an ever-growing state store and cannot survive a 10^12-row topic.
    Duplicates arriving later than the watermark delay are treated as
    new rows — the documented at-least-once trade-off."""
    return (
        df.withWatermark(ts_col, watermark)
        .dropDuplicatesWithinWatermark(list(keys))
    )


def streaming_session_stats(
    df: DataFrame,
    key_col: str = "conv_id",
    ts_col: str = "ts",
    gap_minutes: float = 30.0,
    watermark: str = "10 minutes",
) -> DataFrame:
    """Streaming sessionization via ``F.session_window`` — the
    incremental analogue of ``sessions.session_stats``: per-key
    gap-based sessions whose window closes once the watermark passes
    ``gap_minutes`` of silence. State is bounded by the watermark
    (closed sessions are emitted and dropped — the 10^12-turn-stream
    property the batch lag+cumsum idiom can't give you)."""
    gap = f"{int(gap_minutes * 60)} seconds"
    return (
        df.withWatermark(ts_col, watermark)
        .groupBy(F.session_window(F.col(ts_col), gap), F.col(key_col))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min(ts_col).alias("session_start"),
            F.max(ts_col).alias("session_end"),
        )
        .select(
            key_col,
            "session_start",
            "session_end",
            "n_events",
            (
                F.unix_timestamp("session_end")
                - F.unix_timestamp("session_start")
            ).alias("duration_sec"),
        )
    )


def stateful_turn_order_check(
    annotated: DataFrame,
    ts_col: str = "ts",
    watermark: str = "10 minutes",
    timeout_minutes: int = 30,
) -> DataFrame:
    """Custom stateful streaming operator (``applyInPandasWithState``):
    per-conversation monotonic turn_idx enforcement across microbatches.

    State per conv_id = (max turn_idx seen, turns seen). Turns are
    processed in ARRIVAL order (no per-batch sort, so within-batch
    out-of-order arrivals are caught too); any turn_idx < the running
    maximum counts as ``regressed_turns`` and any repeat of the current
    maximum as ``duplicate_turns`` — a check that is impossible with
    stateless per-batch rules. State times out after
    ``timeout_minutes`` of event-time inactivity (bounded state for
    10^12-turn streams; conversation keys expire once quiet).
    """
    from pyspark.sql.streaming.state import GroupStateTimeout

    out_schema = (
        "conv_id string, regressed_turns int, duplicate_turns int,"
        " max_turn int, turns_seen long"
    )
    state_schema = "max_turn int, turns_seen long"

    def update(key, pdfs, state):
        import pandas as pd

        (conv_id,) = key
        if state.hasTimedOut:
            state.remove()
            return iter([])
        max_turn, seen = state.get if state.exists else (-1, 0)
        regressed = dupes = 0
        for pdf in pdfs:
            # arrival order preserved — a sort here would mask
            # within-batch out-of-order arrivals (ADVICE r1)
            for t in (int(t) for t in pdf["turn_idx"].dropna()):
                if seen > 0 and t < max_turn:
                    regressed += 1
                elif seen > 0 and t == max_turn:
                    dupes += 1
                max_turn = max(max_turn, t)
                seen += 1
        state.update((max_turn, seen))
        state.setTimeoutTimestamp(state.getCurrentWatermarkMs() + timeout_minutes * 60 * 1000)
        if regressed or dupes:
            return iter(
                [
                    pd.DataFrame(
                        [
                            {
                                "conv_id": conv_id,
                                "regressed_turns": regressed,
                                "duplicate_turns": dupes,
                                "max_turn": max_turn,
                                "turns_seen": seen,
                            }
                        ]
                    )
                ]
            )
        return iter([])

    return (
        annotated.withWatermark(ts_col, watermark)
        .groupBy("conv_id")
        .applyInPandasWithState(
            update,
            outputStructType=out_schema,
            stateStructType=state_schema,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )


def drift_monitor_batch_fn(
    baseline,
    value_col: str,
    on_result: Callable[[dict], None],
    ks_threshold: float = 0.1,
    psi_threshold: float = 0.2,
    compression: int = 100,
) -> Callable[[DataFrame, int], None]:
    """``foreachBatch`` function comparing each micro-batch's
    distribution of ``value_col`` against a fixed baseline t-digest.

    The per-batch digest is the same mergeable bounded-state sketch the
    batch drift path uses (``tdigest.column_tdigest``: ≤ 2×compression
    doubles per partition regardless of batch size), so the monitor's
    memory is constant at any throughput. Each batch emits one result
    dict — ``{batch_id, n, ks, psi, drifted}`` — to ``on_result``
    (append to a list, push a metric, page someone).
    """
    from datacheck_spark.tdigest import (
        column_tdigest,
        ks_from_digests,
        psi_from_digests,
    )

    def check_batch(batch_df: DataFrame, batch_id: int) -> None:
        n = batch_df.count()
        if n == 0:
            return
        d = column_tdigest(batch_df, value_col, compression)
        ks = ks_from_digests(baseline, d)
        p = psi_from_digests(baseline, d)
        on_result(
            {
                "batch_id": batch_id,
                "n": n,
                "ks": round(ks, 6),
                "psi": round(p, 6),
                "drifted": bool(ks > ks_threshold or p > psi_threshold),
            }
        )

    return check_batch


def start_drift_monitor(
    stream_df: DataFrame,
    baseline,
    value_col: str,
    on_result: Callable[[dict], None],
    checkpoint_path: str,
    ks_threshold: float = 0.1,
    psi_threshold: float = 0.2,
    trigger_seconds: int = 10,
) -> StreamingQuery:
    """Streaming drift monitor: readStream → per-micro-batch t-digest →
    KS/PSI against a fixed baseline digest (built offline with
    ``tdigest.column_tdigest`` over the reference dataset).

    The streaming analogue of ``drift.drift_report_sketch`` — drift on
    arriving data without ever holding more than the sketch state.
    """
    return (
        stream_df.writeStream.foreachBatch(
            drift_monitor_batch_fn(
                baseline,
                value_col,
                on_result,
                ks_threshold=ks_threshold,
                psi_threshold=psi_threshold,
            )
        )
        .option("checkpointLocation", checkpoint_path)
        .trigger(processingTime=f"{trigger_seconds} seconds")
        .start()
    )


def start_violations_sink(
    annotated: DataFrame,
    key_cols,
    output_path: str,
    checkpoint_path: str,
    trigger_seconds: int = 10,
) -> StreamingQuery:
    """foreachBatch sink writing per-microbatch violation rows to
    parquet — exactly-once via the streaming checkpoint; each batch is
    the same unpivot the batch engine uses."""

    rule_cols = [
        c for c in annotated.columns if c.startswith(RULE_PREFIX)
    ]

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        entries = [
            F.when(
                ~F.col(rc),
                F.lit(rc[len(RULE_PREFIX):]),
            )
            for rc in rule_cols
        ]
        out = (
            batch_df.select(
                *key_cols,
                F.explode(F.array_compact(F.array(*entries))).alias("rule_id"),
            )
            .withColumn("batch_id", F.lit(batch_id))
        )
        out.write.mode("append").parquet(output_path)

    return (
        annotated.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint_path)
        .trigger(processingTime=f"{trigger_seconds} seconds")
        .start()
    )
