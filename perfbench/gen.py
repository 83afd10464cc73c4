"""Seeded transcripts generator for the benchmark, independent of the package.

It reproduces ``datacheck_spark.transcripts.generate_transcripts`` at
``GEN_VERSION`` 2 row for row, without Spark: the package's generator is a
tree of Spark ``xxhash64`` column expressions, so this module ports Spark's
XXH64 (``hashInt``/``hashLong``/``hashUnsafeBytes``) and its legacy
Murmur3_x86_32 string hash (for ``repartition(n, "conv_id")``) to NumPy
and evaluates the same expressions column-wise.

Keeping the generator here means a change to the package's generator
cannot change the benchmark's inputs, and the JVM starts cold when the
timed set-up begins. ``check_generator.py`` proves the equivalence
against the package on a live Spark session.

Writing uses pyarrow: one ``part-NNNNN.parquet`` file per non-empty hash
partition, in the same column order and types Spark reads back from
``bench.ensure_transcripts``.
"""

from __future__ import annotations

from pathlib import Path

import numpy as np

P1 = np.uint64(0x9E3779B185EBCA87)
P2 = np.uint64(0xC2B2AE3D27D4EB4F)
P3 = np.uint64(0x165667B19E3779F9)
P4 = np.uint64(0x85EBCA77C2B2AE63)
P5 = np.uint64(0x27D4EB2F165667C5)

#: Spark's default seed for ``xxhash64`` and ``hash`` (``HashExpression``)
SPARK_HASH_SEED = 42

WORDS = [
    "data", "check", "spark", "table", "query", "join", "group", "filter",
    "window", "stream", "batch", "merge", "sort", "hash", "scan", "agg",
    "row", "column", "value", "key", "index", "cache", "shuffle", "stage",
]
ZH = "数据质量检查引擎在大规模对话转录表上运行良好"
ROLE_CYCLE = ["user", "assistant", "tool", "system"]
TOOL_VOCAB = [f"tool_{i}" for i in range(8)]
#: 2026-01-01T00:00:00Z in microseconds since the epoch
EPOCH_US = 1767225600 * 1_000_000


def _u64(x) -> np.ndarray:
    return np.asarray(x).astype(np.int64).view(np.uint64)


def _rotl(x: np.ndarray, r: int) -> np.ndarray:
    return (x << np.uint64(r)) | (x >> np.uint64(64 - r))


def _fmix(h: np.ndarray) -> np.ndarray:
    h = h ^ (h >> np.uint64(33))
    h = h * P2
    h = h ^ (h >> np.uint64(29))
    h = h * P3
    return h ^ (h >> np.uint64(32))


def xx_int(values, seed) -> np.ndarray:
    """Spark ``XXH64.hashInt`` of 32-bit ints; ``seed`` is uint64 (array
    or scalar) — the running hash of the columns before this one."""
    v = np.atleast_1d(np.asarray(values).astype(np.int64) & 0xFFFFFFFF)
    h = _u64(seed) + P5 + np.uint64(4)
    h = h ^ (v.astype(np.uint64) * P1)
    return _fmix(_rotl(h, 23) * P2 + P3)


def xx_long(values, seed) -> np.ndarray:
    """Spark ``XXH64.hashLong`` of 64-bit ints."""
    h = _u64(seed) + P5 + np.uint64(8)
    h = h ^ (_rotl(_u64(values) * P2, 31) * P1)
    return _fmix(_rotl(h, 27) * P1 + P4)


def xx_bytes(mat: np.ndarray, seed) -> np.ndarray:
    """Spark ``XXH64.hashUnsafeBytes`` of equal-length byte strings, one
    per row of the uint8 matrix ``mat`` (length < 32 bytes)."""
    n, length = mat.shape
    if length >= 32:
        raise ValueError("strings of 32 bytes or more are not needed here")
    h = _u64(seed) + P5 + np.uint64(length)
    h = np.broadcast_to(h, (n,)).copy()
    off = 0
    while off + 8 <= length:
        k1 = np.ascontiguousarray(mat[:, off : off + 8]).view("<u8")[:, 0]
        h = h ^ (_rotl(k1 * P2, 31) * P1)
        h = _rotl(h, 27) * P1 + P4
        off += 8
    if off + 4 <= length:
        k = np.ascontiguousarray(mat[:, off : off + 4]).view("<u4")[:, 0]
        h = h ^ (k.astype(np.uint64) * P1)
        h = _rotl(h, 23) * P2 + P3
        off += 4
    while off < length:
        h = h ^ (mat[:, off].astype(np.uint64) * P5)
        h = _rotl(h, 11) * P1
        off += 1
    return _fmix(h)


def _rotl32(x: np.ndarray, r: int) -> np.ndarray:
    return (x << np.uint32(r)) | (x >> np.uint32(32 - r))


def _mix_k1(k: np.ndarray) -> np.ndarray:
    k = k * np.uint32(0xCC9E2D51)
    return _rotl32(k, 15) * np.uint32(0x1B873593)


def _mix_h1(h: np.ndarray, k: np.ndarray) -> np.ndarray:
    h = _rotl32(h ^ k, 13)
    return h * np.uint32(5) + np.uint32(0xE6546B64)


def murmur3_bytes(mat: np.ndarray, seed: int = SPARK_HASH_SEED) -> np.ndarray:
    """Spark's legacy ``Murmur3_x86_32.hashUnsafeBytes`` (the hash behind
    ``HashPartitioning`` of a string column) as signed int32."""
    n, length = mat.shape
    h = np.full(n, seed, dtype=np.uint32)
    aligned = length - length % 4
    for off in range(0, aligned, 4):
        k = np.ascontiguousarray(mat[:, off : off + 4]).view("<u4")[:, 0]
        h = _mix_h1(h, _mix_k1(k))
    for off in range(aligned, length):
        # Platform.getByte is signed: bytes >= 0x80 sign-extend
        b = mat[:, off].astype(np.int8).astype(np.int32).view(np.uint32)
        h = _mix_h1(h, _mix_k1(b))
    h = h ^ np.uint32(length)
    h = h ^ (h >> np.uint32(16))
    h = h * np.uint32(0x85EBCA6B)
    h = h ^ (h >> np.uint32(13))
    h = h * np.uint32(0xC2B2AE35)
    h = h ^ (h >> np.uint32(16))
    return h.view(np.int32)


def _seeded(cols, seed: int) -> np.ndarray:
    """``abs(xxhash64(*cols, lit(seed)))`` as in ``transcripts._h``: every
    column is a 64-bit int except the trailing int literal."""
    h = np.uint64(SPARK_HASH_SEED)
    for c in cols:
        h = xx_long(c, h)
    h = xx_int(np.int32(seed), h)
    return np.abs(h.view(np.int64))


def _seeded_k(cid, turn, k: int, seed: int) -> np.ndarray:
    """``abs(xxhash64(cid, turn, lit(k), lit(seed)))`` (the word picker)."""
    h = xx_long(turn, xx_long(cid, np.uint64(SPARK_HASH_SEED)))
    h = xx_int(np.int32(seed), xx_int(np.int32(k), h))
    return np.abs(h.view(np.int64))


def _string_matrix(strings: list[str]) -> np.ndarray:
    raw = [s.encode("utf-8") for s in strings]
    width = len(raw[0])
    if any(len(b) != width for b in raw):
        raise ValueError("conv ids must share one length")
    return np.frombuffer(b"".join(raw), dtype=np.uint8).reshape(len(raw), width)


#: ``bench.ensure_transcripts``' arguments to ``generate_transcripts``
TURNS_PER_CONV = 12
HOT_FACTOR = 100
N_BUCKETS = 32


def generate(
    n_convs: int,
    seed: int,
    n_hot_convs: int = 4,
    conv_prefix: str = "",
) -> dict:
    """Column dict of the transcripts table, rows in generation order
    (base rows, then the duplicated rows — Spark's ``unionAll`` order).

    ``conv_prefix`` makes append batches whose conv ids cannot collide
    with the base table; without it the table is
    ``generate_transcripts(spark, n_convs, TURNS_PER_CONV, n_hot_convs,
    HOT_FACTOR, seed, N_BUCKETS)``.
    """
    cids = np.arange(n_convs, dtype=np.int64)
    turns = np.where(
        cids < n_hot_convs,
        TURNS_PER_CONV * HOT_FACTOR,
        2 + _seeded([cids], seed + 1) % (2 * TURNS_PER_CONV - 1),
    )
    cid = np.repeat(cids, turns)
    starts = np.cumsum(turns) - turns
    turn = np.arange(cid.size, dtype=np.int64) - np.repeat(starts, turns)

    bucket = _seeded([cid, turn], seed) % 1000
    word_idx = np.stack(
        [_seeded_k(cid, turn, k, seed + 2) % len(WORDS) for k in range(12)],
        axis=1,
    )
    words = np.array(WORDS, dtype=object)
    normal = [" ".join(row) for row in words[word_idx]]
    phone = _seeded([cid, turn], seed + 3) % 100_000_000

    text: list = [None] * cid.size
    rep = "This is repeated. " * 50
    long_x = "x" * 5000
    for i, b in enumerate(bucket.tolist()):
        if b < 5:
            t = None
        elif b < 10:
            t = "   "
        elif b < 14:
            t = f"contact user{cid[i]}@example.com soon"
        elif b < 17:
            t = f"call 138{phone[i]:08d} now"
        elif b < 20:
            t = "id is 110101199001011234 ok"
        elif b < 25:
            t = "bad\x00\x01\x02\x03 bytes here " + normal[i]
        elif b < 30:
            t = rep
        elif b < 33:
            t = long_x
        elif b < 38:
            t = ZH + " " + normal[i]
        else:
            t = normal[i]
        text[i] = t

    role_bucket = _seeded([cid, turn], seed + 4) % 1000
    cycle = np.array(ROLE_CYCLE, dtype=object)[turn % 4]
    role = np.where(role_bucket < 2, "robot", cycle).astype(object)

    tool_bucket = _seeded([cid, turn], seed + 5) % 1000
    tool = np.full(cid.size, None, dtype=object)
    is_tool = role == "tool"
    tool[is_tool] = np.array(TOOL_VOCAB, dtype=object)[
        tool_bucket[is_tool] % len(TOOL_VOCAB)
    ]
    orphan = tool_bucket < 2
    tool[orphan] = [f"tool_zz_{v % 7}" for v in tool_bucket[orphan].tolist()]

    ts = EPOCH_US + (cid % 30) * 86_400_000_000 + turn * 7_000_000
    conv_id = [f"{conv_prefix}conv_{c:06d}" for c in cid.tolist()]

    dup = np.flatnonzero(_seeded([cid, turn], seed + 6) % 1000 < 5)
    order = np.concatenate([np.arange(cid.size), dup])
    conv_id = [conv_id[i] for i in order.tolist()]
    mat = _string_matrix(conv_id)
    conv_bucket = (xx_bytes(mat, np.uint64(SPARK_HASH_SEED)).view(np.int64)
                   % N_BUCKETS).astype(np.int32)
    return {
        "conv_id": conv_id,
        "turn_idx": turn[order].astype(np.int32),
        "role": role[order].tolist(),
        "text": [text[i] for i in order.tolist()],
        "tool": tool[order].tolist(),
        "ts": ts[order],
        "conv_bucket": conv_bucket,
        "_murmur": murmur3_bytes(mat),
    }


def write_parquet(cols: dict, path: Path, n_files: int) -> list[Path]:
    """Write ``cols`` as ``repartition(n_files, "conv_id")`` would: the
    file index of a row is ``pmod(murmur3(conv_id), n_files)``. Returns
    the written files (empty partitions write none, as in Spark)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    schema = pa.schema(
        [
            ("conv_id", pa.string()),
            ("turn_idx", pa.int32()),
            ("role", pa.string()),
            ("text", pa.string()),
            ("tool", pa.string()),
            ("ts", pa.timestamp("us", tz="UTC")),
            ("conv_bucket", pa.int32()),
        ]
    )
    table = pa.table(
        {
            "conv_id": pa.array(cols["conv_id"], pa.string()),
            "turn_idx": pa.array(cols["turn_idx"], pa.int32()),
            "role": pa.array(cols["role"], pa.string()),
            "text": pa.array(cols["text"], pa.string()),
            "tool": pa.array(cols["tool"], pa.string()),
            "ts": pa.array(cols["ts"], pa.timestamp("us", tz="UTC")),
            "conv_bucket": pa.array(cols["conv_bucket"], pa.int32()),
        },
        schema=schema,
    )
    part = np.mod(cols["_murmur"].astype(np.int64), n_files)
    path.mkdir(parents=True, exist_ok=True)
    written = []
    for p in range(n_files):
        idx = np.flatnonzero(part == p)
        if idx.size == 0:
            continue
        out = path / f"part-{p:05d}.parquet"
        pq.write_table(table.take(idx), out, compression="snappy")
        written.append(out)
    return written
