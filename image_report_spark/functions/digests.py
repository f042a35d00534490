"""Content digests: row / partition / table checksums.

Graft of the reference's configurable hash family (reference
``hashing_config.py:446-509``, dispatched ``ir:151-216``): per-record
content fingerprints, combined order-independently per partition, then
folded into one table digest used for replay-equality verification
(BASELINE.json:6 — "asserting final-table equality").

All JVM-side (``xxhash64`` / ``sha2`` / ``bit_xor`` built-ins); no Python
in the hot path.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: unit-separator canonicalization delimiter for the golden sha2 digest
SEP = "\x1f"
#: sentinel for NULL in canonical form (distinguishes NULL from "")
NULL = "\x00N"


def canonical_cols(df: DataFrame, cols: list[str]) -> list[Column]:
    """Canonicalize columns to strings for stable cross-run digests.

    Timestamps → microseconds-since-epoch (timezone-proof), everything else
    → CAST AS STRING, NULL → sentinel. Deterministic across Spark sessions.
    """
    out = []
    for c in cols:
        dt = dict(df.dtypes)[c]
        col = F.col(c)
        if dt.startswith("timestamp"):
            col = F.unix_micros(col).cast("string")
        else:
            col = col.cast("string")
        out.append(F.coalesce(col, F.lit(NULL)))
    return out


def row_digest(df: DataFrame, cols: list[str]) -> Column:
    """Fast 64-bit per-row content hash (JVM xxhash64 over canonical form)."""
    return F.xxhash64(F.concat_ws(SEP, *canonical_cols(df, cols)))


#: typed NULL sentinels for ``typed_row_digest``. They are representable
#: values, so a row that really holds LONG_MIN / INT_MIN in a column hashes
#: like a NULL there — an accepted collision for an internal checksum
#: (LONG_MIN microseconds is the year −290308). Byte and short columns are
#: widened to int first, so INT_MIN lies outside their range and never
#: collides. The string sentinel is the control-character form the
#: canonical digest uses.
_LONG_MIN = -(1 << 63)
_INT_MIN = -(1 << 31)


def typed_cols(df: DataFrame, cols: list[str]) -> list[Column]:
    """Columns prepared for a typed (allocation-free) xxhash64.

    Unlike :func:`canonical_cols`, nothing is cast to string: xxhash64
    hashes native ints/longs/strings directly, so the only per-row work
    is the hash fold itself. NULLs are replaced by typed sentinels so a
    NULL still contributes to the hash at its position (a bare
    ``xxhash64(col)`` SKIPS null inputs, which would make row
    ``(NULL, "x")`` collide with ``("x", NULL)`` across adjacent columns).
    Timestamps hash as microseconds-since-epoch (timezone-proof, same
    normalization canonical mode uses). Types outside the fast set fall
    back to the canonical string form for that column only.
    """
    out = []
    for c in cols:
        dt = dict(df.dtypes)[c]
        col = F.col(c)
        if dt.startswith("timestamp"):
            out.append(F.coalesce(F.unix_micros(col), F.lit(_LONG_MIN)))
        elif dt == "bigint":
            out.append(F.coalesce(col, F.lit(_LONG_MIN)))
        elif dt in ("int", "smallint", "tinyint"):
            # xxhash64 hashes byte/short values as int, so the widening
            # leaves non-null hashes unchanged and keeps the int sentinel
            # in range (casting it down would overflow under ANSI mode)
            out.append(F.coalesce(col.cast("int"), F.lit(_INT_MIN)))
        elif dt == "string":
            out.append(F.coalesce(col, F.lit(NULL)))
        else:
            out.append(F.coalesce(col.cast("string"), F.lit(NULL)))
    return out


def typed_row_digest(df: DataFrame, cols: list[str]) -> Column:
    """Per-row content hash without the canonical string materialization.

    ``xxhash64`` over :func:`typed_cols` — same 64-bit contract as
    :func:`row_digest` but different values: no per-row cast-strings, no
    concat buffer (the canonical form allocates ~200 B of garbage per row,
    measured at 0.25–0.3 s per 2 M rows plus GC amplification across 32
    concurrent merge tasks — BENCH/rowhash_probe.py). Used as the engine's
    partition-checksum unit for every table ``CdcEngine.init`` creates
    (the snapshot's ``rowhash_mode``); the canonical form remains for
    pre-existing tables and for the golden sha2 digest, whose values are
    externally comparable.
    """
    return F.xxhash64(*typed_cols(df, cols))


def row_digest_sha2(df: DataFrame, cols: list[str]) -> Column:
    """Golden per-row digest (sha256 hex over the canonical form)."""
    return F.sha2(F.concat_ws(SEP, *canonical_cols(df, cols)), 256)


def partition_checksums(df: DataFrame, part_col: str, cols: list[str]) -> DataFrame:
    """Order-independent per-partition checksum.

    ``bit_xor`` of per-row xxhash64 digests — commutative/associative, so the
    result is invariant to row order and physical file layout (rows are
    unique per key in a resolved table, so xor self-cancellation cannot
    occur). Returns ``(part_col, row_count, checksum)`` with checksum as a
    16-hex-digit string.
    """
    h = row_digest(df, cols).alias("_h")
    agg = df.select(F.col(part_col), h).groupBy(part_col).agg(
        F.count(F.lit(1)).alias("row_count"),
        F.expr("bit_xor(_h)").alias("_xor"),
    )
    return agg.select(
        part_col,
        "row_count",
        F.lpad(F.hex(F.col("_xor")), 16, "0").alias("checksum"),
    )


def table_digest(partition_entries: list[tuple[int, int, str]]) -> str:
    """Digest of sorted (partition, row_count, checksum) triples.

    Driver-side fold over the (tiny) manifest — the table-level
    replay-equality fingerprint. Sorted by partition id so the digest is
    independent of commit order.
    """
    m = hashlib.sha256()
    for p, n, c in sorted(partition_entries):
        m.update(f"{p}:{n}:{c}\n".encode())
    return m.hexdigest()
