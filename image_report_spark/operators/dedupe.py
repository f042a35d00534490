"""Document deduplication for training-data pipelines.

Four tiers, all shuffle-conscious (graft of the reference's NMS duplicate
suppression, utils.py:270-319, and path dedup, ir:552-557, lifted to
corpus scale):

* exact        — hash-groupBy on content (one shuffle on a 64-bit key);
* n-gram Jaccard — shingle sets + exact pairwise Jaccard (for candidate
  pairs only — never all-pairs);
* MinHash+LSH  — shingle → k minhashes → band buckets; only same-bucket
  candidates are verified. At 100 TB this is THE near-dup path: the
  all-pairs O(n²) never materializes;
* SimHash      — 64-bit sign-aggregated fingerprint via one Arrow-batched
  pandas UDF (numpy bit ops), Hamming-ball grouping on the key.

Hot buckets are the COMMON case on real web corpora — boilerplate creates
million-member duplicate clusters, so every tier offers two candidate
shapes:

* PAIRS (``minhash_dedup`` / ``simhash_near_pairs``): all within-bucket
  pairs via rank + equi-join (``within_bucket_pairs`` — no collect_list
  arrays, no single-task bucket ownership). Inherently O(cluster²)
  output; cap with ``max_pairs_per_member`` + ``capped_pair_drops``.
* GROUPS (``minhash_dedup_groups`` / ``simhash_near_groups``): member →
  bucket-representative edges (LINEAR) + verify + distributed connected
  components — the production path for unbounded corpora.

Everything except the SimHash bit-fold is pure ``pyspark.sql.functions``.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from image_report_spark.functions.text import words
from image_report_spark.operators.graph import connected_components

# Mersenne prime 2^31−1: keeps (a*h + b) < 2^62, safe under ANSI long math
MINHASH_PRIME = 2_147_483_647


def widen_small_scan(df: DataFrame) -> DataFrame:
    """Spread a small-file scan across the session's default parallelism
    before per-row-heavy signature compute.

    The scan-fused stage's parallelism is bounded by the INPUT SPLIT
    count, not ``spark.sql.shuffle.partitions`` — a few-MB parquet file
    yields a handful of tasks, so a compute-bound fingerprint pass runs
    on 4 threads while the other 28 idle (measured: the d2 signature
    pass at sf1.0 ran 4 tasks wide). One cheap round-robin exchange of
    (id, text) rows fixes the whole downstream chain. Scale-adaptive:
    inputs already at/above default parallelism pass through untouched,
    so a 100 TB scan with thousands of splits pays nothing."""
    sc = df.sparkSession.sparkContext
    target = sc.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


# --------------------------------------------------------------------- exact
def exact_duplicates(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Groups of byte-identical documents: (canonical_id, dup_id) pairs.

    Hash-groupBy: shuffle on xxhash64(text), not on the text itself —
    at 100 TB the shuffle carries 8-byte keys + ids, not documents.
    Hot-cluster-safe: canonical id and group size come from window
    aggregates over the hash partition — a million-member boilerplate
    cluster is a million ordinary rows, never a million-element
    ``collect_list`` array in one row."""
    h = df.select(F.col(id_col), F.xxhash64(F.col(text_col)).alias("_h"))
    w = Window.partitionBy("_h")
    return (
        h.select(
            F.min(id_col).over(w).alias("canonical_id"),
            F.col(id_col).alias("dup_id"),
            F.count(F.lit(1)).over(w).alias("group_size"),
        )
        .filter(
            (F.col("group_size") > 1) & (F.col("dup_id") != F.col("canonical_id"))
        )
    )


def dedup_exact(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Keep one canonical doc (min id) per distinct content."""
    w_min = F.min(F.col(id_col)).alias("keep_id")
    keep = df.groupBy(F.xxhash64(F.col(text_col)).alias("_h")).agg(w_min)
    return df.join(keep.select(F.col("keep_id").alias(id_col)), id_col, "inner")


# ------------------------------------------------------------------ shingles
def shingles(col: Column, n: int = 3) -> Column:
    """Word n-gram shingles (distinct)."""
    ws = words(col)
    idx = F.sequence(F.lit(0), F.greatest(F.size(ws) - n, F.lit(0)))
    return F.array_distinct(
        F.when(
            F.size(ws) >= n,
            F.transform(idx, lambda i: F.concat_ws(" ", F.slice(ws, i + 1, n))),
        ).otherwise(F.array(F.concat_ws(" ", ws)))
    )


def jaccard(a: Column, b: Column) -> Column:
    inter = F.size(F.array_intersect(a, b))
    union = F.size(F.array_union(a, b))
    return F.when(union > 0, inter / union).otherwise(F.lit(0.0))


_inter_udf = None


def _intersect_size_udf():
    """Arrow-vectorized |a ∩ b| over two DISTINCT-element long arrays —
    the JVM ``array_intersect``/``array_union`` pair builds a hash set
    per row per side with no codegen; sorted numpy intersection is ~5×
    cheaper on shingle-hash arrays (guide §4.2). Division and rounding
    stay JVM-side so the produced jaccard values are bit-identical."""
    global _inter_udf
    if _inter_udf is None:

        def _fn(a: pd.Series, b: pd.Series) -> pd.Series:
            n = len(a)
            out = np.empty(n, dtype=object)
            av, bv = a.values, b.values
            for i in range(n):
                x, y = av[i], bv[i]
                if x is None or y is None:
                    out[i] = None  # mirrors size(array_intersect(null, _))
                else:
                    out[i] = np.intersect1d(
                        np.asarray(x, dtype=np.int64),
                        np.asarray(y, dtype=np.int64),
                        assume_unique=True,
                    ).size
            return pd.Series(out)

        # deterministic per-row function; marked non-deterministic ONLY to
        # stop the optimizer duplicating the Python evaluation above and
        # below the pushed-down jaccard>=threshold filter (guide §4.4)
        _inter_udf = pandas_udf(_fn, "int").asNondeterministic()
    return _inter_udf


def hash_jaccard_pairs(
    candidate_pairs: DataFrame,
    sh_df: DataFrame,
    id_col: str = "doc_id",
    threshold: float = 0.8,
    use_arrow: bool = True,
) -> DataFrame:
    """Verify candidate (id_a, id_b) pairs by exact Jaccard over
    PRECOMPUTED shingle-hash arrays ``sh_df`` = (id, _sh) — the verify
    path a signature store uses so historical docs need no text."""
    # both join sides read one materialization of the shingle arrays
    sh_df = sh_df.localCheckpoint(eager=False)
    a = sh_df.select(F.col(id_col).alias("id_a"), F.col("_sh").alias("_sa"))
    b = sh_df.select(F.col(id_col).alias("id_b"), F.col("_sh").alias("_sb"))
    joined = candidate_pairs.join(a, "id_a").join(b, "id_b")
    if not use_arrow:
        # small-corpus dispatch (see MINHASH_ARROW_MIN_BYTES): same values
        # via the pure-JVM intersect/union expressions, no Python startup
        return (
            joined.withColumn(
                "jaccard", F.round(jaccard(F.col("_sa"), F.col("_sb")), 6)
            )
            .filter(F.col("jaccard") >= threshold)
            .select("id_a", "id_b", "jaccard")
        )
    # |a∪b| = |a| + |b| − |a∩b| (elements are distinct by construction),
    # so one vectorized intersection replaces the JVM intersect+union
    # pair; ratio + round stay JVM-side — values identical to jaccard()
    inter = _intersect_size_udf()(F.col("_sa"), F.col("_sb"))
    return (
        joined
        .withColumn("_i", inter)
        .withColumn("_u", F.size("_sa") + F.size("_sb") - F.col("_i"))
        .withColumn(
            "jaccard",
            F.round(
                F.when(F.col("_u") > 0, F.col("_i") / F.col("_u")).otherwise(
                    F.lit(0.0)
                ),
                6,
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


# -------------------------------------------------- bucket-pair primitives
def within_bucket_pairs(
    df: DataFrame,
    bucket_cols: list[str],
    id_col: str = "doc_id",
    carry: tuple[str, ...] = (),
    max_pairs_per_member: int | None = None,
) -> DataFrame:
    """Unordered (id_a < id_b) pairs within each bucket.

    Generated by rank + explode + equi-join on ``(bucket, position)``
    instead of ``collect_list`` + nested transform. Honest cost shape:
    uncapped, the first member's row still materializes an O(|bucket|)
    ``sequence`` array — but of 8-byte offsets, not struct pairs — and
    the ``row_number`` window funnels each bucket through one task's
    sort; what the rank + equi-join buys is that the JOIN OUTPUT (the
    expensive side: wide carried payloads, O(|bucket|²) rows) spreads
    across tasks instead of landing in a single straggler. For truly
    unbounded buckets use the groups path (hybrid rep edges, linear) or
    set the cap below. ``carry`` columns are duplicated onto both sides
    as ``<c>_a`` / ``<c>_b``.

    ``max_pairs_per_member`` caps each member at its ``cap`` nearest
    id-successors within the bucket — candidate volume becomes
    O(|bucket| · cap) instead of O(|bucket|²), which is what survives a
    million-member boilerplate duplicate cluster at 100 TB. Caps must
    never be silent: when you set one, also run
    :func:`capped_pair_drops` on the same input and log its count, or use
    the drop-free cluster path (``minhash_dedup_groups`` /
    ``simhash_near_groups`` / ``embedding_neardup_groups``) whose
    representative edges are linear with no drops at all.
    """
    w_rank = Window.partitionBy(*bucket_cols).orderBy(id_col)
    w_all = Window.partitionBy(*bucket_cols)
    # lazy localCheckpoint: both join sides read the SAME materialized
    # ranked frame — without it, column pruning makes the two window
    # subtrees differ, ReuseExchange misses, and the (expensive) upstream
    # signature pipeline runs once per side (measured 2× on d2)
    ranked = (
        df.withColumn("_pos", F.row_number().over(w_rank))
        .withColumn("_bn", F.count(F.lit(1)).over(w_all))
        .localCheckpoint(eager=False)
    )
    span = F.col("_bn") - F.col("_pos")
    if max_pairs_per_member is not None:
        if max_pairs_per_member < 1:
            raise ValueError("max_pairs_per_member must be >= 1")
        span = F.least(span, F.lit(max_pairs_per_member))
    a = (
        ranked.filter(F.col("_bn") > F.col("_pos"))
        .withColumn("_k", F.explode(F.sequence(F.lit(1), span)))
        .select(
            *bucket_cols,
            F.col(id_col).alias("id_a"),
            *[F.col(c).alias(f"{c}_a") for c in carry],
            (F.col("_pos") + F.col("_k")).alias("_pos_b"),
        )
    )
    b = ranked.select(
        *bucket_cols,
        F.col(id_col).alias("id_b"),
        *[F.col(c).alias(f"{c}_b") for c in carry],
        F.col("_pos").alias("_pos_b"),
    )
    return a.join(b, [*bucket_cols, "_pos_b"]).drop("_pos_b", *bucket_cols)


def capped_pair_drops(
    df: DataFrame,
    bucket_cols: list[str],
    max_pairs_per_member: int,
) -> DataFrame:
    """1-row count of candidate pairs :func:`within_bucket_pairs` drops at
    ``max_pairs_per_member`` — run and log it whenever a cap is active
    (the "no silent caps" rule). Per bucket of n members the exact pair
    count is n(n−1)/2 and the capped count is Σᵢ min(cap, n−i)."""
    sizes = df.groupBy(*bucket_cols).agg(F.count(F.lit(1)).alias("n"))
    cap = F.lit(max_pairs_per_member)
    full = F.col("n") * (F.col("n") - 1) / 2
    # kept = Σ_{i=1..n} min(cap, n−i): the first (n−cap) members emit cap
    # pairs each, the tail emits (cap−1) + (cap−2) + ... + 0
    kept = F.when(
        F.col("n") > cap, cap * (F.col("n") - cap) + cap * (cap - 1) / 2
    ).otherwise(full)
    return sizes.agg(
        F.coalesce(F.sum((full - kept).cast("long")), F.lit(0)).alias("dropped_pairs")
    )


def bucket_rep_edges(
    df: DataFrame,
    bucket_cols: list[str],
    id_col: str = "doc_id",
    carry: tuple[str, ...] = (),
) -> DataFrame:
    """Linear candidate edges: every bucket member → the bucket
    representative (min id). O(|bucket|) rows per bucket — the
    hot-cluster-safe candidate shape (reference analog: NMS suppresses
    against the kept representative, never all-pairs, utils.py:304-317).
    The representative's ``carry`` payload rides a ``min(struct(id, ...))``
    window aggregate, so no self-join is needed to fetch it."""
    w = Window.partitionBy(*bucket_cols)
    rep = F.min(F.struct(F.col(id_col), *[F.col(c) for c in carry])).over(w)
    return (
        df.select(
            rep.getField(id_col).alias("id_a"),
            *[rep.getField(c).alias(f"{c}_a") for c in carry],
            F.col(id_col).alias("id_b"),
            *[F.col(c).alias(f"{c}_b") for c in carry],
        )
        .filter(F.col("id_a") != F.col("id_b"))
        .distinct()
    )


def bucket_candidate_edges(
    df: DataFrame,
    bucket_cols: list[str],
    id_col: str = "doc_id",
    carry: tuple[str, ...] = (),
    exact_bucket_max: int = 64,
) -> DataFrame:
    """Hybrid candidate edges for cluster closure — the groups-path
    default.

    * Buckets of ≤ ``exact_bucket_max`` members emit ALL within-bucket
      pairs (≤ C(64,2) ≈ 2k per bucket — bounded constant work, and the
      band scheme's recall guarantee is preserved exactly: any same-bucket
      true pair becomes a direct verified edge).
    * Larger buckets emit member → representative edges only — LINEAR, so
      a million-member boilerplate duplicate cluster costs a million
      edges, never 10¹² pairs. Big buckets on real corpora are
      overwhelmingly PURE (true duplicate clusters), where every rep edge
      verifies and the cluster connects; a big IMPURE bucket means the
      band key space is saturated and needs wider keys (e.g. Manku-style
      multi-band combination keys), not more pairs.

    Output columns: ``id_a < id_b`` plus ``<c>_a`` / ``<c>_b`` for carry.
    """
    w_all = Window.partitionBy(*bucket_cols)
    # one materialization feeds both branches (lazy localCheckpoint —
    # otherwise the upstream signature pipeline runs once per branch)
    sized = df.withColumn("_bn", F.count(F.lit(1)).over(w_all)).localCheckpoint(
        eager=False
    )
    small = within_bucket_pairs(
        sized.filter(F.col("_bn") <= exact_bucket_max).drop("_bn"),
        bucket_cols, id_col, carry=carry,
    )
    big = bucket_rep_edges(
        sized.filter(F.col("_bn") > exact_bucket_max).drop("_bn"),
        bucket_cols, id_col, carry=carry,
    )
    return small.unionByName(big).distinct()


# ------------------------------------------------------------- MinHash + LSH
def _hash_params(k: int, seed: int = 13) -> list[tuple[int, int]]:
    rng = np.random.default_rng(seed)
    return [
        (int(rng.integers(1, MINHASH_PRIME)), int(rng.integers(0, MINHASH_PRIME)))
        for _ in range(k)
    ]


def with_shingle_hashes(
    df: DataFrame, text_col: str = "text", out: str = "_sh", n: int = 3
) -> DataFrame:
    """Add ``out`` = distinct word-n-gram shingle hashes (mod p).

    Two deliberate ``withColumn`` steps: the word array is materialized as
    an *attribute* before the shingle lambda slices it — a lambda body
    re-evaluates any non-attribute subexpression per element, which turns
    shingling O(words²) if the split stays inline (HOFs are interpreted,
    no codegen CSE). Measured 7.3s → sub-second on 1k docs."""
    ws = "_irs_ws"
    w = F.col(ws)
    hash_of = lambda c: F.pmod(F.xxhash64(c), F.lit(MINHASH_PRIME))  # noqa: E731
    return (
        df.withColumn(ws, words(F.col(text_col)))
        .withColumn(
            out,
            F.array_distinct(
                F.when(
                    F.size(w) >= n,
                    F.transform(
                        F.sequence(F.lit(0), F.size(w) - n),
                        lambda i: hash_of(F.concat_ws(" ", F.slice(w, i + 1, n))),
                    ),
                ).otherwise(F.array(hash_of(F.concat_ws(" ", w))))
            ),
        )
        .drop(ws)
    )


def minhash_from_hashes_jvm(hashes: Column, k: int = 32, seed: int = 13) -> Column:
    """Pure-JVM k-permutation MinHash (k interpreted HOF passes over the
    shingle array — higher-order functions get no codegen, so this costs
    k full interpreted traversals per row; kept as the reference
    implementation the vectorized path is pinned against)."""
    mins = []
    for a, b in _hash_params(k, seed):
        mins.append(
            F.array_min(
                F.transform(
                    hashes,
                    lambda h: F.pmod(h * F.lit(a) + F.lit(b), F.lit(MINHASH_PRIME)),
                )
            )
        )
    return F.array(*mins)


_mh_udfs: dict[tuple[int, int], object] = {}


def _minhash_vec_udf(k: int, seed: int):
    """Arrow-vectorized MinHash fold: one numpy broadcast-multiply + one
    ``np.minimum.reduceat`` segment-min per Arrow batch replaces k
    interpreted HOF traversals per row (bit-identical: same int64
    ``(h*a + b) mod p`` arithmetic — h, a < p = 2^31−1 keeps every
    intermediate < 2^62). Cached per (k, seed); created lazily because
    ``pandas_udf`` needs an active session."""
    key = (k, seed)
    fn = _mh_udfs.get(key)
    if fn is not None:
        return fn
    params = _hash_params(k, seed)
    av = np.array([p[0] for p in params], dtype=np.int64)[None, :]
    bv = np.array([p[1] for p in params], dtype=np.int64)[None, :]

    def _fold(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
        for hashes in batches:
            n = len(hashes)
            res: list = [None] * n
            lists: list[np.ndarray] = []
            idxs: list[int] = []
            for i, arr in enumerate(hashes):
                if arr is None or len(arr) == 0:
                    # mirror the JVM path: array_min over an empty/null
                    # transform yields NULL per permutation
                    res[i] = [None] * k
                else:
                    lists.append(np.asarray(arr, dtype=np.int64))
                    idxs.append(i)
            if lists:
                lens = np.fromiter(
                    (len(x) for x in lists), dtype=np.int64, count=len(lists)
                )
                ends = np.cumsum(lens)
                flat = np.concatenate(lists)
                # chunk rows so the (tokens, k) intermediate stays ~64 MB
                max_tokens = max(262_144 // k * 32, 1024)
                start_row = 0
                while start_row < len(lists):
                    base = ends[start_row - 1] if start_row else 0
                    end_row = int(
                        np.searchsorted(ends, base + max_tokens, side="left")
                    )
                    end_row = max(end_row, start_row + 1)
                    seg = flat[base : ends[end_row - 1]]
                    offs = (
                        np.concatenate(([0], ends[start_row : end_row - 1] - base))
                        if end_row > start_row + 1
                        else np.zeros(1, dtype=np.int64)
                    )
                    m = (seg[:, None] * av + bv) % MINHASH_PRIME
                    sig = np.minimum.reduceat(m, offs, axis=0)
                    for j in range(start_row, end_row):
                        res[idxs[j]] = sig[j - start_row]
                    start_row = end_row
            yield pd.Series(res)

    fn = pandas_udf(_fold, "array<long>")
    _mh_udfs[key] = fn
    return fn


def minhash_from_hashes(hashes: Column, k: int = 32, seed: int = 13) -> Column:
    """k-permutation MinHash over a pre-hashed shingle array (vectorized
    numpy fold — values bit-identical to :func:`minhash_from_hashes_jvm`,
    pinned in tests/test_training_ops.py)."""
    return _minhash_vec_udf(k, seed)(hashes)


#: corpus bytes below which the dedup pipelines keep the pure-JVM
#: expression paths instead of the Arrow-vectorized ones. Both paths are
#: bit-identical (pinned in tests), so this is a pure performance
#: dispatch: the first Python-UDF stage of a session pays the Python
#: runtime startup (worker pool fork + pandas/pyarrow import + Arrow
#: codegen — measured ~1.5-2 s wall at local[32]), which only amortizes
#: once the interpreted-HOF work it replaces is bigger than that. The
#: threshold is a DATA size, not a core-count constant: measured
#: breakeven sits between a 0.6 MB corpus (JVM path wins cold by ~1.5 s)
#: and a 6 MB corpus (Arrow path wins by 1.8× on the whole query).
MINHASH_ARROW_MIN_BYTES = 4 << 20


def _plan_size_bytes(df: DataFrame) -> int:
    """Catalyst's size estimate for a frame (file sizes for scans;
    Long.MaxValue when unknown — unknown therefore dispatches to the
    Arrow path, the right default for anything big)."""
    return int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 32,
    seed: int = 13,
    use_arrow: bool = True,
) -> DataFrame:
    """(id, _sh, _sig): distinct shingle hashes + k-minhash signature per
    doc — the rows a signature STORE persists so later batches never
    re-shingle historical documents (see operators.incremental).
    ``use_arrow=False`` keeps the bit-identical JVM minhash fold (the
    small-corpus dispatch, see MINHASH_ARROW_MIN_BYTES)."""
    narrow = widen_small_scan(df.select(id_col, text_col))
    fold = minhash_from_hashes if use_arrow else minhash_from_hashes_jvm
    return with_shingle_hashes(narrow, text_col).select(
        F.col(id_col), F.col("_sh"),
        fold(F.col("_sh"), k, seed).alias("_sig"),
    )


def explode_bands(sig_df: DataFrame, id_col: str = "doc_id", k: int = 32, bands: int = 8) -> DataFrame:
    """(id, band, band_hash) rows from a (id, ..., _sig) frame: each doc
    exploded to its ``bands`` LSH band hashes (k/bands minhashes hashed
    together per band). Derived from the signature only — no text."""
    r = k // bands
    band_arr = F.transform(
        F.sequence(F.lit(0), F.lit(bands - 1)),
        lambda b: F.struct(
            b.alias("band"),
            F.xxhash64(F.concat_ws(",", F.transform(
                F.slice(F.col("_sig"), b * r + 1, r), lambda v: v.cast("string")
            ))).alias("band_hash"),
        ),
    )
    return sig_df.select(id_col, F.explode(band_arr).alias("bh")).select(
        id_col, F.col("bh.band").alias("band"), F.col("bh.band_hash").alias("band_hash")
    )


def minhash_banded(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 32,
    bands: int = 8,
    seed: int = 13,
) -> DataFrame:
    """(id, band, band_hash) rows: shingle → sign → band in one pass."""
    return explode_bands(
        minhash_signatures(df, text_col, id_col, k, seed), id_col, k, bands
    )


def minhash_lsh_candidates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 32,
    bands: int = 8,
    seed: int = 13,
    max_pairs_per_member: int | None = None,
) -> DataFrame:
    """Candidate near-dup pairs: same hash in ≥1 of ``bands`` bands.

    Shuffle profile: explode to (doc, band) — k/bands-tuple band hashes —
    then rank + equi-join per (band, band_hash) bucket
    (:func:`within_bucket_pairs` — no ``collect_list`` bucket arrays, no
    O(|bucket|²) join intermediate in one task). Real web corpora make
    giant duplicate clusters the COMMON case (boilerplate), so hot buckets
    are expected, not exceptional: pair volume is inherently quadratic in
    cluster size, so for unbounded inputs either set
    ``max_pairs_per_member`` (and log :func:`capped_pair_drops`) or use
    :func:`minhash_dedup_groups`, whose representative edges are linear
    with no drops."""
    banded = minhash_banded(df, text_col, id_col, k, bands, seed)
    return (
        within_bucket_pairs(
            banded, ["band", "band_hash"], id_col,
            max_pairs_per_member=max_pairs_per_member,
        )
        .distinct()
    )


def minhash_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.8,
    k: int = 32,
    bands: int = 8,
    max_pairs_per_member: int | None = None,
) -> DataFrame:
    """Near-dup PAIRS: LSH candidates → exact Jaccard verify.

    Emits the full pair set (inherently O(cluster²) on a true duplicate
    cluster); for web-scale corpora prefer :func:`minhash_dedup_groups`
    (linear cluster assignments) or pass ``max_pairs_per_member``.

    One shingle pass total: the signature frame is checkpointed and feeds
    both the band candidates and the exact-Jaccard verify."""
    use_arrow = _plan_size_bytes(df) >= MINHASH_ARROW_MIN_BYTES
    sig = minhash_signatures(
        df, text_col, id_col, k, use_arrow=use_arrow
    ).localCheckpoint(eager=False)
    banded = explode_bands(sig, id_col, k, bands)
    cands = within_bucket_pairs(
        banded, ["band", "band_hash"], id_col,
        max_pairs_per_member=max_pairs_per_member,
    ).distinct()
    return hash_jaccard_pairs(cands, sig, id_col, threshold, use_arrow=use_arrow)


def minhash_dedup_groups(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.8,
    k: int = 32,
    bands: int = 8,
    seed: int = 13,
) -> DataFrame:
    """Near-dup CLUSTERS — the 100 TB production path.

    Candidates are member → bucket-representative edges (LINEAR in bucket
    size, so a million-member boilerplate cluster costs a million edges,
    not 10¹² pairs), verified by exact n-gram Jaccard, then closed
    transitively with distributed connected components. Output:
    ``(doc_id, cluster_id)`` for every doc in a cluster of ≥ 2, with
    ``cluster_id`` = min doc id of the cluster; singletons are absent.

    Candidates come from :func:`bucket_candidate_edges`: exact pairs
    inside small buckets (bounded work, preserves the band scheme's
    recall guarantee — any same-bucket true pair is a direct edge), rep
    edges inside big buckets (linear; big buckets on real corpora are
    pure duplicate clusters, where every rep edge verifies and the
    cluster connects). Recall is complete with overwhelming probability
    at this threshold/seed; a miss on adversarial data is expected LSH
    variance, not an engine bug."""
    use_arrow = _plan_size_bytes(df) >= MINHASH_ARROW_MIN_BYTES
    sig = minhash_signatures(
        df, text_col, id_col, k, seed, use_arrow=use_arrow
    ).localCheckpoint(eager=False)
    banded = explode_bands(sig, id_col, k, bands)
    edges = bucket_candidate_edges(banded, ["band", "band_hash"], id_col)
    verified = hash_jaccard_pairs(edges, sig, id_col, threshold, use_arrow=use_arrow)
    comp = connected_components(verified.select("id_a", "id_b"))
    return comp.select(
        F.col("id").alias(id_col), F.col("component").alias("cluster_id")
    )


# ------------------------------------------------------------------- SimHash
def _simhash_bitfold_fn(hash_arrays: pd.Series) -> pd.Series:
    """64-bit SimHash bit-vote over PRE-HASHED token arrays.

    Fully vectorized — no per-row/per-token Python: all docs' hashes in the
    Arrow batch are concatenated into one uint64 array, unpacked to a
    (tokens, 64) bit matrix in one shift, and majority-voted per doc with a
    single ``np.add.reduceat`` segment sum. Word hashing itself happens
    JVM-side (``transform(words, xxhash64)``) before this UDF.
    """
    n = len(hash_arrays)
    out = np.zeros(n, dtype=np.int64)
    if n == 0:
        return pd.Series(out)
    lists = [
        np.asarray(a, dtype=np.int64) if a is not None else np.empty(0, np.int64)
        for a in hash_arrays
    ]
    lens = np.fromiter((len(a) for a in lists), dtype=np.int64, count=n)
    total = int(lens.sum())
    if total == 0:
        return pd.Series(out)
    flat = np.concatenate([a for a in lists if len(a)]).view(np.uint64)
    bits = ((flat[:, None] >> np.arange(64, dtype=np.uint64)) & np.uint64(1)).astype(
        np.int64
    )  # (total_tokens, 64)
    nz = np.flatnonzero(lens)
    offsets = np.zeros(n, dtype=np.int64)
    offsets[1:] = np.cumsum(lens)[:-1]
    votes = np.add.reduceat(bits, offsets[nz], axis=0)  # (n_nonempty, 64)
    maj = (votes * 2 > lens[nz, None]).astype(np.uint64)  # strict majority → 1
    sims = (maj << np.arange(64, dtype=np.uint64)).sum(axis=1, dtype=np.uint64)
    # bit-preserving uint64 → int64 (astype raises OverflowError on numpy 2)
    out[nz] = sims.view(np.int64)
    return pd.Series(out)


_simhash_udf = None


def simhash(df: DataFrame, text_col: str = "text", word_hash=None) -> Column:
    """64-bit SimHash column: JVM-side word hashing (default ``xxhash64``;
    pass ``portable_word_hash`` for a SQL-mirrorable 60-bit variant), then
    the vectorized numpy bit-fold."""
    global _simhash_udf
    if _simhash_udf is None:  # deferred: pandas_udf needs an active session
        _simhash_udf = pandas_udf(_simhash_bitfold_fn, "long")
    wh = word_hash or (lambda w: F.xxhash64(w))  # xxhash64 is *args — wrap
    hashes = F.transform(words(F.col(text_col)), wh)
    return _simhash_udf(hashes)


def simhash_duplicates(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", word_hash=None
) -> DataFrame:
    """Exact-SimHash-collision groups (Hamming distance 0; use
    :func:`simhash_near_pairs` / :func:`simhash_near_groups` for
    distance ≤ k). One row per group — canonical id + size, never a
    ``collect_list`` of the whole cluster (hot-cluster-safe)."""
    wdf = widen_small_scan(df.select(id_col, text_col))
    h = wdf.select(F.col(id_col), simhash(wdf, text_col, word_hash).alias("simhash"))
    return (
        h.groupBy("simhash")
        .agg(F.min(id_col).alias("canonical_id"), F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") > 1)
    )


# Manku-style combination keys (Manku, Jain & Das Sarma, "Detecting
# Near-Duplicates for Web Crawling", WWW'07 §3): split the 64-bit
# fingerprint into 6 blocks and key buckets on every 3-block combination.
# Distance ≤ 3 flips bits in at most 3 blocks, so at least 3 blocks are
# untouched and SOME combination of 3 untouched blocks matches (pigeonhole)
# — same recall guarantee as the 4×16-bit scheme, but the key carries
# ~32 bits instead of 16, so the key space is 2^32 per combination and
# buckets stay small at 10⁶–10⁹ docs where the 16-bit space saturates.
#: corpus size at which auto scheme selection (``scheme=None``) switches
#: from the 4 × 16-bit bands to Manku combination keys: the 2¹⁶-value
#: band-key space saturates around 10⁶ docs (proven by the planted
#: saturation test in tests/test_training_ops.py — bands16 collapses to
#: one bucket where manku stays ≤ 64), while manku's 5× candidate rows
#: are pure overhead below it. One threshold, both regimes protected.
SIMHASH_MANKU_AUTO_THRESHOLD = 1_000_000

_MANKU_WIDTHS = (11, 11, 11, 11, 10, 10)
_MANKU_OFFSETS = tuple(sum(_MANKU_WIDTHS[:i]) for i in range(6))
_MANKU_COMBOS = [
    (i, j, k) for i in range(6) for j in range(i + 1, 6) for k in range(j + 1, 6)
]  # C(6,3) = 20 combinations, band id = list index


def _manku_block(b: int):
    return F.shiftrightunsigned(F.col("_sim"), _MANKU_OFFSETS[b]).bitwiseAND(
        F.lit((1 << _MANKU_WIDTHS[b]) - 1)
    )


def simhash_bands_from_sim(
    h: DataFrame, id_col: str = "doc_id", scheme: str = "bands16"
) -> DataFrame:
    """Explode precomputed fingerprints ``h`` = (id, _sim) into LSH bucket
    keys (id, _sim, band, band_bits). Both schemes guarantee full recall
    for Hamming distance ≤ 3 by pigeonhole:

    * ``"bands16"``: 4 × 16-bit bands — 4 rows/doc, 2¹⁶-value key space.
      Fine below ~10⁶ docs; beyond that buckets grow impure AND huge.
    * ``"manku"``: 20 × 3-block combination keys over 6 blocks — 20
      rows/doc, ~2³²-value key space; bucket sizes stay bounded at
      10⁶–10⁹ docs (the web-crawl regime the scheme was designed for).
      5× the candidate-generation shuffle rows buys ~6 × 10⁴× more key
      values — the right trade everywhere above small corpora.
    """
    if scheme == "bands16":
        band_arr = F.array(
            *[
                F.struct(
                    F.lit(b).alias("band"),
                    F.shiftrightunsigned(F.col("_sim"), 16 * b)
                    .bitwiseAND(F.lit(0xFFFF))
                    .alias("band_bits"),
                )
                for b in range(4)
            ]
        )
    elif scheme == "manku":
        band_arr = F.array(
            *[
                F.struct(
                    F.lit(n).alias("band"),
                    (
                        F.shiftleft(
                            _manku_block(i), _MANKU_WIDTHS[j] + _MANKU_WIDTHS[k]
                        )
                        .bitwiseOR(F.shiftleft(_manku_block(j), _MANKU_WIDTHS[k]))
                        .bitwiseOR(_manku_block(k))
                    ).alias("band_bits"),
                )
                for n, (i, j, k) in enumerate(_MANKU_COMBOS)
            ]
        )
    else:
        raise ValueError(f"scheme must be bands16|manku, got {scheme!r}")
    return h.select(id_col, "_sim", F.explode(band_arr).alias("bb")).select(
        id_col, "_sim", F.col("bb.band").alias("band"), F.col("bb.band_bits").alias("band_bits")
    )


def _resolve_simhash_scheme(
    df: DataFrame, scheme: str | None, corpus_count: int | None
) -> str:
    """``scheme=None`` → auto-select from corpus size: manku at or above
    :data:`SIMHASH_MANKU_AUTO_THRESHOLD`, bands16 below. The count is one
    parquet-metadata-served job; pass ``corpus_count`` (any upper-bound
    hint) to skip it. Explicit schemes pass through untouched."""
    if scheme is not None:
        return scheme
    n = corpus_count if corpus_count is not None else df.count()
    return "manku" if n >= SIMHASH_MANKU_AUTO_THRESHOLD else "bands16"


def simhash_banded(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    word_hash=None,
    scheme: str | None = None,
    corpus_count: int | None = None,
) -> DataFrame:
    """(id, _sim, band, band_bits): the 64-bit fingerprint exploded into
    LSH bucket keys — see :func:`simhash_bands_from_sim` for the two
    key schemes (both pigeonhole-complete for distance ≤ 3).
    ``scheme=None`` (default) auto-selects by corpus size so the
    saturation-safe scheme engages without any kwarg at ≳10⁶ docs."""
    scheme = _resolve_simhash_scheme(df, scheme, corpus_count)
    wdf = widen_small_scan(df.select(id_col, text_col))
    h = wdf.select(F.col(id_col), simhash(wdf, text_col, word_hash).alias("_sim"))
    return simhash_bands_from_sim(h, id_col, scheme)


def _hamming_verified(pairs: DataFrame, max_dist: int) -> DataFrame:
    return (
        pairs.withColumn(
            "dist",
            F.bit_count(F.col("_sim_a").bitwiseXOR(F.col("_sim_b"))).cast("int"),
        )
        .filter(F.col("dist") <= max_dist)
        .select("id_a", "id_b", "dist")
        .distinct()
    )


def simhash_near_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_dist: int = 3,
    word_hash=None,
    max_pairs_per_member: int | None = None,
    scheme: str | None = None,
    corpus_count: int | None = None,
) -> DataFrame:
    """Near-duplicate PAIRS at Hamming distance ≤ ``max_dist`` (< 4).

    Candidates are same-band-value pairs via rank + equi-join
    (:func:`within_bucket_pairs`) — the all-pairs O(n²) never
    materializes and no single task owns a whole hot bucket. Verify is
    JVM-side ``bit_count(a XOR b)`` — no Python, and identical under
    either banding ``scheme`` (the scheme changes candidate volume, never
    the verified output — both are pigeonhole-complete at dist ≤ 3;
    ``scheme=None`` auto-selects manku at ≳10⁶ docs so the default path
    never hits bands16 saturation, see :func:`simhash_bands_from_sim`).
    Pair output is inherently O(cluster²) on a true duplicate cluster;
    prefer :func:`simhash_near_groups` at scale or set
    ``max_pairs_per_member`` (and log :func:`capped_pair_drops`)."""
    if not 0 <= max_dist < 4:
        raise ValueError("banding covers max_dist in [0, 3]")
    banded = simhash_banded(df, text_col, id_col, word_hash, scheme, corpus_count)
    pairs = within_bucket_pairs(
        banded, ["band", "band_bits"], id_col, carry=("_sim",),
        max_pairs_per_member=max_pairs_per_member,
    )
    return _hamming_verified(pairs, max_dist)


def simhash_near_groups(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_dist: int = 3,
    word_hash=None,
    scheme: str | None = None,
    corpus_count: int | None = None,
) -> DataFrame:
    """Near-duplicate CLUSTERS at Hamming distance ≤ ``max_dist`` — the
    hot-cluster-safe path: hybrid candidate edges
    (:func:`bucket_candidate_edges` — exact inside small buckets, which
    matters because buckets are NOT pure: dissimilar docs sharing one
    band key are possible, so a representative can fail to connect two
    mutually-close members; rep edges for big pure clusters),
    ``bit_count`` verify, distributed connected components. Output
    ``(doc_id, cluster_id)``, cluster_id = min id; singletons absent.
    ``scheme=None`` (default) auto-selects by corpus size: at ≳10⁶ docs
    the 2¹⁶-value bands16 key space saturates (buckets grow impure AND
    huge) while manku's 20 3-block combination keys (~2³² values) keep
    buckets bounded — see :func:`simhash_bands_from_sim`."""
    if not 0 <= max_dist < 4:
        raise ValueError("banding covers max_dist in [0, 3]")
    banded = simhash_banded(df, text_col, id_col, word_hash, scheme, corpus_count)
    edges = bucket_candidate_edges(
        banded, ["band", "band_bits"], id_col, carry=("_sim",)
    )
    verified = _hamming_verified(edges, max_dist)
    comp = connected_components(verified.select("id_a", "id_b"))
    return comp.select(
        F.col("id").alias(id_col), F.col("component").alias("cluster_id")
    )
