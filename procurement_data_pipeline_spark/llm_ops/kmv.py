"""KMV (k-minimum-values / bottom-k) distinctness sketches.

HyperLogLog (see ``events_distinct_users_hll``) answers "how many
distinct?" in 1.5 KB but cannot answer SET questions — how much do two
sets OVERLAP — because HLL unions compose but intersections don't. The
bottom-k sketch (Bar-Yossef et al.; the theta-sketch family) keeps the k
smallest hash values of a set and supports:

* **distinct estimate**: the k-th smallest of n uniform hashes in (0,1)
  sits at ≈ k/n, so ``n̂ = (k-1)/h_(k)`` (the unbiased form); with fewer
  than k values the sketch IS the set and the count is exact.
* **union**: bottom-k of the concatenated sketches — a plain min-k merge,
  associative and commutative, so it parallelizes as an aggregation.
* **intersection / Jaccard**: within the union's bottom-k, the fraction
  of hashes present in both inputs estimates J(A,B) (each bottom-k hash
  is a uniform sample of A∪B); ``|A∩B| ≈ Ĵ · |A∪B|̂``. This is the
  estimator behind join-cardinality / semi-join-selectivity planning:
  sketch both key columns once, estimate overlap without joining.

Everything here is DETERMINISTIC: the hash is the portable md5 used by
``llm_ops.sampling`` (bit-identical in Spark and DuckDB, hex ordering ==
numeric ordering), so unlike randomized sketches the bottom-k rows, the
k-th value, and therefore the ESTIMATES themselves are reproducible
bit-for-bit and oracle-checkable — the estimator divides two exactly-
representable doubles (52-bit hash prefix, integer counts), which IEEE
semantics make engine-identical.

Scale shape: one distinct + one windowed rank per group (Spark rewrites
``rank <= k`` into WindowGroupLimit: per-partition top-k heaps, no full
sort), then a k-row-per-group aggregate. The sketch never exceeds k rows
per group anywhere downstream.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from procurement_data_pipeline_spark.llm_ops.sampling import hash_key

# 13 hex chars = 52 bits: the largest prefix whose integer value is
# EXACTLY representable in an IEEE double, so hex→int→double conversion
# cannot round and both engines compute the identical quotient.
_FRAC_HEX_CHARS = 13
_FRAC_DENOM = float(1 << (4 * _FRAC_HEX_CHARS))


def kmv_hash(col: str | Column, salt: str = "") -> Column:
    """Portable uniform hash key (md5 hex; lexicographic == numeric order)."""
    return hash_key(col, salt=salt)


def hash_frac(hash_col: str | Column) -> Column:
    """Map an md5 hex hash to its position in (0,1) as an exact double."""
    c = F.col(hash_col) if isinstance(hash_col, str) else hash_col
    return F.conv(F.substring(c, 1, _FRAC_HEX_CHARS), 16, 10).cast("bigint").cast(
        "double"
    ) / F.lit(_FRAC_DENOM)


def hash_frac_lt(
    hash_col: str | Column, threshold: float, prefixed: bool = False
) -> Column:
    """``hash_frac(h) < threshold`` as a pure 13-char hex-prefix string
    comparison — no ``conv``/``substring``-to-integer decode per row.

    conv(hex, 16, 10) costs as much as the md5 itself (measured: +1.8 s on
    a 3.2M-row pass vs +2.2 s for the md5); hex chars order exactly like
    the number they encode, so the comparison moves to the 13-char prefix
    against an EXACT precomputed boundary: with I = int(prefix, 16),
    ``I/2^52 < c  ⟺  I ≤ ceil(c·2^52) − 1  ⟺  prefix < hex13(ceil(c·2^52))``
    (ceil computed in exact rational arithmetic — float c's value is a
    dyadic rational, so no rounding anywhere). Value-identical to
    ``hash_frac(h) < lit(c)`` for every hash.

    ``prefixed=True`` declares the column ALREADY holds the 13-char
    prefix (project it once when several thresholds test the same hash).
    """
    from fractions import Fraction

    c = F.col(hash_col) if isinstance(hash_col, str) else hash_col
    if threshold <= 0.0:
        return F.lit(False)
    x = Fraction(threshold) * (1 << (4 * _FRAC_HEX_CHARS))
    bound = -((-x.numerator) // x.denominator)  # exact ceil
    if bound >= 1 << (4 * _FRAC_HEX_CHARS):
        return F.lit(True)  # admits every prefix
    prefix = c if prefixed else F.substring(c, 1, _FRAC_HEX_CHARS)
    return prefix < F.lit(format(bound, f"0{_FRAC_HEX_CHARS}x"))


def hash_frac_sql(hash_expr: str) -> str:
    """DuckDB-side twin of :func:`hash_frac` (same 52-bit exact contract)."""
    return (
        f"CAST(('0x' || substr({hash_expr}, 1, {_FRAC_HEX_CHARS})) AS BIGINT)"
        f"::DOUBLE / {_FRAC_DENOM!r}"
    )


def kmv_bottom_k(
    df: DataFrame,
    group_cols: list[str],
    hash_col: str,
    k: int,
    assume_distinct: bool = False,
) -> DataFrame:
    """Keep the k smallest DISTINCT hashes per group (the sketch rows).

    Distinct-then-rank: the distinct bounds each group's candidate set,
    the ``row_number() <= k`` filter becomes a WindowGroupLimit (top-k
    heap per partition, no global sort). Output ≤ k rows per group.
    ``assume_distinct=True`` skips the dedup shuffle when the caller
    already holds a distinct (group, hash) relation — e.g. one it
    persisted to feed an exact-truth branch alongside the sketch.
    """
    if k < 2:
        raise ValueError(f"k must be >= 2 for the (k-1)/h_k estimator, got {k}")
    w = Window.partitionBy(*group_cols).orderBy(F.col(hash_col))
    dist = df.select(*group_cols, hash_col)
    if not assume_distinct:
        dist = dist.distinct()
    return (
        dist.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= k)
        .drop("_rn")
    )


def kmv_estimate(n_kept: Column, kth_hash: Column, k: int) -> Column:
    """Distinct-count estimate from a bottom-k sketch (exact below k).

    ``n_kept`` = rows kept (≤ k), ``kth_hash`` = the LARGEST kept hash
    (= h_(k) when the sketch is full). Exact when the sketch never
    filled; (k-1)/h_(k) otherwise.
    """
    return F.when(n_kept < k, n_kept.cast("double")).otherwise(
        F.lit(float(k - 1)) / hash_frac(kth_hash)
    )


def kmv_estimate_sql(n_kept: str, kth_hash: str, k: int) -> str:
    """DuckDB-side twin of :func:`kmv_estimate`."""
    return (
        f"CASE WHEN {n_kept} < {k} THEN CAST({n_kept} AS DOUBLE) "
        f"ELSE {float(k - 1)!r} / ({hash_frac_sql(kth_hash)}) END"
    )
