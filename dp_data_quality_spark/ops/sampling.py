"""Deterministic sampling / dataset splitting.

Training-data pipelines need train/val/test splits that are (a) stable
across reruns and cluster sizes, (b) leakage-safe (the same KEY always
lands in the same split — e.g. every turn of a conversation), and
(c) reproducible outside Spark.  ``rand()``-based sampling fails all
three; this module splits on an md5-derived key hash (``ops.hashing``,
the same cross-engine hash family every oracle uses), so the split is a
pure function of the key, reproducible in any engine with md5.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .hashing import h32

# resolution of the split boundaries (fractions quantized to 1/10000)
_BUCKETS = 10_000


def _boundaries(fractions: dict[str, float]) -> list[tuple[str, int]]:
    if not fractions or any(f < 0 for f in fractions.values()):
        raise ValueError("fractions must be a non-empty dict of >=0 floats")
    if abs(sum(fractions.values()) - 1.0) > 1e-9:
        raise ValueError(f"fractions must sum to 1, got {sum(fractions.values())}")
    out, acc = [], 0
    for name, frac in fractions.items():  # dict order = boundary order
        acc += int(round(frac * _BUCKETS))
        out.append((name, acc))
    out[-1] = (out[-1][0], _BUCKETS)  # absorb rounding residue
    return out


def split_column(key: Column, fractions: dict[str, float]) -> Column:
    """Split label for a key: md5-derived hash bucket → first boundary
    it falls under.  Same key → same split, on every run and engine."""
    bucket = h32(key.cast("string")) % _BUCKETS
    expr = None
    for name, hi in reversed(_boundaries(fractions)):
        expr = F.lit(name) if expr is None else F.when(bucket < hi, F.lit(name)).otherwise(expr)
    return expr


def deterministic_split(
    df: DataFrame, key_col: str, fractions: dict[str, float],
    out_col: str = "split",
) -> DataFrame:
    """Add a ``split`` column assigning every row by its key's hash —
    leakage-safe (all rows sharing ``key_col`` share a split) and
    cluster-size-independent."""
    return df.withColumn(out_col, split_column(F.col(f"`{key_col}`"), fractions))


def stratified_sample(
    df: DataFrame,
    strata_cols: list[str],
    k: int,
    key_col: str,
    out_rank: str = "sample_rank",
) -> DataFrame:
    """EXACT-k deterministic sample per stratum — the fixed-size eval
    sample a pipeline pins next to its fractional splits: keep the k
    rows with the smallest md5-derived key hash inside each stratum
    (hash-order ≈ uniform-random order, but a pure function of the key,
    so the sample is identical on every run, cluster size, and engine).

    Equivalent to a per-stratum reservoir sample of size k with the
    hash as the priority — the distributed formulation is one window
    ``row_number`` per stratum (strata rank in parallel; only k rows per
    stratum survive).  Ties on the hash break by the key itself, so the
    result is total-order deterministic even on hash collisions.

    Output: input columns + ``sample_rank`` (1..k within the stratum).
    A stratum with fewer than k rows keeps all its rows.  If ``key_col``
    is not unique per row, duplicate keys can exceed k only by tying —
    row_number still cuts at exactly k rows, deterministically."""
    from pyspark.sql import Window

    if k <= 0:
        raise ValueError("k must be positive")
    hash_col = h32(F.col(f"`{key_col}`").cast("string"))
    w = Window.partitionBy(*[F.col(f"`{c}`") for c in strata_cols]).orderBy(
        hash_col.asc(), F.col(f"`{key_col}`").asc()
    )
    return (
        df.withColumn(out_rank, F.row_number().over(w))
        .filter(F.col(out_rank) <= k)
    )


def _tempered(c: Column, alpha: float) -> Column:
    """count^alpha for alpha ∈ {1, 0.5, 0.25} via repeated sqrt — sqrt is
    IEEE-754 correctly rounded (bit-identical in every engine), unlike
    pow(), whose libm implementations differ in the last ulp."""
    x = c.cast("double")
    if alpha == 1.0:
        return x
    if alpha == 0.5:
        return F.sqrt(x)
    if alpha == 0.25:
        return F.sqrt(F.sqrt(x))
    raise ValueError("alpha must be one of 1.0, 0.5, 0.25 (sqrt-exact)")


def temperature_sample(
    df: DataFrame,
    group_col: str,
    n_total: int,
    key_col: str,
    alpha: float = 0.5,
    out_rank: str = "sample_rank",
) -> DataFrame:
    """Temperature-based source mixing: sample ``n_total`` rows with
    per-group quotas ∝ count^alpha — the standard up/down-weighting for
    multilingual / multi-source training mixes (alpha=1 reproduces the
    natural distribution, alpha→0 approaches uniform; e.g. the
    exponent-smoothed language sampling of multilingual-pretraining
    recipes).

    Fully deterministic, engine-reproducible arithmetic:

    1. weights quantize to integers up front — ``w = floor(count^alpha ·
       10^6)`` (one correctly-rounded sqrt chain + one IEEE multiply +
       floor, bit-identical everywhere); every later step is INTEGER
       math, so no float-summation-order hazard anywhere.
    2. quotas by largest remainder: ``base = n_total·w div W``, the
       ``n_total - Σbase`` leftover goes to the groups with the largest
       ``(n_total·w) mod W``, ties broken on the group key — exact
       ``Σquota = n_total`` whenever no group caps out.
    3. a group's quota is capped at its row count (no redistribution —
       documented, keeps the allocation a pure per-group function of
       the count vector).
    4. within each group the quota fills in md5-key-hash order (the
       same deterministic reservoir :func:`stratified_sample` uses).

    Scale shape: one count aggregation (map-side partial), a
    groups-sized (i.e. tiny) window for the quota math, the quota table
    broadcast back onto the corpus, one window rank per group.  Output:
    input columns + ``sample_rank`` (1..quota within the group)."""
    from pyspark.sql import Window

    if n_total <= 0:
        raise ValueError("n_total must be positive")
    g = F.col(f"`{group_col}`")
    counts = df.groupBy(g.alias("_grp")).agg(F.count(F.lit(1)).alias("_cnt"))
    w_int = F.floor(_tempered(F.col("_cnt"), alpha) * F.lit(1_000_000.0)).cast("long")
    wt = counts.select("_grp", "_cnt", w_int.alias("_w"))
    all_g = Window.partitionBy()  # one row per group: driver-tiny
    # "_wsum", not "_W": Spark resolves column names case-insensitively,
    # so "_W" would silently REPLACE "_w"
    wt = wt.withColumn("_wsum", F.sum("_w").over(all_g))
    wt = wt.select(
        "_grp", "_cnt",
        F.floor((F.lit(n_total) * F.col("_w")) / F.col("_wsum")).cast("long").alias("_base"),
        ((F.lit(n_total) * F.col("_w")) % F.col("_wsum")).alias("_rem"),
    )
    wt = wt.withColumn("_deficit", F.lit(n_total) - F.sum("_base").over(all_g))
    rk = Window.partitionBy().orderBy(F.col("_rem").desc(), F.col("_grp").asc())
    quota = (
        wt.withColumn("_rk", F.row_number().over(rk))
        .select(
            "_grp",
            F.least(
                F.col("_base")
                + (F.col("_rk") <= F.col("_deficit")).cast("long"),
                F.col("_cnt"),
            ).alias("_quota"),
        )
    )
    hash_col = h32(F.col(f"`{key_col}`").cast("string"))
    per_g = Window.partitionBy(g).orderBy(hash_col.asc(),
                                          F.col(f"`{key_col}`").asc())
    return (
        df.withColumn(out_rank, F.row_number().over(per_g))
        .join(F.broadcast(quota), on=g == F.col("_grp"))
        .filter(F.col(out_rank) <= F.col("_quota"))
        .drop("_grp", "_quota")
    )
