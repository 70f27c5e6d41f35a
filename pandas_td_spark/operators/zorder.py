"""Z-order (Morton-curve) clustered table layout for multi-column
pruning (public Delta OPTIMIZE ZORDER / Hudi clustering pattern; no
reference locus — /root/reference empty).

Range-partitioning on a single key (sources/io.py::write_sorted) gives
perfect pruning on that key and none on any other. Interleaving the bits
of several rank-normalized keys into one Morton code and range-writing on
THAT gives every participating column locality: a point/range predicate
on any one of them touches O(files^(1-1/d)) of the data instead of all of
it — parquet row-group min/max stats do the skipping with zero reader
cooperation.

Implementation is pure JVM expression work, and which rows land in which
file depends only on the data, never on the core count or the input
partitioning:

1. exact per-column quantile boundaries (``approxQuantile`` with zero
   relative error, one pass for all columns; a driver-side list of 2^bits
   cut points) turn any numeric distribution, however skewed, into
   near-uniform bucket ranks — a binary WHEN tree over the literal cuts
   (O(bits) comparisons per row, whole-stage codegen, no Python);
2. a ``shiftleft``/``|`` chain interleaves rank bits into the Morton code;
3. exact ``num_files``-quantiles of the Morton code cut it into
   equal-count files, and each row is shuffled straight to its file's
   partition (a hash slot key per file; no sampled range bounds), sorted
   within the file, and the code dropped from the output.

Exactness has a price: each quantile pass keeps every distinct key in its
aggregation state (for the Morton pass at most 2^(d*bits) of them), so
the cost grows with column cardinality rather than staying a fixed-size
sketch. Beyond the two quantile passes, the write pays the same single
shuffle any sorted write pays.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from pandas_td_spark.operators.ranking import _first_match_expr

__all__ = [
    "with_zorder_key",
    "zorder_key",
    "write_zordered",
    "morton_interleave",
    "morton_interleave_sql",
]


def morton_interleave(cols: Sequence[Column], bits: int) -> Column:
    """Raw Morton/Z-order bit interleave of the low ``bits`` bits of
    ``d`` non-negative integer columns: bit ``i`` of column ``j`` lands
    at position ``i*d + j``. Pure integer arithmetic — whole-stage
    codegen keeps it in the JVM; the quantile-rank keyer below feeds it
    rank columns, and callers with already-uniform integer keys (q242)
    use it directly."""
    d = len(cols)
    z = F.lit(0).cast("bigint")
    for bit in range(bits):
        for j, c in enumerate(cols):
            z = z.bitwiseOR(
                F.shiftleft(
                    F.shiftright(c.cast("bigint"), bit).bitwiseAND(
                        F.lit(1)
                    ),
                    bit * d + j,
                )
            )
    return z


def morton_interleave_sql(
    cols: Sequence[str], bits: int, div: str = "//"
) -> str:
    """The same interleave as SQL text (integer divide + modulo — no
    dialect bit operators), for oracle SQL and ``spark.sql`` callers.
    ``div`` is the dialect's integer-division operator: ``//`` (DuckDB,
    the default) or ``div`` (Spark SQL). Exact-integer arithmetic on
    both engines, so it matches :func:`morton_interleave`
    bit-for-bit."""
    d = len(cols)
    terms = []
    for bit in range(bits):
        for j, c in enumerate(cols):
            terms.append(
                f"(({c} {div} {1 << bit}) % 2) * {1 << (bit * d + j)}"
            )
    return "(" + " + ".join(terms) + ")"


def with_zorder_key(
    df: DataFrame,
    cols: Sequence[str],
    bits_per_col: int = 12,
    out_col: str = "__z",
) -> DataFrame:
    """Append the Morton key of quantile-rank bits of ``cols`` (2-4
    columns; locality dilutes with dimensionality).

    All column quantiles come from ONE exact ``approxQuantile`` pass (the
    multi-column overload), and each column's rank is materialized once
    in a temp column before the bit interleave references it
    ``bits_per_col`` times (no reliance on codegen CSE to dedupe it)."""
    if not 2 <= len(cols) <= 4:
        raise ValueError("zorder wants 2-4 columns")
    n_buckets = 1 << bits_per_col
    quantiles = [i / n_buckets for i in range(1, n_buckets)]
    all_cuts = df.stat.approxQuantile(list(cols), quantiles, 0.0)
    rank_cols = []
    for j, (c, cuts) in enumerate(zip(cols, all_cuts)):
        # rank = number of cut points <= value; heavy ties collapse cut
        # points, so the rank range just shrinks
        rc = f"{out_col}_r{j}"
        x = F.col(c).cast("double")
        rank = _first_match_expr(x, sorted(set(cuts)), desc=False)
        df = df.withColumn(rc, F.least(rank, F.lit(n_buckets - 1)))
        rank_cols.append(rc)
    z = morton_interleave([F.col(rc) for rc in rank_cols], bits_per_col)
    return df.withColumn(out_col, z).drop(*rank_cols)


def zorder_key(
    df: DataFrame, cols: Sequence[str], bits_per_col: int = 12
) -> Column:
    """Column form of :func:`with_zorder_key` (computes ranks inline —
    prefer the DataFrame form, which materializes each rank once)."""
    keyed = with_zorder_key(df, cols, bits_per_col=bits_per_col)
    return keyed["__z"]


def _hash_slot_keys(spark, n: int) -> list[int]:
    """``keys[i]`` is a bigint that ``repartition(n, key)`` sends to
    partition ``i``: hash partitioning places a row at ``pmod(hash(key),
    n)``, so the smallest id per residue is read off ``hash`` itself
    (64n ids leave a residue empty with odds about e^-64)."""
    rows = (
        spark.range(64 * n)
        .selectExpr("id", f"pmod(hash(id), {n}) AS p")
        .groupBy("p")
        .agg(F.min("id").alias("k"))
        .collect()
    )
    keys = {r.p: r.k for r in rows}
    return [keys[i] for i in range(n)]


def write_zordered(
    df: DataFrame,
    path: str,
    cols: Sequence[str],
    num_files: int = 32,
    bits_per_col: int = 12,
    mode: str = "errorifexists",
) -> None:
    """Write ``df`` as ``num_files`` Morton-clustered parquet files;
    predicates on ANY of ``cols`` prune via row-group statistics.

    File ``i`` holds the Morton codes between the exact ``i/num_files``
    and ``(i+1)/num_files`` quantiles, so the layout is the same at any
    parallelism (``repartitionByRange`` would cut at bounds sampled per
    input partition)."""
    keyed = with_zorder_key(df, cols, bits_per_col=bits_per_col)
    probs = [i / num_files for i in range(1, num_files)]
    bounds = sorted(set(keyed.stat.approxQuantile("__z", probs, 0.0)))
    file_idx = _first_match_expr(F.col("__z"), bounds, desc=False)
    # bigint like the ids the keys came from: hash(int) != hash(bigint)
    slot = F.array(
        *[
            F.lit(k).cast("bigint")
            for k in _hash_slot_keys(df.sparkSession, num_files)
        ]
    )
    (
        keyed.withColumn("__slot", F.element_at(slot, file_idx + 1))
        .repartition(num_files, "__slot")
        .sortWithinPartitions("__z")
        .drop("__z", "__slot")
        .write.mode(mode)
        .parquet(path)
    )
