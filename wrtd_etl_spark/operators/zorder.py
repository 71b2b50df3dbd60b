"""Z-order (Morton) data layout for multi-dimensional scan pruning.

At 100 TB the fastest scan is the one that never happens: parquet readers
skip whole files/row-groups whose min/max stats exclude the predicate.
Sorting by ONE column clusters that column only; interleaving the bits of
several columns (the Morton / Z-order curve) clusters ALL of them at once,
so selective predicates on ANY of the interleaved dimensions prune — the
layout technique behind Delta/Iceberg ``OPTIMIZE ZORDER BY``.

Spark-first construction, no UDFs anywhere:

* each dimension is rank-normalized to ``bits`` levels via fixed bounds
  (min/max, computed in one tiny agg or supplied by the caller from table
  stats) — rank-normalizing rather than raw-value-slicing keeps skewed
  dimensions from collapsing onto a few curve cells;
* the z-value is a pure integer expression: spread each level's bits with
  shifts/ors, OR the dimensions together (whole-stage codegen, exactly
  the kind of arithmetic Catalyst folds well);
* the WRITE is ``repartitionByRange(z)`` + per-partition ``sortWithinPartitions``
  — a single range exchange (sampling pass + shuffle), identical cost
  shape to any global sort, after which every output file covers a
  compact curve segment, i.e. a small hyper-rectangle of the key space.

The z-value itself is engine-portable integer math (DuckDB computes the
same expression bit-for-bit), which is what lets the registered query be
hash-verified cross-engine; the layout effect (narrow per-file min/max
spans on BOTH dimensions) is pinned by the row-group-stats pytest.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _spread_bits(level: Column, bits: int, n_dims: int, dim_idx: int) -> Column:
    """Place bit i of ``level`` at position ``i * n_dims + dim_idx``."""
    out = F.lit(0)
    for i in range(bits):
        out = out.bitwiseOR(
            F.shiftleft(
                F.shiftright(level, i).bitwiseAND(F.lit(1)),
                i * n_dims + dim_idx,
            )
        )
    return out


def zorder_key(
    cols: list[Column],
    bounds: list[tuple],
    bits: int = 8,
) -> Column:
    """Morton key interleaving ``bits`` quantization levels per dimension.

    ``bounds[d] = (lo, hi)`` fixes dimension d's quantization range;
    values are clamped into it, so stale stats degrade clustering but
    never correctness. Bounds may be python floats (catalog stats) or
    Columns (e.g. a broadcast 1-row bounds agg — the oracle-exact path,
    where both engines derive bounds from the same MIN/MAX). Pure
    integer expression — the same formula is valid SQL in DuckDB (the
    oracle twin), and 2 dims × 8 bits fits easily in a BIGINT
    (n_dims * bits ≤ 62 enforced).
    """
    n = len(cols)
    if n * bits > 62:
        raise ValueError(f"z-key overflows BIGINT: {n} dims x {bits} bits")
    levels = F.lit(1 << bits) - 1
    z = F.lit(0)
    for d, (c, (lo, hi)) in enumerate(zip(cols, bounds)):
        if isinstance(lo, Column) or isinstance(hi, Column):
            # degenerate span (constant dimension: min == max) must match
            # the literal-bounds guard below — unguarded division would
            # yield NULL z-keys in Spark (and ±inf in DuckDB), breaking
            # the 'clamped, never incorrect' contract
            span = F.when(hi != lo, hi - lo).otherwise(F.lit(1.0))
            frac = (c.cast("double") - lo) / span
        else:
            span = float(hi) - float(lo) or 1.0
            frac = (c.cast("double") - F.lit(float(lo))) / F.lit(span)
        clamped = F.least(F.greatest(frac, F.lit(0.0)), F.lit(1.0))
        # FLOOR, not cast (DuckDB CAST rounds, Spark truncates); Spark's
        # floor(double) is already LONG, the cast is a type pin
        level = F.least(
            F.floor(clamped * F.lit(float(1 << bits))).cast("long"),
            levels.cast("long"),
        )
        z = z.bitwiseOR(_spread_bits(level, bits, n, d))
    return z


def write_zordered(
    df: DataFrame,
    path: str,
    cols: list[str],
    bounds: list[tuple[float, float]] | None = None,
    bits: int = 8,
    n_files: int | None = None,
) -> None:
    """Write ``df`` to parquet laid out along the Z-curve of ``cols``.

    One range exchange on the z-key (plus one tiny bounds agg when
    ``bounds`` is not supplied — at scale pass bounds from catalog stats
    and skip that scan). ``n_files`` sizes the output (defaults to the
    session shuffle width).
    """
    if bounds is None:
        aggs = []
        for c in cols:
            aggs += [F.min(c).alias(f"__lo_{c}"), F.max(c).alias(f"__hi_{c}")]
        row = df.agg(*aggs).collect()[0]
        bounds = [
            (float(row[f"__lo_{c}"]), float(row[f"__hi_{c}"])) for c in cols
        ]
    z = zorder_key([F.col(c) for c in cols], bounds, bits)
    out = df.withColumn("__z", z)
    if n_files:
        out = out.repartitionByRange(n_files, "__z")
    else:
        out = out.repartitionByRange("__z")
    (
        out.sortWithinPartitions("__z")
        .drop("__z")
        .write.mode("overwrite")
        .parquet(path)
    )
