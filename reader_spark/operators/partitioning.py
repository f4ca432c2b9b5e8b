"""Partitioning strategies for 100 TB scans: Z-order clustered
writes, so a selective filter on any of several columns skips most
files.

The reference never needs this — it scans one table at a time over
JDBC (`/root/reference/lib/rdbms/scan/scan.go:43-161`) — but any
warehouse consumer of its CDC output filters fact tables on more
than one column, and a single-column sort leaves every other
dimension unpruned.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def zvalue_expr(
    cols: list[tuple[Column, float, float]], bits_per_dim: int = 8
) -> Column:
    """Morton/Z-order interleave: each (col, min, max) is scaled to a
    `bits_per_dim`-bit integer, then the dimensions' bits are
    interleaved into one sort key. Rows close in Z-value are close
    in EVERY dimension, so files written in Z-order carry narrow
    min/max ranges on ALL clustered columns at once — the property
    single-column sorting only gives to its own column.

    Pure JVM column arithmetic (shifts/masks unrolled per bit —
    bits_per_dim * n_dims terms, whole-stage-codegen friendly).
    Min/max scaling is the simple deterministic normalizer; on a
    skewed production distribution swap the (min, max) pair for
    sampled quantile bounds (the scaling is the caller's choice —
    the interleave doesn't change)."""
    n_dims = len(cols)
    top = (1 << bits_per_dim) - 1
    bucketed = []
    for c, lo, hi in cols:
        span = (hi - lo) or 1.0
        b = F.least(
            F.lit(top),
            F.greatest(
                F.lit(0),
                F.floor((c.cast("double") - F.lit(lo)) / F.lit(span) * top).cast(
                    "long"
                ),
            ),
        )
        bucketed.append(b)
    z = F.lit(0).cast("long")
    for i in range(bits_per_dim):
        for d, b in enumerate(bucketed):
            bit = F.shiftright(b, i).bitwiseAND(F.lit(1))
            z = z.bitwiseOR(
                F.shiftleft(bit, i * n_dims + d).cast("long")
            )
    return z


def zorder_write(
    df: DataFrame,
    path: str,
    cols: list[str],
    n_files: int = 16,
    bits_per_dim: int = 8,
) -> None:
    """Write `df` Z-ORDER-clustered on `cols`: one tiny min/max
    aggregate (control-plane collect, one row), Z-value per row,
    `repartitionByRange` on the Z-value (range exchange → each
    output file owns a contiguous Z-range) + `sortWithinPartitions`.

    At 100 TB this is the scan-side lever for selective multi-column
    filters: parquet footer min/max (and any file-level skipping
    index) prune files on EVERY clustered dimension; a filter
    selecting p% of one dimension reads ~p^(1/n_dims) of the files
    instead of all of them. Locality is asserted quantitatively in
    test_partitioning.py."""
    aggs = []
    for c in cols:
        aggs += [F.min(c).alias(f"__min_{c}"), F.max(c).alias(f"__max_{c}")]
    row = df.agg(*aggs).collect()[0]
    if any(row[f"__min_{c}"] is None or row[f"__max_{c}"] is None for c in cols):
        # Empty input (or an all-null cluster column) has no bounds to
        # bucket against: write unclustered rather than crash on
        # float(None). Zero rows → empty-but-valid parquet output;
        # all-null column → clustering would be meaningless anyway.
        df.write.mode("overwrite").parquet(path)
        return
    triples = [
        (F.col(c), float(row[f"__min_{c}"]), float(row[f"__max_{c}"]))
        for c in cols
    ]
    z = zvalue_expr(triples, bits_per_dim)
    (
        df.withColumn("__z", z)
        .repartitionByRange(n_files, "__z")
        .sortWithinPartitions("__z")
        .drop("__z")
        .write.mode("overwrite")
        .parquet(path)
    )
