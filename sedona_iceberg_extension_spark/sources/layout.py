"""Physical table layout for scale: the Z-order (Morton) value that
``SnapshotTable.rewrite_data_files(sort_order=...)`` clusters files by.

The reference gets file skipping from geolake-Iceberg stats and spatial
partition pruning from Iceberg partition transforms (README.md:3-6 of the
reference).  Snapshot tables carry both levers: partition transforms live
in the manifest's partition spec, and each geometry column's stored
envelope gives range reads parquet min/max pruning.  Z-order sorting is
what makes those min/max stats tight on several columns at once.
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F


def zorder_value(cols, mins, maxs, bits: int = 10) -> Column:
    """Z-order (Morton) value over numeric columns — each column is
    min/max-normalized to ``bits`` bits, then the bits are interleaved with
    native shift/mask arithmetic (pure Catalyst expressions, no Python).

    Rows close in Z-value are close in EVERY dimension, so sorting files by
    Z gives parquet min/max stats that are tight on all columns at once —
    multi-dimensional file skipping from a one-dimensional sort.  This is
    Iceberg's ``rewrite_data_files(strategy => 'sort', sort_order =>
    zorder(...))``, the layout the reference's geolake substrate uses for
    spatial file pruning."""
    n = len(cols)
    if not (n and len(mins) == n and len(maxs) == n):
        raise ValueError("cols/mins/maxs must be equal-length and non-empty")
    top = (1 << bits) - 1
    quant = []
    for c, lo, hi in zip(cols, mins, maxs):
        span = float(hi) - float(lo)
        if span <= 0:
            quant.append(F.lit(0).cast("long"))
            continue
        q = F.floor((c.cast("double") - F.lit(float(lo)))
                    / F.lit(span) * F.lit(float(top) + 0.999999)).cast("long")
        quant.append(F.least(F.lit(top), F.greatest(F.lit(0), q)))
    z = None
    for b in range(bits):
        for i, q in enumerate(quant):
            term = F.shiftleft(F.shiftright(q, b).bitwiseAND(F.lit(1)),
                               b * n + i)
            z = term if z is None else z + term
    return z
