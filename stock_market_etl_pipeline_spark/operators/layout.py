"""Z-order clustering key for TxTable's OPTIMIZE ZORDER BY.

At 100 TB the scan IS the query: whether a predicate touches 0.1% or
100% of the row groups is decided at WRITE time by the physical layout,
not by the reader. Spark pushes comparison predicates into the parquet
reader (row-group statistics filtering), but leaves the writer-side
clustering that makes those statistics selective to table formats
(Delta ``OPTIMIZE ZORDER BY``, Iceberg sort orders).
:func:`zorder_key` is that writer-side key: it interleaves the bits of
per-column fixed-width ranks into ONE clustering key, so row-group
min/max stats are selective on EVERY participating column at once
(locality of the Z curve; Morton order). ``TxTable.optimize`` range-
partitions and sorts by it.

The reference's storage story is a composite (symbol, date) SQL index
(``src/load.py:87-89``); partition-by-symbol + in-file date order is its
Spark analog (io_sink.write_parquet). Z-order extends it to the
multi-dimensional predicates a composite index cannot serve (date-only
probes, or key-range x value-range scans) — the access pattern a 100 TB
tick/corpus store actually sees.

Scale notes: the rank pass is one min/max aggregate; the interleave is
pure JVM bit arithmetic (shift/and/or — whole-stage codegen).
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, functions as F

#: Rank width per column: up to 3 columns fit the 62-bit key.
BITS = 16


def _scaled_rank_minmax(col: str, lo, hi):
    """Map ``col`` linearly onto [0, 2^BITS) from its (lo, hi) range.

    Works for any numeric/date/timestamp column once cast to double.
    lo == hi collapses to rank 0 (constant column contributes nothing).
    """
    n = (1 << BITS) - 1
    v = F.col(col).cast("double")
    if hi <= lo:
        return F.lit(0).cast("long")
    span = float(hi - lo)
    scaled = F.floor((v - F.lit(float(lo))) / F.lit(span) * F.lit(float(n)))
    return F.least(F.greatest(scaled, F.lit(0)), F.lit(n)).cast("long")


def zorder_key(df: DataFrame, cols: list[str]) -> DataFrame:
    """Add a ``_zkey`` column: the Morton (bit-interleaved) combination
    of each column's ``BITS``-wide min/max rank.

    bit i of column j lands at position ``i * k + j`` of the key, so a
    prefix of the key constrains ALL columns simultaneously — sorting by
    ``_zkey`` gives every participating column locality within row
    groups, which is what makes their min/max stats selective.

    ``k * BITS`` must fit in a signed 64-bit key (<= 62 here). The rank
    pass is one driver-bounded stats action: a single min/max aggregate
    row.
    """
    k = len(cols)
    if k < 1:
        raise ValueError("zorder_key needs at least one column")
    if k * BITS > 62:
        raise ValueError(f"{k} cols x {BITS} bits = {k * BITS} > 62 key bits")

    stats = df.agg(
        *[F.min(F.col(c).cast("double")).alias(f"lo_{j}") for j, c in enumerate(cols)],
        *[F.max(F.col(c).cast("double")).alias(f"hi_{j}") for j, c in enumerate(cols)],
    ).first()
    ranks = [
        _scaled_rank_minmax(c, stats[f"lo_{j}"], stats[f"hi_{j}"])
        for j, c in enumerate(cols)
    ]

    terms = []
    for j, r in enumerate(ranks):
        for i in range(BITS):
            terms.append(
                F.shiftleft(F.shiftright(r, i).bitwiseAND(F.lit(1)), i * k + j)
            )
    zkey = reduce(lambda a, b: a.bitwiseOR(b), terms)
    return df.withColumn("_zkey", zkey)
