"""Storage-layout operators: z-order clustering, linear sort layout, and
parquet min/max skip-ratio auditing.

At 100 TB the scan IS the query: whether a predicate touches 0.1% or
100% of the row groups is decided at WRITE time by the physical layout,
not by the reader. Spark pushes comparison predicates into the parquet
reader (row-group statistics filtering), but leaves the writer-side
clustering that makes those statistics selective to table formats
(Delta ``OPTIMIZE ZORDER BY``, Iceberg sort orders). This module is that
writer-side half as plain DataFrame transformations over raw parquet:

- :func:`linear_layout` — range-partition + sort by a column list;
  optimal for predicates on the leading column, useless for the rest
  (the composite-index trade-off).
- :func:`zorder_key` / :func:`zorder_layout` — interleave the bits of
  per-column fixed-width ranks into ONE clustering key, so row-group
  min/max stats are selective on EVERY participating column at once
  (locality of the Z curve; Morton order).
- :func:`skip_ratio` / :func:`rowgroup_stats` — read parquet FOOTERS via
  pyarrow (no data pages) and report the fraction of row groups a
  ``lo <= col <= hi`` predicate can skip. This is the direct figure of
  merit for layout quality, and exactly the statistic Spark's pushed
  filters exploit at scan time.

The reference's storage story is a composite (symbol, date) SQL index
(``src/load.py:87-89``); partition-by-symbol + in-file date order is its
Spark analog (io_sink.write_parquet). Z-order extends it to the
multi-dimensional predicates a composite index cannot serve (date-only
probes, or key-range x value-range scans) — the access pattern a 100 TB
tick/corpus store actually sees.

Scale notes: the rank pass is one min/max aggregate (or one bounded
approx_quantile collect in ``rank='quantile'`` mode — n_buckets doubles
on the driver, never rows); the interleave is pure JVM bit arithmetic
(shift/and/or — whole-stage codegen); the write is one
repartitionByRange exchange, the same cost linear_layout already pays.
"""

from __future__ import annotations

import math
from functools import reduce

from pyspark.sql import DataFrame, functions as F

_RANGE_SAMPLE = "spark.sql.execution.rangeExchange.sampleSizePerPartition"


def _scaled_rank_minmax(col: str, lo, hi, bits: int):
    """Map ``col`` linearly onto [0, 2^bits) from its (lo, hi) range.

    Works for any numeric/date/timestamp column once cast to double.
    lo == hi collapses to rank 0 (constant column contributes nothing).
    """
    n = (1 << bits) - 1
    v = F.col(col).cast("double")
    if hi <= lo:
        return F.lit(0).cast("long")
    span = float(hi - lo)
    scaled = F.floor((v - F.lit(float(lo))) / F.lit(span) * F.lit(float(n)))
    return F.least(F.greatest(scaled, F.lit(0)), F.lit(n)).cast("long")


def _scaled_rank_quantile(col: str, boundaries: list[float], bits: int):
    """Map ``col`` onto [0, 2^bits) by its position among approx-quantile
    boundaries — skew-robust: each rank bucket holds ~equal ROW mass, so
    a hot value can't collapse the curve onto one rank the way min/max
    scaling does under skew.

    The rank is the number of boundaries ``b`` with ``col >= b`` (0 for a
    null; NaN sorts above every number, as Spark orders it). boundaries
    is the bounded driver-side list of 2^bits - 1 doubles, sorted here in
    Spark's order; each row finds its rank by binary search, ``bits``
    probes of the literal array instead of one per boundary.
    """
    if not boundaries:
        return F.lit(0).cast("long")
    v = F.col(col).cast("double")
    ordered = sorted(boundaries, key=lambda b: (math.isnan(b), b))
    # one string literal the optimizer folds into the array, not one
    # literal per boundary: F.lit(list) costs a py4j call per element
    # and 2^bits - 1 nodes in every plan the rank appears in
    arr = F.split(F.lit(",".join(map(repr, ordered))), ",").cast("array<double>")
    steps = F.array(*[F.lit(1 << i) for i in reversed(range(bits))])

    def probe(pos, step):
        nxt = pos + step
        return F.when(v >= F.element_at(arr, nxt), nxt).otherwise(pos)

    return F.aggregate(steps, F.lit(0), probe).cast("long")


def zorder_key(
    df: DataFrame,
    cols: list[str],
    bits: int = 16,
    rank: str = "minmax",
) -> DataFrame:
    """Add a ``_zkey`` column: the Morton (bit-interleaved) combination
    of each column's ``bits``-wide rank.

    bit i of column j lands at position ``i * k + j`` of the key, so a
    prefix of the key constrains ALL columns simultaneously — sorting by
    ``_zkey`` gives every participating column locality within row
    groups, which is what makes their min/max stats selective.

    ``k * bits`` must fit in a signed 64-bit key (<= 62 here). The rank
    pass is one driver-bounded stats action: a single min/max aggregate
    row (``rank='minmax'``) or one approx_quantile collect of
    ``2^bits - 1`` doubles per column (``rank='quantile'``; each row then
    takes ``bits`` probes of them). PySpark's approxQuantile moves the
    probabilities and boundaries one py4j call per element, so at 16
    bits that collect, not the ranking, takes most of the time.
    """
    k = len(cols)
    if k < 1:
        raise ValueError("zorder_key needs at least one column")
    if k * bits > 62:
        raise ValueError(f"{k} cols x {bits} bits = {k * bits} > 62 key bits")

    if rank == "minmax":
        stats = df.agg(
            *[F.min(F.col(c).cast("double")).alias(f"lo_{j}") for j, c in enumerate(cols)],
            *[F.max(F.col(c).cast("double")).alias(f"hi_{j}") for j, c in enumerate(cols)],
        ).first()
        ranks = [
            _scaled_rank_minmax(c, stats[f"lo_{j}"], stats[f"hi_{j}"], bits)
            for j, c in enumerate(cols)
        ]
    elif rank == "quantile":
        n_bounds = (1 << bits) - 1
        probs = [(i + 1) / (1 << bits) for i in range(n_bounds)]
        doubled = df.select(
            *[F.col(c).cast("double").alias(c) for c in cols]
        )
        bounds = doubled.stat.approxQuantile(list(cols), probs, 0.001)
        ranks = [
            _scaled_rank_quantile(c, bounds[j], bits)
            for j, c in enumerate(cols)
        ]
    else:
        raise ValueError(f"rank must be 'minmax' or 'quantile', got {rank!r}")

    terms = []
    for j, r in enumerate(ranks):
        for i in range(bits):
            terms.append(
                F.shiftleft(F.shiftright(r, i).bitwiseAND(F.lit(1)), i * k + j)
            )
    zkey = reduce(lambda a, b: a.bitwiseOR(b), terms)
    return df.withColumn("_zkey", zkey)


def zorder_layout(
    df: DataFrame,
    path: str,
    cols: list[str],
    bits: int = 16,
    rank: str = "minmax",
) -> None:
    """Write ``df`` to 8 parquet files clustered along the Z curve of
    ``cols``.

    One range exchange on the interleaved key + in-partition sort; the
    key itself is dropped before the write (pure layout, no schema
    change).

    Where the 8 file boundaries fall decides which row groups a probe
    skips. Spark places them from a reservoir sample of about 100 keys
    per file, seeded by the RDD id, so the same rows could be laid out
    differently (x-probe skip 0.5 or 0.375 on the 40k-row grid) depending
    on how many RDDs the session made before. The exchange runs with
    Spark's largest sample instead (1e6 keys in all, up to 3e6 / n from
    each of n input partitions): a table of that size is sampled whole,
    so its layout depends on its rows alone.
    """
    keyed = zorder_key(df, cols, bits=bits, rank=rank)
    conf = df.sparkSession.conf
    prior = conf.get(_RANGE_SAMPLE)
    conf.set(_RANGE_SAMPLE, str(1_000_000 // 8))
    try:
        (
            keyed.repartitionByRange(8, "_zkey")
            .sortWithinPartitions("_zkey")
            .drop("_zkey")
            .write.mode("overwrite")
            .parquet(path)
        )
    finally:
        conf.set(_RANGE_SAMPLE, prior)


def linear_layout(
    df: DataFrame,
    path: str,
    cols: list[str],
) -> None:
    """Write ``df`` as 8 files range-partitioned + sorted by ``cols`` — the
    composite-index layout: perfect skipping on ``cols[0]`` prefixes,
    none on trailing columns queried alone."""
    (
        df.repartitionByRange(8, *cols)
        .sortWithinPartitions(*cols)
        .write.mode("overwrite")
        .parquet(path)
    )


def rowgroup_stats(path: str, column: str) -> list[tuple]:
    """(min, max, num_rows) per parquet row group for ``column``, read
    from file FOOTERS only (pyarrow metadata — no data pages touched).
    Scans the directory listing; at real scale this is the table
    format's manifest, same information."""
    import os

    import pyarrow.parquet as pq

    files = []
    if os.path.isdir(path):
        for root, _dirs, names in os.walk(path):
            files.extend(
                os.path.join(root, n) for n in names if n.endswith(".parquet")
            )
    else:
        files = [path]

    out = []
    for f in sorted(files):
        md = pq.ParquetFile(f).metadata
        schema_names = md.schema.to_arrow_schema().names
        col_idx = schema_names.index(column)
        for rg in range(md.num_row_groups):
            cc = md.row_group(rg).column(col_idx)
            st = cc.statistics
            if st is None or not st.has_min_max:
                out.append((None, None, md.row_group(rg).num_rows))
            else:
                out.append((st.min, st.max, md.row_group(rg).num_rows))
    return out


def skip_ratio(path: str, column: str, lo, hi) -> float:
    """Fraction of row groups a ``lo <= column <= hi`` scan predicate
    skips using footer min/max alone — the statistic Spark's pushed
    parquet filters act on. 0.0 = every row group read (layout gives the
    predicate nothing); 1.0 = nothing read. Row groups without stats
    count as unskippable (the reader must touch them)."""
    stats = rowgroup_stats(path, column)
    if not stats:
        return 0.0
    skipped = sum(
        1
        for mn, mx, _ in stats
        if mn is not None and (mx < lo or mn > hi)
    )
    return skipped / len(stats)
