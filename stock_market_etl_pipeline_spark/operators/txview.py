"""Incrementally-maintained aggregate view over a TxTable change feed.

The 100 TB problem: a grouped rollup (revenue per key, doc counts per
source, ...) over a mutating table either recomputes from the full scan
on every refresh (cost ∝ table) or applies the DELTA since the last
refresh (cost ∝ churn). Table formats make the second path principled:
``TxTable.changes(from, to)`` yields exactly the inserted/deleted rows
between two snapshots by manifest file diff, and count/sum aggregates
are ABELIAN — inserts add, deletes subtract, so the view's new value is
``old ⊕ delta`` with no history rescan. This module is that refresh
loop, with the streaming family's exactly-once discipline
(streaming/rollup.py, ingest.py) transplanted to the commit log:

- The view itself lives in a second TxTable; each refresh commits with
  ``txn_id = "cdc-<src_snapshot>"``, so a replayed refresh (crash after
  the work, before the caller learned of it) is a recorded no-op — the
  same idempotence contract as the batch-keyed streaming sink.
- The refresh MERGEs only the groups the delta touched (copy-on-write
  file pruning on the view side), and reads only the churned source
  files (manifest diff on the source side): end-to-end cost tracks
  churn, never table size.
- Groups whose live row count reaches zero are deleted from the view —
  counts can't go negative because the change feed is exact, which the
  refresh asserts as a cheap invariant.

Non-abelian aggregates (MIN/MAX under deletes, exact quantiles) cannot
be maintained this way — a delete can expose a new minimum that only a
rescan of the group finds. That is the same recompute-vs-merge split
streaming/sketch_rollup.py demonstrates for HLL (mergeable) vs KLL
(recompute); here the contract is explicit: count/sum/avg only.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from .txtable import TxTable

_TXN_PREFIX = "cdc-"


def _validate_view_cols(group_cols: list[str], sum_cols: list[str]) -> None:
    """Reject column names that collide with the view's reserved
    aliases instead of relying on the aliases never matching (ADVICE
    r9: the ``_d_n`` → ``_d__rowcount`` rename fixed one collision, but
    a sum column literally named ``_rowcount`` reproduces the same
    AMBIGUOUS_REFERENCE, and group columns named ``n_rows`` /
    ``sum_<c>`` / ``_d_*`` / ``_change`` were similarly unvalidated).

    Reserved namespace: ``n_rows`` (the view's count column), ``sum_``
    prefix (view sum columns), ``_d_`` prefix (delta aliases,
    including ``_d__rowcount``), ``_change`` (the change-feed meta
    column). Also rejects duplicate names and group/sum overlap."""
    all_cols = list(group_cols) + list(sum_cols)
    if len(set(all_cols)) != len(all_cols):
        raise ValueError(
            f"duplicate / overlapping view columns: {all_cols!r}"
        )
    for c in group_cols:
        if c == "n_rows" or c.startswith("sum_") or c.startswith("_d_") \
                or c == "_change":
            raise ValueError(
                f"group column {c!r} collides with a reserved view alias "
                "(reserved: 'n_rows', 'sum_*', '_d_*', '_change')"
            )
    out = {"n_rows"}
    for c in sum_cols:
        if c == "_rowcount" or c.startswith("_d_") or c == "_change":
            raise ValueError(
                f"sum column {c!r} collides with a reserved delta alias "
                "(reserved: '_rowcount', '_d_*', '_change')"
            )
        name = f"sum_{c}"
        if name in out or name in group_cols:
            raise ValueError(
                f"sum column {c!r} produces view column {name!r}, which "
                "collides with another view column"
            )
        out.add(name)


def _view_schema_df(
    spark: SparkSession, src_df: DataFrame, group_cols: list[str],
    sum_cols: list[str],
) -> DataFrame:
    agg = [F.count(F.lit(1)).alias("n_rows")] + [
        F.sum(c).alias(f"sum_{c}") for c in sum_cols
    ]
    return src_df.groupBy(*group_cols).agg(*agg)


def recompute_view(
    spark: SparkSession, src: TxTable, group_cols: list[str],
    sum_cols: list[str], snapshot: int | None = None,
) -> DataFrame:
    """The full-scan reference: GROUP BY over the source snapshot. Used
    to initialize the view and, in tests, to certify the incremental
    path row-for-row."""
    _validate_view_cols(group_cols, sum_cols)
    return _view_schema_df(
        spark, src.read(spark, snapshot=snapshot), group_cols, sum_cols
    )


def last_synced_snapshot(view: TxTable) -> int | None:
    """The source snapshot the view last applied, recovered from the
    view's own commit log (KB-scale metadata — no data read)."""
    synced = []
    for h in view.history():
        t = h["txn_id"]
        if t and t.startswith(_TXN_PREFIX):
            try:
                synced.append(int(t[len(_TXN_PREFIX):]))
            except ValueError:  # foreign txn under our prefix — not ours
                continue
    return max(synced) if synced else None


def refresh_view(
    spark: SparkSession, src: TxTable, view: TxTable,
    group_cols: list[str], sum_cols: list[str],
) -> int | None:
    """Bring ``view`` up to the source's latest snapshot by applying the
    change feed since the last refresh. Returns the source snapshot the
    view now reflects (None if the source has no commits).

    First call (empty view) materializes the full aggregate; afterwards
    each refresh reads ONLY churned source files and rewrites ONLY
    view files containing touched groups. Idempotent under replay via
    the cdc-<snapshot> txn_id; safe under crash-before-commit because
    the staged files are invisible until the manifest claim (TxTable's
    commit protocol)."""
    _validate_view_cols(group_cols, sum_cols)
    cur = src.latest_snapshot()
    if cur is None:
        return None
    last = last_synced_snapshot(view)
    txn = f"{_TXN_PREFIX}{cur}"
    if last is None:
        full = recompute_view(spark, src, group_cols, sum_cols, snapshot=cur)
        view.overwrite(full, txn_id=txn)
        return cur
    if last == cur:
        return cur
    feed = src.changes(spark, last, cur)
    sign = F.when(F.col("_change") == "insert", F.lit(1)).otherwise(F.lit(-1))
    delta = (
        feed.groupBy(*group_cols)
        .agg(
            F.sum(sign).alias("_d__rowcount"),  # reserved alias: "_d_" + a
            # sum-column NAME is the per-column delta, so a sum column
            # literally named "n" collided with the old "_d_n" rowcount
            # alias (AMBIGUOUS_REFERENCE — found by the drift monitor)
            *[
                F.sum(F.col(c) * sign).alias(f"_d_{c}")
                for c in sum_cols
            ],
        )
    )
    old = view.read(spark)
    merged = (
        delta.join(old, on=group_cols, how="left")
        .select(
            *group_cols,
            (F.coalesce(F.col("n_rows"), F.lit(0)) + F.col("_d__rowcount"))
            .alias("n_rows"),
            *[
                (
                    F.coalesce(F.col(f"sum_{c}"), F.lit(0))
                    + F.col(f"_d_{c}")
                ).alias(f"sum_{c}")
                for c in sum_cols
            ],
        )
    ).localCheckpoint()  # one evaluation feeds the invariant + both merges
    if merged.filter(F.col("n_rows") < 0).limit(1).count() > 0:
        raise AssertionError(
            "negative group count after delta apply — change feed and "
            "view state disagree (was the view written by another job?)"
        )
    # align column order/types with the view schema, then land upserts
    # AND emptied-group deletes in ONE atomic commit (the conditional
    # delete clause) so a replay under the same txn_id is a clean no-op
    aligned = merged.select(*[f.name for f in old.schema.fields])
    view.merge(
        spark, aligned, group_cols, txn_id=txn, delete_where="n_rows = 0"
    )
    return cur
