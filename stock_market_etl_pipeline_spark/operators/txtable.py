"""Transaction-log parquet table: atomic multi-file commits, snapshot
reads, time travel, idempotent re-commits, and orphan vacuum — the
metadata layer raw parquet directories lack.

Why this exists at 100 TB: a directory of parquet files has no atomicity
(readers see half-written batches), no isolation (a concurrent overwrite
tears a scan), O(objects) listing cost, and no history. Table formats
(Delta, Iceberg, Hudi) fix all four with ONE idea — readers resolve a
tiny ordered log of manifests instead of listing the filesystem — and
this module is that idea at its minimum viable size, with no external
dependency:

- ``<root>/_log/<n>.json`` — snapshot n's manifest: the COMPLETE list of
  live data files after the commit, plus the action and schema. Readers
  list ``_log`` (KB-scale, bounded by commits, not data) and read
  exactly the named files; data-directory listing never happens.
- Commits are optimistic: stage data files under unique names (invisible
  — no manifest references them), then claim snapshot n+1 by
  exclusive-create of the manifest. A racing writer loses the create and
  gets ``CommitConflict`` — retry on the new snapshot. A crash BEFORE
  the manifest claim leaves only unreferenced staging files: readers are
  untouched and :meth:`TxTable.vacuum` reclaims them. (On object stores
  the exclusive-create maps to conditional PUT / rename-without-
  overwrite; the protocol is unchanged.)
- ``txn_id`` makes re-commits idempotent: foreachBatch gives
  at-least-once delivery, so a replayed micro-batch re-appends with the
  same txn_id and the commit is a recorded no-op — the same
  exactly-once-by-idempotence contract as streaming/ingest.py's
  batch-keyed sink, but without exposing batch_id in the table layout.
- Time travel: ``read(spark, snapshot=k)`` resolves manifest k as long
  as its files haven't been vacuumed — the audit/debug/reproduce-the-
  training-set primitive.
- Data skipping: each manifest carries per-file min/max/null-count stats
  (and, opted in, per-file blooms) — the log-resident form of the
  reference's composite (symbol, date) index (``src/load.py:87-89``).
  :meth:`TxTable.prune` splits a snapshot's files for a conjunction of
  band / equality / IN leaves through ONE leaf rule, and
  :meth:`TxTable.read_predicate` reads only the kept files with the
  leaves as residual filters; MERGE's discovery scan prunes the same way.
- Row-level rewrites ride the same log: :meth:`TxTable.merge` (MERGE
  INTO upsert / CDC delete) and :meth:`TxTable.delete_where` are
  copy-on-write — a pruned discovery scan finds the files containing a
  match and ONLY those are rewritten, so churn cost tracks the touched
  fraction, not table size. :meth:`TxTable.changes` derives a
  change-data-feed from the manifest file diff (carried rows cancel
  under exceptAll), :meth:`TxTable.optimize` is the compaction /
  Z-order clustering maintenance job (layout.py's curve under this
  log), and :meth:`TxTable.restore` rolls back by re-referencing an
  old file list — history stays append-only.

The reference persists via whole-table SQL replace (src/load.py
``to_sql(if_exists=...)``) — implicitly transactional at toy scale; this
is the equivalent guarantee for distributed multi-file writes.
"""

from __future__ import annotations

import json
import os
import shutil
import time
import uuid
from collections.abc import Callable

from pyspark.sql import Column, DataFrame, SparkSession, functions as F


class CommitConflict(Exception):
    """Another writer claimed the target snapshot first — re-read table
    state and retry the commit."""


class SnapshotUnavailable(Exception):
    """The requested snapshot's manifest or data files no longer exist
    (never written, or reclaimed by vacuum)."""


class ConstraintViolation(Exception):
    """Rows being written violate a registered CHECK constraint — the
    commit is refused and the table is untouched (staged files become
    vacuum-able orphans)."""


class TxTable:
    def __init__(
        self,
        root: str,
        bloom_columns: list[str] | None = None,
        bloom_bits: int = 1 << 16,
    ):
        """``bloom_columns`` opts staged files into per-file bloom
        filters on those columns (point-lookup skipping for
        high-cardinality keys min/max bands can't prune — VERDICT r6
        #5). Writer-side only: readers consume whatever blooms the
        manifest carries, and files committed by writers without the
        option simply have none (no bloom = no prune = always safe,
        the same contract as the column stats)."""
        self.root = root
        self.log_dir = os.path.join(root, "_log")
        self.data_dir = os.path.join(root, "data")
        # pending write-audit-publish stages, one JSON per wap_id
        self.wap_dir = os.path.join(self.log_dir, "_wap")
        self.bloom_columns = list(bloom_columns or [])
        self.bloom_bits = bloom_bits
        os.makedirs(self.log_dir, exist_ok=True)
        os.makedirs(self.data_dir, exist_ok=True)
        # incrementally-extended txn-marker cache (ADVICE r8: a
        # per-micro-batch full-log scan is O(snapshots^2) metadata reads
        # over a long-running stream's lifetime). The log is append-only
        # — manifests are never rewritten, and vacuum only deletes OLD
        # ones we have already scanned or never will need — so markers
        # once seen stay valid and each call reads only manifests newer
        # than the high-water mark.
        self._txn_cache: set = set()
        self._txn_scanned: int = -1

    # -- log resolution (KB-scale metadata reads, never data listing) ---

    def snapshots(self) -> list[int]:
        out = []
        for name in os.listdir(self.log_dir):
            if name.endswith(".json"):
                try:
                    out.append(int(name[: -len(".json")]))
                except ValueError:
                    continue
        return sorted(out)

    def latest_snapshot(self) -> int | None:
        snaps = self.snapshots()
        return snaps[-1] if snaps else None

    def _snapshot(self, snapshot: int | None = None) -> int:
        """``snapshot`` if given, else the latest one; raises
        SnapshotUnavailable when neither exists (an empty table)."""
        snap = self.latest_snapshot() if snapshot is None else snapshot
        if snap is None:
            raise SnapshotUnavailable("table has no commits")
        return snap

    def _readable_manifest(self, snapshot: int) -> dict:
        """Snapshot's manifest, provided vacuum has not reclaimed any of
        the data files it names."""
        m = self._manifest(snapshot)
        missing = [
            f for f in m["files"]
            if not os.path.exists(os.path.join(self.data_dir, f))
        ]
        if missing:
            raise SnapshotUnavailable(
                f"snapshot {snapshot}: {len(missing)} data files vacuumed"
            )
        return m

    def txn_committed(self, txn_id: str) -> bool:
        """True when a commit carrying ``txn_id`` is already in the log —
        i.e. a re-delivery of this transaction would be a recorded no-op.
        Streaming maintainers that write a SIDE artifact (decision log,
        metrics) alongside the table commit check this FIRST: a replayed
        batch whose merge already landed must not recompute the side
        artifact against the post-commit table state (ADVICE r7)."""
        return txn_id in self._txn_ids_seen()

    def _txn_ids_seen(self) -> set:
        """Every txn marker in the log, via the instance cache: only
        manifests newer than the last scan are read (the log is
        append-only; snapshot numbers are claimed monotonically by
        exclusive-create, so no commit can appear below the high-water
        mark)."""
        for s in self.snapshots():
            if s > self._txn_scanned:
                t = self._manifest(s).get("txn_id")
                if t:
                    self._txn_cache.add(t)
                self._txn_scanned = s
        return self._txn_cache

    def _manifest(self, snapshot: int) -> dict:
        path = os.path.join(self.log_dir, f"{snapshot:010d}.json")
        if not os.path.exists(path):
            raise SnapshotUnavailable(f"no manifest for snapshot {snapshot}")
        with open(path) as f:
            return json.load(f)

    # -- commit protocol ------------------------------------------------

    # Strings longer than this are excluded from manifest stats: a
    # truncated MIN is still a valid lower bound but a truncated MAX is
    # NOT a valid upper bound (Delta increments the last code point; we
    # simply don't record the column for that file — no stat = no prune
    # = always safe).
    STATS_MAX_STR = 64

    @staticmethod
    def _stats_norm(v):
        """Normalize a bound for JSON storage and comparison: dates and
        timestamps become ISO strings (lexicographic order == temporal
        order at mixed sub-second precision), bytes decode to str,
        numerics pass through."""
        import datetime as _dt

        if isinstance(v, bytes):
            v = v.decode("utf-8", "surrogateescape")
        if isinstance(v, (_dt.datetime, _dt.date)):
            return v.isoformat()
        return v

    def _file_stats(self, path: str) -> dict:
        """Per-column {min, max, nulls} from the parquet footer for
        top-level primitive columns, folded across row groups — the
        data-skipping index a manifest carries so readers can prune
        files WITHOUT touching any footer at query time (at 1M files a
        driver-side footer sweep per query is itself a scale cliff;
        Delta/Iceberg store stats in the log for the same reason). A
        column missing statistics in ANY row group is dropped for the
        file (absent stat = unprunable = safe)."""
        import pyarrow.parquet as pq

        md = pq.ParquetFile(path).metadata
        out: dict = {}
        dropped: set = set()
        for rg in range(md.num_row_groups):
            g = md.row_group(rg)
            for ci in range(g.num_columns):
                col = g.column(ci)
                name = col.path_in_schema
                if "." in name or name in dropped:
                    continue
                st = col.statistics
                if st is None or not st.has_null_count:
                    dropped.add(name)
                    out.pop(name, None)
                    continue
                nulls = st.null_count
                if st.has_min_max:
                    mn = self._stats_norm(st.min)
                    mx = self._stats_norm(st.max)
                    if isinstance(mx, str) and (
                        len(mx) > self.STATS_MAX_STR
                        or len(str(mn)) > self.STATS_MAX_STR
                    ):
                        dropped.add(name)
                        out.pop(name, None)
                        continue
                elif nulls == g.num_rows and nulls > 0:
                    mn = mx = None  # all-null group: bounds stay empty
                else:
                    dropped.add(name)
                    out.pop(name, None)
                    continue
                prev = out.get(name)
                if prev is None:
                    out[name] = {"min": mn, "max": mx, "nulls": nulls}
                else:
                    for key, val, pick in (("min", mn, min), ("max", mx, max)):
                        if val is None:
                            continue
                        prev[key] = (
                            val if prev[key] is None else pick(prev[key], val)
                        )
                    prev["nulls"] += nulls
        return out

    # -- bloom filters (manifest-carried point-lookup skipping) ---------
    #
    # Min/max stats prune RANGE predicates; a point lookup on a
    # high-cardinality key (doc_id, order key) still overlaps almost
    # every file's [min, max]. A few-KB per-file bloom over the key
    # column closes that gap: k positions from one blake2b digest
    # (Kirsch-Mitzenmacher double hashing), bitmap stored base85 in the
    # manifest next to the column stats, carried across MERGE / OPTIMIZE
    # / RESTORE by the same stats-carry logic. Semantics are strictly
    # "maybe": a clear bit proves absence (safe skip); set bits prove
    # nothing (file is read). Saturated blooms (>half the bits set — the
    # file holds too many distinct values for the bitmap) are DROPPED at
    # build time: they could no longer skip anything and would bloat the
    # log. In this single-node protocol implementation the bitmap is
    # built from a driver-side pyarrow column read of each staged file;
    # on a cluster the identical bitmap is an executor-side per-file
    # aggregate attached to the commit, exactly like Delta's stats
    # collection — the log format is the contract, not the builder.

    BLOOM_K = 6
    # merge()-side probe cap: bloom pruning needs the update keys on the
    # driver; beyond this many distinct keys we skip pruning (the
    # discovery scan still bounds correctness, as before).
    BLOOM_MAX_PROBE_KEYS = 10_000

    @staticmethod
    def _bloom_positions(value, m_bits: int, k: int) -> list[int] | None:
        """Bit positions for a value, or None for unsupported types
        (unsupported = unprunable, never wrong). Canonical encoding —
        ints by decimal string, strings/bytes by their bytes — so the
        probe side needs no knowledge of the writing engine."""
        import hashlib

        if isinstance(value, bool) or value is None:
            return None
        if isinstance(value, bytes):
            b = value
        elif isinstance(value, str):
            b = value.encode("utf-8", "surrogateescape")
        elif isinstance(value, int):
            b = str(value).encode()
        else:
            return None
        d = hashlib.blake2b(b, digest_size=16).digest()
        h1 = int.from_bytes(d[:8], "little")
        h2 = int.from_bytes(d[8:], "little") | 1
        return [(h1 + i * h2) % m_bits for i in range(k)]

    def _file_blooms(self, path: str) -> dict:
        """{column: {"b85", "m", "k"}} for this instance's bloom
        columns present in the file (non-null values only — equality
        probes never match NULL)."""
        if not self.bloom_columns:
            return {}
        import base64

        import pyarrow.parquet as pq

        pf = pq.ParquetFile(path)
        names = set(pf.schema_arrow.names)
        cols = [c for c in self.bloom_columns if c in names]
        if not cols:
            return {}
        table = pf.read(columns=cols)
        out: dict = {}
        m_bits = self.bloom_bits
        for c in cols:
            bits = bytearray(m_bits // 8)
            ok = True
            n_set = 0
            for v in table.column(c).to_pylist():
                if v is None:
                    continue
                pos = self._bloom_positions(v, m_bits, self.BLOOM_K)
                if pos is None:
                    ok = False  # unsupported type: no bloom for column
                    break
                for p in pos:
                    byte, bit = p >> 3, 1 << (p & 7)
                    if not bits[byte] & bit:
                        bits[byte] |= bit
                        n_set += 1
            if ok and n_set * 2 <= m_bits:  # drop saturated bitmaps
                out[c] = {
                    "b85": base64.b85encode(bytes(bits)).decode("ascii"),
                    "m": m_bits,
                    "k": self.BLOOM_K,
                }
        return out

    @classmethod
    def _bloom_maybe_any(cls, col_stat: dict | None, values) -> bool:
        """True unless the column's bloom PROVES none of ``values`` is
        in the file. Missing/foreign blooms and unsupported values are
        always 'maybe'."""
        bloom = (col_stat or {}).get("bloom")
        if not bloom:
            return True
        import base64

        try:
            bits = base64.b85decode(bloom["b85"])
            m_bits, k = int(bloom["m"]), int(bloom["k"])
        except (KeyError, ValueError, TypeError):
            return True
        if len(bits) * 8 != m_bits:
            return True
        for v in values:
            pos = cls._bloom_positions(v, m_bits, k)
            if pos is None:
                return True
            if all(bits[p >> 3] & (1 << (p & 7)) for p in pos):
                return True
        return False

    # -- skipping index: one leaf rule over manifest stats + blooms -----

    @classmethod
    def _leaf(cls, spec) -> tuple[tuple, Callable[[Column], Column]]:
        """Parse one leaf of a conjunctive predicate into its skipping
        rule and its residual filter (a function of the column). Leaf
        specs:

        - ``(lo, hi)`` — band ``lo <= col <= hi``, a None bound is open;
          no leaf matches NULL, so ``(None, None)`` is ``col IS NOT
          NULL``; a degenerate band (``lo == hi``) is an equality leaf;
        - ``("in", [v, ...])`` — IN list;
        - ``("=", v)`` — equality, the same rule as ``("in", [v])``.

        The rule is ``("in", values)`` or ``("band", lo, hi)`` over
        ``_stats_norm``-alized values, the form the manifest stats are
        compared in."""
        if isinstance(spec, tuple) and len(spec) == 2:
            op, arg = spec
            if op == "in" and isinstance(arg, (list, tuple, set)):
                vals = list(arg)
                return (
                    ("in", [cls._stats_norm(v) for v in vals]),
                    lambda c: c.isin(vals),
                )
            if op == "=":
                return ("in", [cls._stats_norm(arg)]), lambda c: c == F.lit(arg)
        lo, hi = spec
        lo_n, hi_n = cls._stats_norm(lo), cls._stats_norm(hi)

        def band(c: Column) -> Column:
            cond = c.isNotNull()
            if lo is not None:
                cond = cond & (c >= F.lit(lo))
            if hi is not None:
                cond = cond & (c <= F.lit(hi))
            return cond

        if lo_n is not None and lo_n == hi_n:
            return ("in", [lo_n]), band
        return ("band", lo_n, hi_n), band

    @classmethod
    def _maybe_in_file(cls, st: dict | None, rule: tuple) -> bool:
        """True unless the file's stats for the leaf's column PROVE no
        row can match. A file without a stat is always 'maybe'; a file
        whose column is all NULL never matches (no leaf matches NULL). A
        band is skipped when [min, max] misses it; an IN list drops the
        values outside [min, max] and probes the bloom with the rest.
        Foreign blooms and unsupported values stay 'maybe' — pruning
        never changes semantics."""
        if st is None:
            return True
        fmin, fmax = st.get("min"), st.get("max")
        if fmin is None and fmax is None:
            return False
        if rule[0] == "band":
            _, lo, hi = rule
            return not (
                (hi is not None and fmin is not None and fmin > hi)
                or (lo is not None and fmax is not None and fmax < lo)
            )
        in_band = [
            v for v in rule[1]
            if not (
                (fmin is not None and v is not None and v < fmin)
                or (fmax is not None and v is not None and v > fmax)
            )
        ]
        return bool(in_band) and cls._bloom_maybe_any(st, in_band)

    def _split(self, m: dict, preds: dict) -> tuple[list[str], list[str]]:
        """Split manifest ``m``'s files into (kept, skipped) for the AND
        of ``preds`` ({column: leaf spec}): a file is skipped when any
        leaf rules it out."""
        rules = {c: self._leaf(spec)[0] for c, spec in preds.items()}
        stats = m.get("stats") or {}
        kept, skipped = [], []
        for f in m["files"]:
            st = stats.get(f) or {}
            if all(self._maybe_in_file(st.get(c), r) for c, r in rules.items()):
                kept.append(f)
            else:
                skipped.append(f)
        return kept, skipped

    def prune(self, preds: dict) -> tuple[list[str], list[str]]:
        """Split the latest snapshot's files into (kept, skipped) for the
        conjunction ``preds`` ({column: leaf spec}, see :meth:`_leaf`)
        using ONLY the manifest — min/max stats for every leaf, blooms
        for equality and IN leaves; no data file or footer is opened.
        This is the read-side payoff of OPTIMIZE ZORDER BY over several
        columns: the Morton ordering keeps every clustered column's
        per-file range tight, so the skip ratios of a multi-column
        selection multiply, and equality/IN leaves compound with bloom
        skipping on high-cardinality keys ranges cannot separate."""
        return self._split(self._manifest(self._snapshot()), preds)

    def read_predicate(
        self,
        spark: SparkSession,
        preds: dict,
    ) -> DataFrame:
        """Read ``preds`` from the latest snapshot: :meth:`prune` drops
        files from the file list BEFORE Spark sees a path (the
        Delta/Iceberg data-skipping move — at 100 TB the win is not just
        row groups skipped but tasks never scheduled and footers never
        fetched), then every leaf runs as a residual filter inside the
        scan, so results are exactly ``read().filter(...)`` whatever the
        stats say."""
        m = self._manifest(self._snapshot())
        kept, _ = self._split(m, preds)
        df = self._read_files(
            spark, kept, m["schema"], struct=self._schema_struct(m)
        )
        for col, spec in preds.items():
            df = df.filter(self._leaf(spec)[1](F.col(col)))
        return df

    def constraints(self) -> dict[str, str]:
        """The table's registered CHECK constraints (name → SQL
        predicate) as of the latest snapshot."""
        prev = self.latest_snapshot()
        if prev is None:
            return {}
        return dict(self._manifest(prev).get("constraints") or {})

    def _check_constraints(self, df: DataFrame) -> None:
        """Enforce every registered CHECK constraint on rows about to be
        written (standard SQL CHECK semantics: a row violates only when
        the predicate evaluates to FALSE — NULL passes). One aggregate
        pass counts all constraints together; raises ConstraintViolation
        naming each violated constraint and its row count."""
        cons = self.constraints()
        if not cons:
            return
        names = sorted(cons)
        counts = df.agg(
            *[
                F.sum(
                    F.when(
                        ~F.coalesce(F.expr(cons[n]), F.lit(True)), 1
                    ).otherwise(0)
                ).alias(n)
                for n in names
            ]
        ).collect()[0]
        bad = {n: int(counts[n]) for n in names if counts[n]}
        if bad:
            raise ConstraintViolation(
                "CHECK constraint(s) violated by incoming rows: "
                + ", ".join(
                    f"{n} ({cons[n]!r}): {c} row(s)"
                    for n, c in sorted(bad.items())
                )
            )

    def add_check_constraint(
        self, spark: SparkSession, name: str, expr: str
    ) -> int:
        """Register a CHECK constraint (Delta's ALTER TABLE ADD
        CONSTRAINT): all EXISTING rows are validated first (the
        constraint must hold table-wide, not just going forward), then
        the constraint is committed as a data-less snapshot and every
        subsequent append/overwrite/merge enforces it on incoming rows.
        NOT NULL is the special case ``col IS NOT NULL``."""
        cons = self.constraints()
        if name in cons:
            raise ValueError(f"constraint {name!r} already exists")
        prev = self.latest_snapshot()
        if prev is not None and self._manifest(prev)["files"]:
            n_bad = self.read(spark).filter(
                ~F.coalesce(F.expr(expr), F.lit(True))
            ).count()
            if n_bad:
                raise ConstraintViolation(
                    f"cannot add constraint {name!r} ({expr!r}): "
                    f"{n_bad} existing row(s) violate it"
                )
        cons[name] = expr
        return self._commit_metadata(
            "set_constraint", prev, None, constraints=cons
        )

    def drop_check_constraint(self, name: str) -> int:
        """Remove a CHECK constraint; future writes stop enforcing it."""
        cons = self.constraints()
        if name not in cons:
            raise ValueError(f"no such constraint: {name!r}")
        del cons[name]
        return self._commit_metadata(
            "set_constraint", self.latest_snapshot(), None, constraints=cons
        )

    def _commit_metadata(
        self,
        action: str,
        base: int | None,
        txn_id: str | None,
        constraints: dict | None = None,
        tags: dict | None = None,
    ) -> int:
        """Commit a data-less snapshot on ``base`` that changes only the
        table's constraints or tags: same files, same schema."""
        m = self._manifest(base) if base is not None else {}
        return self._commit(
            action, [], 0, m.get("schema"), txn_id, True,
            base=base, schema_json=m.get("schema_json"),
            constraints=constraints, tags=tags,
        )

    # -- snapshot tags (Iceberg-style named refs) -----------------------

    def _vacuum_gaps(self) -> dict:
        """Vacuumed-history gaps recorded by :meth:`vacuum`: retained
        predecessor snapshot id (as str) → earliest ``committed_at``
        among the manifests dropped immediately after it (None when a
        dropped manifest carried no stamp — treated as 'could be any
        time'). Lets snapshot_asof refuse timestamps whose true as-of
        manifest no longer exists instead of silently resolving to an
        older state.

        An ABSENT sidecar means "never vacuumed" → no gaps; an
        UNPARSEABLE one is corruption and raises (ADVICE r11) — mapping
        it to {} would silently re-enable the rewrite-history
        resolution the gap check exists to prevent. vacuum() writes the
        sidecar atomically (temp + os.replace), so a parse failure is
        real damage, not a crash artifact."""
        path = os.path.join(self.log_dir, "_vacuum.json")
        try:
            with open(path) as f:
                raw = f.read()
        except FileNotFoundError:
            return {}
        try:
            return dict(json.loads(raw).get("gaps") or {})
        except (ValueError, AttributeError) as e:
            raise SnapshotUnavailable(
                f"corrupt vacuum sidecar {path!r}: {e}. Time-travel "
                "gap checks cannot be trusted; restore the sidecar "
                "from a backup or delete it ONLY if the table's full "
                "history is known to be intact."
            ) from e

    def snapshot_asof(self, ts: float) -> int:
        """Resolve Delta/Iceberg's TIMESTAMP AS OF: the newest snapshot
        whose commit wall-clock (``committed_at``, stamped by _commit)
        is ≤ ``ts`` (epoch seconds). Pre-r10 manifests without the
        field are treated as arbitrarily old (always eligible), so time
        travel over a table with legacy history still resolves. Raises
        SnapshotUnavailable when the table is empty, every stamped
        commit is newer than ``ts``, or the TRUE as-of manifest was
        vacuumed (VERDICT r10 #8): if any manifest dropped right after
        the resolved snapshot committed at or before ``ts``, resolving
        to the older retained snapshot would silently rewrite history,
        so the resolution fails with a clear error instead — while a
        ``ts`` that genuinely lands on a tagged retention root (before
        anything dropped after it committed) still succeeds.
        Resolution reads manifests only — KB-scale metadata, no data
        files."""
        best = None
        for s in self.snapshots():
            at = self._manifest(s).get("committed_at")
            if at is None or at <= ts:
                best = s if best is None else max(best, s)
        if best is None:
            raise SnapshotUnavailable(
                f"no snapshot committed at or before {ts!r}"
            )
        gaps = self._vacuum_gaps()
        gap_lo = gaps.get(str(best))
        if str(best) in gaps and (gap_lo is None or ts >= gap_lo):
            raise SnapshotUnavailable(
                f"TIMESTAMP AS OF {ts!r}: the manifest(s) committed "
                f"after snapshot {best}"
                + ("" if gap_lo is None else f" (from {gap_lo!r} on)")
                + " were vacuumed, so the true as-of snapshot no longer"
                " exists. Time-travel to a tagged retention root or a"
                " retained snapshot id instead."
            )
        return best

    def tags(self) -> dict[str, int]:
        """Named snapshot refs from the LATEST manifest (tags ride the
        manifest like constraints, so one metadata read resolves them)."""
        prev = self.latest_snapshot()
        if prev is None:
            return {}
        return dict(self._manifest(prev).get("tags") or {})

    def create_tag(
        self, name: str, snapshot: int | None = None, txn_id: str | None = None
    ) -> int:
        """Pin ``snapshot`` (default: latest) under a durable name —
        Iceberg's CREATE TAG (iceberg SnapshotRef semantics, re-expressed
        on the manifest log). A tag is a metadata-only commit: atomic via
        the same exclusive-create protocol as data commits, optionally
        txn-marked for replay-idempotent creation from a streaming job.
        Tagged snapshots are RETENTION ROOTS: vacuum keeps their manifest
        and data files regardless of ``keep_last``, so ``read(tag=...)``
        stays serviceable until the tag is dropped. Re-creating an
        existing tag with the same target is a no-op; with a different
        target it raises (retag = delete + create, deliberate)."""
        prev = self.latest_snapshot()
        if prev is None:
            raise SnapshotUnavailable("cannot tag an empty table")
        if txn_id is not None and self.txn_committed(txn_id):
            return prev  # replayed delivery: already recorded
        target = prev if snapshot is None else snapshot
        if target not in self.snapshots():
            raise SnapshotUnavailable(f"no manifest for snapshot {target}")
        cur = self.tags()
        if name in cur:
            # idempotent re-create: same snapshot, or (default target)
            # the same DATA STATE — the original set_tag commit itself is
            # metadata-only, so "tag now" right after "tag now" must not
            # conflict. Anything else is a refused retag (retag =
            # delete_tag + create_tag, deliberate, like Iceberg's
            # CREATE TAG without REPLACE).
            same_files = (
                self._manifest(cur[name])["files"]
                == self._manifest(target)["files"]
            )
            if cur[name] == target or (snapshot is None and same_files):
                return prev
            raise ValueError(
                f"tag {name!r} already points at snapshot {cur[name]}"
            )
        cur[name] = target
        return self._commit_metadata("set_tag", prev, txn_id, tags=cur)

    def delete_tag(self, name: str) -> int:
        """Drop a tag; its snapshot's files become ordinary history and
        the next vacuum may reclaim them."""
        cur = self.tags()
        if name not in cur:
            raise ValueError(f"no such tag: {name!r}")
        del cur[name]
        return self._commit_metadata(
            "set_tag", self.latest_snapshot(), None, tags=cur
        )

    def _stage(
        self, df: DataFrame, enforce: bool = True
    ) -> tuple[list[str], int, dict]:
        """Write df's files under unique names inside data/. Staged files
        are INVISIBLE until a manifest references them — a crash here
        leaves orphans for vacuum, never a torn table. Returns the file
        list, row count, and per-file column stats for the manifest.

        ``enforce=False`` skips CHECK-constraint validation — only for
        pure-rearrangement writers (delete survivors, OPTIMIZE rewrite)
        whose rows already live in the table.

        CHECK constraints are validated on the STAGED files, not on the
        incoming DataFrame (ADVICE r8): validating df first would compute
        it twice, and a nondeterministic df (rand(), a mutating source)
        could pass the pre-check yet stage violating rows — the checked
        bytes must be the committed bytes. A failed check raises before
        any manifest references the files, so they are vacuum-able
        orphans, never table state."""
        stage_id = uuid.uuid4().hex
        stage_dir = os.path.join(self.data_dir, f"_stage_{stage_id}")
        df.write.mode("overwrite").parquet(stage_dir)
        files = []
        n_rows = 0
        stats: dict = {}
        import pyarrow.parquet as pq

        for name in sorted(os.listdir(stage_dir)):
            if not name.endswith(".parquet"):
                continue
            final = f"{stage_id}_{name}"
            os.rename(
                os.path.join(stage_dir, name),
                os.path.join(self.data_dir, final),
            )
            full = os.path.join(self.data_dir, final)
            n_rows += pq.ParquetFile(full).metadata.num_rows
            stats[final] = self._file_stats(full)
            for c, bl in self._file_blooms(full).items():
                st = stats[final].get(c)
                # attach only to a live stat entry with real bounds: a
                # synthesized {min: None, max: None} entry would read as
                # "all-null file" to the skipping rule and cause a
                # wrong skip
                if st is not None and (
                    st.get("min") is not None or st.get("max") is not None
                ):
                    st["bloom"] = bl
            files.append(final)
        shutil.rmtree(stage_dir)
        if enforce and files and self.constraints():
            self._check_constraints(
                df.sparkSession.read.parquet(
                    *[os.path.join(self.data_dir, f) for f in files]
                )
            )
        return files, n_rows, stats

    @staticmethod
    def _add_columns(table, batch):
        """ADD-COLUMN schema evolution: the table's StructType followed by
        the batch's columns the table lacks (nullable — files written
        before them null-fill). A column in both must keep its exact
        type: widening is a rewrite, not an evolution."""
        from pyspark.sql.types import StructField, StructType

        by_name = {f.name: f for f in batch.fields}
        for f in table.fields:
            nf = by_name.get(f.name)
            if nf is not None and nf.dataType != f.dataType:
                raise ValueError(
                    f"schema evolution cannot change column "
                    f"{f.name!r}: {f.dataType.simpleString()} -> "
                    f"{nf.dataType.simpleString()}"
                )
        old_names = {f.name for f in table.fields}
        return StructType(
            list(table.fields)
            + [
                StructField(f.name, f.dataType, True)
                for f in batch.fields
                if f.name not in old_names
            ]
        )

    def _schema_struct(self, m: dict):
        """The manifest's logical schema as a StructType (None for
        manifests written before schema_json was recorded)."""
        if m.get("schema_json"):
            from pyspark.sql.types import StructType

            return StructType.fromJson(json.loads(m["schema_json"]))
        return None

    def _commit(
        self,
        action: str,
        new_files: list[str],
        n_rows: int,
        schema: str,
        txn_id: str | None,
        keep_previous: bool,
        base: int | None = None,
        removed: list[str] | None = None,
        schema_json: str | None = None,
        allow_schema_change: bool = False,
        stats: dict | None = None,
        constraints: dict | None = None,
        tags: dict | None = None,
    ) -> int:
        """Claim snapshot ``base + 1``. ``base`` is the table state the
        writer READ when it started (captured before staging); if a racer
        committed meanwhile, the exclusive create below fails and the
        caller gets CommitConflict instead of a silent rebase onto files
        it never saw."""
        prev = self.latest_snapshot() if base is None else base
        if txn_id is not None and prev is not None:
            if txn_id in self._txn_ids_seen():
                # replayed delivery: the work is already committed.
                # Staged files become orphans; vacuum reclaims them.
                return prev
        pm = self._manifest(prev) if prev is not None else {}
        live = []
        if keep_previous and prev is not None:
            live = list(pm["files"])
            prev_schema = pm["schema"]
            # prev_schema is None only for a constraint-set committed on
            # an EMPTY table — the first data write defines the schema
            if (
                prev_schema is not None
                and prev_schema != schema
                and not allow_schema_change
            ):
                raise ValueError(
                    f"append schema mismatch: table has {prev_schema}, "
                    f"commit brings {schema} "
                    "(pass merge_schema=True to evolve by adding columns)"
                )
        if removed:
            gone = set(removed)
            live = [f for f in live if f not in gone]
        # stats are a pure function of the immutable data files: carry
        # the previous manifest's entries for surviving files, add the
        # staged files' fresh ones (files without stats stay unprunable)
        prev_stats = pm.get("stats") or {}
        carried = {f: prev_stats[f] for f in live if f in prev_stats}
        carried.update(stats or {})
        if constraints is None:
            constraints = pm.get("constraints") or {}
        if tags is None:
            tags = pm.get("tags") or {}
        manifest = {
            "snapshot": (prev + 1) if prev is not None else 0,
            "action": action,
            "files": live + new_files,
            "added": new_files,
            "removed": sorted(removed) if removed else [],
            "n_rows_added": n_rows,
            "schema": schema,
            "schema_json": schema_json,
            "txn_id": txn_id,
            "stats": carried,
            "constraints": constraints,
            "tags": tags,
            # commit wall-clock for TIMESTAMP AS OF resolution
            # (snapshot_asof / read(asof=...)); monotonicity is NOT
            # assumed by readers — resolution scans the log
            "committed_at": time.time(),
        }
        path = os.path.join(self.log_dir, f"{manifest['snapshot']:010d}.json")
        try:
            self._claim(path, manifest)
        except FileExistsError as e:
            raise CommitConflict(
                f"snapshot {manifest['snapshot']} already committed"
            ) from e
        return manifest["snapshot"]

    @staticmethod
    def _claim(path: str, doc: dict) -> None:
        """Write ``doc`` as JSON to ``path`` by exclusive create: a temp
        file hard-linked into place. os.link fails with EEXIST when a
        racer claimed ``path`` first (POSIX rename would silently
        overwrite — exactly the wrong semantics); that surfaces here as
        FileExistsError."""
        tmp = path + f".tmp.{uuid.uuid4().hex}"
        with open(tmp, "w") as f:
            json.dump(doc, f)
        try:
            os.link(tmp, path)
        finally:
            os.unlink(tmp)

    # Bounded rebase-retry on CommitConflict (Delta/Iceberg writer
    # liveness): a losing racer whose work is DISJOINT from the commits
    # that beat it re-commits against the new snapshot instead of
    # failing the job back to the caller.
    MAX_COMMIT_RETRIES = 5

    def _commit_with_rebase(
        self,
        action: str,
        staged: list[str],
        n_rows: int,
        schema: str,
        txn_id: str | None,
        base: int | None,
        our_removed: list[str] | None,
        overlap_probe=None,
        schema_json: str | None = None,
        allow_schema_change: bool = False,
        stats: dict | None = None,
    ) -> int:
        """Commit, rebasing onto newer snapshots when provably safe.

        On CommitConflict the interleaved commits (base+1 .. latest) are
        inspected; the rebase lands iff
        - none of them removed a file this commit removes (two writers
          rewrote the same file → true write-write conflict), and
        - ``overlap_probe(their_added_files)`` is falsy — i.e. no file a
          racer ADDED contains a row this operation's outcome depends on
          (merge: its update keys; delete: its predicate). The probe
          re-validates the discovery scan's "no other file matches"
          claim against exactly the files that appeared since, so the
          rebased commit is serializable, not merely conflict-free at
          the file level. Appends pass no probe — they depend on no
          existing content and always rebase.
        A schema change by a racer always raises — EVEN when this
        commit itself evolves the schema (allow_schema_change): our
        schema/schema_json were derived as union(base schema, batch),
        so rebasing past a racer's own evolution would silently drop
        the racer's new columns from the logical schema (their data
        becomes unreadable — ADVICE r6). The comparison is therefore
        against the BASE schema the staged files were computed from,
        not the schema being committed. Retries are bounded by
        MAX_COMMIT_RETRIES; pathological contention surfaces as the
        original CommitConflict.
        """
        # the schema of the snapshot our staged files/union-schema were
        # derived from; first-commit racers (base None) have nothing to
        # rebase onto safely unless their schema matches ours exactly
        base_schema = (
            self._manifest(base)["schema"] if base is not None else schema
        )
        for _ in range(self.MAX_COMMIT_RETRIES + 1):
            try:
                return self._commit(
                    action, staged, n_rows, schema, txn_id, True,
                    base=base, removed=our_removed,
                    schema_json=schema_json,
                    allow_schema_change=allow_schema_change,
                    stats=stats,
                )
            except CommitConflict:
                new_base = self.latest_snapshot()
                if new_base is None or new_base <= (base if base is not None else -1):
                    raise  # conflict without a newer snapshot: give up
                if self._manifest(new_base)["schema"] != base_schema:
                    raise  # racer evolved the schema: never rebase over it
                theirs_removed: set[str] = set()
                theirs_added: list[str] = []
                start = 0 if base is None else base + 1
                for s in range(start, new_base + 1):
                    m = self._manifest(s)
                    theirs_removed |= set(m.get("removed") or [])
                    theirs_added += list(m.get("added") or [])
                if theirs_removed & set(our_removed or []):
                    raise
                if overlap_probe is not None and theirs_added and overlap_probe(theirs_added):
                    raise
                base = new_base
        raise CommitConflict(
            f"gave up after {self.MAX_COMMIT_RETRIES} rebase attempts"
        )

    def append(
        self,
        df: DataFrame,
        txn_id: str | None = None,
        merge_schema: bool = False,
    ) -> int:
        """Atomically add df's rows. Returns the committed snapshot id.
        With txn_id, a replayed append of the same transaction is a
        no-op (exactly-once under at-least-once delivery). Raises
        CommitConflict if another writer committed since this call began
        — retry by calling append again (it re-reads table state).

        ``merge_schema=True`` enables ADD-COLUMN schema evolution (the
        Delta/Iceberg mergeSchema contract): columns the batch brings
        that the table lacks are appended to the logical schema, and
        columns the batch omits stay — existing files are NEVER
        rewritten; reads resolve every file against the unified logical
        schema, null-filling what a file predates (see :meth:`read`).
        Same-named columns must keep their exact type — type changes
        raise (widening is a rewrite, not an evolution). Time travel is
        schema-versioned: an old snapshot reads with the schema it was
        committed under."""
        base = self.latest_snapshot()
        schema_struct = df.schema
        if merge_schema and base is not None:
            prev = self._schema_struct(self._manifest(base))
            if prev is not None:
                schema_struct = self._add_columns(prev, df.schema)
        files, n, stats = self._stage(df)
        # appends depend on no existing file content: always rebasable
        return self._commit_with_rebase(
            "append", files, n, schema_struct.simpleString(), txn_id,
            base=base, our_removed=None, overlap_probe=None,
            schema_json=schema_struct.json(),
            allow_schema_change=merge_schema, stats=stats,
        )

    def overwrite(self, df: DataFrame, txn_id: str | None = None) -> int:
        """Atomically replace the table's contents. Prior snapshots stay
        readable (their files are not touched) until vacuum. Conflict
        semantics as in append."""
        base = self.latest_snapshot()
        files, n, stats = self._stage(df)
        return self._commit(
            "overwrite", files, n, df.schema.simpleString(), txn_id, False,
            base=base, schema_json=df.schema.json(), stats=stats,
        )

    # -- reads ----------------------------------------------------------

    # -- write-audit-publish (Iceberg WAP) ------------------------------
    #
    # Stage data invisibly, AUDIT it with arbitrary checks (the staged
    # DataFrame is readable through read_wap), then atomically publish —
    # or abort, leaving readers untouched either way. The pending state
    # lives in _log/_wap/<wap_id>.json, which snapshot resolution never
    # looks at, so a crash at ANY point before publish leaves only
    # vacuum-able orphans. publish_wap() re-runs the registered CHECK
    # constraints at publish time by default (audit gate + constraint
    # gate compose), and commits through the same rebase path as append
    # — concurrent appends between stage and publish are legal.

    def _wap_path(self, wap_id: str) -> str:
        if "/" in wap_id or wap_id.startswith("."):
            raise ValueError(f"bad wap_id: {wap_id!r}")
        os.makedirs(self.wap_dir, exist_ok=True)
        return os.path.join(self.wap_dir, f"{wap_id}.json")

    def stage_wap(self, df: DataFrame, wap_id: str) -> None:
        """Stage ``df`` for later publication under ``wap_id``. Readers
        see nothing; CHECK constraints are deferred to publish (the
        audit step may be what decides the data is acceptable)."""
        path = self._wap_path(wap_id)
        if os.path.exists(path):
            raise ValueError(f"wap_id {wap_id!r} already staged")
        files, n, stats = self._stage(df, enforce=False)
        pending = {
            "wap_id": wap_id,
            "files": files,
            "n_rows": n,
            "schema": df.schema.simpleString(),
            "schema_json": df.schema.json(),
            "stats": stats,
        }
        try:
            self._claim(path, pending)
        except FileExistsError as e:
            raise ValueError(f"wap_id {wap_id!r} already staged") from e

    def _wap_pending(self, wap_id: str) -> dict:
        path = self._wap_path(wap_id)
        if not os.path.exists(path):
            raise ValueError(f"no staged WAP {wap_id!r}")
        with open(path) as f:
            return json.load(f)

    def read_wap(self, spark: SparkSession, wap_id: str) -> DataFrame:
        """The staged-but-unpublished rows — what the audit step reads."""
        p = self._wap_pending(wap_id)
        return self._read_files(
            spark, p["files"], p["schema"], struct=self._schema_struct(p)
        )

    def publish_wap(
        self,
        spark: SparkSession,
        wap_id: str,
        txn_id: str | None = None,
    ) -> int:
        """Atomically append the staged rows as the next snapshot. The
        staged files are adopted as-is (no rewrite); CHECK constraints
        run against the staged data; the commit rides the append rebase
        path, so interleaved appends since stage_wap are fine. The
        pending marker is removed AFTER the commit — a crash between the
        two leaves a published snapshot plus a stale marker whose
        re-publish is refused by the txn_id no-op (pass one) or lands
        duplicate rows (pass none: callers that may replay must supply
        txn_id, same contract as append)."""
        p = self._wap_pending(wap_id)
        if self.constraints():
            self._check_constraints(self.read_wap(spark, wap_id))
        snap = self._commit_with_rebase(
            "append", p["files"], p["n_rows"], p["schema"], txn_id,
            base=self.latest_snapshot(), our_removed=None,
            overlap_probe=None, schema_json=p.get("schema_json"),
            stats=p.get("stats"),
        )
        os.unlink(self._wap_path(wap_id))
        return snap

    def abort_wap(self, wap_id: str) -> int:
        """Discard a staged WAP: the marker is removed and the staged
        files become ordinary orphans for vacuum. Returns the number of
        data files released."""
        p = self._wap_pending(wap_id)
        os.unlink(self._wap_path(wap_id))
        return len(p["files"])

    def read(
        self,
        spark: SparkSession,
        snapshot: int | None = None,
        tag: str | None = None,
        asof: float | None = None,
    ) -> DataFrame:
        """Resolve a manifest and read EXACTLY its file list — snapshot
        isolation by construction: concurrent commits change the log, not
        the files this reader was handed. ``tag`` resolves a named ref
        (create_tag) to its pinned snapshot; ``asof`` (epoch seconds)
        resolves TIMESTAMP AS OF via snapshot_asof. The three selectors
        are mutually exclusive."""
        if sum(x is not None for x in (snapshot, tag, asof)) > 1:
            raise ValueError(
                "pass one of snapshot/tag/asof, not both or all"
            )
        if asof is not None:
            snapshot = self.snapshot_asof(asof)
        if tag is not None:
            refs = self.tags()
            if tag not in refs:
                raise SnapshotUnavailable(f"no such tag: {tag!r}")
            snapshot = refs[tag]
        m = self._readable_manifest(self._snapshot(snapshot))
        return self._read_files(
            spark, m["files"], m["schema"], struct=self._schema_struct(m)
        )

    def _read_files(
        self, spark: SparkSession, files: list[str], schema: str, struct=None
    ) -> DataFrame:
        """Read exactly ``files`` (basenames under data/); empty list
        resolves to an empty DataFrame with the manifest schema instead
        of a filesystem probe. With ``struct`` (the manifest's logical
        schema), every file is resolved against it BY NAME — files
        written before a schema evolution null-fill the columns they
        predate, which is what makes add-column evolution a pure
        metadata commit (no data rewrite)."""
        if not files:
            return spark.createDataFrame([], struct if struct is not None
                                         else schema)
        reader = spark.read
        if struct is not None:
            reader = reader.schema(struct)
        return reader.parquet(
            *(os.path.join(self.data_dir, f) for f in files)
        )

    # -- row-level rewrites (copy-on-write, file-pruned) ----------------

    @staticmethod
    def _basename_col() -> Column:
        # input_file_name() yields a file: URI; the manifest stores
        # basenames, so strip to the last path segment for matching.
        return F.element_at(F.split(F.input_file_name(), "/"), -1)

    def merge(
        self,
        spark: SparkSession,
        updates: DataFrame,
        key_cols: list[str],
        when_matched: str = "update",
        txn_id: str | None = None,
        delete_where: Column | str | None = None,
        merge_schema: bool = False,
    ) -> int:
        """MERGE INTO by key: replace rows whose ``key_cols`` match a row
        of ``updates`` and insert the rest (``when_matched='update'``,
        the upsert), or drop matched rows and ignore the rest
        (``when_matched='delete'``, the CDC tombstone path).

        Copy-on-write with FILE pruning — the Delta/Iceberg MERGE shape
        re-expressed on the manifest log: one narrow discovery scan
        (key columns + input_file_name only — column pruning keeps it a
        fraction of the row width) joined against the broadcast update
        keys finds the files that contain any match; ONLY those files
        are rewritten (matched rows anti-joined out, updates unioned
        in). Untouched files keep their name in the new manifest, so
        merge cost scales with the churned fraction, not table size —
        on a clustered layout (see :meth:`optimize` / layout.py) a
        narrow key range touches few files by construction. The
        driver-side collect is the affected FILE LIST (bounded by file
        count, never rows). Conflict and txn_id semantics as in append.

        ``delete_where`` (update mode only) is the conditional-delete
        clause of a full MERGE (Delta's WHEN MATCHED AND cond THEN
        DELETE): update rows satisfying it remove their matched table
        rows WITHOUT being re-inserted — upserts and keyed deletes land
        in ONE atomic commit, which is what makes a read-modify-write
        refresher (operators/txview.py) replay-idempotent under a
        single txn_id.

        ``merge_schema=True`` is Delta's automatic schema evolution for
        MERGE: updates may ADD columns (never retype or drop) — the
        table schema widens in the same atomic commit, survivors and
        pre-existing files null-fill the new columns by name (the same
        pure-metadata evolution as ``append(merge_schema=True)``), and
        updates missing existing columns insert NULLs for them.
        """
        if when_matched not in ("update", "delete"):
            raise ValueError(f"when_matched must be update|delete, got {when_matched!r}")
        if delete_where is not None and when_matched != "update":
            raise ValueError("delete_where only composes with when_matched='update'")
        del_cond = (
            F.expr(delete_where) if isinstance(delete_where, str) else delete_where
        )
        base = self.latest_snapshot()
        if base is None and when_matched == "update":
            inserts = (
                updates if del_cond is None else updates.filter(~del_cond)
            )
            return self.append(inserts, txn_id=txn_id)
        base = self._snapshot(base)
        m = self._manifest(base)
        schema = m["schema"]
        struct = self._schema_struct(m)
        evolved = False
        if when_matched == "update" and updates.schema.simpleString() != schema:
            if not merge_schema or struct is None:
                raise ValueError(
                    f"merge schema mismatch: table has {schema}, "
                    f"updates bring {updates.schema.simpleString()} "
                    "(pass merge_schema=True to evolve by adding columns)"
                )
            struct = self._add_columns(struct, updates.schema)
            schema = struct.simpleString()
            evolved = True
        keys = updates.select(*key_cols).distinct()
        # stats + bloom pre-pruning of the discovery scan: a row can
        # only match if EVERY key column matches, i.e. the AND of one IN
        # leaf per key column over the update's values — a file any
        # leaf rules out is dropped before Spark scans anything
        # (VERDICT r7 #4: min/max serves clustered keys bloom-less
        # writers never indexed, blooms serve high-cardinality keys
        # ranges cannot separate). Bounded driver collect of the
        # distinct update keys (merge already broadcasts them); beyond
        # the cap we skip pruning.
        discovery_files = list(m["files"])
        if any(
            (st.get(c) or None) is not None
            for st in (m.get("stats") or {}).values()
            for c in key_cols
        ):
            key_rows = keys.limit(self.BLOOM_MAX_PROBE_KEYS + 1).collect()
            if len(key_rows) <= self.BLOOM_MAX_PROBE_KEYS:
                discovery_files, _ = self._split(
                    m, {c: ("in", [r[c] for r in key_rows]) for c in key_cols}
                )
        table = self._read_files(spark, discovery_files, schema, struct=struct)
        affected_files = sorted(
            r["_file"]
            for r in (
                table.select(*key_cols, self._basename_col().alias("_file"))
                .join(F.broadcast(keys), on=key_cols, how="left_semi")
                .select("_file")
                .distinct()
                .collect()
            )
        )
        survivors = None
        if affected_files:
            survivors = self._read_files(
                spark, affected_files, schema, struct=struct
            ).join(F.broadcast(keys), on=key_cols, how="left_anti")
        if when_matched == "update":
            inserts = (
                updates if del_cond is None else updates.filter(~del_cond)
            )
            new_data = (
                inserts if survivors is None
                else survivors.unionByName(
                    inserts, allowMissingColumns=evolved
                )
            )
            if evolved and survivors is None:
                # no matched files: still widen via an empty
                # evolved-schema slice so the commit carries it
                new_data = self._read_files(
                    spark, [], schema, struct=struct
                ).unionByName(inserts, allowMissingColumns=True)
        else:
            if survivors is None:
                return base  # nothing matched: the delete is a no-op
            new_data = survivors
        files, n, stats = self._stage(new_data)

        def _keys_in(their_files: list[str]) -> bool:
            theirs = self._read_files(spark, their_files, schema, struct=struct)
            return not theirs.join(
                F.broadcast(keys), on=key_cols, how="left_semi"
            ).isEmpty()

        return self._commit_with_rebase(
            "merge", files, n, schema, txn_id,
            base=base, our_removed=affected_files, overlap_probe=_keys_in,
            schema_json=(struct.json() if struct is not None
                         else m.get("schema_json")),
            allow_schema_change=evolved, stats=stats,
        )

    def delete_where(
        self,
        spark: SparkSession,
        condition: Column | str,
        txn_id: str | None = None,
    ) -> int:
        """Copy-on-write DELETE: rewrite only the files that contain a
        row satisfying ``condition`` (SQL string or Column), keeping the
        non-matching rows of those files. The discovery scan pushes the
        predicate into the parquet reader, so on a clustered layout
        row-group stats skip most of the table before any row is read.
        Files with no matching row survive by NAME — zero rewrite cost.
        Returns the new snapshot (or the current one if nothing matched).
        """
        cond = F.expr(condition) if isinstance(condition, str) else condition
        base = self._snapshot()
        m = self._manifest(base)
        table = self._read_files(
            spark, m["files"], m["schema"], struct=self._schema_struct(m)
        )
        affected_files = sorted(
            r["_file"]
            for r in (
                table.withColumn("_file", self._basename_col())
                .where(cond)
                .select("_file")
                .distinct()
                .collect()
            )
        )
        if not affected_files:
            return base
        survivors = self._read_files(
            spark, affected_files, m["schema"],
            struct=self._schema_struct(m),
        ).where(~cond)
        files, n, stats = self._stage(survivors, enforce=False)

        def _cond_in(their_files: list[str]) -> bool:
            theirs = self._read_files(
                spark, their_files, m["schema"],
                struct=self._schema_struct(m),
            )
            return not theirs.where(cond).isEmpty()

        return self._commit_with_rebase(
            "delete", files, n, m["schema"], txn_id,
            base=base, our_removed=affected_files, overlap_probe=_cond_in,
            schema_json=m.get("schema_json"), stats=stats,
        )

    def changes(
        self,
        spark: SparkSession,
        from_snapshot: int,
        to_snapshot: int | None = None,
    ) -> DataFrame:
        """Change-data-feed between two snapshots, derived from the
        manifest file diff: rows only in files ADDED since
        ``from_snapshot`` are inserts, rows only in files REMOVED are
        deletes, and rows a copy-on-write rewrite merely carried over
        appear on both sides and cancel under ``exceptAll``. An update
        therefore surfaces as its delete + insert pair. Cost scales with
        the CHURNED files only — unchanged files are never read, which
        is what makes a CDC consumer over a 100 TB table feasible.
        Both snapshots must still be within vacuum retention and share a
        schema. Result carries a ``_change`` column ('insert'|'delete').
        """
        to = self._snapshot(to_snapshot)
        mf, mt = self._manifest(from_snapshot), self._manifest(to)
        if mf["schema"] != mt["schema"]:
            raise ValueError(
                "changes() across a schema change is undefined: "
                f"{mf['schema']} -> {mt['schema']}"
            )
        old, new = set(mf["files"]), set(mt["files"])
        added = sorted(new - old)
        removed = sorted(old - new)
        ins = self._read_files(
            spark, added, mt["schema"], struct=self._schema_struct(mt)
        )
        dels = self._read_files(
            spark, removed, mf["schema"], struct=self._schema_struct(mf)
        )
        return (
            ins.exceptAll(dels).withColumn("_change", F.lit("insert"))
            .unionByName(
                dels.exceptAll(ins).withColumn("_change", F.lit("delete"))
            )
        )

    def optimize(
        self,
        spark: SparkSession,
        n_files: int = 8,
        zorder_by: list[str] | None = None,
        txn_id: str | None = None,
    ) -> int:
        """Compact the current snapshot into ``n_files`` files —
        optionally clustered along the Z curve of ``zorder_by`` (see
        layout.zorder_key) so subsequent merges/deletes/scans on those
        columns prune to few files. Pure layout change: same rows, new
        files, old snapshot still time-travel-readable until vacuum.
        This is the OPTIMIZE [ZORDER BY] maintenance job table formats
        schedule between ingest waves; running it after a burst of small
        streaming appends is what keeps the file count (and manifest
        size) bounded over time."""
        base = self._snapshot()
        m = self._manifest(base)
        df = self._read_files(
            spark, m["files"], m["schema"], struct=self._schema_struct(m)
        )
        if zorder_by:
            from .layout import zorder_key

            df = (
                zorder_key(df, zorder_by)
                .repartitionByRange(n_files, "_zkey")
                .sortWithinPartitions("_zkey")
                .drop("_zkey")
            )
        else:
            df = df.repartition(n_files)
        files, n, stats = self._stage(df, enforce=False)
        return self._commit(
            "optimize", files, n, m["schema"], txn_id, True,
            base=base, removed=list(m["files"]),
            schema_json=m.get("schema_json"), stats=stats,
        )

    def restore(self, snapshot: int) -> int:
        """Roll the table back to ``snapshot`` as a NEW commit (history
        is append-only — a bad write is undone by re-referencing the old
        file list, never by mutating the log). Fails if the target's
        files were already vacuumed."""
        base = self.latest_snapshot()
        m = self._readable_manifest(snapshot)
        return self._commit(
            "restore", list(m["files"]), 0, m["schema"], None, False,
            base=base, schema_json=m.get("schema_json"),
            stats=m.get("stats"),
        )

    # -- maintenance ----------------------------------------------------

    def vacuum(
        self,
        keep_last: int = 1,
        retain_hours: float | None = None,
    ) -> tuple[int, int]:
        """Reclaim space: drop manifests older than the newest
        ``keep_last`` and delete data files no retained manifest
        references — which also sweeps crash orphans (staged files never
        claimed by any commit). Returns (manifests_dropped,
        files_deleted). The retained history bounds time travel.

        ``retain_hours`` is Delta's ``VACUUM ... RETAIN n HOURS`` /
        Iceberg's ``expire_snapshots(older_than=...)`` re-expressed on
        the manifest log: ADDITIONALLY retain every snapshot whose
        ``committed_at`` is within the window (legacy manifests without
        the stamp are treated as arbitrarily old — eligible to drop, as
        in snapshot_asof). keep_last and retain_hours compose as a
        UNION of retention sets, so ``keep_last=1, retain_hours=168``
        reads "always the latest, plus a week of TIMESTAMP AS OF
        history". Tagged snapshots remain unconditional roots."""
        snaps = self.snapshots()
        retained = snaps[-keep_last:] if keep_last > 0 else []
        if retain_hours is not None:
            cutoff = time.time() - retain_hours * 3600.0
            retained = sorted(
                set(retained)
                | {
                    s for s in snaps
                    if (self._manifest(s).get("committed_at") or 0)
                    >= cutoff
                }
            )
        # tagged snapshots are retention roots (Iceberg ref semantics):
        # their manifests and data files survive any keep_last
        tagged = {
            s for s in self.tags().values() if s in snaps
        }
        if tagged:
            # the tag MAP itself lives in the latest manifest (tags ride
            # the manifest like constraints) — if vacuum(keep_last=0)
            # dropped it, tags() would resolve against an older manifest
            # that predates the tag: the tag silently vanishes, the
            # pinned snapshot loses protection on the NEXT vacuum, and
            # latest_snapshot() regresses so new commits reuse
            # previously-assigned snapshot ids. The latest manifest is
            # therefore a retention root whenever any tag exists.
            tagged.add(snaps[-1])
        retained = sorted(set(retained) | tagged)
        keep_files: set[str] = set()
        for s in retained:
            keep_files.update(self._manifest(s)["files"])
        # staged-but-unpublished WAP data is live state, not orphans
        if os.path.isdir(self.wap_dir):
            for name in os.listdir(self.wap_dir):
                if not name.endswith(".json"):
                    continue
                try:
                    with open(os.path.join(self.wap_dir, name)) as f:
                        keep_files.update(json.load(f).get("files") or [])
                except (OSError, ValueError):
                    continue
        # Record vacuumed-history gaps BEFORE unlinking (VERDICT r10
        # #8): for each dropped manifest, attach its committed_at to
        # the nearest retained predecessor, keeping the EARLIEST such
        # stamp per gap (None = a dropped legacy manifest carried no
        # stamp — conservatively 'could be any time'). Pre-existing
        # gaps whose anchor is itself dropped this pass re-attach to
        # the new predecessor. snapshot_asof consults this sidecar to
        # refuse timestamps whose true as-of manifest is gone.
        retained_set = set(retained)
        to_drop = [s for s in snaps if s not in retained_set]
        if to_drop:
            gaps = self._vacuum_gaps()

            def _merge_lo(a, b):
                # None = an unstamped (legacy) dropped manifest — could
                # have committed at any time, so the gap refuses every
                # timestamp; otherwise keep the earliest stamp
                return None if a is None or b is None else min(a, b)

            def _attach(after_id, lo):
                preds = [r for r in retained if r < after_id]
                key = str(max(preds)) if preds else "-1"
                gaps[key] = _merge_lo(lo, gaps[key]) if key in gaps else lo

            for key, lo in list(gaps.items()):
                if key == "-1" or int(key) in retained_set:
                    continue
                del gaps[key]
                _attach(int(key), lo)
            for s in to_drop:
                _attach(s, self._manifest(s).get("committed_at"))
            # Atomic sidecar write (ADVICE r11): a crash mid-write must
            # not leave a truncated _vacuum.json — _vacuum_gaps treats
            # a corrupt sidecar as an ERROR, and before that hardening
            # a truncated file silently mapped to {} and re-enabled the
            # exact rewrite-history resolution this gap check prevents.
            path = os.path.join(self.log_dir, "_vacuum.json")
            tmp = path + f".tmp.{uuid.uuid4().hex}"
            with open(tmp, "w") as f:
                json.dump({"gaps": gaps}, f)
            os.replace(tmp, path)
        for s in to_drop:
            os.unlink(os.path.join(self.log_dir, f"{s:010d}.json"))
        deleted = 0
        for name in list(os.listdir(self.data_dir)):
            full = os.path.join(self.data_dir, name)
            if os.path.isdir(full):
                if name.startswith("_stage_"):
                    shutil.rmtree(full)
                continue
            if name.endswith(".parquet") and name not in keep_files:
                os.unlink(full)
                deleted += 1
        return len(to_drop), deleted

    def history(self) -> list[dict]:
        """The commit log as data: (snapshot, action, files added, rows
        added, txn_id) per commit — the audit trail a lineage system
        reads."""
        return [
            {
                k: m[k]
                for k in ("snapshot", "action", "n_rows_added", "txn_id")
            }
            | {"n_files_added": len(m["added"]), "n_files_live": len(m["files"])}
            for m in (self._manifest(s) for s in self.snapshots())
        ]
