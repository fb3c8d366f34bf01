"""Every public top-level name in the package is one some caller names.

A function or class that only tests call is a demonstration: code kept
alive by its own tests. This test AST-scans the package's public
top-level functions and classes and fails on any that no file under
``test_options_in_use._CALLER_PATHS`` (the package, ``tools/``,
``bench.py``, ``__spark_entry__.py``, ``perfbench/``) names, unless
``_SURFACE`` lists it.

A caller names a definition through a ``Name`` node (``f(...)``, a bare
reference, an f-string placeholder) or an ``Attribute`` node
(``mod.f``). Import statements, ``__all__`` strings and the definition
itself do not count. ``@register``-decorated registry queries are
called through the registry, so they count as called.

``_SURFACE`` lists the names kept on purpose although nothing outside
the tests calls them, each with its reason. An entry must name a
public definition that still exists and still has no caller.
"""
import ast
import os

from test_options_in_use import _CALLER_PATHS, _PACKAGE, _ROOT, _parse, _py_files

_SURFACE = {
    # reference capabilities with no driver-side use: the alert payloads
    # (SURVEY S11-S12; reference src/alerts.py:11-91,
    # src/slack_alerts.py:9-109)
    ("alerts.py", "email_payload"),
    ("alerts.py", "slack_payload"),
    # the JDBC sink and table DDL (SURVEY S6-S7; reference
    # src/load.py:176-288, src/load.py:144-173)
    ("io_sink.py", "write_jdbc"),
    ("io_sink.py", "create_table_ddl"),
    # the JDBC scan with pushdown (SURVEY S8-S10; reference
    # dashboard/app.py:105-110, app_fast.py:25)
    ("sources/jdbc.py", "read_jdbc"),
    # the rate-limited quote API source (SURVEY S1-S3; reference
    # src/extract.py:18-334)
    ("sources/quote_api.py", "QuoteAPIDataSource"),
    # the dashboard's raw SQL over the warehouse tables (reference
    # dashboard/app.py:105-110)
    ("sql_api.py", "register_views"),
    # kept so perfbench can patch the name pipeline.py imports; goes
    # with perfbench's re-cut spans
    ("plans/quality.py", "run_quality_suite"),
    # streaming/: the Structured Streaming maintainers (start_*) and the
    # readers and seeders of their stores. Each module below has one
    # maintainer whose store or operator these names serve.
    # -- balance: the open-orders running balance and its read-back
    ("streaming/balance.py", "start_balance_maintainer"),
    ("streaming/balance.py", "open_orders_balance_frame"),
    # -- bm25_index: the incremental BM25 index and its ranked retrieval
    ("streaming/bm25_index.py", "start_bm25_index_stream"),
    ("streaming/bm25_index.py", "bm25_from_index"),
    # -- contamination: the decontamination monitor, its benchmark-gram
    # seed and its report
    ("streaming/contamination.py", "build_benchmark_grams"),
    ("streaming/contamination.py", "start_contamination_monitor"),
    ("streaming/contamination.py", "contamination_report"),
    # -- drift_monitor: the KL drift monitor, its frozen reference and
    # its read-back
    ("streaming/drift_monitor.py", "freeze_reference"),
    ("streaming/drift_monitor.py", "start_drift_monitor"),
    ("streaming/drift_monitor.py", "drift_metrics"),
    # -- gaps: the inter-session gap monitor, the event feed it reads and
    # its histogram read-back
    ("streaming/gaps.py", "start_gap_monitor"),
    ("streaming/gaps.py", "start_event_feed_ingest"),
    ("streaming/gaps.py", "gap_histogram_frame"),
    # -- ingest: the write-audit-publish quality gate into TxTables
    ("streaming/ingest.py", "start_wap_gated_ingest"),
    # -- joins: the watermarked stream-stream join operator
    ("streaming/joins.py", "view_to_click_attribution"),
    # -- lakehouse: the TxTable ingest with its refreshed aggregate view
    ("streaming/lakehouse.py", "start_lakehouse_ingest"),
    # -- near_dedup: continuous MinHash near-dedup
    ("streaming/near_dedup.py", "start_near_dedup_stream"),
    # -- rollup: the monthly OHLCV continuous aggregate
    ("streaming/rollup.py", "start_monthly_rollup"),
    # -- semantic_dedup: incremental SemDeDup and its re-clustering
    ("streaming/semantic_dedup.py", "start_semantic_dedup_stream"),
    ("streaming/semantic_dedup.py", "recluster"),
    # -- sketch_rollup: the four sketch-store maintainers, their
    # read-backs and the frequency store's compaction
    ("streaming/sketch_rollup.py", "start_distinct_sketch_rollup"),
    ("streaming/sketch_rollup.py", "distinct_estimates"),
    ("streaming/sketch_rollup.py", "sliding_distinct_from_store"),
    ("streaming/sketch_rollup.py", "start_theta_sketch_rollup"),
    ("streaming/sketch_rollup.py", "set_algebra_from_store"),
    ("streaming/sketch_rollup.py", "start_quantile_sketch_rollup"),
    ("streaming/sketch_rollup.py", "start_frequency_sketch_rollup"),
    ("streaming/sketch_rollup.py", "frequency_estimates"),
    ("streaming/sketch_rollup.py", "compact_frequency_store"),
    # -- stateful: the applyInPandasWithState running-VWAP operator
    ("streaming/stateful.py", "running_vwap"),
    # -- transitions: the transition-matrix maintainer and its read-back
    ("streaming/transitions.py", "start_transition_rollup"),
    ("streaming/transitions.py", "transition_matrix_from_store"),
    # -- windows: the tumbling and session event-time window operators
    ("streaming/windows.py", "tumbling_event_counts"),
    ("streaming/windows.py", "session_event_stats"),
}


def _registered(node):
    for d in node.decorator_list:
        f = d.func if isinstance(d, ast.Call) else d
        if isinstance(f, ast.Name) and f.id == "register":
            return True
    return False


def public_names():
    """(module, name) for every public top-level function or class in
    the package, registry queries excluded."""
    out = []
    pkg = os.path.join(_ROOT, _PACKAGE)
    for path in _py_files(_PACKAGE):
        module = os.path.relpath(path, pkg).replace(os.sep, "/")
        for node in _parse(path).body:
            if (isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef,
                                  ast.ClassDef))
                    and not node.name.startswith("_")
                    and not _registered(node)):
                out.append((module, node.name))
    return out


def named_in_callers():
    names = set()
    for rel in _CALLER_PATHS:
        for path in _py_files(rel):
            for node in ast.walk(_parse(path)):
                if isinstance(node, ast.Name):
                    names.add(node.id)
                elif isinstance(node, ast.Attribute):
                    names.add(node.attr)
    return names


def uncalled_names():
    named = named_in_callers()
    return [(m, n) for m, n in public_names() if n not in named]


def test_every_public_name_has_a_caller():
    missing = [f"{m}::{n}" for m, n in uncalled_names()
               if (m, n) not in _SURFACE]
    assert not missing, (
        f"{len(missing)} public function(s)/class(es) that no caller "
        "outside tests/ names; delete them with their tests, make them "
        "private, or list them in _SURFACE with a reason:\n  "
        + "\n  ".join(missing))


def test_surface_entries_exist_and_have_no_caller():
    """_SURFACE cannot outlive its names, nor keep a name that a caller
    now justifies on its own."""
    stale = sorted(_SURFACE - set(public_names()))
    assert not stale, f"_SURFACE names no public definition: {stale}"
    called = sorted(_SURFACE - set(uncalled_names()))
    assert not called, f"_SURFACE entries that now have a caller: {called}"
