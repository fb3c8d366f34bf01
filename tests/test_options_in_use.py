"""Every defaulted parameter in the package is one some caller sets.

A parameter that no call site passes has exactly one value in use, its
default, so it is a constant spelled as an option: a branch nobody takes
and a docstring line nobody needs. This test AST-scans the package's
top-level functions and class methods and fails on any defaulted
parameter that no call site passes in the package, ``tools/``,
``bench.py``, ``__spark_entry__.py`` or ``perfbench/``.

A test is not a caller: a knob only a test turns is still one value in
use. ``_TEST_WITNESSED`` lists the parameters that only tests set and
that a test assertion needs at a non-default value, each with the test
and the assertion that depends on it.

Call sites are matched by name (``f(...)``, ``mod.f(...)``,
``obj.f(...)``; a class name stands for its ``__init__``). A call passes a
parameter by keyword, by position (the receiver of a method counts as
position 0), through ``*args`` (every positional parameter) or through
``**kwargs`` (every parameter). Matching by name may credit a call of a
same-named function; import aliases and functions passed as values are
not followed.

``_KEPT`` lists the parameters kept on purpose although no caller sets
them today; each carries its reason.
"""
import ast
import os

_ROOT = os.path.join(os.path.dirname(__file__), "..")
_PACKAGE = "stock_market_etl_pipeline_spark"
_CALLER_PATHS = (_PACKAGE, "tools", "bench.py", "__spark_entry__.py",
                 "perfbench")

_KEPT = {
    # a deployment path: where the external table lives is the
    # deployer's choice, not the engine's
    ("io_sink.py", "create_table_ddl", "location"),
    # idempotency keys that make a replayed maintenance commit a no-op
    ("operators/txtable.py", "TxTable.delete_where", "txn_id"),
    ("operators/txtable.py", "TxTable.optimize", "txn_id"),
}

_TEST_WITNESSED = {
    # test_io_sink.py::test_create_table_ddl_and_insert: SHOW PARTITIONS
    # lists the inserted partitions (Spark refuses it on an unpartitioned
    # table)
    ("io_sink.py", "create_table_ddl", "partitioned_by"),
    # test_pipeline_observed.py::test_parquet_input_matches_json_input:
    # the parquet run's result equals the JSON run's
    ("pipeline.py", "run_pipeline", "input_format"),
    # test_pipeline.py::test_pipeline_report_and_warning_gate: the
    # JSON report at report_path carries 11 of 15 checks passed
    ("pipeline.py", "run_pipeline", "report_path"),
    # test_stream_stream_join.py::test_outer_join_emits_unconverted_
    # views_on_state_expiry: user 2's unconverted view emits once with a
    # null click_ts
    ("streaming/joins.py", "view_to_click_attribution", "how"),
    # test_streaming_semdedup.py::test_recluster_swaps_geometry_decisions_
    # stay_min_id_stable: the refreshed centroid table has N_CLUSTERS + 3
    # rows
    ("streaming/semantic_dedup.py", "recluster", "n_clusters"),
    # test_asof.py::test_asof_strict: the same-date right row no longer
    # matches (1, "a")
    ("operators/asof.py", "asof_join", "strict"),
    # test_asof.py::test_asof_forward_strict: the Jan 10 tie is excluded,
    # so (1, "c") has no match
    ("operators/asof.py", "asof_join_forward", "strict"),
    # test_llm_ops.py::test_exact_dedup_normalized: the group's doc_ids
    # are [0, 1, 2]
    ("operators/dedup.py", "exact_duplicate_groups", "with_doc_ids"),
    # test_llm_ops.py::test_connected_components_nonconvergence_raises:
    # one round on a 7-edge chain raises RuntimeError
    ("operators/graph.py", "connected_components", "max_iter"),
    # test_layout.py::test_quantile_rank_survives_skew_minmax_does_not:
    # quantile ranks skip ≥ 0.4 of y's row groups and beat minmax by 0.25
    ("operators/layout.py", "zorder_layout", "rank"),
    # the same test's quantile layout at bits=8: at the default 16 bits
    # it still passes, but the quantile layout takes about 30 s instead
    # of 2, nearly all of it approxQuantile moving 2^16 - 1 probabilities
    # and boundaries per column through py4j one element at a time
    ("operators/layout.py", "zorder_layout", "bits"),
    # test_multimodal_streaming.py::test_real_decode_ppm_and_wav: a 2x2
    # PPM decodes to width, height, frames (2, 2, 1)
    ("operators/multimodal.py", "decode_media", "decode_stub"),
    # test_llm_ops3.py::test_priority_sample_estimator_unbiased: the mean
    # estimate over 8 salts sits within [0.90, 1.15] of the true total
    ("operators/sampling.py", "priority_sample", "salt"),
    # test_streaming_semdedup.py::test_stream_equals_oneshot_semantic_
    # dedup_on_union: the stream's survivors equal the one-shot min_id run
    ("operators/similarity.py", "semantic_dedup", "survivor"),
    # test_skew_io.py::test_salted_join_left_outer_keeps_unmatched: key 99
    # survives with a null name
    ("operators/skew.py", "salted_join", "how"),
    # test_skew_io.py::test_enrich_skew_safe_approx_matches_plain_approx:
    # the chunked approx-quartile rows equal enrich(quartiles="approx")
    ("operators/skewsafe.py", "enrich_skew_safe", "quartiles"),
    # test_txtable4.py::test_bloom_skips_point_lookups_minmax_cannot:
    # every file's id stats carry a bloom
    ("operators/txtable.py", "TxTable.__init__", "bloom_columns"),
    # test_txtable4.py::test_bloomless_writers_and_saturation_stay_safe:
    # 5,000 ids in a 1,024-bit bloom saturate, so the file has no bloom
    ("operators/txtable.py", "TxTable.__init__", "bloom_bits"),
    # test_txtable_tags.py::test_tag_unknown_refs_raise: a tag on
    # snapshot 99 raises "no manifest"
    ("operators/txtable.py", "TxTable.create_tag", "snapshot"),
    # test_txtable_tags.py::test_tag_creation_replay_idempotent: a replayed
    # create under the same txn_id is a no-op, tags() == {"batch-7": 0}
    ("operators/txtable.py", "TxTable.create_tag", "txn_id"),
    # test_txtable3.py::test_add_column_evolution_null_fills_old_files:
    # the evolved read has columns [id, v, tag]
    ("operators/txtable.py", "TxTable.append", "merge_schema"),
    # test_txtable_tags.py::test_vacuum_keeps_tagged_snapshot: the pinned
    # snapshot still reads {1} after vacuum
    ("operators/txtable.py", "TxTable.read", "tag"),
    # test_txtable_tags.py::test_timestamp_asof_resolution: asof
    # stamps[1] reads {1, 2}
    ("operators/txtable.py", "TxTable.read", "asof"),
    # test_txtable2.py::test_merge_schema_evolution_adds_column: rows 5..9
    # read (i * 100, "new")
    ("operators/txtable.py", "TxTable.merge", "merge_schema"),
    # test_txtable.py::test_prune_bands_multi_column_zorder: kept plus
    # skipped files number 16
    ("operators/txtable.py", "TxTable.optimize", "n_files"),
    # test_txtable2.py::test_optimize_zorder_improves_skip_ratio: y's
    # skip ratio rises from ≤ 0.2 to ≥ 0.5
    ("operators/txtable.py", "TxTable.optimize", "zorder_by"),
    # test_txtable_tags.py::test_asof_vacuum_gap_survives_second_vacuum:
    # keep_last=3 keeps snapshots [0, 3, ...]
    ("operators/txtable.py", "TxTable.vacuum", "keep_last"),
    # test_txtable_tags.py::test_vacuum_retain_hours_window: in-window
    # snapshots survive (dropped == 0), aged ones go (dropped == 2)
    ("operators/txtable.py", "TxTable.vacuum", "retain_hours"),
    # test_jdbc_roundtrip.py::test_jdbc_partitioned_parallel_scan: the
    # partitioned scan has 4 partitions
    ("sources/jdbc.py", "read_jdbc", "partition_column"),
    ("sources/jdbc.py", "read_jdbc", "lower_bound"),
    ("sources/jdbc.py", "read_jdbc", "upper_bound"),
    ("sources/jdbc.py", "read_jdbc", "num_partitions"),
}


def _py_files(rel):
    path = os.path.join(_ROOT, rel)
    if os.path.isfile(path):
        yield path
        return
    for dirpath, dirnames, filenames in os.walk(path):
        dirnames[:] = [d for d in dirnames if d != "__pycache__"]
        for name in sorted(filenames):
            if name.endswith(".py"):
                yield os.path.join(dirpath, name)


def _parse(path):
    with open(path, encoding="utf-8") as fh:
        return ast.parse(fh.read(), filename=path)


def defaulted_parameters():
    """(module, qualname, call name, param, position or None, is_method)
    for every defaulted parameter of a top-level function or class method
    in the package. ``position`` counts ``self``/``cls``; keyword-only
    parameters have none."""
    out = []
    pkg = os.path.join(_ROOT, _PACKAGE)
    for path in _py_files(_PACKAGE):
        module = os.path.relpath(path, pkg).replace(os.sep, "/")
        tree = _parse(path)
        defs = []
        for node in tree.body:
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                defs.append((node, node.name, node.name, False))
            elif isinstance(node, ast.ClassDef):
                for item in node.body:
                    if isinstance(item, (ast.FunctionDef,
                                         ast.AsyncFunctionDef)):
                        static = any(
                            isinstance(d, ast.Name) and d.id == "staticmethod"
                            for d in item.decorator_list)
                        call = node.name if item.name == "__init__" \
                            else item.name
                        defs.append((item, f"{node.name}.{item.name}", call,
                                     not static))
        for fn, qualname, call, method in defs:
            a = fn.args
            positional = a.posonlyargs + a.args
            first = len(positional) - len(a.defaults)
            for i in range(first, len(positional)):
                out.append((module, qualname, call, positional[i].arg, i,
                            method))
            for arg, default in zip(a.kwonlyargs, a.kw_defaults):
                if default is not None:
                    out.append((module, qualname, call, arg.arg, None,
                                method))
    return out


def _callee_name(func):
    if isinstance(func, ast.Name):
        return func.id
    if isinstance(func, ast.Attribute):
        return func.attr
    return None


def call_sites():
    """name → list of (n positional passed or None for *args, keyword
    names, passes **kwargs)."""
    sites = {}
    for rel in _CALLER_PATHS:
        for path in _py_files(rel):
            for node in ast.walk(_parse(path)):
                if not isinstance(node, ast.Call):
                    continue
                name = _callee_name(node.func)
                if name is None:
                    continue
                n_pos = None if any(isinstance(a, ast.Starred)
                                    for a in node.args) else len(node.args)
                kws = {k.arg for k in node.keywords if k.arg is not None}
                star_kw = any(k.arg is None for k in node.keywords)
                sites.setdefault(name, []).append((n_pos, kws, star_kw))
    return sites


def unset_parameters():
    sites = call_sites()
    unset = []
    for module, qualname, call, param, pos, method in defaulted_parameters():
        passed = False
        for n_pos, kws, star_kw in sites.get(call, ()):
            if star_kw or param in kws:
                passed = True
            elif pos is not None:
                # a bound call (obj.m(...), Cls(...)) fills self implicitly
                passed = n_pos is None or pos < n_pos + int(method)
            if passed:
                break
        key = (module, qualname, param)
        if not passed and key not in _KEPT and key not in _TEST_WITNESSED:
            unset.append(f"{module}::{qualname}.{param}")
    return unset


def test_every_defaulted_parameter_is_set_by_some_caller():
    unset = unset_parameters()
    assert not unset, (
        f"{len(unset)} defaulted parameter(s) that no call site passes; "
        "inline the default (or pass it from a caller that needs another "
        "value):\n  " + "\n  ".join(unset))


def test_kept_parameters_still_exist():
    """The allowlists name real parameters, so they cannot outlive them."""
    present = {(m, q, p) for m, q, _, p, _, _ in defaulted_parameters()}
    for allowed in (_KEPT, _TEST_WITNESSED):
        assert allowed <= present, sorted(allowed - present)
