"""Every defaulted parameter in the package is one some caller sets.

A parameter that no call site passes has exactly one value in use, its
default, so it is a constant spelled as an option: a branch nobody takes
and a docstring line nobody needs. This test AST-scans the package's
top-level functions and class methods and fails on any defaulted
parameter that no call site passes in the package, ``tools/``,
``bench.py``, ``__spark_entry__.py``, ``perfbench/`` or ``tests/``.

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
                 "perfbench", "tests")

_KEPT = {
    # a deployment path: where the external table lives is the
    # deployer's choice, not the engine's
    ("io_sink.py", "create_table_ddl", "location"),
    # idempotency keys that make a replayed maintenance commit a no-op
    ("operators/txtable.py", "TxTable.delete_where", "txn_id"),
    ("operators/txtable.py", "TxTable.optimize", "txn_id"),
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
        if not passed and (module, qualname, param) not in _KEPT:
            unset.append(f"{module}::{qualname}.{param}")
    return unset


def test_every_defaulted_parameter_is_set_by_some_caller():
    unset = unset_parameters()
    assert not unset, (
        f"{len(unset)} defaulted parameter(s) that no call site passes; "
        "inline the default (or pass it from a caller that needs another "
        "value):\n  " + "\n  ".join(unset))


def test_kept_parameters_still_exist():
    """The allowlist names real parameters, so it cannot outlive them."""
    present = {(m, q, p) for m, q, _, p, _, _ in defaulted_parameters()}
    assert _KEPT <= present, sorted(_KEPT - present)
