"""Every parameter with a default in the package is set by some caller.

A default that no call ever overrides is not a setting but the code's one
value, so it belongs in the body, not in the signature. The scan matches
each package ``def`` to every call in the package, tests, tools, the bench
and perfbench by bare callee name (``f(...)`` and ``obj.f(...)`` both count
for ``f``). A parameter counts as set when a call passes it by keyword,
fills its position, or unpacks ``*``/``**`` (which may fill anything).
"""

from __future__ import annotations

import ast
import os
from collections import defaultdict

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "mapreducer_pi_cs4433_spark"
CALLER_ROOTS = (PACKAGE, "tests", "tools", "perfbench", "bench.py", "__spark_entry__.py")

# Parameters kept with no caller setting them, with the reason each stays.
ALLOWED = {
    # The command-line entry point: argv defaults to sys.argv for the shell.
    ("cli.py", "main", "argv"),
    # Output paths are deployment settings, not algorithm constants.
    ("sources/sinks.py", "compact_small_files", "dest"),
    ("sources/sinks.py", "merge_upsert_snapshot", "dest"),
}


def _py_files(rel: str):
    path = os.path.join(ROOT, rel)
    if os.path.isfile(path):
        yield path
        return
    for d, _, names in os.walk(path):
        for n in sorted(names):
            if n.endswith(".py"):
                yield os.path.join(d, n)


def _defaulted_params(fn: ast.FunctionDef | ast.AsyncFunctionDef, is_method: bool):
    """(name, position or None) of each parameter that has a default.

    Position is the index a positional call argument fills; a method's
    ``self``/``cls`` is not filled by a call through an attribute.
    """
    a = fn.args
    positional = a.posonlyargs + a.args
    skip = 1 if is_method and positional and positional[0].arg in ("self", "cls") else 0
    first_default = len(positional) - len(a.defaults)
    out = [(p.arg, i - skip) for i, p in enumerate(positional) if i >= first_default]
    out += [(p.arg, None) for p, d in zip(a.kwonlyargs, a.kw_defaults) if d is not None]
    return out


def _callee(call: ast.Call) -> str | None:
    f = call.func
    if isinstance(f, ast.Name):
        return f.id
    if isinstance(f, ast.Attribute):
        return f.attr
    return None


def scan():
    """Return (defaulted, unset): all defaulted params and the unset ones,
    each as (module path relative to the package, function, parameter)."""
    keywords = defaultdict(set)
    max_positional = defaultdict(int)
    unpacked = set()
    for rel in CALLER_ROOTS:
        for path in _py_files(rel):
            with open(path) as fh:
                tree = ast.parse(fh.read(), path)
            for node in ast.walk(tree):
                if not isinstance(node, ast.Call):
                    continue
                name = _callee(node)
                if name is None:
                    continue
                if any(isinstance(x, ast.Starred) for x in node.args) or any(
                    k.arg is None for k in node.keywords
                ):
                    unpacked.add(name)
                max_positional[name] = max(max_positional[name], len(node.args))
                keywords[name].update(k.arg for k in node.keywords if k.arg)

    defaulted, unset = [], []
    pkg_root = os.path.join(ROOT, PACKAGE)
    for path in _py_files(PACKAGE):
        mod = os.path.relpath(path, pkg_root)
        with open(path) as fh:
            tree = ast.parse(fh.read(), path)
        methods = {
            id(f)
            for c in ast.walk(tree)
            if isinstance(c, ast.ClassDef)
            for f in c.body
            if isinstance(f, (ast.FunctionDef, ast.AsyncFunctionDef))
        }
        for fn in ast.walk(tree):
            if not isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
                continue
            for param, pos in _defaulted_params(fn, id(fn) in methods):
                key = (mod, fn.name, param)
                defaulted.append(key)
                is_set = (
                    fn.name in unpacked
                    or param in keywords[fn.name]
                    or (pos is not None and pos < max_positional[fn.name])
                )
                if not is_set:
                    unset.append(key)
    return defaulted, unset


def test_every_defaulted_parameter_has_a_caller_that_sets_it():
    _, unset = scan()
    offenders = [k for k in unset if k not in ALLOWED]
    assert not offenders, (
        f"{len(offenders)} parameters are set by no caller; write the default "
        "in place of each:\n" + "\n".join(f"  {m}::{f}({p})" for m, f, p in offenders)
    )


def test_allowlist_names_only_live_parameters():
    defaulted, _ = scan()
    stale = ALLOWED - set(defaulted)
    assert not stale, f"allowlist names parameters that no longer exist: {sorted(stale)}"
