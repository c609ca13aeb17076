"""Every parameter with a default in the package is set by some caller.

A default that no call ever overrides is not a setting but the code's one
value, so it belongs in the body, not in the signature. The scan matches
each package ``def`` to every call in the package, tests, tools, the bench
and perfbench by bare callee name (``f(...)`` and ``obj.f(...)`` both count
for ``f``). A parameter counts as set when a call passes it by keyword,
fills its position, or unpacks ``*``/``**`` (which may fill anything; a
``**name`` of a dict the calling function builds once from literal keys
counts as those keywords).

Forwarding is seen through: when the value a call passes is a package
function's own defaulted parameter, passed on by bare name and never
reassigned in its body (``ensure_x(..., k=k)`` inside ``def ensure_y(k=5)``),
the call sets the callee's parameter only if some caller sets that
parameter of the forwarding function. Sets are solved to a fixpoint, so a
chain of forwards that starts at no real setting sets nothing.
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


def _forwarded_from(value: ast.expr, scopes: list) -> tuple | None:
    """The (module, function, parameter) a call argument forwards, or None
    when the argument is a value of its own. `scopes` holds the enclosing
    functions innermost first, as (module, function node, defaulted
    parameter names, names assigned in its body)."""
    if not isinstance(value, ast.Name):
        return None
    for mod, fn, defaulted, assigned in scopes:
        a = fn.args
        params = {p.arg for p in a.posonlyargs + a.args + a.kwonlyargs}
        if value.id in params:
            if value.id in defaulted and value.id not in assigned:
                return (mod, fn.name, value.id)
            return None
    return None


def _assigned_names(fn) -> set[str]:
    return {
        n.id
        for n in ast.walk(fn)
        if isinstance(n, ast.Name) and isinstance(n.ctx, (ast.Store, ast.Del))
    }


def _dict_keywords(name: str, body: ast.AST) -> list[ast.keyword] | None:
    """The keywords of ``**name`` when `body` binds `name` exactly once,
    to ``dict(k=v, ...)`` or a ``{"k": v}`` literal; None otherwise."""
    bound = [
        n.value
        for n in ast.walk(body)
        if isinstance(n, ast.Assign)
        and len(n.targets) == 1
        and isinstance(n.targets[0], ast.Name)
        and n.targets[0].id == name
    ]
    if len(bound) != 1:
        return None
    v = bound[0]
    if isinstance(v, ast.Call) and _callee(v) == "dict" and not v.args:
        if all(k.arg for k in v.keywords):
            return v.keywords
    if isinstance(v, ast.Dict) and all(
        isinstance(k, ast.Constant) and isinstance(k.value, str) for k in v.keys
    ):
        return [ast.keyword(arg=k.value, value=x) for k, x in zip(v.keys, v.values)]
    return None


def _calls(tree: ast.AST, mod: str | None):
    """(call, keywords, scopes) for every call in `tree`: its keywords with
    each ``**name`` of a locally built dict expanded, and the enclosing
    package functions (none outside the package), innermost first."""
    out = []

    def visit(node, body, scopes):
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            body = node
            if mod:
                defaulted = {p for p, _ in _defaulted_params(node, False)}
                scopes = [(mod, node, defaulted, _assigned_names(node))] + scopes
        elif isinstance(node, ast.Lambda) and mod:
            # a lambda's own parameters shadow the enclosing function's
            scopes = [(mod, node, set(), set())] + scopes
        if isinstance(node, ast.Call):
            keywords = []
            for k in node.keywords:
                expanded = (
                    _dict_keywords(k.value.id, body)
                    if k.arg is None and isinstance(k.value, ast.Name)
                    else None
                )
                keywords += expanded if expanded is not None else [k]
            out.append((node, keywords, scopes))
        for child in ast.iter_child_nodes(node):
            visit(child, body, scopes)

    visit(tree, tree, [])
    return out


def scan():
    """Return (defaulted, unset): all defaulted params and the unset ones,
    each as (module path relative to the package, function, parameter)."""
    # callee name -> [(slot, forwarded-from key or None)], where slot is a
    # keyword name or a position; unpacking callees may have any slot set
    evidence = defaultdict(list)
    unpacked = set()
    pkg_root = os.path.join(ROOT, PACKAGE)
    for rel in CALLER_ROOTS:
        for path in _py_files(rel):
            with open(path) as fh:
                tree = ast.parse(fh.read(), path)
            mod = os.path.relpath(path, pkg_root) if rel == PACKAGE else None
            for node, keywords, scopes in _calls(tree, mod):
                name = _callee(node)
                if name is None:
                    continue
                if any(isinstance(x, ast.Starred) for x in node.args) or any(
                    k.arg is None for k in keywords
                ):
                    unpacked.add(name)
                for i, arg in enumerate(node.args):
                    evidence[name].append((i, _forwarded_from(arg, scopes)))
                for k in keywords:
                    if k.arg:
                        evidence[name].append((k.arg, _forwarded_from(k.value, scopes)))

    params = []  # (key, position)
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
                params.append(((mod, fn.name, param), pos))

    is_set: set = set()
    changed = True
    while changed:
        changed = False
        for key, pos in params:
            if key in is_set:
                continue
            _, fn_name, param = key
            if fn_name in unpacked or any(
                slot in (param, pos) and (src is None or src in is_set)
                for slot, src in evidence[fn_name]
            ):
                is_set.add(key)
                changed = True
    defaulted = [key for key, _ in params]
    return defaulted, [key for key in defaulted if key not in is_set]


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
