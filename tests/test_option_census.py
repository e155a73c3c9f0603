"""Every defaulted library parameter has a caller that sets it.

A default that no call site ever overrides is a constant with an option's
cost: each one doubles the configurations no test covers.  This walks the
package's ASTs and fails on any defaulted parameter that no caller passes,
by name or by position.  Callers are every call site in the package,
``tests/``, ``perfbench/``, ``tools/``, ``bench.py`` and
``__spark_entry__.py``.

Calls resolve by the callee's bare name (``f(...)``, ``obj.f(...)``,
``functools.partial(f, ...)``; ``Cls(...)`` for ``Cls.__init__``), so two
functions sharing a name share their callers: the census can miss an unset
option, never invent one.  A call that forwards its own ``**kwargs`` passes
whatever that function's callers pass by name; any other ``**mapping`` or
``*args`` counts as passing everything it could reach.
"""

from __future__ import annotations

import ast
from collections import defaultdict
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
PACKAGE = ROOT / "data_quality_monitoring_spark"
CALLER_FILES = [
    *sorted(PACKAGE.rglob("*.py")),
    *sorted((ROOT / "tests").rglob("*.py")),
    *sorted((ROOT / "perfbench").rglob("*.py")),
    *sorted((ROOT / "tools").rglob("*.py")),
    ROOT / "bench.py",
    ROOT / "__spark_entry__.py",
]

# "<module path>::<qualname>(<param>)" entries that may stay unset
ALLOWED: set[str] = set()

ANY = float("inf")


def _defaulted_params(path: Path):
    """(qualname, name, class name or None, param, position or None) per
    defaulted parameter; the position skips ``self``/``cls`` and is None
    for keyword-only parameters."""
    out = []

    def visit(node, scope, cls):
        for ch in ast.iter_child_nodes(node):
            if isinstance(ch, ast.ClassDef):
                visit(ch, [*scope, ch.name], ch.name)
            elif isinstance(ch, (ast.FunctionDef, ast.AsyncFunctionDef)):
                a = ch.args
                pos = a.posonlyargs + a.args
                static = any(getattr(d, "id", None) == "staticmethod" for d in ch.decorator_list)
                shift = 1 if cls and not static else 0
                qual = ".".join([*scope, ch.name])
                first_default = len(pos) - len(a.defaults)
                for i, p in enumerate(pos[first_default:], first_default):
                    out.append((qual, ch.name, cls, p.arg, i - shift))
                for p, d in zip(a.kwonlyargs, a.kw_defaults):
                    if d is not None:
                        out.append((qual, ch.name, cls, p.arg, None))
                visit(ch, [*scope, ch.name], None)
            else:
                visit(ch, scope, cls)

    visit(ast.parse(path.read_text()), [], None)
    return out


def _callee(func) -> str | None:
    if isinstance(func, ast.Name):
        return func.id
    if isinstance(func, ast.Attribute):
        return func.attr
    return None


def _calls():
    """callee name -> [(n positional, keyword names, forwarded-from)], where
    forwarded-from is the enclosing function's name when the call passes
    that function's own ``**kwargs``, and ``"*"`` for any other mapping."""
    calls = defaultdict(list)

    def visit(node, enclosing):
        for ch in ast.iter_child_nodes(node):
            if isinstance(ch, ast.Call):
                name, args = _callee(ch.func), ch.args
                if name == "partial" and args:
                    name, args = _callee(args[0]), args[1:]
                if name:
                    npos = ANY if any(isinstance(a, ast.Starred) for a in args) else len(args)
                    fwd = None
                    for k in ch.keywords:
                        if k.arg is None:
                            own = enclosing.args.kwarg if enclosing else None
                            if own and isinstance(k.value, ast.Name) and k.value.id == own.arg:
                                fwd = enclosing.name
                            else:
                                fwd = "*"
                    calls[name].append((npos, {k.arg for k in ch.keywords if k.arg}, fwd))
            inner = ch if isinstance(ch, (ast.FunctionDef, ast.AsyncFunctionDef)) else enclosing
            visit(ch, inner)

    for path in CALLER_FILES:
        visit(ast.parse(path.read_text()), None)
    return calls


def _is_passed(calls, name, cls, param, pos, seen=()) -> bool:
    sites = list(calls.get(name, []))
    if name == "__init__" and cls:
        sites += calls.get(cls, [])
    for npos, kws, fwd in sites:
        if param in kws or fwd == "*" or (pos is not None and npos > pos):
            return True
        if fwd and fwd not in seen and _is_passed(calls, fwd, None, param, None, (*seen, fwd)):
            return True
    return False


def unset_options() -> list[str]:
    calls = _calls()
    found = []
    for path in sorted(PACKAGE.rglob("*.py")):
        rel = path.relative_to(ROOT).as_posix()
        for qual, name, cls, param, pos in _defaulted_params(path):
            if not _is_passed(calls, name, cls, param, pos):
                found.append(f"{rel}::{qual}({param})")
    return found


def test_every_defaulted_parameter_has_a_caller():
    unset = [o for o in unset_options() if o not in ALLOWED]
    assert not unset, (
        "defaulted parameters no caller sets — make each a constant:\n  "
        + "\n  ".join(unset)
    )

