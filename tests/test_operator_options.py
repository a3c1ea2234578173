"""The vector-search and dedup operators take only the column names a
caller sets: every column-name parameter of a public function in
``operators/knn.py`` and ``operators/dedup.py`` gets a value other than
its default from at least one call site in the package. Read from the
source, so no Spark session is needed."""

import ast
import glob
import os

PKG = os.path.join(
    os.path.dirname(__file__), "..", "create_proposals_using_vector_db_public_spark"
)
MODULES = ("knn", "dedup")


def _is_column_param(name: str) -> bool:
    return name.endswith("_col") or name in ("id_a", "id_b")


def _package_functions():
    """(FunctionDef, [Call, ...]) for every top-level function in the
    package, with the calls made inside it."""
    funcs = []
    for path in glob.glob(os.path.join(PKG, "**", "*.py"), recursive=True):
        with open(path) as f:
            tree = ast.parse(f.read())
        for node in tree.body:
            if isinstance(node, ast.FunctionDef):
                calls = [n for n in ast.walk(node) if isinstance(n, ast.Call)]
                funcs.append((node, calls))
    return funcs


def _callee(call: ast.Call) -> str | None:
    if isinstance(call.func, ast.Name):
        return call.func.id
    if isinstance(call.func, ast.Attribute):
        return call.func.attr
    return None


def _passed(call: ast.Call, fn: ast.FunctionDef, param: str):
    """The expression ``call`` passes for ``fn``'s ``param``, or None."""
    for kw in call.keywords:
        if kw.arg == param:
            return kw.value
    names = [a.arg for a in fn.args.args]
    i = names.index(param)
    positional = call.args
    if any(isinstance(a, ast.Starred) for a in positional[: i + 1]):
        return None
    return positional[i] if i < len(positional) else None


def _default(fn: ast.FunctionDef, param: str):
    names = [a.arg for a in fn.args.args]
    offset = len(names) - len(fn.args.defaults)
    i = names.index(param)
    return fn.args.defaults[i - offset] if i >= offset else None


def _set_by_a_caller(funcs, fn, param, seen) -> bool:
    """True when some package call of ``fn`` passes ``param`` a value
    other than its default. A wrapper that passes on its own same-named
    parameter counts only when one of ITS callers sets that parameter."""
    default = _default(fn, param)
    for outer, calls in funcs:
        for call in calls:
            if _callee(call) != fn.name:
                continue
            value = _passed(call, fn, param)
            if value is None:
                continue
            threaded = isinstance(value, ast.Name) and value.id == param
            if threaded and param in {a.arg for a in outer.args.args}:
                key = (outer.name, param)
                if key not in seen and _set_by_a_caller(
                    funcs, outer, param, seen | {key}
                ):
                    return True
                continue
            if (
                isinstance(value, ast.Constant)
                and isinstance(default, ast.Constant)
                and value.value == default.value
            ):
                continue
            return True
    return False


def test_every_operator_column_parameter_is_set_by_a_caller():
    funcs = _package_functions()
    unset = []
    for module in MODULES:
        with open(os.path.join(PKG, "operators", f"{module}.py")) as f:
            tree = ast.parse(f.read())
        for fn in tree.body:
            if not isinstance(fn, ast.FunctionDef) or fn.name.startswith("_"):
                continue
            for arg in fn.args.args:
                if _is_column_param(arg.arg) and not _set_by_a_caller(
                    funcs, fn, arg.arg, {(fn.name, arg.arg)}
                ):
                    unset.append(f"{module}.{fn.name}({arg.arg})")
    assert unset == [], f"column parameters no caller sets: {unset}"
