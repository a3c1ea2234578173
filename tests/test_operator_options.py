"""The package's building blocks take only the options a caller sets.

Every defaulted parameter of a public top-level function in
``functions/``, ``operators/``, ``sources/``, ``streaming/`` and
``plans/duck.py`` stays a parameter only when one of these holds:

- a package call site passes it a value other than its default (a call in
  a function body, a module-level statement or a decorator argument);
- a query states it as a number in its own call, as ``keyword_udf(8)``
  does (a call inside a ``plans/`` function, passing a numeric literal);
- it is an option of a ``REFERENCE_SURFACE`` function, which only tests
  call, and a test passes it a value other than its default;
- it is one of the ``QUERY_PARAMETERS`` named below.

A wrapper that passes on its own same-named parameter counts only when
that parameter is kept. Read from the source, so no Spark session is
needed."""

import ast
import glob
import os

ROOT = os.path.join(os.path.dirname(__file__), "..")
PKG = os.path.join(ROOT, "create_proposals_using_vector_db_public_spark")
GUARDED = ("functions", "operators", "sources", "streaming", "plans.duck")

# the reference app's surface that only tests call: their tested options stay
REFERENCE_SURFACE = {
    "operators.ingest.skip_existing_chunks",
    "operators.ingest.zero_vector_for_empty",
    "operators.ml.generate_proposal",
    "sources.binaryfile.ingest_folder",
    "streaming.ingest_stream.available_now_to_parquet",
    "streaming.ingest_stream.stream_chunks",
    "streaming.ingest_stream.stream_upsert_to_versioned",
    "streaming.ingest_stream.windowed_event_counts",
    "streaming.stateful.run_update_to_parquet",
}

# the numeric settings of the kNN and dedup queries, kept as parameters
# when their column and width options became constants
QUERY_PARAMETERS = {
    "operators.dedup.minhash_cols": ("num_hashes",),
    "operators.dedup.minhash_dedup_pairs": ("threshold",),
    "operators.dedup.winnow_dup_pairs": ("max_df", "min_shared"),
    "operators.dedup.dup_clusters": ("rounds",),
    "operators.dedup.ngram_jaccard_pairs": ("n", "block_chars"),
    "operators.dedup.simhash_dedup_pairs": ("max_hamming",),
    "operators.dedup.random_hyperplane_block": ("n_planes",),
    "operators.knn.lsh_search": ("n_planes",),
}


def _module(path: str, root: str) -> str:
    return os.path.relpath(path, root)[: -len(".py")].replace(os.sep, ".")


def _parse(root: str):
    """(module, tree) for every ``.py`` file under ``root``."""
    paths = glob.glob(os.path.join(root, "**", "*.py"), recursive=True)
    for path in sorted(paths):
        with open(path) as f:
            yield _module(path, root), ast.parse(f.read())


def _call_sites(root: str):
    """(module, enclosing top-level function or None, Call) for every call
    under ``root``. Calls in module-level statements and in decorator
    arguments have no enclosing function."""
    sites = []
    for module, tree in _parse(root):
        for node in tree.body:
            outer, body = None, [node]
            if isinstance(node, ast.FunctionDef):
                outer, body = node, node.body
                sites += [
                    (module, None, c)
                    for d in node.decorator_list
                    for c in ast.walk(d)
                    if isinstance(c, ast.Call)
                ]
            sites += [
                (module, outer, c)
                for b in body
                for c in ast.walk(b)
                if isinstance(c, ast.Call)
            ]
    return sites


def _callee(call: ast.Call) -> str | None:
    if isinstance(call.func, ast.Name):
        return call.func.id
    if isinstance(call.func, ast.Attribute):
        return call.func.attr
    return None


def _defaulted(fn: ast.FunctionDef):
    """(name, default, positional index or None) per defaulted parameter."""
    a = fn.args
    positional = a.posonlyargs + a.args
    first = len(positional) - len(a.defaults)
    out = [
        (p.arg, d, first + i)
        for i, (p, d) in enumerate(zip(positional[first:], a.defaults))
    ]
    out += [
        (p.arg, d, None)
        for p, d in zip(a.kwonlyargs, a.kw_defaults)
        if d is not None
    ]
    return out


def _passed(call: ast.Call, param: str, index: int | None):
    """The expression ``call`` passes for ``param``, or None."""
    for kw in call.keywords:
        if kw.arg == param:
            return kw.value
    if index is None or any(
        isinstance(a, ast.Starred) for a in call.args[: index + 1]
    ):
        return None
    return call.args[index] if index < len(call.args) else None


def _is_number(node) -> bool:
    return (
        isinstance(node, ast.Constant)
        and isinstance(node.value, (int, float))
        and not isinstance(node.value, bool)
    )


class _Options:
    def __init__(self):
        self.package = _call_sites(PKG)
        self.tests = _call_sites(os.path.join(ROOT, "tests"))
        self.functions = {
            (module, node.name): node
            for module, tree in _parse(PKG)
            for node in tree.body
            if isinstance(node, ast.FunctionDef)
        }

    def kept(self, qualname, fn, param, default, index, seen) -> bool:
        for module, outer, call in self.package:
            if _callee(call) != fn.name:
                continue
            value = _passed(call, param, index)
            if value is None:
                continue
            if isinstance(value, ast.Name) and value.id == param and outer:
                # a wrapper passing on its own parameter of the same name
                key = (f"{module}.{outer.name}", param)
                wrapped = [d for d in _defaulted(outer) if d[0] == param]
                if not wrapped:
                    return True  # a required parameter or a local value
                if key not in seen and self.kept(
                    key[0], outer, *wrapped[0], seen | {key}
                ):
                    return True
                continue
            if ast.dump(value) != ast.dump(default):
                return True
            if module.startswith("plans.") and outer and _is_number(value):
                return True  # a query states the setting in its own call
        return qualname in REFERENCE_SURFACE and any(
            _callee(call) == fn.name
            and (value := _passed(call, param, index)) is not None
            and ast.dump(value) != ast.dump(default)
            for _, _, call in self.tests
        )

    def unset(self) -> list[str]:
        """Every guarded defaulted parameter that no rule keeps."""
        out = []
        for (module, name), fn in sorted(self.functions.items()):
            if name.startswith("_") or not _guarded(module):
                continue
            qualname = f"{module}.{name}"
            for param, default, index in _defaulted(fn):
                if param in QUERY_PARAMETERS.get(qualname, ()):
                    continue
                key = (qualname, param)
                if not self.kept(qualname, fn, param, default, index, {key}):
                    out.append(f"{qualname}({param})")
        return out


def _guarded(module: str) -> bool:
    return any(module == g or module.startswith(g + ".") for g in GUARDED)


def test_every_operator_option_is_set_by_a_caller():
    assert _Options().unset() == []


def test_every_named_exemption_is_a_guarded_option():
    """The exemption lists name only guarded public functions, and only
    parameters those functions have with a default."""
    options = _Options()
    for qualname in REFERENCE_SURFACE | set(QUERY_PARAMETERS):
        module, name = qualname.rsplit(".", 1)
        assert _guarded(module) and not name.startswith("_"), qualname
        fn = options.functions.get((module, name))
        assert fn is not None, qualname
        defaulted = {d[0] for d in _defaulted(fn)}
        assert set(QUERY_PARAMETERS.get(qualname, ())) <= defaulted, qualname
