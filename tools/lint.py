#!/usr/bin/env python3
"""In-container lint gate mirroring the reference CI's flake8 config
(/root/reference/.github/workflows/testing.yml:36-38 and setup.cfg:
``max-complexity = 10``, ``max-line-length = 88``): flake8 is not
installed in this container, so this is a from-scratch AST checker
enforcing the same contract — run by tests/test_meta.py so the suite
fails when a violation lands.

Checks per file:
  - parses (syntax gate — flake8's E9);
  - McCabe cyclomatic complexity <= 10 per function, with nested
    functions attributed to THEMSELVES (mccabe semantics), and an
    explicit justified waiver list for the imperative state-machine
    kernels whose sequential shape is the point (each capped at 20);
  - physical line length <= 88 (flake8's E501 at the reference bound);
  - module-level imports that are never referenced (F401), with
    re-export waivers for package __init__ surfaces;
  - every join-strategy hint (``F.broadcast(...)``,
    ``.hint("broadcast")``) carries a ``# broadcast: <reason>`` comment
    on its line or the line before (BC1). Spark's planner broadcasts
    what its size estimates show to be small; a hint is kept only to
    state a bound those estimates cannot see;
  - ``series_segments`` is named only in ``operators/grouped.py``
    (SK1): per-series kernels go through ``map_series_kernel``, so a
    second per-series mapInPandas path cannot return;
  - outside ``numeric.py``, no Holt trend step ``(1.0 - beta)``, no
    half-away rounding ``floor(<x> + 0.5)`` (math, numpy or bare;
    Spark's ``F.floor`` builds an expression) and no half-even
    ``np.round(<x>, <places>)`` (NU1): smoothers call ``holt_fold`` and
    quantizers and 6-place outputs ``round_half_away``, so a drifting
    copy or a second rounding rule cannot return;
  - outside ``functions/sketches.py``, no md5 hex parse
    ``conv(substring(<hex>, 1, 15), 16, 10)`` (HG1): the 60-bit hash
    grid is ``h60`` (``h60_sql`` as SQL text);
  - outside ``text/stats.py``, no sliding token-window expansion, a
    ``transform`` over ``sequence`` whose body slices an array, as
    Column calls or as SQL text (NG1): n-grams and shingles come from
    ``token_ngrams``;
  - in the package, outside ``operators/grouped.py``, no
    ``pd.DataFrame(...)`` call inside a function defined in another
    function, i.e. a worker kernel (PF1): kernels return columns and
    ``grouped.map_batches`` / ``columns_frame`` build the frame.

Exit 0 clean, 1 with findings on stdout.
"""

from __future__ import annotations

import ast
import os
import re
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
TARGETS = ["metevents_spark", "tools", "bench.py", "__spark_entry__.py"]
MAX_COMPLEXITY = 10
MAX_WAIVED_COMPLEXITY = 20
MAX_LINE = 88

# Imperative kernels whose complexity IS the algorithm: per-row state
# machines (streaming folds, scipy-parity peak walk, the P² marker
# update) and the two staged multi-knob entry points. Each is capped
# at MAX_WAIVED_COMPLEXITY so waived code cannot grow unbounded.
COMPLEXITY_WAIVERS = {
    ("metevents_spark/operators/peaks.py", "find_peaks"),
    ("metevents_spark/operators/storms.py", "storm_find_numpy"),
    ("metevents_spark/operators/asof.py", "asof_join"),
    ("metevents_spark/operators/intervals.py", "overlap_join"),
    ("metevents_spark/streaming/detect.py", "_p2_step"),
    ("metevents_spark/streaming/dedup.py", "fn"),  # shard/bucket folds
    ("metevents_spark/similarity/knn.py", "knn_ivf_pq"),
    ("metevents_spark/similarity/knn.py", "ann_recall_report"),
    ("metevents_spark/multimodal/media.py", "media_embedding_near_dup"),
    ("metevents_spark/text/bpe.py", "encode_word"),
    ("metevents_spark/io.py", "load_table"),
    ("metevents_spark/sources/station.py", "fetch_station_frame"),
}

# __init__.py files re-export their subpackage surface; tools scripts
# import-probe optional deps.
F401_WAIVER_SUFFIXES = ("__init__.py",)


def _complexity(fn: ast.AST) -> int:
    """McCabe count for ONE function body, not descending into nested
    function/class definitions (they are measured on their own)."""
    c = 1
    stack = list(ast.iter_child_nodes(fn))
    while stack:
        node = stack.pop()
        if isinstance(
            node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
        ):
            continue  # attributed to itself
        if isinstance(
            node,
            (
                ast.If,
                ast.For,
                ast.While,
                ast.AsyncFor,
                ast.ExceptHandler,
                ast.IfExp,
                ast.Assert,
            ),
        ):
            c += 1
        elif isinstance(node, ast.BoolOp):
            c += len(node.values) - 1
        elif isinstance(node, ast.comprehension):
            c += 1 + len(node.ifs)
        elif isinstance(node, ast.match_case):
            c += 1
        stack.extend(ast.iter_child_nodes(node))
    return c


def _unused_imports(tree: ast.Module, src: str) -> list[tuple[int, str]]:
    imported: dict[str, int] = {}
    for node in tree.body:
        if isinstance(node, ast.Import):
            for a in node.names:
                name = (a.asname or a.name).split(".")[0]
                imported[name] = node.lineno
        elif isinstance(node, ast.ImportFrom):
            for a in node.names:
                if a.name == "*":
                    continue
                imported[a.asname or a.name] = node.lineno
    if not imported:
        return []
    used: set[str] = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Name):
            used.add(node.id)
        elif isinstance(node, ast.Attribute):
            root = node
            while isinstance(root, ast.Attribute):
                root = root.value
            if isinstance(root, ast.Name):
                used.add(root.id)
    # names quoted in __all__ / docstring-level re-export intent
    for node in ast.walk(tree):
        if isinstance(node, ast.Constant) and isinstance(node.value, str):
            used.add(node.value)
    return [
        (ln, name)
        for name, ln in sorted(imported.items(), key=lambda kv: kv[1])
        if name not in used and name != "annotations"
    ]


BROADCAST_HINTS = {"broadcast", "broadcastjoin", "mapjoin"}


def _is_broadcast_hint(node: ast.Call) -> bool:
    """``F.broadcast(df)`` / ``functions.broadcast(df)`` / ``broadcast(df)``
    or ``df.hint("broadcast")`` — not ``SparkContext.broadcast(value)``."""
    fn = node.func
    if isinstance(fn, ast.Name):
        return fn.id == "broadcast"
    if not isinstance(fn, ast.Attribute):
        return False
    if fn.attr == "broadcast":
        return isinstance(fn.value, ast.Name) and fn.value.id in ("F", "functions")
    return (
        fn.attr == "hint"
        and bool(node.args)
        and isinstance(node.args[0], ast.Constant)
        and str(node.args[0].value).lower() in BROADCAST_HINTS
    )


def _unannotated_broadcasts(tree: ast.Module, lines: list[str]) -> list[int]:
    """Lines of hints with no ``# broadcast:`` on their line or the one above."""
    return sorted(
        node.lineno
        for node in ast.walk(tree)
        if isinstance(node, ast.Call)
        and _is_broadcast_hint(node)
        and "# broadcast:" not in "".join(lines[max(node.lineno - 2, 0) : node.lineno])
    )


SERIES_SPLITTER = "series_segments"
SERIES_SPLITTER_HOME = os.path.join("metevents_spark", "operators", "grouped.py")


def _series_splitter_uses(tree: ast.Module) -> list[int]:
    """Lines naming ``series_segments`` (a name, an attribute or an
    imported name)."""
    return sorted(
        node.lineno
        for node in ast.walk(tree)
        if (isinstance(node, ast.Name) and node.id == SERIES_SPLITTER)
        or (isinstance(node, ast.Attribute) and node.attr == SERIES_SPLITTER)
        or (
            isinstance(node, ast.ImportFrom)
            and any(a.name == SERIES_SPLITTER for a in node.names)
        )
    )


NUMERIC_HOME = os.path.join("metevents_spark", "numeric.py")


def _is_const(node: ast.AST, values: tuple) -> bool:
    return isinstance(node, ast.Constant) and node.value in values


def _is_np_round(node: ast.Call) -> bool:
    """``np.round`` / ``numpy.round`` with a places argument."""
    fn = node.func
    return (
        isinstance(fn, ast.Attribute)
        and fn.attr in ("round", "around")
        and isinstance(fn.value, ast.Name)
        and fn.value.id in ("np", "numpy")
        and len(node.args) + len(node.keywords) >= 2
    )


def _numeric_copies(tree: ast.Module) -> list[int]:
    """Lines of a ``1.0 - beta``, of a ``floor(<x> + 0.5)`` call that
    is not ``F.floor`` / ``functions.floor``, or of an ``np.round`` with
    places."""
    lines = set()
    for node in ast.walk(tree):
        if (
            isinstance(node, ast.BinOp)
            and isinstance(node.op, ast.Sub)
            and _is_const(node.left, (1, 1.0))
            and isinstance(node.right, ast.Name)
            and node.right.id == "beta"
        ):
            lines.add(node.lineno)
        elif isinstance(node, ast.Call) and _is_np_round(node):
            lines.add(node.lineno)
        elif isinstance(node, ast.Call) and node.args:
            fn, arg = node.func, node.args[0]
            floor = (isinstance(fn, ast.Name) and fn.id == "floor") or (
                isinstance(fn, ast.Attribute)
                and fn.attr == "floor"
                and not (
                    isinstance(fn.value, ast.Name)
                    and fn.value.id in ("F", "functions")
                )
            )
            if (
                floor
                and isinstance(arg, ast.BinOp)
                and isinstance(arg.op, ast.Add)
                and (_is_const(arg.left, (0.5,)) or _is_const(arg.right, (0.5,)))
            ):
                lines.add(node.lineno)
    return sorted(lines)


HASH_GRID_HOME = os.path.join("metevents_spark", "functions", "sketches.py")


def _called(node: ast.AST, name: str) -> bool:
    """``name(...)`` or ``<obj>.name(...)``."""
    fn = node.func if isinstance(node, ast.Call) else None
    return (isinstance(fn, ast.Name) and fn.id == name) or (
        isinstance(fn, ast.Attribute) and fn.attr == name
    )


def _is_call_of(node: ast.AST, name: str, tail: tuple) -> bool:
    """``name(<x>, *tail)`` or ``<obj>.name(<x>, *tail)`` with constant
    ``tail``."""
    return _called(node, name) and [
        getattr(a, "value", None) for a in node.args[1:]
    ] == list(tail)


def _hash_grid_copies(tree: ast.Module) -> list[int]:
    """Lines of a ``conv(substring(<hex>, 1, 15), 16, 10)`` call."""
    return sorted(
        node.lineno
        for node in ast.walk(tree)
        if _is_call_of(node, "conv", (16, 10))
        and _is_call_of(node.args[0], "substring", (1, 15))
    )


NGRAM_HOME = os.path.join("metevents_spark", "text", "stats.py")
WINDOW_SQL = re.compile(r"\btransform\s*\(\s*sequence\s*\(.*?\bslice\s*\(", re.S)


def _token_window_copies(tree: ast.Module) -> list[int]:
    """Lines of a ``transform(sequence(...), <body calling slice>)``
    call, or of a string literal holding that shape as SQL text."""
    parts = {
        id(v)
        for node in ast.walk(tree)
        if isinstance(node, ast.JoinedStr)
        for v in node.values
    }
    lines = set()
    for node in ast.walk(tree):
        if (
            _called(node, "transform")
            and len(node.args) >= 2
            and _called(node.args[0], "sequence")
            and any(_called(n, "slice") for n in ast.walk(node.args[1]))
        ):
            lines.add(node.lineno)
        elif isinstance(node, ast.JoinedStr):
            text = "".join(
                v.value if isinstance(v, ast.Constant) else "{}"
                for v in node.values
            )
            if WINDOW_SQL.search(text):
                lines.add(node.lineno)
        elif (
            isinstance(node, ast.Constant)
            and isinstance(node.value, str)
            and id(node) not in parts
            and WINDOW_SQL.search(node.value)
        ):
            lines.add(node.lineno)
    return sorted(lines)


FRAME_HOME = os.path.join("metevents_spark", "operators", "grouped.py")
FUNCTIONS = (ast.FunctionDef, ast.AsyncFunctionDef)


def _kernel_frame_builds(tree: ast.Module) -> list[int]:
    """Lines of a ``pd.DataFrame(...)`` / ``pandas.DataFrame(...)`` call
    inside a function that is defined inside another function."""
    lines = set()
    for outer in ast.walk(tree):
        if not isinstance(outer, FUNCTIONS):
            continue
        for inner in ast.walk(outer):
            if inner is outer or not isinstance(inner, FUNCTIONS):
                continue
            lines.update(
                n.lineno
                for n in ast.walk(inner)
                if isinstance(n, ast.Call)
                and isinstance(n.func, ast.Attribute)
                and n.func.attr == "DataFrame"
                and isinstance(n.func.value, ast.Name)
                and n.func.value.id in ("pd", "pandas")
            )
    return sorted(lines)


def lint_file(path: str) -> list[str]:
    rel = os.path.relpath(path, ROOT)
    src = open(path, encoding="utf-8").read()
    problems = []
    try:
        tree = ast.parse(src, filename=rel)
    except SyntaxError as e:
        return [f"{rel}:{e.lineno}: E9 syntax error: {e.msg}"]
    for i, line in enumerate(src.splitlines(), 1):
        if len(line) > MAX_LINE and "noqa" not in line:
            problems.append(
                f"{rel}:{i}: E501 line too long ({len(line)} > {MAX_LINE})"
            )
    # the complexity gate covers the LIBRARY (what the reference's
    # flake8 gate covers); tools/ and bench.py are linear drive
    # scripts whose per-query wiring branches are not library shape
    in_library = rel.startswith("metevents_spark") or rel.endswith(
        "__spark_entry__.py"
    )
    for node in ast.walk(tree):
        if in_library and isinstance(
            node, (ast.FunctionDef, ast.AsyncFunctionDef)
        ):
            c = _complexity(node)
            cap = (
                MAX_WAIVED_COMPLEXITY
                if (rel, node.name) in COMPLEXITY_WAIVERS
                else MAX_COMPLEXITY
            )
            if c > cap:
                problems.append(
                    f"{rel}:{node.lineno}: C901 '{node.name}' is too "
                    f"complex ({c} > {cap})"
                )
    lines = src.splitlines()
    for ln in _unannotated_broadcasts(tree, lines):
        problems.append(
            f"{rel}:{ln}: BC1 broadcast hint without a '# broadcast:' comment"
        )
    if rel != SERIES_SPLITTER_HOME:
        for ln in _series_splitter_uses(tree):
            problems.append(
                f"{rel}:{ln}: SK1 {SERIES_SPLITTER} outside "
                f"{SERIES_SPLITTER_HOME}; use map_series_kernel"
            )
    if rel != NUMERIC_HOME:
        for ln in _numeric_copies(tree):
            problems.append(
                f"{rel}:{ln}: NU1 Holt step or rounding copy outside "
                f"{NUMERIC_HOME}; use holt_fold / round_half_away"
            )
    if rel != HASH_GRID_HOME:
        for ln in _hash_grid_copies(tree):
            problems.append(
                f"{rel}:{ln}: HG1 md5 hex parse outside {HASH_GRID_HOME}; "
                "use h60 / h60_sql"
            )
    if rel != NGRAM_HOME:
        for ln in _token_window_copies(tree):
            problems.append(
                f"{rel}:{ln}: NG1 sliding token-window expansion outside "
                f"{NGRAM_HOME}; use token_ngrams"
            )
    if rel.startswith("metevents_spark") and rel != FRAME_HOME:
        for ln in _kernel_frame_builds(tree):
            problems.append(
                f"{rel}:{ln}: PF1 pandas frame built in a worker kernel; "
                "return columns through grouped.map_batches / columns_frame"
            )
    if not rel.endswith(F401_WAIVER_SUFFIXES):
        for ln, name in _unused_imports(tree, src):
            if ln <= len(lines) and "noqa" in lines[ln - 1]:
                continue
            problems.append(f"{rel}:{ln}: F401 '{name}' imported but unused")
    return problems


def main() -> int:
    files = []
    for t in TARGETS:
        p = os.path.join(ROOT, t)
        if os.path.isfile(p):
            files.append(p)
            continue
        for root, _, names in os.walk(p):
            files.extend(
                os.path.join(root, n) for n in names if n.endswith(".py")
            )
    problems = []
    for f in sorted(files):
        problems.extend(lint_file(f))
    for p in problems:
        print(p)
    print(f"{len(problems)} problems in {len(files)} files")
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
