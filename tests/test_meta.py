"""Suite-honesty meta check: the lint gate (tools/lint.py — the
reference library's CI enforces flake8 C/E/F/W with max-complexity 10
and max-line-length 88 in its .github/workflows/testing.yml; where
flake8 is not installed, the AST checker enforces the same contract)
must be clean.
"""

from __future__ import annotations

import importlib.util
import re
import subprocess
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent


def _lint():
    """tools/lint.py as a module."""
    spec = importlib.util.spec_from_file_location("lint", REPO / "tools" / "lint.py")
    lint = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(lint)
    return lint


def test_lint_gate_clean():
    out = subprocess.run(
        [sys.executable, "tools/lint.py"],
        cwd=REPO,
        capture_output=True,
        text=True,
        timeout=120,
    )
    assert out.returncode == 0, f"lint gate failed:\n{out.stdout}"


def test_lint_flags_unannotated_broadcast_hints(tmp_path):
    """A join-strategy hint must state its reason in a ``# broadcast:``
    comment on its line or the line before; a bare one fails the gate."""
    lint = _lint()
    src = tmp_path / "hints.py"
    src.write_text(
        "from pyspark.sql import functions as F\n"
        "\n"
        "\n"
        "def f(big, small, other):\n"
        "    a = big.join(F.broadcast(small), 'k')\n"
        "    # broadcast: at most 5 query rows, estimated at the table size\n"
        "    b = big.join(F.broadcast(small), 'k')\n"
        "    c = big.join(other.hint('broadcast'), 'k')\n"
        "    return a, b, c\n"
    )
    problems = lint.lint_file(str(src))
    flagged = [int(n) for p in problems for n in re.findall(r":(\d+): BC1 ", p)]
    assert flagged == [5, 8], problems


def test_lint_flags_series_segments_outside_grouped(tmp_path):
    """Per-series kernels go through ``map_series_kernel``: naming
    ``series_segments`` anywhere but operators/grouped.py fails the gate."""
    lint = _lint()
    src = tmp_path / "fork.py"
    src.write_text(
        "from metevents_spark.operators.grouped import series_segments\n"
        "from metevents_spark.operators import grouped\n"
        "\n"
        "\n"
        "def run(batches):\n"
        "    yield from series_segments(batches)\n"
        "    yield from grouped.series_segments(batches)\n"
    )
    problems = lint.lint_file(str(src))
    flagged = [int(n) for p in problems for n in re.findall(r":(\d+): SK1 ", p)]
    assert flagged == [1, 6, 7], problems
    assert not lint.lint_file(str(REPO / lint.SERIES_SPLITTER_HOME))


def test_lint_flags_holt_and_half_away_copies_outside_numeric(tmp_path):
    """The Holt trend step and the half-away rounding live only in
    metevents_spark/numeric.py; a planted copy of either fails the gate,
    while Spark's ``F.floor`` expression does not."""
    lint = _lint()
    src = tmp_path / "copies.py"
    src.write_text(
        "import math\n"
        "\n"
        "import numpy as np\n"
        "from pyspark.sql import functions as F\n"
        "\n"
        "\n"
        "def step(x, l, b, prev, alpha, beta, v, col):\n"
        "    b = beta * (l - prev) + (1.0 - beta) * b\n"
        "    r = math.floor(v + 0.5) if v >= 0 else math.ceil(v - 0.5)\n"
        "    q = np.where(v >= 0, np.floor(v + 0.5), np.ceil(v - 0.5))\n"
        "    s = F.floor(col / 2.0 + 0.5)\n"
        "    return b, r, q, s, 1 - beta\n"
    )
    problems = lint.lint_file(str(src))
    flagged = [int(n) for p in problems for n in re.findall(r":(\d+): NU1 ", p)]
    assert flagged == [8, 9, 10, 12], problems
    assert not lint.lint_file(str(REPO / lint.NUMERIC_HOME))


def test_lint_flags_half_even_np_round_outside_numeric(tmp_path):
    """6-place outputs round with ``round_half_away`` (SQL ``ROUND``);
    a half-even ``np.round`` with places fails the gate, while a bare
    ``np.round(x)``, Python's ``round`` and Spark's ``F.round`` do
    not."""
    lint = _lint()
    src = tmp_path / "rounding.py"
    src.write_text(
        "import numpy\n"
        "import numpy as np\n"
        "from pyspark.sql import functions as F\n"
        "\n"
        "\n"
        "def out(v, col):\n"
        "    a = np.round(v, 6)\n"
        "    b = numpy.round(v, decimals=6)\n"
        "    c = np.around(v, 6)\n"
        "    return a, b, c, np.round(v), round(v, 6), F.round(col, 6)\n"
    )
    problems = lint.lint_file(str(src))
    flagged = [int(n) for p in problems for n in re.findall(r":(\d+): NU1 ", p)]
    assert flagged == [7, 8, 9], problems


def test_lint_flags_md5_hex_parse_outside_hash_grid_home(tmp_path):
    """The 60-bit md5 hash grid is ``functions.sketches.h60``: a planted
    ``conv(substring(<hex>, 1, 15), 16, 10)`` fails the gate, other hex
    slices do not."""
    lint = _lint()
    src = tmp_path / "grid.py"
    src.write_text(
        "from pyspark.sql import functions as F\n"
        "from pyspark.sql.functions import conv, substring\n"
        "\n"
        "\n"
        "def keys(hx):\n"
        "    a = F.conv(F.substring(F.md5(hx), 1, 15), 16, 10).cast('long')\n"
        "    b = conv(substring(hx, 1, 15), 16, 10)\n"
        "    c = F.conv(F.substring(hx, 17, 8), 16, 10)\n"
        "    d = F.conv(F.substring(hx, 1, 2), 16, 10)\n"
        "    return a, b, c, d\n"
    )
    problems = lint.lint_file(str(src))
    flagged = [int(n) for p in problems for n in re.findall(r":(\d+): HG1 ", p)]
    assert flagged == [6, 7], problems
    assert not lint.lint_file(str(REPO / lint.HASH_GRID_HOME))


def test_lint_flags_token_window_copies_outside_text_stats(tmp_path):
    """Sliding token windows come from ``text.stats.token_ngrams``: a
    planted ``transform`` over ``sequence`` whose body slices the token
    array fails the gate, as Column calls and as SQL text, while a
    window over single elements or a plain slice does not."""
    lint = _lint()
    src = tmp_path / "windows.py"
    src.write_text(
        "from pyspark.sql import functions as F\n"
        "\n"
        "\n"
        "def grams(n):\n"
        "    a = F.transform(\n"
        "        F.sequence(F.lit(1), F.size('t') - (n - 1)),\n"
        "        lambda i: F.array_join(F.slice('t', i, n), ' '),\n"
        "    )\n"
        "    b = F.expr(\n"
        "        f'transform(sequence(0, size(t) - {n}),'\n"
        "        f\" i -> array_join(slice(t, i + 1, {n}), ' '))\"\n"
        "    )\n"
        "    c = F.expr('transform(sequence(1, size(t)), i -> slice(t, i, 2))')\n"
        "    d = F.expr('transform(sequence(1, size(t) - 1), i -> t[i])')\n"
        "    e = F.transform(F.sequence(F.lit(1), F.size('t')), lambda i: i)\n"
        "    f = F.slice('t', 1, n)\n"
        "    return a, b, c, d, e, f\n"
    )
    problems = lint.lint_file(str(src))
    flagged = [int(n) for p in problems for n in re.findall(r":(\d+): NG1 ", p)]
    assert flagged == [5, 10, 13], problems
    assert not lint.lint_file(str(REPO / lint.NGRAM_HOME))
