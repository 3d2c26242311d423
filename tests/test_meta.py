"""Suite-honesty meta check: the lint gate (tools/lint.py — the
reference library's CI enforces flake8 C/E/F/W with max-complexity 10
and max-line-length 88 in its .github/workflows/testing.yml; where
flake8 is not installed, the AST checker enforces the same contract)
must be clean.
"""

from __future__ import annotations

import subprocess
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent


def test_lint_gate_clean():
    out = subprocess.run(
        [sys.executable, "tools/lint.py"],
        cwd=REPO,
        capture_output=True,
        text=True,
        timeout=120,
    )
    assert out.returncode == 0, f"lint gate failed:\n{out.stdout}"
