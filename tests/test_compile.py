"""Every tracked Python file compiles with warnings raised as errors.

An invalid escape sequence in a non-raw string (``"\\p{L}"`` in a
docstring or an SQL literal) is a DeprecationWarning on Python 3.11, a
SyntaxWarning on 3.12 and slated to become an error; this test fails on
it instead of letting every run print the warning.
"""

from __future__ import annotations

import subprocess
import warnings
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]


def _python_files():
    try:
        out = subprocess.run(
            ["git", "ls-files", "*.py"], cwd=REPO, capture_output=True,
            text=True, check=True,
        ).stdout.split()
    except (OSError, subprocess.CalledProcessError):
        out = []
    if out:
        return [REPO / p for p in out]
    # not a git checkout: every .py outside hidden and build directories
    return [
        p for p in REPO.rglob("*.py")
        if not any(
            part.startswith(".") or part in ("dist", "__pycache__")
            for part in p.relative_to(REPO).parts
        )
    ]


def test_every_python_file_compiles_without_warnings():
    files = _python_files()
    assert files
    failures = []
    for path in files:
        with warnings.catch_warnings():
            warnings.simplefilter("error")
            try:
                compile(path.read_bytes(), str(path), "exec")
            except (SyntaxError, Warning) as e:
                failures.append(f"{path.relative_to(REPO)}: {e}")
    assert not failures, "\n".join(failures)
