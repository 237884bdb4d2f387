"""The session conf is process-global: a helper that sets it around a
call races every other thread reading it.  Outside session.py (which
configures a fresh session) the package keeps one such window,
index_manifest._relation_df's discovery-threshold raise; any new
``conf.set(`` fails here."""

from __future__ import annotations

import ast
from pathlib import Path

import data_integration_system_spark

_PKG = Path(data_integration_system_spark.__file__).parent
_ALLOWED_FUNCS = {"pipeline/index_manifest.py": "_relation_df"}


def _func_lines(path: Path, name: str) -> range:
    for node in ast.walk(ast.parse(path.read_text())):
        if isinstance(node, ast.FunctionDef) and node.name == name:
            return range(node.lineno, node.end_lineno + 1)
    raise AssertionError(f"{name} not found in {path}")


def test_no_session_conf_set_outside_allowed_windows():
    offenders = []
    for path in sorted(_PKG.rglob("*.py")):
        rel = path.relative_to(_PKG).as_posix()
        if rel == "session.py":
            continue
        allowed = (
            _func_lines(path, _ALLOWED_FUNCS[rel])
            if rel in _ALLOWED_FUNCS
            else range(0)
        )
        for i, line in enumerate(path.read_text().splitlines(), 1):
            if "conf.set(" in line and i not in allowed:
                offenders.append(f"{rel}:{i}: {line.strip()}")
    assert not offenders, offenders
