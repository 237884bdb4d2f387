"""Every streaming snapshot query replays its fixture through
``streaming.jobs._replay``, the one owner of the temp root, the file
stream, the trigger and the drain.  A ``*_snapshot`` function that
creates a temp dir, opens a ``readStream`` or sets a ``.trigger(`` itself
grows a second copy of that lifecycle: it fails here."""

from __future__ import annotations

import ast
from pathlib import Path

import data_integration_system_spark

_JOBS = Path(data_integration_system_spark.__file__).parent / "streaming/jobs.py"
_LIFECYCLE = {"mkdtemp", "readStream", "trigger"}


def _lifecycle_uses(fn: ast.FunctionDef) -> list[str]:
    return [
        f"{fn.name}:{node.lineno}: {name}"
        for node in ast.walk(fn)
        for name in [getattr(node, "attr", None) or getattr(node, "id", None)]
        if isinstance(node, (ast.Attribute, ast.Name)) and name in _LIFECYCLE
    ]


def test_snapshots_replay_only_through_replay():
    funcs = {
        n.name: n
        for n in ast.parse(_JOBS.read_text()).body
        if isinstance(n, ast.FunctionDef)
    }
    snapshots = [f for name, f in funcs.items() if name.endswith("_snapshot")]
    assert len(snapshots) == 14
    offenders = [use for fn in snapshots for use in _lifecycle_uses(fn)]
    assert not offenders, offenders
    # the guard looks for the names the lifecycle really uses
    assert {u.rsplit(" ", 1)[1] for u in _lifecycle_uses(funcs["_replay"])} == (
        _LIFECYCLE
    )
