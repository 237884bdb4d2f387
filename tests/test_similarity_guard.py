"""The ANN tiers in operators/similarity.py do each job once: probes
rank through `_probe_sets`, every driver-side fit draws its sample
through `_training_sample`, and `build_ivfpq_index` has one code-mode
knob, `mode`.  A copy of any of them fails here."""

from __future__ import annotations

import inspect
import re
from pathlib import Path

import data_integration_system_spark

_SIM = Path(data_integration_system_spark.__file__).parent / "operators/similarity.py"
_CROSSJOIN_PROBES = re.compile(r"crossJoin\(F\.broadcast\(cent\)\)")
_SAMPLE_STRIDE = re.compile(r'F\.pmod\(F\.xxhash64\("vec_id"\), F\.lit\(stride\)\)')


def _lines(pat: re.Pattern, path: Path) -> list[str]:
    return [
        f"{path.name}:{i}: {line.strip()}"
        for i, line in enumerate(path.read_text().splitlines(), 1)
        if pat.search(line)
    ]


def test_similarity_jobs_live_in_one_place():
    from data_integration_system_spark.operators import similarity

    assert not _lines(_CROSSJOIN_PROBES, _SIM), "rank probes with _probe_sets"
    assert len(_lines(_SAMPLE_STRIDE, _SIM)) <= 1, _lines(_SAMPLE_STRIDE, _SIM)
    params = inspect.signature(similarity.build_ivfpq_index).parameters
    assert not {"residual", "opq"} & set(params), list(params)


def test_guard_patterns_match_their_remaining_home():
    """The patterns are live: the crossJoin probe ranking survives as the
    parity reference in tests/test_scale_patterns.py, the sample stride
    in _training_sample, and the code mode as `mode="flat"`."""
    from data_integration_system_spark.operators import similarity

    reference = Path(__file__).parent / "test_scale_patterns.py"
    assert _lines(_CROSSJOIN_PROBES, reference)
    assert _SAMPLE_STRIDE.search(inspect.getsource(similarity._training_sample))
    assert len(_lines(_SAMPLE_STRIDE, _SIM)) == 1
    mode = inspect.signature(similarity.build_ivfpq_index).parameters["mode"]
    assert mode.default == "flat"
