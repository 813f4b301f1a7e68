"""tools/scale_evidence.py's executor-CPU reader (pure driver-side logic — no
Spark session)."""

from __future__ import annotations

import importlib.util
import os


def _scale_evidence():
    path = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "tools", "scale_evidence.py",
    )
    spec = importlib.util.spec_from_file_location("scale_evidence", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_cpu_reader_none_when_ui_off_and_delta_semantics():
    """_make_cpu_reader returns None without a UI URL (the measurement then
    records no cpu fields rather than crashing), and the per-measurement
    attribution is the sum over NEW stage ids only — old-stage eviction
    between reads must not perturb it."""
    se = _scale_evidence()

    class _SC:
        uiWebUrl = None

    class _Ctx:
        sparkContext = _SC()

    assert se._make_cpu_reader(_Ctx()) is None
    # delta semantics (the logic measure_minhash_oph applies to two reads)
    before = {(1, 0): 100, (2, 0): 50}
    after = {(2, 0): 50, (3, 0): 700, (4, 1): 300}  # stage 1 evicted; 3,4 new
    delta = sum(v for k, v in after.items() if k not in before)
    assert delta == 1000
