"""The benchmark's tracer wraps engine functions by name
(``perfbench/tracing.py``): installing and uninstalling it here makes a
rename that would break a traced benchmark run fail the suite instead."""

from __future__ import annotations

import importlib.util
from pathlib import Path

TRACING = Path(__file__).resolve().parents[1] / "perfbench" / "tracing.py"


def _tracing():
    spec = importlib.util.spec_from_file_location("perfbench_tracing", TRACING)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_tracer_installs_on_every_named_function_and_uninstalls():
    tracing = _tracing()

    def bound():
        out = {}
        for mod, attr, _ in tracing.FUNCTIONS + tracing.QUERIES:
            m = importlib.import_module(f"{tracing.PKG}.{mod}")
            out[(mod, attr)] = m.__dict__[attr]
        for mod, cls, attr, _ in tracing.METHODS + tracing.STATICS:
            c = getattr(importlib.import_module(f"{tracing.PKG}.{mod}"), cls)
            out[(mod, cls, attr)] = c.__dict__[attr]
        return out

    before = bound()
    tracer = tracing.Tracer()
    tracer.install()
    try:
        during = bound()
        assert all(during[k] is not before[k] for k in before)
    finally:
        tracer.uninstall()
    assert bound() == before
