"""The traced benchmark (perfbench/) wraps engine names where their callers
look them up. A renamed or removed hook target should fail here, in seconds,
not only in the several-minute ``perfbench/smoke.py`` run."""

from __future__ import annotations

import os


def test_layers_install_and_restore(spark, monkeypatch):
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    monkeypatch.syspath_prepend(os.path.join(root, "perfbench"))
    import layers
    import tracing

    tracer = tracing.Tracer(spark)
    layers.install(tracer)
    tracer.restore()
