"""The traced benchmark (perfbench/) wraps engine names where their callers
look them up. A renamed or removed hook target should fail here, in seconds,
not only in the several-minute ``perfbench/smoke.py`` run."""

from __future__ import annotations

import importlib
import os


def test_layers_install_and_restore(spark, monkeypatch):
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    monkeypatch.syspath_prepend(os.path.join(root, "perfbench"))
    import layers
    import tracing

    tracer = tracing.Tracer(spark)
    layers.install(tracer)
    tracer.restore()


def test_chunked_replay_records_apply_and_commit_spans(spark, monkeypatch, tmp_path):
    """A catch-up chunk runs the same wrapped ``apply_epoch`` and
    ``commit_epoch`` as a single epoch, so its commit shows in
    ``lake.manifest.commit_s``."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    monkeypatch.syspath_prepend(os.path.join(root, "perfbench"))
    import layers
    import tracing

    from wage_etl_spark.sources.events import EpochSource
    from wage_etl_spark.sources.synth import synthesize_events

    # by module object: the package re-exports a function named ``replay``
    R = importlib.import_module("wage_etl_spark.streaming.replay")

    ev = synthesize_events(spark, n_events=200, n_keys=20, n_epochs=2)
    tracer = tracing.Tracer(spark)
    layers.install(tracer)
    try:
        res = R.replay(
            spark,
            R.ReplayConfig(warehouse=str(tmp_path / "wh"), num_buckets=4, catch_up_epochs=2),
            EpochSource(ev),
        )
    finally:
        tracer.restore()
    assert [r["epochs"] for r in res] == [[0, 1]]
    names = [s["name"] for s in tracer.spans]
    assert names.count("streaming.replay.apply_epoch") == 1
    assert names.count("lake.manifest.commit_epoch") == 1
