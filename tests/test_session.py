"""The session contract's package shipping: once per SparkContext."""

from __future__ import annotations

import tempfile

from etl_data_ingestion_spark.session import tune_session


def test_package_ships_once_per_context(spark, monkeypatch):
    """Once the package is shipped to a context, tuning more sessions
    over it (``newSession()``) stages no zip and adds no py-file: the
    flag is the context's, not the session wrapper's."""
    sc = spark.sparkContext
    tune_session(spark)
    calls = {"mkdtemp": 0, "addPyFile": 0}

    def counted(name, fn):
        def call(*args, **kwargs):
            calls[name] += 1
            return fn(*args, **kwargs)
        return call

    monkeypatch.setattr(tempfile, "mkdtemp", counted("mkdtemp", tempfile.mkdtemp))
    monkeypatch.setattr(sc, "addPyFile", counted("addPyFile", sc.addPyFile))
    for _ in range(2):
        s = tune_session(spark.newSession())
        assert s.sparkContext is sc
    assert calls == {"mkdtemp": 0, "addPyFile": 0}
