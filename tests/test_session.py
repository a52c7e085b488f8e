"""Session set-up fails loudly: the Python-worker warm-up in
engine/session.py raises instead of swallowing its error."""

from __future__ import annotations

import types

import pytest

from engine.session import _warm_python_workers


def test_warmup_failure_raises():
    """A failing warm-up job raises from _warm_python_workers (and so from
    get_spark), and the session is not marked warmed."""
    def fail(*args, **kwargs):
        raise RuntimeError("warm-up job failed")

    spark = types.SimpleNamespace(
        sparkContext=types.SimpleNamespace(defaultParallelism=2), range=fail
    )
    with pytest.raises(RuntimeError, match="warm-up job failed"):
        _warm_python_workers(spark)
    assert not getattr(spark, "_graft_warmed", False)
