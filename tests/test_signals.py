"""The operator-signal channel (sigraph_spark/signals.py): scoping of
``collect()`` records, dropped emits outside any record, and that no
operator takes a hand-threaded ``metrics`` dict instead."""

from __future__ import annotations

import importlib
import inspect
import pkgutil

import pytest

import sigraph_spark
from sigraph_spark import signals
from sigraph_spark.signals import collect, emit


def test_nested_scopes_isolate_records():
    with collect() as outer:
        emit("op", a=1)
        with collect() as inner:
            emit("op", a=2)
            emit("other", b=3)
        emit("op", c=4)
    assert inner == {"op": {"a": 2}, "other": {"b": 3}}
    # the inner emits never reach the outer record; a repeated op updates
    assert outer == {"op": {"a": 1, "c": 4}}


def test_emit_outside_any_scope_is_dropped():
    assert not signals.active()
    emit("op", a=1)
    with collect() as rec:
        assert signals.active()
    assert rec == {}
    assert not signals.active()


def test_exception_restores_outer_scope():
    with collect() as outer:
        with pytest.raises(RuntimeError):
            with collect() as inner:
                emit("op", a=1)
                raise RuntimeError("boom")
        emit("op", a=2)
    assert inner == {"op": {"a": 1}}
    assert outer == {"op": {"a": 2}}
    assert not signals.active()


def test_no_function_takes_a_metrics_parameter():
    """Signals travel through ``emit`` only: no function in the package
    grows a ``metrics`` dict parameter again."""
    offenders = []
    for info in pkgutil.walk_packages(sigraph_spark.__path__, "sigraph_spark."):
        mod = importlib.import_module(info.name)
        for name, fn in inspect.getmembers(mod, inspect.isfunction):
            if fn.__module__ == mod.__name__ and (
                "metrics" in inspect.signature(fn).parameters
            ):
                offenders.append(f"{info.name}.{name}")
    assert offenders == []


def test_run_stage_writes_build_signals_to_manifest(spark, tmp_path):
    from sigraph_spark.plans.pipeline import read_manifest, run_stage

    def build():
        emit("decide", value=7)
        return spark.range(3)

    out = str(tmp_path / "stage")
    with collect() as rec:
        run_stage(spark, "s", out, build, input_fingerprint="fp")
    assert read_manifest(out)["decide"] == {"value": 7}
    # the stage's own record is innermost: the caller's sees nothing
    assert rec == {}
