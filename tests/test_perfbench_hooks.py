"""The traced benchmark (``perfbench/run.py --trace 1``) records its spans
by wrapping package functions by name (``perfbench/spans.py:
wrap_pipeline``). A package change that renames or removes one of them
breaks only the traced run, which no other test starts. This test
installs and removes the wrappers without starting Spark."""

from __future__ import annotations

import importlib.util
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _load_spans():
    spec = importlib.util.spec_from_file_location(
        "perfbench_spans", os.path.join(ROOT, "perfbench", "spans.py")
    )
    module = importlib.util.module_from_spec(spec)
    # dataclasses resolve a class's module through sys.modules
    sys.modules[spec.name] = module
    spec.loader.exec_module(module)
    return module


def test_wrap_pipeline_finds_every_hooked_name_and_unwraps():
    spans = _load_spans()
    tracer = spans.Tracer(None)
    try:
        spans.wrap_pipeline(tracer)
        hooked = list(tracer._patched)
        assert {(m.__name__.rsplit(".", 1)[-1], a) for m, a, _ in hooked} == {
            ("medallion", "write_parquet"),
            ("medallion", "write_partitioned"),
            ("medallion", "expect_all"),
            ("sinks", "upsert_partitioned"),
            ("sinks", "upsert_unpartitioned"),
            ("pipeline", "incremental_bronze"),
        }
        for module, attr, original in hooked:
            assert getattr(module, attr) is not original
            assert getattr(module, attr).__wrapped__ is original
    finally:
        tracer.unwrap_all()
    for module, attr, original in hooked:
        assert getattr(module, attr) is original
