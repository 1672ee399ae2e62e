"""Construct + analyze EVERY registry key (ADVICE r9 #4): the
ambiguous-self-join tripwire, run on every test pass.

The class this guards: load_table's resolved-DataFrame memo makes repeat
loads of a table share ONE relation instance, so any future key that
joins two load_table results of the same table without .alias() hits an
ambiguous-self-join ANALYSIS error deterministically — forcing .schema
on every constructed key catches it in one pass, no execution beyond
what construction itself does (streaming e2e keys do run their drains
at construction; SF_SMOKE keeps that bounded).
"""

from __future__ import annotations

import pytest

from flink_streaming_gnn_spark import registry
from tests.conftest import SF_SMOKE


def test_every_registry_key_analyzes(spark):
    queries = registry.all_queries()
    failed = []
    for name in sorted(queries):
        try:
            df = queries[name](spark, SF_SMOKE)
            _ = df.schema  # forces analysis
        except Exception as exc:  # noqa: BLE001 — collect all failures
            failed.append(f"{name}: {type(exc).__name__}: {str(exc)[:160]}")
    assert not failed, "analysis failures:\n" + "\n".join(failed)


def test_missing_module_fails_loudly(monkeypatch):
    """A module that cannot be imported must raise, not silently drop
    its keys from the driver surface."""
    monkeypatch.setattr(
        registry, "_MODULES", (*registry._MODULES, "flink_streaming_gnn_spark.no_such_module")
    )
    with pytest.raises(ModuleNotFoundError, match="no_such_module"):
        registry.all_queries()
