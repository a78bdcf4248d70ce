"""Registry integrity: the driver's correctness gate records the first
50 entries of ``all_queries()``, which are exactly ``GATE_ORDER``.
A query module that fails to import makes ``all_queries()`` raise — a
silent import failure would shrink both the gate and the oracle test
with no signal."""

import sys

import pytest

from photon_ml_spark.queries import GATE_ORDER, QUERY_REGISTRY, all_queries


def test_gate_order_fully_registered():
    qs = all_queries()
    missing = [n for n in GATE_ORDER if n not in qs]
    assert not missing, (
        f"GATE_ORDER names missing from the registry (query module "
        f"failed to import?): {missing}"
    )
    # the registry is exactly the gate window: suites compose their
    # constituents directly, so nothing else registers
    assert list(qs) == GATE_ORDER
    assert sorted(QUERY_REGISTRY) == sorted(GATE_ORDER)


def test_gate_order_has_no_duplicates_and_fits_window():
    assert len(GATE_ORDER) == len(set(GATE_ORDER))
    assert len(GATE_ORDER) <= 50  # the driver records the first 50 rows


def test_every_registered_query_has_a_runner():
    for name, spec in all_queries().items():
        assert callable(spec.run), name


def test_query_module_import_failure_is_loud(monkeypatch):
    # None in sys.modules makes the next import of that module fail
    monkeypatch.setitem(sys.modules, "photon_ml_spark.queries_ml", None)
    with pytest.raises(ImportError, match="queries_ml"):
        all_queries()
