"""The query registry: one catalog, each name registered once."""

from __future__ import annotations

import pytest

from spectraplex_spark.plans import CATALOG
from spectraplex_spark.plans.registry import query


def test_duplicate_registration_raises():
    name = "registry_duplicate_probe"
    assert name not in CATALOG
    try:
        query(name, oracle=None)(lambda spark, sf_dir: None)
        first = CATALOG[name]
        with pytest.raises(ValueError, match=name):
            query(name, oracle=None)(lambda spark, sf_dir: None)
        assert CATALOG[name] is first
    finally:
        CATALOG.pop(name, None)
