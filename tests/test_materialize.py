"""Fan-out caches and their scoped release (kgkit/plans/materialize.py)."""

from __future__ import annotations

import pytest


def _cache_empty(spark) -> bool:
    return spark._jsparkSession.sharedState().cacheManager().isEmpty()


class TestFanout:
    def test_fanout_outside_scope_stays_cached(self, spark):
        from kgkit.plans.materialize import fanout

        spark.catalog.clearCache()
        df = fanout(spark.range(10).selectExpr("id * 3 AS x"))
        assert df.is_cached and not _cache_empty(spark)
        df.unpersist()

    def test_released_unpersists_innermost_scope_only(self, spark):
        from kgkit.plans.materialize import fanout, released

        spark.catalog.clearCache()
        with released():
            outer = fanout(spark.range(10).selectExpr("id AS outer_x"))
            with released():
                inner = fanout(spark.range(10).selectExpr("id AS inner_x"))
                assert inner.is_cached
            assert not inner.is_cached
            assert outer.is_cached
        assert not outer.is_cached
        assert _cache_empty(spark)

    def test_released_on_error(self, spark):
        from kgkit.plans.materialize import fanout, released

        spark.catalog.clearCache()
        with pytest.raises(RuntimeError):
            with released():
                fanout(spark.range(5).selectExpr("id AS err_x"))
                raise RuntimeError("boom")
        assert _cache_empty(spark)
