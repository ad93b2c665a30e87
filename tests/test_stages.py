"""Checkpoint-resume + per-partition lineage (north rule; SURVEY §4.3.2-3)."""

from __future__ import annotations

import shutil
import tempfile

import pytest


@pytest.fixture(scope="module")
def run_dir():
    d = tempfile.mkdtemp(prefix="kgkit_stage_test_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


class TestStageRunner:
    SF = "/root/testdata/sf0.001"

    def test_first_run_executes_all(self, spark, run_dir):
        from kgkit.plans.stages import run_kg_pipeline

        spark.catalog.clearCache()
        result = run_kg_pipeline(spark, self.SF, run_dir)
        # every stage's fan-out caches are released with its run
        assert spark._jsparkSession.sharedState().cacheManager().isEmpty()
        assert result["runner"].executed == [
            "stage1_mentions", "stage2_linked", "stage3_canonical",
            "stage4_triples", "stage4b_relations",
        ]
        assert result["runner"].skipped == []
        assert result["triples"].count() > 0

    def test_resume_skips_all_and_is_identical(self, spark, run_dir):
        from kgkit.plans.stages import run_kg_pipeline

        first = run_kg_pipeline(spark, self.SF, run_dir)
        n_first = first["triples"].count()
        again = run_kg_pipeline(spark, self.SF, run_dir)
        assert again["runner"].executed == []
        assert set(again["runner"].skipped) == {
            "stage1_mentions", "stage2_linked", "stage3_canonical",
            "stage4_triples", "stage4b_relations",
        }
        assert again["triples"].count() == n_first

    def test_partial_resume(self, spark, run_dir):
        import os

        from kgkit.plans.stages import run_kg_pipeline

        # invalidate only stage4 -> stages 1-3 skip, stage4 re-executes
        shutil.rmtree(os.path.join(run_dir, "stage4_triples"))
        result = run_kg_pipeline(spark, self.SF, run_dir)
        assert result["runner"].executed == ["stage4_triples"]
        assert "stage1_mentions" in result["runner"].skipped

    def test_lineage_rows(self, spark, run_dir):
        from pyspark.sql import functions as F

        lineage = spark.read.parquet(f"{run_dir}/_lineage")
        stages = {r["stage"] for r in lineage.select("stage").distinct().collect()}
        assert stages == {
            "stage1_mentions", "stage2_linked", "stage3_canonical",
            "stage4_triples", "stage4b_relations",
        }
        row = lineage.agg(
            F.sum("rows").alias("rows"), F.min("wall_ms").alias("w")
        ).collect()[0]
        assert row["rows"] > 0 and row["w"] >= 0
        assert {f.name for f in lineage.schema.fields} == {
            "stage", "partition_id", "rows", "wall_ms"
        }

    def test_registry_rebuild_adds_no_persistent_rdd(self, spark):
        """Registry fan-outs are session-lived on purpose: building and
        executing the same query again is served from the cache the
        first build made, so it adds no persistent RDD."""
        from kgkit.queries import QUERIES

        def persistent_rdds():
            return spark.sparkContext._jsc.getPersistentRDDs().size()

        q = QUERIES["dedup_ngram_jaccard"]
        first = sorted(q(spark, self.SF).collect())
        n_rdds = persistent_rdds()
        assert sorted(q(spark, self.SF).collect()) == first
        assert persistent_rdds() <= n_rdds
