"""The lineage statements against their earlier Column-API formulation,
frozen here as the reference: the same column names, types and rows for
both lineage tables of run_pipeline on corrupt pages, with and without
dedup_kernel_inputs."""

import pytest
from pyspark.sql import functions as F

from xrenner_spark.catalog import Catalog
from xrenner_spark.pipeline import lineage_of, run_pipeline


def _reference_lineage(stage_df, stage):
    if "row_type" in stage_df.columns:  # long-format kernel output
        aggs = [
            F.sum(F.when(F.col("row_type") == "d", 1).otherwise(0))
            .alias("rows_out"),
            F.min("url").alias("url_min"),
            F.max("url").alias("url_max"),
            F.sum("kernel_ms").alias("wall_ms"),
            F.sum(F.when(F.col("row_type") == "m", 1).otherwise(0))
            .alias("mentions_out"),
            F.sum(F.when(F.col("error") != "", 1).otherwise(0)).alias("errors"),
        ]
        return (stage_df.groupBy("part_id").agg(*aggs)
                .withColumn("stage", F.lit(stage)))
    aggs = [
        F.count("*").alias("rows_out"),
        F.min("url").alias("url_min"),
        F.max("url").alias("url_max"),
    ]
    if "byte_identical" in stage_df.columns:
        aggs += [F.sum(F.when(~F.col("byte_identical"), 1).otherwise(0))
                 .alias("invariant_violations")]
    return (stage_df.groupBy("part_id")
            .agg(*aggs)
            .withColumn("stage", F.lit(stage)))


def _rows(df):
    """Rows by part_id; ``wall_ms`` (a double sum, whose last bits follow
    the order partial sums are merged in) as pytest.approx."""
    rows = []
    for r in sorted(df.collect(), key=lambda r: r.part_id):
        d = r.asDict()
        if "wall_ms" in d:
            d["wall_ms"] = pytest.approx(d["wall_ms"], rel=1e-9)
        rows.append(d)
    return rows


@pytest.mark.parametrize("dedup", [False, True], ids=["plain", "dedup"])
def test_lineage_matches_reference(spark, corrupt_pages, tmp_path, dedup):
    pages, _ = corrupt_pages(n=12)
    # a second copy of every page, so dedup has analyses to reuse
    pages = pages.unionByName(
        pages.withColumn("url", F.concat(F.lit("copy-"), F.col("url"))))
    wh = str(tmp_path / "wh")
    run_pipeline(spark, pages, wh, partitions=4, dedup_kernel_inputs=dedup)
    cat = Catalog(spark, wh)
    for stage in ("extract", "kernel"):
        stage_df = cat.read("stage_" + stage)
        new, ref = lineage_of(stage_df, stage), _reference_lineage(stage_df, stage)
        assert new.columns == ref.columns
        assert [f.dataType for f in new.schema] == [f.dataType for f in ref.schema]
        want = _rows(ref)
        assert _rows(new) == want
        assert _rows(cat.lineage(stage)) == want
        assert sum(r["rows_out"] for r in want) == 24
