"""Deterministic-sampling invariants: per-stratum rates and run-to-run
identical, leakage-free splits (SURVEY §4.3: no runtime randomness)."""

from __future__ import annotations

from pyspark.sql import functions as F

DOCS = "/root/testdata/sf0.001/documents.parquet"


def test_stratified_sample_respects_rates(spark):
    from docling_api_spark.operators.sampling import stratified_sample

    d = spark.read.parquet(DOCS)
    rates = spark.createDataFrame(
        [("src0", 0), ("src1", 10000)], "source string, rate_bp int"
    )
    kept = stratified_sample(d, rates, "source", "doc_id")
    by_src = {r["source"]: r["n"] for r in
              kept.groupBy("source").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert "src0" not in by_src  # rate 0 drops the stratum entirely
    full = d.filter(F.col("source") == "src1").count()
    assert by_src["src1"] == full  # rate 10000 keeps every row
    # strata without a rate row are dropped by the inner join (explicit mix)
    assert set(by_src) == {"src1"}


def test_group_split_leakage_free_and_deterministic(spark):
    from docling_api_spark.gen import transcripts_df
    from docling_api_spark.operators.sampling import group_split

    t = transcripts_df(spark, 400, partitions=8)
    s = group_split(t, "conv_id")
    # leakage-free: every row of a conversation gets the SAME split
    multi = (
        s.groupBy("conv_id")
        .agg(F.count_distinct("split").alias("k"))
        .filter(F.col("k") > 1)
        .count()
    )
    assert multi == 0
    # proportions hold at the GROUP grain (9000/500/500 bp over convs)
    by = {
        r["split"]: r["n"]
        for r in s.select("conv_id", "split").distinct()
        .groupBy("split").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    n_groups = sum(by.values())
    assert set(by) == {"train", "val", "test"}
    assert 0.80 * n_groups < by["train"] < 0.97 * n_groups
    assert by["val"] + by["test"] < 0.20 * n_groups
    # run-to-run identical; a different salt reassigns some groups
    again = group_split(t, "conv_id")
    assert s.exceptAll(again).count() == 0
    other = group_split(t, "conv_id", salt="v2")
    assert s.exceptAll(other).count() > 0
    # single-split degenerate case assigns everything
    all_train = group_split(t, "conv_id", splits=[("train", 10000)])
    assert all_train.filter(F.col("split") != "train").count() == 0

    import pytest as _pytest

    with _pytest.raises(ValueError, match="10000"):
        group_split(t, "conv_id", splits=[("a", 5000), ("b", 4000)])
    with _pytest.raises(ValueError, match="unique"):
        group_split(t, "conv_id", splits=[("a", 5000), ("a", 5000)])


def test_group_split_null_key_fails_loudly(spark):
    import pytest as _pytest

    from docling_api_spark.operators.sampling import group_split

    df = spark.createDataFrame(
        [("a", 1), (None, 2)], "conv_id string, v long"
    )
    with _pytest.raises(Exception, match="NULL conv_id"):
        group_split(df, "conv_id").collect()


def test_usage_rollup_exact_matches_float_semantics(spark):
    """value_decimals mode must agree with the legacy F.avg/F.sum path on
    NULL handling: avg divides by the count of NON-NULL values, an
    all-NULL group yields NULL sum/avg."""
    from docling_api_spark.operators.metering import usage_rollup

    df = spark.createDataFrame(
        [("k1", 10.00), ("k1", None), ("k1", 5.50),
         ("k2", None), ("k2", None),
         ("k3", 1.25)],
        "k string, value double",
    )
    exact = {r["k"]: r for r in usage_rollup(
        df, "k", "value", value_decimals=2).collect()}
    legacy = {r["k"]: r for r in usage_rollup(df, "k", "value").collect()}
    for k in ("k1", "k2", "k3"):
        assert exact[k]["n_requests"] == legacy[k]["n_requests"]
        for col in ("total_value", "avg_value"):
            e, l = exact[k][col], legacy[k][col]
            assert (e is None) == (l is None), (k, col)
            if e is not None:
                assert abs(e - l) < 1e-9, (k, col, e, l)
    assert exact["k1"]["avg_value"] == 7.75   # (10.00+5.50)/2, not /3
    assert exact["k2"]["total_value"] is None
    assert exact["k2"]["avg_value"] is None
