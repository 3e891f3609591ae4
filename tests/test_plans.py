"""Physical-plan assertions: the optimizations we rely on at 100 TB must
be visible in `explain` output (SURVEY.md §4) — filter pushdown to
parquet, broadcast of the small join side, partial (map-side) aggregation.
"""

from pyspark.sql import functions as F


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_parquet_filter_pushdown(spark):
    df = (
        spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
        .filter(F.col("l_orderkey") == 1)
        .select("l_orderkey", "l_quantity")
    )
    plan = _plan(df)
    assert "PushedFilters" in plan
    assert "IsNotNull(l_orderkey)" in plan or "EqualTo(l_orderkey" in plan
    # column pruning: scan schema should not mention unprojected columns
    assert "l_extendedprice" not in plan.split("ReadSchema")[-1][:300]


def test_candidate_join_broadcasts_small_reference(spark):
    import pandas as pd

    from brdrq_spark.operators.candidates import candidate_pairs
    from brdrq_spark.sources.synthetic import reference_parcels, thematic_polygons

    ref = spark.createDataFrame(reference_parcels(6, 6, seed=2))
    th = spark.createDataFrame(thematic_polygons(4, 6, 6, seed=2))
    pairs = candidate_pairs(th, ref, max_rd=2.0, broadcast_ref=True)
    plan = _plan(pairs)
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan


def test_groupby_partial_aggregation(spark):
    df = (
        spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
        .groupBy("l_returnflag")
        .agg(F.sum("l_quantity").alias("s"))
    )
    plan = _plan(df)
    # two HashAggregate nodes = map-side partial + final after shuffle
    assert plan.count("HashAggregate") >= 2


def test_whole_stage_codegen_covers_relational_query(spark):
    df = (
        spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
        .filter(F.col("o_totalprice") > 100)
        .groupBy("o_orderpriority")
        .count()
    )
    df.collect()  # AQE finalizes the plan only on execution
    plan = _plan(df)
    # codegen'd spans render as "*(n) Operator" in the final plan
    assert "*(1)" in plan or "WholeStageCodegen" in plan


def test_align_kernel_exchange_is_data_sized(spark):
    """align's theme_id exchange names no partition count, so AQE sizes
    the kernel stage from the shuffle's runtime statistics: a few themes
    run a few Python tasks, not a fixed multiple of the cores."""
    from brdrq_spark.operators.align import AlignConfig, align
    from brdrq_spark.sources.synthetic import reference_parcels, thematic_polygons

    ref = spark.createDataFrame(reference_parcels(6, 6, seed=2))
    th = spark.createDataFrame(thematic_polygons(3, 6, 6, seed=2))
    out = align(spark, th, ref, AlignConfig(), broadcast_ref=True)
    assert len(out.collect()) == 3  # AQE finalizes the plan on execution
    plan = _plan(out)
    assert plan.startswith("AdaptiveSparkPlan isFinalPlan=true")
    final = plan.split("== Initial Plan ==")[0].splitlines()
    ex = [i for i, ln in enumerate(final) if "hashpartitioning(theme_id" in ln]
    assert len(ex) == 1
    assert "REPARTITION_BY_COL" in final[ex[0]], plan
    above = final[max(0, ex[0] - 3) : ex[0]]
    assert any("AQEShuffleRead" in ln and "coalesced" in ln for ln in above), plan
