"""fan_out: the single-partition-input guard for row-multiplying and
heavy-per-row operators (functions/partitioning)."""

from __future__ import annotations

from dbc_informed_socketcan_to_parquet_spark.functions.partitioning import fan_out


def test_fan_out_expands_narrow_input(spark):
    one = spark.range(100).coalesce(1)
    assert one.rdd.getNumPartitions() == 1
    fo = fan_out(one)
    assert fo.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism
    # pure repartition: row set unchanged
    assert sorted(r.id for r in fo.collect()) == list(range(100))


def test_fan_out_leaves_wide_input_untouched(spark):
    target = spark.sparkContext.defaultParallelism
    wide = spark.range(1000).repartition(target + 8)
    assert fan_out(wide) is wide


def test_fan_out_multiplier(spark):
    one = spark.range(10).coalesce(1)
    fo = fan_out(one, multiplier=2)
    assert fo.rdd.getNumPartitions() == 2 * spark.sparkContext.defaultParallelism


def test_fan_out_min_bytes_gate(spark, tmp_path):
    """The r16 light-kernel byte floor: a narrow input estimated below
    ``min_bytes`` skips the exchange; above it, the same call fans out.
    File-backed frames carry real size estimates (in-memory ranges use
    them too, via LongType sizing)."""
    path = str(tmp_path / "gate.parquet")
    spark.range(1000).selectExpr("id", "repeat('x', 64) AS text") \
        .coalesce(1).write.parquet(path)
    df = spark.read.parquet(path).coalesce(1)
    est = int(str(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()))
    assert est > 0
    # floor above the estimate: the exchange is skipped
    assert fan_out(df, min_bytes=est * 10).rdd.getNumPartitions() == 1
    # floor below the estimate: fans out as usual
    wide = fan_out(df, min_bytes=max(1, est // 10))
    assert wide.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism
    # row set unchanged either way
    assert fan_out(df, min_bytes=est * 10).count() == 1000
    # default (min_bytes=0) keeps the unconditional r15 behavior
    assert fan_out(df).rdd.getNumPartitions() == spark.sparkContext.defaultParallelism
    # force keeps its projection-barrier exchange below the floor too
    forced = fan_out(df, force=True, min_bytes=est * 10)
    assert forced.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism


def test_salted_agg_matches_plain_groupby(spark):
    from pyspark.sql import functions as F

    from dbc_informed_socketcan_to_parquet_spark.functions.partitioning import salted_agg

    # 90% of rows land on one hot key — the shape salting exists for
    df = spark.range(10_000).select(
        F.when(F.col("id") % 10 < 9, F.lit("hot")).otherwise(
            F.concat(F.lit("k"), (F.col("id") % 7).cast("string"))
        ).alias("k"),
        (F.col("id") % 1000).cast("double").alias("v"),
        F.col("id").alias("payload"),
    )
    got = salted_agg(
        df, ["k"],
        {"v_sum": ("v", "sum"), "n": ("v", "count"),
         "v_min": ("v", "min"), "v_max": ("v", "max")},
        n_salts=8,
    )
    want = df.groupBy("k").agg(
        F.sum("v").alias("v_sum"), F.count("v").alias("n"),
        F.min("v").alias("v_min"), F.max("v").alias("v_max"),
    )
    g = {r["k"]: r for r in got.collect()}
    w = {r["k"]: r for r in want.collect()}
    assert set(g) == set(w)
    for k in w:
        assert g[k]["n"] == w[k]["n"]
        assert g[k]["v_min"] == w[k]["v_min"] and g[k]["v_max"] == w[k]["v_max"]
        assert abs(g[k]["v_sum"] - w[k]["v_sum"]) < 1e-6


def test_salted_agg_is_deterministic_and_salt_bounded(spark):
    from pyspark.sql import functions as F

    from dbc_informed_socketcan_to_parquet_spark.functions.partitioning import salted_agg

    df = spark.range(1000).select(
        F.lit("only").alias("k"), F.col("id").alias("v"), F.col("id").alias("payload")
    )
    a = salted_agg(df, ["k"], {"s": ("v", "sum")}, n_salts=4).collect()
    b = salted_agg(df, ["k"], {"s": ("v", "sum")}, n_salts=4).collect()
    assert a == b and a[0]["s"] == sum(range(1000))
    # phase-1 intermediate is bounded by n_salts sub-groups per key
    salted = df.withColumn("_salt", F.pmod(F.xxhash64("v"), F.lit(4)))
    assert salted.select("_salt").distinct().count() <= 4


def test_salted_agg_rejects_non_decomposable(spark):
    import pytest as _pytest

    from dbc_informed_socketcan_to_parquet_spark.functions.partitioning import salted_agg

    df = spark.range(10).selectExpr("id as k", "id as v", "id as payload")
    with _pytest.raises(ValueError):
        salted_agg(df, ["k"], {"x": ("v", "avg")})


def test_salted_agg_default_salt_spreads_despite_constant_column(spark):
    from pyspark.sql import functions as F

    from dbc_informed_socketcan_to_parquet_spark.functions.partitioning import salted_agg

    # first non-key column constant: the multi-column default salt must
    # still spread the hot key (regression: single-column default didn't)
    df = spark.range(1000).select(
        F.lit("hot").alias("k"), F.lit("const").alias("status"), F.col("id").alias("v")
    )
    got = salted_agg(df, ["k"], {"s": ("v", "sum"), "n": ("v", "count")}, n_salts=8)
    r = got.collect()[0]
    assert r["s"] == sum(range(1000)) and r["n"] == 1000
    salted = df.withColumn("_salt", F.pmod(F.xxhash64("status", "v"), F.lit(8)))
    assert salted.select("_salt").distinct().count() > 1


def test_salted_agg_count_star_counts_nulls(spark):
    """count(col) skips NULLs (SQL semantics); count* counts every row."""
    from pyspark.sql import functions as F

    from dbc_informed_socketcan_to_parquet_spark.functions.partitioning import salted_agg

    df = spark.range(100).select(
        F.lit("hot").alias("k"),
        F.when(F.col("id") % 4 == 0, F.col("id").cast("double")).alias("v"),
        F.col("id").alias("payload"),
    )
    got = salted_agg(
        df, ["k"],
        {"n_col": ("v", "count"), "n_rows": ("v", "count*")},
        n_salts=4,
    ).collect()[0]
    assert got["n_col"] == 25   # NULL v skipped
    assert got["n_rows"] == 100  # count(*) semantics


def test_durable_checkpoint_ladder(spark, tmp_path):
    """durable_checkpoint (r13, ADVICE r12): with no checkpoint dir it
    falls back to localCheckpoint; a dir ALONE is not enough (without
    cleanCheckpoints=true reliable checkpoint files leak forever — r13
    review finding); with dir + cleaner flag the same call writes
    reliable checkpoint files (the executor-loss-safe path a
    dynamic-allocation cluster needs)."""
    import os

    from pyspark.sql import functions as F

    from dbc_informed_socketcan_to_parquet_spark.functions.checkpoints import (
        _CLEAN_CHECKPOINTS_CONF,
        durable_checkpoint,
    )

    df = spark.range(100).select(F.col("id"), (F.col("id") * 2).alias("v"))
    assert spark.sparkContext.getCheckpointDir() is None
    local = durable_checkpoint(df, eager=True)
    assert local.count() == 100
    assert spark.sparkContext.getCheckpointDir() is None  # no dir appeared

    ckpt_dir = str(tmp_path / "ckpt")
    spark.sparkContext.setCheckpointDir(ckpt_dir)
    jconf = spark.sparkContext._jsc.sc().conf()
    try:
        # dir set but cleaner off: stays on localCheckpoint (no files)
        half = durable_checkpoint(df, eager=True)
        assert half.count() == 100
        assert not [f for _r, _d, fs in os.walk(ckpt_dir) for f in fs]

        jconf.set(_CLEAN_CHECKPOINTS_CONF, "true")
        reliable = durable_checkpoint(df, eager=True)
        assert reliable.count() == 100
        found = [os.path.join(r, f) for r, _d, fs in os.walk(ckpt_dir) for f in fs]
        assert found, "reliable checkpoint wrote no files"
        assert sorted(r.id for r in reliable.collect()) == list(range(100))
        # the persist-around-checkpoint released its cache entry
        assert not reliable.storageLevel.useMemory
    finally:
        jconf.remove(_CLEAN_CHECKPOINTS_CONF)
        # restore the fixture session's no-dir state (the setter has no
        # public reset; package-private vars are public in bytecode)
        jsc = spark.sparkContext._jsc.sc()
        getattr(jsc, "checkpointDir_$eq")(
            spark.sparkContext._jvm.scala.Option.apply(None))
        assert spark.sparkContext.getCheckpointDir() is None
