"""Partition-shape guards for row-multiplying operators.

A small input (one parquet file, a broadcast-sized dimension) scans as a
single partition; any operator that multiplies rows downstream of it —
shingle explode (~4k rows per document), fingerprint windows, per-query
similarity fan-out — then runs on ONE core no matter how large the
cluster is.  Measured at sf0.1 on local[32]: the simhash shingle explode
alone took 5.7 s single-threaded; fanned out it takes a fraction of a
second.  The repartition cost is a shuffle of the *narrow pre-explode*
rows, trivial next to the exploded work it parallelizes.

At real scale the guard is a no-op: a 100 TB table already scans with
more partitions than ``defaultParallelism``, so ``fan_out`` never
shrinks or reshuffles it.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame

#: Byte floor for LIGHT-kernel fan_out call sites (``min_bytes=``): when
#: the narrow input's whole estimated size is below this, the operator's
#: per-byte work is too small for the round-robin exchange's FIXED cost
#: (stage scheduling + sort-before-repartition) to pay off.  Measured
#: r16 on the light sites (warc render, bigram zip, NFC normalize, PII
#: regex battery, BPE word count): skipping wins 6-28% at 0.6 MB input
#: and fanning out wins 1.2-2.5x at 5.8 MB, so any floor between those
#: separates the regimes.  1 MiB is the conservative (fan-out-leaning)
#: choice: Catalyst's column-pruned estimates run ~2x below raw file
#: bytes (the 5.8 MB fixture estimates 2.4 MB), and on a real cluster
#: the exchange's fixed cost is higher, never lower, than on local[32].
#: Heavy row-multiplying sites (shingle explodes: 2-5x win even at
#: 0.6 MB) pass no floor.  Override: ``SPARK_GRAFT_FANOUT_MIN_BYTES``.
LIGHT_KERNEL_MIN_BYTES = int(os.environ.get("SPARK_GRAFT_FANOUT_MIN_BYTES", 1 << 20))


def fan_out(
    df: DataFrame, multiplier: int = 1, force: bool = False, min_bytes: int = 0
) -> DataFrame:
    """Round-robin repartition ``df`` up to the session's default
    parallelism (× ``multiplier``) — only when it currently has fewer
    partitions.  Use immediately before explode-like operators whose
    output is orders of magnitude larger than their input.

    ``force=True`` inserts the Exchange even when the input is already
    wide (repartitioning to ``max(current, target)`` so width is never
    reduced).  Use it when the exchange is needed as a PROJECTION
    BARRIER: CollapseProject merges adjacent projections, substituting
    an expensive upstream expression (e.g. a regex-scrub chain) into
    every downstream column that references it, and codegen
    subexpression elimination cannot recover the duplicates inside
    higher-order-function lambdas.  Projections never merge across an
    Exchange, so the upstream expression materializes exactly once into
    the shuffle (measured r5: the curate prefix went 58 s → ~4 s at sf1).

    ``min_bytes`` (r16, VERDICT r15 item 4): light-kernel call sites pass
    :data:`LIGHT_KERNEL_MIN_BYTES` so a narrow input whose ESTIMATED
    size (Catalyst plan statistics — a driver-side lookup, no job) is
    below the floor skips the exchange: at that size the kernel runs
    faster single-threaded than the fixed exchange cost.  The gate is
    input-size-adaptive, not host-tuned — the same call fans out as soon
    as the input carries real bytes.  When the estimate is unavailable
    the gate fails OPEN (fans out): under-parallelizing at scale is the
    expensive mistake.  ``force=True`` skips the gate: a projection
    barrier is needed whatever the input size.

    Spark Connect exposes neither ``sparkContext`` nor ``df.rdd``, so
    the partition-count probe is impossible there; under Connect we skip
    the probe (and the ``min_bytes`` gate) and always repartition to a
    target derived from ``spark.sql.shuffle.partitions`` — an
    unconditional narrow-input shuffle is cheap relative to the exploded
    work, and correct either way.
    """
    if df.isStreaming:
        # streaming sources choose their own partitioning and a streaming
        # Dataset has no toRdd() to probe; micro-batch parallelism is the
        # source's (maxFilesPerTrigger × file splits), so the guard is a
        # no-op here — callers shared between batch and streaming (r15:
        # fan_out moved INTO the row-multiplying operators) stay safe.
        return df
    spark = df.sparkSession
    try:
        is_remote = spark.conf.get("spark.remote", None) is not None
    except Exception:
        is_remote = False
    if is_remote or not hasattr(df, "_jdf"):
        target = max(int(spark.conf.get("spark.sql.shuffle.partitions", "200")) * multiplier, 1)
        return df.repartition(target)
    sc = spark.sparkContext
    target = max(int(sc.defaultParallelism) * multiplier, 1)
    # Probe the partition count from the JVM query execution directly:
    # ``toRdd`` is a lazy val on the Dataset, so physical planning runs at
    # most once per DataFrame (and it would run at execution anyway) — no
    # Python-side RDD conversion plan is built, unlike ``df.rdd``.
    n = df._jdf.queryExecution().toRdd().getNumPartitions()
    if n < target:
        if min_bytes > 0 and not force:
            try:
                est = int(str(
                    df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
                ))
            except Exception:
                est = min_bytes  # estimate unavailable: fail open, fan out
            if est < min_bytes:
                return df
        return df.repartition(target)
    if force:
        return df.repartition(n)
    return df


def salted_agg(
    df: DataFrame,
    keys: list[str],
    aggs: dict[str, tuple[str, str]],
    n_salts: int = 16,
    salt_col: str | None = None,
) -> DataFrame:
    """Two-phase aggregation for skewed group keys.

    A ``groupBy(keys)`` shuffles every row of a hot key to ONE reduce
    task; map-side partial aggregation absorbs most of that for
    decomposable aggs, but when the partial state itself is large
    (``collect_*``, many distinct-ish columns) or the upstream stage is
    AQE-coalesced around the hot key, the single reducer still bounds
    the stage.  This splits each key into ``n_salts`` sub-keys, aggregates
    the sub-groups in parallel, then re-aggregates the (keys-cardinality
    × n_salts)-sized intermediate — each hot key's work spreads over
    ``n_salts`` tasks, and the second shuffle is tiny.

    ``aggs`` maps output column → (input column, fn) with fn in
    {sum, count, count*, min, max} — the decomposable set whose two-phase
    recombination is exact (both count forms re-combine via sum).
    ``count`` has SQL ``count(col)`` semantics — NULLs in the input
    column are NOT counted; use ``count*`` (input column ignored) for
    ``count(*)`` row counts.

    The salt is deterministic — ``xxhash64`` over ``salt_col`` (default:
    ALL non-key columns, so a single constant column can't collapse the
    spread) mod ``n_salts`` — so results are reproducible run-to-run (a
    ``rand()`` salt would not be, and this repo's oracle checks forbid
    nondeterminism).  If every non-key column is constant within the hot
    key, rows are genuinely identical and no salt can spread them —
    pass a row-unique ``salt_col`` where one exists.
    """
    from pyspark.sql import functions as F

    _FNS = {
        "sum": F.sum,
        "count": F.count,  # count(col): skips NULLs, like SQL
        "count*": lambda _c: F.count(F.lit(1)),  # count(*): every row
        "min": F.min,
        "max": F.max,
    }
    _RECOMBINE = {"sum": F.sum, "count": F.sum, "count*": F.sum, "min": F.min, "max": F.max}
    for out_col, (_, fn) in aggs.items():
        if fn not in _FNS:
            raise ValueError(f"{out_col}: {fn!r} is not two-phase decomposable")

    if salt_col is None:
        non_key = [c for c in df.columns if c not in keys]
        if not non_key:
            raise ValueError("salted_agg needs a non-key column to salt on")
        salt_cols = [F.col(c) for c in non_key]
    else:
        salt_cols = [F.col(salt_col)]
    salted = df.withColumn("_salt", F.pmod(F.xxhash64(*salt_cols), F.lit(n_salts)))

    phase1 = salted.groupBy(*keys, "_salt").agg(
        *[_FNS[fn](F.col(src)).alias(out_col) for out_col, (src, fn) in aggs.items()]
    )
    return phase1.groupBy(*keys).agg(
        *[_RECOMBINE[fn](F.col(out_col)).alias(out_col) for out_col, (_, fn) in aggs.items()]
    )
