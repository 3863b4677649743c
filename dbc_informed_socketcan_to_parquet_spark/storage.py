"""Storage layouts for recurring workloads — the write-time half of the
100 TB design.

Two levers Spark gives a curated table that a raw parquet dump lacks:

- **Hash bucketing** (``write_bucketed_table``): rows are hash-placed
  into a fixed number of buckets by key at WRITE time.  Every later
  join or aggregation on that key reads co-located data — the exchange
  disappears from the plan entirely (see
  tests/test_storage.py::test_bucketed_join_no_shuffle).  At 100 TB a
  recurring join's shuffle is usually the dominant cost; paying one
  shuffle at ingest amortizes it across every downstream run.
- **Directory partitioning** (``partition_by`` on ``write_parquet`` /
  here): low-cardinality columns (date, source, language) become
  directories; a filter on them prunes whole directories at planning
  time (``PartitionFilters`` in the scan) — the scan never opens the
  files, which is the difference between reading 100 TB and reading one
  day's slice.

Bucketed tables go through the catalog (``saveAsTable``) because bucket
metadata lives there; pass ``path`` to keep the data external.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def write_bucketed_table(
    df: DataFrame,
    name: str,
    bucket_cols: list[str],
    num_buckets: int = 32,
    sort_cols: list[str] | None = None,
    path: str | None = None,
    partition_cols: list[str] | None = None,
) -> None:
    """Persist ``df`` as a bucketed (optionally sorted, optionally
    directory-partitioned) parquet table registered as ``name``."""
    w = df.write.format("parquet").mode("overwrite")
    if partition_cols:
        w = w.partitionBy(*partition_cols)
    w = w.bucketBy(num_buckets, *bucket_cols)
    if sort_cols:
        w = w.sortBy(*sort_cols)
    if path is not None:
        w = w.option("path", path)
    w.saveAsTable(name)


def write_partitioned(
    df: DataFrame,
    path: str,
    partition_cols: list[str],
    mode: str = "overwrite",
) -> None:
    """Directory-partitioned parquet: filters on ``partition_cols`` prune
    at planning time."""
    df.write.mode(mode).partitionBy(*partition_cols).parquet(path)


def read_table(spark: SparkSession, name: str) -> DataFrame:
    return spark.table(name)


def export_training_shards(
    docs: DataFrame,
    out_dir: str,
    token_col: str,
    max_tokens: int,
    num_shards: int = 64,
    id_col: str = "doc_id",
    seed: int = 0,
    manifest_name: str = "_manifest.json",
    pack_partitions: int = 256,
) -> dict:
    """The end of the pipeline: curated documents → fixed-token-budget
    packs → deterministic epoch shuffle → ``num_shards`` parquet shards
    + a verifiable manifest.

    Composition (every stage is an existing, tested operator):
    deterministic pre-packing placement — ``pack_sequences_hashed`` packs
    the (id, tokens) projection in exactly ``pack_partitions`` hash(id)
    groups, the partitions ``repartition(pack_partitions, id)`` would
    give, so each FFD kernel sees the SAME document set whatever the
    input's parallelism was (its kernel re-sorts by (tokens desc, id) so
    within-group order is immaterial), and only non-empty groups reach
    Python → ``shuffle_deterministic`` keyed on a CONTENT-derived
    pack key (md5 of the pack's sorted doc ids, not the
    partition-ordinal ``pack_id``) into exactly ``num_shards`` hash
    shards → parquet write (one file per shard).

    The manifest records, per shard index: pack rows, documents, total
    tokens, and an order-independent content fingerprint
    (``bit_xor`` of a salted 60-bit hash of the content pack key) —
    enough for a training job to verify it read the same epoch the
    export wrote, without re-reading row contents.  Every shard index in
    ``[0, num_shards)`` appears, empty ones as explicit zero rows — a
    missing index can never be mistaken for an empty shard.  The
    manifest name is underscore-prefixed so Hadoop file listings skip it
    (like ``_SUCCESS``) and the shard dir stays cleanly re-readable as
    parquet.  Because pack membership, pack identity, and shard
    placement are all pure functions of (content, seed, the two explicit
    partition counts), a re-run with the same seed reproduces shard
    content and fingerprints EVEN IF the input DataFrame arrives with
    different partitioning (file names carry fresh task uuids; identity
    lives in the manifest fingerprints).

    Scale: two corpus-wide exchanges — the narrow (id, tokens) placement
    grouping and the epoch repartition; the manifest aggregation is
    one grouped pass whose output is ``num_shards`` driver-sized rows.
    The manifest JSON is written driver-side next to the shards
    (object-store deployments would put it behind the same committer as
    the data).
    """
    import json
    import os

    from pyspark.sql import functions as F

    from dbc_informed_socketcan_to_parquet_spark.functions.hashing import md5_long
    from dbc_informed_socketcan_to_parquet_spark.operators.sampling import (
        pack_sequences_hashed,
        shuffle_deterministic,
    )

    packs = pack_sequences_hashed(docs, token_col, max_tokens, int(pack_partitions), id_col=id_col)
    # content-derived pack identity: the partition-ordinal pack_id would
    # tie shard membership to the input partitioning (r5 ADVICE)
    packs = packs.withColumn(
        "pack_key",
        F.md5(F.concat_ws("\x1f", F.array_sort(F.col("doc_ids").cast("array<string>")))),
    )
    epoch = shuffle_deterministic(
        packs, id_col="pack_key", seed=seed, num_partitions=num_shards
    )
    epoch.write.mode("overwrite").parquet(out_dir)

    spark = docs.sparkSession
    written = (
        spark.read.parquet(out_dir)
        .withColumn(
            # anchor to the FILE BASENAME: a 'part-N' path segment higher
            # up (e.g. /data/part-3/shards) must not capture (r5 ADVICE)
            "_shard",
            F.regexp_extract(
                F.element_at(F.split(F.input_file_name(), "/"), -1),
                r"^part-(\d+)",
                1,
            ).cast("int"),
        )
        .withColumn("_fp", md5_long(F.col("pack_key"), salt="manifest"))
    )
    per_shard = (
        written.groupBy("_shard")
        .agg(
            F.count("*").alias("packs"),
            F.sum("n_docs").cast("long").alias("docs"),
            F.sum("total_tokens").cast("long").alias("tokens"),
            F.expr("bit_xor(_fp)").alias("fingerprint"),
        )
        .orderBy("_shard")
        .collect()
    )
    by_idx = {int(r["_shard"]): r for r in per_shard}
    # explicit zero rows for empty shards: len(shards) == num_shards always
    shards = {
        i: (
            {
                "packs": int(by_idx[i]["packs"]),
                "docs": int(by_idx[i]["docs"]),
                "tokens": int(by_idx[i]["tokens"]),
                "fingerprint": int(by_idx[i]["fingerprint"]),
            }
            if i in by_idx
            else {"packs": 0, "docs": 0, "tokens": 0, "fingerprint": 0}
        )
        for i in range(int(num_shards))
    }
    manifest = {
        "seed": seed,
        "num_shards": num_shards,
        "max_tokens": max_tokens,
        "total_packs": int(sum(r["packs"] for r in per_shard)),
        "total_docs": int(sum(r["docs"] for r in per_shard)),
        "total_tokens": int(sum(r["tokens"] for r in per_shard)),
        "shards": shards,
    }
    with open(os.path.join(out_dir, manifest_name), "w") as f:
        json.dump(manifest, f, indent=1, sort_keys=True)
    return manifest
