"""Deterministic splits and token-budget mixing (operators/sampling.py)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from dbc_informed_socketcan_to_parquet_spark.operators.sampling import (
    mix_corpora,
    split_by_hash,
)


def test_split_by_hash_disjoint_exhaustive_stable(spark):
    df = spark.range(5000).withColumnRenamed("id", "doc_id")
    splits = split_by_hash(df, {"train": 0.8, "val": 0.1, "test": 0.1})
    n = {k: v.count() for k, v in splits.items()}
    assert sum(n.values()) == 5000                       # exhaustive
    assert 3700 < n["train"] < 4300                      # ~80%
    # disjoint: no id in two splits
    ids_train = {r.doc_id for r in splits["train"].collect()}
    ids_val = {r.doc_id for r in splits["val"].collect()}
    assert not (ids_train & ids_val)
    # stable: same membership on recompute
    again = split_by_hash(df, {"train": 0.8, "val": 0.1, "test": 0.1})
    assert {r.doc_id for r in again["train"].collect()} == ids_train


def test_split_by_hash_rejects_bad_fractions(spark):
    df = spark.range(10).withColumnRenamed("id", "doc_id")
    with pytest.raises(ValueError):
        split_by_hash(df, {"a": 0.5, "b": 0.2})


def test_mix_corpora_token_shares(spark):
    big = spark.range(0, 20000).select(
        F.col("id").alias("doc_id"), F.lit(100).alias("n_tokens")
    )
    small = spark.range(100000, 102000).select(
        F.col("id").alias("doc_id"), F.lit(100).alias("n_tokens")
    )
    # want 50/50 by tokens: small (200k tokens) is the anchor, big sampled to ~200k
    mixed = mix_corpora([(big, 1.0), (small, 1.0)], token_col="n_tokens")
    tok = {
        r.source_id: r.t
        for r in mixed.groupBy("source_id").agg(F.sum("n_tokens").alias("t")).collect()
    }
    assert tok[1] == 200_000                              # anchor kept whole
    assert 160_000 < tok[0] < 240_000                     # ~200k ±20%
    # deterministic
    again = mix_corpora([(big, 1.0), (small, 1.0)], token_col="n_tokens")
    assert again.filter("source_id = 0").count() == mixed.filter("source_id = 0").count()


def test_mix_corpora_weights_respected(spark):
    a = spark.range(0, 10000).select(F.col("id").alias("doc_id"), F.lit(10).alias("n_tokens"))
    b = spark.range(50000, 60000).select(F.col("id").alias("doc_id"), F.lit(10).alias("n_tokens"))
    # 3:1 token budget — same capacity/weight on both? a: 100k/3, b: 100k/1 →
    # anchor is a (smaller capacity per weight); b sampled to (1/3)*100k
    mixed = mix_corpora([(a, 3.0), (b, 1.0)], token_col="n_tokens")
    tok = {
        r.source_id: r.t
        for r in mixed.groupBy("source_id").agg(F.sum("n_tokens").alias("t")).collect()
    }
    assert tok[0] == 100_000
    assert 23_000 < tok[1] < 43_000                       # ~33.3k


def test_mix_corpora_empty_source_does_not_anchor(spark):
    big = spark.range(1000).select(F.col("id").alias("doc_id"), F.lit(10).alias("n_tokens"))
    empty = big.filter("doc_id < 0")
    mixed = mix_corpora([(big, 1.0), (empty, 1.0)], token_col="n_tokens")
    assert mixed.filter("source_id = 0").count() == 1000   # big kept whole
    assert mixed.filter("source_id = 1").count() == 0


def test_leakage_safe_split_keeps_clusters_together(spark):
    from dbc_informed_socketcan_to_parquet_spark.operators.sampling import leakage_safe_split

    docs = spark.createDataFrame([(i,) for i in range(200)], "doc_id long")
    # three dup clusters; everyone else unclustered
    clusters = spark.createDataFrame(
        [(0, 0), (1, 0), (2, 0), (50, 50), (51, 50), (100, 100), (101, 100)],
        "doc_id long, cluster_id long",
    )
    out = {r.doc_id: r.split for r in leakage_safe_split(
        docs, clusters, {"train": 0.6, "val": 0.2, "test": 0.2}
    ).collect()}
    assert len(out) == 200
    assert out[0] == out[1] == out[2]        # cluster members co-assigned
    assert out[50] == out[51]
    assert out[100] == out[101]
    assert set(out.values()) <= {"train", "val", "test"}
    # deterministic across invocations
    again = {r.doc_id: r.split for r in leakage_safe_split(
        docs, clusters, {"train": 0.6, "val": 0.2, "test": 0.2}
    ).collect()}
    assert again == out


def test_contamination_check_flags_eval_overlap(spark):
    from dbc_informed_socketcan_to_parquet_spark.operators.dedup import contamination_check

    bench = "the quick brown fox jumps over the lazy dog near the river bank today"
    corpus = spark.createDataFrame(
        [
            (10, "prefix text then " + bench + " and a training suffix"),  # contains the benchmark
            (11, "completely unrelated training material about engines and parquet"),
        ],
        "doc_id long, text string",
    )
    eval_df = spark.createDataFrame([(0, bench)], "doc_id long, text string")
    got = {r.doc_id: r.n_shared for r in contamination_check(
        corpus, eval_df, shingle_n=8, min_shared=10
    ).collect()}
    assert 10 in got and got[10] >= len(bench) - 7  # every benchmark shingle shared
    assert 11 not in got


def test_pack_sequences_budget_and_coverage(spark):
    from dbc_informed_socketcan_to_parquet_spark.operators.sampling import pack_sequences

    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate([900, 500, 450, 400, 300, 120, 80, 60, 40, 2500])],
        "doc_id long, n_tokens long",
    ).coalesce(1)
    packs = pack_sequences(docs, "n_tokens", max_tokens=1000).collect()

    packed = [d for p in packs for d in p.doc_ids]
    assert sorted(packed) == list(range(10))          # every doc exactly once
    for p in packs:
        assert p.n_docs == len(p.doc_ids)
        if not p.overflow:
            assert p.total_tokens <= 1000
    over = [p for p in packs if p.overflow]
    assert len(over) == 1 and over[0].doc_ids == [9]  # 2500-token doc alone
    # FFD on one partition: 900+80, 500+450+40, 400+300+120+60 → 4 packs
    assert len(packs) == 4
    # deterministic
    again = pack_sequences(docs, "n_tokens", max_tokens=1000).collect()
    assert sorted(map(tuple, again)) == sorted(map(tuple, packs))


def test_pack_sequences_partition_local(spark):
    from dbc_informed_socketcan_to_parquet_spark.operators.sampling import pack_sequences

    docs = spark.range(1000).select(
        F.col("id").alias("doc_id"), (F.col("id") % 97 + 10).alias("n_tokens")
    ).repartition(8, "doc_id")
    packs = pack_sequences(docs, "n_tokens", max_tokens=500).collect()
    packed = sorted(d for p in packs for d in p.doc_ids)
    assert packed == list(range(1000))
    assert all(p.total_tokens <= 500 for p in packs)  # no doc exceeds budget here
    # pack ids unique, one namespace per partition
    ids = [p.pack_id for p in packs]
    assert len(ids) == len(set(ids))


def test_stratified_sample_per_group(spark):
    from dbc_informed_socketcan_to_parquet_spark.operators.sampling import stratified_sample

    docs = spark.range(4000).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") % 4 == 0, "en").when(F.col("id") % 4 == 1, "de")
        .when(F.col("id") % 4 == 2, "fr").otherwise("es").alias("lang"),
    )
    out = stratified_sample(docs, "lang", {"en": 0.25, "de": 0.75})
    counts = {r.lang: r["count"] for r in out.groupBy("lang").count().collect()}
    assert counts["fr"] == 1000 and counts["es"] == 1000     # untouched strata
    assert 150 < counts["en"] < 350                           # ≈ 250 of 1000
    assert 650 < counts["de"] < 850                           # ≈ 750 of 1000
    # deterministic membership
    again = {r.doc_id for r in stratified_sample(docs, "lang", {"en": 0.25, "de": 0.75}).collect()}
    assert again == {r.doc_id for r in out.collect()}
    # scalar form applies everywhere
    half = stratified_sample(docs, "lang", 0.5).count()
    assert 1700 < half < 2300


@pytest.mark.parametrize("seed", [0, 1, 2])
def test_pack_sequences_invariants_random(spark, seed):
    """Property check under random size mixes: exact coverage, budget
    compliance for non-overflow packs, and overflow only for singleton
    packs whose one document alone exceeds the budget."""
    import random

    from dbc_informed_socketcan_to_parquet_spark.operators.sampling import pack_sequences

    rng = random.Random(seed)
    sizes = [rng.choice([5, 37, 120, 480, 999, 1001, 2400]) for _ in range(300)]
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(sizes)], "doc_id long, n_tokens long"
    ).repartition(4)
    packs = pack_sequences(docs, "n_tokens", max_tokens=1000).collect()
    packed = sorted(d for p in packs for d in p.doc_ids)
    assert packed == list(range(300))
    for p in packs:
        if p.overflow:
            assert p.n_docs == 1 and sizes[p.doc_ids[0]] > 1000
        else:
            assert p.total_tokens <= 1000
        assert p.total_tokens == sum(sizes[d] for d in p.doc_ids)


def test_pack_sequences_null_tokens_raise(spark):
    from pyspark.errors import PythonException

    from dbc_informed_socketcan_to_parquet_spark.operators.sampling import pack_sequences

    docs = spark.createDataFrame(
        [(0, 100), (1, None), (2, 50)], "doc_id long, n_tokens long"
    ).coalesce(1)
    with pytest.raises(PythonException, match="NULL 'n_tokens'"):
        pack_sequences(docs, "n_tokens", max_tokens=1000).collect()


def test_pack_sequences_hashed_equals_repartitioned_pack(spark):
    """The hash-grouped placement gives exactly the packs (ids included)
    of pack_sequences over repartition(n, id), whatever the input's
    partitioning — string ids and a NULL id included."""
    from pyspark.errors import PythonException

    from dbc_informed_socketcan_to_parquet_spark.operators.sampling import (
        pack_sequences,
        pack_sequences_hashed,
    )

    docs = spark.createDataFrame(
        [(f"d{i}", i % 97 + 10) for i in range(600)] + [(None, 5)],
        "doc_id string, n_tokens long",
    )

    def rows(df):
        return sorted(
            (p.pack_id, tuple(p.doc_ids), p.n_docs, p.total_tokens, p.overflow)
            for p in df.collect()
        )

    want = rows(pack_sequences(docs.repartition(16, "doc_id"), "n_tokens", max_tokens=256))
    assert rows(pack_sequences_hashed(docs.repartition(5), "n_tokens", 256, 16)) == want
    assert rows(pack_sequences_hashed(docs.coalesce(1), "n_tokens", 256, 16)) == want

    bad = spark.createDataFrame([(0, 100), (1, None)], "doc_id long, n_tokens long")
    with pytest.raises(PythonException, match="NULL 'n_tokens'"):
        pack_sequences_hashed(bad, "n_tokens", 1000, 4).collect()


def test_ffd_kernel_matches_linear_scan_and_is_fast():
    """The segment-tree kernel must reproduce the r4 linear-scan FFD layout
    exactly, and beat it by ≥10× at a size where the O(n·packs) scan is
    already painful (VERDICT r4 item 3)."""
    import random
    import time

    from dbc_informed_socketcan_to_parquet_spark.operators.sampling import _ffd_assign

    def linear_scan(tokens, max_tokens):
        packs, assign = [], []
        for t in tokens:
            for i, tot in enumerate(packs):
                if tot + t <= max_tokens:
                    packs[i] += t
                    assign.append(i)
                    break
            else:
                assign.append(len(packs))
                packs.append(t)
        return assign, len(packs), packs

    rng = random.Random(99)
    for _ in range(50):
        toks = sorted((rng.randrange(1, 150) for _ in range(rng.randrange(0, 300))), reverse=True)
        mt = rng.randrange(1, 120)
        got = _ffd_assign(toks, mt)
        want = linear_scan(toks, mt)
        assert (list(got[0]), got[1], list(got[2])) == want

    toks = sorted((rng.randrange(1, 2048) for _ in range(30_000)), reverse=True)
    t0 = time.time()
    new = _ffd_assign(toks, 4096)   # n >= 4096 -> run-batched kernel
    t_new = time.time() - t0
    t0 = time.time()
    old = linear_scan(toks, 4096)
    t_old = time.time() - t0
    assert (list(map(int, new[0])), new[1], list(map(int, new[2]))) == old
    assert t_old / max(t_new, 1e-9) >= 10, f"only {t_old / t_new:.1f}x"


def test_ffd_runs_kernel_matches_scalar_kernel():
    """The r6 run-batched kernel and the r5 scalar segment-tree kernel are
    layout-identical on large mixed inputs (oversized docs, heavy value
    repetition, long tails) — the property that keeps every export
    fingerprint stable across the kernel switch."""
    import numpy as np

    from dbc_informed_socketcan_to_parquet_spark.operators.sampling import (
        _ffd_assign_runs,
        _ffd_assign_scalar,
    )

    rng = np.random.default_rng(31)
    toks = np.concatenate([
        rng.integers(5000, 9000, 25),            # oversized (own packs)
        np.repeat([4096, 2048, 1000, 999], 2000),  # heavy runs, exact fits
        rng.integers(1, 4097, 20_000),           # mixed tail
    ])
    toks = np.sort(toks)[::-1]
    a = _ffd_assign_scalar(toks, 4096)
    b = _ffd_assign_runs(toks, 4096)
    assert list(map(int, a[0])) == list(map(int, b[0]))
    assert a[1] == b[1]
    assert list(map(int, a[2])) == list(map(int, b[2]))


def test_shuffle_deterministic_reproducible_permutation(spark):
    from dbc_informed_socketcan_to_parquet_spark.operators.sampling import (
        shuffle_deterministic,
    )

    docs = spark.createDataFrame(
        [(i, f"doc number {i}") for i in range(500)], "doc_id long, text string"
    )

    def epoch(seed, parts=7):
        # per-partition sequences, exactly as a shard writer would see them
        return (
            shuffle_deterministic(docs, seed=seed, num_partitions=parts)
            .withColumn("_p", F.spark_partition_id())
            .select("_p", "doc_id")
            .rdd.mapPartitions(lambda it: [[r.doc_id for r in it]])
            .collect()
        )

    e0a, e0b, e1 = epoch(0), epoch(0), epoch(1)
    # byte-reproducible: same seed => identical shard contents AND order
    assert e0a == e0b
    # a permutation: nothing lost, nothing duplicated
    assert sorted(x for p in e0a for x in p) == list(range(500))
    assert sorted(x for p in e1 for x in p) == list(range(500))
    # a different seed is a genuinely different permutation
    assert e0a != e1
    # well mixed: consecutive source ids do not stay adjacent
    flat = [x for p in e0a for x in p]
    adjacent = sum(1 for a, b in zip(flat, flat[1:]) if abs(a - b) == 1)
    assert adjacent < 25
    # input partitioning does not leak into the output order
    repart = {
        tuple(p)
        for p in (
            shuffle_deterministic(docs.repartition(13), seed=0, num_partitions=7)
            .withColumn("_p", F.spark_partition_id())
            .select("_p", "doc_id")
            .rdd.mapPartitions(lambda it: [tuple(r.doc_id for r in it)])
            .collect()
        )
    }
    assert repart == {tuple(p) for p in e0a}


def test_chunk_documents_overlap_and_coverage(spark):
    from dbc_informed_socketcan_to_parquet_spark.operators.sampling import chunk_documents

    words = [f"w{i}" for i in range(25)]
    df = spark.createDataFrame(
        [(0, " ".join(words)), (1, "short doc"), (2, ""), (3, None)],
        "doc_id long, text string",
    )
    out = chunk_documents(df, max_tokens=10, overlap=2)
    rows = sorted(
        ((r.doc_id, r.chunk_idx, r.text, r.n_tokens) for r in out.collect())
    )
    by_doc = {}
    for d, i, t, n in rows:
        by_doc.setdefault(d, []).append((i, t, n))
    # 25 tokens, stride 8: chunks at 0..9, 8..17, 16..24, ceil((25-2)/8)=3
    assert [n for _, _, n in by_doc[0]] == [10, 10, 9]
    assert by_doc[0][0][1].split() == words[0:10]
    assert by_doc[0][1][1].split() == words[8:18]       # 2-token overlap
    assert by_doc[0][2][1].split() == words[16:25]
    # every token position covered, in order, with exact overlap
    assert by_doc[1] == [(0, "short doc", 2)]
    assert by_doc[2] == [(0, "", 0)]                    # empty: one empty chunk
    assert by_doc[3] == [(0, "", 0)]                    # NULL text too
    # overlap >= max_tokens is a config error
    import pytest as _pytest

    with _pytest.raises(ValueError, match="overlap"):
        chunk_documents(df, max_tokens=5, overlap=5)


def _py_dsir_log_weight(texts_by_id, target_ids, num_buckets, seed="dsir"):
    """Pure-python replay of importance_weights for tiny fixtures."""
    import hashlib
    import math
    import re

    def toks(t):
        return [w for w in re.split(r"[^a-z0-9']+", (t or "").lower()) if w]

    def h60(s, salt=""):
        return int(hashlib.md5(f"{salt}{s}".encode()).hexdigest()[:15], 16)

    def buckets(t):
        tk = toks(t)
        feats = tk + [f"{a} {b}" for a, b in zip(tk, tk[1:])]
        return [h60(f, salt=f"{seed}|") % num_buckets for f in feats]

    raw, tgt = {}, {}
    doc_buckets = {}
    for i, t in texts_by_id.items():
        bs = buckets(t)
        doc_buckets[i] = bs
        for b in bs:
            raw[b] = raw.get(b, 0) + 1
    for i in target_ids:
        for b in doc_buckets[i]:
            tgt[b] = tgt.get(b, 0) + 1
    rt, tt = sum(raw.values()), sum(tgt.values())
    out = {}
    for i, bs in doc_buckets.items():
        out[i] = sum(
            math.log((tgt.get(b, 0) + 1) / (tt + num_buckets))
            - math.log((raw.get(b, 0) + 1) / (rt + num_buckets))
            for b in bs
        )
    return out


def test_importance_weights_match_python_reference(spark):
    from pyspark.sql import functions as F

    from dbc_informed_socketcan_to_parquet_spark.operators.sampling import importance_weights

    texts = {
        1: "the cat sat on the mat",
        2: "the dog ran in the park",
        3: "quantum flux capacitor resonance chamber",
        4: "the cat and the dog played",
        5: "stochastic gradient descent converges slowly",
        6: "",
    }
    target_ids = [1, 4]  # cat/dog-ish target domain
    df = spark.createDataFrame(list(texts.items()), "doc_id long, text string")
    target = df.filter(F.col("doc_id").isin(target_ids))
    B = 64
    got = {r.doc_id: r for r in importance_weights(df, target, num_buckets=B).collect()}
    want = _py_dsir_log_weight(texts, target_ids, B)
    assert set(got) == set(texts)
    for i, w in want.items():
        assert got[i].log_weight == pytest.approx(w, abs=1e-9), i
    assert got[6].n_features == 0 and got[6].log_weight == 0.0
    # target-domain docs must outrank every off-domain one
    assert min(got[i].log_weight for i in (1, 4)) > max(
        got[i].log_weight for i in (2, 3, 5)
    )


def test_importance_resample_deterministic_and_proportional(spark):
    from pyspark.sql import functions as F

    from conftest import SF_SMALL

    from dbc_informed_socketcan_to_parquet_spark.operators.sampling import importance_resample

    docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet")
    target = docs.filter(F.col("lang") == "en")
    a = importance_resample(docs, target, n=25, num_buckets=1 << 12).collect()
    b = importance_resample(docs, target, n=25, num_buckets=1 << 12).collect()
    assert [r.doc_id for r in a] == [r.doc_id for r in b]   # deterministic
    assert len(a) == 25
    # keys are sorted descending (TakeOrdered contract)
    keys = [r.sample_key for r in a]
    assert keys == sorted(keys, reverse=True)
    # selection skews toward the target language
    sel_langs = [
        r.lang
        for r in docs.join(
            spark.createDataFrame([(r.doc_id,) for r in a], "doc_id long"), "doc_id"
        ).collect()
    ]
    assert sel_langs.count("en") >= len(sel_langs) * 0.5, sel_langs


def _tmix_fixture(spark):
    # three sources with 8:2:1 token mass
    rows = []
    for i in range(800):
        rows.append((i, "web", 100))
    for i in range(200):
        rows.append((10_000 + i, "books", 100))
    for i in range(100):
        rows.append((20_000 + i, "code", 100))
    return spark.createDataFrame(rows, "doc_id long, source string, n_tokens long")


def test_temperature_mix_alpha_zero_equalizes(spark):
    from dbc_informed_socketcan_to_parquet_spark.operators.sampling import temperature_mix

    docs = _tmix_fixture(spark)
    mixed = temperature_mix(docs, "n_tokens", alpha=0.0)
    kept = {r["source"]: r["n"] for r in
            mixed.groupBy("source").agg(F.count("*").alias("n")).collect()}
    # every source sampled toward the smallest source's mass (100 docs);
    # hash sampling is binomial around the target
    assert kept["code"] == 100                     # smallest kept whole
    assert 60 <= kept["web"] <= 140
    assert 60 <= kept["books"] <= 140


def test_temperature_mix_alpha_one_keeps_everything(spark):
    from dbc_informed_socketcan_to_parquet_spark.operators.sampling import temperature_mix

    docs = _tmix_fixture(spark)
    mixed = temperature_mix(docs, "n_tokens", alpha=1.0)
    # α=1 targets natural proportions — nothing needs downsampling
    assert mixed.count() == docs.count()


def test_temperature_mix_damps_head_boosts_tail_share(spark):
    from dbc_informed_socketcan_to_parquet_spark.operators.sampling import temperature_mix

    docs = _tmix_fixture(spark)
    mixed = temperature_mix(docs, "n_tokens", alpha=0.5)
    kept = {r["source"]: r["n"] for r in
            mixed.groupBy("source").agg(F.count("*").alias("n")).collect()}
    # natural web share = 8/11 = 0.73; α=0.5 target = sqrt(8)/(sqrt(8)+sqrt(2)+1)
    total = sum(kept.values())
    web_share = kept["web"] / total
    assert web_share < 0.70                        # head damped below natural
    assert kept["code"] == 100                     # tail kept whole
    # deterministic: same call -> same kept set
    again = temperature_mix(docs, "n_tokens", alpha=0.5)
    assert sorted(r["doc_id"] for r in mixed.select("doc_id").collect()) == \
           sorted(r["doc_id"] for r in again.select("doc_id").collect())


def test_temperature_mix_md5_and_xxhash_agree_on_shares(spark):
    from dbc_informed_socketcan_to_parquet_spark.operators.sampling import temperature_mix

    docs = _tmix_fixture(spark)
    a = temperature_mix(docs, "n_tokens", alpha=0.5, hash_fn="xxhash").count()
    b = temperature_mix(docs, "n_tokens", alpha=0.5, hash_fn="md5").count()
    # different hash families, same keep fractions — counts binomial-close
    assert abs(a - b) < 120


def test_importance_weights_cache_path_equivalent(spark):
    from dbc_informed_socketcan_to_parquet_spark.operators.sampling import importance_weights

    corpus = spark.createDataFrame(
        [(i, f"alpha beta doc {i} gamma") for i in range(40)], "doc_id long, text string"
    )
    target = spark.createDataFrame(
        [(900 + i, "alpha alpha beta special target phrase") for i in range(5)],
        "doc_id long, text string",
    )
    cached = importance_weights(corpus, target, cache_features=True)
    plain = importance_weights(corpus, target, cache_features=False)
    a = {r.doc_id: (r.n_features, round(r.log_weight, 9)) for r in cached.collect()}
    b = {r.doc_id: (r.n_features, round(r.log_weight, 9)) for r in plain.collect()}
    assert a == b


def test_importance_resample_releases_feature_cache(spark):
    """importance_resample owns its feature cache: after it returns, no
    persisted RDD from the call lingers in executor storage (r5 ADVICE)."""
    from dbc_informed_socketcan_to_parquet_spark.operators.sampling import importance_resample

    corpus = spark.createDataFrame(
        [(i, f"alpha beta doc {i} gamma") for i in range(60)], "doc_id long, text string"
    )
    target = spark.createDataFrame(
        [(900, "alpha alpha beta target")], "doc_id long, text string"
    )
    before = set(spark.sparkContext._jsc.getPersistentRDDs().keys())
    got = importance_resample(corpus, target, n=10, num_buckets=1 << 10)
    assert got.count() == 10
    after = set(spark.sparkContext._jsc.getPersistentRDDs().keys())
    assert after <= before, f"leaked persisted RDDs: {after - before}"


def test_temperature_mix_integer_source_column(spark):
    """A non-string source column (int domain id) round-trips through the
    broadcast fraction frame without cast or createDataFrame failure."""
    from dbc_informed_socketcan_to_parquet_spark.operators.sampling import temperature_mix

    docs = spark.createDataFrame(
        [(i, i % 3, 10 + i % 7) for i in range(300)],
        "doc_id long, source int, n_tokens long",
    )
    mixed = temperature_mix(docs, "n_tokens", alpha=0.5)
    assert dict(mixed.dtypes)["source"] == "int"
    kept = mixed.count()
    assert 0 < kept <= 300
    # alpha=1 keeps everything, whatever the source type
    assert temperature_mix(docs, "n_tokens", alpha=1.0).count() == 300


def test_select_to_token_budget_pinned(spark):
    """select_to_token_budget (r13): the kept set equals the global
    (score DESC, id ASC) running-sum prefix — crossing doc included,
    ties broken by id, edge budgets, and resolution-invariance (the
    bucketed two-phase plan computes the same answer at any
    resolution)."""
    from pyspark.sql import functions as F

    from dbc_informed_socketcan_to_parquet_spark.operators.sampling import (
        select_to_token_budget,
    )

    rows = [  # (doc_id, score, n_tokens)
        (1, 0.9, 100), (2, 0.8, 200), (3, 0.8, 150), (4, 0.5, 400),
        (5, 0.5, 50), (6, 0.1, 1000),
    ]
    df = spark.createDataFrame(rows, "doc_id long, score double, n_tokens long")

    def brute(budget):
        cum, keep = 0, []
        for d, s, t in sorted(rows, key=lambda r: (-r[1], r[0])):
            if cum < budget:
                keep.append(d)
            cum += t
        return sorted(keep)

    for budget in (1, 99, 100, 101, 300, 451, 800, 900, 5000):
        for res in (10, 10_000):
            got = sorted(r.doc_id for r in select_to_token_budget(
                df, "score", "n_tokens", budget, resolution=res).collect())
            assert got == brute(budget), (budget, res, got)
    assert select_to_token_budget(df, "score", "n_tokens", 0).count() == 0
    assert select_to_token_budget(df, "score", "n_tokens", -5).count() == 0
    # budget over the corpus keeps everything
    assert select_to_token_budget(df, "score", "n_tokens", 10**9).count() == 6
    # NULL-score docs leave the universe entirely and must not disturb
    # the boundary arithmetic when the budget exceeds the scored total
    # (r13 review finding): scored docs all kept, the null doc never
    withnull = spark.createDataFrame(
        [(1, 0.5, 60), (2, 0.5, 40), (3, None, 50)],
        "doc_id long, score double, n_tokens long",
    )
    got = sorted(r.doc_id for r in select_to_token_budget(
        withnull, "score", "n_tokens", 120).collect())
    assert got == [1, 2]
    got = sorted(r.doc_id for r in select_to_token_budget(
        withnull, "score", "n_tokens", 50).collect())
    assert got == [1]
    # NaN scores are the same bug through the other door (r14 review):
    # NaN sorts ABOVE every double in the desc window but buckets at 0
    # via the non-ANSI cast — it must leave the universe like NULL does
    withnan = spark.createDataFrame(
        [(1, 0.5, 60), (2, 0.5, 40), (3, float("nan"), 50)],
        "doc_id long, score double, n_tokens long",
    )
    for budget, want in ((120, [1, 2]), (50, [1])):
        got = sorted(r.doc_id for r in select_to_token_budget(
            withnan, "score", "n_tokens", budget).collect())
        assert got == want, (budget, got)
    # all full doc columns survive selection
    wide = df.withColumn("text", F.lit("payload"))
    kept = select_to_token_budget(wide, "score", "n_tokens", 300)
    assert set(kept.columns) == {"doc_id", "score", "n_tokens", "text"}


def test_select_to_token_budget_by_group_pinned(spark):
    """Per-group budgets (r14): each group independently keeps its
    (score DESC, id ASC) prefix to ITS budget; groups missing from the
    map, NULL groups, NULL/NaN scores, and non-positive budgets drop."""
    from dbc_informed_socketcan_to_parquet_spark.operators.sampling import (
        select_to_token_budget_by_group,
    )

    rows = [  # (doc_id, lang, score, n_tokens)
        (1, "en", 0.9, 100), (2, "en", 0.8, 200), (3, "en", 0.5, 400),
        (4, "de", 0.7, 50), (5, "de", 0.6, 50), (6, "de", 0.4, 50),
        (7, "fr", 0.9, 10),
        (8, None, 0.9, 10), (9, "en", None, 10), (10, "de", float("nan"), 10),
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, lang string, score double, n_tokens long")
    got = sorted(
        r.doc_id
        for r in select_to_token_budget_by_group(
            df, "score", "n_tokens",
            {"en": 150, "de": 100, "fr": 0, "zz": 500}, "lang",
        ).collect()
    )
    # en: 100 then crossing doc 2; de: 50 + crossing 5; fr budget 0;
    # zz has no docs; 8/9/10 invalid
    assert got == [1, 2, 4, 5]
    # single-int budget applies to every group present
    got = sorted(
        r.doc_id for r in select_to_token_budget_by_group(
            df, "score", "n_tokens", 60, "lang").collect())
    assert got == [1, 4, 5, 7]
    # full input columns survive
    kept = select_to_token_budget_by_group(
        df, "score", "n_tokens", {"en": 150}, "lang")
    assert set(kept.columns) == {"doc_id", "lang", "score", "n_tokens"}


def test_select_to_token_budget_by_group_randomized(spark):
    """300 seeded random docs over 4 groups: the two-phase per-group
    plan == per-group brute force at two resolutions, with score ties."""
    import random

    from dbc_informed_socketcan_to_parquet_spark.operators.sampling import (
        select_to_token_budget_by_group,
    )

    rng = random.Random(7)
    langs = ["en", "de", "fr", "ja"]
    rows = [(i, rng.choice(langs),
             round(rng.choice([0.1, 0.25, 0.5, 0.5, 0.77, 0.9]), 6),
             rng.randrange(1, 300)) for i in range(300)]
    df = spark.createDataFrame(
        rows, "doc_id long, lang string, score double, n_tokens long")
    budgets = {"en": 2000, "de": 500, "fr": 10_000_000, "ja": 1}

    def brute():
        keep = []
        for g, budget in budgets.items():
            cum = 0
            for d, _, s, t in sorted(
                (r for r in rows if r[1] == g), key=lambda r: (-r[2], r[0])
            ):
                if cum < budget:
                    keep.append(d)
                cum += t
        return sorted(keep)

    want = brute()
    for res in (4, 10_000):
        got = sorted(r.doc_id for r in select_to_token_budget_by_group(
            df, "score", "n_tokens", budgets, "lang", resolution=res).collect())
        assert got == want, res


def test_select_to_token_budget_by_group_typed_keys(spark):
    """r15 (VERDICT r14 item 6): the budget table's key is cast to the
    INPUT group column's type before the join — int and string group
    columns both match brute force exactly, with no reliance on
    implicit string casts (a float group like 1.5 must not silently
    mis-join)."""
    from dbc_informed_socketcan_to_parquet_spark.operators.sampling import (
        select_to_token_budget_by_group,
    )

    def brute(rows, budgets):
        keep = []
        for g, budget in budgets.items():
            cum = 0
            for d, _, s, t in sorted(
                (r for r in rows if r[1] == g), key=lambda r: (-r[2], r[0])
            ):
                if cum < budget:
                    keep.append(d)
                cum += t
        return sorted(keep)

    # int group column (source ids)
    int_rows = [(1, 10, 0.9, 100), (2, 10, 0.8, 200), (3, 10, 0.5, 400),
                (4, 20, 0.7, 50), (5, 20, 0.6, 50), (6, 30, 0.9, 10)]
    df_i = spark.createDataFrame(
        int_rows, "doc_id long, src int, score double, n_tokens long")
    budgets_i = {10: 150, 20: 60, 30: 0}
    got = sorted(r.doc_id for r in select_to_token_budget_by_group(
        df_i, "score", "n_tokens", budgets_i, "src").collect())
    assert got == brute(int_rows, budgets_i) == [1, 2, 4, 5]
    # the budget key column is typed to the input column, not string
    joined = select_to_token_budget_by_group(
        df_i, "score", "n_tokens", budgets_i, "src")
    assert dict(joined.dtypes)["src"] == "int"

    # float group column: key "1.5" must match group 1.5 exactly
    flt_rows = [(1, 1.5, 0.9, 10), (2, 1.5, 0.8, 10), (3, 2.5, 0.9, 10)]
    df_f = spark.createDataFrame(
        flt_rows, "doc_id long, grp double, score double, n_tokens long")
    got = sorted(r.doc_id for r in select_to_token_budget_by_group(
        df_f, "score", "n_tokens", {1.5: 15, 2.5: 5}, "grp").collect())
    assert got == brute(flt_rows, {1.5: 15, 2.5: 5}) == [1, 2, 3]

    # a key that cannot parse as the column's type matches nothing
    got = sorted(r.doc_id for r in select_to_token_budget_by_group(
        df_i, "score", "n_tokens", {"oops": 100, 20: 60}, "src").collect())
    assert got == [4, 5]


def test_select_by_group_composes_with_fertility_budgets(spark):
    """The production composition (r14): per-language budgets derived
    from the corpus's own token totals (the shape fertility_mix's
    per-language est_tokens feeds) drive the per-group selection — each
    language keeps ~the budgeted fraction of its tokens, never crossing
    by more than one document."""
    import random

    from pyspark.sql import functions as F

    from dbc_informed_socketcan_to_parquet_spark.operators.sampling import (
        select_to_token_budget_by_group,
    )

    rng = random.Random(11)
    rows = [(i, rng.choice(["en", "de", "zh"]),
             round(rng.random(), 6), rng.randrange(20, 200))
            for i in range(120)]
    df = spark.createDataFrame(
        rows, "doc_id long, lang string, score double, n_tokens long")
    # groups-sized aggregate -> budget map (what fertility_mix's
    # est_tokens per language provides in the real pipeline)
    totals = {r.lang: r.t for r in
              df.groupBy("lang").agg(F.sum("n_tokens").alias("t")).collect()}
    budgets = {g: int(0.4 * t) for g, t in totals.items()}
    kept = select_to_token_budget_by_group(
        df, "score", "n_tokens", budgets, "lang")
    kept_tok = {r.lang: r.t for r in
                kept.groupBy("lang").agg(F.sum("n_tokens").alias("t")).collect()}
    max_doc = {g: max(r[3] for r in rows if r[1] == g) for g in totals}
    for g, b in budgets.items():
        assert b <= kept_tok[g] < b + max_doc[g], (g, b, kept_tok[g])


def test_select_to_token_budget_randomized(spark):
    """200 seeded random docs: two-phase answer == brute force at two
    resolutions, including heavy score ties."""
    import random

    from dbc_informed_socketcan_to_parquet_spark.operators.sampling import (
        select_to_token_budget,
    )

    rng = random.Random(42)
    rows = [(i, round(rng.choice([0.1, 0.25, 0.5, 0.5, 0.77, 0.9]), 6),
             rng.randrange(1, 500)) for i in range(200)]
    df = spark.createDataFrame(rows, "doc_id long, score double, n_tokens long")
    total = sum(t for _, _, t in rows)

    def brute(budget):
        cum, keep = 0, []
        for d, s, t in sorted(rows, key=lambda r: (-r[1], r[0])):
            if cum < budget:
                keep.append(d)
            cum += t
        return sorted(keep)

    for budget in (1, total // 7, total // 2, total - 1, total + 10):
        for res in (4, 10_000):
            got = sorted(r.doc_id for r in select_to_token_budget(
                df, "score", "n_tokens", budget, resolution=res).collect())
            assert got == brute(budget), (budget, res)
