"""Deterministic sampling for training-data assembly: hash splits and
token-budget corpus mixing.

Both are built on content-independent ``xxhash64(id, salt)`` bucketing
rather than ``rand()``: the assignment of a document to train/val or to
a mix is then a pure function of its id — stable across runs, executors,
retries, and re-partitioning, which is what makes a data recipe
reproducible.  (``df.sample``/``rand()`` reshuffle membership every run
unless a seed AND a stable partitioning are both pinned.)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def _unit_hash(id_col: str, salt: str) -> F.Column:
    """Deterministic uniform [0, 1) value per id."""
    h = F.xxhash64(F.col(id_col).cast("string"), F.lit(salt))
    # shift to non-negative 53-bit so the double division is exact
    return (F.shiftrightunsigned(h, 11).cast("double") / F.lit(float(1 << 53)))


def split_by_hash(
    df: DataFrame,
    fractions: dict[str, float],
    id_col: str = "doc_id",
    salt: str = "split",
) -> dict[str, DataFrame]:
    """Disjoint deterministic splits, e.g. ``{"train": .98, "val": .01,
    "test": .01}`` — every id lands in exactly one split, always the same
    one.  One narrow filter per split; no shuffle, no action."""
    total = sum(fractions.values())
    if not 0.999 <= total <= 1.001:
        raise ValueError(f"fractions must sum to 1, got {total}")
    u = _unit_hash(id_col, salt)
    out, lo = {}, 0.0
    items = list(fractions.items())
    for i, (name, frac) in enumerate(items):
        hi = 1.0 if i == len(items) - 1 else lo + frac
        out[name] = df.filter((u >= F.lit(lo)) & (u < F.lit(hi)))
        lo = hi
    return out


def mix_corpora(
    sources: list[tuple[DataFrame, float]],
    token_col: str,
    id_col: str = "doc_id",
    salt: str = "mix",
    hash_fn: str = "xxhash",
) -> DataFrame:
    """Sample each corpus down so its share of total TOKENS matches its
    weight, then union — the "data recipe" step of a training pipeline.

    For weights w_i and source token counts t_i the mix is anchored to
    the non-empty source with the smallest tokens-per-weight capacity
    (kept whole); every other source is hash-sampled to
    ``(w_i / w_anchor) * t_anchor`` tokens.  All token counts come from
    ONE Spark job (union → groupBy source), then pure filters —
    deterministic via the same id-hash as :func:`split_by_hash`.

    Empty sources pass through empty (they must not anchor the mix —
    one transient empty shard would otherwise sample everything to 0).

    A ``source_id`` column (the list index) is added for provenance.

    ``hash_fn``: "xxhash" (default, single JVM intrinsic) or "md5"
    (bit-replayable in DuckDB via ``md5_long_sql`` — the oracle-parity
    path; same uniformity, slower).
    """
    if not sources:
        raise ValueError("mix_corpora needs at least one source")
    if hash_fn not in ("xxhash", "md5"):
        raise ValueError(f"hash_fn must be 'xxhash' or 'md5', got {hash_fn!r}")
    weights = [w for _, w in sources]
    if any(w <= 0 for w in weights):
        raise ValueError("weights must be positive")

    # one job for every count: tag + union the token column only
    tagged = None
    for i, (df, _) in enumerate(sources):
        part = df.select(F.lit(i).alias("source_id"), F.col(token_col))
        tagged = part if tagged is None else tagged.unionByName(part)
    by_source = {
        r["source_id"]: (r["t"] or 0)
        for r in tagged.groupBy("source_id").agg(F.sum(token_col).alias("t")).collect()
    }
    counts = [by_source.get(i, 0) for i in range(len(sources))]

    # anchor = non-empty source with the smallest tokens-per-weight capacity
    candidates = [i for i, t in enumerate(counts) if t > 0]
    if not candidates:
        anchor_capacity = 0.0
    else:
        anchor = min(candidates, key=lambda i: counts[i] / weights[i])
        anchor_capacity = counts[anchor] / weights[anchor]

    if hash_fn == "md5":
        from dbc_informed_socketcan_to_parquet_spark.functions.hashing import md5_long

        def unit(id_col: str, salt: str) -> F.Column:
            return md5_long(F.col(id_col), salt=salt) / F.lit(float(1 << 60))
    else:
        unit = _unit_hash

    parts = []
    for i, ((df, w), t) in enumerate(zip(sources, counts)):
        target = anchor_capacity * w
        frac = 1.0 if t == 0 else min(1.0, target / t)
        part = df if frac >= 1.0 else df.filter(unit(id_col, salt) < F.lit(frac))
        parts.append(part.withColumn("source_id", F.lit(i)))
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def assign_split(
    df: DataFrame,
    fractions: dict[str, float],
    key_col: str,
    salt: str = "split",
    hash_fn=None,
) -> F.Column:
    """Deterministic split LABEL column from a hash of ``key_col`` —
    the labeled-column form of :func:`split_by_hash` (one output with a
    ``split`` column instead of N filtered frames).  ``hash_fn`` defaults
    to the xxhash production path; pass
    ``functions.hashing.md5_long`` for cross-engine oracle parity
    (md5's 60-bit value / 2^60 is the same double in any engine)."""
    total = sum(fractions.values())
    if not 0.999 <= total <= 1.001:
        raise ValueError(f"fractions must sum to 1, got {total}")
    if hash_fn is None:
        u = _unit_hash(key_col, salt)
    else:
        u = hash_fn(F.col(key_col), salt=salt).cast("double") / F.lit(float(1 << 60))
    items = list(fractions.items())
    expr, lo = None, 0.0
    for name, frac in items[:-1]:
        hi = lo + frac
        cond = u < F.lit(hi)
        expr = F.when(cond, name) if expr is None else expr.when(cond, name)
        lo = hi
    last = items[-1][0]
    return (F.lit(last) if expr is None else expr.otherwise(last)).alias("split")


def leakage_safe_split(
    docs: DataFrame,
    clusters: DataFrame,
    fractions: dict[str, float],
    id_col: str = "doc_id",
    salt: str = "split",
    hash_fn=None,
) -> DataFrame:
    """Train/val/test assignment that cannot leak near-duplicates across
    splits: the split key is the document's near-dup CLUSTER representative
    (``operators/dedup.minhash_star_clusters`` output), so every member of
    a duplicate cluster lands in the SAME split — a per-document hash
    split would put a train doc's twin into test and contaminate eval.

    ``clusters`` is (doc_id, cluster_id); unclustered documents split by
    their own id.  Output: (id_col, split).  Scale: one join against the
    (smaller) cluster table + a narrow hash — no extra shuffle beyond the
    join."""
    c = clusters.withColumnRenamed("doc_id", id_col) if id_col != "doc_id" else clusters
    joined = docs.select(id_col).join(c, id_col, "left")
    keyed = joined.select(
        F.col(id_col),
        F.coalesce(F.col("cluster_id"), F.col(id_col)).alias("_split_key"),
    )
    return keyed.select(
        F.col(id_col),
        assign_split(keyed, fractions, "_split_key", salt=salt, hash_fn=hash_fn),
    )


def pack_sequences(
    df: DataFrame,
    token_col: str,
    max_tokens: int,
    id_col: str = "doc_id",
) -> DataFrame:
    """Token-budget sequence packing: group documents into training
    sequences whose token sum stays ≤ ``max_tokens`` — the batching step
    that turns a curated corpus into fixed-budget training rows.

    Strategy: PARTITION-LOCAL first-fit-decreasing.  Globally optimal
    bin packing needs all sizes in one place (NP-hard and a shuffle of
    the whole corpus); packing within each partition is the standard
    at-scale compromise — waste is bounded by the per-partition tail,
    and the operator is embarrassingly parallel with zero shuffle.
    Within a partition documents are packed largest-first (FFD) with a
    deterministic (tokens desc, id asc) order, so the result depends
    only on the partitioning, not on row arrival order.  A document
    larger than ``max_tokens`` gets its own (oversized) pack — flagged
    via ``overflow`` rather than dropped, so token accounting stays
    lossless.

    A NULL token count is a contract violation (token accounting must be
    lossless) — the kernel raises ``ValueError`` naming the offending ids
    instead of silently dropping the rows.

    Output: one row per pack —
    ``(pack_id string, doc_ids array, n_docs int, total_tokens long,
    overflow boolean)``; ``pack_id`` is ``{partition}-{index}``, unique
    across the corpus.
    """
    import pandas as pd

    from pyspark import TaskContext

    out_schema = _pack_schema(df, id_col, max_tokens)

    def kernel(batches):
        rows = [pdf[[id_col, token_col]] for pdf in batches]
        if rows:
            yield _ffd_packs(
                pd.concat(rows, ignore_index=True), TaskContext.get().partitionId(),
                id_col, token_col, max_tokens,
            )

    return df.select(id_col, token_col).mapInPandas(kernel, out_schema)


def pack_sequences_hashed(
    df: DataFrame,
    token_col: str,
    max_tokens: int,
    num_groups: int,
    id_col: str = "doc_id",
) -> DataFrame:
    """:func:`pack_sequences` over a content-derived placement: documents
    are grouped by ``pmod(hash(id), num_groups)`` — exactly the partition
    ``repartition(num_groups, id)`` would give them — and each group is
    packed as one partition with that group index as its partition id.
    The packs are therefore identical to ``pack_sequences`` over that
    repartition, whatever the input's parallelism, but only non-empty
    groups reach Python and many groups share one task, so a small input
    no longer pays for ``num_groups`` mostly empty Python tasks.
    """
    out_schema = _pack_schema(df, id_col, max_tokens)

    def kernel(key, pdf):
        return _ffd_packs(pdf[[id_col, token_col]], int(key[0]), id_col, token_col, max_tokens)

    return (
        df.select(
            id_col, token_col,
            F.pmod(F.hash(F.col(id_col)), F.lit(int(num_groups))).alias("_pack_group"),
        )
        .groupBy("_pack_group")
        .applyInPandas(kernel, out_schema)
    )


def _pack_schema(df: DataFrame, id_col: str, max_tokens: int) -> str:
    if max_tokens <= 0:
        raise ValueError("max_tokens must be positive")
    id_type = df.schema[id_col].dataType.simpleString()
    return (
        f"pack_id string, doc_ids array<{id_type}>, n_docs int, "
        f"total_tokens long, overflow boolean"
    )


def _ffd_packs(rows, pid: int, id_col: str, token_col: str, max_tokens: int):
    """FFD-pack one partition's ``(id, tokens)`` pandas frame into the
    :func:`pack_sequences` output rows, pack ids ``{pid}-{index}``."""
    import pandas as pd

    null_mask = rows[token_col].isna()
    if null_mask.any():
        bad = rows.loc[null_mask, id_col].head(5).tolist()
        raise ValueError(
            f"pack_sequences: {int(null_mask.sum())} document(s) have NULL "
            f"{token_col!r} (first ids: {bad}) — token accounting would be "
            "lossy; fill or filter them explicitly upstream"
        )
    rows = rows.sort_values([token_col, id_col], ascending=[False, True], kind="stable")
    tokens = rows[token_col].to_numpy(dtype="int64")
    assign, n_packs, totals = _ffd_assign(tokens, max_tokens)
    ids_by_pack: list[list] = [[] for _ in range(n_packs)]
    for doc_id, p in zip(rows[id_col].tolist(), assign):
        ids_by_pack[p].append(doc_id)
    return pd.DataFrame(
        {
            "pack_id": [f"{pid}-{i}" for i in range(n_packs)],
            "doc_ids": ids_by_pack,
            "n_docs": [len(ids) for ids in ids_by_pack],
            "total_tokens": totals[:n_packs],
            "overflow": [t > max_tokens for t in totals[:n_packs]],
        }
    )


def _ffd_assign(tokens, max_tokens: int):
    """Exact first-fit-decreasing assignment for ``tokens`` already sorted
    descending: returns ``(assign, n_packs, totals)`` — ``assign[i]`` is
    the pack index (creation order) of document i.  Layout identical to
    the r4 linear scan by construction (pytest-pinned against it).

    Two kernels, same output: the per-item segment-tree descent
    (:func:`_ffd_assign_scalar`, O(log n) per item) for small inputs,
    and the RUN-BATCHED kernel (:func:`_ffd_assign_runs`) above 4096
    items — the r6 microbench found the scalar loop at ~145k docs/s on
    10M docs/partition (BASELINE.md), below the ~1M docs/s bar VERDICT
    r5 set, and numba isn't in the container, so the batching exploits
    FFD structure instead: items of EQUAL size consume the leftmost
    eligible pack exhaustively before moving right (residuals only
    shrink, so the eligible set is monotone within a run), which turns a
    run of k equal-sized docs into a handful of absorption events plus
    one arithmetic batch of fresh packs — and sizes ≤ max_tokens can
    only form ≤ max_tokens distinct runs.
    """
    if len(tokens) < 4096:
        return _ffd_assign_scalar(tokens, max_tokens)
    return _ffd_assign_runs(tokens, max_tokens)


def _ffd_assign_scalar(tokens, max_tokens: int):
    """Per-item segment-tree FFD (see :func:`_ffd_assign`): "first pack
    that fits" is a leftmost-leaf-with-residual-≥-t descent; an oversized
    document (t > max_tokens) opens its own pack with residual 0, so
    nothing joins it — the flagged-overflow semantics."""
    n = len(tokens)
    if n == 0:
        return [], 0, []
    size = 1
    while size < n:
        size *= 2
    tree = [0] * (2 * size)  # max residual under each node; leaves = packs
    assign = [0] * n
    totals: list[int] = []
    n_packs = 0
    for i in range(n):
        t = int(tokens[i])
        if t <= max_tokens and tree[1] >= t:
            # descend to the LEFTMOST leaf with residual >= t
            j = 1
            while j < size:
                j *= 2
                if tree[j] < t:
                    j += 1
            p = j - size
            totals[p] += t
            r = tree[j] - t
        else:
            p = n_packs
            n_packs += 1
            totals.append(t)
            j = size + p
            r = max_tokens - t if t <= max_tokens else 0
        assign[i] = p
        tree[j] = r
        j //= 2
        while j:
            tree[j] = max(tree[2 * j], tree[2 * j + 1])
            j //= 2
    return assign, n_packs, totals


def _bulk_pullup(tree, size: int, lo: int, hi: int) -> None:
    """Recompute internal max-residual nodes above the contiguous leaf
    range [lo, hi) in one vectorized pass per level (new packs are always
    appended as a contiguous leaf block)."""
    import numpy as np

    a, b = lo + size, hi + size
    while a > 1:
        a //= 2
        b = (b + 1) // 2
        if b <= a:
            b = a + 1
        np.maximum(tree[2 * a:2 * b:2], tree[2 * a + 1:2 * b:2], out=tree[a:b])


def _ffd_assign_runs(tokens, max_tokens: int):
    """Run-batched exact FFD (see :func:`_ffd_assign`): oversized docs are
    a vectorized prefix; each equal-size run drains leftmost-eligible
    packs via amortized tree descents (one per absorbing pack, each
    absorbing ``residual // t`` docs at once), then opens
    ``ceil(k / (C // t))`` fresh packs arithmetically with one bulk tree
    pull-up.  Everything per-item is a numpy fill/repeat."""
    import numpy as np

    toks = np.asarray(tokens, dtype=np.int64)
    n = len(toks)
    C = int(max_tokens)
    size = 1
    while size < n:
        size *= 2
    tree = np.zeros(2 * size, dtype=np.int64)
    assign = np.empty(n, dtype=np.int64)
    totals = np.zeros(n, dtype=np.int64)

    # oversized prefix (sorted descending): one flagged pack each, residual 0
    n_over = int(np.searchsorted(-toks, -C, side="left"))
    assign[:n_over] = np.arange(n_over)
    totals[:n_over] = toks[:n_over]
    n_packs = n_over

    rest = toks[n_over:]
    if len(rest):
        change = np.flatnonzero(np.diff(rest)) + 1
        starts = np.concatenate(([0], change))
        ends = np.concatenate((change, [len(rest)]))
        for s, e in zip(starts.tolist(), ends.tolist()):
            t = int(rest[s])
            k = e - s
            idx = n_over + s
            # drain existing eligible packs, leftmost first
            while k > 0 and tree[1] >= t:
                j = 1
                while j < size:
                    j *= 2
                    if tree[j] < t:
                        j += 1
                p = j - size
                m = int(tree[j]) // t
                if m > k:
                    m = k
                totals[p] += m * t
                tree[j] -= m * t
                jj = j // 2
                while jj:
                    v = tree[2 * jj] if tree[2 * jj] >= tree[2 * jj + 1] else tree[2 * jj + 1]
                    if tree[jj] == v:
                        break
                    tree[jj] = v
                    jj //= 2
                assign[idx:idx + m] = p
                idx += m
                k -= m
            if k > 0:
                per = C // t
                n_new = -(-k // per)
                reps = np.full(n_new, per, dtype=np.int64)
                reps[-1] = k - per * (n_new - 1)
                pidx = np.arange(n_packs, n_packs + n_new)
                assign[idx:n_over + e] = np.repeat(pidx, reps)
                totals[pidx] = reps * t
                tree[size + n_packs:size + n_packs + n_new] = C - reps * t
                _bulk_pullup(tree, size, n_packs, n_packs + n_new)
                n_packs += n_new
    return assign, int(n_packs), totals[:n_packs]


def stratified_sample(
    df: DataFrame,
    group_col: str,
    fractions: dict[str, float] | float,
    id_col: str = "doc_id",
    salt: str = "strat",
) -> DataFrame:
    """Deterministic per-group sampling: keep a hash-stable fraction of
    each stratum (language, source, quality band …) — the standard
    rebalancing step when one group dominates a corpus.

    ``fractions`` is either one fraction for every group or a
    {group: fraction} map (groups absent from the map are KEPT whole —
    sampling is an explicit opt-in per stratum).  Membership is the same
    id-hash device as :func:`split_by_hash`: stable across runs,
    executors, and repartitioning, and independent per salt.  Pure
    narrow filter — no shuffle, no per-group job.
    """
    u = _unit_hash(id_col, salt)
    if isinstance(fractions, dict):
        bad = {g: f for g, f in fractions.items() if not 0.0 <= f <= 1.0}
        if bad:
            raise ValueError(f"fractions must be in [0, 1], got {bad}")
        expr = F.lit(1.0)
        for g, f in fractions.items():
            expr = F.when(F.col(group_col) == g, F.lit(float(f))).otherwise(expr)
    else:
        if not 0.0 <= fractions <= 1.0:
            raise ValueError(f"fraction must be in [0, 1], got {fractions}")
        expr = F.lit(float(fractions))
    return df.filter(u < expr)


def shuffle_deterministic(
    df: DataFrame,
    id_col: str = "doc_id",
    seed: int = 0,
    num_partitions: int = 256,
) -> DataFrame:
    """Deterministic global shuffle for training-data export: order the
    corpus by a seeded hash of the id so examples are (a) well mixed —
    adjacent source rows land far apart, every output shard is an
    unbiased corpus sample — and (b) byte-reproducible across runs,
    cluster sizes, and input partitionings (unlike ``orderBy(rand())``).

    One repartition on the hash key + a partition-local sort: shards are
    independent, so at 100 TB each writes in parallel and a re-run with
    the same seed reproduces the epoch exactly; a different seed is a
    fresh permutation.  The id tiebreak makes the order total even under
    hash collisions.

    ``num_partitions`` is an EXPLICIT, fixed shard count — it is part of
    the reproducibility contract (shard membership = hash(key) mod
    count).  Deriving it from ``spark.sql.shuffle.partitions`` or AQE
    would make the epoch layout depend on session config and cluster
    size, which is exactly what this operator exists to prevent.
    """
    key = F.conv(
        F.substring(F.md5(F.concat(F.lit(f"shuffle{seed}|"), F.col(id_col).cast("string"))), 1, 15),
        16, 10,
    ).cast("long")
    return (
        df.withColumn("_shuffle_key", key)
        .repartition(num_partitions, "_shuffle_key")
        .sortWithinPartitions("_shuffle_key", id_col)
        .drop("_shuffle_key")
    )


def chunk_documents(
    df: DataFrame,
    max_tokens: int,
    overlap: int = 0,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Split long documents into ≤ ``max_tokens``-token chunks with an
    ``overlap``-token carry between consecutive chunks — the standard
    long-document preparation before sequence packing (a 200k-token PDF
    cannot ride one training row; chunk → :func:`pack_sequences`).

    Tokens are whitespace runs (swap in a BPE count upstream if needed);
    chunk ``i`` covers tokens ``[i·stride, i·stride + max_tokens)`` with
    ``stride = max_tokens - overlap``.  Chunking is PURE column algebra —
    one split + one sequence/transform + one explode, no shuffle, no
    Python — so it runs at scan speed and chunk counts are exact.

    Output: ``(id_col, chunk_idx, text_col, n_tokens)``; empty docs
    yield one empty chunk (nothing vanishes).
    """
    if overlap >= max_tokens:
        raise ValueError(f"overlap ({overlap}) must be < max_tokens ({max_tokens})")
    stride = max_tokens - overlap
    toks = F.split(F.coalesce(F.col(text_col), F.lit("")), r"\s+")
    toks = F.filter(toks, lambda t: t != F.lit(""))
    n = F.size(toks)
    # ceil((n - overlap) / stride) chunks, minimum 1
    n_chunks = F.greatest(F.ceil((n - F.lit(overlap)) / F.lit(stride)).cast("int"), F.lit(1))
    chunks = F.transform(
        F.sequence(F.lit(0), n_chunks - 1),
        lambda i: F.struct(
            i.cast("int").alias("chunk_idx"),
            F.array_join(F.slice(toks, i * stride + 1, max_tokens), " ").alias("chunk_text"),
            F.least(n - i * stride, F.lit(max_tokens)).cast("int").alias("n_tokens"),
        ),
    )
    from dbc_informed_socketcan_to_parquet_spark.functions.partitioning import fan_out

    # chunking multiplies rows by ~n_tokens/stride: fan out before the
    # explode (r15; no-op on an already-wide scan — production plans keep
    # their narrow no-shuffle shape, the one-file fixture parallelizes)
    return fan_out(df).select(F.col(id_col), F.explode(chunks).alias("_c")).select(
        F.col(id_col),
        F.col("_c.chunk_idx").alias("chunk_idx"),
        F.col("_c.chunk_text").alias(text_col),
        F.col("_c.n_tokens").alias("n_tokens"),
    )


# -- DSIR-style importance resampling ----------------------------------------

def _hashed_buckets(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_buckets: int,
    bigrams: bool,
    hash_fn,
    seed: str,
) -> DataFrame:
    """(id, bucket) — unigram (+ word-bigram) features hashed into
    ``num_buckets``; same tokenization and feature shape as
    textops.classifier_score so the two share one oracle rendering."""
    from dbc_informed_socketcan_to_parquet_spark.functions.partitioning import fan_out
    from dbc_informed_socketcan_to_parquet_spark.operators.textops import _lm_tokens

    # token array materialized ONCE in a projection between the fan-out
    # exchange and the Generate (r16, same fix as textops._clf_hashed):
    # inlined, the split chain appeared 5x in the generator expression,
    # where Generate gets no codegen subexpression elimination
    toked = fan_out(df.select(F.col(id_col), F.col(text_col))).select(
        F.col(id_col), _lm_tokens(text_col).alias("_toks")
    )
    toks = F.col("_toks")
    feats = toks
    if bigrams:
        n_keep = F.greatest(F.size(toks) - 1, F.lit(0))
        pair_strs = F.transform(
            F.arrays_zip(
                F.slice(toks, 1, n_keep).alias("a"),
                F.slice(toks, 2, n_keep).alias("b"),
            ),
            lambda p: F.concat(p["a"], F.lit(" "), p["b"]),
        )
        feats = F.concat(toks, pair_strs)
    return toked.select(F.col(id_col), F.explode(feats).alias("_f")).select(
        F.col(id_col),
        F.pmod(hash_fn(F.col("_f"), salt=f"{seed}|"), F.lit(num_buckets)).alias("_b"),
    )


def importance_weights(
    corpus: DataFrame,
    target: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_buckets: int = 1 << 13,
    bigrams: bool = True,
    hash_fn=None,
    seed: str = "dsir",
    cache_features: bool = False,
) -> DataFrame:
    """Per-document DSIR importance log-weight (Xie et al., "Data Selection
    for Language Models via Importance Resampling"): hashed n-gram bucket
    counts give a bag-of-buckets model of the raw corpus and of the
    ``target`` distribution (both add-one smoothed over ``num_buckets``);
    a document's log-weight is the sum over its features of
    ``ln p_target(bucket) - ln p_raw(bucket)`` — documents that look like
    the target domain score high.

    Output: ``(id_col, n_features, log_weight)`` — one row per corpus
    document (feature-less docs get weight 0.0).

    Scale: the bucket-count tables are ≤ ``num_buckets`` rows however big
    the corpora are, so the log-ratio table BROADCASTS; the corpus pays
    one explode + two groupBys (bucket counts with map-side partials,
    then per-doc sums) and the raw text is never shuffled — only
    (id, bucket) pairs are.

    ``cache_features`` persists the corpus's hashed feature table
    between its two consumers (the bucket-count pass and the per-doc
    sum) so the tokenize+hash explode runs ONCE — the
    materialize-between-passes arrangement the DSIR paper prescribes.
    It defaults OFF because this function cannot know when the caller
    materializes the result, so it cannot unpersist for them; owners
    that materialize eagerly (``importance_resample``) opt in via the
    internal ``_importance_weights_cached`` and unpersist themselves.
    """
    out, _ = _importance_weights_cached(
        corpus, target, id_col, text_col, num_buckets, bigrams, hash_fn,
        seed, cache_features,
    )
    return out


def _importance_weights_cached(
    corpus, target, id_col, text_col, num_buckets, bigrams, hash_fn,
    seed, cache_features,
):
    """:func:`importance_weights` body; additionally returns the persisted
    feature frame (or None) so the caller OWNS the unpersist — an explicit
    (df, cached) pair instead of a fragile attribute ride-along."""
    from dbc_informed_socketcan_to_parquet_spark.functions.hashing import md5_long

    hash_fn = hash_fn or md5_long
    B = int(num_buckets)
    feats_c = _hashed_buckets(corpus, id_col, text_col, B, bigrams, hash_fn, seed)
    if cache_features:
        feats_c = feats_c.persist()
    feats_t = _hashed_buckets(target, id_col, text_col, B, bigrams, hash_fn, seed)
    raw = feats_c.groupBy("_b").agg(F.count(F.lit(1)).alias("_rc"))
    tgt = feats_t.groupBy("_b").agg(F.count(F.lit(1)).alias("_tc"))
    joined = (
        raw.join(tgt, "_b", "full")
        .select(
            F.col("_b"),
            F.coalesce(F.col("_rc"), F.lit(0)).alias("_rc"),
            F.coalesce(F.col("_tc"), F.lit(0)).alias("_tc"),
        )
    )
    tot = joined.agg(F.sum("_rc").alias("_rt"), F.sum("_tc").alias("_tt"))
    wtab = joined.crossJoin(F.broadcast(tot)).select(
        F.col("_b"),
        (
            F.log((F.col("_tc") + F.lit(1)) / (F.col("_tt") + F.lit(B)).cast("double"))
            - F.log((F.col("_rc") + F.lit(1)) / (F.col("_rt") + F.lit(B)).cast("double"))
        ).alias("_lr"),
    )
    per_doc = (
        feats_c.join(F.broadcast(wtab), "_b")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_features"), F.sum("_lr").alias("log_weight"))
    )
    out = (
        corpus.select(id_col)
        .join(per_doc, id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce(F.col("n_features"), F.lit(0)).cast("long").alias("n_features"),
            F.coalesce(F.col("log_weight"), F.lit(0.0)).alias("log_weight"),
        )
    )
    return out, (feats_c if cache_features else None)


def importance_resample(
    corpus: DataFrame,
    target: DataFrame,
    n: int,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_buckets: int = 1 << 13,
    bigrams: bool = True,
    temperature: float = 1.0,
    hash_fn=None,
    seed: str = "dsir",
    round_to: int = 6,
    materialize: bool = True,
) -> DataFrame:
    """Select ``n`` corpus documents with probability ∝ importance weight
    via the Gumbel-top-k trick — the sampling half of DSIR.  Each doc's
    key is ``log_weight / temperature + Gumbel(unit_hash(id))``; taking
    the global top-``n`` keys draws a without-replacement sample exactly
    proportional to ``w^(1/temperature)``, and because the Gumbel noise
    is a pure hash of the id the draw is deterministic — stable across
    runs, retries, and partitionings, like every sampler in this module.

    Output: ``(id_col, n_features, log_weight, sample_key)`` for the
    selected docs (keys and weights rounded to ``round_to``; ordering
    ties broken by id so the selection is reproducible cross-engine).

    Scale: the ranking is ``orderBy(...).limit(n)`` — Spark's distributed
    TakeOrdered (per-partition top-n then a driver merge of n·parts
    keys), never a global sort of the corpus.

    ``materialize=True`` (default) caches the hashed-feature explode
    between its two consumers, collects the n-row sample, and releases
    the cache before returning — call-scoped cache ownership (the r5
    ADVICE leak).  ``materialize=False`` returns the fully LAZY plan
    with no caching at all (the explode runs twice) — for plan
    inspection and for callers composing it into a larger pipeline who
    manage materialization themselves.
    """
    from dbc_informed_socketcan_to_parquet_spark.functions.hashing import md5_long

    hash_fn = hash_fn or md5_long
    # cache the hashed-feature explode between its two consumers, then
    # unpersist as soon as the n-row sample is materialized — the cache's
    # lifetime is THIS call, not the session (the r5 ADVICE leak)
    lw, cached = _importance_weights_cached(
        corpus, target, id_col, text_col, num_buckets, bigrams, hash_fn,
        seed, materialize,
    )
    # deterministic uniform in (0, 1): 60-bit hash folded to 1e6 grains
    u = (F.pmod(hash_fn(F.col(id_col), salt=f"{seed}-g|"), F.lit(1_000_000)) + 1) / F.lit(
        1_000_002.0
    )
    gumbel = -F.log(-F.log(u))
    key = F.round(F.col("log_weight") / F.lit(float(temperature)) + gumbel, round_to)
    sample = (
        lw.withColumn("sample_key", key)
        .orderBy(F.desc("sample_key"), F.col(id_col))
        .limit(int(n))
        .select(
            F.col(id_col),
            F.col("n_features"),
            F.round(F.col("log_weight"), round_to).alias("log_weight"),
            F.col("sample_key"),
        )
    )
    if not materialize:
        return sample
    # n rows — materialize driver-side (cheap by contract) so the feature
    # cache can be released BEFORE returning; a localCheckpoint would
    # itself linger in executor storage
    try:
        rows = sample.collect()
    finally:
        if cached is not None:
            cached.unpersist()
    return corpus.sparkSession.createDataFrame(rows, sample.schema)


def temperature_mix(
    docs: DataFrame,
    token_col: str,
    source_col: str = "source",
    alpha: float = 0.5,
    id_col: str = "doc_id",
    salt: str = "tmix",
    hash_fn: str = "xxhash",
) -> DataFrame:
    """Temperature-based mixture over MEASURED source shares — the
    multilingual/multi-domain α-sampling recipe (w_s ∝ t_s^α): α=1
    keeps natural proportions, α=0 equalizes sources, 0<α<1 damps the
    head and boosts the tail.  Unlike :func:`mix_corpora` (explicit
    target weights), the weights here are derived from the corpus's
    own per-source token totals, so the recipe adapts to the data.

    Same execution shape as mix_corpora without the N-way union: ONE
    grouped count job (driver-sized — one row per source), the
    anchor-capacity algebra in Python, then a broadcast-joined keep
    fraction and a narrow hash filter.  Sources keep at most their own
    size (downsample-only, like every deterministic mixer here).

    ``hash_fn``: "xxhash" (fast path) or "md5" (DuckDB-replayable).
    Output: the kept rows with their original columns plus ``keep_frac``
    (the source's keep fraction — provenance for the recipe log).
    """
    if alpha < 0:
        raise ValueError(f"alpha must be >= 0, got {alpha}")
    if hash_fn not in ("xxhash", "md5"):
        raise ValueError(f"hash_fn must be 'xxhash' or 'md5', got {hash_fn!r}")
    totals = {
        r["s"]: r["t"]
        for r in docs.groupBy(F.col(source_col).alias("s"))
        .agg(F.sum(token_col).alias("t")).collect()
        if r["t"] and r["t"] > 0
    }
    if not totals:
        return docs.filter(F.lit(False)).withColumn("keep_frac", F.lit(1.0))
    # w_s = t_s^α / Σ t^α, capacity = min(t/w), frac = capacity*w/t — the
    # shared normalizer Σ t^α cancels algebraically, so compute WITHOUT it:
    # frac_s = min(1, min_j(t_j / t_j^α) * t_s^α / t_s).  This keeps every
    # number a per-source expression (no order-dependent double sum), which
    # is what lets a SQL oracle replay the keep set bit-for-bit.
    powed = {s: float(t) ** alpha for s, t in totals.items()}
    cap0 = min(totals[s] / powed[s] for s in sorted(totals))
    fracs = [
        (s, min(1.0, cap0 * powed[s] / totals[s])) for s in sorted(totals)
    ]
    spark = docs.sparkSession
    # mirror the source column's actual type (int domain ids, etc.) so the
    # broadcast join neither fails createDataFrame nor casts implicitly
    from pyspark.sql.types import DoubleType, StructField, StructType

    frac_schema = StructType(
        [
            StructField(source_col, docs.schema[source_col].dataType),
            StructField("keep_frac", DoubleType()),
        ]
    )
    frac_df = spark.createDataFrame(fracs, frac_schema)
    if hash_fn == "md5":
        from dbc_informed_socketcan_to_parquet_spark.functions.hashing import md5_long

        u = md5_long(F.col(id_col), salt=salt) / F.lit(float(1 << 60))
    else:
        u = _unit_hash(id_col, salt)
    return (
        docs.join(F.broadcast(frac_df), source_col)
        .filter((F.col("keep_frac") >= 1.0) | (u < F.col("keep_frac")))
    )


def select_to_token_budget(
    df: DataFrame,
    score_col: str,
    token_col: str,
    budget_tokens: int,
    id_col: str = "doc_id",
    resolution: int = 10_000,
    materialize_input: bool = True,
) -> DataFrame:
    """Keep the HIGHEST-scoring documents until a token budget fills
    (r13) — the "give me the best 1T tokens" primitive that turns a
    quality score plus a target budget into a training corpus.

    Semantics (deterministic, engine-independent): order documents by
    ``(score DESC, id ASC)`` and keep the prefix whose cumulative
    ``token_col`` first reaches ``budget_tokens`` — a document is kept
    iff the tokens STRICTLY before it total < budget (so the crossing
    document is included and the kept sum may overshoot by less than
    one document).  Budget ≥ corpus keeps everything; budget ≤ 0 keeps
    nothing.  Documents with a NULL score are never kept (they have no
    place in the order — score them or filter them first).

    Scale — NO global sort of the corpus (the naive window over
    ``ORDER BY score DESC`` is a single-partition sort of 100 TB):

    1. one aggregation onto ``floor(score·resolution)`` buckets
       (≤ resolution·range rows, map-side combined), cumulative
       tokens per bucket on that SMALL table;
    2. every document in a bucket strictly above the boundary bucket
       is kept outright (no ordering needed — the budget is not yet
       exhausted there);
    3. only the BOUNDARY bucket (≈ corpus/resolution documents) gets
       the exact ``(score DESC, id ASC)`` running-sum window, fed the
       budget remaining after the higher buckets.

    Raise ``resolution`` to shrink the boundary window's input; the
    kept set is exactly the global-sort answer at ANY resolution
    because bucketing is monotone in score and the boundary is refined
    on exact scores.

    ``materialize_input`` (default True) cuts the input's lineage once
    (lazy durable_checkpoint) because the plan references ``df`` three
    times (bucket aggregation, kept-above filter, boundary window) —
    with an expensive upstream (a classifier-scoring join) the naive
    plan recomputes it three times; a plain parquet scan can pass
    ``False`` and keep the three cheap scans.
    """
    if budget_tokens <= 0:
        return df.filter(F.lit(False))
    # NULL and NaN scores leave the selection universe ENTIRELY, up
    # front: left in, the NULL bucket would pass the cumulative filter
    # (desc-order NULLs sort last, so its running total covers every
    # scored token) and inflate the boundary's spent-above figure —
    # silently starving the boundary bucket whenever the budget exceeds
    # the scored total (r13 review finding, reproduced).  NaN is the
    # same bug through the other door (r14 review): it sorts ABOVE
    # every double in the (score DESC) window yet the non-ANSI
    # NaN->long cast buckets it at floor(NaN·res) = 0, breaking the
    # bucketed-equals-global-sort equivalence and starving the boundary.
    s = F.col(score_col)
    df = df.filter(s.isNotNull() & ~F.isnan(s.cast("double")))
    if materialize_input:
        from dbc_informed_socketcan_to_parquet_spark.functions.checkpoints import (
            durable_checkpoint,
        )

        df = durable_checkpoint(df, eager=False)
    from pyspark.sql import Window

    b = F.floor(F.col(score_col) * F.lit(float(resolution))).alias("_b")
    per = (
        df.select(b, F.col(token_col).alias("_t"))
        .groupBy("_b")
        .agg(F.sum("_t").alias("_bt"))
    )
    # cumulative tokens from the TOP bucket down — resolution-bounded
    # table, so the single-partition window is over ≤ a few 10k rows
    w = Window.orderBy(F.desc("_b")).rowsBetween(Window.unboundedPreceding, 0)
    cum = per.select("_b", F.sum("_bt").over(w).alias("_cum"), "_bt")
    boundary = (
        cum.filter(F.col("_cum") - F.col("_bt") < F.lit(int(budget_tokens)))
        .agg(F.min("_b").alias("_bstar"),
             F.max(F.when(F.col("_cum") - F.col("_bt")
                          < F.lit(int(budget_tokens)),
                          F.col("_cum") - F.col("_bt"))).alias("_before"))
        .collect()[0]
    )
    if boundary["_bstar"] is None:
        # budget covers nothing (empty corpus) — keep nothing
        return df.filter(F.lit(False))
    bstar = int(boundary["_bstar"])
    spent_above = int(boundary["_before"])  # tokens in buckets > bstar
    remaining = int(budget_tokens) - spent_above

    bucket = F.floor(F.col(score_col) * F.lit(float(resolution)))
    kept_above = df.filter(bucket > F.lit(bstar))
    edge = df.filter(bucket == F.lit(bstar))
    we = Window.orderBy(F.desc(score_col), F.asc(id_col)).rowsBetween(
        Window.unboundedPreceding, 0)
    kept_edge = (
        edge.withColumn("_cum", F.sum(F.col(token_col)).over(we))
        .filter(F.col("_cum") - F.col(token_col) < F.lit(remaining))
        .drop("_cum")
    )
    return kept_above.unionByName(kept_edge)


def select_to_token_budget_by_group(
    df: DataFrame,
    score_col: str,
    token_col: str,
    budgets: dict[str, int] | int,
    group_col: str,
    id_col: str = "doc_id",
    resolution: int = 10_000,
    materialize_input: bool = True,
) -> DataFrame:
    """Per-group token-budget selection (r14, VERDICT r13 item 3) — the
    production shape of :func:`select_to_token_budget`: "the best N
    tokens PER LANGUAGE/SOURCE", one budget per ``group_col`` value.

    ``budgets`` is either a ``{group: budget_tokens}`` map (groups
    absent from the map are DROPPED — selection is explicit) or a
    single int applied to every group present in the data.  Within each
    group the semantics are exactly the single-budget operator's:
    order by ``(score DESC, id ASC)``, keep the prefix whose strictly-
    preceding tokens total < the group's budget (crossing doc included).
    NULL groups and NULL/NaN scores leave the universe; budgets ≤ 0
    keep nothing for that group.

    Scale — the bucketed two-phase trick PARTITIONS CLEANLY by group,
    and nothing per-group ever reaches the driver:

    1. one aggregation onto ``(group, floor(score·resolution))`` keys
       (map-side combined; ≤ groups·resolution·range rows);
    2. the cumulative window runs ``partitionBy(group)`` over that
       SMALL table — no single-partition global window;
    3. the per-group boundary table (one row per group: boundary
       bucket + tokens spent above it) is groups-sized and joins back
       BROADCAST, so the kept-above filter and the boundary-bucket
       refinement stay shuffle-free on the corpus side;
    4. only boundary-bucket documents (≈ corpus/resolution per group)
       get the exact ``(score DESC, id ASC)`` running-sum window,
       ``partitionBy(group)`` — parallel across groups.

    The kept set equals the per-group global-sort answer at ANY
    resolution (same monotone-bucketing + exact-boundary argument as
    the single-budget form, applied within each partition).  Compose
    with ``fertility_mix``: its per-language ``est_tokens`` output is
    exactly the ``budgets`` map this consumes.
    """
    from pyspark.sql import Window

    spark = df.sparkSession
    if isinstance(budgets, int):
        budget_df = (
            df.select(F.col(group_col).alias("_g")).distinct()
            .withColumn("_budget", F.lit(int(budgets)).cast("long"))
        )
    else:
        items = [(str(g), int(b)) for g, b in budgets.items() if int(b) > 0]
        if not items:
            return df.filter(F.lit(False))
        budget_df = spark.createDataFrame(items, "_g string, _budget long")
        # cast the key to the INPUT group column's type (r14 review
        # finding): the join below must never rely on implicit
        # string-vs-numeric casts — an int source-id group works by
        # accident, a float/decimal group could mis-join silently.  A
        # key that does not parse as the column's type try_casts to NULL
        # and (correctly) matches nothing — try_cast, not cast: ANSI
        # mode (Spark 4 default) makes a failed cast THROW.
        budget_df = budget_df.withColumn(
            "_g", F.col("_g").try_cast(df.schema[group_col].dataType)
        )
    s = F.col(score_col)
    df = df.filter(
        s.isNotNull() & ~F.isnan(s.cast("double")) & F.col(group_col).isNotNull()
    )
    # groups without a (positive) budget leave the universe here — the
    # budget table is groups-sized, always broadcastable
    df = df.join(
        F.broadcast(budget_df.filter(F.col("_budget") > 0)),
        df[group_col] == F.col("_g"),
    ).drop("_g")
    if materialize_input:
        from dbc_informed_socketcan_to_parquet_spark.functions.checkpoints import (
            durable_checkpoint,
        )

        df = durable_checkpoint(df, eager=False)
    b = F.floor(F.col(score_col) * F.lit(float(resolution)))
    per = (
        df.select(F.col(group_col).alias("_g"), b.alias("_b"),
                  F.col(token_col).alias("_t"), F.col("_budget"))
        .groupBy("_g", "_b")
        .agg(F.sum("_t").alias("_bt"), F.first("_budget").alias("_budget"))
    )
    w = (
        Window.partitionBy("_g").orderBy(F.desc("_b"))
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = per.select(
        "_g", "_b", "_bt", "_budget", F.sum("_bt").over(w).alias("_cum"))
    bnd = (
        cum.filter(F.col("_cum") - F.col("_bt") < F.col("_budget"))
        .groupBy("_g")
        .agg(
            F.min("_b").alias("_bstar"),
            (F.first("_budget") - F.max(F.col("_cum") - F.col("_bt")))
            .alias("_remaining"),
        )
    )
    if materialize_input:
        # the boundary table feeds BOTH union branches below (kept-above
        # join + edge join); without this the groups×resolution
        # aggregation + window subtree executes once per branch.  One
        # row per group — the checkpoint copy is trivially small.
        from dbc_informed_socketcan_to_parquet_spark.functions.checkpoints import (
            durable_checkpoint,
        )

        bnd = durable_checkpoint(bnd, eager=False)
    joined = df.join(F.broadcast(bnd), df[group_col] == bnd["_g"]).drop("_g")
    bucket = F.floor(F.col(score_col) * F.lit(float(resolution)))
    extra = ["_budget", "_bstar", "_remaining"]
    kept_above = joined.filter(bucket > F.col("_bstar")).drop(*extra)
    edge = joined.filter(bucket == F.col("_bstar"))
    we = (
        Window.partitionBy(group_col)
        .orderBy(F.desc(score_col), F.asc(id_col))
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    kept_edge = (
        edge.withColumn("_cum", F.sum(F.col(token_col)).over(we))
        .filter(F.col("_cum") - F.col(token_col) < F.col("_remaining"))
        .drop("_cum", *extra)
    )
    return kept_above.unionByName(kept_edge)
