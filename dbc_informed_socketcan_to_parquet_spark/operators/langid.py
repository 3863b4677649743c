"""Trained multiclass language identification — the production upgrade
of the ``textops.lang_id`` stopword heuristic (VERDICT r6 #2).

Model: multinomial Naive Bayes over HASHED CHARACTER TRIGRAMS — the
classic langid featurization (char n-grams see morphology, work for
space-free scripts like Chinese where a word tokenizer returns nothing,
and hash into a fixed feature space).  NB is the right trainer here
because it is closed-form: training is ONE distributed aggregation over
the exploded trigrams (count per (lang, feature), total per lang, doc
count per lang) — no gradient loop, no driver-side optimization — and
the resulting per-feature log-probability table IS a linear softmax
model (argmax of Σ w + prior), so scoring replays 1:1 in DuckDB and the
registry entry is oracle-paired like ``classifier_score``.

Scale shape:
- train: one explode (bounded by ``max_chars`` per doc — language ID
  saturates long before the full document) + one counted groupBy with
  map-side partials; the model is ≤ ``num_features × n_langs`` rows.
- score: one explode + ONE broadcast join against the weight table +
  one groupBy(doc, lang) + one groupBy(doc) argmax — the corpus never
  shuffles on anything but doc_id, and the per-language fan-out is a
  generator over a LITERAL prior array (no cross join in the plan).
- streaming: :func:`lang_id_rowlocal` loads the persisted model
  driver-side (bounded BY CONSTRUCTION by num_features × n_langs),
  ships it via ``sc.broadcast``, and scores in one Arrow-batched
  kernel — stateless, append-mode-safe, pytest-pinned equal to the
  batch scorer.

Determinism/cross-engine: features hash with ``md5_long`` (DuckDB
rendering exists), weights and priors are ROUNDED to ``round_to``
decimals at train time so both engines sum identical values, and the
argmax tie-break is fixed (higher score, then lexicographically
smallest language code).

Persistence mirrors the other model artifacts (``lm_write``):
``{path}/weights`` (lang, idx, w), ``{path}/priors`` (lang, logprior,
floor_w), ``{path}/meta`` (num_features, ngram, max_chars, alpha,
seed, round_to).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from dbc_informed_socketcan_to_parquet_spark.functions.hashing import md5_long
from dbc_informed_socketcan_to_parquet_spark.functions.partitioning import fan_out

#: defaults shared by train/score/oracle so the three always agree
DEFAULT_NUM_FEATURES = 1 << 16
DEFAULT_NGRAM = 3
DEFAULT_MAX_CHARS = 256
DEFAULT_ALPHA = 1.0
DEFAULT_SEED = "langid"


def _ngram_idx(df: DataFrame, id_col: str, text_col: str,
               num_features: int, ngram: int, max_chars: int,
               seed: str, carry: tuple[str, ...] = ()) -> DataFrame:
    """(id, idx[, *carry]) — one row per char-``ngram`` occurrence of the
    first ``max_chars`` chars of lowercased text, hashed into
    ``num_features`` buckets.  Position explode + codegen substr/md5
    (the shingle_hashes shape); docs shorter than ``ngram`` emit
    nothing.  ``carry`` columns ride the explode unchanged — the trainer
    carries the language label this way instead of joining the exploded
    table back to the corpus (r15: one narrow column through the
    explode replaces a full shuffle join of the trigram table)."""
    t = F.substring(F.lower(F.col(text_col)), 1, max_chars)
    positions = F.sequence(F.lit(1), F.length(t) - F.lit(ngram - 1))
    carry_cols = [F.col(c) for c in carry]
    return (
        fan_out(df.filter(F.length(t) >= ngram))
        .select(F.col(id_col), *carry_cols, t.alias("_t"), F.explode(positions).alias("_i"))
        .select(
            F.col(id_col),
            *carry_cols,
            F.pmod(
                md5_long(F.col("_t").substr(F.col("_i"), F.lit(ngram)), salt=f"{seed}|"),
                F.lit(num_features),
            ).alias("idx"),
        )
    )


def lang_train(
    corpus: DataFrame,
    label_col: str = "lang",
    text_col: str = "text",
    id_col: str = "doc_id",
    num_features: int = DEFAULT_NUM_FEATURES,
    ngram: int = DEFAULT_NGRAM,
    max_chars: int = DEFAULT_MAX_CHARS,
    alpha: float = DEFAULT_ALPHA,
    seed: str = DEFAULT_SEED,
    round_to: int = 6,
) -> tuple[DataFrame, DataFrame]:
    """Train the NB model on a labeled corpus.

    Returns ``(weights, priors)``:

    - ``weights``: (lang, idx, w) with ``w = round(log((c + α) /
      (T_lang + α·F)), round_to)`` — the per-feature log-likelihood.
    - ``priors``: (lang, logprior, floor_w) where ``floor_w`` is the
      unseen-feature back-off ``log(α / (T_lang + α·F))`` — stored per
      language so scoring handles features the language never saw
      without materializing the dense ``F × n_langs`` table.

    One explode + two aggregations of the already-counted table; the
    corpus is read once."""
    labeled = _ngram_idx(
        corpus.withColumn("_lang", F.col(label_col)),
        id_col, text_col, num_features, ngram, max_chars, seed,
        carry=("_lang",),
    )
    # counts is langs × features rows (corpus-size-independent) but its
    # lineage holds the full trigram explode; it feeds BOTH returned
    # tables (weights — typically broadcast later — and priors via
    # totals), each of which the caller materializes separately.
    # Materialize it once (lazy localCheckpoint, the minhash_dedup_pairs
    # ownership pattern) so training featurizes the corpus exactly once
    # (r15; was once per consumer: priors collect + weights broadcast).
    counts = (
        labeled.groupBy("_lang", "idx")
        .agg(F.count(F.lit(1)).alias("_c"))
        .localCheckpoint(eager=False)
    )
    totals = counts.groupBy("_lang").agg(F.sum("_c").alias("_t"))
    weights = (
        counts.join(totals, "_lang")
        .select(
            F.col("_lang").alias("lang"),
            F.col("idx"),
            F.round(
                F.log(
                    (F.col("_c") + F.lit(float(alpha)))
                    / (F.col("_t") + F.lit(float(alpha * num_features)))
                ),
                round_to,
            ).alias("w"),
        )
    )
    n_docs = corpus.groupBy(F.col(label_col).alias("lang")).agg(
        F.count(F.lit(1)).alias("_n")
    )
    total_docs = corpus.count()
    priors = (
        n_docs.join(totals.withColumnRenamed("_lang", "lang"), "lang")
        .select(
            "lang",
            F.round(F.log(F.col("_n") / F.lit(float(total_docs))), round_to).alias("logprior"),
            F.round(
                F.log(
                    F.lit(float(alpha))
                    / (F.col("_t") + F.lit(float(alpha * num_features)))
                ),
                round_to,
            ).alias("floor_w"),
        )
    )
    return weights, priors


def lang_id_trained(
    df: DataFrame,
    weights: DataFrame,
    priors: list[tuple[str, float, float]],
    id_col: str = "doc_id",
    text_col: str = "text",
    num_features: int = DEFAULT_NUM_FEATURES,
    ngram: int = DEFAULT_NGRAM,
    max_chars: int = DEFAULT_MAX_CHARS,
    seed: str = DEFAULT_SEED,
    round_to: int = 6,
) -> DataFrame:
    """Score every document against a trained model → ``(id_col,
    predicted_lang, lang_score)``.

    ``priors`` is the COLLECTED priors table (a few rows — one per
    language): it enters the plan as a literal array generator, so the
    per-language fan-out is a narrow explode, never a cross join.
    Documents with no feature (shorter than ``ngram``) get
    ``predicted_lang = 'unknown'`` with score 0 — mirroring the
    heuristic's unknown bucket.

    Execution: explode → broadcast join (weights) → two grouped
    aggregations, all with map-side partials; the deterministic argmax
    is ``min(struct(-score, lang))``."""
    feats = _ngram_idx(df, id_col, text_col, num_features, ngram, max_chars, seed)
    # per-doc feature count is a closed form of the text length — a doc
    # with length(t) >= ngram emits exactly length(t) - ngram + 1 grams —
    # so it is computed ROW-LOCALLY instead of re-running the explode +
    # groupBy lineage a second time (r15; one less featurize pass per
    # scoring run; identical for the operator contract's unique doc ids)
    t = F.substring(F.lower(F.col(text_col)), 1, max_chars)
    # ONE narrow pass computes each doc's closed-form feature count;
    # docs below the ngram floor keep a NULL count.  Materialized lazily
    # because it feeds both the scoring fan-out and the unknown bucket —
    # previously the unknown bucket was a LEFT ANTI join of a separate
    # corpus scan against the aggregated scores (r15: one corpus text
    # scan and one anti-join shuffle removed; a doc has a score row iff
    # it emitted ≥1 feature iff its count is non-NULL, so the kept sets
    # are identical for the contract's unique doc ids).
    base = df.select(
        F.col(id_col),
        F.when(
            F.length(t) >= ngram, (F.length(t) - F.lit(ngram - 1)).cast("long")
        ).alias("_n_tok"),
    ).localCheckpoint(eager=False)
    doc_n = base.filter(F.col("_n_tok").isNotNull())
    seen = (
        feats.join(F.broadcast(weights), "idx")
        .groupBy(id_col, "lang")
        .agg(F.sum("w").alias("_sw"), F.count(F.lit(1)).alias("_ns"))
    )
    lang_lit = F.array(*[
        F.struct(
            F.lit(lang).alias("lang"),
            F.lit(float(lp)).alias("logprior"),
            F.lit(float(fw)).alias("floor_w"),
        )
        for lang, lp, fw in sorted(priors)
    ])
    fanned = doc_n.select(
        F.col(id_col), F.col("_n_tok"), F.explode(lang_lit).alias("_l")
    ).select(
        F.col(id_col), "_n_tok",
        F.col("_l.lang").alias("lang"),
        F.col("_l.logprior").alias("_lp"),
        F.col("_l.floor_w").alias("_fw"),
    )
    scored = fanned.join(seen, [id_col, "lang"], "left").select(
        F.col(id_col),
        F.col("lang"),
        F.round(
            F.col("_lp")
            + F.coalesce(F.col("_sw"), F.lit(0.0))
            + (F.col("_n_tok") - F.coalesce(F.col("_ns"), F.lit(0))) * F.col("_fw"),
            round_to,
        ).alias("_score"),
    )
    best = scored.groupBy(id_col).agg(
        F.min(F.struct((-F.col("_score")).alias("ns"), F.col("lang").alias("lang"))).alias("_b")
    ).select(
        F.col(id_col),
        F.col("_b.lang").alias("predicted_lang"),
        F.round(-F.col("_b.ns"), round_to).alias("lang_score"),
    )
    # featureless docs: no explode row → no score row; re-attach as unknown
    missing = base.filter(F.col("_n_tok").isNull())
    return best.unionByName(
        missing.select(
            F.col(id_col),
            F.lit("unknown").alias("predicted_lang"),
            F.lit(0.0).alias("lang_score"),
        )
    )


def lang_write(
    corpus: DataFrame,
    path: str,
    label_col: str = "lang",
    text_col: str = "text",
    id_col: str = "doc_id",
    num_features: int = DEFAULT_NUM_FEATURES,
    ngram: int = DEFAULT_NGRAM,
    max_chars: int = DEFAULT_MAX_CHARS,
    alpha: float = DEFAULT_ALPHA,
    seed: str = DEFAULT_SEED,
    round_to: int = 6,
) -> list[str]:
    """Train once and PERSIST (the ``lm_write`` arrangement): later
    batches and micro-batches score from disk via :func:`lang_id_from` /
    :func:`lang_id_rowlocal` with the featurization config riding along
    in meta.  Returns the sorted language codes seen."""
    weights, priors = lang_train(
        corpus, label_col, text_col, id_col,
        num_features, ngram, max_chars, alpha, seed, round_to,
    )
    weights.write.mode("overwrite").parquet(f"{path}/weights")
    priors.coalesce(1).write.mode("overwrite").parquet(f"{path}/priors")
    spark = corpus.sparkSession
    spark.createDataFrame(
        [(int(num_features), int(ngram), int(max_chars), float(alpha),
          str(seed), int(round_to))],
        "num_features int, ngram int, max_chars int, alpha double, "
        "seed string, round_to int",
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/meta")
    return sorted(r["lang"] for r in priors.select("lang").collect())


def _load_meta(spark, path: str):
    m = spark.read.parquet(f"{path}/meta").collect()[0]
    return (int(m["num_features"]), int(m["ngram"]), int(m["max_chars"]),
            str(m["seed"]), int(m["round_to"]))


def lang_id_from(
    df: DataFrame,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Score against a persisted model (:func:`lang_write`) — no
    training pass; weights broadcast, config from meta."""
    spark = df.sparkSession
    weights = spark.read.parquet(f"{path}/weights")
    priors = [
        (r["lang"], r["logprior"], r["floor_w"])
        for r in spark.read.parquet(f"{path}/priors").collect()
    ]
    nf, ngram, max_chars, seed, round_to = _load_meta(spark, path)
    return lang_id_trained(
        df, weights, priors, id_col, text_col, nf, ngram, max_chars, seed, round_to
    )


def lang_id_rowlocal(
    df: DataFrame,
    path: str,
    text_col: str = "text",
    prefix: str = "lang_",
) -> DataFrame:
    """STREAMING-safe scoring against a persisted model — the
    ``lm_score_rowlocal`` arrangement: the weight table loads
    driver-side (≤ num_features × n_langs rows BY CONSTRUCTION — the
    hashed feature space is fixed, unlike an unpruned LM), ships via
    ``sc.broadcast``, and one Arrow-batched kernel replays the exact
    batch arithmetic (same md5 hash, rounded weights, floor back-off,
    tie-break).  Adds ``{prefix}pred string`` and ``{prefix}score
    double`` (featureless docs → ``'unknown'``/0.0, as in batch)."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    from dbc_informed_socketcan_to_parquet_spark.functions.hashing import py_md5_long
    from dbc_informed_socketcan_to_parquet_spark.operators.textops import (
        _cached_model_getter,
    )

    spark = df.sparkSession

    def _load():
        nf, ngram, max_chars, seed, round_to = _load_meta(spark, path)
        w = {
            (r["lang"], int(r["idx"])): float(r["w"])
            for r in spark.read.parquet(f"{path}/weights").collect()
        }
        priors = sorted(
            (r["lang"], float(r["logprior"]), float(r["floor_w"]))
            for r in spark.read.parquet(f"{path}/priors").collect()
        )
        return (w, priors, nf, ngram, max_chars, seed, round_to)

    # one broadcast per (context, path, content token) — meta included
    # so a cache hit performs zero driver-side reads (ADVICE r7/r8)
    get_model = _cached_model_getter(spark, path, _load)

    def _score(texts):
        w_l, priors_l, nf, ngram, max_chars, seed, round_to = get_model()
        preds, scores = [], []
        for t in texts:
            s = (t or "").lower()[:max_chars]
            grams = [
                py_md5_long(s[i:i + ngram], salt=f"{seed}|") % nf
                for i in range(len(s) - ngram + 1)
            ]
            if not grams:
                preds.append("unknown")
                scores.append(0.0)
                continue
            best_lang, best_score = None, None
            for lang, lp, fw in priors_l:
                total = lp
                for g in grams:
                    total += w_l.get((lang, g), fw)
                total = round(total, round_to)
                if best_score is None or total > best_score:
                    best_lang, best_score = lang, total
            preds.append(best_lang)
            scores.append(round(best_score, round_to))
        return pd.DataFrame({"p": preds, "s": scores})

    _score.__annotations__ = {"texts": pd.Series, "return": pd.DataFrame}
    kernel = pandas_udf(_score, "p string, s double")
    out = df.withColumn("_lid", kernel(F.col(text_col)))
    return out.select(
        "*",
        F.col("_lid.p").alias(f"{prefix}pred"),
        F.col("_lid.s").alias(f"{prefix}score"),
    ).drop("_lid")
