"""Declarative pipeline recipes — ONE JSON document drives the whole
production chain: ingest → curate → report → split → export.

The CLI flags cover each stage individually; a recipe pins the entire
run (every knob, every path) in a reviewable, diffable artifact — the
way a 100 TB curation run is actually operated (checked into the data
repo next to the corpus manifest, re-run byte-identically after an
incident).  Every stage delegates to the existing, tested operator —
the recipe layer adds NO computation of its own.

Shape::

    {
      "ingest":  {"format": "parquet" | "jsonl" | "warc", "path": "..."},
      "curate":  {"min_quality": 0.0, "jaccard_threshold": 0.5, ...,
                  "against": "hist.parquet", "lm_corpus": "ref.parquet"},
      "out":     "curated.parquet",
      "report":  {"group_col": "lang", "out": "report.parquet"},
      "split":   {"fractions": {"train": 0.98, "val": 0.01, "test": 0.01},
                  "leakage_safe": true},
      "export":  {"out": "shards/", "max_tokens": 4096, "num_shards": 64},
      "audit":   true,
      "history": {"digests": "stores/digests.parquet",
                  "sigs": "stores/sig_store",
                  "embeddings_index": "stores/ivf_idx"}
    }

``history`` (r15) is the DAILY-INCREMENTAL mode: the same recipe runs
day after day against persistent vs-history stores.  On each run,
stores that already exist arm the matching gates (``digests`` → the
Bloom-gated exact check on 16-byte content digests, ``sigs`` → the
MinHash near gate, ``embeddings_index`` → the IVF embedding gate —
the full vs-history matrix), so day N's batch drops everything that
duplicates days 1..N-1's survivors; after curate, today's survivors
append into each store (anti-joined first, so crash-retry is
idempotent — which also requires doc ids to be globally unique across
days).  Day 1 finds no stores, curates gate-free, and CREATES them.
``embeddings_index`` needs ``curate.embeddings`` (the per-batch
embedding table; ``decon_id_col`` maps its id column); the summary's
``history.index_advice`` carries the rebuild trigger — appends never
retrain the quantizer, so when it flags skew/growth, run
``index-embeddings --rebuild-from`` between daily runs and swap the
recipe's index path to the new version (``history.index_files`` sits
next to it: files/cluster + a ``compaction_advised`` flag — run
``index-embeddings --compact-from`` when daily appends have shredded
the partitions), or set
``history.auto_rebuild: true`` to have the recipe retrain + swap
itself (the index path becomes a versioned root with a
``CURRENT.json`` pointer; each flagged day rebuilds at √N-recommended
k into the next version dir and publishes by atomic pointer rename).
Optional knobs: ``num_perms``/``shingle_n`` (signature family, day-1
creation only — later days read the store's meta),
``num_clusters``/``n_iters`` (day-1 index build),
``rebuild_imbalance`` (advice threshold), ``pq: "MxB"`` (r15 — day 1
builds a CODES-ONLY ``ivfpq_index_write`` store, ~40× smaller at
production dims; the summary's ``history.index_reconstruction``
carries the threshold calibration, and ``auto_rebuild`` is refused —
codes cannot retrain from themselves), ``sq8: true`` (r15 — a
scalar-quantized ``sq8_index_write`` store: 8× smaller, near-lossless,
no threshold recalibration, and ``auto_rebuild`` STAYS available
because the index retrains from its own reconstruction; mutually
exclusive with ``pq``).
Manual ``curate.against*`` keys are rejected alongside ``history``.

``ingest`` + ``out`` are required; ``curate``/``report``/``split``/
``export`` are each optional (omit = stage off).  ``curate`` keys are
``CurateConfig`` fields plus the side-input paths ``against``
(historical corpus parquet for the exact incremental gate),
``lm_corpus`` (LM training reference), and — r11, for the
embedding-space decontamination gate — ``embeddings`` /
``eval_embeddings`` (doc- and eval-set embedding parquet; required
together with ``decon_cosine``, rejected without it); unknown keys fail
fast BEFORE any compute.  With ``leakage_safe`` the
split keys on the near-dup cluster representative (members of a dup
cluster land in the same split); splits are written as a ``split``
column on the curated output.  ``export`` defaults ``token_col`` to a
whitespace token count added on the fly (or a real-tokenizer count when
``bpe_path`` names a persisted BPE vocab — the ``export --bpe-path``
hand-off).  ``audit`` (true, or
``{"out": "funnel.parquet"}``) records the per-stage drop funnel in the
summary: the counts read the SAME stage boundaries the main run
materializes (curate's trace checkpoints), so auditing a recipe costs
one count per stage, never a second pipeline pass.

Streaming lane (r10) — ``"mode": "streaming"`` swaps the chain for the
streaming curate drain (landing dir → quarantine → gates → watermarked
dedup → parquet), same fail-fast validation discipline::

    {
      "mode":       "streaming",
      "ingest":     {"format": "jsonl" | "warc", "path": "landing/",
                     "quarantine": "quar/"},
      "curate":     {"min_quality": 0.5, "watermark": "1 hour", ...},
      "out":        "curated/",
      "checkpoint": "ckpt/",
      "audit":      true
    }

``checkpoint`` is required (drains resume exactly across runs — dedup
state included); ``curate`` keys are the streaming gate surface (a
batch-only stage like ``paragraph_dedup`` fails validation); the drain
runs ``availableNow`` so the recipe terminates with a summary, and
``audit`` populates the same funnel shape as batch from the observe()
metrics accumulated on the listener bus.

Streaming recipes accept the same ``history`` section for the TEXT
half of the daily-incremental matrix (r15): existing ``digests`` /
``sigs`` stores arm the stream's against_exact / against_near gates
(stream-static digest join; row-local signatures vs the store's band
representatives), and after the drain this window's novel survivors
append into the stores — shared with the batch lane, so batch days and
streaming windows see each other's history.  ``embeddings_index`` is
batch-only (stream records carry no vectors); run the batch recipe's
history over the landed table for the embedding gate.
"""

from __future__ import annotations

import dataclasses
import json

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def load_recipe(path: str) -> dict:
    with open(path) as f:
        recipe = json.load(f)
    validate_recipe(recipe)
    return recipe


#: streaming-mode curate knobs = the keyword surface of
#: streaming.curate.run_streaming_curate's gates (NOT CurateConfig: the
#: streaming lane is the stateless-gate + watermarked-dedup subset, and a
#: recipe naming a batch-only stage must die at validation, not at hour
#: one of the drain)
_STREAM_CURATE_KEYS = frozenset({
    "min_chars", "min_quality", "watermark", "max_files_per_trigger",
    "lm_path", "max_perplexity", "classifier_path", "min_clf_prob",
    "lang_model_path", "allowed_langs", "extract_html", "html_min_words",
    "html_max_link_density", "max_pii", "min_compression_ratio",
    "gopher_repetition",
    "against_path", "against_digest_col", "against_sigs_path",
    "against_num_bands", "against_jaccard", "eval_corpus_path",
    "decon_span_window",
})


def _validate_streaming_recipe(recipe: dict) -> None:
    known_top = {"mode", "ingest", "curate", "out", "checkpoint", "audit",
                 "history"}
    unknown = set(recipe) - known_top
    if unknown:
        raise ValueError(f"unknown streaming recipe sections: {sorted(unknown)} "
                         f"(report/split/export are batch-mode stages)")
    for req in ("ingest", "out", "checkpoint"):
        if req not in recipe:
            raise ValueError(f"streaming recipe requires a {req!r} section")
    ing = recipe["ingest"]
    if ing.get("format", "jsonl") not in ("jsonl", "warc"):
        raise ValueError(
            f"streaming ingest format must be jsonl or warc, got {ing.get('format')!r}")
    if "path" not in ing:
        raise ValueError("ingest requires a path (the landing dir)")
    cur = recipe.get("curate", {})
    unknown = set(cur) - _STREAM_CURATE_KEYS
    if unknown:
        raise ValueError(f"unknown streaming curate keys: {sorted(unknown)}")
    if cur.get("max_perplexity") is not None and not cur.get("lm_path"):
        raise ValueError("streaming max_perplexity needs lm_path (a persisted LM "
                         "— the streaming gate scores row-locally)")
    if cur.get("min_clf_prob") is not None and not cur.get("classifier_path"):
        raise ValueError("streaming min_clf_prob needs classifier_path")
    if cur.get("allowed_langs") and not cur.get("lang_model_path"):
        raise ValueError("streaming allowed_langs needs lang_model_path (the "
                         "trained model — no heuristic in the streaming lane)")
    if (cur.get("decon_span_window") is None) != (not cur.get("eval_corpus_path")):
        raise ValueError("streaming decon_span_window and eval_corpus_path "
                         "go together")
    audit = recipe.get("audit")
    if audit not in (None, True, False) and not isinstance(audit, dict):
        raise ValueError("audit must be true/false or {\"out\": path}")
    if isinstance(audit, dict) and set(audit) - {"out"}:
        raise ValueError(f"unknown audit keys: {sorted(set(audit) - {'out'})}")
    # streaming daily-incremental history (r15): the TEXT half of the
    # matrix — digests (exact) + sigs (MinHash).  Embeddings arrive
    # post-hoc in the batch lane (stream records carry no vectors), so
    # embeddings_index is batch-only.
    hist = recipe.get("history")
    if hist is not None:
        if not isinstance(hist, dict):
            raise ValueError("history must be a dict of store paths")
        allowed = {"digests", "sigs", "num_perms", "shingle_n"}
        unknown = set(hist) - allowed
        if unknown:
            extra = (" (embeddings_index is batch-mode only: stream "
                     "records carry no vectors — run the batch recipe's "
                     "history over the landed table)"
                     if "embeddings_index" in unknown else "")
            raise ValueError(
                f"unknown streaming history keys: {sorted(unknown)}{extra}")
        if not any(hist.get(k) for k in ("digests", "sigs")):
            raise ValueError(
                "streaming history requires at least one store path: "
                "digests / sigs")
        manual = [k for k in ("against_path", "against_sigs_path",
                              "against_digest_col") if cur.get(k)]
        if manual:
            raise ValueError(
                f"history manages the vs-history gates — drop the manual "
                f"curate keys {manual}")


def validate_recipe(recipe: dict) -> None:
    """Fail fast — a typo'd knob must die before hour one of the run."""
    from dbc_informed_socketcan_to_parquet_spark.operators.curate import CurateConfig

    mode = recipe.get("mode", "batch")
    if mode not in ("batch", "streaming"):
        raise ValueError(f"unknown recipe mode: {mode!r}")
    if mode == "streaming":
        _validate_streaming_recipe(recipe)
        return
    known_top = {"mode", "ingest", "curate", "out", "report", "split", "export",
                 "chunk", "audit", "select", "resume_dir", "history"}
    unknown = set(recipe) - known_top
    if unknown:
        raise ValueError(f"unknown recipe sections: {sorted(unknown)}")
    for req in ("ingest", "out"):
        if req not in recipe:
            raise ValueError(f"recipe requires a {req!r} section")
    ing = recipe["ingest"]
    if ing.get("format", "parquet") not in ("parquet", "jsonl", "warc"):
        raise ValueError(f"unknown ingest format: {ing.get('format')!r}")
    if "path" not in ing:
        raise ValueError("ingest requires a path")
    cfg_fields = {f.name for f in dataclasses.fields(CurateConfig)}
    side_input_keys = {"against", "lm_corpus", "embeddings", "eval_embeddings",
                       "eval_corpus"}
    cur = recipe.get("curate", {})
    unknown = set(cur) - cfg_fields - side_input_keys
    if unknown:
        raise ValueError(f"unknown curate keys: {sorted(unknown)}")
    # embedding-space decontamination (r11): the gate needs BOTH side
    # inputs, and side inputs without the gate are a dead key — either
    # way the recipe is wrong and must die here, not at stage 7
    if cur.get("decon_cosine") is not None:
        missing = [k for k in ("embeddings", "eval_embeddings") if not cur.get(k)]
        if missing:
            raise ValueError(
                f"curate.decon_cosine needs {missing} (parquet paths of the "
                f"doc and eval embedding tables)")
    elif cur.get("eval_embeddings"):
        raise ValueError(
            "curate.eval_embeddings is only read by the "
            "decontamination gate — set decon_cosine or drop it")
    # r14: the vs-history embedding gate reads the doc embeddings too
    if cur.get("against_embeddings_path") and not cur.get("embeddings"):
        raise ValueError(
            "curate.against_embeddings_path needs curate.embeddings (the "
            "batch embedding table the gate probes with)")
    if (cur.get("embeddings") and cur.get("decon_cosine") is None
            and not cur.get("against_embeddings_path")
            and not (recipe.get("history") or {}).get("embeddings_index")):
        raise ValueError(
            "curate.embeddings is only read by the decontamination or "
            "vs-history embedding gates — set decon_cosine or "
            "against_embeddings_path (or history.embeddings_index), "
            "or drop it")
    # daily-incremental history stores (r15, VERDICT r14 item 5)
    hist = recipe.get("history")
    if hist is not None:
        if not isinstance(hist, dict):
            raise ValueError("history must be a dict of store paths")
        allowed = {"digests", "sigs", "embeddings_index", "num_perms",
                   "shingle_n", "num_clusters", "n_iters",
                   "rebuild_imbalance", "auto_rebuild", "pq", "sq8"}
        if hist.get("auto_rebuild") and not hist.get("embeddings_index"):
            raise ValueError(
                "history.auto_rebuild manages the embeddings index — set "
                "history.embeddings_index or drop it")
        if hist.get("sq8"):
            if not hist.get("embeddings_index"):
                raise ValueError(
                    "history.sq8 configures the embeddings index layout — "
                    "set history.embeddings_index or drop it")
            if hist.get("pq"):
                raise ValueError(
                    "history.pq and history.sq8 are mutually exclusive "
                    "index layouts")
        if hist.get("pq"):
            if not hist.get("embeddings_index"):
                raise ValueError(
                    "history.pq configures the embeddings index layout — "
                    "set history.embeddings_index or drop it")
            if hist.get("auto_rebuild"):
                raise ValueError(
                    "history.pq stores codes only — the floats needed for "
                    "an in-recipe retrain are gone, so auto_rebuild cannot "
                    "manage a PQ index; rebuild out-of-band from the "
                    "accumulated source embeddings (index-embeddings --pq) "
                    "and swap the path, or drop pq")
            pq = str(hist["pq"]).lower()
            parts = pq.split("x", 1)
            if (len(parts) != 2 or not parts[0].isdigit()
                    or not parts[1].isdigit() or int(parts[0]) < 1
                    or not 1 <= int(parts[1]) <= 8):
                raise ValueError(
                    f"history.pq must be 'MxB' (subspaces x bits, bits in "
                    f"[1, 8], e.g. '16x8'), got {hist['pq']!r}")
        unknown = set(hist) - allowed
        if unknown:
            raise ValueError(f"unknown history keys: {sorted(unknown)}")
        if not any(hist.get(k) for k in ("digests", "sigs",
                                         "embeddings_index")):
            raise ValueError(
                "history requires at least one store path: digests / "
                "sigs / embeddings_index")
        if hist.get("embeddings_index") and not cur.get("embeddings"):
            raise ValueError(
                "history.embeddings_index needs curate.embeddings (the "
                "batch embedding table the gate probes and the store "
                "appends)")
        manual = [k for k in ("against", "against_sigs_path",
                              "against_embeddings_path",
                              "against_digest_col") if cur.get(k)]
        if manual:
            raise ValueError(
                f"history manages the vs-history gates — drop the manual "
                f"curate keys {manual} (day >= 2 arms them automatically "
                f"from the stores)")
    # span-level verbatim decontamination (r11): same pairing doctrine
    if (cur.get("decon_span_window") is None) != (not cur.get("eval_corpus")):
        raise ValueError(
            "curate.decon_span_window and curate.eval_corpus go together "
            "(the span scrub needs the eval corpus text, and the side "
            "input is dead without the knob)")
    if "split" in recipe and "fractions" not in recipe["split"]:
        raise ValueError("split requires fractions")
    fert = recipe.get("report", {}).get("fertility")
    if fert not in (None, True, False) and not isinstance(fert, dict):
        raise ValueError("report.fertility must be true/false or "
                         "{\"bpe_path\": ..., \"out\": ..., \"lang_col\": ...}")
    if isinstance(fert, dict) and set(fert) - {"bpe_path", "out", "lang_col"}:
        raise ValueError(
            f"unknown report.fertility keys: "
            f"{sorted(set(fert) - {'bpe_path', 'out', 'lang_col'})}")
    for key, allowed in (("overlap", {"shingle_n", "group_col", "out"}),
                         ("dup_spans", {"window_tokens", "min_count", "out"}),
                         ("vocab_coverage", {"top_k", "lang_col", "out"}),
                         ("repetition", {"out"}),
                         ("novelty", {"against", "n", "out"}),
                         ("cluster_sizes", {"threshold", "out"}),
                         ("topics", {"embeddings", "k", "top_terms", "out"}),
                         ("contamination",
                          {"index", "eval_embeddings", "threshold", "nprobe",
                           "id_col", "vec_col", "out"})):
        spec = recipe.get("report", {}).get(key)
        if spec not in (None, True, False) and not isinstance(spec, dict):
            raise ValueError(f"report.{key} must be true/false or a dict")
        if isinstance(spec, dict) and set(spec) - allowed:
            raise ValueError(
                f"unknown report.{key} keys: {sorted(set(spec) - allowed)}")
    tp = recipe.get("report", {}).get("topics")
    if tp and not (isinstance(tp, dict) and tp.get("embeddings")):
        raise ValueError("report.topics requires {\"embeddings\": <embedding "
                         "parquet path>} — topics cluster the embedding space")
    nov = recipe.get("report", {}).get("novelty")
    if nov and not (isinstance(nov, dict) and nov.get("against")):
        raise ValueError("report.novelty requires {\"against\": <reference "
                         "parquet path>} — novelty is relative to a corpus")
    cont = recipe.get("report", {}).get("contamination")
    if cont and not (isinstance(cont, dict) and cont.get("index")
                     and cont.get("eval_embeddings")):
        raise ValueError(
            "report.contamination requires {\"index\": <ivf_index_write "
            "path over the corpus embeddings>, \"eval_embeddings\": "
            "<benchmark embedding parquet>} — the persisted-index sweep "
            "(semantic_contamination_indexed) is the production posture; "
            "it never re-clusters or re-scans the corpus")
    if "export" in recipe:
        for req in ("out", "max_tokens"):
            if req not in recipe["export"]:
                raise ValueError(f"export requires {req!r}")
    if "select" in recipe:
        sl = recipe["select"]
        if not isinstance(sl, dict) or "out" not in sl:
            raise ValueError("select requires {'out': ..., 'budget': ...}")
        unknown = set(sl) - {"out", "budget", "score_col", "token_col",
                             "classifier_path", "resolution",
                             "group_col", "group_budgets"}
        if unknown:
            raise ValueError(f"unknown select keys: {sorted(unknown)}")
        # r14: per-group selection — either a flat budget per group
        # (group_col + budget) or an explicit {group: tokens} map
        if sl.get("group_budgets") is not None:
            gb = sl["group_budgets"]
            if not sl.get("group_col"):
                raise ValueError("select.group_budgets requires group_col")
            if (not isinstance(gb, dict) or not gb
                    or not all(int(v) > 0 for v in gb.values())):
                raise ValueError(
                    "select.group_budgets must be a non-empty "
                    "{group: positive token count} map")
            if "budget" in sl:
                raise ValueError(
                    "select.budget and select.group_budgets are mutually "
                    "exclusive — per-group budgets define the whole "
                    "selection")
        else:
            if "budget" not in sl:
                raise ValueError("select requires {'out': ..., 'budget': ...}")
            if int(sl["budget"]) <= 0:
                raise ValueError("select.budget must be a positive token count")
        if sl.get("classifier_path") and sl.get("score_col"):
            # a classifier would silently override the named column —
            # the user must pick ONE score source (r13 review)
            raise ValueError(
                "select.classifier_path and select.score_col are mutually "
                "exclusive — the classifier probability would silently "
                "override the named column")
    if "chunk" in recipe:
        ch = recipe["chunk"]
        if not isinstance(ch, dict) or "out" not in ch or "chunk_tokens" not in ch:
            raise ValueError("chunk requires {'out': ..., 'chunk_tokens': ...}")
        if set(ch) - {"out", "chunk_tokens", "overlap_tokens"}:
            raise ValueError(
                f"unknown chunk keys: "
                f"{sorted(set(ch) - {'out', 'chunk_tokens', 'overlap_tokens'})}")
    audit = recipe.get("audit")
    if audit not in (None, True, False) and not isinstance(audit, dict):
        raise ValueError("audit must be true/false or {\"out\": path}")
    if isinstance(audit, dict) and set(audit) - {"out"}:
        raise ValueError(f"unknown audit keys: {sorted(set(audit) - {'out'})}")


def _ingest(spark: SparkSession, ing: dict) -> tuple[DataFrame, dict]:
    fmt = ing.get("format", "parquet")
    if fmt == "parquet":
        return spark.read.parquet(ing["path"]), {}
    if fmt == "jsonl":
        from dbc_informed_socketcan_to_parquet_spark.sources.jsonl import (
            read_jsonl,
            split_corrupt,
            write_jsonl,
        )

        docs, quarantine = split_corrupt(read_jsonl(spark, ing["path"]))
        info = {}
        if ing.get("quarantine"):
            n_bad = quarantine.count()
            if n_bad:
                write_jsonl(quarantine, ing["quarantine"])
            info["quarantined"] = n_bad
        return docs, info
    # warc: same projection as the ingest-warc CLI
    from dbc_informed_socketcan_to_parquet_spark.sources.warc import read_warc

    recs = read_warc(
        spark, ing["path"],
        record_types=ing.get("record_types", "response"),
        html_only=ing.get("html_only", True),
    ).where(F.col("parse_ok") & F.col("text").isNotNull()
            & (F.col("http_status") == 200))
    docs = recs.select(
        F.xxhash64("record_id", "url").alias("doc_id"),
        "url", "warc_date", "content_type", "text", "warc_file",
    )
    return docs, {}


def _run_streaming_recipe(spark: SparkSession, recipe: dict) -> dict:
    """The streaming lane (``"mode": "streaming"``): the recipe pins a
    landing-dir drain — ``run_streaming_curate`` with the stateless gate
    chain, drained with ``availableNow`` so the run terminates and
    returns a summary like the batch lane (a CONTINUOUS deployment keeps
    the same recipe and re-runs it per catch-up window; the checkpoint
    carries dedup state across drains).  ``audit`` populates the same
    funnel shape as batch — accumulated by the listener bus
    (:func:`streaming.curate._make_funnel_listener`), so the totals are
    complete even past ``recentProgress``'s retention window."""
    import time

    from dbc_informed_socketcan_to_parquet_spark.streaming.curate import (
        _make_funnel_listener,
        run_streaming_curate,
    )

    ing = recipe["ingest"]
    audit = recipe.get("audit")
    listener = _make_funnel_listener() if audit else None
    if listener is not None:
        spark.streams.addListener(listener)
    try:
        cur = dict(recipe.get("curate", {}))
        if "allowed_langs" in cur:
            cur["allowed_langs"] = tuple(cur["allowed_langs"])
        hist = recipe.get("history")
        if hist:
            # streaming daily-incremental (r15): stores a previous
            # drain/batch run built arm the text-matrix gates — same
            # doctrine as the batch lane; the gates are row-local /
            # stream-static joins, so arming costs no state
            from dbc_informed_socketcan_to_parquet_spark.operators.curate import (
                _stage_complete,
            )

            if hist.get("digests") and _stage_complete(hist["digests"]):
                cur["against_path"] = hist["digests"]
                cur["against_digest_col"] = "content_hash"
            if hist.get("sigs") and _stage_complete(f"{hist['sigs']}/meta"):
                cur["against_sigs_path"] = hist["sigs"]
        queries = run_streaming_curate(
            spark, ing["path"], recipe["out"], recipe["checkpoint"],
            quarantine_dir=ing.get("quarantine"),
            available_now=True,
            input_format=ing.get("format", "jsonl"),
            observe_funnel=bool(audit),
            **cur,
        )
        for q in queries:
            q.awaitTermination()
        summary: dict = {"mode": "streaming"}
        summary["curate"] = {
            "n_docs": spark.read.parquet(recipe["out"]).count(),
            "out": recipe["out"],
        }
        if hist:
            # post-drain store append: the out dir accumulates across
            # drains, but every append anti-joins the store first, so
            # only THIS drain's novel survivors land (idempotent, same
            # contract as the batch lane)
            summary["history"] = _update_history_stores(
                spark, {"history": hist, "curate": {}},
                spark.read.parquet(recipe["out"]))
        if audit:
            # the listener bus delivers progress asynchronously — wait
            # for the totals to settle before folding the funnel
            prev = None
            stable = 0
            for _i in range(50):
                snap = dict(listener.totals)
                stable = stable + 1 if (prev is not None and snap == prev) else 0
                # a NON-EMPTY stable snapshot is trusted immediately; an
                # EMPTY one only after ~1.5 s of stability (r12, ADVICE
                # r11: the bus can deliver the final progress event later
                # than the old ~0.5 s early-exit, and a genuinely
                # non-empty funnel must not be reported empty)
                if stable >= (1 if snap else 15):
                    break
                prev = snap
                time.sleep(0.1)
            funnel = [
                {"stage_idx": i, **row}
                for i, row in enumerate(listener.funnel(), start=1)
            ]
            summary["audit"] = funnel
            if isinstance(audit, dict) and audit.get("out"):
                spark.createDataFrame(
                    [(f["stage_idx"], f["stage"], f["rows_in"], f["rows_out"],
                      f["dropped"]) for f in funnel],
                    "stage_idx INT, stage STRING, rows_in BIGINT, "
                    "rows_out BIGINT, dropped BIGINT",
                ).write.mode("overwrite").parquet(audit["out"])
        return summary
    finally:
        if listener is not None:
            spark.streams.removeListener(listener)


class _RecipeResume:
    """RECIPE-level staged resume (r14, VERDICT r13 item 5): each stage
    that lands an artifact writes a ``<stage>.done.json`` marker (its
    summary fragment) into ``resume_dir`` AFTER its output commits; a
    re-run of the SAME recipe skips stages whose marker exists and whose
    output still carries Spark's ``_SUCCESS``, loading the artifact
    instead of recomputing it.  The manifest refusal is the same as
    curate's ``stage_dir``: a resume_dir written under a different
    recipe fingerprint is rejected — mixed-config resume would splice
    two pipelines.  Markers are written atomically (tmp + rename), so a
    kill mid-stage leaves no marker and the stage re-runs whole."""

    def __init__(self, resume_dir: str, recipe: dict):
        import hashlib

        from dbc_informed_socketcan_to_parquet_spark.operators.curate import (
            _check_stage_manifest,
        )

        self.dir = resume_dir
        fp = {k: v for k, v in recipe.items() if k != "resume_dir"}
        _check_stage_manifest(
            resume_dir,
            hashlib.sha256(json.dumps(fp, sort_keys=True).encode()).hexdigest(),
        )

    def _marker(self, stage: str) -> str:
        import os

        return os.path.join(self.dir, f"{stage}.done.json")

    def done(self, stage: str, *out_paths: str) -> dict | None:
        """The stage's saved summary fragment, or None if it must run.
        Every ``out_paths`` dir must still carry ``_SUCCESS`` — a marker
        whose artifact was deleted re-runs the stage."""
        import os

        from dbc_informed_socketcan_to_parquet_spark.operators.curate import (
            _stage_complete,
        )

        p = self._marker(stage)
        if not os.path.exists(p):
            return None
        for out in out_paths:
            if not _stage_complete(out):
                return None
        with open(p) as f:
            return json.load(f)

    def mark(self, stage: str, fragment: dict) -> None:
        import os

        p = self._marker(stage)
        tmp = p + ".tmp"
        with open(tmp, "w") as f:
            json.dump(fragment, f)
        os.replace(tmp, p)


def run_recipe(spark: SparkSession, recipe: dict) -> dict:
    """Execute a validated recipe; returns a per-stage summary dict.

    With a top-level ``resume_dir`` the run is RESUMABLE at stage
    granularity (see :class:`_RecipeResume`): a recipe that died in
    select/chunk/export re-runs only from the failed stage — completed
    stages load their committed artifacts.  Curate's own ``stage_dir``
    resumes WITHIN the curate stage; this resumes ACROSS recipe stages.
    """
    from dbc_informed_socketcan_to_parquet_spark.operators.curate import (
        CurateConfig,
        curate,
    )

    validate_recipe(recipe)
    if recipe.get("mode", "batch") == "streaming":
        return _run_streaming_recipe(spark, recipe)
    resume = (_RecipeResume(recipe["resume_dir"], recipe)
              if recipe.get("resume_dir") else None)
    summary: dict = {}
    if resume is not None:
        # the audit parquet (when configured) lands in the SAME stage as
        # the curated table, so the marker must check both artifacts —
        # a deleted/partial audit output would otherwise resume cleanly
        # while the loaded summary still claims it exists (r15 advisory)
        audit_spec = recipe.get("audit")
        curate_outs = [recipe["out"]]
        if isinstance(audit_spec, dict) and audit_spec.get("out"):
            curate_outs.append(audit_spec["out"])
        frag = resume.done("curate", *curate_outs)
        if frag is not None:
            # ingest + curate (+ audit counts) load from the committed
            # curated table; the fertility lang-col validation below
            # runs against its schema instead of the ingest's
            summary.update(frag)
            kept = spark.read.parquet(recipe["out"])
            fert_spec = recipe.get("report", {}).get("fertility")
            if fert_spec:
                fert_lang = (fert_spec.get("lang_col", "lang")
                             if isinstance(fert_spec, dict) else "lang")
                if fert_lang not in kept.columns:
                    raise ValueError(
                        f"report.fertility groups on column {fert_lang!r}, "
                        f"which the curated schema does not have "
                        f"(columns: {kept.columns})")
            return _run_recipe_tail(spark, recipe, kept, summary, resume)
    docs, info = _ingest(spark, recipe["ingest"])
    # report.fertility groups on lang_col — a missing column must die
    # HERE, on the ingest schema (which curate passes through), not as
    # an AnalysisException after the full curate run has burned its
    # hours (r11, ADVICE)
    fert_spec = recipe.get("report", {}).get("fertility")
    if fert_spec:
        fert_lang = (fert_spec.get("lang_col", "lang")
                     if isinstance(fert_spec, dict) else "lang")
        if fert_lang not in docs.columns:
            raise ValueError(
                f"report.fertility groups on column {fert_lang!r}, which the "
                f"ingest schema does not have (columns: {docs.columns}); set "
                f"report.fertility.lang_col or fix the input")
    summary["ingest"] = {"n_docs": docs.count(), **info}

    cur = dict(recipe.get("curate", {}))
    against_path = cur.pop("against", None)
    hist = recipe.get("history")
    if hist:
        # daily-incremental mode (r15): stores a PREVIOUS day's run built
        # arm the vs-history gates automatically — day 1 finds no store
        # and curates gate-free, day N probes day 1..N-1's survivors
        from dbc_informed_socketcan_to_parquet_spark.operators.curate import (
            _stage_complete,
        )

        if hist.get("digests") and _stage_complete(hist["digests"]):
            against_path = hist["digests"]
            cur["against_digest_col"] = "content_hash"
        if hist.get("sigs") and _stage_complete(f"{hist['sigs']}/meta"):
            cur["against_sigs_path"] = hist["sigs"]
        if hist.get("embeddings_index"):
            active = _ivf_active(hist)
            if active is not None and _stage_complete(f"{active}/model"):
                cur["against_embeddings_path"] = active
    lm_corpus_path = cur.pop("lm_corpus", None)
    emb_path = cur.pop("embeddings", None)
    eval_emb_path = cur.pop("eval_embeddings", None)
    eval_corpus_path = cur.pop("eval_corpus", None)
    # a WARC ingest hands over raw HTML — extraction defaults on there
    if recipe["ingest"].get("format") == "warc":
        cur.setdefault("html_extract", True)
    audit = recipe.get("audit")
    trace: list | None = [] if audit else None
    kept = curate(
        docs,
        config=CurateConfig(**cur),
        against_corpus=(
            spark.read.parquet(against_path) if against_path else None
        ),
        lm_corpus=(
            spark.read.parquet(lm_corpus_path) if lm_corpus_path else None
        ),
        doc_embeddings=(
            spark.read.parquet(emb_path) if emb_path else None
        ),
        eval_embeddings=(
            spark.read.parquet(eval_emb_path) if eval_emb_path else None
        ),
        eval_corpus=(
            spark.read.parquet(eval_corpus_path) if eval_corpus_path else None
        ),
        _trace=trace,
    )

    if "split" in recipe:
        sp = recipe["split"]
        if sp.get("leakage_safe"):
            from dbc_informed_socketcan_to_parquet_spark.operators.dedup import (
                minhash_star_clusters,
            )
            from dbc_informed_socketcan_to_parquet_spark.operators.sampling import (
                leakage_safe_split,
            )

            clusters = minhash_star_clusters(kept, "doc_id", "text")
            assigned = leakage_safe_split(kept, clusters, sp["fractions"])
            kept = kept.join(assigned, "doc_id")
        else:
            from dbc_informed_socketcan_to_parquet_spark.operators.sampling import (
                assign_split,
            )

            kept = kept.withColumn(
                "split", assign_split(kept, sp["fractions"], "doc_id")
            )

    kept.write.mode("overwrite").parquet(recipe["out"])
    kept = spark.read.parquet(recipe["out"])  # re-read: one compute pass
    summary["curate"] = {"n_docs": kept.count(), "out": recipe["out"]}
    if audit:
        # the output write above materialized every traced boundary
        # (lazy localCheckpoints), so these counts read cached state
        funnel = []
        prev = summary["ingest"]["n_docs"]
        for i, (stage, df) in enumerate(trace, start=1):
            n = df.count()
            funnel.append({"stage_idx": i, "stage": stage,
                           "rows_in": prev, "rows_out": n,
                           "dropped": prev - n})
            prev = n
        summary["audit"] = funnel
        if isinstance(audit, dict) and audit.get("out"):
            spark.createDataFrame(
                [(f["stage_idx"], f["stage"], f["rows_in"], f["rows_out"],
                  f["dropped"]) for f in funnel],
                "stage_idx INT, stage STRING, rows_in BIGINT, "
                "rows_out BIGINT, dropped BIGINT",
            ).write.mode("overwrite").parquet(audit["out"])
    if resume is not None:
        resume.mark("curate", {k: summary[k]
                               for k in ("ingest", "curate", "audit")
                               if k in summary})
    return _run_recipe_tail(spark, recipe, kept, summary, resume)


def _update_history_stores(
    spark: SparkSession, recipe: dict, kept: DataFrame
) -> dict:
    """Append TODAY's survivors into the vs-history stores (r15, VERDICT
    r14 item 4/5) so tomorrow's gates see them — the other half of the
    daily-incremental loop (the gate-arming half runs pre-curate):

    - ``digests``: md5 content digests of the kept text (16 bytes/doc —
      the exact gate's history never stores text);
    - ``sigs``: MinHash signature store (``minhash_write``; day 1
      creates it and pins the signature family, later days append with
      the STORED family);
    - ``embeddings_index``: persisted IVF index (day 1 trains via
      ``ivf_index_write``, later days ``ivf_index_append`` with stored
      centroids), plus ``ivf_index_rebuild_advice`` in the summary —
      the rebuild cadence hook: appends never retrain, so when the
      advice flags skew/growth, schedule ``index-embeddings
      --rebuild-from`` between daily runs and swap readers to the new
      path — or set ``history.auto_rebuild`` and the recipe does the
      swap itself: the configured path becomes a versioned root
      (``CURRENT.json`` + ``v0001``, ``v0002``, …) and a flagged
      post-append advice triggers an in-recipe retrain into the next
      version followed by an atomic pointer publish
      (:func:`_ivf_active` / :func:`_ivf_publish`).

    Every append ANTI-JOINS the store first (digest / doc_id / vec_id),
    so re-running after a mid-update crash is idempotent — the resume
    marker records completion, the anti-joins make repetition safe."""
    from dbc_informed_socketcan_to_parquet_spark.functions.checkpoints import (
        counted_checkpoint,
    )
    from dbc_informed_socketcan_to_parquet_spark.operators.curate import (
        _stage_complete,
    )
    from dbc_informed_socketcan_to_parquet_spark.operators.dedup import (
        minhash_read,
        minhash_signatures,
        minhash_write,
    )

    hist = recipe["history"]
    out: dict = {}
    if hist.get("digests"):
        dig = kept.select(
            F.md5(F.coalesce(F.col("text"), F.lit(""))).alias("content_hash")
        ).distinct()
        if _stage_complete(hist["digests"]):
            old = spark.read.parquet(hist["digests"])
            dig = dig.join(old, "content_hash", "left_anti")
        dig, (n,) = counted_checkpoint(dig)
        if n:
            dig.write.mode("append").parquet(hist["digests"])
        out["digests_appended"] = n
    if hist.get("sigs"):
        path = hist["sigs"]
        if _stage_complete(f"{path}/meta"):
            store_sigs, meta = minhash_read(spark, path)
            sigs = minhash_signatures(
                kept, "doc_id", "text", num_perms=meta["num_perms"],
                shingle_n=meta["shingle_n"], seed=meta["seed"])
            sigs = sigs.join(store_sigs.select("doc_id"), "doc_id",
                             "left_anti")
            sigs, (n,) = counted_checkpoint(sigs)
            if n:
                minhash_write(sigs, path, meta["num_perms"],
                              meta["shingle_n"], seed=meta["seed"],
                              hash_name=meta.get("hash_name", "md5"),
                              mode="append")
        else:
            num_perms = int(hist.get("num_perms", 32))
            shingle_n = int(hist.get("shingle_n", 5))
            sigs = minhash_signatures(kept, "doc_id", "text",
                                      num_perms=num_perms,
                                      shingle_n=shingle_n)
            sigs, (n,) = counted_checkpoint(sigs)
            minhash_write(sigs, path, num_perms, shingle_n)
        out["sigs_appended"] = n
    if hist.get("embeddings_index"):
        import os

        from dbc_informed_socketcan_to_parquet_spark.operators.similarity import (
            ivf_index_append,
            ivf_index_rebuild,
            ivf_index_rebuild_advice,
            ivf_index_write,
        )

        root = hist["embeddings_index"]
        auto = bool(hist.get("auto_rebuild"))
        pointer = _ivf_pointer(root) if auto else None
        idx = _ivf_active(hist)
        emb_id = (recipe.get("curate", {}).get("decon_id_col")
                  or "doc_id")
        emb = spark.read.parquet(recipe["curate"]["embeddings"])
        surv = emb.join(
            kept.select(F.col("doc_id").alias(emb_id)).distinct(), emb_id
        ).select(F.col(emb_id).alias("vec_id"), "embedding")
        if idx is not None and _stage_complete(f"{idx}/model"):
            if auto:
                # fail on day N's append, not day N+40's rebuild: an
                # externally-built codes-only index cannot retrain from
                # itself (validate_recipe already refuses pq+auto_rebuild
                # for recipe-built stores)
                from dbc_informed_socketcan_to_parquet_spark.operators.similarity import (
                    _load_pq_books,
                )

                if _load_pq_books(spark, idx) is not None:
                    raise ValueError(
                        f"history.auto_rebuild cannot manage the IVF-PQ "
                        f"index at {idx!r}: codes cannot retrain — rebuild "
                        "out-of-band from the source embeddings and swap "
                        "the version pointer, or drop auto_rebuild")
            old_ids = spark.read.parquet(f"{idx}/data").select("vec_id")
            surv = surv.join(old_ids, "vec_id", "left_anti")
            surv, (n,) = counted_checkpoint(surv)
            if n:
                ivf_index_append(spark, idx, surv)
        else:
            k0 = int(hist.get("num_clusters", 16))
            idx = os.path.join(root, "v0001") if auto else root
            surv, (n,) = counted_checkpoint(surv)
            if n:
                if hist.get("sq8"):
                    # scalar-quantized layout (r15): 8x smaller,
                    # near-lossless — auto_rebuild stays available
                    # (the index retrains from its own reconstruction)
                    from dbc_informed_socketcan_to_parquet_spark.operators.similarity import (
                        ivfpq_reconstruction_report,
                        sq8_index_write,
                    )

                    sq8_index_write(
                        surv, idx, num_clusters=k0,
                        n_iters=int(hist.get("n_iters", 2)))
                    out["index_reconstruction"] = ivfpq_reconstruction_report(
                        spark, idx, surv)
                elif hist.get("pq"):
                    # codes-only layout (r15): ~40x smaller store at
                    # production dims; later-day appends go through the
                    # same ivf_index_append call below, which detects the
                    # layout and delegates to the codes encoder
                    from dbc_informed_socketcan_to_parquet_spark.operators.similarity import (
                        ivfpq_index_write,
                        ivfpq_reconstruction_report,
                    )

                    m_str, b_str = str(hist["pq"]).lower().split("x", 1)
                    ivfpq_index_write(
                        surv, idx, num_clusters=k0,
                        num_subspaces=int(m_str), bits=int(b_str),
                        n_iters=int(hist.get("n_iters", 2)))
                    # calibration in the summary: the gate threshold must
                    # sit at/below p05 or true duplicates slip through
                    out["index_reconstruction"] = ivfpq_reconstruction_report(
                        spark, idx, surv)
                else:
                    ivf_index_write(
                        surv, idx, num_clusters=k0,
                        n_iters=int(hist.get("n_iters", 2)))
                if auto:
                    pointer = _ivf_publish(root, "v0001", k0)
        out["embeddings_appended"] = n
        if _stage_complete(f"{idx}/model"):
            advice = ivf_index_rebuild_advice(
                spark, idx,
                imbalance_threshold=float(hist.get("rebuild_imbalance", 4.0)))
            out["index_advice"] = advice
            # small-files health: every daily append adds >= 1 file per
            # touched cluster, so fragmentation grows with days even
            # when row growth is slow — surface the compaction trigger
            # next to the rebuild trigger (metadata-only scan)
            from dbc_informed_socketcan_to_parquet_spark.operators.similarity import (
                ivf_index_file_stats,
            )

            fs = ivf_index_file_stats(spark, idx).collect()
            n_files = sum(r.n_files for r in fs)
            mean_fpc = n_files / max(len(fs), 1)
            out["index_files"] = {
                "n_files": n_files, "clusters": len(fs),
                "mean_per_cluster": round(mean_fpc, 2),
                "compaction_advised": mean_fpc > 16,
            }
            # Auto-rebuild (r15) fires only when the recommendation is a
            # k the current version was NOT already built at: Lloyd's
            # drops empty clusters, so a retrain asked for k can land
            # fewer — re-firing on the same recommendation every day
            # would retrain forever for no gain.  A same-k imbalance
            # flag therefore stays advisory (out-of-band lever); k
            # GROWTH re-arms the trigger as the corpus keeps growing.
            if (auto and advice["rebuild"]
                    and int(advice["recommended_k"])
                    != int(pointer.get("requested_k", -1))):
                # publish-by-swap: retrain into the NEXT version dir,
                # then atomically repoint CURRENT.json — tomorrow's gate
                # arms from the rebuilt quantizer while today's readers
                # finish on the old one.  A crash mid-rebuild leaves the
                # pointer on the old version (still complete); the retry
                # overwrites the half-written dir.  Old versions are
                # retired out-of-band once no reader resolves them.
                new_v = f"v{int(os.path.basename(idx)[1:]) + 1:04d}"
                ivf_index_rebuild(
                    spark, idx, os.path.join(root, new_v),
                    num_clusters=int(advice["recommended_k"]),
                    n_iters=int(hist.get("n_iters", 2)))
                _ivf_publish(root, new_v, int(advice["recommended_k"]))
                out["index_rebuilt_to"] = new_v
                out["index_rebuilt_k"] = int(advice["recommended_k"])
    return out


def _ivf_pointer(root: str) -> "dict | None":
    """Parse an auto_rebuild root's ``CURRENT.json`` pointer
    (``{"version": "vNNNN", "requested_k": k}``), or None before day 1
    trains v0001.  ``requested_k`` is the k the serving version's
    training was ASKED for — Lloyd's drops empty clusters, so the
    stored model can hold fewer rows; the auto-rebuild trigger compares
    against the request to avoid retraining on the same recommendation
    forever."""
    import os

    p = os.path.join(root, "CURRENT.json")
    if not os.path.exists(p):
        return None
    with open(p) as f:
        return json.load(f)


def _ivf_active(hist: dict) -> "str | None":
    """Resolve the ACTIVE index path for the history embedding gate.
    Plain mode: the configured ``embeddings_index`` path itself.
    ``auto_rebuild`` mode (r15): that path is a VERSIONED ROOT —
    ``CURRENT.json`` names the serving version dir, so a rebuild can
    land at a new version and publish with one atomic pointer rename
    (a distributed store cannot atomically overwrite a directory being
    served).  Returns None before day 1 trains v0001."""
    import os

    root = hist["embeddings_index"]
    if not hist.get("auto_rebuild"):
        return root
    ptr = _ivf_pointer(root)
    return None if ptr is None else os.path.join(root, ptr["version"])


def _ivf_publish(root: str, version: str, requested_k: int) -> dict:
    """Atomically repoint ``CURRENT.json`` at a freshly-landed version
    dir — tmp + rename, the same publish primitive as resume markers;
    readers resolving mid-swap see either the old or the new complete
    index, never a partial one.  Returns the new pointer."""
    import os

    os.makedirs(root, exist_ok=True)
    ptr = {"version": version, "requested_k": int(requested_k)}
    tmp = os.path.join(root, "CURRENT.json.tmp")
    with open(tmp, "w") as f:
        json.dump(ptr, f)
    os.replace(tmp, os.path.join(root, "CURRENT.json"))
    return ptr


def _run_recipe_tail(
    spark: SparkSession,
    recipe: dict,
    kept: DataFrame,
    summary: dict,
    resume: "_RecipeResume | None",
) -> dict:
    """Post-curate recipe stages (history-store append → select → split
    summary → report → chunk → export), each ``resume``-gated when a
    resume_dir is set."""
    if "history" in recipe:
        frag = resume.done("history") if resume is not None else None
        if frag is not None:
            summary["history"] = frag
        else:
            summary["history"] = _update_history_stores(spark, recipe, kept)
            if resume is not None:
                resume.mark("history", summary["history"])
    if "select" in recipe and resume is not None:
        frag = resume.done("select", recipe["select"]["out"])
        if frag is not None:
            summary["select"] = frag
            kept = spark.read.parquet(recipe["select"]["out"])
    if "select" in recipe and "select" not in summary:
        # token-budget selection of the CURATED corpus (r13): keep the
        # highest-scoring docs until the budget fills; split/report/
        # chunk/export below consume the SELECTED set, while recipe.out
        # keeps the full curated table
        from dbc_informed_socketcan_to_parquet_spark.operators.sampling import (
            select_to_token_budget,
            select_to_token_budget_by_group,
        )

        sel = recipe["select"]
        sdf = kept
        score_col = sel.get("score_col", "score")
        if sel.get("classifier_path"):
            from dbc_informed_socketcan_to_parquet_spark.operators.textops import (
                classifier_score_from,
            )

            scored = classifier_score_from(sdf, sel["classifier_path"])
            sdf = sdf.join(
                scored.select("doc_id", F.col("prob").alias("_sel_score")),
                "doc_id")
            score_col = "_sel_score"
        token_col = sel.get("token_col", "n_tokens")
        if token_col not in sdf.columns:
            from dbc_informed_socketcan_to_parquet_spark.functions.text import tokens

            sdf = sdf.withColumn(
                token_col, F.size(tokens(F.col("text"))).cast("long"))
        if sel.get("group_col"):
            # r14: per-group budgets — an explicit map, or the flat
            # budget applied to every group present
            budgets = (
                {str(g): int(v) for g, v in sel["group_budgets"].items()}
                if sel.get("group_budgets") is not None
                else int(sel["budget"])
            )
            selected = select_to_token_budget_by_group(
                sdf, score_col=score_col, token_col=token_col,
                budgets=budgets, group_col=sel["group_col"],
                resolution=int(sel.get("resolution", 10_000)),
            )
        else:
            selected = select_to_token_budget(
                sdf, score_col=score_col, token_col=token_col,
                budget_tokens=int(sel["budget"]),
                resolution=int(sel.get("resolution", 10_000)),
            )
        if "_sel_score" in selected.columns:
            selected = selected.drop("_sel_score")
        selected.write.mode("overwrite").parquet(sel["out"])
        kept = spark.read.parquet(sel["out"])
        summary["select"] = {
            "n_docs": kept.count(),
            "n_tokens": int(kept.agg(F.sum(token_col)).collect()[0][0] or 0),
            "budget": (sel.get("group_budgets")
                       if sel.get("group_budgets") is not None
                       else int(sel["budget"])),
            "group_col": sel.get("group_col"),
            "out": sel["out"],
        }
        if resume is not None:
            resume.mark("select", summary["select"])

    if "split" in recipe:
        summary["split"] = {
            r["split"]: r["n"]
            for r in kept.groupBy("split").agg(F.count("*").alias("n")).collect()
        }

    if "report" in recipe and resume is not None:
        rep_outs = [recipe["report"].get("out")] + [
            spec.get("out")
            for spec in recipe["report"].values()
            if isinstance(spec, dict)
        ]
        frag = resume.done("report", *[p for p in rep_outs if p])
        if frag is not None:
            summary["report"] = frag
    if "report" in recipe and "report" not in summary:
        from dbc_informed_socketcan_to_parquet_spark.operators.textops import (
            corpus_report,
        )

        rep = corpus_report(
            kept,
            group_col=recipe["report"].get("group_col"),
            approx=recipe["report"].get("approx", False),
        )
        if recipe["report"].get("out"):
            rep.write.mode("overwrite").parquet(recipe["report"]["out"])
        summary["report"] = {
            "rows": rep.count(), "out": recipe["report"].get("out"),
        }
        fert_spec = recipe["report"].get("fertility")
        if fert_spec:
            # per-language tokenizer fertility (r10): the temperature_mix
            # budget numbers ride the same report stage; trained-BPE
            # units when bpe_path names a persisted model, else the
            # SQL-replayable regex proxy
            from dbc_informed_socketcan_to_parquet_spark.operators.bpe import (
                bpe_load,
                tokenizer_fertility,
            )

            opts = fert_spec if isinstance(fert_spec, dict) else {}
            merges = (
                bpe_load(spark, opts["bpe_path"]) if opts.get("bpe_path") else None
            )
            fert = tokenizer_fertility(
                kept, merges=merges, lang_col=opts.get("lang_col", "lang"),
            )
            if opts.get("out"):
                fert.write.mode("overwrite").parquet(opts["out"])
            summary["report"]["fertility"] = {
                "rows": fert.count(), "out": opts.get("out"),
                "units": "bpe" if merges is not None else "bpe_ish_regex",
            }
        ov_spec = recipe["report"].get("overlap")
        if ov_spec:
            # cross-source content overlap matrix (r11) — which ingest
            # streams duplicate each other, on the curated output
            from dbc_informed_socketcan_to_parquet_spark.operators.dedup import (
                source_overlap,
            )

            opts = ov_spec if isinstance(ov_spec, dict) else {}
            ov = source_overlap(
                kept,
                group_col=opts.get("group_col",
                                   recipe["report"].get("group_col") or "source"),
                shingle_n=int(opts.get("shingle_n", 3)),
            )
            if opts.get("out"):
                ov.write.mode("overwrite").parquet(opts["out"])
            summary["report"]["overlap"] = {
                "rows": ov.count(), "out": opts.get("out"),
            }
        sp_spec = recipe["report"].get("dup_spans")
        if sp_spec:
            # maximal duplicated-span report (r11) on the curated output
            from dbc_informed_socketcan_to_parquet_spark.operators.dedup import (
                duplicate_spans,
            )

            opts = sp_spec if isinstance(sp_spec, dict) else {}
            spans = duplicate_spans(
                kept,
                window_tokens=int(opts.get("window_tokens", 20)),
                min_count=int(opts.get("min_count", 2)),
            )
            if opts.get("out"):
                spans.write.mode("overwrite").parquet(opts["out"])
            summary["report"]["dup_spans"] = {
                "rows": spans.count(), "out": opts.get("out"),
            }
        vc_spec = recipe["report"].get("vocab_coverage")
        if vc_spec:
            # per-language OOV vs the corpus's own top-K word list (r12)
            from dbc_informed_socketcan_to_parquet_spark.operators.textops import (
                vocab_coverage,
            )

            opts = vc_spec if isinstance(vc_spec, dict) else {}
            cov = vocab_coverage(
                kept,
                top_k=int(opts.get("top_k", 1000)),
                lang_col=opts.get("lang_col", "lang"),
            )
            if opts.get("out"):
                cov.write.mode("overwrite").parquet(opts["out"])
            summary["report"]["vocab_coverage"] = {
                "rows": cov.count(), "out": opts.get("out"),
            }
        rp_spec = recipe["report"].get("repetition")
        if rp_spec:
            # per-doc Gopher repetition battery over the CURATED docs (r12)
            from dbc_informed_socketcan_to_parquet_spark.operators.textops import (
                gopher_repetition,
            )

            opts = rp_spec if isinstance(rp_spec, dict) else {}
            rept = gopher_repetition(kept)
            if opts.get("out"):
                rept.write.mode("overwrite").parquet(opts["out"])
            summary["report"]["repetition"] = {
                "rows": rept.count(), "out": opts.get("out"),
            }
        cs_spec = recipe["report"].get("cluster_sizes")
        if cs_spec:
            # near-dup cluster-size distribution over the CURATED docs (r12)
            from dbc_informed_socketcan_to_parquet_spark.operators.dedup import (
                cluster_size_report,
            )

            opts = cs_spec if isinstance(cs_spec, dict) else {}
            cs = cluster_size_report(
                kept, threshold=float(opts.get("threshold", 0.5)),
            )
            if opts.get("out"):
                cs.write.mode("overwrite").parquet(opts["out"])
            summary["report"]["cluster_sizes"] = {
                "rows": cs.count(), "out": opts.get("out"),
            }
        tp_spec = recipe["report"].get("topics")
        if tp_spec:
            # topic-structure report over the CURATED docs (r12) —
            # validation guarantees `embeddings` is present
            from dbc_informed_socketcan_to_parquet_spark.operators.similarity import (
                topic_report,
            )

            tp_df = topic_report(
                kept, spark.read.parquet(tp_spec["embeddings"]),
                num_clusters=int(tp_spec.get("k", 8)),
                top_terms=int(tp_spec.get("top_terms", 5)),
            )
            if tp_spec.get("out"):
                tp_df.write.mode("overwrite").parquet(tp_spec["out"])
            summary["report"]["topics"] = {
                "rows": tp_df.count(), "out": tp_spec.get("out"),
            }
        nv_spec = recipe["report"].get("novelty")
        if nv_spec:
            # distinct-n-gram novelty of the curated docs vs a reference
            # corpus (r12) — validation guarantees `against` is present
            from dbc_informed_socketcan_to_parquet_spark.operators.dedup import (
                ngram_novelty,
            )

            nov_df = ngram_novelty(
                kept, spark.read.parquet(nv_spec["against"]),
                n=int(nv_spec.get("n", 8)),
            )
            if nv_spec.get("out"):
                nov_df.write.mode("overwrite").parquet(nv_spec["out"])
            summary["report"]["novelty"] = {
                "rows": nov_df.count(), "out": nv_spec.get("out"),
            }
        ct_spec = recipe["report"].get("contamination")
        if ct_spec:
            # embedding-space contamination sweep against the PERSISTED
            # corpus index (r16, VERDICT r15 item 8): the production
            # posture — the corpus was indexed once (ivf_index_write /
            # the daily-incremental maintenance lane), so a benchmark
            # release sweep probes only the eval set's nearest cluster
            # partitions instead of re-running Lloyd's per invocation
            # (the semantic_contamination report operator's from-scratch
            # semantics are unchanged; this is the indexed twin)
            from dbc_informed_socketcan_to_parquet_spark.operators.similarity import (
                semantic_contamination_indexed,
            )

            ct_df = semantic_contamination_indexed(
                spark, ct_spec["index"],
                spark.read.parquet(ct_spec["eval_embeddings"]),
                threshold=float(ct_spec.get("threshold", 0.9)),
                nprobe=int(ct_spec.get("nprobe", 4)),
                id_col=str(ct_spec.get("id_col", "vec_id")),
                vec_col=str(ct_spec.get("vec_col", "embedding")),
            )
            if ct_spec.get("out"):
                ct_df.write.mode("overwrite").parquet(ct_spec["out"])
            summary["report"]["contamination"] = {
                "rows": ct_df.count(), "out": ct_spec.get("out"),
            }
        if resume is not None:
            resume.mark("report", summary["report"])

    if "chunk" in recipe and resume is not None:
        frag = resume.done("chunk", recipe["chunk"]["out"])
        if frag is not None:
            summary["chunk"] = frag
    if "chunk" in recipe and "chunk" not in summary:
        # context-length chunking of the CURATED output (r11) — a
        # separate artifact next to `out`; export below still packs the
        # doc-granularity table (chunk consumers read chunk.out)
        from dbc_informed_socketcan_to_parquet_spark.operators.sampling import (
            chunk_documents,
        )

        ch = recipe["chunk"]
        chunks = chunk_documents(
            kept, max_tokens=int(ch["chunk_tokens"]),
            overlap=int(ch.get("overlap_tokens", 0)),
        )
        chunks.write.mode("overwrite").parquet(ch["out"])
        summary["chunk"] = {
            "n_chunks": spark.read.parquet(ch["out"]).count(), "out": ch["out"],
        }
        if resume is not None:
            resume.mark("chunk", summary["chunk"])

    if "export" in recipe and resume is not None:
        import os as _os

        frag = resume.done("export")
        if frag is not None and _os.path.exists(
            _os.path.join(recipe["export"]["out"], "_manifest.json")
        ):
            summary["export"] = frag
    if "export" in recipe and "export" not in summary:
        from dbc_informed_socketcan_to_parquet_spark.storage import (
            export_training_shards,
        )

        ex = recipe["export"]
        token_col = ex.get("token_col")
        docs_ex = kept
        if token_col is None and ex.get("bpe_path"):
            # real-tokenizer budgets (same hand-off as `export --bpe-path`):
            # count with the persisted BPE vocab instead of whitespace
            from dbc_informed_socketcan_to_parquet_spark.operators.bpe import (
                bpe_load,
                bpe_token_count,
            )

            token_col = "n_tokens"
            docs_ex = bpe_token_count(
                docs_ex, bpe_load(spark, ex["bpe_path"]),
                text_col="text", out_col=token_col,
            )
        elif token_col is None:
            from dbc_informed_socketcan_to_parquet_spark.functions.text import tokens

            token_col = "n_tokens"
            if token_col not in docs_ex.columns:
                docs_ex = docs_ex.withColumn(
                    token_col, F.size(tokens(F.col("text"))).cast("long")
                )
        manifest = export_training_shards(
            docs_ex, ex["out"], token_col, int(ex["max_tokens"]),
            num_shards=int(ex.get("num_shards", 64)),
            seed=int(ex.get("seed", 0)),
        )
        summary["export"] = {
            "out": ex["out"], "n_shards": len(manifest.get("shards", [])),
        }
        if resume is not None:
            resume.mark("export", summary["export"])
    return summary
