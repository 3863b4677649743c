"""CLI front-end — argument-surface parity with the reference binary
(C1, /root/reference/src/arguments.h:40-110), minus its parsing bugs
(``--forward-fill``/``--no-adjust-timestamp`` swallowing the next token,
arguments.h:84-85,95-96,106 — argparse gets this right for free).

    python -m dbc_informed_socketcan_to_parquet_spark fs.dbc \
        --if capture.log --of out.parquet --cache 10 --file \
        --live-decode ACC_STATUS_GLV_VOLTAGE
"""

from __future__ import annotations

import argparse

from dbc_informed_socketcan_to_parquet_spark.plans.pipeline import DecodePipeline, PipelineConfig
from dbc_informed_socketcan_to_parquet_spark.session import get_spark


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(prog="dbc_informed_socketcan_to_parquet_spark")
    p.add_argument("dbc", help="DBC signal-dictionary file")
    p.add_argument("--if", dest="input_path", help="input file (candump log or parquet)")
    p.add_argument("--of", dest="output_path", help="output parquet path")
    p.add_argument("--file", dest="fmt", action="store_const", const="file", default="file")
    p.add_argument("--parquet", dest="fmt", action="store_const", const="parquet")
    p.add_argument("--stdin", dest="fmt", action="store_const", const="stdin")
    p.add_argument("--socket", dest="socket_name", default=None, help="stream from TCP socket host:port")
    p.add_argument("--cache", type=float, default=0.0, help="bucket width in ms (0 = row per message)")
    p.add_argument("--forward-fill", action="store_true")
    p.add_argument("--live-decode", action="append", default=[], metavar="SIGNAL")
    p.add_argument("--no-adjust-timestamp", action="store_true")
    p.add_argument("--first-wins", action="store_true", help="v2 first-write-wins bucket semantics")
    p.add_argument("--audit", action="store_true",
                   help="print the decode drop funnel (malformed lines, unknown "
                        "CAN ids) instead of writing output — the losses the "
                        "chain otherwise drops silently")
    return p


def build_curate_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(prog="dbc_informed_socketcan_to_parquet_spark curate")
    p.add_argument("--in", dest="input_path", required=True,
                   help="input documents (parquet dir/file, or JSONL with --jsonl)")
    p.add_argument("--out", dest="output_path", required=True, help="output path")
    p.add_argument("--jsonl", action="store_true",
                   help="read/write JSONL instead of parquet (corrupt lines quarantined to <out>_quarantine)")
    p.add_argument("--id-col", default="doc_id")
    p.add_argument("--text-col", default="text")
    p.add_argument("--min-chars", type=int, default=32)
    p.add_argument("--min-quality", type=float, default=0.5)
    p.add_argument("--jaccard", type=float, default=0.8, help="near-dup verify threshold")
    p.add_argument("--paragraph-dedup", action="store_true")
    p.add_argument("--hot-span-window", type=int, default=None,
                   help="exact-substring scrub: cut token windows of this size "
                        "repeated >= --hot-span-min-count times corpus-wide")
    p.add_argument("--hot-span-min-count", type=int, default=5)
    p.add_argument("--gopher", action="store_true",
                   help="additionally require every Gopher quality rule")
    p.add_argument("--gopher-repetition", action="store_true",
                   help="additionally require every published Gopher "
                        "REPETITION rule (dup line/para fractions, top "
                        "n-gram char coverage, dup n-gram fractions)")
    p.add_argument("--max-perplexity", type=float, default=None,
                   help="bigram-LM gate (trains on --lm-corpus if given, else on survivors)")
    p.add_argument("--lm-corpus", default=None, help="trusted reference parquet for the LM gate")
    p.add_argument("--lm-path", default=None,
                   help="persisted bigram LM dir (textops.lm_write) — scores from disk, no training pass")
    p.add_argument("--keep-ppl-tier", action="append", default=[],
                   choices=("head", "middle", "tail"),
                   help="CCNet partition: keep only these relative perplexity "
                        "tiers (repeatable; shares the LM scoring pass)")
    p.add_argument("--classifier-path", default=None,
                   help="persisted classifier dir (textops.classifier_write); enables the gate with --min-clf-prob")
    p.add_argument("--min-clf-prob", type=float, default=None,
                   help="classifier gate threshold (needs --classifier-path)")
    p.add_argument("--hash", choices=("xxhash", "md5"), default="xxhash")
    p.add_argument("--lang", action="append", default=[],
                   help="keep only docs lang_id predicts as this language (repeatable)")
    p.add_argument("--lang-model", default=None,
                   help="persisted trained language-ID model dir (langid.lang_write); "
                        "the --lang gate predicts with it instead of the stopword heuristic")
    p.add_argument("--against", default=None,
                   help="existing curated corpus parquet: drop batch docs whose content "
                        "already appears there (Bloom-gated exact incremental dedup)")
    p.add_argument("--against-sigs", default=None,
                   help="persisted MinHash signature store (dedup.minhash_write): "
                        "additionally drop batch docs that NEAR-duplicate history "
                        "(band collision + --jaccard verify; store never shuffles)")
    p.add_argument("--url-col", default=None,
                   help="enable the URL front door (blocklist/dedup/cap) on this column")
    p.add_argument("--block-domain", action="append", default=[],
                   help="drop docs from this domain or its subdomains (repeatable)")
    p.add_argument("--url-dedup", action="store_true",
                   help="collapse canonical-URL duplicates (first occurrence wins)")
    p.add_argument("--max-per-domain", type=int, default=None,
                   help="cap any one domain at this many docs (in expectation)")
    p.add_argument("--extract-html", action="store_true",
                   help="text column is raw HTML: strip markup, decode entities, "
                        "drop boilerplate lines before any text stage")
    p.add_argument("--html-min-words", type=int, default=3,
                   help="boilerplate gate: keep lines with at least this many words")
    p.add_argument("--html-max-link-density", type=float, default=0.5,
                   help="boilerplate gate: drop lines with more anchor text than this fraction")
    p.add_argument("--max-pii", type=int, default=None,
                   help="drop docs with more than this many email/phone/IP hits "
                        "(counted pre-scrub — contact-scrape pages)")
    p.add_argument("--min-compression-ratio", type=float, default=None,
                   help="drop docs whose zlib compression ratio falls below this "
                        "floor (templated/looping text; prose is ~0.3-0.6)")
    p.add_argument("--survivor", choices=("min_id", "quality"), default="min_id",
                   help="near-dup survivor rule: deterministic min id, or each "
                        "cluster's highest-quality member")
    p.add_argument("--embeddings", default=None,
                   help="doc-embedding parquet (id + vector column) for the "
                        "embedding-space decontamination gate")
    p.add_argument("--eval-embeddings", default=None,
                   help="eval-set embedding parquet (same schema)")
    p.add_argument("--decon-cosine", type=float, default=None,
                   help="drop docs whose embedding reaches this cosine against "
                        "any eval embedding (needs --embeddings + --eval-embeddings)")
    p.add_argument("--decon-mode", choices=("exact", "ivf"), default="exact")
    p.add_argument("--eval-corpus", default=None,
                   help="eval-set TEXT parquet for the span-level verbatim "
                        "decontamination scrub (--decon-spans)")
    p.add_argument("--decon-spans", type=int, default=None, metavar="W",
                   help="cut every token inside a W-token run shared verbatim "
                        "with --eval-corpus (the doc survives minus the quote)")
    p.add_argument("--preserve-separators", action="store_true",
                   help="span scrub keeps each surviving token's original "
                        "trailing whitespace (newlines/tabs), so paragraph-"
                        "level stages downstream stay meaningful")
    p.add_argument("--embeddings-id-col", default=None,
                   help="embedding tables' id column when it differs from --id-col")
    p.add_argument("--against-embeddings", default=None, metavar="INDEX",
                   help="r14: persisted IVF index dir (ivf_index_write) over "
                        "HISTORY embeddings; batch docs whose embedding "
                        "near-duplicates history drop (needs --embeddings). "
                        "r15: codes-only IVF-PQ indexes (index-embeddings "
                        "--pq) and auto-rebuild versioned roots both serve "
                        "transparently")
    p.add_argument("--against-cosine", type=float, default=0.9,
                   help="cosine threshold for --against-embeddings; for a "
                        "PQ index pick it at/below the reconstruction p05 "
                        "the index build printed")
    p.add_argument("--against-nprobe", type=int, default=4,
                   help="history clusters each batch doc probes")
    p.add_argument("--stage-dir", default=None,
                   help="resumable staged execution: materialize every stage "
                        "boundary to this dir; a re-run after a failure loads "
                        "completed stages instead of recomputing them")
    p.add_argument("--audit", action="store_true",
                   help="print the per-stage drop funnel (stage, rows_in, rows_out, "
                        "dropped) instead of writing the curated output")
    p.add_argument("--dropped-out", default=None,
                   help="with --audit: also write the row-level (id, dropped_at) "
                        "lineage parquet — which stage dropped each document")
    return p


def run_curate(argv: list[str]) -> None:
    from dbc_informed_socketcan_to_parquet_spark.operators.curate import CurateConfig, curate

    parser = build_curate_parser()
    args = parser.parse_args(argv)
    if args.lm_corpus and args.max_perplexity is None:
        parser.error("--lm-corpus has no effect without --max-perplexity (the LM gate threshold)")
    if args.lm_path and args.max_perplexity is None:
        parser.error("--lm-path has no effect without --max-perplexity (the LM gate threshold)")
    if args.min_clf_prob is not None and not args.classifier_path:
        parser.error("--min-clf-prob needs --classifier-path (the persisted model to score with)")
    spark = get_spark("curate-cli")
    if args.jsonl:
        from dbc_informed_socketcan_to_parquet_spark.sources.jsonl import (
            read_jsonl,
            split_corrupt,
            write_jsonl,
        )

        docs, quarantine = split_corrupt(read_jsonl(spark, args.input_path))
        n_bad = quarantine.count()
        if n_bad:
            write_jsonl(quarantine, f"{args.output_path}_quarantine")
    else:
        docs = spark.read.parquet(args.input_path)
        n_bad = 0
    cfg = CurateConfig(
        min_chars=args.min_chars,
        min_quality=args.min_quality,
        jaccard_threshold=args.jaccard,
        paragraph_dedup=args.paragraph_dedup,
        hot_span_window=args.hot_span_window,
        hot_span_min_count=args.hot_span_min_count,
        max_perplexity=args.max_perplexity,
        keep_ppl_tiers=tuple(args.keep_ppl_tier),
        against_sigs_path=args.against_sigs,
        gopher=args.gopher,
        gopher_repetition=args.gopher_repetition,
        hash_fn=args.hash,
        lm_path=args.lm_path,
        classifier_path=args.classifier_path,
        min_clf_prob=args.min_clf_prob,
        allowed_langs=tuple(args.lang),
        lang_model_path=args.lang_model,
        url_col=args.url_col,
        url_blocklist=tuple(args.block_domain),
        url_dedup=args.url_dedup,
        max_per_domain=args.max_per_domain,
        html_extract=args.extract_html,
        html_min_words=args.html_min_words,
        html_max_link_density=args.html_max_link_density,
        max_pii=args.max_pii,
        min_compression_ratio=args.min_compression_ratio,
        survivor=args.survivor,
        decon_cosine=args.decon_cosine,
        decon_mode=args.decon_mode,
        decon_id_col=args.embeddings_id_col,
        decon_span_window=args.decon_spans,
        decon_span_preserve_seps=args.preserve_separators,
        against_embeddings_path=args.against_embeddings,
        against_cosine=args.against_cosine,
        against_nprobe=args.against_nprobe,
    )
    if args.url_col is None and (args.block_domain or args.url_dedup or args.max_per_domain):
        parser.error("--block-domain/--url-dedup/--max-per-domain require --url-col")
    if args.lang_model and not args.lang:
        parser.error("--lang-model has no effect without --lang (the languages to keep)")
    lm_corpus = spark.read.parquet(args.lm_corpus) if args.lm_corpus else None
    against = spark.read.parquet(args.against) if args.against else None
    if args.decon_cosine is not None and not (args.embeddings and args.eval_embeddings):
        parser.error("--decon-cosine needs --embeddings and --eval-embeddings")
    if args.against_embeddings and not args.embeddings:
        parser.error("--against-embeddings needs --embeddings (the batch "
                     "embedding table to probe with)")
    if (args.decon_spans is None) != (args.eval_corpus is None):
        parser.error("--decon-spans and --eval-corpus go together")
    doc_emb = spark.read.parquet(args.embeddings) if args.embeddings else None
    eval_emb = spark.read.parquet(args.eval_embeddings) if args.eval_embeddings else None
    eval_corpus = spark.read.parquet(args.eval_corpus) if args.eval_corpus else None
    if args.audit:
        # ONE traced run feeds both reports via the operators' own
        # trace-folding helpers (curate.audit_rows_from_trace /
        # dropped_from_trace) — the CLI only formats/writes, so the
        # telescoping logic has a single home.  The funnel counts run
        # first and materialize each lazy checkpoint; the lineage
        # anti-joins then reuse them.
        from dbc_informed_socketcan_to_parquet_spark.operators.curate import (
            audit_rows_from_trace,
            curate,
            dropped_from_trace,
        )

        trace: list = []
        curate(docs, args.id_col, args.text_col, cfg,
               lm_corpus=lm_corpus, against_corpus=against,
               doc_embeddings=doc_emb, eval_embeddings=eval_emb,
               eval_corpus=eval_corpus,
               stage_dir=args.stage_dir, _trace=trace)
        for i, stage, n_in, n_out, dropped in audit_rows_from_trace(docs, trace):
            print(f"audit {i} {stage}: {n_in} -> {n_out} (-{dropped})")
        if args.dropped_out:
            lineage = dropped_from_trace(docs, args.id_col, trace)
            lineage.write.mode("overwrite").parquet(args.dropped_out)
            print(f"wrote drop lineage to {args.dropped_out}")
        return
    # persist across write + count: one pipeline execution, and the count
    # never re-reads the output (an empty JSONL dir has no schema to infer)
    kept = curate(
        docs, args.id_col, args.text_col, cfg,
        lm_corpus=lm_corpus, against_corpus=against,
        doc_embeddings=doc_emb, eval_embeddings=eval_emb,
        eval_corpus=eval_corpus,
        stage_dir=args.stage_dir,
    ).persist()
    try:
        if args.jsonl:
            from dbc_informed_socketcan_to_parquet_spark.sources.jsonl import write_jsonl

            write_jsonl(kept, args.output_path)
        else:
            kept.write.mode("overwrite").parquet(args.output_path)
        n_in, n_out = docs.count(), kept.count()
    finally:
        kept.unpersist()
    print(f"curated {n_in} -> {n_out} documents ({n_bad} quarantined lines)")


def build_export_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(prog="dbc_informed_socketcan_to_parquet_spark export")
    p.add_argument("--in", dest="input_path", required=True,
                   help="curated documents parquet (needs an id and a token-count column)")
    p.add_argument("--out", dest="output_path", required=True, help="shard output dir")
    p.add_argument("--token-col", default="n_tokens")
    p.add_argument("--id-col", default="doc_id")
    p.add_argument("--max-tokens", type=int, required=True, help="token budget per packed sequence")
    p.add_argument("--shards", type=int, default=64, help="fixed shard count (reproducibility contract)")
    p.add_argument("--seed", type=int, default=0, help="epoch permutation seed")
    p.add_argument("--bpe-path", default=None,
                   help="persisted BPE model (bpe_write): derive --token-col from --text-col "
                        "in trained-tokenizer units instead of requiring it precomputed")
    p.add_argument("--text-col", default="text", help="text column for --bpe-path tokenization")
    return p


def run_export(argv: list[str]) -> None:
    from dbc_informed_socketcan_to_parquet_spark.storage import export_training_shards

    args = build_export_parser().parse_args(argv)
    spark = get_spark("export-cli")
    docs = spark.read.parquet(args.input_path)
    if args.bpe_path:
        from dbc_informed_socketcan_to_parquet_spark.operators.bpe import (
            bpe_load,
            bpe_token_count,
        )

        docs = bpe_token_count(
            docs, bpe_load(spark, args.bpe_path),
            text_col=args.text_col, out_col=args.token_col,
        )
    manifest = export_training_shards(
        docs, args.output_path, args.token_col, args.max_tokens,
        num_shards=args.shards, id_col=args.id_col, seed=args.seed,
    )
    print(f"exported {manifest['total_docs']} docs / {manifest['total_tokens']} tokens "
          f"in {manifest['total_packs']} packs across {manifest['num_shards']} shards "
          f"(seed {manifest['seed']})")


def build_stream_curate_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(prog="dbc_informed_socketcan_to_parquet_spark stream-curate")
    p.add_argument("--in", dest="input_dir", required=True,
                   help="JSONL landing directory (new shards picked up per micro-batch)")
    p.add_argument("--out", dest="output_dir", required=True, help="curated parquet dir")
    p.add_argument("--checkpoint", required=True,
                   help="checkpoint dir (dedup state + progress; reuse across runs)")
    p.add_argument("--quarantine", default=None, help="corrupt-line JSONL dir")
    p.add_argument("--min-chars", type=int, default=32)
    p.add_argument("--min-quality", type=float, default=0.5)
    p.add_argument("--gopher-repetition", action="store_true",
                   help="additionally require every published Gopher "
                        "REPETITION rule (stateless row-local battery)")
    p.add_argument("--watermark", default="10 minutes", help="dedup state horizon")
    p.add_argument("--max-files-per-trigger", type=int, default=16)
    p.add_argument("--available-now", action="store_true",
                   help="drain the landing dir and stop (catch-up mode) instead of running continuously")
    p.add_argument("--lm-path", default=None, help="persisted LM dir (textops.lm_write)")
    p.add_argument("--max-perplexity", type=float, default=None)
    p.add_argument("--classifier-path", default=None,
                   help="persisted classifier dir (textops.classifier_write)")
    p.add_argument("--min-clf-prob", type=float, default=None)
    p.add_argument("--lang", action="append", default=[],
                   help="keep only docs the trained model predicts as this language (repeatable; needs --lang-model)")
    p.add_argument("--lang-model", default=None,
                   help="persisted trained language-ID model dir (langid.lang_write)")
    p.add_argument("--extract-html", action="store_true",
                   help="text field is raw HTML: extract rendered text first")
    p.add_argument("--html-min-words", type=int, default=3)
    p.add_argument("--html-max-link-density", type=float, default=0.5)
    p.add_argument("--warc", action="store_true",
                   help="landing dir holds *.warc[.gz] crawl segments instead of "
                        "JSONL; implies HTML extraction (sources/warc stream reader)")
    p.add_argument("--max-pii", type=int, default=None,
                   help="drop docs with more than this many email/phone/IP hits "
                        "(row-local pre-scrub count)")
    p.add_argument("--min-compression-ratio", type=float, default=None,
                   help="drop docs whose zlib ratio falls below this floor "
                        "(row-local repetition gate)")
    p.add_argument("--against", default=None,
                   help="historical corpus parquet: drop arriving docs whose "
                        "content already exists there (stream-static digest join)")
    p.add_argument("--against-sigs", default=None,
                   help="persisted MinHash signature store (dedup.minhash_write, "
                        "md5 family): drop arriving docs that NEAR-duplicate "
                        "history (per-band rep verify at --jaccard)")
    p.add_argument("--jaccard", type=float, default=0.5,
                   help="--against-sigs verify threshold")
    p.add_argument("--eval-corpus", default=None,
                   help="eval-set TEXT parquet for the span-level verbatim "
                        "decontamination scrub (--decon-spans); hash set built "
                        "once, scrub is stateless row-local")
    p.add_argument("--decon-spans", type=int, default=None, metavar="W",
                   help="cut every token inside a W-token run shared verbatim "
                        "with --eval-corpus from each arriving doc")
    p.add_argument("--audit", action="store_true",
                   help="observe per-gate drop counts (CollectMetrics on the one "
                        "streaming plan) and print the funnel after an "
                        "--available-now drain")
    return p


def run_stream_curate(argv: list[str]) -> None:
    from dbc_informed_socketcan_to_parquet_spark.streaming.curate import (
        run_streaming_curate,
    )

    parser = build_stream_curate_parser()
    args = parser.parse_args(argv)
    if args.max_perplexity is not None and not args.lm_path:
        parser.error("--max-perplexity needs --lm-path")
    if args.min_clf_prob is not None and not args.classifier_path:
        parser.error("--min-clf-prob needs --classifier-path")
    if args.lang and not args.lang_model:
        parser.error("--lang needs --lang-model (the streaming gate scores row-locally "
                     "against a trained model, not the heuristic)")
    if (args.decon_spans is None) != (args.eval_corpus is None):
        parser.error("--decon-spans and --eval-corpus go together")
    spark = get_spark("stream-curate-cli")
    listener = None
    if args.audit:
        # listener-bus accumulation: complete funnel totals even when the
        # drain exceeds recentProgress's ~100-update retention window
        from dbc_informed_socketcan_to_parquet_spark.streaming.curate import (
            _make_funnel_listener,
        )

        listener = _make_funnel_listener()
        spark.streams.addListener(listener)
    queries = run_streaming_curate(
        spark, args.input_dir, args.output_dir, args.checkpoint,
        min_chars=args.min_chars, min_quality=args.min_quality,
        watermark=args.watermark, quarantine_dir=args.quarantine,
        max_files_per_trigger=args.max_files_per_trigger,
        available_now=args.available_now,
        lm_path=args.lm_path, max_perplexity=args.max_perplexity,
        classifier_path=args.classifier_path, min_clf_prob=args.min_clf_prob,
        lang_model_path=args.lang_model, allowed_langs=tuple(args.lang),
        extract_html=args.extract_html, html_min_words=args.html_min_words,
        html_max_link_density=args.html_max_link_density,
        input_format="warc" if args.warc else "jsonl",
        max_pii=args.max_pii,
        min_compression_ratio=args.min_compression_ratio,
        gopher_repetition=args.gopher_repetition,
        against_path=args.against, against_sigs_path=args.against_sigs,
        against_jaccard=args.jaccard,
        eval_corpus_path=args.eval_corpus, decon_span_window=args.decon_spans,
        observe_funnel=args.audit,
    )
    # C2 graceful shutdown, same contract as the decode stream: SIGINT
    # stops cleanly; committed micro-batches stay durable via checkpoint
    try:
        for q in queries:
            q.awaitTermination()
    except KeyboardInterrupt:
        for q in queries:
            q.stop()
    if args.available_now:
        if args.audit:
            # listener totals cover every micro-batch of the drain; the
            # listener bus delivers progress events asynchronously, so
            # give it a beat to flush the final batch before reading
            import time as _time

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
                _time.sleep(0.1)
            for i, row in enumerate(listener.funnel(), start=1):
                print(f"audit {i} {row['stage']}: "
                      f"{row['rows_in']} -> {row['rows_out']} (-{row['dropped']})")
            spark.streams.removeListener(listener)
        # an empty landing dir drains zero micro-batches, so the sink dir
        # may not exist (or hold only _spark_metadata) — report 0 for
        # THOSE cases only; any other read failure (corrupt footer,
        # permissions) must surface, not masquerade as an empty drain.
        # Probed by error condition, not os.path (r13, ADVICE r12): a
        # driver-local isdir is always False for s3://... / hdfs://...
        # outputs and silently reported 0 on remote storage.
        from pyspark.errors import AnalysisException

        try:
            n = spark.read.parquet(args.output_dir).count()
        except AnalysisException as e:
            cond = e.getCondition() if hasattr(e, "getCondition") else None
            # _LEGACY_ERROR_TEMP_1134 is UNABLE_TO_INFER_SCHEMA raised by
            # the streaming-sink read path (dir holding only
            # _spark_metadata after a zero-batch drain)
            if cond not in ("PATH_NOT_FOUND", "UNABLE_TO_INFER_SCHEMA",
                            "_LEGACY_ERROR_TEMP_1134"):
                raise
            n = 0
        print(f"stream-curate drained: {n} documents landed")


def build_train_classifier_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(prog="dbc_informed_socketcan_to_parquet_spark train-classifier")
    p.add_argument("--in", dest="input_path", required=True,
                   help="labeled parquet corpus (id, text, label columns)")
    p.add_argument("--out", dest="output_path", required=True,
                   help="model dir (classifier_write layout: weights/ + meta/)")
    p.add_argument("--id-col", default="doc_id")
    p.add_argument("--text-col", default="text")
    p.add_argument("--label-col", default="label",
                   help="0/1 (or boolean) quality label column")
    p.add_argument("--num-features", type=int, default=1 << 18)
    p.add_argument("--no-bigrams", action="store_true")
    p.add_argument("--iters", type=int, default=5)
    p.add_argument("--lr", type=float, default=1.0)
    p.add_argument("--l2", type=float, default=0.0)
    p.add_argument("--seed", default="clf")
    return p


def run_train_classifier(argv: list[str]) -> None:
    """Train the hashed quality classifier in-engine and persist it in
    the classifier_write layout, ready for `curate --classifier-path` /
    `stream-curate --classifier-path` — closes the train→persist→score
    production loop without an external trainer."""
    from dbc_informed_socketcan_to_parquet_spark.operators.textops import (
        classifier_train,
        classifier_write,
    )

    args = build_train_classifier_parser().parse_args(argv)
    spark = get_spark("train-classifier-cli")
    docs = spark.read.parquet(args.input_path)
    weights, bias = classifier_train(
        docs, label_col=args.label_col, id_col=args.id_col,
        text_col=args.text_col, num_features=args.num_features,
        bigrams=not args.no_bigrams, seed=args.seed,
        n_iters=args.iters, lr=args.lr, l2=args.l2,
    )
    classifier_write(
        weights, args.output_path, num_features=args.num_features,
        bigrams=not args.no_bigrams, bias=bias, seed=args.seed,
    )
    n_w = weights.count()
    print(f"trained classifier: {n_w} feature weights, bias {bias}; "
          f"wrote {args.output_path}")


def build_ingest_warc_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(prog="dbc_informed_socketcan_to_parquet_spark ingest-warc")
    p.add_argument("--in", dest="input_path", required=True,
                   help="WARC file, or directory of *.warc / *.warc.gz segments")
    p.add_argument("--out", dest="output_path", required=True,
                   help="output documents parquet")
    p.add_argument("--record-types", default="response",
                   help="comma-separated WARC-Type filter ('*' = all)")
    p.add_argument("--all-content", action="store_true",
                   help="keep every content type (default: text/html only)")
    p.add_argument("--keep-all-status", action="store_true",
                   help="keep every HTTP status (default: 200 only)")
    p.add_argument("--extract-html", action="store_true",
                   help="run htmlops.extract_text so `text` is prose, not markup")
    p.add_argument("--max-content-length", type=int, default=8 * 1024 * 1024,
                   help="skip payloads larger than this many bytes")
    return p


def run_ingest_warc(argv: list[str]) -> None:
    """Crawl front door: WARC segments → documents parquet.  One
    streaming task per segment file (sources/warc.WarcReader); doc_id is
    the content-independent xxhash64 of (record_id, url) so re-ingesting
    the same crawl is idempotent.  With --extract-html the output feeds
    `curate` directly."""
    from pyspark.sql import functions as F

    from dbc_informed_socketcan_to_parquet_spark.sources.warc import read_warc

    args = build_ingest_warc_parser().parse_args(argv)
    spark = get_spark("ingest-warc-cli")
    recs = read_warc(
        spark, args.input_path, record_types=args.record_types,
        html_only=not args.all_content,
        max_content_length=args.max_content_length,
    ).where(F.col("parse_ok") & F.col("text").isNotNull())
    if not args.keep_all_status:
        recs = recs.where(F.col("http_status") == 200)
    docs = recs.select(
        F.xxhash64("record_id", "url").alias("doc_id"),
        "url", "warc_date", "content_type", "text", "warc_file",
    )
    if args.extract_html:
        from dbc_informed_socketcan_to_parquet_spark.operators.htmlops import extract_text

        docs = extract_text(docs, "text", out_col="text")
    docs.write.mode("overwrite").parquet(args.output_path)
    n = spark.read.parquet(args.output_path).count()
    print(f"ingested {n} documents from WARC at {args.input_path}")


def build_report_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(prog="dbc_informed_socketcan_to_parquet_spark report")
    p.add_argument("--in", dest="input_path", required=True,
                   help="documents parquet to report on")
    p.add_argument("--text-col", default="text")
    p.add_argument("--id-col", default="doc_id")
    p.add_argument("--group-col", default=None,
                   help="per-group rows + grand total (e.g. lang, source)")
    p.add_argument("--approx", action="store_true",
                   help="HLL cardinality + approx percentiles (the 100 TB mode)")
    p.add_argument("--out", dest="output_path", default=None,
                   help="also write the report as parquet")
    p.add_argument("--fertility", action="store_true",
                   help="also print the per-language tokenizer fertility "
                        "report (tokens/word, tokens/char — the temperature_mix "
                        "budget numbers); BPE-ish regex units unless "
                        "--fertility-bpe names a trained model")
    p.add_argument("--fertility-bpe", default=None,
                   help="persisted BPE model dir (bpe_write): fertility in "
                        "trained-tokenizer units (implies --fertility)")
    p.add_argument("--lang-col", default="lang",
                   help="language column for the fertility report")
    p.add_argument("--overlap", action="store_true",
                   help="also print the pairwise cross-source content "
                        "overlap matrix (shared distinct word shingles + "
                        "shingle-level Jaccard per --group-col pair) — the "
                        "cross-stream dedup priority report")
    p.add_argument("--overlap-shingle-n", type=int, default=3,
                   help="word-shingle size for --overlap")
    p.add_argument("--dup-spans", action="store_true",
                   help="also print the maximal duplicated-span report "
                        "(per-doc token spans covered by repeated "
                        "--span-window-token windows)")
    p.add_argument("--span-window-tokens", type=int, default=20)
    p.add_argument("--span-min-count", type=int, default=2,
                   help="a window is duplicated at this corpus-wide count")
    p.add_argument("--vocab-coverage", action="store_true",
                   help="also print the per-language OOV rate against the "
                        "corpus's own top-K word list (the pre-tokenizer "
                        "fragmentation signal)")
    p.add_argument("--vocab-top-k", type=int, default=1000,
                   help="vocabulary size for --vocab-coverage")
    p.add_argument("--repetition", action="store_true",
                   help="also print the per-doc Gopher repetition battery "
                        "(dup line/paragraph fractions, top n-gram char "
                        "coverage, dup n-gram fractions), worst docs first")
    p.add_argument("--topics-embeddings", metavar="PATH",
                   help="also print the topic-structure report: Lloyd's "
                        "clusters over this embedding parquet (id must "
                        "match --id-col values), each labeled with its "
                        "most distinctive terms")
    p.add_argument("--topics-k", type=int, default=8,
                   help="cluster count for --topics-embeddings (power of 2)")
    p.add_argument("--cluster-sizes", action="store_true",
                   help="also print the near-dup cluster-size distribution "
                        "(star-edge LSH clustering; singleton row included, "
                        "frac_docs sums to 1)")
    p.add_argument("--cluster-jaccard", type=float, default=0.5,
                   help="estimated-Jaccard edge verification threshold for "
                        "--cluster-sizes")
    p.add_argument("--novelty-against", metavar="PATH",
                   help="also score each doc's distinct word-n-gram novelty "
                        "against a reference parquet corpus at PATH")
    p.add_argument("--novelty-n", type=int, default=8,
                   help="n-gram size for --novelty-against")
    return p


def run_report(argv: list[str]) -> None:
    """Corpus health report: one rollup aggregation, printed (and
    optionally persisted) — the pre/post-curation sanity check."""
    from dbc_informed_socketcan_to_parquet_spark.operators.textops import corpus_report

    args = build_report_parser().parse_args(argv)
    spark = get_spark("report-cli")
    docs = spark.read.parquet(args.input_path)
    rep = corpus_report(
        docs, text_col=args.text_col,
        group_col=args.group_col, approx=args.approx,
    )
    if args.group_col:
        rep = rep.orderBy(F_asc_nulls_first(args.group_col))
    rep.show(truncate=False)
    if args.output_path:
        rep.write.mode("overwrite").parquet(args.output_path)
        print(f"wrote report to {args.output_path}")
    if args.fertility or args.fertility_bpe:
        from dbc_informed_socketcan_to_parquet_spark.operators.bpe import (
            bpe_load,
            tokenizer_fertility,
        )

        merges = bpe_load(spark, args.fertility_bpe) if args.fertility_bpe else None
        fert = tokenizer_fertility(
            docs, merges=merges, lang_col=args.lang_col, text_col=args.text_col,
        ).orderBy(F_asc_nulls_first("lang"))
        fert.show(truncate=False)
        if args.output_path:
            fert.write.mode("overwrite").parquet(f"{args.output_path}_fertility")
            print(f"wrote fertility report to {args.output_path}_fertility")
    if args.overlap:
        from dbc_informed_socketcan_to_parquet_spark.operators.dedup import (
            source_overlap,
        )

        group = args.group_col or "source"
        ov = source_overlap(
            docs, group_col=group, text_col=args.text_col,
            shingle_n=args.overlap_shingle_n,
        ).orderBy(F_desc("jaccard"), "source_a", "source_b")
        ov.show(truncate=False)
        if args.output_path:
            ov.write.mode("overwrite").parquet(f"{args.output_path}_overlap")
            print(f"wrote overlap report to {args.output_path}_overlap")
    if args.dup_spans:
        from dbc_informed_socketcan_to_parquet_spark.operators.dedup import (
            duplicate_spans,
        )

        spans = duplicate_spans(
            docs, text_col=args.text_col,
            window_tokens=args.span_window_tokens,
            min_count=args.span_min_count,
        ).orderBy(F_desc("span_tokens"))
        spans.show(truncate=False)
        if args.output_path:
            spans.write.mode("overwrite").parquet(f"{args.output_path}_spans")
            print(f"wrote duplicated-span report to {args.output_path}_spans")
    if args.vocab_coverage:
        from dbc_informed_socketcan_to_parquet_spark.operators.textops import (
            vocab_coverage,
        )

        cov = vocab_coverage(
            docs, top_k=args.vocab_top_k,
            lang_col=args.lang_col, text_col=args.text_col,
        ).orderBy(F_asc_nulls_first("lang"))
        cov.show(truncate=False)
        if args.output_path:
            cov.write.mode("overwrite").parquet(f"{args.output_path}_vocab")
            print(f"wrote vocab-coverage report to {args.output_path}_vocab")
    if args.repetition:
        from dbc_informed_socketcan_to_parquet_spark.operators.textops import (
            gopher_repetition,
        )

        rept = gopher_repetition(docs, id_col=args.id_col, text_col=args.text_col)
        rept.orderBy(F_desc("dup_line_char_frac")).show(20)
        if args.output_path:
            rept.write.mode("overwrite").parquet(f"{args.output_path}_repetition")
            print(f"wrote repetition report to {args.output_path}_repetition")
    if args.topics_embeddings:
        from dbc_informed_socketcan_to_parquet_spark.operators.similarity import (
            topic_report,
        )

        topics = topic_report(
            docs, spark.read.parquet(args.topics_embeddings),
            id_col=args.id_col, text_col=args.text_col,
            num_clusters=args.topics_k,
        ).orderBy("cluster", "rank")
        topics.show(args.topics_k * 5, truncate=False)
        if args.output_path:
            topics.write.mode("overwrite").parquet(f"{args.output_path}_topics")
            print(f"wrote topic report to {args.output_path}_topics")
    if args.cluster_sizes:
        from dbc_informed_socketcan_to_parquet_spark.operators.dedup import (
            cluster_size_report,
        )

        cs = cluster_size_report(
            docs, id_col=args.id_col, text_col=args.text_col,
            threshold=args.cluster_jaccard,
        ).orderBy(F_desc("cluster_size"))
        cs.show(20)
        if args.output_path:
            cs.write.mode("overwrite").parquet(f"{args.output_path}_clusters")
            print(f"wrote cluster-size report to {args.output_path}_clusters")
    if args.novelty_against:
        from dbc_informed_socketcan_to_parquet_spark.operators.dedup import (
            ngram_novelty,
        )

        nov = ngram_novelty(
            docs, spark.read.parquet(args.novelty_against),
            id_col=args.id_col, text_col=args.text_col, n=args.novelty_n,
        )
        nov.orderBy(F_asc("novelty")).show(20)
        if args.output_path:
            nov.write.mode("overwrite").parquet(f"{args.output_path}_novelty")
            print(f"wrote novelty report to {args.output_path}_novelty")


def F_asc(col):
    from pyspark.sql import functions as F

    return F.col(col).asc()


def F_asc_nulls_first(col):
    from pyspark.sql import functions as F

    return F.col(col).asc_nulls_first()


def F_desc(col):
    from pyspark.sql import functions as F

    return F.col(col).desc()


def build_diff_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(prog="dbc_informed_socketcan_to_parquet_spark diff")
    p.add_argument("--old", required=True, help="previous corpus version (parquet)")
    p.add_argument("--new", required=True, help="current corpus version (parquet)")
    p.add_argument("--id-col", default="doc_id")
    p.add_argument("--text-col", default="text")
    p.add_argument("--out", dest="output_path", default=None,
                   help="also write the row-level (id, status) diff as parquet")
    return p


def run_diff(argv: list[str]) -> None:
    """Corpus version diff: prints added/removed/changed counts and
    optionally lands the row-level manifest."""
    from pyspark.sql import functions as F

    from dbc_informed_socketcan_to_parquet_spark.operators.dedup import corpus_diff

    args = build_diff_parser().parse_args(argv)
    spark = get_spark("diff-cli")
    d = corpus_diff(
        spark.read.parquet(args.old), spark.read.parquet(args.new),
        id_col=args.id_col, text_col=args.text_col,
    ).persist()
    try:
        counts = {r.status: r.n for r in
                  d.groupBy("status").agg(F.count("*").alias("n")).collect()}
        for status in ("added", "removed", "changed"):
            print(f"{status}: {counts.get(status, 0)}")
        if args.output_path:
            d.write.mode("overwrite").parquet(args.output_path)
            print(f"wrote diff to {args.output_path}")
    finally:
        d.unpersist()


def build_select_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(prog="dbc_informed_socketcan_to_parquet_spark select")
    p.add_argument("--in", dest="input_path", required=True,
                   help="parquet with a quality-score and token-count column")
    p.add_argument("--score-col", default="score")
    p.add_argument("--token-col", default="n_tokens")
    p.add_argument("--budget", type=int, required=True,
                   help="token budget: keep the highest-scoring docs until "
                        "cumulative tokens first reach this")
    p.add_argument("--id-col", default="doc_id")
    p.add_argument("--resolution", type=int, default=10_000,
                   help="score buckets for the sort-free selection; higher "
                        "= smaller boundary window (answer is exact at any "
                        "resolution)")
    p.add_argument("--by-group", dest="group_col", default=None,
                   help="r14: select PER GROUP of this column (e.g. lang/"
                        "source) — each group keeps its own best-scoring "
                        "prefix; --budget applies per group unless "
                        "--group-budget overrides it")
    p.add_argument("--group-budget", dest="group_budgets", action="append",
                   default=[], metavar="GROUP=TOKENS",
                   help="per-group budget override (repeatable); groups "
                        "named here are selected to their own budget, "
                        "unnamed groups fall back to --budget, or are "
                        "DROPPED with --budget 0")
    p.add_argument("--out", dest="output_path", required=True)
    return p


def run_select(argv: list[str]) -> None:
    """Token-budget selection (r13): keep the best-scoring documents
    until the budget fills — no global corpus sort (bucketed cumulative
    + exact boundary window).  r14: ``--by-group lang`` selects per
    language ("best N tokens PER LANGUAGE"), with optional
    ``--group-budget en=4000`` overrides."""
    from pyspark.sql import functions as F

    from dbc_informed_socketcan_to_parquet_spark.operators.sampling import (
        select_to_token_budget,
        select_to_token_budget_by_group,
    )

    args = build_select_parser().parse_args(argv)
    if args.group_budgets and not args.group_col:
        raise SystemExit("--group-budget requires --by-group")
    spark = get_spark("select-cli")
    docs = spark.read.parquet(args.input_path)
    if args.group_col:
        if args.group_budgets:
            budgets: dict[str, int] = {}
            for kv in args.group_budgets:
                g, _, n = kv.partition("=")
                if not g or not n.isdigit():
                    raise SystemExit(
                        f"--group-budget wants GROUP=TOKENS "
                        f"(positive token count), got {kv!r}")
                if int(n) <= 0:
                    # match validate_recipe's rule: a zero/negative budget
                    # here is almost always a typo, and the operator would
                    # silently drop the whole group
                    raise SystemExit(
                        f"--group-budget {g!r}: token count must be "
                        f"positive, got {n}")
                budgets[g] = int(n)
            if args.budget > 0:
                # unnamed groups fall back to the flat budget
                present = {
                    r[0] for r in
                    docs.select(args.group_col).distinct().collect()
                    if r[0] is not None
                }
                for g in present - set(budgets):
                    budgets[g] = args.budget
            budgets_arg: dict[str, int] | int = budgets
        else:
            budgets_arg = args.budget
        kept = select_to_token_budget_by_group(
            docs, score_col=args.score_col, token_col=args.token_col,
            budgets=budgets_arg, group_col=args.group_col,
            id_col=args.id_col, resolution=args.resolution,
        )
    else:
        kept = select_to_token_budget(
            docs, score_col=args.score_col, token_col=args.token_col,
            budget_tokens=args.budget, id_col=args.id_col,
            resolution=args.resolution,
        )
    kept.write.mode("overwrite").parquet(args.output_path)
    out = spark.read.parquet(args.output_path)
    t = out.agg(F.count(F.lit(1)).alias("n"),
                F.sum(args.token_col).alias("tok")).collect()[0]
    scope = f"per {args.group_col}" if args.group_col else "global"
    print(f"selected {t.n} documents / {t.tok or 0} tokens "
          f"(budget {args.budget} {scope}) to {args.output_path}")


def build_calibration_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(prog="dbc_informed_socketcan_to_parquet_spark calibration")
    p.add_argument("--in", dest="input_path", required=True,
                   help="scored parquet with probability + held-out label columns")
    p.add_argument("--prob-col", default="prob")
    p.add_argument("--label-col", default="label")
    p.add_argument("--bins", type=int, default=10)
    p.add_argument("--sweep", default=None, metavar="T1,T2,...",
                   help="also sweep keep thresholds (comma-separated "
                        "probabilities): kept fraction + precision/recall "
                        "per candidate --min-clf-prob value")
    p.add_argument("--out", dest="output_path", default=None)
    return p


def run_calibration(argv: list[str]) -> None:
    """Classifier reliability report (r13): per-bin mean probability vs
    empirical positive rate + the expected calibration error — run it
    on held-out labels BEFORE turning a probability into a
    --min-clf-prob keep threshold."""
    from pyspark.sql import functions as F

    from dbc_informed_socketcan_to_parquet_spark.operators.textops import calibration_report

    args = build_calibration_parser().parse_args(argv)
    spark = get_spark("calibration-cli")
    rep = calibration_report(
        spark.read.parquet(args.input_path),
        prob_col=args.prob_col, label_col=args.label_col, n_bins=args.bins,
    ).persist()
    try:
        t = rep.agg(
            (F.sum(F.col("n") * F.col("abs_gap")) / F.sum("n")).alias("ece"),
            F.sum("n").alias("n"),
        ).collect()[0]
        # zero scored rows aggregate to NULLs — report cleanly, not a
        # format TypeError (r13 review)
        print(f"ECE: {(t.ece or 0.0):.6f} over {t.n or 0} scored rows")
        rep.orderBy("bin").show(args.bins, truncate=False)
        if args.output_path:
            rep.write.mode("overwrite").parquet(args.output_path)
            print(f"wrote calibration report to {args.output_path}")
        if args.sweep:
            from dbc_informed_socketcan_to_parquet_spark.operators.textops import (
                threshold_sweep,
            )

            ths = tuple(float(x) for x in args.sweep.split(","))
            sw = threshold_sweep(
                spark.read.parquet(args.input_path),
                prob_col=args.prob_col, label_col=args.label_col,
                thresholds=ths,
            )
            sw.orderBy("threshold").show(len(ths), truncate=False)
            if args.output_path:
                sw.write.mode("overwrite").parquet(args.output_path + "_sweep")
                print(f"wrote threshold sweep to {args.output_path}_sweep")
    finally:
        rep.unpersist()


def build_pii_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(prog="dbc_informed_socketcan_to_parquet_spark pii-report")
    p.add_argument("--in", dest="input_path", required=True,
                   help="documents parquet to inventory")
    p.add_argument("--id-col", default="doc_id")
    p.add_argument("--text-col", default="text")
    p.add_argument("--out", dest="output_path", default=None,
                   help="also write the per-document counts as parquet")
    return p


def run_pii_report(argv: list[str]) -> None:
    """PII inventory: prints corpus totals (emails/phones/IPs and docs
    affected) and optionally lands the per-document counts."""
    from pyspark.sql import functions as F

    from dbc_informed_socketcan_to_parquet_spark.operators.textops import pii_report

    args = build_pii_parser().parse_args(argv)
    spark = get_spark("pii-cli")
    rep = pii_report(
        spark.read.parquet(args.input_path),
        id_col=args.id_col, text_col=args.text_col,
    ).persist()
    try:
        t = rep.agg(
            F.sum("n_emails").alias("emails"), F.sum("n_phones").alias("phones"),
            F.sum("n_ips").alias("ips"),
            F.count(F.when(F.col("n_pii") > 0, 1)).alias("docs_affected"),
            F.count("*").alias("docs"),
        ).collect()[0]
        print(f"emails: {t.emails}  phones: {t.phones}  ips: {t.ips}  "
              f"docs affected: {t.docs_affected}/{t.docs}")
        if args.output_path:
            rep.write.mode("overwrite").parquet(args.output_path)
            print(f"wrote pii report to {args.output_path}")
    finally:
        rep.unpersist()


def build_chunk_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(prog="dbc_informed_socketcan_to_parquet_spark chunk")
    p.add_argument("--in", dest="input_path", required=True,
                   help="curated documents parquet")
    p.add_argument("--out", dest="output_path", required=True,
                   help="chunked output parquet")
    p.add_argument("--id-col", default="doc_id")
    p.add_argument("--text-col", default="text")
    p.add_argument("--chunk-tokens", type=int, default=512,
                   help="token budget per chunk")
    p.add_argument("--overlap-tokens", type=int, default=0,
                   help="shared prefix between neighboring chunks")
    return p


def run_chunk(argv: list[str]) -> None:
    """Context-length chunking CLI (r11): curated docs → fixed-token
    chunk rows with optional overlap (operators/sampling
    .chunk_documents, the r5 pure-column reshape) — the prep step
    between curation and training/embedding."""
    from dbc_informed_socketcan_to_parquet_spark.operators.sampling import chunk_documents

    args = build_chunk_parser().parse_args(argv)
    spark = get_spark("chunk-cli")
    docs = spark.read.parquet(args.input_path)
    chunks = chunk_documents(
        docs, max_tokens=args.chunk_tokens, overlap=args.overlap_tokens,
        id_col=args.id_col, text_col=args.text_col,
    ).persist()
    try:
        chunks.write.mode("overwrite").parquet(args.output_path)
        n_docs, n_chunks = docs.count(), chunks.count()
    finally:
        chunks.unpersist()
    print(f"chunked {n_docs} documents -> {n_chunks} chunks at {args.output_path}")


def build_decon_report_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(prog="dbc_informed_socketcan_to_parquet_spark decon-report")
    p.add_argument("--in", dest="input_path", required=True,
                   help="corpus parquet to audit")
    p.add_argument("--eval", dest="eval_path", required=True,
                   help="evaluation corpus parquet (id + text)")
    p.add_argument("--id-col", default="doc_id")
    p.add_argument("--text-col", default="text")
    p.add_argument("--jaccard", type=float, default=0.5,
                   help="near-dup estimate threshold")
    p.add_argument("--window-tokens", type=int, default=20,
                   help="verbatim span window size")
    p.add_argument("--out", dest="output_path", default=None,
                   help="also write the per-eval-doc counts as parquet")
    return p


def run_decon_report(argv: list[str]) -> None:
    """Unified decon-triad observability (r12): per eval doc, how many
    corpus docs the exact / near / span mechanisms each flag — run it
    before curate to size the contamination, after to verify zeros."""
    from pyspark.sql import functions as F

    from dbc_informed_socketcan_to_parquet_spark.operators.dedup import decon_report

    args = build_decon_report_parser().parse_args(argv)
    spark = get_spark("decon-report-cli")
    rep = decon_report(
        spark.read.parquet(args.input_path),
        spark.read.parquet(args.eval_path),
        id_col=args.id_col, text_col=args.text_col,
        threshold=args.jaccard, window_tokens=args.window_tokens,
    ).persist()
    try:
        t = rep.agg(
            F.count("*").alias("n_eval"),
            F.count(F.when(F.col("n_exact") > 0, 1)).alias("hit_exact"),
            F.count(F.when(F.col("n_near") > 0, 1)).alias("hit_near"),
            F.count(F.when(F.col("n_span") > 0, 1)).alias("hit_span"),
        ).collect()[0]
        print(f"eval docs: {t.n_eval}  contaminated -- exact: {t.hit_exact}  "
              f"near: {t.hit_near}  span: {t.hit_span}")
        rep.orderBy(F.desc("n_span"), "eval_id").show(20, truncate=False)
        if args.output_path:
            rep.write.mode("overwrite").parquet(args.output_path)
            print(f"wrote decon report to {args.output_path}")
    finally:
        rep.unpersist()


def build_tune_lsh_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(prog="dbc_informed_socketcan_to_parquet_spark tune-lsh")
    p.add_argument("--in", dest="input_path", required=True,
                   help="documents parquet to sweep over")
    p.add_argument("--id-col", default="doc_id")
    p.add_argument("--text-col", default="text")
    p.add_argument("--num-perms", type=int, default=16)
    p.add_argument("--shingle-n", type=int, default=5)
    p.add_argument("--jaccard", type=float, default=0.5,
                   help="target threshold the sweep scores against")
    p.add_argument("--config", action="append", default=None,
                   metavar="BANDSxROWS",
                   help="banding to evaluate, e.g. 4x4 (repeatable; "
                        "default sweeps 2x8, 4x4, 8x2)")
    p.add_argument("--sample-docs", type=int, default=100_000,
                   help="tune on a deterministic id-hash sample of ~N "
                        "docs (default 100000 — the sweep is parameter "
                        "estimation, so its cost should not scale with "
                        "the corpus; 0 sweeps the FULL corpus, only "
                        "sane on small inputs)")
    p.add_argument("--out", dest="output_path", default=None)
    return p


def run_tune_lsh(argv: list[str]) -> None:
    """MinHash-LSH banding sweep (r12): candidate volume, precision and
    recall per (bands, rows) config at the target threshold, next to the
    theoretical S-curve — pick the banding BEFORE the 100 TB run."""
    from dbc_informed_socketcan_to_parquet_spark.operators.dedup import lsh_band_tune

    args = build_tune_lsh_parser().parse_args(argv)
    configs = tuple(
        tuple(int(x) for x in c.lower().split("x")) for c in args.config
    ) if args.config else ((2, 8), (4, 4), (8, 2))
    spark = get_spark("tune-lsh-cli")
    rep = lsh_band_tune(
        spark.read.parquet(args.input_path),
        id_col=args.id_col, text_col=args.text_col,
        num_perms=args.num_perms, shingle_n=args.shingle_n,
        configs=configs, threshold=args.jaccard,
        sample_docs=args.sample_docs if args.sample_docs > 0 else None,
    )
    rep.orderBy("num_bands").show(truncate=False)
    if args.output_path:
        rep.write.mode("overwrite").parquet(args.output_path)
        print(f"wrote banding sweep to {args.output_path}")


def build_index_embeddings_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(
        prog="dbc_informed_socketcan_to_parquet_spark index-embeddings")
    p.add_argument("--in", dest="input_path", default=None,
                   help="embedding parquet (id + array<double> vector "
                        "column); required unless --stats/--rebuild-from/"
                        "--compact-from")
    p.add_argument("--out", dest="output_path", required=True,
                   help="IVF index dir (data/ partitioned by cluster + model/)")
    p.add_argument("--id-col", default="vec_id",
                   help="input id column; normalized to 'vec_id' on write "
                        "so every index consumer resolves it")
    p.add_argument("--vec-col", default="embedding",
                   help="input vector column; normalized to 'embedding' "
                        "on write")
    p.add_argument("--clusters", type=int, default=16,
                   help="coarse quantizer size (power of two)")
    p.add_argument("--iters", type=int, default=2,
                   help="deterministic-Lloyd's refinement iterations")
    p.add_argument("--sample-mod", type=int, default=1,
                   help="train on every Nth id (hash-sampled); 1 = full corpus")
    p.add_argument("--append", action="store_true",
                   help="assign with the STORED centroids and append into an "
                        "existing index (the daily-ingest shape; no retrain); "
                        "prints rebuild advice when the grown index is skewed "
                        "or undersized")
    p.add_argument("--stats", action="store_true",
                   help="print per-cluster health + rebuild advice for the "
                        "EXISTING index at --out (no input read, no build)")
    p.add_argument("--rebuild-from", dest="rebuild_from", default=None,
                   metavar="OLD_INDEX",
                   help="retrain over OLD_INDEX's accumulated data and write "
                        "a fresh index at --out (--clusters 0 = the sqrt-N "
                        "recommendation); publish by swapping readers to the "
                        "new path. Combine with --sq8 or --pq MxB to MIGRATE "
                        "layout while rebuilding (raw->sq8 8x smaller, "
                        "raw/sq8->pq ~40x + calibration printed; pq sources "
                        "cannot retrain)")
    p.add_argument("--imbalance-threshold", type=float, default=4.0,
                   help="hot-cluster imbalance (n*k/total) that triggers "
                        "rebuild advice")
    p.add_argument("--compact-from", dest="compact_from", default=None,
                   metavar="OLD_INDEX",
                   help="rewrite OLD_INDEX's append-fragmented partitions "
                        "into --out with --files-per-cluster files each — "
                        "no retrain, assignments preserved, layout markers "
                        "copied; publish by swapping readers")
    p.add_argument("--files-per-cluster", type=int, default=1,
                   help="target files per cluster partition for "
                        "--compact-from")
    p.add_argument("--sq8", action="store_true",
                   help="build a scalar-quantized index: one uint8 per "
                        "dimension, per-vector range (8x smaller than "
                        "float64, near-lossless — no threshold "
                        "recalibration; rebuild works from the index "
                        "itself). Served transparently by the gates and "
                        "ivf_index_topk")
    p.add_argument("--pq", default=None, metavar="MxB",
                   help="build an IVF-PQ index: M subspaces x B bits (e.g. "
                        "8x4) — stores residual PQ codes + true norms "
                        "instead of float vectors (~32x smaller); served "
                        "transparently by the vs-history gates and "
                        "ivfpq_index_topk. --append auto-detects the layout")
    return p


def run_index_embeddings(argv: list[str]) -> None:
    """Build (or grow) the persisted cluster-partitioned IVF index (r14) —
    the one-off batch job behind `curate --against-embeddings`,
    `semantic_dedup_against`, `semantic_contamination_indexed`, and
    `ivf_index_topk`; previously only reachable as a library call."""
    from pyspark.sql import functions as F

    from dbc_informed_socketcan_to_parquet_spark.operators.similarity import (
        ivf_index_append,
        ivf_index_health,
        ivf_index_rebuild,
        ivf_index_compact,
        ivf_index_file_stats,
        ivf_index_rebuild_advice,
        ivf_index_write,
        resolve_index_path,
    )

    args = build_index_embeddings_parser().parse_args(argv)
    spark = get_spark("index-embeddings-cli")

    def _print_advice(path: str) -> None:
        adv = ivf_index_rebuild_advice(
            spark, path, imbalance_threshold=args.imbalance_threshold)
        if adv["rebuild"]:
            print(f"rebuild advised (recommended k={adv['recommended_k']}): "
                  + "; ".join(adv["reasons"]))
        else:
            print(f"index healthy: {adv['n_vecs']} vectors, k={adv['k']}, "
                  f"max imbalance {adv['max_imbalance']:.2f}")

    if args.stats:
        for r in ivf_index_health(spark, args.output_path).collect():
            print(f"cluster {r.cluster}: {r.n_vecs} vectors "
                  f"(frac {r.frac:.4f}, imbalance {r.imbalance:.2f})")
        fs = ivf_index_file_stats(spark, args.output_path).collect()
        n_files = sum(r.n_files for r in fs)
        mean_fpc = n_files / max(len(fs), 1)
        print(f"files: {n_files} across {len(fs)} clusters "
              f"(mean {mean_fpc:.1f}/cluster)")
        if mean_fpc > 16:
            print("compaction advised (append-fragmented): "
                  "index-embeddings --compact-from THIS --out NEW")
        _print_advice(args.output_path)
        return
    if args.compact_from:
        ivf_index_compact(spark, args.compact_from, args.output_path,
                          files_per_cluster=args.files_per_cluster)
        before = ivf_index_file_stats(spark, args.compact_from).collect()
        after = ivf_index_file_stats(spark, args.output_path).collect()
        print(f"compacted {sum(r.n_files for r in before)} files -> "
              f"{sum(r.n_files for r in after)} at {args.output_path} "
              f"(from {args.compact_from})")
        return
    if args.rebuild_from:
        k = args.clusters if args.clusters > 0 else None
        layout = None
        pq_cfg = None
        if args.pq and args.sq8:
            raise SystemExit("--pq and --sq8 are mutually exclusive layouts")
        if args.sq8:
            layout = "sq8"
        elif args.pq:
            try:
                m_str, b_str = args.pq.lower().split("x", 1)
                pq_cfg = (int(m_str), int(b_str))
            except ValueError:
                raise SystemExit(f"--pq must be MxB (e.g. 8x4), got {args.pq!r}")
            layout = "pq"
        try:
            ivf_index_rebuild(spark, args.rebuild_from, args.output_path,
                              num_clusters=k, n_iters=args.iters,
                              sample_mod=args.sample_mod,
                              layout=layout, pq=pq_cfg)
        except ValueError as e:
            # e.g. an IVF-PQ source: codes cannot retrain — surface the
            # guidance without a traceback
            raise SystemExit(str(e))
        if layout == "pq":
            # a migrated-to-PQ index NEEDS recalibrated thresholds
            from dbc_informed_socketcan_to_parquet_spark.operators.similarity import (
                _sq_reconstruct,
                _load_sq_dim,
                ivfpq_reconstruction_report,
            )

            src = resolve_index_path(args.rebuild_from)
            sdim = _load_sq_dim(spark, src)
            probe = (
                _sq_reconstruct(spark.read.parquet(f"{src}/data"), sdim, "vec_id")
                .select(F.col("_hid").alias("vec_id"),
                        F.col("_hv").alias("embedding"))
                if sdim is not None
                else spark.read.parquet(f"{src}/data")
            )
            rep = ivfpq_reconstruction_report(
                spark, args.output_path, probe, id_col="vec_id")
            print(f"reconstruction self-cosine over {rep['n']} sampled "
                  f"vectors: avg {rep['avg']:.3f}, p05 {rep['p05']:.3f}, "
                  f"min {rep['min']:.3f}")
            print("set vs-history cosine thresholds at or below p05")
        rp = resolve_index_path(args.output_path)
        n = spark.read.parquet(f"{rp}/data").count()
        k = spark.read.parquet(f"{rp}/model").count()
        print(f"rebuilt {n} vectors across {k} clusters at "
              f"{args.output_path} (from {args.rebuild_from})")
        _print_advice(args.output_path)
        return

    if not args.input_path:
        raise SystemExit("--in is required (unless --stats/"
                         "--rebuild-from/--compact-from)")
    vectors = spark.read.parquet(args.input_path)
    # normalize --id-col/--vec-col to the canonical (vec_id, embedding)
    # layout on write (r15, advisory): every downstream index consumer —
    # `curate --against-embeddings`, semantic_dedup_against defaults,
    # the streaming gate — reads those names, so a CLI-built index with
    # renamed columns would fail at runtime with an unresolved column.
    if args.id_col != "vec_id":
        vectors = vectors.withColumnRenamed(args.id_col, "vec_id")
    if args.vec_col != "embedding":
        vectors = vectors.withColumnRenamed(args.vec_col, "embedding")
    if args.pq and args.sq8:
        raise SystemExit("--pq and --sq8 are mutually exclusive layouts")
    if args.append:
        # delegates to the PQ / SQ8 encoders when the layout carries
        # pq_model / sq_model
        ivf_index_append(spark, args.output_path, vectors)
        verb = "appended"
    elif args.sq8:
        from dbc_informed_socketcan_to_parquet_spark.operators.similarity import (
            ivfpq_reconstruction_report,
            sq8_index_write,
        )
        sq8_index_write(vectors, args.output_path,
                        num_clusters=args.clusters, n_iters=args.iters,
                        sample_mod=args.sample_mod)
        verb = "sq8-indexed"
        rep = ivfpq_reconstruction_report(
            spark, args.output_path, vectors, id_col="vec_id")
        print(f"reconstruction self-cosine over {rep['n']} sampled vectors: "
              f"avg {rep['avg']:.4f}, p05 {rep['p05']:.4f}, min {rep['min']:.4f}")
    elif args.pq:
        try:
            m_str, b_str = args.pq.lower().split("x", 1)
            pq_m, pq_bits = int(m_str), int(b_str)
        except ValueError:
            raise SystemExit(f"--pq must be MxB (e.g. 8x4), got {args.pq!r}")
        from dbc_informed_socketcan_to_parquet_spark.operators.similarity import (
            ivfpq_index_write,
        )
        ivfpq_index_write(vectors, args.output_path,
                          num_clusters=args.clusters,
                          num_subspaces=pq_m, bits=pq_bits,
                          n_iters=args.iters, sample_mod=args.sample_mod)
        verb = f"pq-indexed ({pq_m}x{pq_bits})"
        from dbc_informed_socketcan_to_parquet_spark.operators.similarity import (
            ivfpq_reconstruction_report,
        )
        rep = ivfpq_reconstruction_report(
            spark, args.output_path, vectors, id_col="vec_id")
        print(f"reconstruction self-cosine over {rep['n']} sampled vectors: "
              f"avg {rep['avg']:.3f}, p05 {rep['p05']:.3f}, min {rep['min']:.3f}")
        print("set vs-history cosine thresholds at or below p05, or "
              "re-index with more subspaces")
    else:
        ivf_index_write(vectors, args.output_path,
                        num_clusters=args.clusters, n_iters=args.iters,
                        sample_mod=args.sample_mod)
        verb = "indexed"
    rp = resolve_index_path(args.output_path)
    n = spark.read.parquet(f"{rp}/data").count()
    k = spark.read.parquet(f"{rp}/model").count()
    print(f"{verb} {n} vectors across {k} clusters at {args.output_path}")
    if args.append:
        # appends assign with stored centroids and never retrain, so
        # skew/growth accumulates — surface the rebuild trigger here
        _print_advice(args.output_path)


def main(argv: list[str] | None = None) -> None:
    import sys

    argv = list(sys.argv[1:]) if argv is None else list(argv)
    if argv and argv[0] == "index-embeddings":
        run_index_embeddings(argv[1:])
        return
    if argv and argv[0] == "decon-report":
        run_decon_report(argv[1:])
        return
    if argv and argv[0] == "tune-lsh":
        run_tune_lsh(argv[1:])
        return
    if argv and argv[0] == "diff":
        run_diff(argv[1:])
        return
    if argv and argv[0] == "pii-report":
        run_pii_report(argv[1:])
        return
    if argv and argv[0] == "calibration":
        run_calibration(argv[1:])
        return
    if argv and argv[0] == "select":
        run_select(argv[1:])
        return
    if argv and argv[0] == "run-recipe":
        from dbc_informed_socketcan_to_parquet_spark.plans.recipe import (
            load_recipe,
            run_recipe,
        )

        if len(argv) != 2:
            raise SystemExit("usage: run-recipe <recipe.json>")
        recipe = load_recipe(argv[1])
        summary = run_recipe(get_spark("recipe-cli"), recipe)
        import json as _json

        print(_json.dumps(summary, indent=2, sort_keys=True))
        return
    if argv and argv[0] == "report":
        run_report(argv[1:])
        return
    if argv and argv[0] == "ingest-warc":
        run_ingest_warc(argv[1:])
        return
    if argv and argv[0] == "curate":
        run_curate(argv[1:])
        return
    if argv and argv[0] == "stream-curate":
        run_stream_curate(argv[1:])
        return
    if argv and argv[0] == "train-classifier":
        run_train_classifier(argv[1:])
        return
    if argv and argv[0] == "export":
        run_export(argv[1:])
        return
    if argv and argv[0] == "chunk":
        run_chunk(argv[1:])
        return
    args = build_parser().parse_args(argv)
    cfg = PipelineConfig(
        dbc_path=args.dbc,
        input_path=args.input_path,
        output_path=args.output_path,
        input_format=args.fmt,
        cache_ms=args.cache,
        forward_fill=args.forward_fill,
        live_signals=args.live_decode,
        adjust_timestamp=not args.no_adjust_timestamp,
        agg="first" if args.first_wins else "last",
    )
    spark = get_spark("dbc-decode-cli")
    if args.audit:
        from dbc_informed_socketcan_to_parquet_spark.dbc.parser import parse_dbc
        from dbc_informed_socketcan_to_parquet_spark.plans.pipeline import decode_audit

        if args.fmt != "file" or not args.input_path:
            raise SystemExit("--audit needs --file and --if <candump log>")
        funnel = decode_audit(spark.read.text(args.input_path), parse_dbc(args.dbc))
        for r in sorted(funnel.collect(), key=lambda r: r.stage_idx):
            print(f"audit {r.stage_idx} {r.stage}: "
                  f"{r.rows_in} -> {r.rows_out} (-{r.dropped})")
        return
    if args.socket_name:
        from dbc_informed_socketcan_to_parquet_spark.streaming.pipeline import run_stream

        host, _, port = args.socket_name.partition(":")
        run_stream(spark, cfg, host=host or "localhost", port=int(port or 9000))
        return
    out = DecodePipeline(cfg).run_batch(spark)
    # Counting the returned lazy frame would re-run the whole pipeline;
    # the written Parquet answers from its footers.
    n = spark.read.parquet(cfg.output_path).count() if cfg.output_path else out.count()
    print(f"wrote {n} rows")


if __name__ == "__main__":
    main()
