"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR (default
sf0.1) on local[$SPARK_GRAFT_CPUS].  Prints ONE JSON line:
{"metric": ..., "value": <total sec>, "unit": "sec", "queries": {...}, "sf": ...}

Each query is forced end-to-end with the noop sink (full compute, no
collect-to-driver, no disk write skew).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from dbc_informed_socketcan_to_parquet_spark.queries import QUERIES  # noqa: E402
from dbc_informed_socketcan_to_parquet_spark.session import get_spark  # noqa: E402

#: Host-noise instrumentation (r10, VERDICT r9 item 1).  Three rounds
#: (r3, r8, r9) recorded 1.5-2x inflation concentrated in the md5-bound
#: family while same-round quiet-host runs sat in the 12-15 s band —
#: i.e. the committed artifact kept recording background load, not code.
#: Every timed pass now records the 1-minute loadavg; a pass that starts
#: while the host is oversubscribed beyond our own local[N] threads
#: (loadavg > N * 1.5) is discarded and re-run (bounded retries), and the
#: historically noise-sensitive md5 family runs min-of-5 instead of 3.
_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 32))
_LOAD_LIMIT = _CPUS * 1.5
#: md5/regex-bound queries that absorbed every prior noise event.
#: r11 adds minhash_star_edges_fast: BENCH_r10's only fast-path
#: regressions (1.25-1.30x) sat exactly on the entries outside the
#: min-of-5 family, so the whole shingle/hash-bound fast path now gets
#: the same 5-rep treatment.
_NOISY = {"simhash_signatures", "minhash_lsh_pairs", "text_stats",
          "simhash_signatures_fast", "minhash_lsh_pairs_fast",
          "minhash_star_edges_fast",
          # r12 (VERDICT r11 item 3): the window-hash explode family is
          # hash-bound the same way — remove_eval_spans recorded 1.397 s
          # in the driver artifact and 4.455 s in the judge's otherwise
          # FASTER quiet run, i.e. min-of-2 is not enough for these.
          "exact_substring_dedup", "remove_eval_spans", "duplicate_spans",
          "source_overlap", "fuzzy_contamination",
          # r12 session 2: same window-hash explode shape
          "ngram_novelty",
          # r13 (VERDICT r12 item 2): BENCH_r12 recorded 7.948 s vs the
          # r11 quiet band 2.1-2.6 s with routing unchanged and a probe
          # pass ratio of 1.341 — a near-degraded draw survived min-of-2;
          # min-of-5 plus the tightened probe gate below close that hole.
          "semantic_contamination",
          # r13 confirmation runs: decon_report swung 2.67 -> 7.99 s
          # between two same-day runs (band-join + window-hash family),
          # and the newly-benched sampled band-tune lane is md5-bound
          # like the rest of the minhash family
          "decon_report", "lsh_band_tune_sampled"}
#: accumulated per-pass loadavg samples + count of load-gated retries,
#: summarized into the artifact's "load" field.
_LOAD_SAMPLES: list[float] = []
_LOAD_RETRIES = [0]
#: decode-throughput passes record their own loadavg stream (r11) so the
#: fps figure carries its own contention evidence in the artifact.
_DECODE_LOAD_SAMPLES: list[float] = []
_DECODE_LOAD_RETRIES = [0]

#: Calibration probe (r12, VERDICT r11 item 1).  Loadavg cannot see
#: co-tenant CPU steal or thermal throttling: BENCH_r11 recorded 24.264 s
#: with gated_retries=0 and pass_mean_1m=5.18 while an identical rerun on
#: a quiet host took 12.684 s — every query ran ~2x slow on a host whose
#: loadavg looked idle.  Before each timed pass we now run a fixed
#: deterministic single-thread spin loop and compare its wall time to a
#: committed quiet-host reference cost; a pass whose probe ratio exceeds
#: ``_PROBE_LIMIT`` is discarded and re-run like a load-gated pass.  If
#: retries exhaust while the ratio is still high, the pass runs anyway and
#: the artifact carries an explicit ``degraded_host: true`` flag instead
#: of a silently inflated total.
_PROBE_ITERS = 3_000_000
#: NOTE the reference is specific to this driver host class AND CPython
#: build — on different hardware/interpreter, re-measure (min of ~6 quiet
#: runs of _probe_once) and commit the new constant; a mismatched ref
#: either burns 3 retries+sleeps per entry (slower host) or masks real
#: degradation below the inflated headroom (faster host).
_PROBE_REF = 0.315  # min of 6 quiet-host runs (loadavg 0.56), 2026-08-15
#: r13 (VERDICT r12 item 2): 1.35 let a 1.341-ratio pass through and
#: BENCH_r12 kept a ~3x-degraded semantic_contamination draw — tightened
#: to 1.25; genuinely quiet hosts probe ≤ ~1.1, so the extra retries only
#: fire when something real is stealing cycles.
_PROBE_LIMIT = 1.25
_PROBE_SAMPLES: list[float] = []
_PROBE_RETRIES = [0]
_DEGRADED = [False]


def _probe_once() -> float:
    t0 = time.perf_counter()
    x = 0
    for _ in range(_PROBE_ITERS):
        x = (x * 1103515245 + 12345) & 0xFFFFFFFF
    return time.perf_counter() - t0


def _probe_ratio() -> float:
    """Probe wall time relative to the committed quiet-host cost.  A
    single suspicious reading is confirmed with one immediate re-probe
    (min of the two) so CPython timing jitter doesn't burn a retry."""
    t = _probe_once()
    if t / _PROBE_REF > _PROBE_LIMIT:
        t = min(t, _probe_once())
    ratio = t / _PROBE_REF
    _PROBE_SAMPLES.append(round(ratio, 3))
    return ratio


def _mc_spin(_i: int) -> float:
    return _probe_once()


def _mc_probe(workers: int = 8) -> dict:
    """Multi-core calibration probe (r13): the single-thread probe
    cannot see degradation that only hits parallel throughput
    (shared-cache pressure, reduced all-core turbo, co-tenant burst
    across other cores): the r13 confirmation runs measured uniform
    1.1-1.4× inflation on untouched queries while the single-thread
    probe read 1.0.  Run the same spin loop in ``workers`` forked
    processes at once; on a quiet host each worker costs ≈ the
    single-thread reference, so mean_ratio ≈ 1.  Recorded at bench
    start and end; since r14 the START reading is a GATE (see
    :func:`_mc_gate`), not just evidence."""
    import multiprocessing as mp

    ctx = mp.get_context("fork")
    with ctx.Pool(workers) as pool:
        times = pool.map(_mc_spin, range(workers))
    return {
        "workers": workers,
        "mean_ratio": round(sum(times) / len(times) / _PROBE_REF, 3),
        "max_ratio": round(max(times) / _PROBE_REF, 3),
    }


#: r14 (VERDICT r13 item 1): the committed BENCH_r13 was a degraded-host
#: draw whose own mc_probe start mean read 1.288 while the single-thread
#: per-pass gate stayed green — exactly the failure mode mc_probe was
#: added to expose.  The start probe is now a GATE: above
#: ``_MC_LIMIT`` mean the run sleeps and re-probes (up to
#: ``_MC_MAX_RETRIES``); if contention persists the run proceeds but the
#: artifact carries ``degraded_host: true`` so a bad draw can never be
#: committed as the round's number without saying so.  The END probe
#: sets the same flag retroactively — a run that finished on a
#: contended host is suspect even if it started quiet.
_MC_LIMIT = 1.15
_MC_MAX_RETRIES = 6
_MC_GATE_RETRIES = [0]


def _mc_gate() -> dict:
    probe = _mc_probe()
    for _ in range(_MC_MAX_RETRIES):
        if probe["mean_ratio"] <= _MC_LIMIT:
            return probe
        _MC_GATE_RETRIES[0] += 1
        time.sleep(20.0)
        probe = _mc_probe()
    if probe["mean_ratio"] > _MC_LIMIT:
        _DEGRADED[0] = True
    return probe


def _min_of(spark, mk, reps: int, max_retries: int = 3) -> float:
    """min over ``reps`` cold passes of ``mk()``; a pass whose start-time
    1-min loadavg exceeds ``_LOAD_LIMIT`` OR whose calibration-probe ratio
    exceeds ``_PROBE_LIMIT`` is discarded and re-run (at most
    ``max_retries`` discards per query, so a persistently degraded host
    still terminates — with the contention recorded in the "load"/"probe"
    fields and ``degraded_host`` set)."""
    samples: list[float] = []
    retries = 0
    while len(samples) < reps:
        spark.catalog.clearCache()
        load1 = os.getloadavg()[0]
        _LOAD_SAMPLES.append(load1)
        ratio = _probe_ratio()
        if (load1 > _LOAD_LIMIT or ratio > _PROBE_LIMIT) and retries < max_retries:
            retries += 1
            if load1 > _LOAD_LIMIT:
                _LOAD_RETRIES[0] += 1
            if ratio > _PROBE_LIMIT:
                _PROBE_RETRIES[0] += 1
            time.sleep(3.0)
            continue
        if ratio > _PROBE_LIMIT:
            _DEGRADED[0] = True
        t0 = time.perf_counter()
        mk().write.format("noop").mode("overwrite").save()
        samples.append(time.perf_counter() - t0)
    return round(min(samples), 3)


def _load_summary(start_1m: float) -> dict:
    return {
        "cpus": _CPUS,
        "limit_1m": round(_LOAD_LIMIT, 1),
        "start_1m": round(start_1m, 2),
        "pass_max_1m": round(max(_LOAD_SAMPLES), 2) if _LOAD_SAMPLES else None,
        "pass_mean_1m": round(sum(_LOAD_SAMPLES) / len(_LOAD_SAMPLES), 2)
        if _LOAD_SAMPLES else None,
        "gated_retries": _LOAD_RETRIES[0],
    }


def _probe_summary() -> dict:
    return {
        "ref_sec": _PROBE_REF,
        "iters": _PROBE_ITERS,
        "limit_ratio": _PROBE_LIMIT,
        "pass_min_ratio": min(_PROBE_SAMPLES) if _PROBE_SAMPLES else None,
        "pass_mean_ratio": round(sum(_PROBE_SAMPLES) / len(_PROBE_SAMPLES), 3)
        if _PROBE_SAMPLES else None,
        "pass_max_ratio": max(_PROBE_SAMPLES) if _PROBE_SAMPLES else None,
        "gated_retries": _PROBE_RETRIES[0],
        "degraded_host": _DEGRADED[0],
    }


#: The performance-representative subset: the decode spine, the heavy
#: relational shapes, and the corpus operators (one per family).
HEADLINE = [
    "candump_parse",
    "bitfield_decode",
    "bucket_downsample_wide",
    "bucket_last",
    "pivot_wide",
    "forward_fill",
    "tpch_q1_pricing_summary",
    "tpch_q3_shipping_priority",
    "tpch_q5_local_supplier_volume",
    "top_k_per_group",
    "window_running",
    "dedup_exact",
    "minhash_lsh_pairs",
    "simhash_signatures",
    "text_stats",
    "similarity_topk",
    "media_features",
]


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1]) if "sf" in sf_dir else -1.0
    start_load = os.getloadavg()[0]
    mc_start = _mc_gate()  # r14: gated, not observational
    spark = get_spark("bench")
    # Warm the JVM outside the timed region: file listing, codegen, and the
    # md5/regex/conv intrinsics the text queries lean on — bench measures
    # steady-state throughput, not first-call JIT compilation.
    spark.read.parquet(f"{sf_dir}/lineitem.parquet").count()
    for warm in ("bitfield_decode", "simhash_signatures"):
        QUERIES[warm](spark, sf_dir).write.format("noop").mode("overwrite").save()

    # min of 3 passes per query (r6; was 2), min of 5 for the md5-bound
    # _NOISY family (r10): this host shows ±2× run-to-run noise, and a
    # single bad draw (GC pause, page-cache miss, co-tenant burst) should
    # not be recorded as a regression — min measures steady-state
    # capability.  Passes started under external load are discarded and
    # re-run (see _min_of).  Cache is cleared between passes so operators
    # that .cache() intermediates (minhash_lsh_pairs' signature table)
    # are still measured cold.
    # HEADLINE names resolve from either registry: rotations between the
    # driver 50 and EXTRA (r14 demoted top_k_per_group / window_running)
    # must not change what the headline sum measures
    from dbc_informed_socketcan_to_parquet_spark.queries import EXTRA_QUERIES

    timings: dict[str, float] = {}
    for name in HEADLINE:
        fn = QUERIES.get(name) or EXTRA_QUERIES[name]
        reps = 5 if name in _NOISY else 3
        timings[name] = _min_of(spark, lambda: fn(spark, sf_dir), reps)

    fast = _fast_path_timings(spark, sf_dir)
    corpus = _corpus_addition_timings(spark, sf_dir)
    fps = _decode_throughput(spark)
    mc_end = _mc_probe()
    if mc_end["mean_ratio"] > _MC_LIMIT:
        _DEGRADED[0] = True
    total = round(sum(timings.values()), 3)
    print(json.dumps({
        "metric": "headline_queries_total_wall",
        "value": total,
        "unit": "sec",
        # r10 methodology: headline + fast-path entries are min-of-3 cold
        # passes (min-of-5 for the md5-bound noise-sensitive family);
        # corpus additions min-of-2; decode throughput is median-of-5
        # after a JIT warm pass; every pass records loadavg and passes
        # started under external load (>1.5x our local[N]) are re-run
        "methodology": ("headline=min3-cold (hash-bound min5), "
                        "fast_path=min3-cold (hash-bound min5), "
                        "corpus=min2-cold (hash-bound min5), "
                        "decode=median5-warm, load+probe-gated retry on "
                        "every timed pass incl. decode; degraded_host set "
                        "when probe stays >limit after retries; r14: "
                        "multi-core probe gates run start (retry loop) "
                        "and flags a contended end reading"),
        "load": _load_summary(start_load),
        "probe": _probe_summary(),
        # multi-core contention: start reading is a gate (r14), end
        # reading retroactively flags a run that finished contended
        "mc_probe": {"start": mc_start, "end": mc_end,
                     "limit_mean": _MC_LIMIT,
                     "gated_retries": _MC_GATE_RETRIES[0]},
        "queries": timings,
        "sf": sf,
        "decode_frames_per_sec": fps,
        "decode_load": {
            "pass_max_1m": round(max(_DECODE_LOAD_SAMPLES), 2)
            if _DECODE_LOAD_SAMPLES else None,
            "pass_mean_1m": round(
                sum(_DECODE_LOAD_SAMPLES) / len(_DECODE_LOAD_SAMPLES), 2)
            if _DECODE_LOAD_SAMPLES else None,
            "gated_retries": _DECODE_LOAD_RETRIES[0],
        },
        # xxhash64 production path for the hash-bound corpus operators —
        # same plans as the md5 (oracle-parity) headline entries above,
        # reported separately so `value` stays comparable across rounds
        "fast_path_queries": fast,
        # round-5 corpus additions, tracked per-round OUTSIDE the headline
        # sum for the same comparability reason
        "corpus_queries": corpus,
    }), flush=True)
    # CONTRACT (r16, VERDICT r15 item 6): the JSON line above is the LAST
    # stdout write of this process — nothing may print after it, or a
    # tail-capture window can clip the artifact the driver parses
    # (BENCH_r14.json parsed=null cost a full round of PERF comparison).


def _curate_run(docs):
    from dbc_informed_socketcan_to_parquet_spark.operators.curate import curate

    return lambda: curate(docs)


def _fast_path_timings(spark, sf_dir: str) -> dict[str, float]:
    """The hash-bound corpus operators on the xxhash60 fast path (what a
    production pipeline without a cross-engine oracle would run)."""
    from dbc_informed_socketcan_to_parquet_spark.functions.hashing import xxhash60
    from dbc_informed_socketcan_to_parquet_spark.operators.dedup import (
        lsh_star_edges,
        minhash_dedup_pairs,
        minhash_signatures,
        simhash,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out: dict[str, float] = {}
    runs = {
        # identical knobs to the md5 headline entries (queries.py) so the
        # delta is purely the hash function
        "minhash_lsh_pairs_fast": lambda: minhash_dedup_pairs(
            docs, "doc_id", "text", num_perms=16, shingle_n=5, num_bands=4,
            threshold=0.5, seed=42, hash_fn=xxhash60,
        ),
        "simhash_signatures_fast": lambda: simhash(
            docs, "doc_id", "text", num_bits=16, shingle_n=4, hash_fn=xxhash60,
        ),
        # the O(bucket) near-dup graph (star edges, rep-verified) — the
        # scale path whose cost stays linear where the all-pairs list
        # above goes quadratic in boilerplate-clique size
        "minhash_star_edges_fast": lambda: lsh_star_edges(
            minhash_signatures(docs, "doc_id", "text", num_perms=16,
                               shingle_n=5, seed=42, hash_fn=xxhash60),
            "doc_id", num_bands=4, rows_per_band=4,
            num_perms=16, verify_threshold=0.5,
        ),
        # the flagship composition end-to-end (scrub → quality gate over
        # materialized stats → exact dedup → star clusters → canonical,
        # xxhash production path) — tracked so its trend is visible
        # per-round; NOT in the headline sum, so `value` stays
        # comparable across rounds
        "curate_e2e": _curate_run(docs),
    }
    for name, mk in runs.items():
        # 3 reps (5 for the noise-sensitive family): at sf0.1 the hash is
        # a minor cost post-fan-out, so the md5-vs-xxhash delta is within
        # host noise at min-of-2
        out[name] = _min_of(spark, mk, 5 if name in _NOISY else 3)
    return out


def _corpus_addition_timings(spark, sf_dir: str) -> dict[str, float]:
    """The round-5+ corpus operators (oracle registry entries), min of 2
    cold passes each — same protocol as the headline set.  Names resolve
    from EITHER registry (r10 rotated extract_text / near_dedup_against /
    corpus_report into the driver 50; their bench trend continues here)."""
    from dbc_informed_socketcan_to_parquet_spark.queries import EXTRA_QUERIES

    out: dict[str, float] = {}
    for name in ("paragraph_dedup", "dedup_incremental", "lm_score",
                 "classifier_score", "frequent_ngrams",
                 "exact_substring_dedup", "importance_resample",
                 "fuzzy_contamination", "normalize_text",
                 "temperature_mix",
                 # r6 additions: the URL front door + trained-BPE counting
                 "url_canonical_dedup", "domain_cap", "bpe_token_count",
                 # r7 addition: trained multiclass language ID (train+score)
                 "lang_id_trained",
                 # r9 additions: HTML extraction + in-engine classifier GD,
                 # WARC ingest, CCNet partition, incremental near dedup
                 "extract_text", "classifier_train",
                 "warc_extract", "ppl_partition", "near_dedup_against",
                 "corpus_report",
                 # r9 second session: version diff + PII inventory
                 # (curate_audit's trend is implied by curate_e2e above)
                 "corpus_diff", "pii_report",
                 # r10 additions: embedding-space contamination (IVF probe
                 # lane) + per-language tokenizer fertility
                 "semantic_contamination", "tokenizer_fertility",
                 # r11 additions: fertility->mix composition, maximal
                 # duplicated-span report, cross-source overlap matrix
                 "fertility_mix", "duplicate_spans", "source_overlap",
                 "remove_eval_spans", "chunk_documents",
                 # r12 additions: LSH banding sweep, decon-triad report,
                 # vocab coverage, Gopher repetition battery, n-gram novelty
                 # r13: the benched band-tune lane is the SAMPLED one
                 # (the production default; the full lane is the sf0.01
                 # oracle shape only — VERDICT r12 item 1)
                 "lsh_band_tune_sampled", "decon_report", "vocab_coverage",
                 "gopher_repetition", "ngram_novelty",
                 "cluster_size_report", "topic_report",
                 # r13 additions: classifier-gating toolkit + token-budget
                 # selection.  r14: select_to_token_budget reads a
                 # PRESCORED fixture (VERDICT r13 item 7) — its trend now
                 # measures the selection operator, not the shared
                 # classifier-scoring pass (which calibration_report /
                 # threshold_sweep still pay and track)
                 "calibration_report", "threshold_sweep",
                 "select_to_token_budget",
                 # r14 addition: per-group (per-language) budget selection
                 "select_by_group_budget",
                 # r15 addition: vs-history embedding dedup — the driver
                 # entry is the FIXED-batch production posture since r15
                 # (vec_id < 450 slice probing the persisted IVF index),
                 # so its trend measures the history-probe cost, not a
                 # growing-batch oracle shape
                 "semantic_dedup_against",
                 # r15 session 4: the same gate against a CODES-ONLY
                 # IVF-PQ history index (reconstruction inside probed
                 # partitions) — the storage-constrained 100 TB posture
                 "semantic_dedup_against_pq",
                 # r16 addition (VERDICT r15 item 8): contamination sweep
                 # against the PERSISTED corpus index — the production
                 # posture next to the per-invocation-Lloyd's
                 # semantic_contamination report lane above
                 "semantic_contamination_indexed"):
        fn = EXTRA_QUERIES.get(name) or QUERIES[name]
        out[name] = _min_of(spark, lambda: fn(spark, sf_dir),
                            5 if name in _NOISY else 2)
    return out


def _decode_throughput(spark, n_frames: int = 1_000_000) -> int:
    """candump-decode throughput: parse → known-id filter → 5-signal decode
    → 10 ms bucket last-value → noop, on a generated 1M-line log
    (the reference's ``--cache 10`` file-conversion workload)."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from dbc_informed_socketcan_to_parquet_spark.dbc.compiler import DecodeCompiler
    from dbc_informed_socketcan_to_parquet_spark.operators.bucket import bucket_downsample
    from dbc_informed_socketcan_to_parquet_spark.queries import _SYNTH_DBC
    from dbc_informed_socketcan_to_parquet_spark.sources.candump import read_candump

    log_dir = tempfile.mkdtemp(prefix="bench_canlog_")
    try:
        # ~1 kHz bus, 3 message ids, deterministic payloads
        lines = spark.range(n_frames).select(
            F.format_string(
                "(%d.%06d) vcan0 %X#%016X",
                F.lit(1_700_000_000) + F.expr("id div 1000"),
                (F.col("id") % 1000) * 1000,
                F.lit(0x100) + F.col("id") % 3,
                F.col("id") * F.lit(2654435761),
            ).alias("value")
        )
        lines.write.mode("overwrite").text(log_dir)

        comp = DecodeCompiler(_SYNTH_DBC)
        sig_cols = [s.column_name for _, s in _SYNTH_DBC.all_signals()]

        def run() -> None:
            frames = read_candump(spark, log_dir)
            wide = comp.decode_wide(frames, keep_cols=("Time_ms",), time_col="_e").drop("_e")
            out = bucket_downsample(wide, 10, signal_cols=sig_cols)
            out.write.format("noop").mode("overwrite").save()

        run()  # JIT warm pass — steady-state throughput is the figure of merit
        # median of 5 timed passes: this host shows ±2× run-to-run noise,
        # and recorded medians-of-3 still swung 177k-423k f/s across rounds.
        # r11: decode passes are load-gated like _min_of (the r10 fps drop
        # 239k->162k landed in the one section without gating) and the
        # decode section reports its own load field.
        samples = []
        retries = 0
        while len(samples) < 5:
            load1 = os.getloadavg()[0]
            _DECODE_LOAD_SAMPLES.append(load1)
            ratio = _probe_ratio()
            if (load1 > _LOAD_LIMIT or ratio > _PROBE_LIMIT) and retries < 4:
                retries += 1
                _DECODE_LOAD_RETRIES[0] += 1
                time.sleep(3.0)
                continue
            if ratio > _PROBE_LIMIT:
                _DEGRADED[0] = True
            t0 = time.perf_counter()
            run()
            samples.append(time.perf_counter() - t0)
        return int(n_frames / sorted(samples)[2])
    finally:
        shutil.rmtree(log_dir, ignore_errors=True)


if __name__ == "__main__":
    main()
