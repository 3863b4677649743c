"""Corpus curation workload: a seeded document corpus with injected exact
and near duplicates through ``curate()`` with the default config, the kept
set checked against the curation invariants."""

from __future__ import annotations

import random
import time

import check
import gen
from harness import Context, batch_metrics, noop_time

N_DOCS = 1200
AUDIT_STAGES = ("quality", "exact_dup", "near_dup")


def _write_corpus(corpus: gen.Corpus, path: str) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(pa.table({"doc_id": [r[0] for r in corpus.rows],
                             "text": [r[1] for r in corpus.rows]}), path)


class Curate:
    def __init__(self, ctx: Context):
        self.ctx = ctx
        rng = random.Random(ctx.seed)
        self.corpus = gen.make_corpus(rng, N_DOCS)
        self.docs_path = ctx.path("docs.parquet")
        _write_corpus(self.corpus, self.docs_path)
        self.input_ids = {r[0] for r in self.corpus.rows}

    def prepare(self) -> None:
        pass

    def op(self, path: str, out: str) -> float:
        """One curation, from the ``curate()`` call to the Parquet commit."""
        from dbc_informed_socketcan_to_parquet_spark.operators.curate import curate

        docs = self.ctx.spark.read.parquet(path)
        t0 = time.perf_counter()
        curate(docs).write.mode("overwrite").parquet(out)
        return time.perf_counter() - t0

    def checked_op(self, result, out: str) -> float | None:
        result.attempted += 1
        try:
            wall = self.op(self.docs_path, out)
        except Exception as exc:  # a failed curation counts, the run goes on
            result.fail(f"curate raised {type(exc).__name__}: {str(exc)[:200]}")
            return None
        problems, _ = check.check_curated(out, self.input_ids, self.corpus.exact_dups)
        if problems:
            result.fail(f"curated output wrong: {problems}")
            return None
        return wall

    def run(self, result) -> None:
        """The first curation runs in a fresh session; warm curations
        follow until ``seconds`` pass."""
        batch_metrics(self.ctx, result, self.checked_op, len(self.corpus.rows), "docs")

    def run_traced(self, result) -> None:
        from dbc_informed_socketcan_to_parquet_spark.functions.partitioning import fan_out
        from dbc_informed_socketcan_to_parquet_spark.functions.hashing import xxhash60
        from dbc_informed_socketcan_to_parquet_spark.operators.curate import (
            CurateConfig,
            curate,
            curate_audit,
        )
        from dbc_informed_socketcan_to_parquet_spark.operators.dedup import (
            exact_dedup,
            keep_canonical,
            minhash_star_clusters,
        )
        from dbc_informed_socketcan_to_parquet_spark.operators.textops import (
            doc_quality_stats,
            scrub_pii,
        )

        ctx, tr = self.ctx, self.ctx.tracer
        v = tr.values
        self.checked_op(result, ctx.path("cold_out"))
        before = self.checked_op(result, ctx.path("untraced_out"))

        docs = ctx.spark.read.parquet(self.docs_path)
        out = ctx.path("traced_out")
        result.attempted += 1
        t0 = time.perf_counter()
        with tr.span("curate"):
            kept = tr.timed("operators.curate.call", curate, docs)
            with tr.span("sinks.parquet.write"):
                kept.write.mode("overwrite").parquet(out)
        traced = time.perf_counter() - t0
        problems, n_kept = check.check_curated(out, self.input_ids, self.corpus.exact_dups)
        if problems:
            result.fail(f"traced curated output wrong: {problems}")
        # the JVM still warms between operations: compare with untraced
        # operations on both sides of the traced one
        after = self.checked_op(result, ctx.path("untraced_out"))
        if before is not None and after is not None:
            v["trace.overhead_s"] = traced - (before + after) / 2
        v["operators.curate.call_s"] = tr.last("operators.curate.call")
        v["operators.curate.kept_ratio"] = n_kept / len(self.corpus.rows)

        # the text battery and the two dedup passes, each forced on its own
        with tr.span("operators.textops"):
            v["operators.textops.exec_s"] = noop_time(
                doc_quality_stats(fan_out(scrub_pii(docs, "text"), force=True), "doc_id", "text"))
        with tr.span("operators.dedup"):
            t0 = time.perf_counter()
            noop_time(exact_dedup(docs, "doc_id", "text"))
            cfg = CurateConfig()
            clusters = minhash_star_clusters(
                docs, "doc_id", "text", num_perms=cfg.minhash_perms, shingle_n=cfg.shingle_n,
                num_bands=cfg.minhash_bands, threshold=cfg.jaccard_threshold, seed=cfg.seed,
                hash_fn=xxhash60)
            noop_time(keep_canonical(docs, clusters, "doc_id"))
            v["operators.dedup.exec_s"] = time.perf_counter() - t0

        audit = {r["stage"]: r for r in curate_audit(docs).collect()}
        if "quality" in audit:
            v["operators.curate.quality.rows_in"] = audit["quality"]["rows_in"]
        for stage in AUDIT_STAGES:
            if stage in audit:
                v[f"operators.curate.{stage}.rows_out"] = audit[stage]["rows_out"]
            else:
                result.fail(f"curate_audit has no {stage} stage")
        for stage, row in audit.items():
            ctx.note(f"audit {stage}: {row['rows_in']} -> {row['rows_out']}")
