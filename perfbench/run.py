"""Repo benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout.  Inputs are generated from ``--seed``
(outside every timed region), the workload is measured for ``--seconds``
seconds, every output is checked against an independent reference, and
the last line of standard output is one JSON object
``{"correct", "attempted", "failed", "metrics"}``.  ``--trace 0`` reports
the end-to-end metrics, ``--trace 1`` the per-layer metrics.  See
``perfbench/README.md`` for the metric definitions.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

import harness  # noqa: E402



def declared_metrics() -> tuple[dict[str, str], dict[str, str]]:
    """(end-to-end, per-layer) metric name -> unit, as BENCHMARK.json
    declares them."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return ({m["name"]: m["unit"] for m in spec["end_to_end"]},
            {m["name"]: m["unit"] for m in spec["per_layer"]})


class Result:
    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.metrics: dict[str, float] = {}
        self.problems: list[str] = []

    def fail(self, why: str) -> None:
        self.failed += 1
        if len(self.problems) < 20:
            self.problems.append(why)


def workload(ctx: harness.Context, name: str):
    if name in ("convert_downsample", "convert_raw"):
        from convert import Convert

        return Convert(ctx, cache_ms=10, forward_fill=True) if name == "convert_downsample" \
            else Convert(ctx, cache_ms=0, forward_fill=False)
    if name == "live_socket":
        from live import Live

        return Live(ctx)
    if name == "curate_docs":
        from corpus import Curate

        return Curate(ctx)
    raise SystemExit(f"unknown workload {name!r}")


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    try:
        import dbc_informed_socketcan_to_parquet_spark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: the package under test is not in {ROOT}: {exc}", file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".perfbench_work", str(os.getpid()))
    harness.configure_env(work)
    ctx = harness.Context(work=work, seed=args.seed, seconds=args.seconds,
                          trace=bool(args.trace))
    result = Result()
    sampler = harness.MemorySampler()
    sampler.start()
    try:
        wl = workload(ctx, args.workload)  # generates inputs and expected answers
        print(f"perfbench: inputs ready at {time.perf_counter() - T0:.1f} s", file=sys.stderr)
        setup_s = harness.start_sessions(ctx, wl.prepare)
        print(f"perfbench: set up at {time.perf_counter() - T0:.1f} s", file=sys.stderr)
        if ctx.trace:
            wl.run_traced(result)
            ctx.tracer.values.update(harness.job_counts(ctx.spark))
        else:
            wl.run(result)
    except Exception:
        traceback.print_exc()
        result.attempted = max(result.attempted, 1)
        result.fail("workload raised")
        setup_s = 0.0
    finally:
        print(f"perfbench: measured at {time.perf_counter() - T0:.1f} s", file=sys.stderr)
        harness.shutdown(ctx)
        peak_mb = sampler.stop()
        harness.cleanup(work)

    for line in ctx.notes + result.problems:
        print(line)
    end_to_end, per_layer = declared_metrics()
    if ctx.trace:
        # a layer off this workload's path reports 0
        values = ctx.tracer.values
        values["error_rate"] = result.failed / max(result.attempted, 1)
        metrics = {k: {"value": float(values.get(k, 0.0)), "unit": u} for k, u in per_layer.items()}
        spans_dir = os.path.join(ROOT, ".perfbench_spans")
        os.makedirs(spans_dir, exist_ok=True)
        ctx.tracer.write(os.path.join(spans_dir, f"{args.workload}-seed{args.seed}.json"))
    else:
        result.metrics.update(setup_s=setup_s, peak_rss_mb=peak_mb)
        metrics = {}
        for k, u in end_to_end.items():
            if k not in result.metrics:
                result.fail(f"metric {k} not measured")
                continue
            metrics[k] = {"value": float(result.metrics[k]), "unit": u}
    error_rate = result.failed / max(result.attempted, 1)
    for k, m in metrics.items():
        print(f"{k} {m['value']:.6g} {m['unit']}")
    print(f"error_rate {error_rate:.6g} ({result.failed} of {result.attempted} operations failed)")
    print(json.dumps({
        "correct": result.failed == 0,
        "attempted": max(result.attempted, 1),
        "failed": result.failed,
        "metrics": metrics,
    }))
    return 0


T0 = time.perf_counter()

if __name__ == "__main__":
    code = main()
    print(f"perfbench: done at {time.perf_counter() - T0:.1f} s", file=sys.stderr)
    sys.exit(code)
