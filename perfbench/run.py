#!/usr/bin/env python3
"""Benchmark of the columnar-encode engine on this host.

    python3 perfbench/run.py --workload ingest --seed 1 --seconds 15 --trace 0

Runs one workload (see ``workloads.py``) on ``local[nproc]`` from the
root of a checkout, checks every output against a pyarrow oracle, and
prints as its last stdout line one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``. ``--trace 0`` reports the
end-to-end metrics; ``--trace 1`` records spans and Spark job counts,
runs the differential and kernel legs (``legs.py``) and reports the
per-layer metrics instead. The line before the result is a report with
the host, every sample and the layer breakdown.
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from host import (ROOT, Host, RssSampler, cpu_ticks,  # noqa: E402
                  engine_importable, steal_share)

#: (name, unit): every end-to-end metric, in BENCHMARK.json's order
END_TO_END = [
    ("setup_s", "s"), ("peak_rss_mb", "MB"), ("encode_gbps", "GB/s"),
    ("export_gbps", "GB/s"), ("stored_bytes_ratio", "count"),
    ("decode_gbps", "GB/s"), ("scan_gbps", "GB/s"),
    ("lookup_p50_ms", "ms"), ("range_p50_ms", "ms"),
    ("append_p50_ms", "ms"), ("delete_p50_ms", "ms"), ("compact_s", "s"),
]


def tail_percentile(samples: list[float]) -> dict:
    """Median, sample count, and the highest whole percentile with at
    least ten samples beyond it (None below eleven samples)."""
    xs = sorted(samples)
    n = len(xs)
    out = {"n": n, "median": statistics.median(xs) if xs else None,
           "tail_pct": None, "tail_value": None}
    if n >= 11:
        out["tail_pct"] = int(100 * (n - 10) / n)
        out["tail_value"] = xs[n - 11]      # xs[n-10:] lie beyond it
    return out


def end_to_end(run, session_s: float, peak_rss_mb: float) -> dict:
    s = run.ops.samples
    med = {k: statistics.median(v) for k, v in s.items() if v}
    need = ("encode", "export", "decode", "scan", "lookup", "range",
            "append", "delete", "compact")
    missing = [k for k in need if k not in med]
    if missing:
        raise RuntimeError(f"no successful samples of {missing}")
    # each sample's bytes over its wall: a decode's rows can differ
    # from sample to sample as the table changes
    gb = {k: statistics.median(b / t / 1e9 for b, t in
                               zip(run.ops.sample_bytes[k], s[k]))
          for k in ("encode", "export", "decode", "scan")}
    values = {
        "setup_s": session_s + run.setup["prep_s"] + run.setup["data_gen_s"],
        "peak_rss_mb": peak_rss_mb,
        "encode_gbps": gb["encode"], "export_gbps": gb["export"],
        "stored_bytes_ratio": run.stored_bytes_ratio,
        "decode_gbps": gb["decode"], "scan_gbps": gb["scan"],
        "lookup_p50_ms": med["lookup"] * 1e3,
        "range_p50_ms": med["range"] * 1e3,
        "append_p50_ms": med["append"] * 1e3,
        "delete_p50_ms": med["delete"] * 1e3,
        "compact_s": med["compact"],
    }
    return {name: {"value": values[name], "unit": unit}
            for name, unit in END_TO_END}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[1])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not engine_importable():
        print(f"perfbench: no engine package under {ROOT}", file=sys.stderr)
        return 2

    # a terminated run still stops Spark and its JVM (the finally below)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    t_start = time.perf_counter()
    ticks0 = cpu_ticks()
    host = Host(args.workload, args.seed)
    host.prepare_env()
    from workloads import WORKLOADS  # needs the engine on sys.path
    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    rss = RssSampler().start()
    try:
        spark = host.start_spark()
        session_s = time.perf_counter() - t_start
        from ops import Ops
        from spans import Tracer
        tracer = Tracer(bool(args.trace), spark.sparkContext)
        ops = Ops(spark, tracer, host.work)
        rss.label = lambda: ops.current
        with tracer.span("run"):
            run = WORKLOADS[args.workload](host, ops, args.seed,
                                           args.seconds)
        report = {"host": host.info(args.seed), "workload": args.workload,
                  "session_s": session_s, "setup": run.setup,
                  "samples": {k: tail_percentile(v) | {"all": v}
                              for k, v in ops.samples.items()},
                  "raw_bytes": run.raw_bytes, "notes": ops.notes}
        if args.trace:
            from legs import per_layer
            metrics, layers = per_layer(run, host, tracer)
            report["layers"] = layers
            out_dir = os.path.join(ROOT, ".perfbench_out")
            os.makedirs(out_dir, exist_ok=True)
            trace_path = os.path.join(
                out_dir, f"trace-{args.workload}-{args.seed}.json")
            tracer.dump(trace_path)
            report["trace_file"] = trace_path
        peak = rss.stop()
        if not args.trace:
            metrics = end_to_end(run, session_s, peak)
        report["peak_rss_mb"] = peak
        report["peak_rss_mb_by_kind"] = {
            k: v / 1024 for k, v in rss.peak_by_kind_kb.items()}
        report["at_peak_rss"] = rss.at_peak
        report["cpu_steal_share"] = steal_share(ticks0, cpu_ticks())
    finally:
        rss.stop()
        host.close()
    for note in ops.notes:
        print(note, file=sys.stderr)
    print(json.dumps({"report": report}, default=str))
    print(json.dumps({"correct": ops.failed == 0,
                      "attempted": ops.attempted, "failed": ops.failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
