"""Per-layer metrics of the traced run.

Spark layers are timed with differential legs: each leg runs one more
layer than the previous one into Spark's ``noop`` sink, and a layer's
time is the difference. The last layer of each chain is the workload's
own median minus the leg before it. The codec, selection and interop
kernels are timed on the driver, single-threaded, over the workload's
own values and page blobs. Counts come from the dataset the table
operations left behind and from the Spark job groups of the traced
operations.
"""

from __future__ import annotations

import glob
import os
import statistics
import time

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from pyspark.sql import functions as F

from cpp_parquet_spark import catalog, engine, export, interop
from cpp_parquet_spark.codecs import fsst, pagecodec
from cpp_parquet_spark.partitioning import (cluster_by_part, effective_parts,
                                            with_part_id)
from cpp_parquet_spark.select import choose_codec_arrow

import data

#: every column of both workloads' tables: codec legs report 0 for the
#: columns the running workload's table does not have
COLUMNS = data.REPOFILES_COLUMNS + tuple(data.LINEITEM_SCHEMA.names)
CODECS = ("plain", "dict", "fsst", "prefix", "rle", "bitpack", "for",
          "delta", "dfloat", "bss")
OPS = ("encode", "export", "decode", "scan", "lookup", "range", "append",
       "delete", "compact")
PRUNE_PROBES = 2              # lookups and ranges replayed by the prune leg

#: (name, unit) of every per-layer metric, in BENCHMARK.json's order
PER_LAYER = (
    [("source.scan_s", "s"), ("partitioning.cluster_s", "s"),
     ("bridge.in_s", "s"), ("engine.encode_kernel_s", "s"),
     ("engine.commit_s", "s"), ("select.choose_s_per_mb", "s/MB"),
     ("select.choose_share", "frac"),
     ("codecs.fsst_train_s_per_mb", "s/MB"),
     ("codecs.encode_share", "frac"), ("codecs.decode_share", "frac")]
    + [(f"codecs.encode_mbps.{c}", "MB/s") for c in COLUMNS]
    + [(f"codecs.decode_mbps.{c}", "MB/s") for c in COLUMNS]
    + [("export.export_s", "s"), ("interop.write_mbps", "MB/s"),
       ("engine.pages_read_s", "s"), ("bridge.out_s", "s"),
       ("engine.decode_s", "s"), ("export.plan_row_groups_s", "s"),
       ("interop.read_mbps", "MB/s"), ("engine.live_pages_s", "s"),
       ("engine.in_prune_s", "s"), ("engine.prune_parts_s", "s"),
       ("prune.parts_considered", "count"), ("prune.parts_kept", "count"),
       ("prune.useful_frac", "frac")]
    + [(f"spark.jobs.{op}", "count") for op in OPS]
    + [("engine.page_files", "count"), ("engine.manifest_rows", "count"),
       ("engine.compact_bytes_moved", "bytes"),
       ("engine.compact_parts", "count"), ("codecs.pages", "count"),
       ("codecs.enc_bytes", "bytes")]
    + [(f"codecs.mix.{c}", "count") for c in CODECS]
    + [("trace.self_sum_frac", "frac"), ("trace.overhead_s", "s"),
       ("trace.overhead_frac", "frac")]
)


def _wall(fn) -> float:
    t0 = time.perf_counter()
    fn()
    return time.perf_counter() - t0


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _median(xs) -> float:
    return statistics.median(xs) if xs else 0.0


def encode_legs(spark, run, tr) -> dict:
    df, cfg = run.source_df, run.cfg
    cols, _ = engine.encodable_columns(df)
    src = df.select(*cols)
    clustered = cluster_by_part(with_part_id(src, cfg), cfg)
    legs = {}
    with tr.span("leg.source"):
        legs["source"] = _wall(lambda: _noop(src))
    with tr.span("leg.cluster"):
        legs["cluster"] = _wall(lambda: _noop(clustered))
    with tr.span("leg.identity"):
        legs["identity"] = _wall(lambda: _noop(
            clustered.mapInArrow(lambda it: it, clustered.schema)))
    with tr.span("leg.encode_table"):
        legs["encode_table"] = _wall(lambda: _noop(
            engine.encode_table(df, cfg)))
    full = _median(run.ops.samples.get("encode"))
    return {"source.scan_s": legs["source"],
            "partitioning.cluster_s": legs["cluster"] - legs["source"],
            "bridge.in_s": legs["identity"] - legs["cluster"],
            "engine.encode_kernel_s": legs["encode_table"] - legs["identity"],
            "engine.commit_s": full - legs["encode_table"],
            "_legs": legs, "_wall": full}


def decode_legs(spark, run, tr) -> dict:
    dst = run.bulk_dataset
    legs = {}

    def null_kernel(tbl: pa.Table) -> pa.Table:
        return pa.table({"n": pa.array([tbl.num_rows], pa.int64())})

    with tr.span("leg.pages_read"):
        legs["pages_read"] = _wall(lambda: _noop(
            engine.read_live_pages(spark, dst)))
    with tr.span("leg.null_kernel"):
        legs["null_kernel"] = _wall(lambda: _noop(
            engine.read_live_pages(spark, dst).groupBy("part_id")
            .applyInArrow(null_kernel, "n long")))
    with tr.span("leg.live_pages"):
        live = _wall(lambda: engine.read_live_pages(spark, dst)
                     .select("part_id", "run_id").distinct().collect())
    full = _median(run.ops.samples.get("decode"))
    return {"engine.pages_read_s": legs["pages_read"],
            "bridge.out_s": legs["null_kernel"] - legs["pages_read"],
            "engine.decode_s": full - legs["null_kernel"],
            "engine.live_pages_s": live, "_legs": legs, "_wall": full}


def _pages_of(arr: pa.Array, tag: str, page_bytes: int, rows_max: int):
    """Cut one column into pages of about ``page_bytes``, as the encode
    kernel does."""
    n = len(arr)
    if tag in ("str", "bin"):
        lens = pc.binary_length(arr).to_numpy(zero_copy_only=False)
        cum = np.cumsum(np.nan_to_num(lens))
        cuts = np.searchsorted(cum, np.arange(1, int(cum[-1] // page_bytes)
                                              + 2) * page_bytes)
        cuts = np.unique(np.clip(cuts, 1, n))
    else:
        width = max(1, arr.type.bit_width // 8)
        step = max(1, min(rows_max, page_bytes // width))
        cuts = np.arange(step, n + step, step).clip(max=n)
    out, prev = [], 0
    for c in cuts.tolist():
        if c > prev:
            out.append(arr.slice(prev, c - prev))
            prev = c
    return out


def codec_legs(spark, run, tr, nproc: int) -> dict:
    """Selection, FSST training and page encode over one part's worth of
    each column, and page decode over the dataset's own blobs."""
    cfg = run.cfg
    src = run.source
    n_parts = effective_parts(cfg)
    part = src.slice(0, max(1, src.num_rows // n_parts))
    schema = run.source_df.schema
    out = {}
    sel_s = sel_mb = train_s = train_mb = enc_s_total = 0.0
    with tr.span("leg.codecs.encode"):
        for name in part.column_names:
            tag = pagecodec.spark_type_tag(schema[name].dataType)
            arr = pagecodec.to_arrow(part.column(name).combine_chunks(), tag)
            pages = _pages_of(arr, tag, cfg.page_bytes, cfg.page_rows_max)
            first = pages[0]
            first_mb = data.raw_bytes(pa.table({"c": first})) / 1e6
            t0 = time.perf_counter()
            codec, table = choose_codec_arrow(first, tag, cfg.block_codec)
            sel_s += time.perf_counter() - t0
            sel_mb += first_mb
            if codec == "fsst":
                t0 = time.perf_counter()
                trained = fsst.train(first)
                train_s += time.perf_counter() - t0
                train_mb += first_mb
                if table is None:
                    table = trained
                if table is None:
                    codec = "plain"
            raw = 0
            t0 = time.perf_counter()
            for p in pages:
                raw += pagecodec.encode_page(p, tag, codec, table,
                                             cfg.block_codec)["raw_bytes"]
            dt = time.perf_counter() - t0
            mbps = raw / 1e6 / dt if dt > 0 else 0.0
            out[f"codecs.encode_mbps.{name}"] = mbps
            # single-threaded seconds this column costs over the table
            col_mb = data.raw_bytes(src.select([name])) / 1e6
            enc_s_total += col_mb / mbps if mbps else 0.0
    out["select.choose_s_per_mb"] = sel_s / sel_mb if sel_mb else 0.0
    out["codecs.fsst_train_s_per_mb"] = train_s / train_mb if train_mb else 0.0
    enc_wall = _median(run.ops.samples.get("encode"))
    out["codecs.encode_share"] = enc_s_total / nproc / enc_wall
    # selection runs once per (part, column), on the chunk's first page
    out["select.choose_share"] = sel_s * n_parts / nproc / enc_wall

    with tr.span("leg.codecs.decode"):
        blobs = (engine.read_live_pages(spark, run.bulk_dataset)
                 .filter(F.col("col_idx") >= 0)
                 .select("column", "codec", "type", "params", "data",
                         "num_values", "null_count", "raw_bytes")
                 .toArrow())
        dec_s_total = 0.0
        cols = blobs.column("column").to_pylist()
        for name in sorted(set(cols)):
            idx = [i for i, c in enumerate(cols) if c == name]
            sub = blobs.take(pa.array(idx))
            rows = sub.to_pylist()
            t0 = time.perf_counter()
            for r in rows:
                pagecodec.decode_page(r["data"], r["params"], r["codec"],
                                      r["type"], r["num_values"],
                                      r["null_count"])
            dt = time.perf_counter() - t0
            raw = sum(r["raw_bytes"] for r in rows)
            out[f"codecs.decode_mbps.{name}"] = raw / 1e6 / dt if dt else 0.0
            dec_s_total += dt
    dec_wall = _median(run.ops.samples.get("decode"))
    out["codecs.decode_share"] = dec_s_total / nproc / dec_wall
    return out


def interop_legs(run, tr, work: str) -> dict:
    files = sorted(glob.glob(os.path.join(run.export_dir, "*.parquet")))
    out = {"export.export_s": _median(run.ops.samples.get("export"))}
    with tr.span("leg.plan_row_groups"):
        out["export.plan_row_groups_s"] = _wall(
            lambda: export.plan_row_groups(files))
    # one file's worth of rows through the writer and reader that
    # export_parquet and scan_parquet call, with export's defaults
    tbl = run.source.slice(0, max(1, run.source.num_rows // max(1, len(files))))
    mb = data.raw_bytes(tbl) / 1e6
    cols = {n: tbl.column(n).combine_chunks() for n in tbl.column_names}
    path = os.path.join(work, "interop-leg.parquet")
    with tr.span("leg.interop.write"):
        w = _wall(lambda: interop.write_parquet(
            path, cols, compression="zstd", page_rows=20_000,
            row_group_rows=200_000, page_index=True, statistics=True,
            string_encoding="delta_length"))
    with tr.span("leg.interop.read"):
        r = _wall(lambda: interop.read_parquet_with_our_codecs(path))
    out["interop.write_mbps"] = mb / w
    out["interop.read_mbps"] = mb / r
    return out


def _column_pages(spark, dst: str, column: str) -> list:
    """[((part_id, run_id), values)] per stored page of ``column``, from
    a driver-side decode (deletion vectors not applied)."""
    rows = (engine.read_live_pages(spark, dst)
            .filter((F.col("column") == column) & (F.col("col_idx") >= 0))
            .select("part_id", "run_id", "codec", "type", "params", "data",
                    "num_values", "null_count").toArrow().to_pylist())
    return [((r["part_id"], r["run_id"]),
             pagecodec.decode_page(r["data"], r["params"], r["codec"],
                                   r["type"], r["num_values"],
                                   r["null_count"])) for r in rows]


def _hits(pages: list, pred) -> dict:
    """(part_id, run_id) -> whether any value satisfies ``pred``."""
    hit: dict = {}
    for key, arr in pages:
        hit[key] = hit.get(key, False) or bool(pred(arr))
    return hit


def prune_legs(spark, run, tr) -> dict:
    dst = run.dataset
    pages = engine.read_live_pages(spark, dst)
    lcol, lvals = run.lookup
    rcol, rwins = run.ranges
    in_s, pp_s = [], []
    considered = kept = useful = probes = 0
    has_bloom = bool(pages.filter((F.col("codec") == "__bloom__")
                                  & (F.col("column") == lcol))
                     .limit(1).collect())
    with tr.span("leg.prune"):
        lpages = _column_pages(spark, dst, lcol)
        rpages = _column_pages(spark, dst, rcol)
        for v in lvals[:PRUNE_PROBES]:
            t0 = time.perf_counter()
            got = engine.in_prune(pages, lcol, [v]).collect()
            in_s.append(time.perf_counter() - t0)
            hits = _hits(lpages,
                         lambda a, v=v: pc.any(pc.equal(a, v)).as_py())
            keys = ({(r["part_id"], r["run_id"]) for r in got} if has_bloom
                    else set(hits))     # no bloom: the lookup reads all
            considered += len(hits)
            kept += len(keys)
            useful += sum(1 for k in keys if hits.get(k))
            probes += 1
        for lo, hi in rwins[:PRUNE_PROBES]:
            t0 = time.perf_counter()
            got = engine.prune_parts(pages, rcol, lo, hi).collect()
            pp_s.append(time.perf_counter() - t0)
            hits = _hits(rpages, lambda a, lo=lo, hi=hi: pc.any(pc.and_(
                pc.greater_equal(a, lo), pc.less_equal(a, hi))).as_py())
            by_part: dict = {}
            for (p, _), h in hits.items():
                by_part[p] = by_part.get(p, False) or h
            keys = {r["part_id"] for r in got}
            considered += len(by_part)
            kept += len(keys)
            useful += sum(1 for k in keys if by_part.get(k))
            probes += 1
    return {"engine.in_prune_s": _median(in_s),
            "engine.prune_parts_s": _median(pp_s),
            "prune.parts_considered": considered / max(1, probes),
            "prune.parts_kept": kept / max(1, probes),
            "prune.useful_frac": useful / kept if kept else 0.0}


def count_legs(spark, run, tracer) -> dict:
    dst = run.dataset
    out = {f"spark.jobs.{op}": _median(tracer.jobs.get(op, []))
           for op in OPS}
    out["engine.page_files"] = len(glob.glob(
        os.path.join(dst, "pages", "**", "*.parquet"), recursive=True))
    out["engine.manifest_rows"] = sum(
        pq.ParquetFile(f).metadata.num_rows for f in
        glob.glob(os.path.join(dst, "manifest", "*.parquet")))
    comp = run.ops.last_compact or {}
    out["engine.compact_bytes_moved"] = comp.get("bytes_moved", 0)
    out["engine.compact_parts"] = comp.get("parts_compacted", 0)
    mix = {c: 0 for c in CODECS}
    pages = enc = 0
    for r in catalog.describe_dataset(spark, run.bulk_dataset).collect():
        pages += r["pages"]
        enc += r["enc_bytes"]
        if r["codec"] in mix:
            mix[r["codec"]] += r["pages"]
    out["codecs.pages"] = pages
    out["codecs.enc_bytes"] = enc
    out.update({f"codecs.mix.{c}": n for c, n in mix.items()})
    return out


def per_layer(run, host, tracer) -> tuple[dict, dict]:
    """All per-layer metrics, and the report's layer table."""
    spark = host.spark
    root = next(s for s in tracer.spans if s["name"] == "run")
    run_wall = root["end"] - root["start"]
    self_times = tracer.self_times(root["id"])
    values: dict = {}
    with tracer.span("legs"):
        enc = encode_legs(spark, run, tracer)
        dec = decode_legs(spark, run, tracer)
        values.update(codec_legs(spark, run, tracer, host.nproc))
        values.update(interop_legs(run, tracer, host.work))
        values.update(prune_legs(spark, run, tracer))
        values.update(count_legs(spark, run, tracer))
    values.update({k: v for k, v in enc.items() if not k.startswith("_")})
    values.update({k: v for k, v in dec.items() if not k.startswith("_")})
    values["trace.self_sum_frac"] = sum(self_times.values()) / run_wall
    values["trace.overhead_s"] = tracer.bookkeeping_s
    values["trace.overhead_frac"] = tracer.bookkeeping_s / run_wall
    metrics = {}
    for name, unit in PER_LAYER:
        metrics[name] = {"value": float(values.get(name, 0.0)), "unit": unit}
    layers = {
        "run_wall_s": run_wall, "self_s": self_times,
        "encode": {"wall_s": enc["_wall"], "legs_s": enc["_legs"],
                   "layers_sum_s": sum(values[k] for k in (
                       "source.scan_s", "partitioning.cluster_s",
                       "bridge.in_s", "engine.encode_kernel_s",
                       "engine.commit_s"))},
        "decode": {"wall_s": dec["_wall"], "legs_s": dec["_legs"],
                   "layers_sum_s": sum(values[k] for k in (
                       "engine.pages_read_s", "bridge.out_s",
                       "engine.decode_s"))},
        "jobs": dict(tracer.jobs),
    }
    return metrics, layers
