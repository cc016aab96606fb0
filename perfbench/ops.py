"""The operations a workload issues, each timed as a whole and traced
around its calls into the engine's public functions, plus the pyarrow
oracle the results are checked against."""

from __future__ import annotations

import hashlib
import os
import time
import traceback

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from pyspark.sql import functions as F

from cpp_parquet_spark import engine, export


class Ops:
    """Issues operations one at a time (a closed loop with one client)
    and keeps every latency sample by operation kind."""

    def __init__(self, spark, tracer, workdir):
        self.spark = spark
        self.tr = tracer
        self.workdir = workdir
        self.samples: dict[str, list[float]] = {}
        #: bytes behind each sample of the bulk kinds, for throughputs
        self.sample_bytes: dict[str, list[int]] = {}
        self.attempted = 0
        self.failed = 0
        self.notes: list[str] = []
        self.last_compact: dict | None = None
        #: the operation kind running now, "untimed" between operations
        self.current = "setup"
        self._n = 0

    def path(self, name: str) -> str:
        self._n += 1
        return os.path.join(self.workdir, f"{name}-{self._n:04d}")

    def _timed(self, kind: str, fn, record: bool = True,
               nbytes: int | None = None):
        """Run one operation and return its output. A failure is counted
        and reported, returns None, and the run goes on. Set-up
        operations (``record=False``) add no sample and no job count;
        ``nbytes`` is recorded next to a bulk operation's sample."""
        self.attempted += 1
        self.current = kind
        t0 = time.perf_counter()
        try:
            with (self.tr.op(kind) if record else self.tr.span(kind)):
                out = fn()
        except Exception:
            self.failed += 1
            self.notes.append(f"{kind} failed:\n{traceback.format_exc()}")
            return None
        finally:
            self.current = "untimed"
        if record:
            self.samples.setdefault(kind, []).append(time.perf_counter() - t0)
            if nbytes is not None:
                self.sample_bytes.setdefault(kind, []).append(nbytes)
        return out

    def untimed(self, what: str, fn) -> None:
        """Run ``fn`` as one untimed operation (set-up work): a failure
        is counted and reported like a timed operation's."""
        self.attempted += 1
        try:
            fn()
        except Exception:
            self.failed += 1
            self.notes.append(f"{what} failed:\n{traceback.format_exc()}")

    def check(self, what: str, ok: bool) -> bool:
        """An output check: one more operation, failed when ``ok`` is
        false."""
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.notes.append(f"check failed: {what}")
        return ok

    # -- bulk operations ------------------------------------------------

    def encode(self, df, dst, cfg, record=True, nbytes=None):
        def go():
            with self.tr.span("engine.run_encode"):
                return engine.run_encode(self.spark, df, dst, cfg)
        return self._timed("encode", go, record, nbytes)

    def export(self, df, dst, nbytes=None):
        def go():
            with self.tr.span("export.export_parquet"):
                return export.export_parquet(df, dst).collect()
        return self._timed("export", go, nbytes=nbytes)

    def decode(self, dst, schema, nbytes=None):
        def go():
            with self.tr.span("engine.decode_dataset"):
                out = engine.decode_dataset(self.spark, dst)
            with self.tr.span("spark.collect"):
                return reduce_spark(out, schema)
        return self._timed("decode", go, nbytes=nbytes)

    def scan(self, src, schema, nbytes=None):
        def go():
            with self.tr.span("export.scan_parquet"):
                out = export.scan_parquet(self.spark, src)
            with self.tr.span("spark.collect"):
                return reduce_spark(out, schema)
        return self._timed("scan", go, nbytes=nbytes)

    # -- table operations -----------------------------------------------

    def lookup(self, dst, column, value):
        def go():
            with self.tr.span("engine.read_live_pages"):
                pages = engine.read_live_pages(self.spark, dst)
            with self.tr.span("engine.decode_where_eq"):
                out = engine.decode_where_eq(pages, column, value, self.spark)
            with self.tr.span("spark.collect"):
                return out.toArrow()
        return self._timed("lookup", go)

    def range(self, dst, column, lo, hi):
        def go():
            with self.tr.span("engine.decode_dataset"):
                out = engine.decode_dataset(self.spark, dst,
                                            where=(column, lo, hi))
            with self.tr.span("spark.collect"):
                return out.toArrow()
        return self._timed("range", go)

    def append(self, df, dst, cfg):
        def go():
            with self.tr.span("engine.run_encode"):
                return engine.run_encode(self.spark, df, dst, cfg,
                                         resume=False)
        return self._timed("append", go)

    def delete(self, dst, column, values):
        def go():
            with self.tr.span("engine.delete_where_in"):
                return engine.delete_where_in(self.spark, dst, column,
                                              values)
        return self._timed("delete", go)

    def compact(self, dst):
        def go():
            with self.tr.span("engine.compact_parts"):
                return engine.compact_parts(self.spark, dst)
        out = self._timed("compact", go)
        if out is not None:
            self.last_compact = out
        return out

    def decode_rows(self, dst, digest: str | None = None) -> pa.Table | None:
        """Every live row of ``dst``, untimed, for an output check; with
        ``digest``, that column comes back as its values' sha256."""
        try:
            out = engine.decode_dataset(self.spark, dst)
            if digest is not None:
                out = out.withColumn(digest, F.sha2(F.col(digest), 256))
            return out.toArrow()
        except Exception:
            self.notes.append(f"check decode failed:\n"
                              f"{traceback.format_exc()}")
            return None

    def read_table(self, tbl: pa.Table, name: str, row_group_size: int):
        """Write ``tbl`` as a source parquet file and read it with Spark,
        so every input reaches the engine with the reader's types."""
        d = self.path(name)
        os.makedirs(d)
        pq.write_table(tbl, os.path.join(d, "part-0.parquet"),
                       row_group_size=row_group_size)
        return self.spark.read.parquet(d)


# -- reductions and oracle -------------------------------------------------

def _reduce_exprs(schema: pa.Schema):
    exprs = [F.count(F.lit(1)).alias("rows")]
    for f in schema:
        c = F.col(f.name)
        if pa.types.is_string(f.type):
            exprs.append(F.sum(F.octet_length(c)).alias(f.name))
        elif pa.types.is_integer(f.type):
            exprs.append(F.sum(c.cast("long")).alias(f.name))
        elif pa.types.is_timestamp(f.type):
            us = F.unix_micros(c.cast("timestamp"))
            exprs.append(F.sum(F.floor(us / 1_000_000)).alias(f.name + ".s"))
            exprs.append(F.sum(F.pmod(us, F.lit(1_000_000)))
                         .alias(f.name + ".us"))
    return exprs


def reduce_spark(df, schema: pa.Schema) -> dict:
    """Row count, UTF-8 byte sum of each string column and exact sums
    of each integer column and of each timestamp's seconds and
    microseconds."""
    row = df.agg(*_reduce_exprs(schema)).collect()[0]
    return {k: int(v or 0) for k, v in zip(row.__fields__, row)}


def reduce_arrow(tbl: pa.Table) -> dict:
    out = {"rows": tbl.num_rows}
    for f in tbl.schema:
        col = tbl.column(f.name)
        if pa.types.is_string(f.type):
            out[f.name] = int(pc.sum(pc.binary_length(col)).as_py() or 0)
        elif pa.types.is_integer(f.type):
            out[f.name] = int(pc.sum(col.cast(pa.int64())).as_py() or 0)
        elif pa.types.is_timestamp(f.type):
            us = col.cast(pa.int64()).to_numpy()
            out[f.name + ".s"] = int((us // 1_000_000).sum())
            out[f.name + ".us"] = int((us % 1_000_000).sum())
    return out


def canonical(tbl: pa.Table, schema: pa.Schema) -> pa.Table:
    """``tbl`` in ``schema``'s column order and types, rows sorted by
    every column: equal canonical tables are equal row multisets."""
    tbl = tbl.select(schema.names)
    cols = []
    for f in schema:
        col = tbl.column(f.name)
        if pa.types.is_timestamp(col.type) and col.type.tz is not None:
            col = col.cast(pa.timestamp(col.type.unit))
        cols.append(col.cast(f.type))
    tbl = pa.table(cols, schema=schema)
    return tbl.sort_by([(n, "ascending") for n in schema.names])


def same_rows(got: pa.Table, want: pa.Table) -> bool:
    return canonical(got, want.schema).equals(canonical(want, want.schema))


def with_digest(tbl: pa.Table, column: str) -> pa.Table:
    """``tbl`` with ``column`` replaced by each value's sha256 (hex)."""
    shas = [None if v is None else hashlib.sha256(v.encode()).hexdigest()
            for v in tbl.column(column).to_pylist()]
    i = tbl.schema.get_field_index(column)
    return tbl.set_column(i, column, pa.array(shas, pa.string()))


class State:
    """The rows a dataset should hold: base plus appends minus deletes."""

    def __init__(self, base: pa.Table):
        self.table = base

    def append(self, rows: pa.Table) -> None:
        self.table = pa.concat_tables([self.table,
                                       rows.cast(self.table.schema)])

    def delete(self, column: str, values: list) -> None:
        col = self.table.column(column)
        hit = pc.is_in(col, value_set=pa.array(values, col.type))
        self.table = self.table.filter(pc.invert(hit))

    def eq(self, column: str, value) -> pa.Table:
        return self.table.filter(pc.equal(self.table.column(column), value))

    def between(self, column: str, lo, hi) -> pa.Table:
        col = self.table.column(column)
        return self.table.filter(pc.and_(pc.greater_equal(col, lo),
                                         pc.less_equal(col, hi)))


def du(path: str) -> int:
    total = 0
    for d, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(d, f))
    return total
