"""The two workloads. Each is a closed loop with one client, and each
reports every end-to-end metric, so both issue every kind of operation;
they differ in their data and in which operations fill the timed loop.

The timed loop runs blocks of operations until ``--seconds`` is spent,
at least one. A block interleaves a workload's bulk operations with its
table operations, evenly, so the samples of every kind spread over the
whole block instead of sharing a few seconds of the host's load or of
the JVM's warming; then one compaction follows. (A compaction in the
middle of the block would give a second sample of it, but reads after
a compaction are up to twice as slow, so the other operations' two
samples would no longer be alike.)

``ingest``: repofiles (long, repetitive strings), hash-clustered on
salted ``(repo, path-bucket)`` parts with ``order_keys=("path",)``. A
block is two cycles of encode, export, decode and scan of the whole
table, with two rounds of lookup, range, delete and append on the small
dataset the warm-up encoded; ``path`` has no bloom and its zone maps
cannot prune hash-clustered parts, so those operations read everything.

``table_ops``: a lineitem-shaped fact table range-clustered on
``l_orderkey`` with a bloom on ``l_partkey``. A block is two rounds of a
seed-fixed stream of point lookups, range reads, deletes of whole orders
from the oldest range part and small appends, with four exports and
scans of the source, two encodes of it and two decodes of the table.
"""

from __future__ import annotations

import dataclasses
import random
import statistics
import time
from concurrent.futures import ThreadPoolExecutor

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

from cpp_parquet_spark import engine, export, synth
from cpp_parquet_spark.partitioning import EncodeConfig, plan_num_parts

import data
from ops import (Ops, State, du, reduce_arrow, reduce_spark, same_rows,
                 with_digest)

#: input sizes, chosen so one run fits the benchmark's time budget
INGEST_ROWS = 8_000           # ~20 MB of content
LINEITEM_ROWS = 160_000       # ~11 MB of raw column bytes
LINEITEM_PARTS = 8
APPEND_ROWS = 2_000
RANGE_ORDERS = 100            # base orders in a range read's key window
DATA_REPS = 3                 # input generations timed for setup_s
TABLE_STREAM = ("lookup", "range", "delete", "append")


@dataclasses.dataclass
class Run:
    """What a workload hands back: setup time, per-kind samples via
    ``ops``, and the figures the metrics and traced legs need."""
    ops: Ops
    setup: dict
    raw_bytes: dict           # bytes behind each bulk sample kind
    stored_bytes_ratio: float
    dataset: str              # the dataset the table operations used
    bulk_dataset: str         # the dataset the bulk decode read
    source_df: object
    source: pa.Table
    cfg: EncodeConfig
    lookup: tuple             # (column, [values])
    ranges: tuple             # (column, [(lo, hi)])
    export_dir: str


def _generate(gen, reps: int) -> tuple[pa.Table, dict]:
    """Generate the input ``reps`` times; the median wall goes into
    setup_s in place of the sum."""
    walls, tbl = [], None
    for _ in range(reps):
        t0 = time.perf_counter()
        tbl = gen()
        walls.append(time.perf_counter() - t0)
    return tbl, {"data_gen_s": statistics.median(walls),
                 "data_gen_total_s": sum(walls)}


def _setup(t0: float, gen: dict) -> dict:
    return {**gen, "prep_s": time.perf_counter() - t0
            - gen["data_gen_total_s"]}


def _repofiles_cfg(tbl: pa.Table, nproc: int) -> EncodeConfig:
    """The north-rule config of ``bench.py``: salted (repo, path-bucket)
    parts of ~16 MiB, at least two per core, ordered by path."""
    content = int(pc.sum(pc.binary_length(tbl.column("content"))).as_py())
    return EncodeConfig(keys=("repo",), salt_from=("path",), salt_buckets=32,
                        num_parts=plan_num_parts(content, target=16 << 20,
                                                 min_parts=2 * nproc),
                        order_keys=("path",), table_name="repofiles")


def _lineitem_cfg(tbl: pa.Table) -> EncodeConfig:
    keys = tbl.column("l_orderkey").to_numpy()
    qs = [i / LINEITEM_PARTS for i in range(1, LINEITEM_PARTS)]
    bounds = tuple(int(b) for b in np.quantile(keys, qs, method="lower"))
    return EncodeConfig(keys=(), salt_from=(), range_on="l_orderkey",
                        range_bounds=bounds, num_parts=LINEITEM_PARTS,
                        order_keys=("l_orderkey", "l_linenumber"),
                        bloom_cols=("l_partkey",), table_name="lineitem")


def _interleave(major: list, minor: list) -> list:
    """``major`` in order, with the items of ``minor`` (in order) spread
    evenly between them."""
    out, j = [], 0
    for i, step in enumerate(major, 1):
        out.append(step)
        while j < len(minor) and (j + 1) * len(major) <= i * len(minor):
            out.append(minor[j])
            j += 1
    return out + minor[j:]


class Bulk:
    """The bulk operations on one source table, each output checked:
    encode and export of the source, scan of the last export, and
    decode of a dataset against the rows it should hold."""

    def __init__(self, ops: Ops, df, tbl: pa.Table, cfg):
        self.ops, self.df, self.tbl, self.cfg = ops, df, tbl, cfg
        self.raw = data.raw_bytes(tbl)
        self.want = reduce_arrow(tbl)
        self.dst = self.xdir = None
        self.first_dst = None

    def encode(self) -> None:
        self.dst = self.ops.path("ds")
        self.ops.encode(self.df, self.dst, self.cfg, nbytes=self.raw)
        self.first_dst = self.first_dst or self.dst

    def export(self) -> None:
        self.xdir = self.ops.path("export")
        self.ops.export(self.df, self.xdir, nbytes=self.raw)

    def scan(self) -> None:
        got = self.ops.scan(self.xdir, self.tbl.schema, nbytes=self.raw)
        if got is not None:
            self.ops.check("scan reduction equals the source",
                           got == self.want)

    def decode(self, dst: str | None = None,
               rows: pa.Table | None = None) -> None:
        """Decode ``dst`` (the last encode's dataset by default), which
        should hold ``rows`` (the source by default)."""
        rows = self.tbl if rows is None else rows
        got = self.ops.decode(dst or self.dst, self.tbl.schema,
                              nbytes=data.raw_bytes(rows))
        if got is not None:
            self.ops.check("decode reduction equals the rows it holds",
                           got == reduce_arrow(rows))


def _table_op(ops: Ops, kind: str, rng: random.Random, dst: str,
              state: State, spec: dict, probes: dict) -> None:
    """One table operation drawn from ``rng``, checked against ``state``."""
    if kind == "lookup":
        col = spec["lookup_col"]
        v = spec["pick_key"](rng)
        probes["lookup"].append(v)
        got = ops.lookup(dst, col, v)
        if got is not None:
            ops.check(f"lookup {col}={v!r}", same_rows(got, state.eq(col, v)))
    elif kind == "range":
        col = spec["range_col"]
        lo, hi = spec["pick_range"](rng)
        probes["range"].append((lo, hi))
        got = ops.range(dst, col, lo, hi)
        if got is not None:
            ops.check(f"range {col} in [{lo!r}, {hi!r}]",
                      same_rows(got, state.between(col, lo, hi)))
    elif kind == "append":
        rows = spec["make_append"](rng)
        df = ops.read_table(rows, "append", row_group_size=1 << 16)
        out = ops.append(df, dst, spec["cfg"])
        if out is not None:
            state.append(rows)
    elif kind == "delete":
        col = spec["delete_col"]
        vals = [spec["pick_delete"](rng) for _ in range(3)]
        out = ops.delete(dst, col, vals)
        if out is not None:
            state.delete(col, vals)
    else:
        raise ValueError(kind)


def _final_check(ops: Ops, dst: str, state: State) -> None:
    got = ops.decode_rows(dst)
    if ops.check("final decode ran", got is not None):
        ops.check("final decode equals base + appends - deletes",
                  same_rows(got, state.table))


def _warm_up(spark, xdir: str, export_df, schema: pa.Schema, encode,
             dst: str, lookup: tuple, writes) -> None:
    """Pay the first-call costs (JIT, Python worker imports and first
    large allocations, code generation) in two concurrent chains, so
    their cold costs overlap: export ``export_df`` to ``xdir``, scan it
    with the timed scan's reduction over ``schema`` and run
    ``writes()``, more encodes that nothing reads back; and
    ``encode()`` the dataset ``dst``, then decode it with the same
    reduction and read ``lookup = (column, value)`` from it by range
    and, meanwhile, by lookup. The first chain is the shorter one."""
    column, value = lookup

    def chain_export():
        export.export_parquet(export_df, xdir).collect()
        reduce_spark(export.scan_parquet(spark, xdir), schema)
        writes()

    def chain_encode():
        encode()
        with ThreadPoolExecutor(1) as pool:
            # the lookup overlaps the full and the range decode
            fut = pool.submit(lambda: engine.decode_where_eq(
                engine.read_live_pages(spark, dst), column, value,
                spark).count())
            reduce_spark(engine.decode_dataset(spark, dst), schema)
            engine.decode_dataset(spark, dst,
                                  where=(column, value, value)).count()
            fut.result()

    with ThreadPoolExecutor(2) as pool:
        for fut in [pool.submit(chain_export), pool.submit(chain_encode)]:
            fut.result()


def run_ingest(host, ops: Ops, seed: int, seconds: float) -> Run:
    tr = ops.tr
    t_setup = time.perf_counter()
    with tr.span("setup"):
        tbl, gen = _generate(lambda: synth.repofiles(INGEST_ROWS, seed),
                             DATA_REPS)
        # ~2.5 MB row groups: the source scan is split across every core
        df = ops.read_table(tbl, "source", row_group_size=1024)
        cfg = _repofiles_cfg(tbl, host.nproc)
        # the warm-up input, once encoded, is the table operations'
        # dataset: they read it whole, so a small one keeps them cheap
        small = synth.repofiles(INGEST_ROWS // 8, seed + 1)
        small_cfg = _repofiles_cfg(small, host.nproc)
        small_df = ops.read_table(small, "small", 1024)
        tdst = ops.path("warm-ds")
        ops.untimed("warm-up", lambda: _warm_up(
            ops.spark, ops.path("warm-export"), df, tbl.schema,
            lambda: engine.run_encode(ops.spark, small_df, tdst, small_cfg),
            tdst, ("path", small.column("path")[0].as_py()),
            # the timed loop's first encode is then not the first of
            # the whole table
            lambda: engine.run_encode(ops.spark, df, ops.path("warm-ds"),
                                      cfg)))
    setup = _setup(t_setup, gen)

    bulk = Bulk(ops, df, tbl, cfg)
    state = State(small)
    paths = sorted(small.column("path").to_pylist())
    spec = {
        "cfg": small_cfg, "lookup_col": "path", "range_col": "path",
        "delete_col": "path",
        "pick_key": lambda rng: paths[rng.randrange(len(paths))],
        "pick_delete": lambda rng: paths[rng.randrange(len(paths))],
        "pick_range": lambda rng: _path_window(rng, paths),
        "make_append": lambda rng: synth.repofiles(
            APPEND_ROWS // 4, rng.randrange(1 << 30)),
    }
    rng = random.Random(seed)
    probes = {"lookup": [], "range": []}
    block = _interleave(
        [bulk.encode, bulk.export, bulk.decode, bulk.scan] * 2,
        [lambda k=k: _table_op(ops, k, rng, tdst, state, spec, probes)
         for k in TABLE_STREAM * 2])
    with tr.span("loop"):
        _run_blocks(block, seconds)
        ops.compact(tdst)
    ratio = du(bulk.first_dst) / bulk.raw

    # the last encode's dataset holds exactly the source rows
    got = ops.decode_rows(bulk.dst, digest="content")
    if ops.check("bulk decode ran", got is not None):
        want = with_digest(tbl, "content")
        ops.check("content sha256 multiset equals the source's",
                  sorted(got.column("content").to_pylist())
                  == sorted(want.column("content").to_pylist()))
        ops.check("all five columns row-equal", same_rows(got, want))
    _final_check(ops, tdst, state)
    return Run(ops=ops, setup=setup,
               raw_bytes={"encode": bulk.raw, "export": bulk.raw,
                          "decode": bulk.raw, "scan": bulk.raw},
               stored_bytes_ratio=ratio, dataset=tdst,
               bulk_dataset=bulk.dst, source_df=df,
               source=tbl, cfg=cfg, lookup=("path", probes["lookup"]),
               ranges=("path", probes["range"]), export_dir=bulk.xdir)


def _run_blocks(block: list, seconds: float) -> None:
    """Run ``block``'s steps, again and again until ``seconds`` have
    passed, at least once."""
    deadline = time.perf_counter() + seconds
    while True:
        for step in block:
            step()
        if time.perf_counter() >= deadline:
            return


def _path_window(rng: random.Random, paths: list[str]) -> tuple[str, str]:
    i = rng.randrange(len(paths) - 64)
    return paths[i], paths[i + 63]


def run_table_ops(host, ops: Ops, seed: int, seconds: float) -> Run:
    tr = ops.tr
    n_keys = max(1, LINEITEM_ROWS // data.PART_FANOUT)
    n_appends = [0]
    max_key = [0]               # largest base order key

    def make_append(rng):
        # new orders between the base keys, all over the key range, so
        # each append adds a small part to every range part
        n_appends[0] += 1
        off = 1 + (n_appends[0] - 1) % (data.ORDER_STEP - 1)
        slots = rng.sample(range(max_key[0] // data.ORDER_STEP), APPEND_ROWS)
        keys = np.sort(np.array(slots, np.int64)) * data.ORDER_STEP + off
        rows = data.lineitem(APPEND_ROWS, rng.randrange(1 << 30), keys)
        # appended rows share the base's part-key domain, so lookups and
        # deletes reach them too
        return rows.set_column(1, "l_partkey", pa.array(
            [rng.randrange(1, n_keys + 1) for _ in range(rows.num_rows)],
            pa.int64()))

    def pick_range(rng):
        lo = rng.randrange(1, max_key[0] - data.ORDER_STEP * RANGE_ORDERS)
        return lo, lo + data.ORDER_STEP * RANGE_ORDERS

    t_setup = time.perf_counter()
    with tr.span("setup"):
        tbl, gen = _generate(lambda: data.lineitem(LINEITEM_ROWS, seed),
                             DATA_REPS)
        df = ops.read_table(tbl, "source", row_group_size=16384)
        cfg = _lineitem_cfg(tbl)
        dst = ops.path("ds")
        small_df = ops.read_table(data.lineitem(APPEND_ROWS, seed + 1),
                                  "small", 1 << 16)
        wdst = ops.path("warm-ds")

        def writes():
            # a second encode of the table and an append to it
            engine.run_encode(ops.spark, df, wdst, cfg)
            engine.run_encode(ops.spark, small_df, wdst, cfg, resume=False)

        # the base table's encode and the reads of it warm up
        ops.untimed("warm-up", lambda: _warm_up(
            ops.spark, ops.path("warm-export"), df, tbl.schema,
            lambda: ops.encode(df, dst, cfg, record=False), dst,
            ("l_partkey", 1), writes))
    setup = _setup(t_setup, gen)
    raw = data.raw_bytes(tbl)
    ratio = du(dst) / raw
    state = State(tbl)
    max_key[0] = int(pc.max(tbl.column("l_orderkey")).as_py())
    spec = {"cfg": cfg, "lookup_col": "l_partkey", "range_col": "l_orderkey",
            "delete_col": "l_orderkey",
            "pick_key": lambda rng: rng.randrange(1, n_keys + 1),
            # whole base orders of the oldest range part, as a retention
            # job would delete them: only that part carries deletion
            # vectors, so every compaction merges the same parts
            "pick_delete": lambda rng: data.ORDER_STEP * rng.randrange(
                1, cfg.range_bounds[0] // data.ORDER_STEP),
            "pick_range": pick_range, "make_append": make_append}
    rng = random.Random(seed)
    probes = {"lookup": [], "range": []}

    bulk = Bulk(ops, df, tbl, cfg)
    # an export or a scan of this table takes under a second, too short
    # for two samples to be steady, so they come twice as often
    block = _interleave(
        [bulk.export, bulk.scan, bulk.encode, bulk.export, bulk.scan,
         lambda: bulk.decode(dst, state.table)] * 2,
        [lambda k=k: _table_op(ops, k, rng, dst, state, spec, probes)
         for k in TABLE_STREAM * 2])
    with tr.span("loop"):
        _run_blocks(block, seconds)
        ops.compact(dst)
    _final_check(ops, dst, state)
    return Run(ops=ops, setup=setup,
               raw_bytes={"encode": raw, "export": raw,
                          "decode": data.raw_bytes(state.table),
                          "scan": raw},
               stored_bytes_ratio=ratio, dataset=dst, bulk_dataset=dst,
               source_df=df, source=tbl, cfg=cfg,
               lookup=("l_partkey", probes["lookup"]),
               ranges=("l_orderkey", probes["range"]),
               export_dir=bulk.xdir)


WORKLOADS = {"ingest": run_ingest, "table_ops": run_table_ops}
