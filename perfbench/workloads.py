"""The benchmark's workloads.  Each is a closed loop with one client:
the driver thread waits for every operation before it sends the next.

- ``olap_reads``: declared storage-semantics queries over engine
  tables; each operation builds the query's DataFrame and runs it into
  Spark's ``noop`` sink.
- ``ingest_compact``: a seeded write loop through ``OlapTable``:
  publish an update batch, run point and pruned reads, compact every
  few batches, stream-ingest events into an MVCC table, and collect
  garbage at the end.

A workload object has four steps, run in order by run.py: ``setup``
(repeated; the fixture builds), ``check`` (the untimed warm-up pass,
compared with the oracle), ``timed`` and ``finish``.  Timed work comes
in whole units (a pass over the queries, or a write cycle); ``unit_s``
is a unit's nominal length, which turns ``--seconds`` into a number of
units, and ``plan(seed, units)`` makes the seeded inputs for that many.
"""

from __future__ import annotations

import os
import statistics
import time
from concurrent.futures import ThreadPoolExecutor

import gen
from spans import BUILD, EXEC

OLAP_OPS = [
    "duplicate_model_scan", "partition_prune_range", "bucket_point_lookup",
    "snapshot_read_versions", "time_travel_read",
    "scan_projection", "filter_equality_point", "shortkey_prefix_seek",
    "tpch_q1", "segment_point_lookup", "tpch_q3", "tpch_q5", "tpch_q18",
]
#: engine tables the OLAP_OPS read; the segment table is built apart
OLAP_TABLES = ["orders_dup", "orders_versions", "lineitem_key"]

STREAM_OP = "events_stream_ingest_table"
COMPACT_EVERY = 2


class Failure(Exception):
    """An operation's output disagrees with the oracle or the model."""


class Workload:
    def __init__(self, ctx):
        self.ctx = ctx
        self.spark = ctx.spark

    def timed(self, units: int) -> None:
        for _ in range(units):
            with self.ctx.unit():
                self._unit()

    # one operation: timed, traced when tracing is on, failures counted
    def op(self, kind: str, name: str, body) -> None:
        ctx = self.ctx
        tag = f"{ctx.n_ops}:{name}"
        ctx.n_ops += 1
        ctx.attempted += 1
        tr = ctx.tracer
        if tr is not None:
            tr.op = tag
        t0 = time.perf_counter()
        try:
            if tr is not None:
                with tr.span("op", name, kind=kind) as rec:
                    body(tag, rec)
            else:
                body(tag, {})
        except Exception as ex:  # noqa: BLE001 - every failure counts
            ctx.fail(name, ex)
        ctx.lat.append((kind, name, time.perf_counter() - t0))
        if tr is not None:
            tr.op = None


class OlapReads(Workload):
    unit_s = 5.0  # one pass over OLAP_OPS

    @staticmethod
    def plan(seed: int, units: int) -> dict:
        # the check pass, then one pass per unit
        return gen.plan(seed, "olap_reads", ops=OLAP_OPS, passes=1 + units)

    def __init__(self, ctx):
        super().__init__(ctx)
        import __spark_entry__ as entry

        self.queries = entry.queries()
        self.oracles = entry.oracle_sql()
        self.sf = None
        self.rows_out: dict[str, int] = {}
        self.next_pass = 1  # pass 0 is the check pass

    def setup(self, data_dir: str) -> dict[str, float]:
        """Build every fixture the operations read, for ``data_dir``;
        returns seconds per artifact."""
        from olap_storage_engine_spark import fixtures

        def build(name):
            t = time.perf_counter()
            fixtures.get_table(self.spark, data_dir, name)
            return name, time.perf_counter() - t

        # the engine tables build on pool threads while the segment
        # table builds here: Python data-source writes must run on the
        # driver main thread (fixtures.build_all says why)
        with ThreadPoolExecutor(max_workers=len(OLAP_TABLES)) as ex:
            tables = ex.map(build, OLAP_TABLES)
            t0 = time.perf_counter()
            fixtures.segment_table_path(self.spark, data_dir)
            times = {"segment_table": time.perf_counter() - t0}
            times.update(tables)
        self.sf = data_dir
        return times

    def check(self) -> None:
        ctx = self.ctx
        for name in ctx.plan["passes"][0]:
            ctx.attempted += 1
            try:
                df = self.queries[name](self.spark, self.sf)
                cols, rows = df.columns, [tuple(r) for r in df.collect()]
                self.rows_out[name] = len(rows)
                why = ctx.compare(cols, rows, name, self.oracles[name])
                if why:
                    raise Failure(why)
            except Exception as ex:  # noqa: BLE001
                ctx.fail(name, ex)
            self.spark.catalog.clearCache()

    def _unit(self) -> None:
        ctx = self.ctx
        order = ctx.plan["passes"][self.next_pass]
        self.next_pass += 1
        ctx.sample_floor()
        for name in order:
            fn = self.queries[name]

            def body(tag, rec, fn=fn, name=name):
                with ctx.phase(tag, BUILD, "entry"):
                    df = fn(self.spark, self.sf)
                with ctx.phase(tag, EXEC, "spark") as span:
                    ctx.catalyst(df, span)
                    df.write.format("noop").mode("overwrite").save()
                rec["rows_out"] = self.rows_out.get(name, 0)

            self.op("read", name, body)
            self.spark.catalog.clearCache()

    def finish(self) -> None:
        from olap_storage_engine_spark import fixtures

        if self.ctx.traced:
            seg = fixtures.segment_table_path(self.spark, self.sf)
            self.ctx.extra["segment_files"] = sum(
                1 for _, _, fns in os.walk(seg) for f in fns
                if not f.startswith(("_", ".")) and not f.endswith(".json"))


class IngestCompact(Workload):
    # COMPACT_EVERY publish-and-read rounds, compact, stream.  Slowest
    # first, a cycle's sixteen operations are one compact and one stream
    # (about 1.7 s each), two writes (1.3 s) and twelve reads (0.3-0.5
    # s): the pooled median falls at two thirds of the reads, not in
    # their tail, and the 90th percentile among the compact and stream
    # operations.
    unit_s = 10.0

    @staticmethod
    def plan(seed: int, units: int) -> dict:
        # batch 0 is published by the check
        return gen.plan(seed, "ingest_compact", keys=gen.order_keys(),
                        batches=COMPACT_EVERY * units + 1)

    def __init__(self, ctx):
        super().__init__(ctx)
        import pandas as pd

        import __spark_entry__ as entry

        self.stream_fn = entry.queries()[STREAM_OP]
        self.stream_sql = entry.oracle_sql()[STREAM_OP]
        self.table = None
        self.batch_dir = os.path.join(ctx.run_dir, "batches")
        os.makedirs(self.batch_dir)
        orders = pd.read_parquet(os.path.join(ctx.data_dir, "orders.parquet"))
        orders["o_orderdate"] = orders["o_orderdate"].dt.date
        # the latest row per key, updated as batches are generated
        self.model = orders.set_index("o_orderkey", drop=False)
        self.date_str = self.model["o_orderdate"].astype(str)
        self.batch_files: list[str] = []
        self.written_bytes = 0
        self.root_bytes0 = 0

    # -- inputs --------------------------------------------------------
    def _batch_file(self, i: int) -> str:
        """Write update batch ``i`` as plain Parquet (full rows: the
        UNIQUE model replaces whole rows) and apply it to the model."""
        b = self.ctx.plan["batches"][i]
        keys = b["o_orderkey"]
        for col in ("o_orderstatus", "o_totalprice", "o_orderpriority"):
            self.model.loc[keys, col] = b[col]
        path = os.path.join(self.batch_dir, f"batch{i:03d}.parquet")
        self.model.loc[keys].to_parquet(path, index=False)
        self.batch_files.append(path)
        return path

    def _read_df(self, path: str):
        from pyspark.sql import functions as F

        return self.spark.read.parquet(path).select(
            "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
            F.col("o_orderdate").cast("date").alias("o_orderdate"),
            "o_orderpriority")

    def _spec(self, name: str):
        from olap_storage_engine_spark import (
            BucketSpec, BucketType, ColumnSpec, ColumnType, KeysType,
            PartitionPolicy, PartitionType, TableSpec)
        from olap_storage_engine_spark.fixtures import ORDER_RANGE_BOUNDS

        return TableSpec(
            name=name,
            columns=[
                ColumnSpec.key("o_orderkey", ColumnType.INT64),
                ColumnSpec.value("o_custkey", ColumnType.INT64),
                ColumnSpec.value("o_orderstatus", ColumnType.VARCHAR),
                ColumnSpec.value("o_totalprice", ColumnType.FLOAT64),
                ColumnSpec.value("o_orderdate", ColumnType.DATE),
                ColumnSpec.value("o_orderpriority", ColumnType.VARCHAR),
            ],
            keys_type=KeysType.UNIQUE,
            partition=PartitionPolicy(PartitionType.RANGE, "o_orderdate",
                                      bounds=ORDER_RANGE_BOUNDS),
            bucket=BucketSpec(BucketType.HASH, "o_orderkey", 8),
        )

    # -- steps ---------------------------------------------------------
    def setup(self, data_dir: str) -> dict[str, float]:
        from olap_storage_engine_spark import OlapTable

        t0 = time.perf_counter()
        name = f"orders_ingest{self.ctx.setup_rep}"
        t = OlapTable.create(self.spark, self._spec(name),
                             self.ctx.warehouse, overwrite=True)
        t.write(self._read_df(os.path.join(data_dir, "orders.parquet")))
        self.table = t
        return {"ingest_base": time.perf_counter() - t0}

    def check(self) -> None:
        from olap_storage_engine_spark.operators import compaction

        ctx = self.ctx
        self.root_bytes0 = dir_bytes(self.table.root)
        for kind, arg in ctx.plan["reads"][0]:
            ctx.attempted += 1
            try:
                self._read(kind, arg, "check", {})
            except Exception as ex:  # noqa: BLE001
                ctx.fail(f"read_{kind}", ex)
        ctx.attempted += 1
        try:
            self._stream("check", {})
        except Exception as ex:  # noqa: BLE001
            ctx.fail(STREAM_OP, ex)
        # publish batch 0, read it back (checked like every read) and
        # compact, untimed: cold, these paths made the first timed cycle
        # 20-40% slower than the next ones, by a share that varied from
        # run to run
        self._publish_and_read()
        ctx.attempted += 1
        try:
            compaction.compact(self.table)
        except Exception as ex:  # noqa: BLE001
            ctx.fail("compact", ex)

    def _read(self, kind: str, arg, tag: str, rec) -> None:
        from pyspark.sql import functions as F

        ctx, t = self.ctx, self.table
        if kind == "point":
            with ctx.phase(tag, BUILD, None):
                df = t.read_point(arg)
            with ctx.phase(tag, EXEC, "spark") as span:
                ctx.catalyst(df, span)
                rows = df.collect()
            want = self.model.loc[arg]
            cols = ("o_orderstatus", "o_totalprice", "o_orderdate")
            if len(rows) != 1 or any(rows[0][c] != want[c] for c in cols):
                raise Failure(f"point {arg}: {rows} != {want.to_dict()}")
            rec["rows_out"] = 1
            return
        lo, hi = arg
        with ctx.phase(tag, BUILD, None):
            df = t.read_pruned(lo, hi).agg(
                F.count(F.lit(1)).alias("n"),
                F.sum("o_totalprice").alias("s"))
        with ctx.phase(tag, EXEC, "spark") as span:
            ctx.catalyst(df, span)
            n, s = df.collect()[0]
        d = self.date_str
        sel = self.model[(d >= lo) & (d < hi)]
        want = float(sel["o_totalprice"].astype(float).sum())
        if n != len(sel) or abs((s or 0.0) - want) > 1e-6 * max(1.0, want):
            raise Failure(f"range {lo}..{hi}: ({n}, {s}) != "
                          f"({len(sel)}, {want})")
        rec["rows_out"] = 1

    def _stream(self, tag: str, rec) -> None:
        ctx = self.ctx
        with ctx.phase(tag, BUILD, "entry"):
            df = self.stream_fn(self.spark, ctx.data_dir)
        with ctx.phase(tag, EXEC, "spark") as span:
            ctx.catalyst(df, span)
            cols, rows = df.columns, [tuple(r) for r in df.collect()]
        why = ctx.compare(cols, rows, STREAM_OP, self.stream_sql)
        if why:
            raise Failure(why)
        rec["rows_out"] = len(rows)

    def _unit(self) -> None:
        from olap_storage_engine_spark.operators import compaction

        ctx, t = self.ctx, self.table
        for _ in range(COMPACT_EVERY):
            ctx.sample_floor()
            self._publish_and_read()
        before, size0 = t.compaction_score(), dir_bytes(t.root)

        def compact(tag, rec):
            with ctx.phase(tag, EXEC, None):
                compaction.compact(t)

        self.op("compact", "compact", compact)
        ctx.compactions.append(
            (before, t.compaction_score(), dir_bytes(t.root) - size0))
        self.op("stream", STREAM_OP, self._stream)

    def _publish_and_read(self) -> None:
        ctx, t = self.ctx, self.table
        i = len(self.batch_files)
        path = self._batch_file(i)
        self.written_bytes += os.path.getsize(path)

        def write(tag, rec):
            with ctx.phase(tag, EXEC, None):
                t.write(self._read_df(path))

        self.op("write", "write", write)
        for kind, arg in ctx.plan["reads"][i + 1]:
            self.op("read", f"read_{kind}",
                    lambda tag, rec, k=kind, a=arg:
                    self._read(k, a, tag, rec))

    def finish(self) -> None:
        from olap_storage_engine_spark.operators import compaction

        ctx, t = self.ctx, self.table
        written = dir_bytes(t.root) - self.root_bytes0
        files0 = count_files(t.root)
        g0 = time.perf_counter()
        compaction.garbage_collect(t)
        ctx.extra["gc.s"] = time.perf_counter() - g0
        ctx.extra["gc.files_reclaimed"] = files0 - count_files(t.root)
        if ctx.compactions:
            cs = ctx.compactions
            ctx.extra["compaction.score_before"] = statistics.mean(
                c[0] for c in cs)
            ctx.extra["compaction.score_after"] = statistics.mean(
                c[1] for c in cs)
            ctx.extra["compaction.bytes_rewritten"] = statistics.mean(
                c[2] for c in cs)
        # final snapshot against a DuckDB UNIQUE collapse of the inputs
        ctx.attempted += 1
        try:
            df = t.read()
            cols, rows = df.columns, [tuple(r) for r in df.collect()]
            live = os.path.join(ctx.run_dir, "live.parquet")
            want = collapse_oracle(
                os.path.join(ctx.data_dir, "orders.parquet"),
                self.batch_files, live)
            why = ctx.compare_rows(cols, rows, want)
            if why:
                raise Failure(f"final snapshot: {why}")
            ctx.extra["write_amp"] = written / self.written_bytes
            ctx.extra["space_amp"] = dir_bytes(t.root) / os.path.getsize(live)
        except Exception as ex:  # noqa: BLE001
            ctx.fail("final_snapshot", ex)


def collapse_oracle(base: str, batches: list[str], out: str):
    """Latest row per o_orderkey over base (version 0) then each batch
    in order, as (cols, canonical rows); the live rows are also written
    once to ``out`` as plain Parquet."""
    import duckdb

    from tools.compare import canon_rows

    cols = ("o_orderkey, o_custkey, o_orderstatus, o_totalprice, "
            "CAST(o_orderdate AS DATE) AS o_orderdate, o_orderpriority")
    parts = [f"SELECT {cols}, 0 AS v FROM '{base}'"] + [
        f"SELECT {cols}, {i + 1} AS v FROM '{p}'"
        for i, p in enumerate(batches)]
    sql = (f"SELECT * EXCLUDE (v) FROM ({' UNION ALL '.join(parts)}) "
           "QUALIFY row_number() OVER (PARTITION BY o_orderkey "
           "ORDER BY v DESC) = 1")
    con = duckdb.connect()
    try:
        con.execute(f"COPY ({sql}) TO '{out}' (FORMAT PARQUET)")
        res = con.execute(f"SELECT * FROM '{out}'")
        return canon_rows([d[0] for d in res.description], res.fetchall())
    finally:
        con.close()


def dir_bytes(root: str) -> int:
    return sum(os.path.getsize(os.path.join(dp, f))
               for dp, _, fns in os.walk(root) for f in fns)


def count_files(root: str) -> int:
    return sum(len(fns) for _, _, fns in os.walk(root))


WORKLOADS = {"olap_reads": OlapReads, "ingest_compact": IngestCompact}
