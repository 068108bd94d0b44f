"""Workload ``cdc_lifecycle``: the paper's path end to end.

Operations, in the order one pass runs them:

1. ``bootstrap`` — submit one CCD each for region, nation, supplier and
   customer to a fresh ``FileControlLog``; ``Initializer.catch_up``
   prepares and seeds each one record by record into a ``FileTopicStore``.
   Timed from the first submission until every CCD is terminal.
2. ``bulk_seed`` — ``seed_frame(lineitem)`` into ``FileTopicStore.send_frame``.
3. ``change`` (``PASS_CHANGES`` times) — one generated keyed batch goes
   through ``DeltaLogFormat.merge`` on a CDF-enabled orders table; the
   running ``read_change_stream`` → ``continuous_agg_step`` query then
   drains it with ``processAllAvailable``. Timed from the merge call until
   the view holds that version (change-to-view latency).
4. ``read`` — after each change, a consumer scans the table once.

The live table, its view and the change stream are created before the
timed region, and ``WARM_CHANGES`` batches run there first. The check
after the timed region recomputes the final table and view in DuckDB from
the base plus every applied batch, and counts each CCD topic.
"""

from __future__ import annotations

import glob
import os
import time

import pyarrow.parquet as pq

from perfbench import inputs

SF = 0.005
BATCH_KEYS = 200
WARM_CHANGES = 1
PASS_CHANGES = 2
MAX_BATCHES = 64


def setup(seed: int, inputs_dir: str, scale: float = 1.0) -> None:
    tables = inputs.make_tables(seed, SF * scale)
    wanted = [*inputs.CCD_TABLES, "lineitem", "orders"]
    inputs.write_tables({t: tables[t] for t in wanted}, inputs_dir)
    changes = os.path.join(inputs_dir, "changes")
    os.makedirs(changes, exist_ok=True)
    for b in inputs.make_change_batches(seed, tables["orders"], MAX_BATCHES,
                                        max(2, int(BATCH_KEYS * scale))):
        pq.write_table(b.rows, os.path.join(changes, f"b{b.number:04d}.parquet"))


def _dir_bytes(path: str) -> int:
    return sum(os.path.getsize(p) for p in glob.glob(os.path.join(path, "**"), recursive=True)
               if os.path.isfile(p))


class _Meter:
    """Count and time calls to one bound method of a store object the
    benchmark built (``send``, ``append``, the seed iterator's pulls)."""

    def __init__(self) -> None:
        self.calls = 0
        self.seconds = 0.0

    def wrap(self, fn):
        def timed(*a, **kw):
            t = time.perf_counter()
            try:
                return fn(*a, **kw)
            finally:
                self.seconds += time.perf_counter() - t
                self.calls += 1
        return timed

    def wrap_iter(self, fn):
        def pulls(*a, **kw):
            it = iter(fn(*a, **kw))
            while True:
                t = time.perf_counter()
                try:
                    item = next(it)
                except StopIteration:
                    return
                finally:
                    self.seconds += time.perf_counter() - t
                self.calls += 1
                yield item
        return pulls


class CdcLifecycle:
    name = "cdc_lifecycle"

    def __init__(self, ctx) -> None:
        self.ctx = ctx
        self.spark = ctx.spark
        self.tracer = ctx.tracer
        self.meters = {k: _Meter() for k in ("append", "send", "pull")}
        self.applied: list[str] = []
        self.results: list[tuple[str, str]] = []  # (queue, terminal status)
        self.bootstrap_roots: list[str] = []
        self.topics_roots: list[str] = []

    # -- frames ------------------------------------------------------------

    def _frames(self):
        from cdc_init_spark.tables import load_table
        if not hasattr(self, "_frames_cache"):
            names = [*inputs.CCD_TABLES, "lineitem"]
            self._frames_cache = {t: load_table(self.spark, self.ctx.inputs, t) for t in names}
        return self._frames_cache

    # -- operations ----------------------------------------------------------

    def bootstrap(self, root: str, record: bool, tables=tuple(inputs.CCD_TABLES)) -> float:
        from cdc_init_spark.sources.local import FileChangeDataStore, FileTopicStore
        from cdc_init_spark.streaming.control_log import FileControlLog
        from cdc_init_spark.streaming.initializer import Initializer
        from cdc_init_spark.streaming.model import CCD
        from cdc_init_spark.streaming.snapshot import SparkSeedStore

        tr, frames = self.tracer, self._frames()
        log = FileControlLog(os.path.join(root, "control"))
        topics = FileTopicStore(os.path.join(root, "topics"))
        seeds = SparkSeedStore(lambda t: frames[t.split(".")[-1]],
                               lambda t: inputs.CCD_TABLES[t.split(".")[-1]])
        init = Initializer(log, FileChangeDataStore(os.path.join(root, "db")), seeds, topics)
        if tr.enabled and record:
            log.append = self.meters["append"].wrap(log.append)
            topics.send = self.meters["send"].wrap(topics.send)
            seeds.seeds = self.meters["pull"].wrap_iter(seeds.seeds)
            seeds.record_count = _spanned(tr, "snapshot.record_count", seeds.record_count)
            init.backlog = _spanned(tr, "control_log.backlog", init.backlog)
            init.process_ccd = _spanned(tr, "initializer.process_ccd", init.process_ccd)
        with tr.span("bootstrap") as op:
            for t in tables:
                log.append(CCD(table=f"tpch.{t}", queue=f"cdc_{t}", queue_table=f"cdc_{t}_q"))
            done = init.catch_up(self.spark)
        if record:
            self.results += [(c.queue, c.status) for c in done]
            self.bootstrap_roots.append(root)
        return op.wall

    def bulk_seed(self, root: str, record: bool, table: str = "lineitem") -> float:
        from cdc_init_spark.sources.local import FileTopicStore
        from cdc_init_spark.streaming.snapshot import seed_frame

        tr = self.tracer
        topics = FileTopicStore(os.path.join(root, "topics"))
        pk = inputs.LINEITEM_PK if table == "lineitem" else inputs.CCD_TABLES[table]
        topics.create_topic(f"cdc_{table}")
        with tr.span("bulk_seed") as op:
            with tr.span("snapshot.seed_frame"):
                frame = seed_frame(self._frames()[table], f"tpch.{table}", pk)
            with tr.span("local.send_frame"):
                topics.send_frame(f"cdc_{table}", frame)
        if record:
            self.topics_roots.append(root)
        return op.wall

    def start_live(self, root: str) -> None:
        from pyspark.sql import functions as F

        from cdc_init_spark.sources.delta_cdf import read_change_stream
        from cdc_init_spark.sources.delta_log import DeltaLogFormat
        from cdc_init_spark.streaming.apply import continuous_agg_step, init_continuous_agg
        from cdc_init_spark.tables import load_table

        spark, tr = self.spark, self.tracer
        orders = load_table(spark, self.ctx.inputs, "orders")
        self.table = DeltaLogFormat(os.path.join(root, "orders"), enable_cdf=True)
        self.table.init({"orders": orders})
        self.view = DeltaLogFormat(os.path.join(root, "view"))
        init_continuous_agg(orders, self.view)
        step = continuous_agg_step(spark, self.view, ["o_orderkey"], ["o_orderpriority"],
                                   "o_totalprice", order_col="_ord", type_col="type")
        cols = orders.columns
        self.cdf_rows = []

        def sink(batch_df, _bid: int) -> None:
            batch_df = batch_df.persist()
            try:
                counts = sorted(tuple(r) for r in
                                batch_df.groupBy("_commit_version").count().collect())
                self.cdf_rows.append(sum(n for _, n in counts))
                for v, _n in counts:
                    part = (batch_df.filter(F.col("_commit_version") == v)
                            .select(*cols, "type").withColumn("_ord", F.lit(v)))
                    with tr.span("apply.view_step"):
                        step(part, v)
            finally:
                batch_df.unpersist()

        self.query = (
            read_change_stream(spark, self.table.root, "orders", startingVersion=1)
            .writeStream.foreachBatch(sink)
            .option("checkpointLocation", os.path.join(root, "checkpoint"))
            .start()
        )

    def change(self, batch: str, record: bool) -> float:
        tr = self.tracer
        changes = self.spark.read.parquet(batch)
        number = int(os.path.basename(batch)[1:5])
        data_before = _dir_bytes(self.table.data_dir) + _dir_bytes(self.table.cdc_dir) \
            if tr.enabled else 0
        with tr.span("change") as op:
            with tr.span("delta_log.merge") as m:
                self.table.merge(self.spark, "orders", changes, ["o_orderkey"],
                                 order_col="ts", batch_id=number)
            with tr.span("delta_cdf.batch"):
                self.query.processAllAvailable()
        self.applied.append(batch)
        if tr.enabled:
            stats = self.table.last_merge_stats or {}
            m.attrs.update(
                candidates=stats.get("candidates", 0), touched=stats.get("touched", 0),
                bytes_written=_dir_bytes(self.table.data_dir)
                + _dir_bytes(self.table.cdc_dir) - data_before,
                change_bytes=os.path.getsize(batch),
            )
        return op.wall

    def read(self) -> float:
        tr = self.tracer
        with tr.span("read") as op:
            with tr.span("delta_log.read"):
                self.table.read(self.spark, "orders").write.format("noop").mode("overwrite").save()
        return op.wall

    # -- the run -------------------------------------------------------------

    def run(self, out) -> None:
        ctx = self.ctx
        batches = sorted(glob.glob(os.path.join(ctx.inputs, "changes", "b*.parquet")))
        nxt = iter(batches)
        per_pass = ctx.limit or PASS_CHANGES
        out.unit_kinds = ["change"]
        out.pass_list = ["bootstrap", "bulk_seed"] + ["change", "read"] * per_pass
        # warm-up outside the timed region: a two-CCD bootstrap and a small
        # bulk seed on throw-away stores, the live table, and the first
        # change batches
        self.bootstrap(os.path.join(ctx.work, "warm"), record=False, tables=("region", "nation"))
        self.bulk_seed(os.path.join(ctx.work, "warm"), record=False, table="nation")
        self.start_live(os.path.join(ctx.work, "live"))
        self.query.processAllAvailable()
        for _ in range(WARM_CHANGES):
            self.change(next(nxt), record=False)
            self.read()
        first_timed_span = len(self.tracer.spans)

        def one_pass(i: int) -> None:
            root = os.path.join(ctx.work, f"pass{i}")
            out.attempt("bootstrap", lambda: self.bootstrap(root, record=True))
            out.attempt("bulk_seed", lambda: self.bulk_seed(root, record=True))
            for _ in range(per_pass):
                batch = next(nxt)
                out.attempt("change", lambda: self.change(batch, record=True))
                out.attempt("read", self.read)

        out.timed_passes(one_pass, max_passes=(MAX_BATCHES - WARM_CHANGES) // per_pass)
        self.query.stop()
        self._report(out, first_timed_span)
        self._check(out)
        if self.tracer.enabled:
            self._encode_probe(out)

    def _report(self, out, first: int) -> None:
        tr = self.tracer
        timed = tr.spans[first:]
        rows = self._frames()["lineitem"].count()
        seeds = [s.wall for s in timed if s.name == "bulk_seed"]
        out.named("bootstrap_s", _median([s.wall for s in timed if s.name == "bootstrap"]), "s")
        out.named("seed_rows_per_s", rows / _median(seeds), "1/s")
        out.named("change_to_view_p50_s", _median([s.wall for s in timed if s.name == "change"]), "s")
        out.named("table_read_p50_s", _median([s.wall for s in timed if s.name == "read"]), "s")
        out.named("change_samples", len([s for s in timed if s.name == "change"]), "count")
        if not tr.enabled:
            return
        L = out.layer
        m = self.meters
        L("control_log.appends", m["append"].calls, "count")
        L("local.sends", m["send"].calls, "count")
        L("local.send_s", m["send"].seconds, "s")
        L("snapshot.seeds_pull_s", m["pull"].seconds, "s")
        for name, key in (("control_log.backlog", "control_log.backlog_s"),
                          ("snapshot.record_count", "snapshot.record_count_s"),
                          ("local.send_frame", "local.send_frame_s")):
            L(key, sum(s.wall for s in timed if s.name == name), "s")
        L("initializer.process_ccd_p50_s",
          _median([s.wall for s in timed if s.name == "initializer.process_ccd"]), "s")
        L("local.topic_bytes", sum(_dir_bytes(os.path.join(r, "topics"))
                                   for r in self.topics_roots), "B")
        merges = [s for s in timed if s.name == "delta_log.merge"]
        cand = sum(s.attrs.get("candidates", 0) for s in merges)
        touched = sum(s.attrs.get("touched", 0) for s in merges)
        written = sum(s.attrs.get("bytes_written", 0) for s in merges)
        change_bytes = sum(s.attrs.get("change_bytes", 0) for s in merges)
        L("delta_log.merge_p50_s", _median([tr.self_time(s) for s in merges]), "s")
        L("delta_log.merge_jobs", sum(s.counters.get("jobs", 0) for s in merges), "count")
        L("delta_log.files_candidates", cand, "count")
        L("delta_log.files_touched", touched, "count")
        L("delta_log.touch_ratio", touched / cand if cand else 0.0, "ratio")
        L("delta_log.bytes_written", written, "B")
        L("delta_log.write_amp", written / change_bytes if change_bytes else 0.0, "ratio")
        L("delta_cdf.batch_p50_s",
          _median([tr.self_time(s) for s in timed if s.name == "delta_cdf.batch"]), "s")
        L("delta_cdf.rows", sum(self.cdf_rows[-len(merges):]) if merges else 0, "count")
        views = [s for s in timed if s.name == "apply.view_step"]
        L("apply.view_step_p50_s", _median([tr.self_time(s) for s in views]), "s")
        L("apply.view_step_jobs", sum(s.counters.get("jobs", 0) for s in views), "count")
        L("delta_log.read_p50_s",
          _median([s.wall for s in timed if s.name == "delta_log.read"]), "s")
        # Spark counters per lifecycle phase
        for phase in ("bootstrap", "bulk_seed", "change", "read"):
            tops = [s for s in timed if s.name == phase]
            tot = tr.sum_counters(tops)
            for k in ("jobs", "executor_cpu_s", "shuffle_bytes", "spill_bytes"):
                out.detail(f"spark.{phase}.{k}", tot[k])

    def _encode_probe(self, out) -> None:
        """Traced runs only: time the seed encoding alone (the bulk seed
        span covers encoding and the topic write in one job)."""
        from cdc_init_spark.streaming.snapshot import seed_frame

        frame = seed_frame(self._frames()["lineitem"], "tpch.lineitem", inputs.LINEITEM_PK)
        with self.tracer.span("snapshot.encode") as sp:
            frame.write.format("noop").mode("overwrite").save()
        out.layer("snapshot.encode_s", sp.wall, "s")

    # -- correctness ---------------------------------------------------------

    def _check(self, out) -> None:
        from cdc_init_spark.sources.local import FileTopicStore
        from cdc_init_spark.streaming.apply import read_continuous_agg
        from cdc_init_spark.testing import compare_frames

        counts = {f"cdc_{t}": pq.read_metadata(os.path.join(self.ctx.inputs, f"{t}.parquet")).num_rows
                  for t in inputs.CCD_TABLES}
        bad = [(q, s) for q, s in self.results if s != "active"]
        out.check("ccds_active", not bad and len(self.results) == len(counts)
                  * len(self.bootstrap_roots), f"non-active: {bad}")
        for root in self.bootstrap_roots:
            store = FileTopicStore(os.path.join(root, "topics"))
            for q, n in counts.items():
                got = len(store.read_messages(q))
                out.check(f"topic_{q}", got == n, f"{got} messages, want {n}")
        n_items = pq.read_metadata(os.path.join(self.ctx.inputs, "lineitem.parquet")).num_rows
        for root in self.topics_roots:
            got = len(FileTopicStore(os.path.join(root, "topics")).read_messages("cdc_lineitem"))
            out.check("topic_cdc_lineitem", got == n_items, f"{got} messages, want {n_items}")

        con = _oracle_connection(self.ctx.inputs, self.applied)
        want_table = con.execute(_FINAL_TABLE).df()
        got_table = self.table.read(self.spark, "orders").toPandas()
        res = compare_frames("orders", got_table, want_table)
        out.check("final_table", res.ok, str(res))
        view_base = self.view.read(self.spark, "base").toPandas()
        res = compare_frames("view_base", view_base, want_table)
        out.check("view_base", res.ok, str(res))
        want_agg = con.execute(_FINAL_AGG).df().set_index("o_orderpriority")
        got_agg = read_continuous_agg(self.spark, self.view, "agg").toPandas().set_index(
            "o_orderpriority").reindex(want_agg.index)
        ok = (got_agg["n_rows"].tolist() == want_agg["n_rows"].tolist()
              and all(abs(a - b) <= 1e-6 * max(1.0, abs(b))
                      for a, b in zip(got_agg["sum_value"], want_agg["sum_value"])))
        out.check("view_agg", ok, f"spark={got_agg.to_dict()} oracle={want_agg.to_dict()}")
        want_versions = len(self.applied)
        got_versions = self.view.latest_version()
        out.check("view_versions", got_versions == want_versions,
                  f"view at v{got_versions}, want v{want_versions}")


_FINAL_TABLE = """
WITH last AS (
  SELECT * FROM changes
  QUALIFY row_number() OVER (PARTITION BY o_orderkey ORDER BY ts DESC) = 1
)
SELECT o.* FROM orders o ANTI JOIN last l USING (o_orderkey)
UNION ALL
SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate, o_orderpriority
FROM last WHERE type <> 'delete'
"""
_FINAL_AGG = f"""
SELECT o_orderpriority, SUM(o_totalprice) AS sum_value, COUNT(*) AS n_rows
FROM ({_FINAL_TABLE}) GROUP BY o_orderpriority
"""


def _oracle_connection(inputs_dir: str, applied: list[str]):
    import duckdb

    con = duckdb.connect()
    con.execute(f"CREATE VIEW orders AS SELECT * FROM read_parquet('{inputs_dir}/orders.parquet')")
    files = ", ".join(f"'{p}'" for p in applied)
    con.execute(f"CREATE VIEW changes AS SELECT * FROM read_parquet([{files}])")
    return con


def _spanned(tracer, name: str, fn):
    def call(*a, **kw):
        with tracer.span(name):
            return fn(*a, **kw)
    return call


def _median(xs: list[float]) -> float:
    import statistics
    return statistics.median(xs) if xs else 0.0
