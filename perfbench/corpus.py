"""Workload ``corpus``: one pass over a fixed list of registry queries,
in an order drawn from the seed, covering every corpus family.

The list pairs driver/scheduler-bound iterative operators (graph, BPE,
bloom, text scoring: many small jobs per query) with executor-bound
scan/shuffle/join shapes (TPC-H, joins, windows, sessions), one per plan
module, so the per-family layer metrics tell the two apart.

Every query is first run once outside the timed region, collected, and
compared with its DuckDB twin on the same data. That pass also warms the
query's plan shapes. The timed passes then run each query through the
noop sink, with the query function (build, which includes any eager jobs)
and the write (exec) in separate spans.
"""

from __future__ import annotations

import random

from perfbench import inputs

#: base scale of the generated tables; the relational tables are then
#: replica-tiled, the LLM-corpus tables (documents, embeddings) are not
SF, TILES = 0.001, 5
QUERY_LIST = (
    "q157_pagerank",             # graph: iterative, broadcast state
    "q159_bpe_pair_counts",      # pipeline: BPE
    "q123_bloom_decontaminate",  # corpus_ops: bloom probe
    "q145_bm25",                 # llm_ops: text scoring
    "q98_supplier_part_types",   # tpch
    "q14_range_self_join",       # relational
    "q34_range_frame",           # windows
    "q57_session_window",        # temporal
)
FAMILIES = ("graph", "pipeline", "corpus_ops", "llm_ops",
            "tpch", "relational", "windows", "temporal")


def family(fn) -> str:
    return fn.__module__.rsplit(".", 1)[-1]


def setup(seed: int, inputs_dir: str, scale: float = 1.0) -> None:
    tables = inputs.make_tables(seed, SF * scale)
    inputs.write_tables(
        inputs.tile_tables(tables, TILES, keep=("documents", "embeddings")), inputs_dir)


class Corpus:
    name = "corpus"

    def __init__(self, ctx) -> None:
        self.ctx = ctx

    def _materialize(self, fn, name: str) -> float:
        tr, spark = self.ctx.tracer, self.ctx.spark
        fam = family(fn)
        with tr.span("query", query=name, family=fam) as op:
            with tr.span(f"{fam}.build"):
                df = fn(spark, self.ctx.inputs)
            with tr.span(f"{fam}.exec"):
                df.write.format("noop").mode("overwrite").save()
        spark.catalog.clearCache()
        return op.wall

    def run(self, out) -> None:
        from cdc_init_spark.plans import ORACLE, QUERIES
        from cdc_init_spark.testing import duckdb_connection

        spark, ctx = self.ctx.spark, self.ctx
        order = list(QUERY_LIST[:ctx.limit] if ctx.limit else QUERY_LIST)
        random.Random(ctx.seed).shuffle(order)
        out.pass_list = order

        con = duckdb_connection(ctx.inputs)
        for name in order:
            fn = QUERIES[name]

            def check(fn=fn, name=name) -> float:
                got = fn(spark, ctx.inputs).toPandas()
                spark.catalog.clearCache()
                out.check(name, *_same_rows(name, got, con.execute(ORACLE[name]).df()))
                return 0.0

            out.attempt(f"check:{name}", check, record=False)
        con.close()
        first_timed_span = len(ctx.tracer.spans)

        def one_pass(_i: int) -> None:
            for name in order:
                out.attempt(name, lambda name=name: self._materialize(QUERIES[name], name))

        out.timed_passes(one_pass)
        self._report(out, first_timed_span, len(out.pass_walls))

    def _report(self, out, first: int, passes: int) -> None:
        tr = self.ctx.tracer
        timed = [s for s in tr.spans[first:] if s.name == "query"]
        if not tr.enabled:
            return
        for fam in FAMILIES:
            ops = [s for s in timed if s.attrs.get("family") == fam]
            build = [c for c in tr.spans[first:] if c.name == f"{fam}.build"]
            execs = [c for c in tr.spans[first:] if c.name == f"{fam}.exec"]
            tot = tr.sum_counters(ops)
            wall = sum(s.wall for s in ops)
            per = max(1, passes)
            L = out.layer
            L(f"{fam}.build_s", sum(s.wall for s in build) / per, "s")
            L(f"{fam}.exec_s", sum(s.wall for s in execs) / per, "s")
            for k in ("jobs", "stages", "tasks"):
                L(f"{fam}.{k}", tot[k] // per, "count")
            L(f"{fam}.executor_cpu_s", tot["executor_cpu_s"] / per, "s")
            L(f"{fam}.busy_share",
              tot["executor_cpu_s"] / (wall * self.ctx.cores) if wall else 0.0, "ratio")
            L(f"{fam}.shuffle_bytes", tot["shuffle_bytes"] // per, "B")
            L(f"{fam}.spill_bytes", tot["spill_bytes"] // per, "B")


def _same_rows(name: str, got, want) -> tuple[bool, str]:
    """``compare_frames``' verdict. Large results first take a vectorized
    exact test that can only say "equal" when ``compare_frames`` would;
    any other outcome falls through to ``compare_frames`` itself."""
    from cdc_init_spark.testing import compare_frames

    if len(got) >= 5000 and _fast_equal(got, want):
        return True, ""
    res = compare_frames(name, got, want)
    return res.ok, str(res)


def _fast_equal(a, b) -> bool:
    import numpy as np
    import pandas as pd

    from cdc_init_spark.testing import _type_classes

    cols = sorted(a.columns)
    if cols != sorted(b.columns) or len(a) != len(b):
        return False
    ca, cb = _type_classes(a), _type_classes(b)
    if any(ca[c] != cb[c] for c in cols):
        return False
    hashes = []
    for df in (a, b):
        canon = {}
        for c in cols:
            s, cls = df[c], ca[c]
            if cls == "int":
                s = s.astype("int64")
            elif cls == "float":
                s = s.astype("float64")
            elif cls == "ts":
                s = s.astype("datetime64[ns]").astype("int64")
            else:
                if any(isinstance(v, (list, tuple, np.ndarray, dict)) for v in s):
                    return False
                s = s.map(lambda v: None if v is None or v != v else (type(v).__name__, v))
            canon[c] = s.reset_index(drop=True)
        hashes.append(np.sort(pd.util.hash_pandas_object(
            pd.DataFrame(canon), index=False).to_numpy()))
    return bool(np.array_equal(*hashes))
