"""CDC apply semantics: last-change-wins merge of DML messages onto a
snapshot (streaming/apply)."""

from __future__ import annotations

from datetime import datetime

import pytest
from pyspark.sql import functions as F

from cdc_init_spark.streaming.apply import apply_changes, compact_changes


def _ts(minute):
    return datetime(2026, 1, 1, 12, minute)


def test_apply_changes_full_vocabulary(spark):
    base = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)], ["id", "name", "bal"]
    )
    changes = spark.createDataFrame(
        [
            # key 1: update then delete → gone
            (1, _ts(1), "update", "a2", 11.0),
            (1, _ts(2), "delete", None, None),
            # key 2: delete then update → resurrected with new values
            (2, _ts(1), "delete", None, None),
            (2, _ts(2), "update", "b2", 22.0),
            # key 4: pure insert of a new key
            (4, _ts(1), "insert", "d", 40.0),
        ],
        ["id", "ts", "type", "name", "bal"],
    )
    got = {
        r["id"]: (r["name"], r["bal"])
        for r in apply_changes(base, changes, ["id"]).collect()
    }
    assert got == {2: ("b2", 22.0), 3: ("c", 30.0), 4: ("d", 40.0)}


def test_apply_changes_idempotent_replay(spark):
    """Replaying the same change set produces the same state (the
    compacted-topic property the reference relies on, core.clj:161)."""
    base = spark.createDataFrame([(1, 1.0)], ["id", "v"])
    changes = spark.createDataFrame(
        [(1, _ts(1), "update", 2.0), (2, _ts(1), "insert", 9.0)],
        ["id", "ts", "type", "v"],
    )
    once = apply_changes(base, changes, ["id"])
    twice = apply_changes(once, changes, ["id"])
    assert sorted(map(tuple, once.collect())) == sorted(map(tuple, twice.collect()))


def test_compact_changes_latest_wins(spark):
    changes = spark.createDataFrame(
        [(1, _ts(1), "update", 1.0), (1, _ts(3), "update", 3.0), (1, _ts(2), "update", 2.0)],
        ["id", "ts", "type", "v"],
    )
    rows = compact_changes(changes, ["id"], "ts").collect()
    assert len(rows) == 1 and rows[0]["v"] == 3.0


def test_state_at_horizon_extremes(spark):
    """state_at before any change == base; state_at at/after the last
    change == apply_changes of the full log."""
    from cdc_init_spark.streaming.apply import apply_changes, state_at

    base = spark.createDataFrame(
        [(1, 10.0), (2, 20.0), (3, 30.0)], "pk long, v double"
    )
    changes = spark.createDataFrame(
        [
            (1, "2026-01-02 00:00:00", "update", 11.0),
            (2, "2026-01-03 00:00:00", "delete", None),
            (1, "2026-01-04 00:00:00", "update", 12.0),
        ],
        "pk long, ts string, type string, v double",
    ).withColumn("ts", F.to_timestamp("ts"))
    before = state_at(base, changes, ["pk"], "2026-01-01 00:00:00")
    assert sorted((r.pk, r.v) for r in before.collect()) == [
        (1, 10.0), (2, 20.0), (3, 30.0)
    ]
    mid = state_at(base, changes, ["pk"], "2026-01-02 12:00:00")
    assert sorted((r.pk, r.v) for r in mid.collect()) == [
        (1, 11.0), (2, 20.0), (3, 30.0)
    ]
    final = state_at(base, changes, ["pk"], "2026-01-09 00:00:00")
    full = apply_changes(base, changes, ["pk"])
    assert sorted(map(tuple, final.collect())) == sorted(
        map(tuple, full.collect())
    )


def test_incremental_agg_equals_full_recompute(spark):
    """IVM law: incremental arithmetic == groupBy over the fully merged
    state, including deletes emptying a group and partition invariance."""
    from cdc_init_spark.streaming.apply import apply_changes, incremental_agg

    base = spark.createDataFrame(
        [(1, "g1", 10.0), (2, "g1", 20.0), (3, "g2", 30.0), (4, "g3", 5.0)],
        "pk long, grp string, v double",
    )
    changes = spark.createDataFrame(
        [
            (1, "2026-01-02 00:00:00", "update", "g1", 15.0),
            (3, "2026-01-02 00:00:00", "delete", "g2", None),
            (3, "2026-01-03 00:00:00", "update", "g2", 99.0),  # latest wins
            (4, "2026-01-04 00:00:00", "delete", "g3", None),  # empties g3
        ],
        "pk long, ts string, type string, grp string, v double",
    ).withColumn("ts", F.to_timestamp("ts"))
    inc = {
        (r.grp,): (round(r.sum_value, 6), r.n_rows)
        for r in incremental_agg(
            base.repartition(5), changes, ["pk"], ["grp"], "v"
        ).collect()
    }
    merged = apply_changes(base, changes, ["pk"])
    full = {
        (r.grp,): (round(r.s, 6), r.n)
        for r in merged.groupBy("grp")
        .agg(F.sum("v").alias("s"), F.count(F.lit(1)).alias("n"))
        .collect()
    }
    # groups emptied by deletes appear with n_rows=0 in the incremental
    # form (the full recompute simply drops them)
    assert inc[("g3",)] == (0.0, 0)
    for g, (s, n) in full.items():
        assert inc[g] == (s, n)


def test_continuous_agg_maintains_base_and_agg(spark, tmp_path):
    """Streaming materialized view: two change micro-batches through
    foreachBatch; after each, the maintained aggregate equals the full
    recompute over base + all changes so far."""
    import json
    import os

    from cdc_init_spark.streaming.apply import (
        continuous_agg_step,
        init_continuous_agg,
        read_continuous_agg,
    )

    table_dir = str(tmp_path / "cagg")
    src = str(tmp_path / "changes")
    os.makedirs(src)
    base = spark.createDataFrame(
        [(1, "g1", 10.0), (2, "g1", 20.0), (3, "g2", 30.0)],
        "pk long, grp string, v double",
    )
    init_continuous_agg(base, table_dir)
    assert os.path.isdir(os.path.join(table_dir, "_log"))  # a DeltaLogFormat

    def write_batch(name, rows):
        with open(f"{src}/{name}", "w") as f:
            for r in rows:
                f.write(json.dumps(r) + "\n")

    write_batch(
        "b0.json",
        [
            {"pk": 1, "ts": "2026-01-02T00:00:00", "type": "update",
             "grp": "g1", "v": 15.0},
            {"pk": 3, "ts": "2026-01-02T00:00:00", "type": "delete",
             "grp": "g2", "v": None},
        ],
    )
    stream = (
        spark.readStream.schema(
            "pk long, ts string, type string, grp string, v double"
        )
        .option("maxFilesPerTrigger", 1)
        .json(src)
        .withColumn("ts", F.to_timestamp("ts"))
    )
    q = (
        stream.writeStream.foreachBatch(
            continuous_agg_step(spark, table_dir, ["pk"], ["grp"], "v")
        )
        .option("checkpointLocation", str(tmp_path / "chk"))
        .start()
    )
    q.processAllAvailable()
    agg1 = {
        r.grp: (round(r.sum_value, 6), r.n_rows)
        for r in read_continuous_agg(spark, table_dir).collect()
    }
    assert agg1["g1"] == (35.0, 2) and agg1["g2"] == (0.0, 0)

    write_batch(
        "b1.json",
        [
            {"pk": 2, "ts": "2026-01-03T00:00:00", "type": "update",
             "grp": "g1", "v": 1.0}
        ],
    )
    q.processAllAvailable()
    q.stop()
    agg2 = {
        r.grp: (round(r.sum_value, 6), r.n_rows)
        for r in read_continuous_agg(spark, table_dir).collect()
    }
    assert agg2["g1"] == (16.0, 2)
    # base snapshot advanced in lockstep
    final_base = {
        r.pk: r.v for r in read_continuous_agg(spark, table_dir, "base").collect()
    }
    assert final_base == {1: 15.0, 2: 1.0}


def test_diff_snapshots_inverts_apply(spark):
    """Round trip law: apply_changes(old, diff_snapshots(old, new)) == new
    across inserts, updates, deletes, and unchanged rows."""
    from cdc_init_spark.streaming.apply import apply_changes, diff_snapshots

    old = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0), (5, None, 50.0)],
        "pk long, name string, v double",
    )
    new = spark.createDataFrame(
        [(1, "a", 10.0), (2, "B", 21.0), (4, "d", 40.0), (5, None, 50.0)],
        "pk long, name string, v double",
    )
    d = diff_snapshots(old, new, ["pk"])
    kinds = {r.pk: r.type for r in d.collect()}
    # 1 and 5 unchanged (incl. the NULL name — null-safe comparison)
    assert kinds == {2: "update", 3: "delete", 4: "insert"}
    replayed = apply_changes(
        old, d.withColumn("ts", F.lit("2026-01-01").cast("timestamp")), ["pk"]
    )
    assert sorted(map(tuple, replayed.collect())) == sorted(
        map(tuple, new.collect())
    )


def _formats():
    from cdc_init_spark.sources.delta_log import DeltaLogFormat

    return [DeltaLogFormat]


@pytest.mark.parametrize("fmt_cls", _formats())
def test_table_format_adapter_contract(spark, tmp_path, fmt_cls):
    """TableFormat (r6): every implementation satisfies the
    transactional contract the Delta/Iceberg seam requires: multi-table
    atomic commits, monotonic versions with time travel, replay
    idempotence keyed on batch_id, has_table across versions."""
    fmt = fmt_cls(str(tmp_path / "t"))
    b0 = spark.createDataFrame([(1, 10.0)], "pk long, v double")
    fmt.init({"base": b0})
    assert fmt.latest_version() == 0
    assert fmt.has_table("base") and not fmt.has_table("agg")

    b1 = spark.createDataFrame([(1, 11.0), (2, 2.0)], "pk long, v double")
    a1 = spark.createDataFrame([("g", 13.0)], "grp string, s double")
    assert fmt.commit({"base": b1, "agg": a1}, batch_id=0) is True
    assert fmt.latest_version() == 1 and fmt.has_table("agg")
    # replayed batch id: committed no-op, version does NOT advance
    assert fmt.commit({"base": b1, "agg": a1}, batch_id=0) is False
    assert fmt.latest_version() == 1

    b2 = spark.createDataFrame([(2, 2.0)], "pk long, v double")
    assert fmt.commit({"base": b2, "agg": a1}, batch_id=1) is True
    assert fmt.latest_version() == 2
    # time travel: every historical version stays readable
    assert {r.pk for r in fmt.read(spark, "base", version=0).collect()} == {1}
    assert {r.pk for r in fmt.read(spark, "base", version=1).collect()} == {1, 2}
    assert {r.pk for r in fmt.read(spark, "base").collect()} == {2}


@pytest.mark.parametrize("fmt_cls", _formats())
def test_continuous_agg_accepts_table_format_instance(spark, tmp_path, fmt_cls):
    """The IVM pipeline runs against a TableFormat INSTANCE (the
    drop-in seam) — one batch through foreachBatch's step function
    directly."""
    from cdc_init_spark.streaming.apply import (
        continuous_agg_step,
        init_continuous_agg,
        read_continuous_agg,
    )

    fmt = fmt_cls(str(tmp_path / "t"))
    base = spark.createDataFrame(
        [(1, "g1", 10.0), (2, "g1", 20.0)], "pk long, grp string, v double"
    )
    init_continuous_agg(base, fmt)
    step = continuous_agg_step(spark, fmt, ["pk"], ["grp"], "v")
    batch = spark.createDataFrame(
        [(1, "2026-01-02 00:00:00", "update", "g1", 15.0)],
        "pk long, ts string, type string, grp string, v double",
    ).withColumn("ts", F.to_timestamp("ts"))
    step(batch, 0)
    agg = {
        r.grp: (r.sum_value, r.n_rows)
        for r in read_continuous_agg(spark, fmt).collect()
    }
    assert agg == {"g1": (35.0, 2)}
    step(batch, 0)  # replay: state unchanged
    assert fmt.latest_version() == 1
