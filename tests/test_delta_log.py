"""DeltaLogFormat: log-structured ACID table format (sources/delta_log).

What a lakehouse format must guarantee, each as a law:
- O(delta) commits: appends/merges leave untouched data files byte-for-
  byte alone (inode-verified, not just value-verified);
- optimistic concurrency: racing writers all land, exactly one per
  version, nothing lost;
- merge ≡ apply_changes (the CDC law from streaming/apply) while
  rewriting ONLY files holding matched keys (stats skip + exact touch);
- checkpoint replay equals full log replay (tail-only reads);
- vacuum collects unreferenced + orphaned files and surrenders time
  travel below the horizon with a clear error, never silently.
"""

from __future__ import annotations

import json
import os
import threading
from datetime import datetime

import pytest
from pyspark.sql import functions as F

from cdc_init_spark.sources.delta_log import CommitConflictError, DeltaLogFormat


def _ts(minute):
    return datetime(2026, 1, 1, 12, minute)


def _rows(df):
    return sorted(map(tuple, df.collect()))


def _data_inodes(fmt, table):
    tdir = os.path.join(fmt.data_dir, table)
    return {
        name: os.stat(os.path.join(tdir, name)).st_ino
        for name in os.listdir(tdir)
    }


def test_append_is_o_delta(spark, tmp_path):
    """Appending N rows writes only those rows' files: version-0 data
    files keep their inodes (never rewritten, never copied)."""
    fmt = DeltaLogFormat(str(tmp_path / "t"))
    fmt.init({"ev": spark.createDataFrame([(1, "a")], "id long, s string")})
    before = _data_inodes(fmt, "ev")
    v = fmt.append("ev", spark.createDataFrame([(2, "b")], "id long, s string"))
    assert v == 1 and fmt.latest_version() == 1
    after = _data_inodes(fmt, "ev")
    assert all(after[n] == i for n, i in before.items())  # untouched
    assert len(after) > len(before)
    assert _rows(fmt.read(spark, "ev")) == [(1, "a"), (2, "b")]
    # time travel: v0 still the original single row
    assert _rows(fmt.read(spark, "ev", version=0)) == [(1, "a")]


def test_concurrent_appends_all_land(spark, tmp_path):
    """Optimistic concurrency: racing appenders each win some version;
    no version is double-assigned, no rows are lost."""
    fmt = DeltaLogFormat(str(tmp_path / "t"))
    fmt.init({"ev": spark.createDataFrame([(0,)], "id long")})
    errs = []

    def worker(i):
        try:
            fmt.append("ev", spark.createDataFrame([(i,)], "id long"))
        except Exception as e:  # pragma: no cover - failure reporting
            errs.append(e)

    threads = [threading.Thread(target=worker, args=(i,)) for i in range(1, 7)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errs
    assert fmt.latest_version() == 6  # one version per append, contiguous
    assert _rows(fmt.read(spark, "ev")) == [(i,) for i in range(7)]


def test_merge_law_and_copy_on_write(spark, tmp_path):
    """merge ≡ apply_changes on the full table — and only the files
    containing matched keys are rewritten (others keep their inodes)."""
    from cdc_init_spark.streaming.apply import apply_changes

    fmt = DeltaLogFormat(str(tmp_path / "t"))

    def chunk(lo, hi):
        return spark.createDataFrame(
            [(i, f"n{i}", float(i)) for i in range(lo, hi)],
            "id long, name string, v double",
        ).coalesce(1)

    # 4 single-file appends with disjoint, exactly-known id ranges
    fmt.init({"acct": chunk(1, 11)})
    for lo in (11, 21, 31):
        fmt.append("acct", chunk(lo, lo + 10))
    inodes_before = _data_inodes(fmt, "acct")
    assert len(inodes_before) == 4

    changes = spark.createDataFrame(
        [
            (3, _ts(1), "update", "x3", 33.0),
            (3, _ts(2), "delete", None, None),   # latest wins: gone
            (7, _ts(1), "update", "x7", 77.0),
            (99, _ts(1), "insert", "new", 990.0),
        ],
        "id long, ts timestamp, type string, name string, v double",
    )
    expect = _rows(apply_changes(fmt.read(spark, "acct"), changes, ["id"]))
    v = fmt.merge(spark, "acct", changes, ["id"])
    assert v == 4
    assert _rows(fmt.read(spark, "acct")) == expect
    # keys 3 and 7 live in the first range file only → the log keeps the
    # other three originals ACTIVE (copy-on-write: untouched files are
    # reused, not rewritten), with their physical inodes intact
    snap_files = set(fmt._snapshot().adds["acct"])
    kept = [n for n in inodes_before if f"acct/{n}" in snap_files]
    assert len(kept) == 3
    inodes_after = _data_inodes(fmt, "acct")
    assert all(inodes_after[n] == inodes_before[n] for n in kept)
    # the retired file stays on DISK (time travel to v3 still reads it)
    # until vacuum — only the log entry removed it from the live set
    retired = [n for n in inodes_before if f"acct/{n}" not in snap_files]
    assert len(retired) == 1 and retired[0] in inodes_after
    assert _rows(fmt.read(spark, "acct", version=3)) == sorted(
        (i, f"n{i}", float(i)) for i in range(1, 41)
    )


def test_merge_file_skipping_via_stats(spark, tmp_path):
    """The stats prune alone (before the exact semi-join) drops files
    whose pk range cannot contain any change key — visible in
    read_where's (total, read) counters and in merge leaving them be."""
    fmt = DeltaLogFormat(str(tmp_path / "t"))

    def chunk(lo):
        return spark.createDataFrame(
            [(i, float(i)) for i in range(lo, lo + 20)], "id long, v double"
        ).coalesce(1)

    fmt.init({"m": chunk(0)})
    for lo in (20, 40, 60, 80):  # 5 single-file, disjoint 20-id ranges
        fmt.append("m", chunk(lo))
    df, total, read = fmt.read_where(spark, "m", "id", lo=90, hi=95)
    assert total == 5 and read == 1
    assert _rows(df) == [(i, float(i)) for i in range(90, 96)]
    # open-ended ranges prune too
    _, _, read_hi = fmt.read_where(spark, "m", "id", lo=80)
    assert read_hi == 1
    # a range spanning two files reads exactly two
    df2, _, read2 = fmt.read_where(spark, "m", "id", lo=39, hi=41)
    assert read2 == 2 and _rows(df2) == [(39, 39.0), (40, 40.0), (41, 41.0)]


def test_read_where_string_stats(spark, tmp_path):
    """Footer stats on string columns prune correctly (byte-wise
    parquet min/max vs Python str ordering agree for UTF-8)."""
    fmt = DeltaLogFormat(str(tmp_path / "t"))

    def chunk(lo):
        return spark.createDataFrame(
            [(f"k{i:03d}", i) for i in range(lo, lo + 20)], "k string, n long"
        ).coalesce(1)

    fmt.init({"s": chunk(0)})
    for lo in (20, 40):
        fmt.append("s", chunk(lo))
    out, total, read = fmt.read_where(spark, "s", "k", lo="k055")
    assert total == 3 and read == 1
    assert [r.k for r in out.orderBy("k").collect()] == [
        f"k{i:03d}" for i in range(55, 60)
    ]


def test_checkpoint_bounds_log_replay(spark, tmp_path):
    """After a checkpoint, the JSON entries at/below it are dead weight:
    delete them and every read ≥ checkpoint still works (state comes
    from the checkpoint parquet + JSON tail)."""
    fmt = DeltaLogFormat(str(tmp_path / "t"), checkpoint_interval=5)
    fmt.init({"ev": spark.createDataFrame([(0,)], "id long")})
    for i in range(1, 13):
        fmt.append("ev", spark.createDataFrame([(i,)], "id long"), batch_id=i)
    assert os.path.exists(fmt._ckpt_path(5))
    assert os.path.exists(fmt._ckpt_path(10))
    with open(os.path.join(fmt.log_dir, "_last_checkpoint")) as f:
        assert json.load(f)["version"] == 10
    # archive (delete) the JSON log at/below the newest checkpoint
    for v in range(0, 11):
        os.unlink(fmt._log_path(v))
    assert fmt.latest_version() == 12
    assert _rows(fmt.read(spark, "ev")) == [(i,) for i in range(13)]
    # time travel to a version ≥ an on-disk checkpoint also works
    assert _rows(fmt.read(spark, "ev", version=10)) == [(i,) for i in range(11)]
    # batch-id watermark survives the checkpoint round trip (the replay
    # check reads 10 from the checkpoint txn row + 11,12 from the tail)
    assert fmt.append("ev", spark.createDataFrame([(99,)], "id long"),
                      batch_id=12) == -1


def test_vacuum_collects_unreferenced_and_orphans(spark, tmp_path):
    """vacuum(horizon) deletes files no version ≥ horizon references —
    including orphans from a crashed writer — and reads below the
    horizon fail loudly, not wrongly."""
    fmt = DeltaLogFormat(str(tmp_path / "t"))
    fmt.init({"a": spark.createDataFrame([(1, 1.0)], "id long, v double")})
    fmt.commit({"a": spark.createDataFrame([(1, 2.0)], "id long, v double")},
               batch_id=0)
    fmt.commit({"a": spark.createDataFrame([(1, 3.0)], "id long, v double")},
               batch_id=1)
    # a crashed writer's orphan: data written, log link never created
    orphan = os.path.join(fmt.data_dir, "a", "part-orphan.parquet")
    with open(orphan, "wb") as f:
        f.write(b"not really parquet")
    deleted = fmt.vacuum(horizon=1, retention_s=0.0)
    assert "a/part-orphan.parquet" in deleted
    assert len(deleted) == 2  # v0's file + the orphan
    # versions ≥ horizon intact
    assert _rows(fmt.read(spark, "a", version=1)) == [(1, 2.0)]
    assert _rows(fmt.read(spark, "a")) == [(1, 3.0)]
    # below the horizon: loud failure
    with pytest.raises(ValueError, match="vacuum"):
        fmt.read(spark, "a", version=0).collect()


def test_compact_bin_packs_small_files(spark, tmp_path):
    """Streaming-ingest tail: many tiny appended files → one commit
    swaps them for target_files, same rows (the no-op law)."""
    fmt = DeltaLogFormat(str(tmp_path / "t"))
    fmt.init({"ev": spark.createDataFrame([(0,)], "id long")})
    for i in range(1, 6):
        fmt.append("ev", spark.createDataFrame([(i,)], "id long"))
    assert len(fmt._snapshot().adds["ev"]) == 6
    before = _rows(fmt.read(spark, "ev"))
    fmt.compact(spark, "ev", target_files=1)
    assert len(fmt._snapshot().adds["ev"]) == 1
    assert _rows(fmt.read(spark, "ev")) == before
    # pre-compaction version still time-travels to the same rows
    assert _rows(fmt.read(spark, "ev", version=5)) == before


def test_merge_replay_and_conflict_surface(spark, tmp_path):
    """Replayed batch_id → -1 no-op for append and merge; a conflicting
    concurrent commit on the same table raises CommitConflictError
    rather than silently merging against a stale read set."""
    fmt = DeltaLogFormat(str(tmp_path / "t"))
    fmt.init({"a": spark.createDataFrame([(1, 1.0)], "id long, v double")})
    ch = spark.createDataFrame(
        [(1, _ts(1), "update", 9.0)], "id long, ts timestamp, type string, v double"
    )
    assert fmt.merge(spark, "a", ch, ["id"], batch_id=0) == 1
    assert fmt.merge(spark, "a", ch, ["id"], batch_id=0) == -1  # replay
    assert fmt.append("a", spark.createDataFrame([(2, 2.0)], "id long, v double"),
                      batch_id=0) == -1
    assert fmt.latest_version() == 1

    # simulate a racing writer: steal the version merge will target by
    # monkeypatching the first link attempt to lose
    real_try = fmt._try_write_commit
    state = {"stolen": False}

    def steal_once(version, actions):
        if not state["stolen"]:
            state["stolen"] = True
            # winner rewrites table 'a' (changes merge's read set)
            real_try(version, [
                {"remove": {"table": "a", "path": p}}
                for p in fmt._snapshot().adds["a"]
            ] + [{"txn": {"batch_id": 98}}])
            return real_try(version, actions)  # now fails with EEXIST
        return real_try(version, actions)

    fmt._try_write_commit = steal_once
    with pytest.raises(CommitConflictError):
        fmt.merge(spark, "a", ch, ["id"], batch_id=99)
    fmt._try_write_commit = real_try

    # the race is lost to a commit carrying the SAME batch id (a replay
    # twin): the batch is already durable, so merge and delete return
    # -1 exactly as the up-front replay check does, and leave no staged
    # data or change-feed files behind
    cdf = DeltaLogFormat(str(tmp_path / "cdf"), enable_cdf=True)
    cdf.init({"a": spark.createDataFrame([(1, 1.0)], "id long, v double")})
    cdf_try = cdf._try_write_commit

    def twin_wins(batch_id):
        def attempt(version, actions):
            cdf._try_write_commit = cdf_try
            cdf_try(version, [{"txn": {"batch_id": batch_id}}])
            return cdf_try(version, actions)  # fails: version taken
        return attempt

    def parquet_files(d):
        return sorted(
            os.path.relpath(os.path.join(r, f), d)
            for r, _, fs in os.walk(d) for f in fs if f.endswith(".parquet")
        )

    cdf._try_write_commit = twin_wins(99)
    assert cdf.merge(spark, "a", ch, ["id"], batch_id=99) == -1
    cdf._try_write_commit = twin_wins(100)
    assert cdf.delete(spark, "a", {"id": (1, 1)}, pk_cols=["id"],
                      batch_id=100) == -1
    assert cdf.latest_version() == 2
    assert parquet_files(cdf.data_dir) == sorted(cdf._snapshot().adds["a"])
    assert parquet_files(cdf.cdc_dir) == []
    assert _rows(cdf.read(spark, "a")) == [(1, 1.0)]


def test_commit_overwrites_only_named_tables(spark, tmp_path):
    """Multi-table commit scope: committing {agg} leaves base's data
    files untouched (the O(delta) win over a copy-per-version layout,
    which copies every table every version)."""
    fmt = DeltaLogFormat(str(tmp_path / "t"))
    fmt.init({"base": spark.createDataFrame([(1, 1.0)], "pk long, v double")})
    base_inodes = _data_inodes(fmt, "base")
    fmt.commit({"agg": spark.createDataFrame([("g", 1.0)], "grp string, s double")},
               batch_id=0)
    assert _data_inodes(fmt, "base") == base_inodes
    assert fmt.has_table("agg") and fmt.has_table("base")
    assert _rows(fmt.read(spark, "base")) == [(1, 1.0)]
    # an empty overwrite yields a readable empty table with its schema
    fmt.commit({"agg": spark.createDataFrame([], "grp string, s double")},
               batch_id=1)
    out = fmt.read(spark, "agg")
    assert out.count() == 0 and out.columns == ["grp", "s"]


def test_stats_skip_null_heavy_files(spark, tmp_path):
    """A file that is all-NULL in the scan column has no min/max stats —
    it must be KEPT (pruning it could drop rows another predicate later
    accepts); the residual filter then rejects its rows."""
    fmt = DeltaLogFormat(str(tmp_path / "t"))
    fmt.init({"n": spark.createDataFrame([(1, 10.0)], "id long, v double")})
    fmt.append("n", spark.createDataFrame(
        [(2, None)], "id long, v double"))
    df, total, read = fmt.read_where(spark, "n", "v", lo=5.0)
    assert total == 2 and read == 2  # null-only file kept
    assert _rows(df) == [(1, 10.0)]


def test_partitioned_table_layout_and_pruning(spark, tmp_path):
    """Hive-partitioned DeltaLog table: the partition spec lives in
    metaData, data files sit under col=value dirs, reads materialize the
    partition column from the path, and read_where prunes on partition
    values exactly (they are min=max stats) — across appends, merge
    (which preserves the layout), and a checkpoint round trip."""
    fmt = DeltaLogFormat(str(tmp_path / "t"), checkpoint_interval=2)
    base = spark.createDataFrame(
        [(1, "us", 10.0), (2, "eu", 20.0), (3, "us", 30.0)],
        "id long, region string, v double",
    )
    fmt.init({"s": base}, partition_by={"s": ["region"]})
    # layout: files under region=us / region=eu
    assert os.path.isdir(os.path.join(fmt.data_dir, "s", "region=us"))
    assert _rows(fmt.read(spark, "s")) == [
        (1, "us", 10.0), (2, "eu", 20.0), (3, "us", 30.0)
    ]
    # appends inherit the spec from metaData (no parameter needed)
    fmt.append("s", spark.createDataFrame(
        [(4, "ap", 40.0)], "id long, region string, v double"))
    df, total, read = fmt.read_where(spark, "s", "region", lo="eu", hi="eu")
    assert read < total and _rows(df) == [(2, "eu", 20.0)]
    # merge rewrites only touched files and keeps the col=value layout
    ch = spark.createDataFrame(
        [(2, _ts(1), "update", "eu", 21.0)],
        "id long, ts timestamp, type string, region string, v double",
    )
    fmt.merge(spark, "s", ch, ["id"])
    assert _rows(fmt.read(spark, "s")) == [
        (1, "us", 10.0), (2, "eu", 21.0), (3, "us", 30.0), (4, "ap", 40.0)
    ]
    live = set(fmt._snapshot().adds["s"])
    assert all(p.split("/")[1].startswith("region=") for p in live)
    # checkpoint at v2 (interval=2) carries the spec + partitioned adds:
    # drop the replayed JSON tail below it and re-read
    assert os.path.exists(fmt._ckpt_path(2))
    for v in range(0, 3):
        os.unlink(fmt._log_path(v))
    assert fmt._snapshot().partition_cols["s"] == ["region"]
    df2, total2, read2 = fmt.read_where(spark, "s", "region", lo="us", hi="us")
    assert read2 < total2
    assert _rows(df2) == [(1, "us", 10.0), (3, "us", 30.0)]


def test_partitioned_int_column_typed_pruning(spark, tmp_path):
    """Integer partition values are compared as ints, not directory
    strings (year=9 vs year=10 must not prune lexicographically)."""
    fmt = DeltaLogFormat(str(tmp_path / "t"))
    df = spark.createDataFrame(
        [(1, 9, 1.0), (2, 10, 2.0), (3, 11, 3.0)], "id long, yr int, v double"
    )
    fmt.init({"e": df}, partition_by={"e": ["yr"]})
    out, total, read = fmt.read_where(spark, "e", "yr", lo=10)
    assert total == 3 and read == 2  # '9' > '10' as strings — must not hide yr=10,11
    assert _rows(out) == [(2, 10, 2.0), (3, 11, 3.0)]


def test_schema_evolution_additive_append(spark, tmp_path):
    """Appending a frame with a NEW column upgrades the table schema;
    old files read the addition as NULL. Renaming/dropping/retyping in
    an append raises; an overwrite commit may change schema freely.
    Time travel keeps each version's own schema."""
    fmt = DeltaLogFormat(str(tmp_path / "t"))
    fmt.init({"d": spark.createDataFrame([(1, "a")], "id long, s string")})
    fmt.append("d", spark.createDataFrame(
        [(2, "b", 0.5)], "id long, s string, score double"))
    got = {r.id: (r.s, r.score) for r in fmt.read(spark, "d").collect()}
    assert got == {1: ("a", None), 2: ("b", 0.5)}
    # v0 time travel: the old two-column schema
    assert fmt.read(spark, "d", version=0).columns == ["id", "s"]
    # breaking changes raise (column dropped / retyped)
    with pytest.raises(ValueError, match="additive"):
        fmt.append("d", spark.createDataFrame([(3,)], "id long"))
    with pytest.raises(ValueError, match="additive"):
        fmt.append("d", spark.createDataFrame(
            [(3, 1, 0.5)], "id long, s int, score double"))
    # the failed appends left no orphan data files behind
    assert fmt.vacuum(horizon=0, retention_s=0.0) == []
    # overwrite commit: full schema replacement is allowed (old files retire)
    fmt.commit({"d": spark.createDataFrame([(9, True)], "id long, flag boolean")},
               batch_id=0)
    assert fmt.read(spark, "d").columns == ["id", "flag"]
    assert _rows(fmt.read(spark, "d")) == [(9, True)]


def test_randomized_op_sequence_matches_model(spark, tmp_path):
    """Seeded randomized differential over the WHOLE op vocabulary:
    a 34-op interleaving of append / CoW merge / MoR merge / predicate
    delete / predicate update / overwrite-commit / compact / shallow
    clone / add+drop constraint / restore,
    against a driver-side dict model (one dict per table). After every
    committed version every table equals its model; at the end three
    time-travel reads equal the recorded model history — the whole-
    format law the individual tests sample."""
    import random

    rng = random.Random(20260815)
    fmt = DeltaLogFormat(str(tmp_path / "t"), checkpoint_interval=4)
    tables = {"x": {i: float(i) for i in range(5)}}
    fmt.init({"x": spark.createDataFrame(
        sorted(tables["x"].items()), "id long, v double")})
    #: history[v] = {table: model} at version v
    history = [{t: dict(m) for t, m in tables.items()}]
    next_id, batch, n_clones = 100, 0, 0

    def df_of(mapping):
        return spark.createDataFrame(
            sorted(mapping.items()), "id long, v double")

    ops_seen = []
    for step in range(34):
        op = rng.choice(["append", "append", "merge", "merge", "merge_mor",
                         "merge_mor", "overwrite", "compact", "clone",
                         "constraint", "restore", "delete_where",
                         "update_where"])
        if op == "clone" and n_clones >= 3:
            op = "compact"
        ops_seen.append(op)
        if op == "append":
            rows = {next_id + k: rng.uniform(0, 100)
                    for k in range(rng.randint(1, 3))}
            next_id += 10
            v = fmt.append("x", df_of(rows))
            tables["x"].update(rows)
        elif op in ("merge", "merge_mor"):
            model = tables["x"]
            changes, used = [], set()
            for _ in range(rng.randint(1, 4)):
                if model and rng.random() < 0.6:
                    k = rng.choice(sorted(model))
                    if k in used:
                        continue
                    used.add(k)
                    if rng.random() < 0.3:
                        changes.append((k, _ts(step), "delete", None))
                        model.pop(k)
                    else:
                        nv = rng.uniform(0, 100)
                        changes.append((k, _ts(step), "update", nv))
                        model[k] = nv
                else:
                    k = next_id
                    next_id += 1
                    nv = rng.uniform(0, 100)
                    changes.append((k, _ts(step), "insert", nv))
                    model[k] = nv
            if not changes:
                continue
            batch += 1
            v = fmt.merge(
                spark, "x",
                spark.createDataFrame(
                    changes, "id long, ts timestamp, type string, v double"),
                ["id"], batch_id=batch,
                strategy="mor" if op == "merge_mor" else "cow")
        elif op == "overwrite":
            tables["x"] = {next_id + k: rng.uniform(0, 100) for k in range(3)}
            next_id += 10
            batch += 1
            assert fmt.commit({"x": df_of(tables["x"])}, batch_id=batch) is True
            v = fmt.latest_version()
        elif op == "clone":
            n_clones += 1
            name = f"c{step}"
            v = fmt.clone(spark, "x", name)
            tables[name] = dict(tables["x"])
        elif op == "constraint":
            # toggle a (vacuously true) CHECK constraint on x: pure
            # metadata versions interleaved through the op stream —
            # checkpoint replay, restore, and clones must all carry them
            if "v_ok" in fmt._snapshot().constraints.get("x", {}):
                v = fmt.drop_constraint("x", "v_ok")
            else:
                v = fmt.add_constraint(spark, "x", "v_ok", "v >= -1.0")
        elif op == "delete_where":
            model = tables["x"]
            lo = rng.choice(sorted(model))
            hi = lo + rng.randint(0, 20)
            v = fmt.delete(spark, "x", {"id": (lo, hi)})
            doomed = [k for k in model if lo <= k <= hi]
            if not doomed:
                assert v == -1  # nothing matched: no version by contract
                continue
            for k in doomed:
                model.pop(k)
        elif op == "update_where":
            model = tables["x"]
            lo = rng.choice(sorted(model))
            hi = lo + rng.randint(0, 20)
            v = fmt.update(spark, "x", {"v": "v + 1000"}, {"id": (lo, hi)})
            hit = [k for k in model if lo <= k <= hi]
            if not hit:
                assert v == -1
                continue
            for k in hit:
                model[k] += 1000
        else:  # restore
            r = rng.randrange(len(history))
            v = fmt.restore(r)
            tables = {t: dict(m) for t, m in history[r].items()}
        history.append({t: dict(m) for t, m in tables.items()})
        assert v == len(history) - 1
        live = {
            t for t in fmt._snapshot().schemas
        }
        assert live == set(tables), f"table set diverged after {step} ({op})"
        got = {r_.id: r_.v for r_ in fmt.read(spark, "x").collect()}
        assert got == pytest.approx(tables["x"]), \
            f"divergence after step {step} ({op})"

    # the seeded stream exercised the whole vocabulary (a seed change
    # that silently drops an op kind would hollow the test out)
    assert set(ops_seen) >= {"append", "merge", "merge_mor", "overwrite",
                             "compact", "clone", "constraint", "restore",
                             "delete_where", "update_where"}, \
        f"op stream lost coverage: {sorted(set(ops_seen))}"

    # every surviving table (clones included) equals its model
    for t, model in tables.items():
        got = {r_.id: r_.v for r_ in fmt.read(spark, t).collect()}
        assert got == pytest.approx(model), f"table {t} diverged"

    # time travel across the whole run equals the recorded history
    for v in sorted(rng.sample(range(len(history)), 3)):
        snap_tables = history[v]
        for t, model in snap_tables.items():
            got = {r_.id: r_.v for r_ in fmt.read(spark, t, version=v).collect()}
            assert got == pytest.approx(model), f"time travel to v{v}/{t}"
    # vacuum to the latest version, then only the head survives
    latest = fmt.latest_version()
    fmt.vacuum(horizon=latest, retention_s=0.0)
    for t, model in tables.items():
        got = {r_.id: r_.v for r_ in fmt.read(spark, t).collect()}
        assert got == pytest.approx(model)


def test_merge_io_proportionality_many_files(spark, tmp_path):
    """The O(delta) contract at a realistic file count: a 24-file table
    (documents-style keyed rows appended in disjoint key ranges) merged
    with a change batch touching keys in ONE range — planning must
    prune to a handful of candidate files by stats and rewrite exactly
    one, regardless of how many files the table holds. This is the
    structural fact that makes a 10^6-row merge against a 100 TB table
    cost the touched files, not the table."""
    fmt = DeltaLogFormat(str(tmp_path / "t"))
    width = 250
    n_files = 24
    fmt.init({"docs": spark.createDataFrame(
        [(i, f"body-{i}") for i in range(width)], "doc_id long, body string"
    ).coalesce(1)})
    for f in range(1, n_files):
        lo = f * width
        fmt.append("docs", spark.createDataFrame(
            [(i, f"body-{i}") for i in range(lo, lo + width)],
            "doc_id long, body string").coalesce(1))
    assert len(fmt._snapshot().adds["docs"]) == n_files

    # change batch confined to file 17's key range
    lo = 17 * width
    changes = spark.createDataFrame(
        [(i, _ts(1), "update", f"edited-{i}") for i in range(lo, lo + 5)],
        "doc_id long, ts timestamp, type string, body string",
    )
    fmt.merge(spark, "docs", changes, ["doc_id"])
    stats = fmt.last_merge_stats
    assert stats["active"] == n_files
    assert stats["candidates"] <= 2   # stats prune: only the overlapping range
    assert stats["touched"] == 1      # exact semi-join: one file rewritten
    # the table is still whole and the edits landed
    got = fmt.read(spark, "docs")
    assert got.count() == n_files * width
    edited = {r.body for r in got.filter(
        (F.col("doc_id") >= lo) & (F.col("doc_id") < lo + 5)).collect()}
    assert edited == {f"edited-{i}" for i in range(lo, lo + 5)}


def test_zorder_layout_prunes_on_both_columns(spark, tmp_path):
    """Z-order (sources/layout.zorder_key) + DeltaLog file skipping
    compose: repartitionRange-by-Morton-key before the write gives
    every file a tight [min,max] box on BOTH columns, so read_where
    prunes on either dimension — the multi-column data-skipping story
    a single-column sort cannot give (sorting by x alone leaves y
    stats spanning the full domain in every file)."""
    from cdc_init_spark.sources.layout import zorder_key

    rows = [(x, y, float(x * 100 + y)) for x in range(40) for y in range(40)]
    df = spark.createDataFrame(rows, "x int, y int, v double")

    def skipped(fmt, col, lo, hi):
        _, total, read = fmt.read_where(spark, "t", col, lo=lo, hi=hi)
        return total, read

    # arm 1: files laid out by x only — y never prunes
    by_x = DeltaLogFormat(str(tmp_path / "byx"))
    by_x.init({"t": df.repartitionByRange(16, "x")})
    # arm 2: files laid out along the Morton curve
    by_z = DeltaLogFormat(str(tmp_path / "byz"))
    ranked, z = zorder_key(df, ["x", "y"], bits=8)
    by_z.init({"t": ranked.withColumn("_z", z)
                    .repartitionByRange(16, "_z")
                    .drop("_z", "_zr_x", "_zr_y")})

    tx, rx = skipped(by_z, "x", 10, 12)
    ty, ry = skipped(by_z, "y", 10, 12)
    assert rx < tx and ry < ty  # BOTH dimensions prune under z-order
    _, rx_lin = skipped(by_x, "x", 10, 12)
    _, ry_lin = skipped(by_x, "y", 10, 12)
    assert rx_lin < 16          # the sorted dimension prunes...
    assert ry_lin == 16         # ...the other cannot: every file spans y
    # and both layouts return identical rows
    want = sorted((x, y, float(x * 100 + y)) for x in range(40)
                  for y in range(10, 13))
    got_z, _, _ = by_z.read_where(spark, "t", "y", lo=10, hi=12)
    assert _rows(got_z) == want


def test_history_restore_and_cdc_read(spark, tmp_path):
    """The audit/undo/CDC trio: history() names each version's
    operation; restore(v) re-references v's files in ONE log entry
    (no data rewritten — inode-verified) while preserving history;
    changes_between(v0, v1) is the exact keyed DML delta (the
    diff_snapshots law through the format)."""
    from cdc_init_spark.streaming.apply import apply_changes

    fmt = DeltaLogFormat(str(tmp_path / "t"))
    fmt.init({"a": spark.createDataFrame(
        [(1, 10.0), (2, 20.0)], "id long, v double")})
    fmt.append("a", spark.createDataFrame([(3, 30.0)], "id long, v double"))
    ch = spark.createDataFrame(
        [(2, _ts(1), "update", 21.0), (1, _ts(1), "delete", None)],
        "id long, ts timestamp, type string, v double")
    fmt.merge(spark, "a", ch, ["id"], batch_id=0)
    fmt.compact(spark, "a", target_files=1)

    ops = [(h["version"], h["operation"]) for h in fmt.history()]
    assert ops == [(3, "compact"), (2, "merge"), (1, "append"), (0, "init")]

    # CDC read: v0 -> v2 delta, and the apply law closes the loop
    d = fmt.changes_between(spark, "a", 0, 2, ["id"])
    kinds = {r.id: r.type for r in d.collect()}
    assert kinds == {1: "delete", 2: "update", 3: "insert"}
    replayed = apply_changes(
        fmt.read(spark, "a", version=0),
        d.withColumn("ts", F.lit("2026-01-01").cast("timestamp")), ["id"])
    assert _rows(replayed) == _rows(fmt.read(spark, "a", version=2))

    # restore to v1: new version 4, contents == v1, nothing rewritten
    inodes = _data_inodes(fmt, "a")
    v = fmt.restore(1)
    assert v == 4
    assert _rows(fmt.read(spark, "a")) == _rows(fmt.read(spark, "a", version=1))
    assert _data_inodes(fmt, "a") == inodes  # one log entry, zero data IO
    head = fmt.history()[0]
    assert head["ts"] is not None  # in-commit timestamp stamped
    assert {k: head[k] for k in ("version", "operation", "batch_id")} == {
        "version": 4, "operation": "restore(v1)", "batch_id": 0}
    # post-restore history still time-travels to the pre-restore head
    assert _rows(fmt.read(spark, "a", version=3)) == _rows(
        fmt.read(spark, "a", version=2))
    # restore below a vacuum horizon is refused loudly
    fmt.vacuum(horizon=4, retention_s=0.0)
    with pytest.raises(ValueError, match="vacuum"):
        fmt.restore(2)

    # every DML verb names its commit: predicate update/delete, the
    # merge-on-read merge and a full overwrite
    assert fmt.update(spark, "a", {"v": "v + 1.0"}, {"id": (2, 2)}) == 5
    assert fmt.delete(spark, "a", {"id": (3, 3)}) == 6
    assert fmt.merge(spark, "a", ch, ["id"], batch_id=1, strategy="mor") == 7
    assert fmt.commit({"a": fmt.read(spark, "a")}, batch_id=2) is True
    ops = [(h["version"], h["operation"]) for h in fmt.history()[:4]]
    assert ops == [(8, "overwrite"), (7, "merge-mor"), (6, "delete"),
                   (5, "update")]
    assert _rows(fmt.read(spark, "a")) == [(2, 21.0)]


# -- round-7 hardening (ADVICE r6): vacuum safety, URI decoding, loud
# -- corruption, partition-spec races ------------------------------------


def test_vacuum_retention_spares_young_files(spark, tmp_path):
    """A data file younger than the retention window is NEVER deleted,
    even when unreferenced — it may belong to an in-flight writer whose
    log commit has not landed yet (indistinguishable from a crashed
    writer's orphan except by age)."""
    fmt = DeltaLogFormat(str(tmp_path / "t"))
    fmt.init({"a": spark.createDataFrame([(1, 1.0)], "id long, v double")})
    # an "in-flight writer": data written seconds ago, no log entry yet
    inflight = os.path.join(fmt.data_dir, "a", "part-inflight.parquet")
    with open(inflight, "wb") as f:
        f.write(b"pending")
    assert fmt.vacuum(horizon=0, retention_s=3600.0) == []
    assert os.path.exists(inflight)  # spared: younger than the window
    # with retention 0 (maintenance window, no writers) it IS an orphan
    assert fmt.vacuum(horizon=0, retention_s=0.0) == ["a/part-inflight.parquet"]


def test_vacuum_spares_files_recommitted_after_plan(spark, tmp_path):
    """The re-snapshot guard: a commit landing between the live-set
    computation and the deletion walk (here: a restore re-referencing
    the candidate file) spares that file — the restored version stays
    readable instead of silently losing its data."""
    fmt = DeltaLogFormat(str(tmp_path / "t"))
    fmt.init({"a": spark.createDataFrame([(1, 1.0)], "id long, v double")})
    fmt.commit({"a": spark.createDataFrame([(1, 2.0)], "id long, v double")},
               batch_id=0)
    latest, candidates = fmt._vacuum_plan(horizon=1, retention_s=0.0)
    assert candidates  # v0's file is unreferenced at horizon 1...
    fmt.restore(0)     # ...but a racing restore re-references it
    assert fmt._vacuum_execute(1, latest, candidates) == []
    assert _rows(fmt.read(spark, "a")) == [(1, 1.0)]  # restored state intact


def test_merge_partition_values_with_spaces(spark, tmp_path):
    """Partition string values containing URI-encodable characters
    (space, percent): input_file_name() returns PERCENT-ENCODED URIs, so
    merge must decode before matching the log's on-disk path form — else
    the remove references `region=a%20b/...` (never added) and the stale
    file would survive alongside its rewrite (duplicates)."""
    fmt = DeltaLogFormat(str(tmp_path / "t"))
    base = spark.createDataFrame(
        [(1, "a b", 10.0), (2, "plain", 20.0), (3, "p%25q", 30.0)],
        "id long, region string, v double",
    )
    fmt.init({"s": base}, partition_by={"s": ["region"]})
    ch = spark.createDataFrame(
        [(1, _ts(1), "update", "a b", 11.0),
         (3, _ts(1), "update", "p%25q", 33.0)],
        "id long, ts timestamp, type string, region string, v double",
    )
    fmt.merge(spark, "s", ch, ["id"])
    assert _rows(fmt.read(spark, "s")) == [
        (1, "a b", 11.0), (2, "plain", 20.0), (3, "p%25q", 33.0)
    ]
    # exactly one active file per partition value — no stale duplicates
    from collections import Counter
    by_part = Counter(
        p.split("/")[1] for p in fmt._snapshot().adds["s"]
    )
    assert all(n == 1 for n in by_part.values()), by_part


def test_snapshot_rejects_inactive_remove(spark, tmp_path):
    """A remove whose path was never added fails replay LOUDLY instead
    of silently degrading into duplicated data."""
    fmt = DeltaLogFormat(str(tmp_path / "t"))
    fmt.init({"a": spark.createDataFrame([(1,)], "id long")})
    assert fmt._try_write_commit(1, [
        {"remove": {"table": "a", "path": "a/no-such-file.parquet"}},
        {"txn": {"batch_id": 0}},
    ])
    with pytest.raises(ValueError, match="corrupt log"):
        fmt.read(spark, "a")


def test_commit_respec_changes_partition_layout(spark, tmp_path):
    """Overwrite-commit with partition_by re-specs the table: new files
    under the new layout, metaData updated, pruning works on the new
    spec, and old versions still read under the OLD spec."""
    fmt = DeltaLogFormat(str(tmp_path / "t"))
    df = spark.createDataFrame(
        [(1, "us", 2024, 1.0), (2, "eu", 2025, 2.0), (3, "us", 2025, 3.0)],
        "id long, region string, yr int, v double",
    )
    fmt.init({"s": df}, partition_by={"s": ["region"]})
    assert fmt.commit({"s": df}, batch_id=0, partition_by={"s": ["yr"]})
    assert fmt._snapshot().partition_cols["s"] == ["yr"]
    assert all(
        p.split("/")[1].startswith("yr=") for p in fmt._snapshot().adds["s"]
    )
    out, total, read = fmt.read_where(spark, "s", "yr", lo=2025, hi=2025)
    assert read < total
    assert _rows(out) == [(2, "eu", 2025, 2.0), (3, "us", 2025, 3.0)]
    # time travel to v0 still materializes the old region= layout
    assert _rows(fmt.read(spark, "s", version=0)) == _rows(df)


def test_append_rewrites_after_concurrent_respec(spark, tmp_path):
    """The spec-race guard: an append that loses its commit race to an
    overwrite that CHANGED the partition spec must rewrite its data
    files under the new spec — committing old-layout files against the
    new metaData would materialize wrong/missing partition columns."""
    fmt = DeltaLogFormat(str(tmp_path / "t"))
    df = spark.createDataFrame(
        [(1, "us", 1.0), (2, "eu", 2.0)], "id long, region string, v double"
    )
    fmt.init({"s": df}, partition_by={"s": ["region"]})

    real_try = fmt._try_write_commit
    state = {"stolen": False}

    def steal_once(version, actions):
        if not state["stolen"]:
            state["stolen"] = True
            # winner: overwrite that drops the partition spec entirely
            fmt.commit({"s": df}, batch_id=7, partition_by={"s": []})
            return real_try(version, actions)  # now loses with EEXIST
        return real_try(version, actions)

    fmt._try_write_commit = steal_once
    v = fmt.append("s", spark.createDataFrame(
        [(3, "ap", 3.0)], "id long, region string, v double"))
    fmt._try_write_commit = real_try
    assert v == fmt.latest_version()
    # region must materialize from the DATA (new spec), not the path
    assert _rows(fmt.read(spark, "s")) == [
        (1, "us", 1.0), (2, "eu", 2.0), (3, "ap", 3.0)
    ]
    assert all("=" not in p for p in fmt._snapshot().adds["s"])


def test_compact_zorder_restores_multicolumn_skipping(spark, tmp_path):
    """OPTIMIZE ... ZORDER BY analog: after ingest in an order that
    correlates with NEITHER column, compact(zorder_by=[x, y]) rewrites
    the table so read_where prunes on BOTH dimensions — same rows (the
    compaction no-op law), one commit, better layout."""
    fmt = DeltaLogFormat(str(tmp_path / "t"))
    rows = [(x, y, float(x * 100 + y)) for x in range(40) for y in range(40)]
    df = spark.createDataFrame(rows, "x int, y int, v double")
    # ingest order: hash-ish interleave → every file spans both domains
    fmt.init({"t": df.withColumn("_h", F.xxhash64("x", "y"))
                  .repartitionByRange(16, "_h").drop("_h")})
    _, tot_x0, read_x0 = fmt.read_where(spark, "t", "x", lo=10, hi=12)
    _, tot_y0, read_y0 = fmt.read_where(spark, "t", "y", lo=10, hi=12)
    assert read_x0 == tot_x0 and read_y0 == tot_y0  # nothing prunes

    before = _rows(fmt.read(spark, "t"))
    fmt.compact(spark, "t", target_files=16, zorder_by=["x", "y"])
    assert _rows(fmt.read(spark, "t")) == before  # no-op law holds
    out_x, tot_x, read_x = fmt.read_where(spark, "t", "x", lo=10, hi=12)
    out_y, tot_y, read_y = fmt.read_where(spark, "t", "y", lo=10, hi=12)
    assert read_x < tot_x and read_y < tot_y  # BOTH dimensions prune now
    assert _rows(out_y) == sorted(
        (x, y, float(x * 100 + y)) for x in range(40) for y in range(10, 13)
    )


def test_read_where_all_conjunctive_pruning(spark, tmp_path):
    """Multi-column file skipping: a file is pruned when ANY ANDed
    predicate's range is disjoint from its stats; with a Z-ordered
    layout a 2-predicate box scan reads fewer files than either
    single-column prune alone — and returns exactly the box."""
    fmt = DeltaLogFormat(str(tmp_path / "t"))
    rows = [(x, y, float(x * 100 + y)) for x in range(40) for y in range(40)]
    df = spark.createDataFrame(rows, "x int, y int, v double")
    fmt.init({"t": df})
    fmt.compact(spark, "t", target_files=16, zorder_by=["x", "y"])

    _, tot, read_x = fmt.read_where(spark, "t", "x", lo=10, hi=12)
    _, _, read_y = fmt.read_where(spark, "t", "y", lo=10, hi=12)
    out, _, read_xy = fmt.read_where_all(
        spark, "t", {"x": (10, 12), "y": (10, 12)}
    )
    assert read_xy <= min(read_x, read_y) < tot
    assert _rows(out) == sorted(
        (x, y, float(x * 100 + y))
        for x in range(10, 13) for y in range(10, 13)
    )
    # open ends + a stats-free form still return correct rows
    out2, _, _ = fmt.read_where_all(spark, "t", {"x": (38, None)})
    assert _rows(out2) == sorted(
        (x, y, float(x * 100 + y)) for x in (38, 39) for y in range(40)
    )


def test_merge_range_cover_prunes_outlier_change_set(spark, tmp_path):
    """VERDICT r7 item 1: a change set holding two DISTANT keys must not
    force reading every active file. The old single [min,max] box
    covered the whole key space; the bounded range cover (sorted-key
    widest-gap cuts) keeps candidates ≈ touched."""
    fmt = DeltaLogFormat(str(tmp_path / "t"))
    width, n_files = 100, 20
    fmt.init({"docs": spark.createDataFrame(
        [(i, f"b{i}") for i in range(width)], "id long, body string"
    ).coalesce(1)})
    for f in range(1, n_files):
        lo = f * width
        fmt.append("docs", spark.createDataFrame(
            [(i, f"b{i}") for i in range(lo, lo + width)],
            "id long, body string").coalesce(1))

    # one key in the first file's range, one in the last file's range
    changes = spark.createDataFrame(
        [(5, _ts(1), "update", "edited-5"),
         (n_files * width - 7, _ts(1), "update", "edited-hi")],
        "id long, ts timestamp, type string, body string")
    fmt.merge(spark, "docs", changes, ["id"])
    stats = fmt.last_merge_stats
    assert stats["active"] == n_files
    assert stats["touched"] == 2
    assert stats["candidates"] == 2, (
        f"range cover should prune to the two holding files, got "
        f"{stats['candidates']}")
    assert stats["key_ranges"] == {"id": 2}
    # values landed
    got = dict(
        (r.id, r.body)
        for r in fmt.read(spark, "docs")
        .filter(F.col("id").isin(5, n_files * width - 7)).collect())
    assert got == {5: "edited-5", n_files * width - 7: "edited-hi"}


def test_merge_range_cover_caps_and_falls_back(spark, tmp_path):
    """The cover is bounded: more key clusters than merge_key_ranges
    still yields at most merge_key_ranges ranges (a correct, looser
    cover); a key count above merge_range_summary_key_limit falls back
    to the single global box — both stay exact on the touched set."""
    fmt = DeltaLogFormat(
        str(tmp_path / "t"), merge_key_ranges=3,
        merge_range_summary_key_limit=4)
    width, n_files = 50, 10
    fmt.init({"m": spark.createDataFrame(
        [(i, 0.0) for i in range(width)], "id long, v double").coalesce(1)})
    for f in range(1, n_files):
        fmt.append("m", spark.createDataFrame(
            [(i, 0.0) for i in range(f * width, (f + 1) * width)],
            "id long, v double").coalesce(1))

    # 5 distinct keys in 5 different files > summary limit 4 → global box
    ch = spark.createDataFrame(
        [(k * width + 1, _ts(1), "update", 1.0) for k in range(0, 10, 2)],
        "id long, ts timestamp, type string, v double")
    fmt.merge(spark, "m", ch, ["id"])
    assert fmt.last_merge_stats["key_ranges"] == {"id": 1}  # box fallback
    assert fmt.last_merge_stats["touched"] == 5

    # 3 distinct keys, cap 3 → at most 3 ranges, exact touch unchanged
    ch2 = spark.createDataFrame(
        [(k * width + 2, _ts(2), "update", 2.0) for k in (1, 4, 8)],
        "id long, ts timestamp, type string, v double")
    fmt.merge(spark, "m", ch2, ["id"])
    assert fmt.last_merge_stats["key_ranges"]["id"] <= 3
    # pruning still effective under the cap: candidates well below the
    # active file count (the first merge's rewrite files carry wide
    # [min,max] boxes, so candidates may exceed touched — stats pruning
    # can never see inside a wide file; that is compaction's job)
    assert fmt.last_merge_stats["touched"] >= 2
    assert (fmt.last_merge_stats["touched"]
            <= fmt.last_merge_stats["candidates"]
            < fmt.last_merge_stats["active"])
    got = dict((r.id, r.v) for r in fmt.read(spark, "m").filter(
        F.col("id").isin(52, 202, 402)).collect())
    assert got == {52: 2.0, 202: 2.0, 402: 2.0}


def test_merge_broadcast_gate_switches_to_shuffle_join(spark, tmp_path):
    """VERDICT r7 item 2: above merge_broadcast_key_limit the exact-
    touch semi-join must not broadcast the change keys (a backfill-scale
    merge would exceed broadcast limits) — the physical plan switches to
    a shuffled hash join and the touched set is identical."""
    def build(root, **kw):
        fmt = DeltaLogFormat(root, **kw)
        fmt.init({"m": spark.createDataFrame(
            [(i, 0.0) for i in range(100)], "id long, v double").coalesce(1)})
        fmt.append("m", spark.createDataFrame(
            [(i, 0.0) for i in range(100, 200)],
            "id long, v double").coalesce(1))
        # keys in BOTH files: ≥2 candidates, so the exact-touch probe
        # (whose join plan this test pins) actually runs — a single
        # candidate skips the probe outright (see
        # test_merge_single_candidate_skips_probe)
        ch = spark.createDataFrame(
            [(i, _ts(1), "update", 1.0) for i in range(40, 60)]
            + [(i, _ts(1), "update", 1.0) for i in range(140, 160)],
            "id long, ts timestamp, type string, v double")
        fmt.merge(spark, "m", ch, ["id"])
        return fmt

    small = build(str(tmp_path / "bcast"))
    assert small.last_merge_stats["key_join"] == "broadcast"
    assert "BroadcastHashJoin" in (small._last_key_join_plan or "")

    big = build(str(tmp_path / "shuffle"), merge_broadcast_key_limit=5)
    assert big.last_merge_stats["key_join"] == "shuffle_hash"
    assert "BroadcastHashJoin" not in (big._last_key_join_plan or "x")
    assert "ShuffledHashJoin" in (big._last_key_join_plan or "")

    # identical outcomes either way
    assert big.last_merge_stats["touched"] == \
        small.last_merge_stats["touched"] == 2
    assert _rows(big.read(spark, "m")) == _rows(small.read(spark, "m"))


def test_merge_single_candidate_skips_probe(spark, tmp_path):
    """r9 optimization: when stats pruning leaves exactly ONE candidate
    file the exact-touch probe job is skipped (it could only confirm,
    never prune) and the candidate is rewritten directly — identical
    results, one fewer driver-synchronized job. With ≥2 candidates the
    probe still runs and prunes."""
    fmt = DeltaLogFormat(str(tmp_path / "t"))
    fmt.init({"m": spark.createDataFrame(
        [(i, 0.0) for i in range(100)], "id long, v double").coalesce(1)})
    fmt.append("m", spark.createDataFrame(
        [(i, 0.0) for i in range(100, 200)],
        "id long, v double").coalesce(1))
    ch = spark.createDataFrame(
        [(i, _ts(1), "update", 1.0) for i in range(40, 60)],
        "id long, ts timestamp, type string, v double")
    fmt.merge(spark, "m", ch, ["id"])
    assert fmt.last_merge_stats["candidates"] == 1
    assert fmt.last_merge_stats["touched"] == 1
    assert fmt.last_merge_stats["key_join"] == "skipped_single_candidate"
    assert fmt._last_key_join_plan is None
    got = {r.id: r.v for r in fmt.read(spark, "m").collect()}
    assert got == {i: (1.0 if 40 <= i < 60 else 0.0) for i in range(200)}
    # a second merge touching both files has 2 candidates -> probe runs
    ch2 = spark.createDataFrame(
        [(50, _ts(2), "update", 2.0), (150, _ts(2), "update", 2.0)],
        "id long, ts timestamp, type string, v double")
    fmt.merge(spark, "m", ch2, ["id"])
    assert fmt.last_merge_stats["candidates"] >= 2
    assert fmt.last_merge_stats["key_join"] == "broadcast"
    assert fmt._last_key_join_plan is not None


@pytest.mark.parametrize("strategy", ["cow", "mor"])
def test_merge_schema_evolution_additive(spark, tmp_path, strategy):
    """merge(evolve_schema=True) — the Delta mergeSchema analog — under
    BOTH physical strategies: a change frame carrying a new data column
    widens the table schema in the merge commit itself. Untouched rows
    (and untouched old FILES) read the addition as NULL, upserted rows
    carry values, pre-merge versions keep the old schema under time
    travel, and breaking changes raise before any file is written."""
    fmt = DeltaLogFormat(str(tmp_path / "t"))
    fmt.init({"d": spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "id long, s string")})
    ch = spark.createDataFrame(
        [(2, _ts(1), "update", "b2", 0.9), (4, _ts(1), "insert", "d", 0.4)],
        "id long, ts timestamp, type string, s string, score double")
    v = fmt.merge(spark, "d", ch, ["id"], batch_id=0, strategy=strategy,
                  evolve_schema=True)
    got = {r.id: (r.s, r.score) for r in fmt.read(spark, "d").collect()}
    assert got == {1: ("a", None), 2: ("b2", 0.9),
                   3: ("c", None), 4: ("d", 0.4)}
    # pre-merge version keeps the old two-column schema
    assert fmt.read(spark, "d", version=v - 1).columns == ["id", "s"]
    # a later plain merge sees (and must supply) the widened schema
    assert fmt.read(spark, "d").columns == ["id", "s", "score"]
    # breaking evolution raises and leaves no orphans
    with pytest.raises(ValueError, match="additive"):
        fmt.merge(spark, "d", spark.createDataFrame(
            [(2, _ts(2), "update", 7)],
            "id long, ts timestamp, type string, s long"),
            ["id"], batch_id=1, strategy=strategy, evolve_schema=True)
    assert fmt.vacuum(horizon=0, retention_s=0.0) == []
    # default evolve_schema=False: extra columns ignored (apply_changes'
    # documented contract) — schema does not move
    fmt2 = DeltaLogFormat(str(tmp_path / "t2"))
    fmt2.init({"d": spark.createDataFrame([(1, "a")], "id long, s string")})
    fmt2.merge(spark, "d", ch, ["id"], batch_id=0, strategy=strategy)
    assert fmt2.read(spark, "d").columns == ["id", "s"]


def test_merge_schema_evolution_feeds_cdf(spark, tmp_path):
    """Evolution × change-data feed: a CDF-enabled evolving merge writes
    change files in the WIDENED schema (the diff is taken between the
    NULL-widened old rows and the committed new bytes), so a downstream
    changes_between read carries the new column."""
    fmt = DeltaLogFormat(str(tmp_path / "t"), enable_cdf=True)
    fmt.init({"d": spark.createDataFrame([(1, "a"), (2, "b")],
                                         "id long, s string")})
    ch = spark.createDataFrame(
        [(2, _ts(1), "update", "b2", 0.9)],
        "id long, ts timestamp, type string, s string, score double")
    v = fmt.merge(spark, "d", ch, ["id"], batch_id=0, evolve_schema=True)
    d = fmt.changes_between(spark, "d", v - 1, v, ["id"])
    rows = {r.id: (r.type, r.s, r.score) for r in d.collect()}
    assert rows == {2: ("update", "b2", 0.9)}


def test_timestamp_time_travel(spark, tmp_path):
    """TIMESTAMP AS OF over in-commit timestamps: stamps are monotone
    non-decreasing across versions, read(timestamp=ts_of(v)) ≡
    read(version=v) for every version, a timestamp between two commits
    resolves to the earlier one, after the latest resolves to the
    latest, and before the first raises."""
    fmt = DeltaLogFormat(str(tmp_path / "t"))
    fmt.init({"d": spark.createDataFrame([(0, 0.0)], "id long, v double")})
    for i in range(1, 4):
        fmt.append("d", spark.createDataFrame(
            [(i, float(i))], "id long, v double"))
    hist = {h["version"]: h["ts"] for h in fmt.history()}
    assert all(hist[v] is not None for v in range(4))
    assert all(hist[v] <= hist[v + 1] for v in range(3))
    for v in range(4):
        assert fmt.version_at_timestamp(hist[v]) == v or (
            # equal stamps collapse to the newest version with that stamp
            hist[fmt.version_at_timestamp(hist[v])] == hist[v]
        )
        assert _rows(fmt.read(spark, "d", timestamp=hist[v])) == _rows(
            fmt.read(spark, "d",
                     version=fmt.version_at_timestamp(hist[v]))
        )
    assert fmt.version_at_timestamp(hist[3] + 3600) == 3
    with pytest.raises(ValueError, match="before the table's first"):
        fmt.version_at_timestamp(hist[0] - 3600)
    with pytest.raises(ValueError, match="not both"):
        fmt.read(spark, "d", version=1, timestamp=hist[1])


def test_check_constraints_enforced_on_every_write_path(spark, tmp_path):
    """CHECK constraints (the Delta ADD CONSTRAINT shape): enforcement
    happens inside the write pass on EVERY data path — append, CoW
    merge, MoR merge, overwrite commit — a violating write fails before
    any version is committed and leaves no orphan files; NULL results
    pass (SQL semantics); drop_constraint re-opens the gate."""
    fmt = DeltaLogFormat(str(tmp_path / "t"))
    fmt.init({"d": spark.createDataFrame(
        [(1, 10.0), (2, None)], "id long, v double")})
    v = fmt.add_constraint(spark, "d", "v_pos", "v > 0")  # NULL row passes
    assert v == 1
    pre = fmt.latest_version()

    bad_append = spark.createDataFrame([(3, -1.0)], "id long, v double")
    with pytest.raises(Exception, match="v_pos"):
        fmt.append("d", bad_append)
    ch = "id long, ts timestamp, type string, v double"
    for strat in ("cow", "mor"):
        with pytest.raises(Exception, match="v_pos"):
            fmt.merge(spark, "d", spark.createDataFrame(
                [(1, _ts(1), "update", -5.0)], ch), ["id"], strategy=strat)
    with pytest.raises(Exception, match="v_pos"):
        fmt.commit({"d": bad_append}, batch_id=99)
    assert fmt.latest_version() == pre  # nothing committed
    assert fmt.vacuum(horizon=0, retention_s=0.0) == []  # nothing leaked
    assert {r.id for r in fmt.read(spark, "d").collect()} == {1, 2}

    # passing writes still flow; NULL keeps passing
    fmt.append("d", spark.createDataFrame(
        [(3, 4.0), (4, None)], "id long, v double"))
    assert fmt.read(spark, "d").count() == 4

    # drop re-opens the gate
    fmt.drop_constraint("d", "v_pos")
    fmt.append("d", bad_append)
    assert fmt.read(spark, "d").count() == 5
    with pytest.raises(ValueError, match="no constraint"):
        fmt.drop_constraint("d", "v_pos")


def test_add_constraint_validates_existing_rows_and_replays(spark, tmp_path):
    """add_constraint scans the CURRENT rows first (it can never land
    over violating data), survives checkpoint replay on a fresh
    instance, and restore() carries constraint state with the version."""
    fmt = DeltaLogFormat(str(tmp_path / "t"), checkpoint_interval=2)
    fmt.init({"d": spark.createDataFrame([(1, -3.0)], "id long, v double")})
    with pytest.raises(ValueError, match="existing rows violate"):
        fmt.add_constraint(spark, "d", "v_pos", "v > 0")
    with pytest.raises(ValueError, match="unknown table"):
        fmt.add_constraint(spark, "nope", "c", "1 = 1")

    # make the data comply, add the constraint, cross a checkpoint
    fmt.merge(spark, "d", spark.createDataFrame(
        [(1, _ts(1), "update", 3.0)],
        "id long, ts timestamp, type string, v double"), ["id"])
    v_con = fmt.add_constraint(spark, "d", "v_pos", "v > 0")  # v2 (ckpt)
    with pytest.raises(ValueError, match="already exists"):
        fmt.add_constraint(spark, "d", "v_pos", "v > 0")
    fmt.append("d", spark.createDataFrame([(2, 1.0)], "id long, v double"))

    fresh = DeltaLogFormat(str(tmp_path / "t"))  # replays via checkpoint
    with pytest.raises(Exception, match="v_pos"):
        fresh.append("d", spark.createDataFrame(
            [(9, -9.0)], "id long, v double"))

    # restore to the pre-constraint version drops the constraint...
    fmt.restore(v_con - 1)
    fmt.append("d", spark.createDataFrame([(9, -9.0)], "id long, v double"))
    # ...and restoring forward to the constrained version re-raises it
    # only if the data complies — it doesn't (the -9 row), but restore
    # itself is metadata-only so it lands; the NEXT write enforces
    v_back = fmt.restore(v_con)
    assert "v_pos" in fmt._snapshot().constraints.get("d", {})
    with pytest.raises(Exception, match="v_pos"):
        fmt.append("d", spark.createDataFrame(
            [(10, -1.0)], "id long, v double"))
    assert fmt.latest_version() == v_back


def test_shallow_clone_zero_copy_and_independent_evolution(spark, tmp_path):
    """CLONE (Delta shallow-clone shape, realized with hard links so the
    clone is vacuum-safe): cloning a table costs O(files) metadata and
    zero data bytes — every cloned file shares its source's inode — and
    the two tables evolve independently afterwards: writes to one never
    appear in the other, and vacuuming the source below its horizon
    never breaks the clone (each holds its own directory entry)."""
    fmt = DeltaLogFormat(str(tmp_path / "t"))
    fmt.init({"src": spark.createDataFrame(
        [(i, float(i)) for i in range(10)], "id long, v double")})
    fmt.add_constraint(spark, "src", "v_nonneg", "v >= 0")
    v = fmt.clone(spark, "src", "dst")

    # zero-copy: every dst file is a hard link of a src file
    src_inodes = set(_data_inodes(fmt, "src").values())
    dst_inodes = set(_data_inodes(fmt, "dst").values())
    assert dst_inodes == src_inodes
    assert _rows(fmt.read(spark, "dst")) == _rows(fmt.read(spark, "src"))

    # metadata came along: schema, partition spec, constraints
    assert "v_nonneg" in fmt._snapshot().constraints.get("dst", {})
    with pytest.raises(Exception, match="v_nonneg"):
        fmt.append("dst", spark.createDataFrame(
            [(99, -1.0)], "id long, v double"))

    # independent evolution: a merge on dst rewrites dst only
    fmt.merge(spark, "dst", spark.createDataFrame(
        [(3, _ts(1), "update", 33.0)],
        "id long, ts timestamp, type string, v double"), ["id"])
    assert _rows(fmt.read(spark, "src").filter(F.col("id") == 3)) == [(3, 3.0)]
    assert _rows(fmt.read(spark, "dst").filter(F.col("id") == 3)) == [(3, 33.0)]

    # vacuum after the divergence: src's retired files may go, but the
    # clone still reads (hard links keep the shared bytes alive)
    fmt.vacuum(horizon=fmt.latest_version(), retention_s=0.0)
    assert fmt.read(spark, "dst").count() == 10
    assert fmt.read(spark, "src").count() == 10

    # cloning over an existing table refuses loudly
    with pytest.raises(ValueError, match="already exists"):
        fmt.clone(spark, "src", "dst")
    with pytest.raises(ValueError, match="unknown table"):
        fmt.clone(spark, "nope", "x")


def test_clone_of_mor_table_carries_dv_state(spark, tmp_path):
    """Cloning a table that has live deletion vectors: the clone links
    the dv files too and suppresses the same keys — a clone taken
    between a MoR merge and its compaction reads identically to the
    source."""
    fmt = DeltaLogFormat(str(tmp_path / "t"))
    fmt.init({"src": spark.createDataFrame(
        [(i, float(i)) for i in range(10)], "id long, v double")})
    fmt.merge(spark, "src", spark.createDataFrame(
        [(4, _ts(1), "delete", None)],
        "id long, ts timestamp, type string, v double"),
        ["id"], strategy="mor")
    fmt.clone(spark, "src", "dst")
    assert fmt._snapshot().dvs.get("dst")
    assert fmt.read(spark, "dst").count() == 9
    assert _rows(fmt.read(spark, "dst")) == _rows(fmt.read(spark, "src"))
    # compacting the CLONE retires only the clone's dvs
    fmt.compact(spark, "dst", target_files=1)
    assert fmt._snapshot().dvs.get("dst", {}) == {}
    assert fmt._snapshot().dvs.get("src")
    assert fmt.read(spark, "src").count() == 9


def test_delete_where_rewrites_only_matching_files(spark, tmp_path):
    """DELETE FROM ... WHERE: rows matching (range predicates AND
    residual) disappear; rows where the condition is NULL stay (SQL
    semantics); files without a match keep their inodes (O(touched)
    write IO, counters prove the prune); nothing matched → no version;
    dv-suppressed rows never resurrect through the rewrite."""
    fmt = DeltaLogFormat(str(tmp_path / "t"))
    rows = [(i, float(i) if i != 7 else None) for i in range(30)]
    frames = [spark.createDataFrame(rows[k:k + 10], "id long, v double")
              .coalesce(1) for k in (0, 10, 20)]
    fmt.init({"d": frames[0]})
    fmt.append("d", frames[1])
    fmt.append("d", frames[2])
    # MoR-delete id=12 first: the later predicate delete must read
    # through the dv, not resurrect it into the rewrite
    fmt.merge(spark, "d", spark.createDataFrame(
        [(12, _ts(0), "delete", None)],
        "id long, ts timestamp, type string, v double"),
        ["id"], batch_id=0, strategy="mor")
    before = _data_inodes(fmt, "d")

    # delete ids 0-14 with odd v (id 7 has v NULL -> condition NULL -> kept)
    v = fmt.delete(spark, "d", {"id": (0, 14)}, where="v % 2 = 1")
    assert v == fmt.latest_version()
    st = fmt.last_rewrite_stats
    # 3 active files (the MoR delete added no data file, only a dv)
    assert st["op"] == "delete" and st["active"] == 3
    assert st["candidates"] == 2  # file 3 (ids 20-29) stats-pruned
    assert st["touched"] == 2     # both low files hold odd ids
    got = {r.id for r in fmt.read(spark, "d").collect()}
    want = set(range(30)) - {12} - {
        i for i in range(15) if i % 2 == 1 and i != 7  # 7: v NULL, kept
    }
    assert got == want
    assert 7 in got  # NULL condition kept the row
    after = _data_inodes(fmt, "d")
    survivors = set(before) & set(after)
    assert all(before[p] == after[p] for p in survivors)
    assert any(p in after for p in before), "untouched file was rewritten"

    # nothing-matched: no version created
    pre = fmt.latest_version()
    assert fmt.delete(spark, "d", {"id": (500, 600)}) == -1
    assert fmt.latest_version() == pre
    # time travel: pre-delete version still has the deleted ids
    assert 1 in {r.id for r in fmt.read(spark, "d", version=v - 1).collect()}


def test_update_where_set_and_cdf_capture(spark, tmp_path):
    """UPDATE ... SET col = expr WHERE: matching rows take the new
    values (expressions may read the row), others are byte-identical;
    with enable_cdf + pk_cols the commit captures keyed change data so
    changes_between serves it O(delta) and a live subscription streams
    exactly the updated rows; SET on unknown or partition columns
    raises before any IO."""
    fmt = DeltaLogFormat(str(tmp_path / "t"), enable_cdf=True)
    fmt.init({"d": spark.createDataFrame(
        [(i, float(i), "x") for i in range(20)],
        "id long, v double, tag string")})
    v = fmt.update(
        spark, "d", {"v": "v * 10", "tag": "'hot'"},
        {"id": (5, 8)}, pk_cols=["id"], batch_id=1,
    )
    got = {r.id: (r.v, r.tag) for r in fmt.read(spark, "d").collect()}
    for i in range(20):
        assert got[i] == ((i * 10.0, "hot") if 5 <= i <= 8
                          else (float(i), "x"))
    # CDC fast path serves the stored capture
    d = fmt.changes_between(spark, "d", v - 1, v, ["id"])
    assert fmt.last_changes_path == "cdc-files"
    assert sorted((r.id, r.type, r.v, r.tag) for r in d.collect()) == [
        (i, "update", i * 10.0, "hot") for i in range(5, 9)
    ]
    # live subscription streams the same rows
    from cdc_init_spark.sources.delta_cdf import read_change_stream

    q = (
        read_change_stream(spark, fmt.root, "d", startingVersion=v)
        .writeStream.format("memory").queryName("upd_feed")
        .option("checkpointLocation", str(tmp_path / "ck")).start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
        q.awaitTermination()
    assert sorted(
        (r.id, r.type, r.v) for r in spark.table("upd_feed").collect()
    ) == [(i, "update", i * 10.0) for i in range(5, 9)]

    with pytest.raises(ValueError, match="unknown columns"):
        fmt.update(spark, "d", {"nope": "1"}, {"id": (0, 1)})
    with pytest.raises(ValueError, match="at least one SET"):
        fmt.update(spark, "d", {}, {"id": (0, 1)})
    # partitioned table: SET on the partition column refuses
    fmt2 = DeltaLogFormat(str(tmp_path / "p"))
    fmt2.init({"e": spark.createDataFrame(
        [(1, "a", 1.0)], "id long, region string, v double")},
        partition_by={"e": ["region"]})
    with pytest.raises(ValueError, match="partition columns"):
        fmt2.update(spark, "e", {"region": "'b'"}, {"id": (1, 1)})


def test_delete_update_equal_recompute_oracle(spark, tmp_path):
    """Differential law: delete/update through the format equal the
    same operations computed relationally on the pre-state (the
    filter/withColumn oracle), including constraint enforcement — an
    UPDATE whose result violates a CHECK constraint fails pre-commit
    and changes nothing."""
    fmt = DeltaLogFormat(str(tmp_path / "t"))
    base = spark.createDataFrame(
        [(i, float(i % 7), f"s{i % 3}") for i in range(50)],
        "id long, v double, s string")
    fmt.init({"d": base})
    fmt.add_constraint(spark, "d", "v_small", "v < 1000")

    fmt.delete(spark, "d", {"v": (2.0, 4.0)}, where="s = 's1'")
    oracle = base.filter(
        ~F.coalesce((F.col("v") >= 2.0) & (F.col("v") <= 4.0)
                    & (F.col("s") == "s1"), F.lit(False)))
    assert _rows(fmt.read(spark, "d")) == _rows(oracle)

    fmt.update(spark, "d", {"v": "v + 0.5"}, {"id": (10, 19)})
    cond = F.coalesce((F.col("id") >= 10) & (F.col("id") <= 19),
                      F.lit(False))
    oracle = oracle.withColumn(
        "v", F.when(cond, F.col("v") + 0.5).otherwise(F.col("v")))
    assert _rows(fmt.read(spark, "d")) == _rows(oracle)

    # constraint fires inside the rewrite: nothing commits, no orphans
    pre = fmt.latest_version()
    with pytest.raises(Exception, match="v_small"):
        fmt.update(spark, "d", {"v": "v + 10000"}, {"id": (0, 4)})
    assert fmt.latest_version() == pre
    assert fmt.vacuum(horizon=0, retention_s=0.0) == []
    assert _rows(fmt.read(spark, "d")) == _rows(oracle)


def test_clone_links_survive_concurrent_vacuum(spark, tmp_path):
    """Vacuum-safety of an IN-FLIGHT clone (ADVICE r8): a clone's hard
    links share the source inode's mtime, so on an old table the
    not-yet-committed twins would look like stale orphans to a
    concurrent vacuum's retention guard and be deleted before the clone
    commits — leaving a committed clone whose reads fail forever. clone
    bumps each twin's inode timestamp so the retention window protects
    it like any in-flight writer's fresh files."""
    import time as _time

    root = str(tmp_path / "t")
    fmt = DeltaLogFormat(root)
    fmt.init({"d": spark.createDataFrame(
        [(i, float(i)) for i in range(10)], "id long, v double")})
    # age the source data files well past the vacuum retention window
    old = _time.time() - 3600.0
    tdir = os.path.join(fmt.data_dir, "d")
    for name in os.listdir(tdir):
        os.utime(os.path.join(tdir, name), (old, old))

    orig = fmt._try_write_commit

    def racing_vacuum_then_commit(version, actions):
        # between linking and the clone's log commit, a concurrent
        # vacuum runs with a retention window the twins must fall inside
        if any("clone" in (a.get("commitInfo") or {}).get("operation", "")
               for a in actions):
            DeltaLogFormat(root).vacuum(
                horizon=fmt.latest_version(), retention_s=60.0)
        return orig(version, actions)

    fmt._try_write_commit = racing_vacuum_then_commit
    try:
        fmt.clone(spark, "d", "fork")
    finally:
        fmt._try_write_commit = orig
    # the committed clone reads — its links survived the vacuum
    assert _rows(fmt.read(spark, "fork")) == [(i, float(i))
                                              for i in range(10)]


def test_overwrite_occ_retry_revalidates_constraints(spark, tmp_path):
    """An overwrite that loses its OCC race to a concurrent
    add_constraint must re-enforce the NOW-ACTIVE constraint against
    its staged files before retrying (ADVICE r8, delta_log.py:1026) —
    otherwise rows never validated against the winning constraint land
    in the table. The violating overwrite fails; a complying one lands
    on retry."""
    root = str(tmp_path / "t")
    fmt = DeltaLogFormat(root)
    fmt.init({"d": spark.createDataFrame([(1, 5.0)], "id long, v double")})

    def race_in_constraint(victim):
        """First commit attempt of ``victim`` loses to add_constraint."""
        orig = victim._try_write_commit
        state = {"raced": False}

        def hook(version, actions):
            op = next((a["commitInfo"].get("operation") for a in actions
                       if "commitInfo" in a), None)
            if op == "overwrite" and not state["raced"]:
                state["raced"] = True
                DeltaLogFormat(root).add_constraint(
                    spark, "d", "v_pos", "v > 0")
            return orig(version, actions)

        victim._try_write_commit = hook
        return orig

    # violating overwrite: must FAIL (the retry re-runs the new check)
    victim = DeltaLogFormat(root)
    orig = race_in_constraint(victim)
    try:
        with pytest.raises(Exception, match="v_pos"):
            victim.commit(
                {"d": spark.createDataFrame([(2, -1.0)],
                                            "id long, v double")},
                batch_id=1)
    finally:
        victim._try_write_commit = orig
    assert {r.v for r in fmt.read(spark, "d").collect()} == {5.0}
    fmt.drop_constraint("d", "v_pos")

    # complying overwrite under the same race: lands on retry, enforced
    victim = DeltaLogFormat(root)
    orig = race_in_constraint(victim)
    try:
        assert victim.commit(
            {"d": spark.createDataFrame([(3, 7.0)], "id long, v double")},
            batch_id=2)
    finally:
        victim._try_write_commit = orig
    assert _rows(fmt.read(spark, "d")) == [(3, 7.0)]
    assert "v_pos" in fmt._snapshot().constraints["d"]


def test_update_set_rejects_type_widening(spark, tmp_path):
    """A SET expression whose when/otherwise coercion would WIDEN the
    column (string or double onto a numeric column) is rejected before
    any IO (ADVICE r8, delta_log.py:1669) — otherwise the committed
    parquet diverges from the stored schema and every subsequent read
    fails. Type-preserving expressions still flow."""
    fmt = DeltaLogFormat(str(tmp_path / "t"))
    fmt.init({"d": spark.createDataFrame(
        [(i, i * 10) for i in range(5)], "id long, n int")})
    pre = fmt.latest_version()
    for bad in ("'abc'", "1.5", "cast(n as double) / 2"):
        with pytest.raises(ValueError, match="declared"):
            fmt.update(spark, "d", {"n": bad}, {"id": (0, 2)})
    assert fmt.latest_version() == pre
    assert fmt.vacuum(horizon=0, retention_s=0.0) == []  # no orphans
    # a correctly-typed expression (explicit cast back) is fine
    fmt.update(spark, "d", {"n": "cast(n * 2 as int)"}, {"id": (0, 2)})
    got = {r.id: r.n for r in fmt.read(spark, "d").collect()}
    assert got == {i: (i * 20 if i <= 2 else i * 10) for i in range(5)}


def test_commit_ts_monotonic_after_log_archival(spark, tmp_path):
    """In-commit timestamps stay monotonic even when the predecessor's
    JSON log entry is archived behind a checkpoint (ADVICE r8,
    delta_log.py:466): the floor comes from the _last_checkpoint
    pointer's persisted ts, so a skewed-back wall clock cannot stamp a
    commit below archived versions' stamps."""
    import types

    import cdc_init_spark.sources.delta_log as dl

    fmt = DeltaLogFormat(str(tmp_path / "t"), checkpoint_interval=2)
    fmt.init({"d": spark.createDataFrame([(0,)], "id long")})
    fmt.append("d", spark.createDataFrame([(1,)], "id long"))
    fmt.append("d", spark.createDataFrame([(2,)], "id long"))  # v2: ckpt
    ts2 = fmt._commit_ts(2)
    assert ts2 is not None
    # archive every entry at or below the checkpoint (allowed by design)
    for v in (0, 1, 2):
        os.unlink(fmt._log_path(v))

    skewed = ts2 - 9999.0  # a writer whose clock runs far behind
    real_time = dl.time
    dl.time = types.SimpleNamespace(time=lambda: skewed)
    try:
        v = fmt.append("d", spark.createDataFrame([(3,)], "id long"))
    finally:
        dl.time = real_time
    assert fmt._commit_ts(v) >= ts2  # floor held despite the skew
    # timestamp resolution over the surviving entries is still ordered
    assert fmt.version_at_timestamp(fmt._commit_ts(v)) == v


def test_ranges_from_where_parser():
    """The conservative where→ranges parser (VERDICT r8 item 1):
    conjunctive col-op-literal terms become pruning ranges; anything
    uncertain contributes nothing (correctness never depends on it)."""
    from cdc_init_spark.sources.delta_log import _ranges_from_where as rw

    assert rw(None) == {}
    assert rw("user_id = 42") == {"user_id": (42, 42)}
    assert rw("id >= 5 AND id < 9") == {"id": (5, 9)}
    assert rw("a = 1 and b = 'x'") == {"a": (1, 1), "b": ("x", "x")}
    assert rw("ts between '2020-01' and '2020-06'") == {
        "ts": ("2020-01", "2020-06")
    }
    assert rw("k IN (7, 3, 11)") == {"k": (3, 11)}
    assert rw("v > 1.5 AND k in (2,4) AND s = 'q'") == {
        "v": (1.5, None), "k": (2, 4), "s": ("q", "q")
    }
    # uncertainty → no ranges (or only the certain part), never wrong
    assert rw("a = 1 OR b = 2") == {}
    assert rw("NOT (a = 1)") == {}
    assert rw("v % 2 = 1") == {}          # arithmetic on the column
    assert rw("a = b") == {}              # column-to-column
    assert rw("upper(s) = 'A' AND a = 1") == {}  # parens stop the split
    assert rw("k in (1,2) AND upper(s) = 'A'") == {"k": (1, 2)}  # IN kept
    assert rw("a = 1 AND a = 3") == {"a": (3, 1)}  # intersect (empty)
    assert rw("s is null") == {}


def test_where_only_dml_prunes_files(spark, tmp_path):
    """A where-only DELETE/UPDATE (no declared predicate ranges — the
    GDPR ``DELETE WHERE user_id = X`` shape) must NOT read every active
    file: ranges derived from the where's conjunctive terms drive the
    same stats prune declared predicates do (VERDICT r8 item 1, the one
    remaining full-scan-shaped path). candidates ≪ active, results
    exact."""
    fmt = DeltaLogFormat(str(tmp_path / "t"))
    frames = [
        spark.createDataFrame(
            [(i, float(i), f"s{i % 3}") for i in range(lo, lo + 10)],
            "id long, v double, s string",
        ).coalesce(1)
        for lo in range(0, 100, 10)
    ]
    fmt.init({"d": frames[0]})
    for fr in frames[1:]:
        fmt.append("d", fr)
    assert len(fmt._snapshot().adds["d"]) == 10

    # where-only equality: exactly one file holds id 42
    v = fmt.delete(spark, "d", {}, where="id = 42")
    st = fmt.last_rewrite_stats
    assert st["active"] == 10 and st["candidates"] == 1
    assert st["touched"] == 1 and st["derived_prune_cols"] == ["id"]
    assert v > 0
    assert 42 not in {r.id for r in fmt.read(spark, "d").collect()}

    # where-only conjunction with a residual term the parser skips:
    # pruning rides the id range, exactness rides the residual
    fmt.update(spark, "d", {"v": "v + 100"}, {},
               where="id BETWEEN 20 AND 29 AND s = 's1'")
    st = fmt.last_rewrite_stats
    assert st["candidates"] == 1 and st["derived_prune_cols"] == ["id", "s"]
    got = {r.id: r.v for r in fmt.read(spark, "d").collect()}
    for i in range(100):
        if i == 42:
            continue
        want = float(i) + (100 if 20 <= i <= 29 and i % 3 == 1 else 0)
        assert got[i] == want

    # an OR keeps every candidate (no unsound pruning) and stays exact
    fmt.delete(spark, "d", {}, where="id = 3 OR id = 93")
    st = fmt.last_rewrite_stats
    assert st["candidates"] == 10 and st["derived_prune_cols"] == []
    left = {r.id for r in fmt.read(spark, "d").collect()}
    assert 3 not in left and 93 not in left and 4 in left


def test_auto_compaction_bounds_files_and_dvs(spark, tmp_path):
    """Auto-compaction policy (VERDICT r8 item 4): with
    auto_compact_files / auto_compact_dvs set, a 24/7 ingest loop keeps
    its own house — N small appends and M MoR merges leave the table
    with BOUNDED active-file and live-dv counts, reads identical to the
    unmaintained twin, and a CDF subscription streams through the
    maintenance commits untouched (compact is a logical no-op)."""
    ch = "id long, ts timestamp, type string, v double"
    managed = DeltaLogFormat(
        str(tmp_path / "m"), auto_compact_files=4, auto_compact_dvs=2,
        auto_compact_target_files=2,
    )
    plain = DeltaLogFormat(str(tmp_path / "p"))
    seed = spark.createDataFrame([(0, 0.0)], "id long, v double")
    managed.init({"d": seed})
    plain.init({"d": seed})
    for i in range(1, 13):  # 12 one-file appends
        row = spark.createDataFrame([(i, float(i))], "id long, v double")
        managed.append("d", row)
        plain.append("d", row)
    for j in range(3):  # 3 MoR merges, each leaves a live dv
        upd = spark.createDataFrame(
            [(j, _ts(j), "update", j * 100.0)], ch)
        managed.merge(spark, "d", upd, ["id"], batch_id=100 + j,
                      strategy="mor")
        plain.merge(spark, "d", upd, ["id"], batch_id=100 + j,
                    strategy="mor")
    snap_m, snap_p = managed._snapshot(), plain._snapshot()
    assert len(snap_p.adds["d"]) > 10  # the unmaintained tail really grew
    assert len(snap_m.adds["d"]) <= 4 + 1   # bounded: threshold + 1 commit
    assert len(snap_m.dvs.get("d", {})) <= 2
    assert len(snap_p.dvs.get("d", {})) == 3
    assert managed.auto_compactions  # it actually fired
    assert {t for t, _ in managed.auto_compactions} == {"d"}
    assert _rows(managed.read(spark, "d")) == _rows(plain.read(spark, "d"))

    # predicate DML also participates in the policy loop
    many = DeltaLogFormat(str(tmp_path / "q"), auto_compact_files=3)
    many.init({"d": seed})
    for i in range(1, 8):
        many.append("d", spark.createDataFrame(
            [(i, float(i))], "id long, v double"))
    many.delete(spark, "d", {"id": (2, 2)})
    assert len(many._snapshot().adds["d"]) <= 4
    assert {r.id for r in many.read(spark, "d").collect()} == (
        set(range(8)) - {2})


def test_transaction_multi_table_atomic_commit(spark, tmp_path):
    """Multi-table transaction (VERDICT r8 item 5): a keyed merge on
    one table and an overwrite of another land in ONE log version —
    reads at every version see both changes or neither; the merge arm
    keeps its O(touched) copy-on-write shape (untouched inodes intact);
    a replayed batch_id is a committed no-op; staging the same table
    twice or committing twice raises."""
    fmt = DeltaLogFormat(str(tmp_path / "t"))

    def chunk(lo, hi):
        return spark.createDataFrame(
            [(i, float(i)) for i in range(lo, hi)], "id long, v double"
        ).coalesce(1)

    fmt.init({"base": chunk(0, 10)})
    fmt.append("base", chunk(10, 20))
    fmt.overwrite_version = fmt.latest_version()
    agg0 = spark.createDataFrame([("all", 190.0)], "g string, s double")
    fmt.transaction(spark).overwrite("agg", agg0).commit(batch_id=0)
    inodes = _data_inodes(fmt, "base")

    txn = fmt.transaction(spark)
    txn.merge("base", spark.createDataFrame(
        [(3, _ts(1), "update", 300.0)],
        "id long, ts timestamp, type string, v double"), ["id"])
    txn.overwrite("agg", spark.createDataFrame(
        [("all", 487.0)], "g string, s double"))
    v = txn.commit(batch_id=1)
    assert v == fmt.latest_version()
    # one version carries BOTH tables' changes
    assert {r.v for r in fmt.read(spark, "base").collect()
            if r.id == 3} == {300.0}
    assert _rows(fmt.read(spark, "agg")) == [("all", 487.0)]
    # ...and the PRIOR version carries neither
    assert {r.v for r in fmt.read(spark, "base", version=v - 1).collect()
            if r.id == 3} == {3.0}
    assert _rows(fmt.read(spark, "agg", version=v - 1)) == [("all", 190.0)]
    # merge arm stayed copy-on-write: the untouched base file survives
    after = _data_inodes(fmt, "base")
    kept = set(inodes) & set(after)
    assert kept and all(inodes[p] == after[p] for p in kept)

    # replayed batch: no new version, staged files abandoned (no orphans)
    pre = fmt.latest_version()
    txn2 = fmt.transaction(spark)
    txn2.overwrite("agg", spark.createDataFrame(
        [("all", 0.0)], "g string, s double"))
    assert txn2.commit(batch_id=1) == -1
    assert fmt.latest_version() == pre
    assert fmt.vacuum(horizon=0, retention_s=0.0) == []
    assert _rows(fmt.read(spark, "agg")) == [("all", 487.0)]

    # guards
    txn3 = fmt.transaction(spark)
    txn3.overwrite("agg", agg0)
    with pytest.raises(ValueError, match="already staged"):
        txn3.overwrite("agg", agg0)
    txn3.commit()
    with pytest.raises(RuntimeError, match="already committed"):
        txn3.commit()
    with pytest.raises(ValueError, match="empty transaction"):
        fmt.transaction(spark).commit()


def test_transaction_crash_and_conflict_never_tear(spark, tmp_path):
    """Atomicity under crash and race: a crash AFTER staging but BEFORE
    the single log link leaves both tables untouched (staged files are
    invisible orphans, collected by vacuum); a concurrent commit that
    changes a staged table's read set raises CommitConflictError and
    abandons every staged file — in neither case can a reader observe
    one table's update without the other's."""
    root = str(tmp_path / "t")
    fmt = DeltaLogFormat(root)
    fmt.init({"base": spark.createDataFrame(
        [(i, float(i)) for i in range(10)], "id long, v double")})
    fmt.transaction(spark).overwrite(
        "agg", spark.createDataFrame([("all", 45.0)], "g string, s double")
    ).commit()
    ch = "id long, ts timestamp, type string, v double"

    # crash injection: the commit primitive never runs
    txn = fmt.transaction(spark)
    txn.merge("base", spark.createDataFrame(
        [(1, _ts(1), "update", 100.0)], ch), ["id"])
    txn.overwrite("agg", spark.createDataFrame(
        [("all", 144.0)], "g string, s double"))
    pre = fmt.latest_version()
    # the process dies here — simulated by simply dropping the txn
    assert fmt.latest_version() == pre
    assert {r.v for r in fmt.read(spark, "base").collect()
            if r.id == 1} == {1.0}
    assert _rows(fmt.read(spark, "agg")) == [("all", 45.0)]
    orphans = fmt.vacuum(horizon=0, retention_s=0.0)
    assert orphans  # the staged-and-never-committed files were collected

    # conflict: a racing writer changes base between staging and commit
    txn = fmt.transaction(spark)
    txn.merge("base", spark.createDataFrame(
        [(2, _ts(1), "update", 200.0)], ch), ["id"])
    txn.overwrite("agg", spark.createDataFrame(
        [("all", 243.0)], "g string, s double"))
    DeltaLogFormat(root).append("base", spark.createDataFrame(
        [(99, 99.0)], "id long, v double"))
    with pytest.raises(CommitConflictError, match="re-run the transaction"):
        txn.commit()
    assert {r.v for r in fmt.read(spark, "base").collect()
            if r.id == 2} == {2.0}
    assert _rows(fmt.read(spark, "agg")) == [("all", 45.0)]
    # conflict abandons staged files eagerly: nothing left to vacuum
    assert fmt.vacuum(horizon=0, retention_s=0.0) == []

    # a racing commit on an UNRELATED table retries in place and lands
    txn = fmt.transaction(spark)
    txn.overwrite("agg", spark.createDataFrame(
        [("all", 343.0)], "g string, s double"))
    DeltaLogFormat(root).append("base", spark.createDataFrame(
        [(100, 100.0)], "id long, v double"))
    v = txn.commit()
    assert v == fmt.latest_version()
    assert _rows(fmt.read(spark, "agg")) == [("all", 343.0)]


def test_continuous_agg_view_never_sees_base_ahead_of_agg(spark, tmp_path):
    """The maintained-view invariant q206's sink relies on: at EVERY
    committed version of the view root, agg ≡ groupBy-recompute(base) —
    i.e. base and agg move in lockstep because each micro-batch lands
    as one transaction (merge base + overwrite agg in one version), and
    the base merges are O(touched), not full rewrites."""
    from cdc_init_spark.streaming.apply import (
        continuous_agg_step,
        init_continuous_agg,
    )

    fmt = DeltaLogFormat(str(tmp_path / "view"))
    base0 = spark.createDataFrame(
        [(i, i % 3, float(i)) for i in range(30)],
        "id long, g int, val double")
    init_continuous_agg(base0, fmt)
    step = continuous_agg_step(
        spark, fmt, ["id"], ["g"], "val", order_col="ts")
    ch = "id long, ts timestamp, type string, g int, val double"
    step(spark.createDataFrame(
        [(1, _ts(1), "update", 1, 100.0), (2, _ts(1), "delete", None, None)],
        ch), 1)
    step(spark.createDataFrame(
        [(4, _ts(2), "update", 1, 400.0)], ch), 2)
    # the transaction path really was taken: merges, not base overwrites
    ops = [h["operation"] for h in fmt.history()]
    assert any(op and op.startswith("txn[merge(base)") for op in ops)
    for v in range(1, fmt.latest_version() + 1):
        if not fmt.has_table("agg", version=v):
            continue
        base_v = fmt.read(spark, "base", version=v)
        agg_v = fmt.read(spark, "agg", version=v)
        recomputed = base_v.groupBy("g").agg(
            F.sum("val").alias("sum_value"),
            F.count(F.lit(1)).alias("n_rows"))
        assert _rows(agg_v) == _rows(recomputed), f"torn view at v{v}"
