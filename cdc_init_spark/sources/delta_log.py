"""DeltaLogFormat — a log-structured, Delta-protocol-shaped ACID table
format (VERDICT r5 "What's missing" item 2 made real).

The engine's one TableFormat (table_format.py). A format that COPIES
every table per version costs O(table) per commit, which is exactly
what dies at 100 TB (a 100 TB base snapshot cannot be rewritten every
micro-batch). This module implements the contract the way production
lakehouse formats do (the public Delta Lake protocol spec, delta.io
PROTOCOL.md; Iceberg's spec is the same shape):

- **Immutable data files + an action log.** Data parquet files are
  written once and never mutated; each commit is one atomically-created
  log entry ``_log/{version:020d}.json`` holding ndjson actions
  (``add`` / ``remove`` file references, ``txn`` batch-id watermarks,
  ``metaData`` schemas). Table state at version v = replay of actions
  0..v. A commit therefore costs O(delta), not O(table): ``append``
  writes only the new rows' files; ``merge`` rewrites only the files
  that contain matched keys (copy-on-write).
- **Optimistic concurrency.** The commit primitive is put-if-absent on
  the next version's log file (``os.link`` — atomic, fails with EEXIST
  if another writer won). Losers re-read the log, re-check conflicts,
  and retry at the next version. Multiple writers can append
  concurrently with zero coordination beyond the filesystem — the same
  guarantee Delta gets from atomic-rename/put-if-absent on the object
  store. Every staged DML write (merge, delete/update, multi-table
  transaction) lands through one commit-and-retry helper
  (``_commit_staged``), so the exactly-once argument rests on one
  function.
- **Checkpoints.** Every ``checkpoint_interval`` commits, the replayed
  state is written as ``_log/{v:020d}.checkpoint.parquet`` (columnar —
  at millions of files the checkpoint is scanned, not parsed) plus a
  ``_last_checkpoint`` pointer; readers start from the newest checkpoint
  ≤ the target version and replay only the JSON tail. Log replay cost is
  bounded regardless of table age, and log entries at or below a
  checkpoint can be archived.
- **File statistics + skipping.** Each ``add`` carries per-column
  min/max/null-count harvested from the parquet footer (metadata-only
  read, no data IO). ``read_where`` prunes files whose [min,max] cannot
  satisfy a range predicate BEFORE Spark ever lists them — the
  format-level partition pruning that row-group pushdown alone cannot
  give (it still opens every footer; file skipping never touches the
  file).
- **Time travel + vacuum.** Every version stays readable until
  ``vacuum(horizon)`` deletes data files unreferenced by versions ≥
  horizon (orphans from crashed writers included — a writer that died
  after writing data but before its log link left garbage, not a
  half-commit). ``read`` travels by version OR by timestamp (in-commit
  timestamps, monotone under clock skew); ``restore`` re-references any
  un-vacuumed version in one metadata commit, dropping tables the
  target didn't have.
- **Merge-on-read + maintenance verbs.** ``merge(strategy="mor")``
  writes deletion vectors instead of rewriting files (O(change set)
  commits; ``compact`` reconciles); ``merge(evolve_schema=True)`` widens
  the schema additively in the merge commit; ``add_constraint`` /
  ``drop_constraint`` enforce CHECK expressions inside every write
  pass; ``delete``/``update`` are predicate DML — stats prune, exact
  touch set, rewrite of only the files holding a match, optional
  keyed CDF capture; ``clone`` forks a table zero-copy via hard links (vacuum-safe
  shallow clone); ``compact(zorder_by=...)`` restores multi-column
  skipping; ``enable_cdf`` captures per-commit change data that
  ``changes_between`` and the streaming source (sources/delta_cdf.py)
  read back O(delta).
- **Column-mapping schema evolution (r9).** Logical column names map to
  STABLE physical field names recorded in ``metaData`` (the Delta
  ``columnMapping.mode=name`` / Iceberg field-ID shape):
  ``rename_column`` and ``drop_column`` are metadata-only commits —
  zero bytes move, every data/dv/cdc file and partition directory is
  physical-named and therefore rename-proof, each version time-travels
  under its own mapping, and stats pruning / merge planning /
  where-derived DML pruning translate predicates logical→physical. A
  dropped column's physical name is RETIRED and never reused: re-adding
  the logical name mints a fresh physical name, so the old bytes cannot
  resurrect. ``widen_column_type`` promotes int-chain→bigint /
  float→double / sub-int→double, also metadata-only — the Spark 4
  parquet reader reads narrow pages natively under the wide schema;
  lossy promotions are refused.

The TableFormat contract (atomic visibility, batch-id replay
idempotence, monotonic versions) is pinned by tests/test_apply.py, and
the continuous-aggregate pipeline (streaming/apply.py) writes through
this format: a path given there opens a DeltaLogFormat.

Reference parity note: the reference stores state in compacted Kafka
topics (components/topic_store.clj:13-16, one consumer per topic); this
module is the lakehouse-side equivalent its downstream consumers would
apply changes into, with the same effectively-once replay law keyed on
the batch id (seed_store.clj's idempotent seed semantics).
"""

from __future__ import annotations

import json
import os
import re
import shutil
import time
import uuid
from urllib.parse import unquote, urlparse

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType

from cdc_init_spark.sources.commit_store import (
    CommitStore,
    LocalCommitStore,
    fsync_dir,
)
from cdc_init_spark.sources.table_format import TableFormat

#: Delta parity: files younger than this are never vacuumed by default —
#: they may belong to an in-flight writer that has written data but not
#: yet won its log commit (indistinguishable from crashed-writer orphans
#: by any snapshot; only age separates them). Tests that simulate crashed
#: writers pass retention_s=0.0 explicitly.
DEFAULT_VACUUM_RETENTION_S = 7 * 24 * 3600.0


class CommitConflictError(RuntimeError):
    """A concurrent commit invalidated this transaction's read set (e.g.
    a merge planned against files another writer removed). The caller
    re-runs the operation against the new snapshot — the standard
    optimistic-concurrency surface Delta raises as
    ConcurrentModificationException."""


def _json_safe(v):
    """Parquet footer statistics → JSON-storable scalar."""
    if v is None or isinstance(v, (int, float, str, bool)):
        return v
    if isinstance(v, bytes):
        try:
            return v.decode("utf-8")
        except UnicodeDecodeError:
            return v.hex()
    return str(v)  # dates/timestamps/decimals: ordered string forms


def _file_stats(path: str) -> dict:
    """Per-column min/max/null-count from the parquet footer — a
    metadata-only read (never touches data pages)."""
    import pyarrow.parquet as pq

    md = pq.ParquetFile(path).metadata
    mins: dict = {}
    maxs: dict = {}
    nulls: dict = {}
    rows = md.num_rows
    for rg in range(md.num_row_groups):
        g = md.row_group(rg)
        for ci in range(g.num_columns):
            col = g.column(ci)
            name = col.path_in_schema
            st = col.statistics
            if st is None:
                continue
            if st.has_min_max:
                lo, hi = _json_safe(st.min), _json_safe(st.max)
                if name not in mins or (lo is not None and lo < mins[name]):
                    mins[name] = lo
                if name not in maxs or (hi is not None and hi > maxs[name]):
                    maxs[name] = hi
            if st.null_count is not None:
                nulls[name] = nulls.get(name, 0) + st.null_count
    return {"rows": rows, "min": mins, "max": maxs, "nulls": nulls}


#: dtypes whose change-key summaries may carry MULTIPLE ranges (gap
#: width needs subtraction); everything else falls back to the single
#: global [min,max] box, which is always a correct (if looser) cover
_GAPPABLE_DTYPES = ("tinyint", "smallint", "int", "bigint", "float", "double")


def _change_key_ranges(
    keys: DataFrame,
    pk_cols: list[str],
    dtypes: dict[str, str],
    max_ranges: int,
    bounds: dict[str, tuple] | None = None,
) -> dict[str, list[tuple]]:
    """Bounded superset cover of a merge's change keys, per pk column:
    up to ``max_ranges`` [lo, hi] ranges obtained by sorting the distinct
    keys and cutting at the ``max_ranges - 1`` widest gaps (VERDICT r7
    item 1). A single outlier key no longer inflates the cover to the
    whole key space — the two-distant-keys change set that previously
    forced reading every active file prunes to the files actually
    holding those keys.

    Why a range cover and not a Bloom filter of the change keys: file
    stats are [min,max] boxes, and a Bloom answers point membership —
    testing a box against a Bloom would require enumerating the box's
    values (unbounded for floats/strings). Ranges intersect boxes
    directly, prune exactly as well for clustered-or-outlier key
    distributions, and cost one sorted pass instead of per-key hashing.

    Computed distributedly: one min/max aggregate + one lag-window over
    the distinct keys collecting only the (max_ranges - 1) widest-gap
    cut rows. The window is a single-partition sort of the DISTINCT
    change keys — change-set-sized, not table-sized; callers gate this
    path on the key count. Non-numeric columns (strings, timestamps in
    their JSON-stats form) keep the global [min,max] box: gap width is
    undefined there, and the box is always a correct cover.

    Returns {col: [(lo, hi), ...]} sorted ascending; a column with no
    non-null keys maps to [] (no file can match — equi-joins never match
    NULL keys).

    ``bounds`` — optional precomputed {col: (lo, hi)} global bounds. The
    merge path computes them together with the distinct-key COUNT in one
    aggregate action (guide §1.2: fewer driver-synchronized jobs), so
    passing them here skips this function's own bounds aggregate."""
    from pyspark.sql.window import Window

    if bounds is None:
        g = keys.agg(
            *[F.min(c).alias(f"_lo_{c}") for c in pk_cols],
            *[F.max(c).alias(f"_hi_{c}") for c in pk_cols],
        ).collect()[0]
        bounds = {c: (g[f"_lo_{c}"], g[f"_hi_{c}"]) for c in pk_cols}
    out: dict[str, list[tuple]] = {}
    for c in pk_cols:
        lo, hi = bounds[c]
        if lo is None:
            out[c] = []
            continue
        ranges = [(lo, hi)]
        dt = dtypes.get(c, "")
        if (
            max_ranges > 1
            and lo != hi
            and (dt in _GAPPABLE_DTYPES or dt.startswith("decimal"))
        ):
            w = Window.orderBy("_k")
            cuts = (
                keys.select(F.col(c).alias("_k"))
                .distinct()
                .select("_k", F.lag("_k").over(w).alias("_prev"))
                .filter(F.col("_prev").isNotNull())
                .select("_prev", "_k", (F.col("_k") - F.col("_prev")).alias("_gap"))
                .orderBy(F.desc("_gap"))
                .limit(max_ranges - 1)
                .collect()
            )
            bounds = sorted((r["_prev"], r["_k"]) for r in cuts)
            ranges = []
            cur_lo = lo
            for prev, nxt in bounds:
                ranges.append((cur_lo, prev))
                cur_lo = nxt
            ranges.append((cur_lo, hi))
        out[c] = ranges
    return out


#: merge planning: when the free global-box cover already prunes the
#: candidate set to at most this many files, the widest-gap range-cover
#: window job is skipped — its only purpose is cutting probe IO across
#: MANY candidate files, and probing a handful costs less than the job
_GAP_COVER_SKIP_FILES = 8

#: sentinel for "token is not a literal this parser understands" —
#: distinct from None, which _ranges_from_where uses for open range ends
_NO_LIT = object()

_WHERE_CMP_RE = re.compile(
    r"^\s*`?([A-Za-z_]\w*)`?\s*(>=|<=|==|=|>|<)\s*(.+?)\s*$"
)
_WHERE_BETWEEN_RE = re.compile(
    r"`?([A-Za-z_]\w*)`?\s+between\s+(\S+)\s+and\s+(\S+)", re.IGNORECASE
)
_WHERE_IN_RE = re.compile(
    r"`?([A-Za-z_]\w*)`?\s+in\s+\(([^()]*)\)", re.IGNORECASE
)


def _parse_where_literal(tok: str):
    """A bare SQL literal → its Python value (int, float, or
    single-quoted string), or the _NO_LIT sentinel for anything this
    conservative parser does not understand (column refs, functions,
    NULL — those terms simply contribute no pruning)."""
    tok = tok.strip()
    if (
        len(tok) >= 2
        and tok[0] == "'"
        and tok[-1] == "'"
        and "'" not in tok[1:-1]
    ):
        return tok[1:-1]
    try:
        return int(tok)
    except ValueError:
        pass
    try:
        return float(tok)
    except ValueError:
        return _NO_LIT


def _ranges_from_where(where: str | None) -> dict[str, tuple]:
    """Derive {column: (lo, hi)} file-skip ranges from the simple
    conjunctive ``col <op> literal`` terms of a raw SQL ``where``
    string (VERDICT r8 item 1) — so the common SQL shapes (a GDPR-style
    ``DELETE WHERE user_id = X``, ``ts BETWEEN a AND b``,
    ``k IN (...)``) prune files even when the caller declared no
    explicit ``predicates``. The reference's clear-queue verb
    (sql/queue/clear_queue.sql:1-3) generalized: predicate DML must not
    read the whole table to delete a key's rows.

    Strictly CONSERVATIVE: every returned range is a NECESSARY condition
    of the where (a term of its top-level AND), so pruning a file whose
    stats cannot intersect it can never drop a matching row. Anything
    the parser is unsure about contributes nothing:

    - an OR / NOT anywhere → no derived ranges at all (terms are no
      longer individually necessary);
    - BETWEEN and IN(...) lists of bare literals are extracted first;
      any OTHER parenthesized text (function calls) stops the AND split;
    - a term that isn't ``col <op> literal`` (arithmetic, column-to-
      column, NULL checks) is ignored;
    - strict < / > keep the closed-range cover (a superset — correct
      for pruning, exactness comes from the residual row filter).

    Multiple terms on one column intersect. The caller intersects the
    result with any DECLARED predicate ranges; the row condition itself
    is untouched (derived ranges are pruning-only, so even a missed
    term costs only read amplification, never correctness)."""
    if not where:
        return {}
    if re.search(r"\bor\b|\bnot\b", where, re.IGNORECASE):
        return {}
    out: dict[str, tuple] = {}

    def tighten(col: str, lo, hi) -> None:
        plo, phi = out.get(col, (None, None))
        try:
            if lo is not None:
                plo = lo if plo is None else max(plo, lo)
            if hi is not None:
                phi = hi if phi is None else min(phi, hi)
        except TypeError:
            return  # mixed-type terms on one column: keep the prior range
        out[col] = (plo, phi)

    s = where
    for m in _WHERE_BETWEEN_RE.finditer(s):
        lo = _parse_where_literal(m.group(2))
        hi = _parse_where_literal(m.group(3))
        if lo is not _NO_LIT and hi is not _NO_LIT:
            tighten(m.group(1), lo, hi)
    s = _WHERE_BETWEEN_RE.sub(" 1=1 ", s)
    for m in _WHERE_IN_RE.finditer(s):
        lits = [
            _parse_where_literal(t)
            for t in m.group(2).split(",")
            if t.strip()
        ]
        if lits and all(v is not _NO_LIT for v in lits):
            try:
                tighten(m.group(1), min(lits), max(lits))
            except TypeError:
                pass
    s = _WHERE_IN_RE.sub(" 1=1 ", s)
    if "(" in s or ")" in s:
        return out  # leftover parens: don't risk splitting inside them
    for term in re.split(r"\band\b", s, flags=re.IGNORECASE):
        m = _WHERE_CMP_RE.match(term)
        if m is None:
            continue
        col, op = m.group(1), m.group(2)
        lit = _parse_where_literal(m.group(3))
        if lit is _NO_LIT:
            continue
        if op in ("=", "=="):
            tighten(col, lit, lit)
        elif op in (">", ">="):
            tighten(col, lit, None)
        else:
            tighten(col, None, lit)
    return out


def _uri_to_local(uri: str) -> str:
    """input_file_name() yields PERCENT-ENCODED file: URIs (a partition
    dir ``region=a b`` comes back as ``region=a%20b``); decode the URI
    path before relativizing or a remove would reference a path the log
    never added (ADVICE r6, delta_log.py:668)."""
    parsed = urlparse(uri)
    return unquote(parsed.path) if parsed.scheme else uri


def _file_intersects_ranges(stats: dict, ranges: dict[str, list[tuple]]) -> bool:
    """Conservative per-file test — the one file-skipping kernel of
    merge planning, predicate DML and ``read_where_all``: keep the file
    unless SOME column's range cover is provably disjoint from the
    file's footer [min,max]. A range end of None is open. Missing stats
    or incomparable forms → keep (the exact probe or residual filter
    decides)."""
    for c, cover in ranges.items():
        if not cover:
            return False  # no non-null change keys for this pk column
        fmin = (stats.get("min") or {}).get(c)
        fmax = (stats.get("max") or {}).get(c)
        if fmin is None or fmax is None:
            continue
        hit = False
        for klo, khi in cover:
            try:
                if not (
                    (klo is not None and fmax < klo)
                    or (khi is not None and fmin > khi)
                ):
                    hit = True
                    break
            except TypeError:
                hit = True  # incomparable stats form → cannot prune
                break
        if not hit:
            return False
    return True


class _Snapshot:
    """Replayed log state: active files per table, schemas, partition
    specs, the batch-id watermark, deletion vectors (merge-on-read),
    and the version it represents."""

    __slots__ = (
        "version",
        "adds",
        "schemas",
        "partition_cols",
        "last_batch_id",
        "dvs",
        "constraints",
        "mappings",
        "retired",
    )

    def __init__(self):
        self.version = -1
        self.adds: dict[str, dict[str, dict]] = {}  # table -> path -> add
        self.schemas: dict[str, str] = {}  # table -> Spark schema json
        self.partition_cols: dict[str, list[str]] = {}
        self.last_batch_id = -1
        #: column mapping (the Delta/Iceberg name-mapping shape, VERDICT
        #: r8 item 2): table -> {logical name -> PHYSICAL name}. Physical
        #: names are fixed at a column's first write and never change;
        #: RENAME moves only the logical name, so every already-written
        #: file stays readable under the version's own mapping. Only
        #: non-identity entries are stored — a column absent from the
        #: mapping is physical == logical (every pre-mapping table).
        self.mappings: dict[str, dict[str, str]] = {}
        #: physical names of DROPPED columns: table -> sorted list. A
        #: logical re-add of the same name must mint a FRESH physical
        #: name or the old files' bytes would resurrect under it.
        self.retired: dict[str, list[str]] = {}
        #: merge-on-read deletion vectors: table -> dv path -> {"cols":
        #: key column names, "applies_to": set of DATA paths the delete
        #: keys still apply to}. A dv suppresses its keys' rows in
        #: exactly the files it names (the merge's touched set at plan
        #: time — never files added later). Removing a data file prunes
        #: it from every dv; a dv whose applies_to empties is dead.
        self.dvs: dict[str, dict[str, dict]] = {}
        #: CHECK constraints: table -> name -> SQL boolean expression.
        #: Enforced on every data write (NULL passes, SQL semantics);
        #: added only after the existing rows are verified to satisfy it.
        self.constraints: dict[str, dict[str, str]] = {}

    def apply(self, action: dict) -> None:
        if "add" in action:
            a = action["add"]
            self.adds.setdefault(a["table"], {})[a["path"]] = a
        elif "remove" in action:
            r = action["remove"]
            active = self.adds.get(r["table"], {})
            if r["path"] not in active:
                # A remove must retire a file that is active at this
                # point of the replay — anything else means the writer
                # committed against a path form the log never added
                # (e.g. an un-decoded URI) and the table would silently
                # keep BOTH the stale file and its rewrite (duplicates).
                # Fail loudly instead (ADVICE r6, delta_log.py:141).
                raise ValueError(
                    f"corrupt log: remove references inactive path "
                    f"{r['path']!r} of table {r['table']!r}"
                )
            del active[r["path"]]
            # a retired file's rows are gone; any dv rows targeting it
            # are materialized/dead for that file
            tdvs = self.dvs.get(r["table"], {})
            for dv_path in list(tdvs):
                tdvs[dv_path]["applies_to"].discard(r["path"])
                if not tdvs[dv_path]["applies_to"]:
                    del tdvs[dv_path]
        elif "dv" in action:
            d = action["dv"]
            if d["applies_to"]:  # a dv targeting nothing is dead on arrival
                self.dvs.setdefault(d["table"], {})[d["path"]] = {
                    "cols": list(d["cols"]),
                    "applies_to": set(d["applies_to"]),
                }
        elif "txn" in action:
            self.last_batch_id = max(
                self.last_batch_id, action["txn"]["batch_id"]
            )
        elif "metaData" in action:
            m = action["metaData"]
            self.schemas[m["table"]] = m["schema_json"]
            self.partition_cols[m["table"]] = m.get("partition_cols", [])
            self.mappings[m["table"]] = dict(m.get("column_mapping") or {})
            self.retired[m["table"]] = list(m.get("retired_physical") or [])
        elif "constraint" in action:
            c = action["constraint"]
            self.constraints.setdefault(c["table"], {})[c["name"]] = c["expr"]
        elif "unconstraint" in action:
            u = action["unconstraint"]
            self.constraints.get(u["table"], {}).pop(u["name"], None)
        elif "dropTable" in action:
            # emitted by restore() for tables the target version didn't
            # have: without it, restoring below a table's creation would
            # leave a ghost (schema with zero files) that reads as empty
            # instead of not existing
            t = action["dropTable"]["table"]
            for store in (self.adds, self.schemas, self.partition_cols,
                          self.dvs, self.constraints, self.mappings,
                          self.retired):
                store.pop(t, None)


class DeltaLogFormat(TableFormat):
    """Log-structured TableFormat: ``{root}/_log`` action log +
    ``{root}/_data/{table}`` immutable parquet files. Safe for
    concurrent writers (append/commit retry on version collisions);
    single process or any filesystem where ``os.link`` is atomic."""

    def __init__(
        self,
        root: str,
        checkpoint_interval: int = 10,
        commit_store: CommitStore | None = None,
        enable_cdf: bool = False,
        merge_broadcast_key_limit: int = 1_000_000,
        merge_key_ranges: int = 32,
        merge_range_summary_key_limit: int = 5_000_000,
        auto_compact_files: int | None = None,
        auto_compact_dvs: int | None = None,
        auto_compact_target_files: int = 1,
    ) -> None:
        self.root = root
        self.log_dir = os.path.join(root, "_log")
        self.data_dir = os.path.join(root, "_data")
        self.cdc_dir = os.path.join(root, "_cdc")
        self.dv_dir = os.path.join(root, "_dv")
        self.checkpoint_interval = checkpoint_interval
        #: change-data feed: when True, merge() also persists the exact
        #: keyed DML set of each commit as parquet under _cdc/{table},
        #: referenced by `cdc` actions in the log — the data the
        #: streaming change-feed source (sources/delta_cdf.py) tails.
        #: Appends/init need no extra files (their adds ARE the inserts).
        #: OVERWRITES capture change data only when commit() is passed
        #: ``cdc_pk_cols`` for the table — without it an overwrite of an
        #: existing table is not row-expressible and a live subscription
        #: fails loudly at that version (skippable only by explicit
        #: onNonCdf=skip). See commit()'s docstring (ADVICE r7).
        self.enable_cdf = enable_cdf
        #: the put-if-absent primitive every commit decision rides on;
        #: bind an object-store implementation here for S3/GCS/Azure
        #: (conditional-put mapping documented in sources/commit_store.py)
        self.commit_store = commit_store or LocalCommitStore()
        #: merge planning knobs (VERDICT r7 items 1-2):
        #: - change-key frames with at most ``merge_broadcast_key_limit``
        #:   distinct keys are broadcast into the exact-touch semi-join
        #:   (the autoBroadcastJoinThreshold shape, counted in keys
        #:   because the format knows key widths are small); above it
        #:   the join falls back to a shuffled hash join — a
        #:   backfill-scale merge (10^8 keys) must not exceed driver/
        #:   executor broadcast limits
        #: - candidate files are pruned against up to
        #:   ``merge_key_ranges`` change-key ranges per pk column
        #:   (sorted-key widest-gap cuts) instead of one global box,
        #:   provided the distinct-key count stays at or below
        #:   ``merge_range_summary_key_limit`` (the summary sorts the
        #:   distinct keys in one partition; beyond the limit the global
        #:   box — always a correct cover — is used)
        self.merge_broadcast_key_limit = merge_broadcast_key_limit
        self.merge_key_ranges = merge_key_ranges
        self.merge_range_summary_key_limit = merge_range_summary_key_limit
        #: planning counters from the last merge() on this instance —
        #: {"active", "candidates", "touched"} file counts plus
        #: {"n_change_keys", "key_join", "key_ranges"}; the O(delta)
        #: contract is touched ≪ active for selective change sets,
        #: asserted by the proportionality pytest
        self.last_merge_stats: dict | None = None
        #: planning counters from the last delete()/update() on this
        #: instance — {"op", "active", "candidates", "touched"}; the
        #: proportionality contract is touched ≪ active for selective
        #: predicates, same as merge
        self.last_rewrite_stats: dict | None = None
        #: final physical plan of the last merge's exact-touch semi-join
        #: (driver-side string) — lets tests assert the broadcast gate
        #: actually switched join strategies
        self._last_key_join_plan: str | None = None
        #: which path served the last changes_between call:
        #: "cdc-files" (O(delta) stored change data) or "diff" (exact
        #: one-join snapshot diff)
        self.last_changes_path: str | None = None
        #: auto-compaction policy (VERDICT r8 item 4): a 24/7 CDC apply
        #: loop accumulates small files (streaming-ingest tail) and live
        #: deletion vectors (MoR merges) until an operator runs
        #: compact() — these optional thresholds close the ops loop by
        #: firing compact() post-commit from the writing paths
        #: themselves. ``auto_compact_files``: compact a table once its
        #: active file count exceeds this. ``auto_compact_dvs``: compact
        #: once its LIVE deletion-vector count exceeds this (compact is
        #: the dv reconciler — q208's law). Best-effort: a lost OCC race
        #: skips this round and re-fires after the next commit, so
        #: maintenance can never fail a data write.
        self.auto_compact_files = auto_compact_files
        self.auto_compact_dvs = auto_compact_dvs
        self.auto_compact_target_files = auto_compact_target_files
        #: (table, trigger) pairs of auto-compactions fired by this
        #: instance — observability for tests and operators
        self.auto_compactions: list[tuple[str, str]] = []

    # -- log primitives ------------------------------------------------------

    def _log_path(self, version: int) -> str:
        return os.path.join(self.log_dir, f"{version:020d}.json")

    def _ckpt_path(self, version: int) -> str:
        return os.path.join(self.log_dir, f"{version:020d}.checkpoint.parquet")

    def _commit_ts(self, version: int) -> float | None:
        """The in-commit timestamp of ``version``'s log entry (its first
        line is always the commitInfo action), or None when the entry is
        gone or predates timestamps."""
        path = self._log_path(version)
        if version < 0 or not os.path.exists(path):
            return None
        with open(path) as f:
            first = f.readline()
        if not first:
            return None
        return json.loads(first).get("commitInfo", {}).get("ts")

    def _try_write_commit(self, version: int, actions: list[dict]) -> bool:
        """Put-if-absent creation of the version's log entry via the
        CommitStore seam (locally: fsync'd temp + atomic hard link;
        object stores: conditional put — see sources/commit_store.py).
        Readers can never observe a partial entry — the name appears
        fully written or not at all.

        Stamps an IN-COMMIT timestamp (the Delta inCommitTimestamp
        shape) into the commitInfo action: ``max(wall clock, previous
        version's ts)``, so the version→timestamp mapping is monotonic
        even under clock skew between writers — what timestamp-based
        time travel sorts by. OCC guarantees one writer per version, so
        reading the predecessor's ts is race-free. When the
        predecessor's JSON entry is archived behind a checkpoint, the
        monotonic floor comes from the ``_last_checkpoint`` pointer's
        persisted ts instead of bare wall clock — otherwise clock skew
        could stamp a commit BELOW archived versions' stamps, breaking
        version_at_timestamp's total order (ADVICE r8, delta_log:466)."""
        if actions and "commitInfo" in actions[0]:
            prev = self._commit_ts(version - 1)
            if prev is None and version > 0:
                prev = self._checkpoint_floor_ts()
            actions = [
                {
                    "commitInfo": {
                        **actions[0]["commitInfo"],
                        "ts": max(time.time(), prev or 0.0),
                    }
                },
                *actions[1:],
            ]
        payload = "".join(
            json.dumps(a, sort_keys=True) + "\n" for a in actions
        ).encode()
        return self.commit_store.put_if_absent(self._log_path(version), payload)

    def _checkpoint_floor_ts(self) -> float:
        """The newest checkpointed version's in-commit timestamp, as
        persisted in the ``_last_checkpoint`` pointer — the monotonic
        floor for commits whose predecessor's log entry was archived.
        0.0 when no pointer exists or it predates ts recording."""
        ptr = os.path.join(self.log_dir, "_last_checkpoint")
        if not os.path.exists(ptr):
            return 0.0
        with open(ptr) as f:
            return json.load(f).get("ts") or 0.0

    def _latest_checkpoint_leq(self, version: int | None) -> int | None:
        ptr = os.path.join(self.log_dir, "_last_checkpoint")
        if not os.path.exists(ptr):
            return None
        with open(ptr) as f:
            v = json.load(f)["version"]
        if version is not None and v > version:
            # time travel below the newest checkpoint: fall back to any
            # older checkpoint still on disk, else full replay
            cands = [
                int(name[:20])
                for name in os.listdir(self.log_dir)
                if name.endswith(".checkpoint.parquet") and int(name[:20]) <= version
            ]
            return max(cands) if cands else None
        return v

    def _snapshot(self, version: int | None = None) -> _Snapshot:
        """Replay the log up to ``version`` (latest when None), starting
        from the newest usable checkpoint."""
        snap = _Snapshot()
        start = 0
        ckpt = self._latest_checkpoint_leq(version)
        if ckpt is not None:
            self._load_checkpoint(snap, ckpt)
            start = ckpt + 1
        v = start
        while version is None or v <= version:
            path = self._log_path(v)
            if not os.path.exists(path):
                break
            with open(path) as f:
                for line in f:
                    snap.apply(json.loads(line))
            snap.version = v
            v += 1
        if version is not None and snap.version < version:
            raise ValueError(
                f"version {version} does not exist (latest {snap.version})"
            )
        return snap

    # -- checkpointing ---------------------------------------------------------

    def _maybe_checkpoint(self, version: int) -> None:
        if version % self.checkpoint_interval != 0 or version == 0:
            return
        import pyarrow as pa
        import pyarrow.parquet as pq

        snap = self._snapshot(version)
        rows = []
        for table, files in snap.adds.items():
            for p, a in files.items():
                rows.append(
                    {
                        "kind": "add",
                        "table": table,
                        "path": p,
                        "stats": json.dumps(a.get("stats"), sort_keys=True),
                        "partition_values": json.dumps(
                            a.get("partitionValues"), sort_keys=True
                        )
                        if a.get("partitionValues")
                        else None,
                    }
                )
        for table, tdvs in snap.dvs.items():
            for p, info in tdvs.items():
                rows.append(
                    {
                        "kind": "dv",
                        "table": table,
                        "path": p,
                        "dv_info": json.dumps(
                            {
                                "cols": info["cols"],
                                "applies_to": sorted(info["applies_to"]),
                            },
                            sort_keys=True,
                        ),
                    }
                )
        for table, sj in snap.schemas.items():
            row = {
                "kind": "metaData",
                "table": table,
                "schema_json": sj,
                "partition_cols": json.dumps(
                    snap.partition_cols.get(table, [])
                ),
            }
            # column-mapping state must survive log archival with the
            # rest of the table metadata
            if snap.mappings.get(table) or snap.retired.get(table):
                row["mapping_json"] = json.dumps(
                    {
                        "mapping": snap.mappings.get(table, {}),
                        "retired": sorted(snap.retired.get(table, [])),
                    },
                    sort_keys=True,
                )
            rows.append(row)
        for table, cs in snap.constraints.items():
            for cname, expr in cs.items():
                rows.append(
                    {
                        "kind": "constraint",
                        "table": table,
                        "constraint_json": json.dumps(
                            {"name": cname, "expr": expr}, sort_keys=True
                        ),
                    }
                )
        rows.append({"kind": "txn", "batch_id": snap.last_batch_id})
        cols = [
            ("kind", pa.string()),
            ("table", pa.string()),
            ("path", pa.string()),
            ("stats", pa.string()),
            ("partition_values", pa.string()),
            ("batch_id", pa.int64()),
            ("schema_json", pa.string()),
            ("partition_cols", pa.string()),
            ("dv_info", pa.string()),
            ("constraint_json", pa.string()),
            ("mapping_json", pa.string()),
        ]
        t = pa.table(
            {
                name: pa.array([r.get(name) for r in rows], typ)
                for name, typ in cols
            }
        )
        tmp = self._ckpt_path(version) + f".tmp-{uuid.uuid4().hex}"
        pq.write_table(t, tmp)
        # durability order (ADVICE r7, commit_store.py:67): the pointer
        # must never become durable before the checkpoint file it names —
        # fsync the parquet bytes + its directory entry, THEN swap the
        # pointer, THEN fsync the pointer's entry. A crash at any point
        # leaves either the old pointer (full replay, correct) or the new
        # pointer with its checkpoint guaranteed present.
        fd = os.open(tmp, os.O_RDONLY)
        try:
            os.fsync(fd)
        finally:
            os.close(fd)
        os.replace(tmp, self._ckpt_path(version))
        fsync_dir(self.log_dir)
        ptr_tmp = os.path.join(self.log_dir, f".lc-{uuid.uuid4().hex}")
        with open(ptr_tmp, "w") as f:
            # the checkpointed version's in-commit ts rides along as the
            # monotonic floor for commits made after its JSON entry (and
            # its predecessors') are archived — see _checkpoint_floor_ts
            json.dump(
                {"version": version, "ts": self._commit_ts(version)}, f
            )
            f.flush()
            os.fsync(f.fileno())
        os.replace(ptr_tmp, os.path.join(self.log_dir, "_last_checkpoint"))
        fsync_dir(self.log_dir)

    def _load_checkpoint(self, snap: _Snapshot, version: int) -> None:
        import pyarrow.parquet as pq

        t = pq.read_table(self._ckpt_path(version))
        for row in t.to_pylist():
            if row["kind"] == "add":
                a = {
                    "table": row["table"],
                    "path": row["path"],
                    "stats": json.loads(row["stats"]) if row["stats"] else None,
                }
                if row.get("partition_values"):
                    a["partitionValues"] = json.loads(row["partition_values"])
                snap.adds.setdefault(a["table"], {})[a["path"]] = a
            elif row["kind"] == "dv":
                info = json.loads(row["dv_info"])
                snap.dvs.setdefault(row["table"], {})[row["path"]] = {
                    "cols": info["cols"],
                    "applies_to": set(info["applies_to"]),
                }
            elif row["kind"] == "metaData":
                snap.schemas[row["table"]] = row["schema_json"]
                snap.partition_cols[row["table"]] = json.loads(
                    row["partition_cols"] or "[]"
                )
                # .get(): checkpoints written before column mapping
                # shipped have no such column
                if row.get("mapping_json"):
                    ms = json.loads(row["mapping_json"])
                    snap.mappings[row["table"]] = ms.get("mapping", {})
                    snap.retired[row["table"]] = ms.get("retired", [])
            elif row["kind"] == "constraint":
                c = json.loads(row["constraint_json"])
                snap.constraints.setdefault(row["table"], {})[c["name"]] = c[
                    "expr"
                ]
            elif row["kind"] == "txn":
                snap.last_batch_id = max(snap.last_batch_id, row["batch_id"])
        snap.version = version

    # -- data-file writing -----------------------------------------------------

    @staticmethod
    def _typed_partition_value(dtype_simple: str, raw: str):
        """Hive directory value → the column's Python type (so pruning
        compares int-to-int, never str-to-int)."""
        from urllib.parse import unquote

        if raw == "__HIVE_DEFAULT_PARTITION__":
            return None
        if dtype_simple in ("tinyint", "smallint", "int", "bigint"):
            return int(raw)
        if dtype_simple in ("float", "double"):
            return float(raw)
        return unquote(raw)

    def _enforce_constraints(
        self, table: str, df: DataFrame, checks: dict[str, str] | None = None
    ) -> DataFrame:
        """Weave the table's CHECK constraints into ``df`` so they are
        evaluated DURING the write pass itself (no second scan, no
        window for unvalidated bytes): each constraint becomes an
        ``assert_true`` wrapped around the first output column — the
        row's value is unchanged when the check passes, the Spark task
        (and therefore the whole write, before any commit) fails when it
        doesn't. NULL results pass, per SQL CHECK semantics.

        ``checks`` pins the exact constraint set the caller planned
        against (so OCC retry loops can compare what was ENFORCED, not
        what happened to be current mid-write); None reads the latest
        snapshot's set."""
        if checks is None:
            checks = self._snapshot().constraints.get(table, {})
        if not checks:
            return df
        first = df.columns[0]
        guarded = F.col(first)
        for cname in sorted(checks):
            ok = F.coalesce(F.expr(checks[cname]), F.lit(True))
            guarded = F.when(
                F.assert_true(
                    ok,
                    F.concat(
                        F.lit(
                            f"CHECK constraint {cname!r} violated on "
                            f"{table!r}: {checks[cname]}"
                        )
                    ),
                ).isNull(),
                guarded,
            )
        return df.withColumn(first, guarded)

    def _write_data_files(
        self,
        table: str,
        df: DataFrame,
        partition_cols: list[str] | None = None,
        checks: dict[str, str] | None = None,
        mapping: dict[str, str] | None = None,
    ) -> list[dict]:
        """Spark-write ``df`` (Hive-partitioned when the table has a
        partition spec), promote the part files to immutable
        uniquely-named files under ``_data/{table}`` preserving the
        ``col=value`` directory layout, harvest footer stats — with
        partition values folded in as exact min=max stats (the data
        pages don't carry partition columns; the path does) → the
        commit's ``add`` actions.

        ``df`` and ``partition_cols`` arrive LOGICAL; ``mapping``
        renames to the table's stable PHYSICAL field names before any
        byte is written (CHECK constraints evaluate first, in logical
        space). File stats and partition directories are therefore
        always physical-named — rename-proof."""
        tdir = os.path.join(self.data_dir, table)
        os.makedirs(tdir, exist_ok=True)
        staging = os.path.join(self.root, f"_staging-{uuid.uuid4().hex}")
        mapping = mapping or {}
        df = self._enforce_constraints(table, df, checks)
        df = self._to_physical(df, mapping)
        writer = df.write
        if partition_cols:
            writer = writer.partitionBy(
                *[mapping.get(c, c) for c in partition_cols]
            )
        try:
            writer.parquet(staging)
        except Exception:
            # a failed write (e.g. a CHECK constraint firing mid-task)
            # must not leave staged bytes behind
            shutil.rmtree(staging, ignore_errors=True)
            raise
        dtypes = dict(df.dtypes)
        adds = []
        for dirpath, _dirs, names in os.walk(staging):
            rel_dir = os.path.relpath(dirpath, staging)
            pvals = {}
            if rel_dir != ".":
                for seg in rel_dir.split(os.sep):
                    col, _, raw = seg.partition("=")
                    pvals[col] = self._typed_partition_value(
                        dtypes.get(col, "string"), raw
                    )
            for name in sorted(names):
                if not name.endswith(".parquet"):
                    continue
                src = os.path.join(dirpath, name)
                stats = _file_stats(src)
                if stats["rows"] == 0:
                    continue  # empty part files carry no state
                for col, val in pvals.items():
                    if val is None:
                        stats["nulls"][col] = stats["rows"]
                    else:
                        stats["min"][col] = val
                        stats["max"][col] = val
                final = f"part-{uuid.uuid4().hex}.parquet"
                rel = (
                    f"{rel_dir}/{final}" if rel_dir != "." else final
                )
                dst = os.path.join(tdir, rel)
                os.makedirs(os.path.dirname(dst), exist_ok=True)
                os.replace(src, dst)
                add = {
                    "table": table,
                    "path": f"{table}/{rel}",
                    "size": os.path.getsize(dst),
                    "stats": stats,
                }
                if pvals:
                    add["partitionValues"] = pvals
                adds.append(add)
        shutil.rmtree(staging)
        return adds

    def _read_adds(
        self,
        spark: SparkSession,
        table: str,
        adds: list[dict],
        schema: StructType,
        mapping: dict[str, str] | None = None,
    ) -> DataFrame:
        """Read back the data files a transaction JUST WROTE (its ``add``
        actions) — the committed bytes, not a re-execution of the lazy
        plan that produced them. Change-data capture diffs against this,
        so the feed can never disagree with the table even for
        non-deterministic inputs (ADVICE r7, delta_log.py:812)."""
        if not adds:
            return spark.createDataFrame([], schema)
        mapping = mapping or {}
        df = (
            spark.read.schema(self._physicalize(schema, mapping))
            .option("basePath", os.path.join(self.data_dir, table))
            .parquet(*[os.path.join(self.data_dir, a["path"]) for a in adds])
        )
        return self._to_logical(df, schema, mapping)

    def _abandon(self, adds: list[dict]) -> None:
        """Delete data files written for a transaction that will never
        commit (replayed batch / unrecoverable conflict). Best-effort:
        a crash here leaves orphans, which vacuum collects."""
        for a in adds:
            try:
                os.unlink(os.path.join(self.data_dir, a["path"]))
            except OSError:
                pass

    def _write_side_files(
        self, base_dir: str, table: str, df: DataFrame, prefix: str
    ) -> list[str]:
        """Write ``df`` through a staging dir and move its non-empty
        parquet parts to ``{base_dir}/{table}`` under fresh unique names
        — version-independent, so a lost commit race can retry with the
        SAME files. Returns their ``{table}/...`` paths. A commit's
        change-data (``_cdc``) and delete-key (``_dv``) files are
        written this way."""
        tdir = os.path.join(base_dir, table)
        os.makedirs(tdir, exist_ok=True)
        staging = os.path.join(
            self.root, f"_staging-{prefix}-{uuid.uuid4().hex}"
        )
        df.write.parquet(staging)
        out = []
        for name in sorted(os.listdir(staging)):
            if not name.endswith(".parquet"):
                continue
            src = os.path.join(staging, name)
            if _file_stats(src)["rows"] == 0:
                continue
            final = f"{prefix}-{uuid.uuid4().hex}.parquet"
            os.replace(src, os.path.join(tdir, final))
            out.append(f"{table}/{final}")
        shutil.rmtree(staging)
        return out

    def _abandon_cdc(self, cdc_adds: list[dict]) -> None:
        for a in cdc_adds:
            try:
                os.unlink(os.path.join(self.cdc_dir, a["path"]))
            except OSError:
                pass

    def _capture_cdc(
        self,
        table: str,
        old_rows: DataFrame,
        new_rows: DataFrame,
        pk_cols: list[str],
        mapping: dict[str, str] | None,
    ) -> tuple[list[dict], list[dict]]:
        """Change-data capture for one table of a commit: diff the old
        state of the rewritten region against its new, COMMITTED bytes
        (so the feed matches what readers see even when the input frame
        is non-deterministic), persist the diff (pk + type + data cols,
        the diff_snapshots vocabulary) under ``_cdc/{table}``, and
        return (cdc file adds, log actions). The ``cdcMeta`` marker is
        present even when the diff is empty, so a stream reader can tell
        "no logical change" from "CDF not captured"; its ``pk_cols``
        record the key vocabulary the diff was taken under.

        Table columns are stored under their stable PHYSICAL names
        (``type`` is DML metadata, never a table column, so it rides
        through identity): change files written before and after a
        rename agree on disk, and readers rename to their own pin's
        logical vocabulary."""
        from cdc_init_spark.streaming.apply import diff_snapshots

        diff = diff_snapshots(old_rows, new_rows, pk_cols)
        paths = self._write_side_files(
            self.cdc_dir, table, self._to_physical(diff, mapping or {}), "cdc"
        )
        # size rides along so the streaming source can plan byte-capped
        # batches without stat-ing every file per trigger
        cdc_adds = [
            {
                "table": table,
                "path": p,
                "size": os.path.getsize(os.path.join(self.cdc_dir, p)),
            }
            for p in paths
        ]
        actions = [{"cdcMeta": {"table": table, "pk_cols": pk_cols}}]
        actions.extend({"cdc": a} for a in cdc_adds)
        return cdc_adds, actions

    def _abandon_dv(self, dv_paths: list[str]) -> None:
        for p in dv_paths:
            try:
                os.unlink(os.path.join(self.dv_dir, p))
            except OSError:
                pass

    @staticmethod
    def _meta_action(
        table: str,
        schema: StructType,
        partition_cols: list[str] | None = None,
        mapping: dict[str, str] | None = None,
        retired: list[str] | None = None,
    ) -> dict:
        m: dict = {
            "table": table,
            "schema_json": schema.json(),
            "partition_cols": partition_cols or [],
        }
        # column-mapping state rides every metaData refresh — omitted
        # when identity/empty so plain tables keep the plain log format
        if mapping:
            m["column_mapping"] = dict(mapping)
        if retired:
            m["retired_physical"] = sorted(retired)
        return {"metaData": m}

    def _overwrite_actions(
        self,
        snap: _Snapshot,
        table: str,
        df: DataFrame,
        spec: list[str] | None,
        mapping: dict[str, str],
        retired: list[str],
        adds: list[dict],
    ) -> list[dict]:
        """Actions of a full overwrite of ``table`` against ``snap``: a
        metaData refresh when the table is new or its schema or
        partition spec changes (an overwrite retires every old file, so
        even a breaking schema change is safe), a remove for every
        active file, then the new adds."""
        actions: list[dict] = []
        if (
            table not in snap.schemas
            or self._schema_change(snap.schemas[table], df)
            or (spec or []) != (snap.partition_cols.get(table) or [])
        ):
            actions.append(
                self._meta_action(table, df.schema, spec, mapping, retired)
            )
        actions.extend(
            {"remove": {"table": table, "path": p}}
            for p in snap.adds.get(table, {})
        )
        actions.extend({"add": a} for a in adds)
        return actions

    @staticmethod
    def _physicalize(schema: StructType, mapping: dict[str, str]) -> StructType:
        """The stored logical schema under PHYSICAL field names — what
        the parquet files actually carry."""
        if not mapping:
            return schema
        from pyspark.sql.types import StructField

        return StructType(
            [
                StructField(
                    mapping.get(f.name, f.name), f.dataType, f.nullable
                )
                for f in schema.fields
            ]
        )

    @staticmethod
    def _to_logical(
        df: DataFrame, schema: StructType, mapping: dict[str, str]
    ) -> DataFrame:
        """Physical-named frame → the logical column names (and order)
        of ``schema``."""
        return df.select(
            *[
                F.col(mapping.get(f.name, f.name)).alias(f.name)
                for f in schema.fields
            ]
        )

    @staticmethod
    def _to_physical(df: DataFrame, mapping: dict[str, str]) -> DataFrame:
        if not mapping:
            return df
        return df.select(
            *[F.col(c).alias(mapping.get(c, c)) for c in df.columns]
        )

    def _evolve_mapping(
        self, snap: "_Snapshot", table: str, new_cols: list[str]
    ) -> tuple[dict[str, str], list[str]]:
        """Column mapping + retired set for ``table`` when its logical
        column set becomes ``new_cols``: persisting columns keep their
        stable physical names, disappearing columns retire theirs (the
        bytes may persist in old data/CDC files — a physical name is
        NEVER reused), and brand-new columns get identity physical
        unless that collides with a retired or in-use physical name, in
        which case a fresh suffixed name is minted so a re-added
        logical name cannot resurrect old bytes."""
        if table not in snap.schemas:
            return {}, []
        base = snap.mappings.get(table, {}) or {}
        retired = set(snap.retired.get(table, []) or [])
        old_cols = [
            f.name
            for f in StructType.fromJson(
                json.loads(snap.schemas[table])
            ).fields
        ]
        new_set = set(new_cols)
        mapping: dict[str, str] = {}
        used = set(retired)
        for c in old_cols:
            phys = base.get(c, c)
            if c in new_set:
                if phys != c:
                    mapping[c] = phys
                used.add(phys)
            else:
                retired.add(phys)
                used.add(phys)
        for c in new_cols:
            if c in old_cols:
                continue
            if c in used:
                fresh = f"{c}-{uuid.uuid4().hex[:8]}"
                mapping[c] = fresh
                used.add(fresh)
        return mapping, sorted(retired)

    def _mapping_state(
        self, snap: "_Snapshot", table: str
    ) -> tuple[dict[str, str], list[str]]:
        """The (mapping, retired) pair a write against ``snap`` plans
        under — compared across OCC retries to decide whether staged
        physical-named files are still valid."""
        return (
            dict(snap.mappings.get(table, {}) or {}),
            list(snap.retired.get(table, []) or []),
        )

    @staticmethod
    def _schema_change(old_json: str, df: DataFrame) -> str | None:
        """None when ``df`` matches the stored schema; 'additive' when it
        only appends new columns (old files read the additions as NULL);
        'breaking' otherwise (renamed/dropped/retyped columns)."""
        old = StructType.fromJson(json.loads(old_json))
        old_types = {f.name: f.dataType for f in old.fields}
        new_types = {f.name: f.dataType for f in df.schema.fields}
        if any(
            n not in new_types or new_types[n] != t
            for n, t in old_types.items()
        ):
            return "breaking"
        return "additive" if set(new_types) - set(old_types) else None

    # -- TableFormat -------------------------------------------------------

    def init(
        self,
        tables: dict[str, DataFrame],
        partition_by: dict[str, list[str]] | None = None,
    ) -> None:
        os.makedirs(self.root, exist_ok=True)
        partition_by = partition_by or {}
        actions: list[dict] = [{"commitInfo": {"operation": "init"}}]
        for name, df in tables.items():
            spec = partition_by.get(name)
            actions.append(self._meta_action(name, df.schema, spec))
            actions.extend(
                {"add": a} for a in self._write_data_files(name, df, spec)
            )
        actions.append({"txn": {"batch_id": -1}})
        if not self._try_write_commit(0, actions):
            raise CommitConflictError("version 0 already exists")

    def commit(
        self,
        tables: dict[str, DataFrame],
        batch_id: int,
        partition_by: dict[str, list[str]] | None = None,
        cdc_pk_cols: dict[str, list[str]] | None = None,
    ) -> bool:
        """Overwrite-commit: the given tables' full new contents become
        the next version (removes for every previously-active file of
        those tables + adds for the new ones). O(written-data) in IO;
        tables NOT in this commit are untouched, and ``append``/``merge``
        below give the O(delta) paths.

        ``partition_by`` re-specs a table's partition layout — safe only
        here, because an overwrite retires every old file, so no mixed-
        layout state can exist at any version.

        **Change-data capture** (ADVICE r7, delta_log.py:519): an
        overwrite of an existing table removes files, which a live
        change-feed subscription cannot express as row changes — it
        hard-fails at that version (or silently drops the overwrite with
        ``onNonCdf=skip``). When the format has ``enable_cdf=True``,
        pass ``cdc_pk_cols={table: [pk, ...]}`` and the commit captures
        the old-state→new-state diff as change data (same mechanism as
        ``merge``), keeping subscriptions live across overwrites.
        Requires the overwrite to keep the table's schema (a reshape
        isn't row-expressible — raises). Overwrites of CDF tables
        WITHOUT ``cdc_pk_cols`` keep the old loud-failure behavior."""
        snap = self._snapshot()
        if batch_id <= snap.last_batch_id:
            return False
        spark = (
            next(iter(tables.values())).sparkSession if tables else None
        )

        def spec_of(name: str) -> list[str] | None:
            if partition_by is not None and name in partition_by:
                return partition_by[name]
            return snap.partition_cols.get(name)

        specs_used = {name: spec_of(name) for name in tables}
        checks_used = {
            name: snap.constraints.get(name, {}) for name in tables
        }
        # per-table column mapping: an overwrite keeps every persisting
        # column's stable physical name (change-feed continuity — files
        # and cdc bytes written before and after agree on physical
        # names) and retires the physicals of columns the reshape drops
        maps_state = {name: self._mapping_state(snap, name) for name in tables}
        maps_used = {
            name: self._evolve_mapping(snap, name, list(df.columns))
            for name, df in tables.items()
        }
        new_adds: dict[str, list[dict]] = {
            name: self._write_data_files(
                name, df, specs_used[name], checks_used[name],
                maps_used[name][0],
            )
            for name, df in tables.items()
        }
        cdc_files: list[dict] = []
        while True:
            actions: list[dict] = [{"commitInfo": {"operation": "overwrite"}}]
            if self.enable_cdf and cdc_pk_cols:
                # recomputed per attempt: a lost race changes the old
                # state the diff is taken against
                self._abandon_cdc(cdc_files)
                cdc_files = []
                for name, df in tables.items():
                    pks = cdc_pk_cols.get(name)
                    if not pks or name not in snap.schemas:
                        continue  # a brand-new table's adds ARE the inserts
                    old_schema = StructType.fromJson(
                        json.loads(snap.schemas[name])
                    )
                    if {f.name for f in old_schema.fields} != set(df.columns):
                        raise ValueError(
                            f"overwrite of {name!r} changes its column set; "
                            "a reshape is not row-expressible as change "
                            "data — drop cdc_pk_cols for this table (the "
                            "stream then fails/skips explicitly) or keep "
                            "the schema"
                        )
                    old_state = self._read_files(
                        spark, snap, name, snap.adds.get(name, {})
                    )
                    new_state = self._read_adds(
                        spark, name, new_adds[name], df.schema,
                        maps_used[name][0],
                    ).select(*old_state.columns)
                    files, cdc_actions = self._capture_cdc(
                        name, old_state, new_state, pks, maps_used[name][0]
                    )
                    cdc_files.extend(files)
                    actions.extend(cdc_actions)
            for name, df in tables.items():
                actions.extend(
                    self._overwrite_actions(
                        snap, name, df, specs_used[name], *maps_used[name],
                        new_adds[name],
                    )
                )
            actions.append({"txn": {"batch_id": batch_id}})
            version = snap.version + 1
            if self._try_write_commit(version, actions):
                self._maybe_checkpoint(version)
                return True
            # lost the race: recompute removes against the winner's state
            snap = self._snapshot()
            if batch_id <= snap.last_batch_id:
                self._abandon([a for adds in new_adds.values() for a in adds])
                self._abandon_cdc(cdc_files)
                return False
            # if the winner changed a table's partition spec, files laid
            # out under the old col=value structure must NOT be committed
            # against the new metaData — rewrite them under the current
            # spec (ADVICE r6, delta_log.py:470). Likewise a winner's
            # add_constraint validated the table WITHOUT our staged
            # files; they were CHECK-enforced against the OLD set only,
            # so committing them now would land rows never validated
            # against the active constraint — rewrite so the new checks
            # run against our rows before they can become visible
            # (ADVICE r8, delta_log.py:1026; mirrors append()'s guard).
            for name, df in tables.items():
                cur_spec = spec_of(name)
                cur_checks = snap.constraints.get(name, {})
                cur_maps = self._mapping_state(snap, name)
                if (
                    (cur_spec or []) != (specs_used[name] or [])
                    or cur_checks != checks_used[name]
                    or cur_maps != maps_state[name]
                ):
                    # a winner's rename/drop changed the logical→physical
                    # map: our staged files carry physical names planned
                    # against the OLD mapping — re-derive and rewrite
                    self._abandon(new_adds[name])
                    specs_used[name] = cur_spec
                    checks_used[name] = cur_checks
                    maps_state[name] = cur_maps
                    maps_used[name] = self._evolve_mapping(
                        snap, name, list(df.columns)
                    )
                    new_adds[name] = self._write_data_files(
                        name, df, cur_spec, cur_checks, maps_used[name][0]
                    )

    def read(
        self,
        spark: SparkSession,
        table: str,
        version: int | None = None,
        timestamp=None,
    ) -> DataFrame:
        """Snapshot read, optionally time-traveled by ``version``
        (VERSION AS OF) or ``timestamp`` (TIMESTAMP AS OF — epoch
        seconds or datetime, resolved via in-commit timestamps)."""
        if timestamp is not None:
            if version is not None:
                raise ValueError("pass version OR timestamp, not both")
            version = self.version_at_timestamp(timestamp)
        snap = self._snapshot(version)
        return self._read_files(spark, snap, table, snap.adds.get(table, {}))

    def version_at_timestamp(self, ts) -> int:
        """TIMESTAMP AS OF resolution: the newest version whose
        in-commit timestamp is at or before ``ts`` (epoch seconds or a
        datetime). In-commit stamps are monotonic by construction
        (_try_write_commit), so the scan over still-present log entries
        is a total order; entries archived behind a checkpoint resolve
        only while their json files remain — below that, resolution
        raises rather than guessing (same contract as vacuumed time
        travel)."""
        from datetime import datetime as _dt

        if isinstance(ts, _dt):
            ts = ts.timestamp()
        best = None
        for name in os.listdir(self.log_dir):
            if not (name.endswith(".json") and name[:20].isdigit()):
                continue
            v = int(name[:20])
            cts = self._commit_ts(v)
            if cts is not None and cts <= ts and (best is None or v > best):
                best = v
        if best is None:
            raise ValueError(
                f"no resolvable version at or before timestamp {ts} "
                "(before the table's first commit, or its log entry was "
                "archived)"
            )
        return best

    def _scan(
        self,
        spark: SparkSession,
        snap: _Snapshot,
        table: str,
        schema: StructType,
        rel_paths: list[str],
    ) -> DataFrame:
        """Raw scan of the given data files (no deletion vectors),
        returned under PHYSICAL column names — deletion vectors join in
        physical space (their key files are physical-named and
        rename-proof); _read_files renames to logical last."""
        paths = [os.path.join(self.data_dir, p) for p in rel_paths]
        missing = [p for p in paths if not os.path.exists(p)]
        if missing:
            raise ValueError(
                f"version {snap.version} of {table!r} references vacuumed "
                f"files (e.g. {missing[0]}); time travel below the vacuum "
                "horizon is gone by design"
            )
        # basePath lets partition columns materialize from the col=value
        # directory layout; harmless for unpartitioned tables. Column
        # order follows the stored schema either way.
        phys = self._physicalize(schema, snap.mappings.get(table, {}))
        return (
            spark.read.schema(phys)
            .option("basePath", os.path.join(self.data_dir, table))
            .parquet(*paths)
            .select(*[f.name for f in phys.fields])
        )

    def _read_files(
        self, spark: SparkSession, snap: _Snapshot, table: str, files: dict
    ) -> DataFrame:
        """Snapshot read of the given active files WITH merge-on-read
        deletion vectors applied: files are grouped by the set of dvs
        that target them, each group anti-joins the union of its delete
        keys (an equality-delete in the Iceberg-v2 sense — the keys are
        the engine's pk vocabulary), and groups union back together.
        Files no dv targets — the overwhelming majority of a big table —
        scan exactly as before, zero extra work. Delete-key frames are
        change-set-sized; Spark's own size estimation broadcasts them
        when small (no hint forced, so a backfill-scale dv degrades to a
        shuffle anti-join instead of an OOM)."""
        if table not in snap.schemas:
            raise ValueError(f"unknown table {table!r} at v{snap.version}")
        schema = StructType.fromJson(json.loads(snap.schemas[table]))
        if not files:
            return spark.createDataFrame([], schema)
        tdvs = snap.dvs.get(table, {})
        groups: dict[frozenset, list[str]] = {}
        for p in files:
            applicable = frozenset(
                dvp for dvp, info in tdvs.items() if p in info["applies_to"]
            )
            groups.setdefault(applicable, []).append(p)
        parts: list[DataFrame] = []
        for dvset, rel_paths in groups.items():
            df = self._scan(spark, snap, table, schema, rel_paths)
            for dvp in sorted(dvset):
                info = tdvs[dvp]
                full = os.path.join(self.dv_dir, dvp)
                if not os.path.exists(full):
                    raise ValueError(
                        f"version {snap.version} of {table!r} references "
                        f"vacuumed deletion vector {dvp}; time travel below "
                        "the vacuum horizon is gone by design"
                    )
                keys = spark.read.parquet(full).select(*info["cols"]).distinct()
                df = df.join(keys, on=info["cols"], how="left_anti")
            parts.append(df)
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        # physical → the version's LOGICAL names, last (dv anti-joins
        # above ran in physical space, where the key files live)
        return self._to_logical(out, schema, snap.mappings.get(table, {}))

    def latest_version(self) -> int:
        return self._snapshot().version

    def has_table(self, table: str, version: int | None = None) -> bool:
        return table in self._snapshot(version).schemas

    # -- O(delta) write paths ----------------------------------------------

    def append(
        self, table: str, df: DataFrame, batch_id: int | None = None
    ) -> int:
        """Append-only commit: write only ``df``'s files, add them to the
        log. Appends never conflict with each other (disjoint adds, no
        read set), so losers retry unconditionally — lock-free
        multi-writer ingest. Schema evolution is additive-only here:
        appending a frame with NEW columns upgrades the table schema
        (old files read them as NULL); renames/drops/retypes raise.
        Returns the committed version, or -1 for a replayed batch_id."""
        pre = self._snapshot()
        spec_used = pre.partition_cols.get(table)
        checks_used = pre.constraints.get(table, {})
        maps_state = self._mapping_state(pre, table)
        mapping_used, retired_used = self._evolve_mapping(
            pre, table, list(df.columns)
        )
        adds = self._write_data_files(
            table, df, spec_used, mapping=mapping_used
        )
        while True:
            snap = self._snapshot()
            if batch_id is not None and batch_id <= snap.last_batch_id:
                self._abandon(adds)
                return -1
            if (
                snap.constraints.get(table, {}) != checks_used
                or self._mapping_state(snap, table) != maps_state
            ):
                # a concurrent add_constraint validated the table WITHOUT
                # our staged files (re-write so the new checks run against
                # our rows before they can become visible); likewise a
                # concurrent rename/drop changed the logical→physical map
                # our staged files were written under
                self._abandon(adds)
                checks_used = snap.constraints.get(table, {})
                spec_used = snap.partition_cols.get(table)
                maps_state = self._mapping_state(snap, table)
                mapping_used, retired_used = self._evolve_mapping(
                    snap, table, list(df.columns)
                )
                adds = self._write_data_files(
                    table, df, spec_used, checks_used, mapping_used
                )
                continue
            if (snap.partition_cols.get(table) or []) != (spec_used or []):
                # a concurrent overwrite re-specced the table's partition
                # layout: our files sit under the OLD col=value structure
                # and would materialize wrong/missing partition columns if
                # committed against the new metaData — rewrite under the
                # current spec (ADVICE r6, delta_log.py:470)
                self._abandon(adds)
                spec_used = snap.partition_cols.get(table)
                adds = self._write_data_files(
                    table, df, spec_used, checks_used, mapping_used
                )
            actions: list[dict] = [{"commitInfo": {"operation": "append"}}]
            if table not in snap.schemas:
                actions.append(self._meta_action(table, df.schema))
            else:
                change = self._schema_change(snap.schemas[table], df)
                if change == "breaking":
                    self._abandon(adds)
                    raise ValueError(
                        f"append to {table!r} would rename/drop/retype "
                        "columns; only additive schema evolution is "
                        "allowed outside an overwrite commit — use "
                        "rename_column()/drop_column() for mapped "
                        "evolution, or an overwrite for a reshape"
                    )
                if change == "additive":
                    actions.append(
                        self._meta_action(
                            table, df.schema, snap.partition_cols.get(table),
                            mapping_used, retired_used,
                        )
                    )
            actions.extend({"add": a} for a in adds)
            actions.append(
                {"txn": {"batch_id": batch_id if batch_id is not None
                         else snap.last_batch_id}}
            )
            version = snap.version + 1
            if self._try_write_commit(version, actions):
                self._maybe_checkpoint(version)
                self._maybe_auto_compact(df.sparkSession, table)
                return version

    def merge(
        self,
        spark: SparkSession,
        table: str,
        changes: DataFrame,
        pk_cols: list[str],
        order_col: str = "ts",
        type_col: str = "type",
        batch_id: int | None = None,
        strategy: str = "cow",
        evolve_schema: bool = False,
    ) -> int:
        """MERGE: apply a keyed DML change set (insert/update/delete —
        the engine's CDC vocabulary, streaming/apply.py).

        ``evolve_schema=True`` (the Delta ``mergeSchema`` /
        ``schema.autoMerge`` analog): a change frame carrying NEW data
        columns widens the table schema in the same commit — untouched
        files read the additions as NULL (the append path's additive
        rule), pre-merge versions keep the old schema under time travel,
        and renames/drops/retypes still raise. With the default False,
        extra change columns are ignored (apply_changes' documented
        contract) — the table schema never moves under a plain merge.

        ``strategy="cow"`` (default) rewrites ONLY the files that
        contain matched keys (copy-on-write). ``strategy="mor"``
        (merge-on-read, VERDICT r7 item 8; the Delta deletion-vector /
        Iceberg-v2 equality-delete shape) rewrites NOTHING: it writes
        the upserted rows as new files plus one delete-key file under
        ``_dv/{table}`` whose ``dv`` action names exactly the touched
        files it suppresses keys in — write amplification drops from
        O(touched files) to O(change set), at the cost of an anti-join
        on read. ``compact()`` is the reconciler: it reads through the
        dvs and retires them. Law (pytest): MoR read ≡ CoW read on the
        same change set.

        Plan: (1) file-skip — prune active files whose pk-range stats
        cannot intersect the change keys' bounded RANGE COVER (up to
        ``merge_key_ranges`` sorted-key widest-gap ranges per column —
        one outlier key no longer widens the cover to the whole key
        space; no IO beyond the already-held log); (2) exact touch set —
        read the survivors with input_file_name() and semi-join the
        change keys (broadcast up to ``merge_broadcast_key_limit``
        distinct keys, shuffled hash join above it); (3) rewrite =
        apply_changes(touched rows, changes) written as new files;
        untouched files are never read or written. At 100 TB a
        10^6-key change batch reads the few files holding those keys,
        not the table.

        Law (pytest): read-after-merge ≡ apply_changes(read-before, changes).
        Raises CommitConflictError if a concurrent commit changed the
        table's file set after planning (re-run against the new state).
        Returns the committed version, or -1 for a replayed batch_id —
        also when a concurrent commit carrying the same or a higher
        batch_id wins the race (the staged files are abandoned).
        """
        if strategy not in ("cow", "mor"):
            raise ValueError(f"unknown merge strategy {strategy!r}")
        snap = self._snapshot()
        if batch_id is not None and batch_id <= snap.last_batch_id:
            return -1
        staged = self._stage_merge(
            spark, snap, table, changes, pk_cols, order_col, type_col,
            strategy, evolve_schema,
        )
        return self._commit_staged(
            spark, snap, "merge" if strategy == "cow" else "merge-mor",
            [table], [staged], batch_id,
        )

    def _commit_staged(
        self,
        spark: SparkSession,
        snap: _Snapshot,
        operation: str,
        tables: list[str],
        staged: list[dict],
        batch_id: int | None,
    ) -> int:
        """The one optimistic-concurrency commit of every staged DML
        write (merge, delete/update, multi-table transaction): land the
        staged actions as ONE version at ``snap.version + 1``. On a lost
        race, re-read the log: a winner carrying the same or a higher
        ``batch_id`` already holds this batch (abandon, return -1); a
        winner that left every staged table's read set intact touched
        other tables only (retry once at the next version); anything
        else invalidated the plan (abandon, raise CommitConflictError).
        Returns the committed version, or -1 for a replayed batch."""

        def abandon() -> None:
            for s in staged:
                self._abandon_staged(s)

        if batch_id is not None and batch_id <= snap.last_batch_id:
            abandon()
            return -1
        actions: list[dict] = [{"commitInfo": {"operation": operation}}]
        for s in staged:
            actions.extend(s["actions"])
        actions.append(
            {"txn": {"batch_id": batch_id if batch_id is not None
                     else snap.last_batch_id}}
        )
        version = snap.version + 1
        if not self._try_write_commit(version, actions):
            cur = self._snapshot()
            if batch_id is not None and batch_id <= cur.last_batch_id:
                abandon()
                return -1
            intact = all(
                self._table_read_set(cur, t) == self._table_read_set(snap, t)
                for t in tables
            )
            if not (intact and self._try_write_commit(cur.version + 1, actions)):
                abandon()
                raise CommitConflictError(
                    f"concurrent commit changed {sorted(set(tables))} "
                    f"during {operation!r}; re-run the transaction"
                )
            version = cur.version + 1
        self._maybe_checkpoint(version)
        for t in dict.fromkeys(tables):
            self._maybe_auto_compact(spark, t)
        return version

    def _table_read_set(self, snap: _Snapshot, table: str) -> tuple:
        """Everything a staged write against ``snap`` depends on for
        ``table`` — compared against the current snapshot when an OCC
        race is lost to decide retry-in-place vs conflict: active file
        set, dv state, partition spec, schema, constraint set."""
        return (
            set(snap.adds.get(table, {})),
            {
                p: (info["cols"], sorted(info["applies_to"]))
                for p, info in snap.dvs.get(table, {}).items()
            },
            tuple(snap.partition_cols.get(table) or []),
            snap.schemas.get(table),
            tuple(sorted(snap.constraints.get(table, {}).items())),
            tuple(sorted((snap.mappings.get(table) or {}).items())),
            tuple(snap.retired.get(table) or []),
        )

    def _abandon_staged(self, staged: dict) -> None:
        self._abandon(staged["adds"])
        self._abandon_cdc(staged["cdc_adds"])
        self._abandon_dv(staged["dv_paths"])

    def _probe_touched(
        self,
        spark: SparkSession,
        table: str,
        schema: StructType,
        mapping: dict[str, str],
        active: dict,
        candidates: dict,
        cols: list[str],
        narrow,
        operation: str,
    ) -> tuple[list[str], DataFrame]:
        """Exact touched-file set of a DML write: read ``cols`` (logical
        names) of the candidate files with input_file_name(), keep the
        rows ``narrow`` selects (merge: a key semi-join; delete/update:
        the row condition), and return the distinct files holding one —
        relativised to the data dir and validated against ``active`` —
        plus the collected probe frame."""
        probe = (
            narrow(
                spark.read.schema(self._physicalize(schema, mapping))
                .option("basePath", os.path.join(self.data_dir, table))
                .parquet(*[os.path.join(self.data_dir, p) for p in candidates])
                .select(
                    *[F.col(mapping.get(c, c)).alias(c) for c in cols],
                    F.input_file_name().alias("_f"),
                )
            )
            .select("_f")
            .distinct()
        )
        touched = [
            os.path.relpath(_uri_to_local(r["_f"]), self.data_dir)
            .replace(os.sep, "/")
            for r in probe.collect()
        ]
        bad = [p for p in touched if p not in active]
        if bad:
            raise ValueError(
                f"{operation} planning produced touched path {bad[0]!r} "
                f"that is not an active file of {table!r} — path "
                "normalization bug or concurrent layout change"
            )
        return touched, probe

    def _stage_merge(
        self,
        spark: SparkSession,
        snap: _Snapshot,
        table: str,
        changes: DataFrame,
        pk_cols: list[str],
        order_col: str,
        type_col: str,
        strategy: str,
        evolve_schema: bool,
    ) -> dict:
        """Plan and stage a MERGE against ``snap`` WITHOUT committing:
        file-skip on the change keys' range cover, exact touch set,
        CoW rewrite or MoR dv files, CDF capture — returns the staged
        ``actions`` (meta/cdc/dv/remove/add, commitInfo and txn excluded)
        plus the staged file lists for abandon-on-conflict. Shared by
        ``merge`` and ``Transaction`` (VERDICT r8 item 5: a transaction
        stages merges on several tables and commits them in ONE
        version)."""
        from cdc_init_spark.streaming.apply import (
            UPSERT_TYPES,
            apply_changes,
            compact_changes,
        )

        active = snap.adds.get(table, {})
        schema = StructType.fromJson(json.loads(snap.schemas[table]))
        mapping, retired = self._mapping_state(snap, table)
        meta_action: dict | None = None
        if evolve_schema:
            # the change frame's DATA columns (order/type are DML
            # metadata, never table columns)
            data_changes = changes.drop(order_col, type_col)
            change_kind = self._schema_change(
                snap.schemas[table], data_changes
            )
            if change_kind == "breaking":
                raise ValueError(
                    f"merge into {table!r} with evolve_schema would "
                    "rename/drop/retype columns; only additive evolution "
                    "is allowed outside an overwrite commit"
                )
            if change_kind == "additive":
                old_names = {f.name for f in schema.fields}
                schema = StructType(
                    list(schema.fields)
                    + [
                        f
                        for f in data_changes.schema.fields
                        if f.name not in old_names
                    ]
                )
                mapping, retired = self._evolve_mapping(
                    snap, table, [f.name for f in schema.fields]
                )
                meta_action = self._meta_action(
                    table, schema, snap.partition_cols.get(table),
                    mapping, retired,
                )

        # ONE pass over the (possibly expensive) change pipeline: compact
        # to the latest row per key and pin it. The compacted frame feeds
        # key planning, the CoW rewrite (apply_changes re-compacts
        # idempotently — one row per key in, the same row out), and the
        # MoR upsert set; without the pin the caller's change plan (scans,
        # joins, the compaction shuffle) re-executes two to three times
        # per merge (guide §1.2/§5: don't compute things twice).
        latest = compact_changes(changes, pk_cols, order_col).persist()
        # distinct change keys, shared by the range summary, the
        # broadcast gate, and the exact-touch semi-join (rows with a
        # NULL in any pk column are dropped: an equi-join never matches
        # them, so they can touch no file). ``latest`` is one row per
        # distinct key already, so the projection needs no extra
        # distinct exchange.
        n_keys = 0
        key_ranges: dict[str, list[tuple]] = {}
        key_join = None
        keys = None
        if active:
            keys = latest.na.drop(subset=pk_cols).select(*pk_cols).persist()
            # distinct-key count and per-column global bounds in a
            # SINGLE aggregate action (previously count() then a second
            # min/max aggregate — two driver-synchronized jobs)
            g = keys.agg(
                F.count(F.lit(1)).alias("_n"),
                *[F.min(c).alias(f"_lo_{c}") for c in pk_cols],
                *[F.max(c).alias(f"_hi_{c}") for c in pk_cols],
            ).collect()[0]
            n_keys = g["_n"]
            bounds = {c: (g[f"_lo_{c}"], g[f"_hi_{c}"]) for c in pk_cols}
            # (1) stats-based file skipping. The global [min,max] box
            # comes free with the aggregate above — apply it FIRST (file
            # stats are PHYSICAL-named; the change keys arrive logical —
            # translate before intersecting). The widest-gap range cover
            # is a separate single-partition window JOB whose only value
            # is cutting probe IO across many candidate files; when the
            # box alone prunes to a handful of files (or the key count
            # exceeds the summary limit — the documented box fallback),
            # skip that job outright (guide §1.2: remove whole jobs
            # before tuning them). At 100 TB a selective merge against a
            # many-file table still runs the gap pass.
            key_ranges = {
                c: ([] if lo is None else [(lo, hi)])
                for c, (lo, hi) in bounds.items()
            }
            phys_box = {mapping.get(c, c): r for c, r in key_ranges.items()}
            candidates = {
                p: a
                for p, a in active.items()
                if _file_intersects_ranges(a.get("stats") or {}, phys_box)
            }
            if (
                len(candidates) > _GAP_COVER_SKIP_FILES
                and self.merge_key_ranges > 1
                and n_keys <= self.merge_range_summary_key_limit
            ):
                key_ranges = _change_key_ranges(
                    keys,
                    pk_cols,
                    dict(changes.dtypes),
                    self.merge_key_ranges,
                    bounds=bounds,
                )
                phys_key_ranges = {
                    mapping.get(c, c): r for c, r in key_ranges.items()
                }
                candidates = {
                    p: a
                    for p, a in candidates.items()
                    if _file_intersects_ranges(
                        a.get("stats") or {}, phys_key_ranges
                    )
                }
        else:
            candidates = {}
        # (2) exact touched-file set: which candidate files hold a changed key
        touched: list[str] = []
        if len(candidates) == 1:
            # the probe job can only CONFIRM a single candidate, never
            # prune below it — and probing costs a read of the same file
            # the rewrite is about to read again. Skip the job and treat
            # the candidate as touched: if it happens to hold no change
            # key the rewrite copies its rows unchanged (and a MoR dv
            # anti-joins zero rows) — identical table state, CDF diff
            # and read results, bounded at one file of extra rewrite IO
            # in the key-missing case (guide §1.2: remove whole
            # driver-synchronized jobs before tuning them). Known cost
            # of the trade: under MoR the skip attaches a (possibly
            # empty) deletion vector to that file, so every subsequent
            # read pays its dv anti-join until compaction folds it —
            # one-shot under CoW, recurring-but-empty under MoR — and
            # last_merge_stats["touched"] may overcount by one. Merges
            # with ≥2 candidates — the 100 TB shape — keep the exact
            # probe.
            touched = list(candidates)
            key_join = "skipped_single_candidate"
            self._last_key_join_plan = None
        elif candidates:
            if n_keys <= self.merge_broadcast_key_limit:
                keyed, key_join = F.broadcast(keys), "broadcast"
            else:
                # backfill-scale change sets must not be collected to the
                # driver: hash-shuffle both sides on the pk instead
                keyed, key_join = keys.hint("shuffle_hash"), "shuffle_hash"
            touched, probe = self._probe_touched(
                spark, table, schema, mapping, active, candidates, pk_cols,
                lambda rows: rows.join(keyed, on=pk_cols, how="left_semi"),
                "merge",
            )
            try:
                self._last_key_join_plan = (
                    probe._jdf.queryExecution().executedPlan().toString()
                )
            except Exception:
                self._last_key_join_plan = None
        self.last_merge_stats = {
            "active": len(active),
            "candidates": len(candidates),
            "touched": len(touched),
            "n_change_keys": n_keys,
            "key_join": key_join,
            "key_ranges": {c: len(r) for c, r in key_ranges.items()},
            "strategy": strategy,
        }
        # the touched files' CURRENT rows — read through any existing
        # deletion vectors (a prior MoR merge's suppressed keys must not
        # resurrect in a rewrite) from committed, immutable bytes
        old_rows = self._read_files(
            spark, snap, table, {p: active[p] for p in touched}
        )
        if meta_action is not None:
            # widen the pre-merge rows to the evolved schema (NULL for
            # the new columns — the same value old FILES will read as)
            old_names = set(old_rows.columns)
            for f in schema.fields:
                if f.name not in old_names:
                    old_rows = old_rows.withColumn(
                        f.name, F.lit(None).cast(f.dataType)
                    )
        spec = snap.partition_cols.get(table)
        dv_paths: list[str] = []
        if strategy == "mor":
            # (3-mor) write ONLY the change set: the latest upserted row
            # per key (the pinned ``latest`` frame) becomes new data
            # files; every touched key goes into a delete-key file that
            # suppresses its old versions in exactly the touched files.
            # Nothing is rewritten.
            upserts = latest.filter(
                F.col(type_col).isin(*UPSERT_TYPES)
            ).select(*[f.name for f in schema.fields])
            # the pinned ``latest`` keeps its pre-AQE shuffle width
            # (persisted frames are never re-coalesced), which would
            # splinter a small change set into one near-empty add file
            # per partition — collapse small sets to one file under the
            # same key-count gate the dv files already use; backfill-
            # scale sets keep their partitioning
            if n_keys <= self.merge_broadcast_key_limit:
                upserts = upserts.coalesce(1)
            adds = self._write_data_files(
                table, upserts, spec, mapping=mapping
            )
            if touched:
                # small key sets collapse to one delete file (a tiny
                # file per shuffle partition would just multiply the
                # read path's anti-join inputs); backfill-scale sets
                # keep their partitioning. Key files are written under
                # PHYSICAL names so the read path's anti-join (which
                # runs pre-rename, in physical space) is rename-proof.
                dv_keys_df = self._to_physical(keys, mapping)
                dv_paths = self._write_side_files(
                    self.dv_dir,
                    table,
                    dv_keys_df.coalesce(1)
                    if n_keys <= self.merge_broadcast_key_limit
                    else dv_keys_df,
                    "dv",
                )
        else:
            # (3-cow) rewrite of touched rows + the changes (the pinned
            # pre-compacted frame — apply_changes' own compaction is a
            # no-op over it); the rewrite preserves the table's partition
            # layout so every active file sits under a consistent
            # col=value structure
            rewritten = apply_changes(
                old_rows, latest, pk_cols, order_col, type_col
            )
            adds = self._write_data_files(
                table, rewritten, spec, mapping=mapping
            )
        if keys is not None:
            keys.unpersist()
        latest.unpersist()
        cdc_adds: list[dict] = []
        actions: list[dict] = []
        if meta_action is not None:
            actions.append(meta_action)
        if self.enable_cdf:
            # the commit's exact DML set (what actually changed, post-
            # compaction — NOT the raw input change frame, which may
            # contain no-ops); diffing touched-old vs the state JUST
            # COMMITTED is exact because untouched files are identical on
            # both sides. For MoR the new touched-region state is (old
            # rows minus the delete keys) ∪ the added rows — all
            # committed bytes.
            new_region = self._read_adds(spark, table, adds, schema, mapping)
            if dv_paths:
                # dv key files are physical-named; rename to logical for
                # the anti-join against the logical old_rows frame
                dv_keys = (
                    spark.read.parquet(
                        *[os.path.join(self.dv_dir, p) for p in dv_paths]
                    )
                    .select(
                        *[
                            F.col(mapping.get(c, c)).alias(c)
                            for c in pk_cols
                        ]
                    )
                    .distinct()
                )
                new_region = old_rows.join(
                    dv_keys, on=pk_cols, how="left_anti"
                ).unionByName(new_region)
            cdc_adds, cdc_actions = self._capture_cdc(
                table, old_rows, new_region, pk_cols, mapping
            )
            actions.extend(cdc_actions)
        if strategy == "mor":
            actions.extend(
                {"dv": {"table": table, "path": p,
                        "cols": [mapping.get(c, c) for c in pk_cols],
                        "applies_to": sorted(touched)}}
                for p in dv_paths
            )
        else:
            for p in touched:
                actions.append({"remove": {"table": table, "path": p}})
        actions.extend({"add": a} for a in adds)
        return {
            "actions": actions,
            "adds": adds,
            "cdc_adds": cdc_adds,
            "dv_paths": dv_paths,
        }

    def transaction(self, spark: SparkSession) -> "Transaction":
        """Begin a MULTI-TABLE atomic transaction (VERDICT r8 item 5):
        stage keyed merges and overwrites across several tables, commit
        them all in ONE log version — readers see every staged change or
        none (the action log always supported multi-table actions; this
        exposes them as one write surface). The motivating shape is the
        continuously-maintained view (streaming/apply.py): merge the
        change batch into ``base`` (O(touched files)) and overwrite the
        group-sized ``agg`` in the same version, so no reader can ever
        observe base ahead of agg — previously only achievable by
        OVERWRITING the full base per micro-batch (O(table))."""
        return Transaction(self, spark)

    # -- predicate DML (DELETE / UPDATE) -------------------------------------

    def delete(
        self,
        spark: SparkSession,
        table: str,
        predicates: dict[str, tuple],
        where: str | None = None,
        pk_cols: list[str] | None = None,
        batch_id: int | None = None,
    ) -> int:
        """DELETE FROM table WHERE ...: drop every row matching the
        condition — ``predicates`` ({column: (lo, hi)}, the file-skip
        ranges, ANDed) plus an optional residual SQL ``where`` — by
        rewriting ONLY the files that hold a matching row. Rows where
        the condition is NULL do not match (SQL semantics). Plan and
        cost are the merge CoW shape: stats prune → exact touch set via
        one filtered scan of the candidates → rewrite of survivors; at
        100 TB a partition-scoped delete reads the partition, never the
        table. ``pk_cols`` (with ``enable_cdf``) captures the deleted
        rows as keyed change data so live subscriptions stream them;
        without it the version is not row-expressible to subscribers
        (same contract as overwrite without ``cdc_pk_cols``). Returns
        the committed version, or -1 when nothing matched (no version
        is created) or the batch id was already applied."""
        return self._rewrite_where(
            spark, table, predicates, where, None, pk_cols, batch_id
        )

    def update(
        self,
        spark: SparkSession,
        table: str,
        set_exprs: dict[str, str],
        predicates: dict[str, tuple],
        where: str | None = None,
        pk_cols: list[str] | None = None,
        batch_id: int | None = None,
    ) -> int:
        """UPDATE table SET col = expr, ... WHERE ...: rewrite matching
        rows with ``set_exprs`` (SQL expressions, may reference the
        row's own columns) in exactly the files that hold one — same
        planner, pruning, CDF capture, and return contract as
        ``delete``. Assigning to a column not in the schema (or to a
        partition column) raises before any IO."""
        if not set_exprs:
            raise ValueError("update needs at least one SET expression")
        return self._rewrite_where(
            spark, table, predicates, where, set_exprs, pk_cols, batch_id
        )

    def _rewrite_where(
        self,
        spark: SparkSession,
        table: str,
        predicates: dict[str, tuple],
        where: str | None,
        set_exprs: dict[str, str] | None,
        pk_cols: list[str] | None,
        batch_id: int | None,
    ) -> int:
        snap = self._snapshot()
        if batch_id is not None and batch_id <= snap.last_batch_id:
            return -1
        if table not in snap.schemas:
            raise ValueError(f"unknown table {table!r}")
        schema = StructType.fromJson(json.loads(snap.schemas[table]))
        colnames = {f.name for f in schema.fields}
        spec = snap.partition_cols.get(table) or []
        if set_exprs:
            bad = set(set_exprs) - colnames
            if bad:
                raise ValueError(f"SET references unknown columns {bad}")
            respec = set(set_exprs) & set(spec)
            if respec:
                raise ValueError(
                    f"SET cannot assign partition columns {respec}; "
                    "rewrite the partition layout with commit(partition_by=)"
                )
        active = snap.adds.get(table, {})
        # (1) stats prune on the declared ranges INTERSECTED with ranges
        # derived from the raw where string's simple conjunctive terms
        # (VERDICT r8 item 1) — a where-only DELETE/UPDATE (the common
        # SQL shape) prunes like a declared-range one instead of making
        # every active file a candidate. Derived ranges are pruning-only
        # supersets; the row condition below stays the exact truth.
        prune_ranges = dict(predicates)
        derived = _ranges_from_where(where)
        for column, (dlo, dhi) in derived.items():
            if column not in colnames:
                continue  # not a real column: contributes no pruning
            plo, phi = prune_ranges.get(column, (None, None))
            try:
                if dlo is not None:
                    plo = dlo if plo is None else max(plo, dlo)
                if dhi is not None:
                    phi = dhi if phi is None else min(phi, dhi)
            except TypeError:
                continue  # incomparable with the declared range: keep it
            prune_ranges[column] = (plo, phi)
        # ranges arrive logical; file stats are physical-named
        mapping = dict(snap.mappings.get(table, {}) or {})
        phys_ranges = {mapping.get(c, c): [r] for c, r in prune_ranges.items()}
        candidates = {
            p: a
            for p, a in active.items()
            if _file_intersects_ranges(a.get("stats") or {}, phys_ranges)
        }
        # the full row condition: ranges AND residual, NULL = no match
        cond = F.lit(True)
        for column, (lo, hi) in predicates.items():
            if lo is not None:
                cond = cond & (F.col(column) >= F.lit(lo))
            if hi is not None:
                cond = cond & (F.col(column) <= F.lit(hi))
        if where is not None:
            cond = cond & F.expr(where)
        cond = F.coalesce(cond, F.lit(False))
        # (2) exact touch set — only candidate files holding a match
        op = "update" if set_exprs else "delete"
        touched: list[str] = []
        if candidates:
            touched, _ = self._probe_touched(
                spark, table, schema, mapping, active, candidates,
                [f.name for f in schema.fields],
                lambda rows: rows.filter(cond), op,
            )
        self.last_rewrite_stats = {
            "op": op,
            "active": len(active),
            "candidates": len(candidates),
            "touched": len(touched),
            # which columns the where-string parser contributed pruning
            # ranges for (beyond the declared predicates) — lets tests
            # and operators see that a where-only DML call still pruned
            "derived_prune_cols": sorted(
                c for c in derived if c in colnames
            ),
        }
        if not touched:
            return -1  # nothing matched: no version, by contract
        # (3) rewrite the touched files only (read THROUGH deletion
        # vectors — suppressed rows must not resurrect)
        old_rows = self._read_files(
            spark, snap, table, {p: active[p] for p in touched}
        )
        if set_exprs:
            new_region = old_rows.withColumns(
                {
                    c: F.when(cond, F.expr(e)).otherwise(F.col(c))
                    for c, e in set_exprs.items()
                }
            )
            # when/otherwise coercion can silently WIDEN a column (a
            # string- or double-producing SET expression on a numeric
            # column), committing parquet every subsequent read/compact
            # fails on under spark.read.schema(stored schema). Reject
            # before any IO (ADVICE r8, delta_log.py:1669).
            declared = {f.name: f.dataType for f in schema.fields}
            for f in new_region.schema.fields:
                if f.name in set_exprs and f.dataType != declared[f.name]:
                    raise ValueError(
                        f"SET expression for {f.name!r} produces "
                        f"{f.dataType.simpleString()} but the column is "
                        f"declared {declared[f.name].simpleString()}; "
                        "cast the expression to the column's type "
                        "explicitly"
                    )
        else:
            new_region = old_rows.filter(~cond)
        adds = self._write_data_files(
            table, new_region, spec or None, mapping=mapping
        )
        cdc_adds: list[dict] = []
        actions: list[dict] = []
        if self.enable_cdf and pk_cols:
            committed = self._read_adds(spark, table, adds, schema, mapping)
            cdc_adds, actions = self._capture_cdc(
                table, old_rows, committed, pk_cols, mapping
            )
        actions.extend(
            {"remove": {"table": table, "path": p}} for p in touched
        )
        actions.extend({"add": a} for a in adds)
        staged = {
            "actions": actions, "adds": adds, "cdc_adds": cdc_adds,
            "dv_paths": [],
        }
        return self._commit_staged(
            spark, snap, op, [table], [staged], batch_id
        )

    # -- file skipping on read ----------------------------------------------

    def read_where(
        self,
        spark: SparkSession,
        table: str,
        column: str,
        lo=None,
        hi=None,
        version: int | None = None,
    ) -> tuple[DataFrame, int, int]:
        """Range scan with format-level file skipping: drop files whose
        footer [min,max] cannot intersect [lo,hi] before Spark lists
        them, then apply the residual filter for exactness. Returns
        (df, files_total, files_read) so callers (and tests) can see the
        prune. NULL-handling: a file whose stats show null_count>0 for
        ``column`` is kept only for the residual filter to decide —
        range predicates are null-rejecting, so stats-pruned files can
        never hide a matching row."""
        return self.read_where_all(
            spark, table, {column: (lo, hi)}, version=version
        )

    def read_where_all(
        self,
        spark: SparkSession,
        table: str,
        predicates: dict[str, tuple],
        version: int | None = None,
    ) -> tuple[DataFrame, int, int]:
        """Conjunctive multi-column range scan with file skipping: a
        file is pruned when ANY predicate's [lo, hi] is disjoint from
        its [min, max] stats — exactly how real queries filter (several
        columns ANDed), and the reason Z-order layout pays off: after
        ``compact(zorder_by=[x, y])`` every file has a tight box on both
        columns, so a 2-predicate scan reads ~the intersection's files.
        ``predicates``: {column: (lo, hi)} with None for open ends.
        Returns (df, files_total, files_read)."""
        snap = self._snapshot(version)
        active = snap.adds.get(table, {})
        mapping = snap.mappings.get(table, {}) or {}
        phys_ranges = {mapping.get(c, c): [r] for c, r in predicates.items()}
        kept = {
            p: a
            for p, a in active.items()
            if _file_intersects_ranges(a.get("stats") or {}, phys_ranges)
        }
        df = self._read_files(spark, snap, table, kept)
        for column, (lo, hi) in predicates.items():
            if lo is not None:
                df = df.filter(F.col(column) >= F.lit(lo))
            if hi is not None:
                df = df.filter(F.col(column) <= F.lit(hi))
        return df, len(active), len(kept)

    # -- maintenance -----------------------------------------------------------

    def compact(
        self,
        spark: SparkSession,
        table: str,
        target_files: int = 1,
        zorder_by: list[str] | None = None,
    ) -> int:
        """Bin-pack small files (the classic streaming-ingest tail):
        rewrite the table's active files into ``target_files`` and swap
        them in one commit. Logically a no-op (same rows) — the pytest
        law — but turns N tiny appends into scan-friendly files. The
        rewrite is a read+repartition+write of THIS table only.

        ``zorder_by`` (the OPTIMIZE ... ZORDER BY analog): instead of a
        hash repartition, lay the rewrite out along the Morton curve
        over the given columns (sources/layout.zorder_key), so every
        output file gets a tight [min,max] box on ALL of them and
        ``read_where`` prunes on any dimension — multi-column data
        skipping that streaming ingest order destroys and a single-
        column sort cannot restore."""
        snap = self._snapshot()
        active = snap.adds.get(table, {})
        df = self._read_files(spark, snap, table, active)
        if zorder_by:
            from cdc_init_spark.sources.layout import zorder_key

            ranked, z = zorder_key(df, zorder_by, bits=8)
            df = (
                ranked.withColumn("_z", z)
                .repartitionByRange(target_files, "_z")
                .drop("_z", *[f"_zr_{c}" for c in zorder_by])
            )
        else:
            df = df.repartition(target_files)
        adds = self._write_data_files(
            table, df, snap.partition_cols.get(table),
            mapping=snap.mappings.get(table, {}),
        )
        actions = [{"commitInfo": {"operation": "compact"}}]
        actions += [{"remove": {"table": table, "path": p}} for p in active]
        actions.extend({"add": a} for a in adds)
        actions.append({"txn": {"batch_id": snap.last_batch_id}})
        if not self._try_write_commit(snap.version + 1, actions):
            self._abandon(adds)
            raise CommitConflictError("concurrent commit during compact")
        self._maybe_checkpoint(snap.version + 1)
        return snap.version + 1

    def _maybe_auto_compact(self, spark: SparkSession, table: str) -> None:
        """Post-commit policy check (VERDICT r8 item 4): when the
        table's active file count or live dv count crossed its
        threshold, run compact() — reusing the one reconciler the
        format already proves correct (logical no-op law + dv
        retirement law). Called only from successful data-writing
        commits; never raises (a concurrent writer winning the compact
        race just defers maintenance to the next commit)."""
        if self.auto_compact_files is None and self.auto_compact_dvs is None:
            return
        snap = self._snapshot()
        n_files = len(snap.adds.get(table, {}))
        n_dvs = len(snap.dvs.get(table, {}))
        trigger = None
        if (
            self.auto_compact_files is not None
            and n_files > self.auto_compact_files
        ):
            trigger = "files"
        elif (
            self.auto_compact_dvs is not None
            and n_dvs > self.auto_compact_dvs
        ):
            trigger = "dvs"
        if trigger is None:
            return
        try:
            self.compact(
                spark, table, target_files=self.auto_compact_target_files
            )
            self.auto_compactions.append((table, trigger))
        except CommitConflictError:
            pass  # a racing writer won; re-evaluated after its commit

    def history(self) -> list[dict]:
        """Audit log: one row per version still present as a JSON log
        entry (entries archived behind a checkpoint are omitted), with
        the commitInfo operation and the txn batch id. Newest first,
        like Delta's DESCRIBE HISTORY."""
        out = []
        latest = self._snapshot().version
        for v in range(latest, -1, -1):
            path = self._log_path(v)
            if not os.path.exists(path):
                continue
            row = {
                "version": v, "operation": None, "batch_id": None, "ts": None,
            }
            with open(path) as f:
                for line in f:
                    a = json.loads(line)
                    if "commitInfo" in a:
                        row["operation"] = a["commitInfo"].get("operation")
                        row["ts"] = a["commitInfo"].get("ts")
                    elif "txn" in a:
                        row["batch_id"] = a["txn"]["batch_id"]
            out.append(row)
        return out

    def clone(self, spark: SparkSession, src: str, dst: str) -> int:
        """CLONE ``src`` into a new table ``dst`` (the Delta SHALLOW
        CLONE shape, realized with hard links so the clone is
        vacuum-safe): one commit carrying ``dst``'s metaData (schema,
        partition spec, constraints), hard-linked twins of every active
        data file and deletion vector, and remapped dv applies_to sets.
        Cost is O(active files) metadata + directory entries — ZERO data
        bytes move, which is the entire point at 100 TB (dev/test forks,
        point-in-time experiment tables). Because each table owns its
        own directory entry to the shared inode, vacuuming either table
        afterwards can never invalidate the other — the failure mode a
        path-reference shallow clone (Delta's) hits when the source is
        vacuumed. The two tables evolve independently from the commit
        on. ``spark`` is unused (metadata-only op) but kept for API
        symmetry with the other table-level verbs."""
        while True:
            snap = self._snapshot()
            if src not in snap.schemas:
                raise ValueError(f"unknown table {src!r}")
            if dst in snap.schemas:
                raise ValueError(f"table {dst!r} already exists")
            dst_meta = {
                "table": dst,
                "schema_json": snap.schemas[src],
                "partition_cols": snap.partition_cols.get(src, []),
            }
            # the hard-linked twins are physical-named bytes: the clone
            # needs the source's column mapping (and its never-reuse
            # retired set) to read them
            if snap.mappings.get(src):
                dst_meta["column_mapping"] = dict(snap.mappings[src])
            if snap.retired.get(src):
                dst_meta["retired_physical"] = sorted(snap.retired[src])
            actions: list[dict] = [
                {"commitInfo": {"operation": f"clone({src}->{dst})"}},
                {"metaData": dst_meta},
            ]

            def _twin(rel_path: str) -> str:
                return f"{dst}/{rel_path.split('/', 1)[1]}"

            def _link_young(src_abs: str, dst_abs: str) -> None:
                # A hard link shares the SOURCE inode's mtime, so an old
                # source would make the not-yet-committed twin look like
                # a stale orphan to a concurrent vacuum's retention guard
                # (_vacuum_plan compares getmtime to the cutoff) — the
                # vacuum would delete it and the committed clone's reads
                # would fail forever. Bump the inode timestamp so the
                # twin counts as young, exactly like an in-flight
                # writer's fresh data files (ADVICE r8, delta_log:1920).
                # The source is live (still referenced) so touching its
                # shared mtime is harmless.
                os.link(src_abs, dst_abs)
                os.utime(dst_abs)

            linked: list[str] = []  # (root-relative) undo list
            try:
                for p, a in snap.adds.get(src, {}).items():
                    dstp = _twin(p)
                    dst_abs = os.path.join(self.data_dir, dstp)
                    os.makedirs(os.path.dirname(dst_abs), exist_ok=True)
                    _link_young(os.path.join(self.data_dir, p), dst_abs)
                    linked.append(dst_abs)
                    na = dict(a)
                    na["table"], na["path"] = dst, dstp
                    actions.append({"add": na})
                for p, info in snap.dvs.get(src, {}).items():
                    dstp = _twin(p)
                    dst_abs = os.path.join(self.dv_dir, dstp)
                    os.makedirs(os.path.dirname(dst_abs), exist_ok=True)
                    _link_young(os.path.join(self.dv_dir, p), dst_abs)
                    linked.append(dst_abs)
                    actions.append(
                        {
                            "dv": {
                                "table": dst,
                                "path": dstp,
                                "cols": list(info["cols"]),
                                "applies_to": sorted(
                                    _twin(t) for t in info["applies_to"]
                                ),
                            }
                        }
                    )
            except OSError:
                for f in linked:
                    try:
                        os.unlink(f)
                    except OSError:
                        pass
                raise
            for cname, expr in snap.constraints.get(src, {}).items():
                actions.append(
                    {"constraint": {"table": dst, "name": cname,
                                    "expr": expr}}
                )
            actions.append({"txn": {"batch_id": snap.last_batch_id}})
            if self._try_write_commit(snap.version + 1, actions):
                self._maybe_checkpoint(snap.version + 1)
                return snap.version + 1
            # lost the OCC race: drop our links and re-plan against the
            # winner's state (the source's file set may have changed)
            for f in linked:
                try:
                    os.unlink(f)
                except OSError:
                    pass

    def add_constraint(
        self, spark: SparkSession, table: str, name: str, expr: str
    ) -> int:
        """ALTER TABLE ... ADD CONSTRAINT ... CHECK (expr): verify every
        EXISTING row satisfies ``expr`` (one filter-scan, like Delta),
        then commit the constraint; every subsequent data write enforces
        it inside the write pass (_enforce_constraints). NULL results
        pass, per SQL CHECK semantics. Losing an OCC race re-validates
        against the winner's state before retrying — the constraint can
        never land over rows it was not checked against."""
        while True:
            snap = self._snapshot()
            if table not in snap.schemas:
                raise ValueError(f"unknown table {table!r}")
            if name in snap.constraints.get(table, {}):
                raise ValueError(
                    f"constraint {name!r} already exists on {table!r}"
                )
            cur = self._read_files(
                spark, snap, table, snap.adds.get(table, {})
            )
            bad = (
                cur.filter(~F.coalesce(F.expr(expr), F.lit(True)))
                .limit(1)
                .count()
            )
            if bad:
                raise ValueError(
                    f"cannot add CHECK constraint {name!r} to {table!r}: "
                    f"existing rows violate {expr!r}"
                )
            actions = [
                {"commitInfo": {"operation": f"add-constraint({name})"}},
                {"constraint": {"table": table, "name": name, "expr": expr}},
                {"txn": {"batch_id": snap.last_batch_id}},
            ]
            if self._try_write_commit(snap.version + 1, actions):
                self._maybe_checkpoint(snap.version + 1)
                return snap.version + 1

    def drop_constraint(self, table: str, name: str) -> int:
        """ALTER TABLE ... DROP CONSTRAINT: stop enforcing ``name`` from
        the committed version on. Dropping an unknown name raises (the
        caller believed something was enforced; silence would hide it)."""
        while True:
            snap = self._snapshot()
            if name not in snap.constraints.get(table, {}):
                raise ValueError(f"no constraint {name!r} on {table!r}")
            actions = [
                {"commitInfo": {"operation": f"drop-constraint({name})"}},
                {"unconstraint": {"table": table, "name": name}},
                {"txn": {"batch_id": snap.last_batch_id}},
            ]
            if self._try_write_commit(snap.version + 1, actions):
                self._maybe_checkpoint(snap.version + 1)
                return snap.version + 1

    @staticmethod
    def _constraints_referencing(
        snap: "_Snapshot", table: str, column: str
    ) -> list[str]:
        """Names of CHECK constraints whose expression mentions
        ``column`` as a whole word — conservative (a string literal
        containing the name matches too), which errs loud, never
        silent."""
        pat = re.compile(rf"(?<![A-Za-z0-9_`]){re.escape(column)}(?![A-Za-z0-9_`])")
        return sorted(
            name
            for name, expr in snap.constraints.get(table, {}).items()
            if pat.search(expr)
        )

    def rename_column(self, table: str, old: str, new: str) -> int:
        """ALTER TABLE ... RENAME COLUMN (column mapping, VERDICT r8
        item 2; the Delta `columnMapping.mode=name` / Iceberg field-ID
        shape, cf. reference core.clj:50-54's identifier algebra for
        the naming rules a CDC pipeline hits): a METADATA-ONLY commit —
        the column keeps its stable PHYSICAL name, so every
        already-written data/dv/cdc file stays readable, time travel
        reads each version under its own mapping, and zero bytes move
        regardless of table size (the 100 TB point). Constraints that
        reference the column must be dropped first (their expressions
        are logical-space); partition columns rename freely (the
        col=value directories are physical-named). Returns the
        committed version."""
        if not new or new == old:
            raise ValueError(f"invalid rename {old!r} -> {new!r}")
        while True:
            snap = self._snapshot()
            if table not in snap.schemas:
                raise ValueError(f"unknown table {table!r}")
            schema = StructType.fromJson(json.loads(snap.schemas[table]))
            names = [f.name for f in schema.fields]
            if old not in names:
                raise ValueError(f"no column {old!r} on {table!r}")
            if new in names:
                raise ValueError(
                    f"column {new!r} already exists on {table!r}"
                )
            refs = self._constraints_referencing(snap, table, old)
            if refs:
                raise ValueError(
                    f"cannot rename {old!r} on {table!r}: CHECK "
                    f"constraints {refs} reference it — drop them first "
                    "and re-add against the new name"
                )
            mapping = dict(snap.mappings.get(table, {}) or {})
            phys = mapping.pop(old, old)
            if phys != new:
                mapping[new] = phys
            new_schema = StructType(
                [
                    StructField(new, f.dataType, f.nullable, f.metadata)
                    if f.name == old
                    else f
                    for f in schema.fields
                ]
            )
            spec = [
                new if c == old else c
                for c in (snap.partition_cols.get(table) or [])
            ]
            m: dict = {
                "table": table,
                "schema_json": new_schema.json(),
                "partition_cols": spec,
            }
            if mapping:
                m["column_mapping"] = mapping
            if snap.retired.get(table):
                m["retired_physical"] = sorted(snap.retired[table])
            actions = [
                {"commitInfo": {
                    "operation": f"rename-column({old}->{new})"}},
                {"metaData": m},
                {"txn": {"batch_id": snap.last_batch_id}},
            ]
            if self._try_write_commit(snap.version + 1, actions):
                self._maybe_checkpoint(snap.version + 1)
                return snap.version + 1

    #: exactness-preserving widenings the Spark 4 parquet reader
    #: handles NATIVELY on narrow files (probed: int32 pages read under
    #: a wider read schema without rewrite). long→double is deliberately
    #: absent — it loses precision above 2^53.
    _WIDEN_LATTICE = {
        ("tinyint", "smallint"), ("tinyint", "int"), ("tinyint", "bigint"),
        ("smallint", "int"), ("smallint", "bigint"),
        ("int", "bigint"),
        ("float", "double"),
        ("tinyint", "double"), ("smallint", "double"), ("int", "double"),
    }

    def widen_column_type(self, table: str, column: str, new_type) -> int:
        """ALTER TABLE ... ALTER COLUMN ... TYPE (type widening, the
        Delta 4.0 feature): a METADATA-ONLY commit — the Spark 4
        parquet reader natively reads the already-written narrow pages
        under the widened read schema, so zero bytes move and every
        version still time-travels under its own type. Only
        exactness-preserving promotions are allowed (int-chain up to
        bigint, float→double, sub-int to double); anything lossy or
        narrowing raises. ``new_type`` is a DDL string ("bigint") or a
        Spark DataType. Subsequent writes must arrive already-wide
        (the append/merge type checks stay strict — cast the frame).
        Live change-feed subscriptions fail loudly at this version
        (pinned schema cannot represent the feed) and restart on the
        widened schema; historical change bytes upcast in the Arrow
        read. Returns the committed version."""
        from pyspark.sql.types import DataType, _parse_datatype_string

        if not isinstance(new_type, DataType):
            new_type = _parse_datatype_string(str(new_type))
        while True:
            snap = self._snapshot()
            if table not in snap.schemas:
                raise ValueError(f"unknown table {table!r}")
            schema = StructType.fromJson(json.loads(snap.schemas[table]))
            by_name = {f.name: f for f in schema.fields}
            if column not in by_name:
                raise ValueError(f"no column {column!r} on {table!r}")
            old_t = by_name[column].dataType
            pair = (old_t.simpleString(), new_type.simpleString())
            if pair[0] == pair[1]:
                raise ValueError(
                    f"column {column!r} of {table!r} is already "
                    f"{pair[0]}"
                )
            if pair not in self._WIDEN_LATTICE:
                raise ValueError(
                    f"cannot widen {column!r} of {table!r} from "
                    f"{pair[0]} to {pair[1]}: only exactness-preserving "
                    "promotions are supported "
                    "(tinyint/smallint/int→bigint, float→double, "
                    "sub-int→double)"
                )
            new_schema = StructType(
                [
                    StructField(f.name, new_type, f.nullable, f.metadata)
                    if f.name == column
                    else f
                    for f in schema.fields
                ]
            )
            m: dict = {
                "table": table,
                "schema_json": new_schema.json(),
                "partition_cols": snap.partition_cols.get(table) or [],
            }
            if snap.mappings.get(table):
                m["column_mapping"] = dict(snap.mappings[table])
            if snap.retired.get(table):
                m["retired_physical"] = sorted(snap.retired[table])
            actions = [
                {"commitInfo": {
                    "operation":
                        f"widen-column({column}:{pair[0]}->{pair[1]})"}},
                {"metaData": m},
                {"txn": {"batch_id": snap.last_batch_id}},
            ]
            if self._try_write_commit(snap.version + 1, actions):
                self._maybe_checkpoint(snap.version + 1)
                return snap.version + 1

    def drop_column(self, table: str, column: str) -> int:
        """ALTER TABLE ... DROP COLUMN: a METADATA-ONLY commit — the
        column's physical name is RETIRED (never reused: a later
        re-add of the same logical name mints a fresh physical name,
        so the old files' bytes can never resurrect under it), old
        versions still show the column under time travel, and zero
        bytes move. Refuses to drop partition columns (the file layout
        depends on them — re-spec with an overwrite), the last column,
        columns referenced by CHECK constraints, and columns serving
        as live deletion-vector keys (compact() first to retire the
        dvs). Returns the committed version."""
        while True:
            snap = self._snapshot()
            if table not in snap.schemas:
                raise ValueError(f"unknown table {table!r}")
            schema = StructType.fromJson(json.loads(snap.schemas[table]))
            names = [f.name for f in schema.fields]
            if column not in names:
                raise ValueError(f"no column {column!r} on {table!r}")
            if len(names) == 1:
                raise ValueError(
                    f"cannot drop the last column of {table!r}"
                )
            if column in (snap.partition_cols.get(table) or []):
                raise ValueError(
                    f"cannot drop partition column {column!r} of "
                    f"{table!r}; re-spec the layout with an overwrite "
                    "commit first"
                )
            refs = self._constraints_referencing(snap, table, column)
            if refs:
                raise ValueError(
                    f"cannot drop {column!r} on {table!r}: CHECK "
                    f"constraints {refs} reference it — drop them first"
                )
            mapping = dict(snap.mappings.get(table, {}) or {})
            phys = mapping.pop(column, column)
            dv_users = sorted(
                p
                for p, info in snap.dvs.get(table, {}).items()
                if phys in info["cols"]
            )
            if dv_users:
                raise ValueError(
                    f"cannot drop {column!r} on {table!r}: live "
                    f"deletion vectors {dv_users[:3]} use it as a "
                    "delete key — compact() the table first"
                )
            retired = set(snap.retired.get(table, []) or [])
            retired.add(phys)
            new_schema = StructType(
                [f for f in schema.fields if f.name != column]
            )
            m: dict = {
                "table": table,
                "schema_json": new_schema.json(),
                "partition_cols": snap.partition_cols.get(table) or [],
                "retired_physical": sorted(retired),
            }
            if mapping:
                m["column_mapping"] = mapping
            actions = [
                {"commitInfo": {"operation": f"drop-column({column})"}},
                {"metaData": m},
                {"txn": {"batch_id": snap.last_batch_id}},
            ]
            if self._try_write_commit(snap.version + 1, actions):
                self._maybe_checkpoint(snap.version + 1)
                return snap.version + 1

    def restore(self, version: int) -> int:
        """RESTORE TABLE ... VERSION AS OF: commit a NEW version whose
        live set (every table: files, schema, partition spec) equals
        ``version``'s — history is preserved, nothing is rewritten
        (the old data files are re-referenced, so restore costs one log
        entry regardless of table size). Raises if ``version``'s files
        were vacuumed away."""
        target = self._snapshot(version)
        for table, files in target.adds.items():
            missing = [
                p for p in files
                if not os.path.exists(os.path.join(self.data_dir, p))
            ]
            if missing:
                raise ValueError(
                    f"cannot restore to v{version}: {table!r} file "
                    f"{missing[0]} was vacuumed"
                )
        for table, tdvs in target.dvs.items():
            missing = [
                p for p in tdvs
                if not os.path.exists(os.path.join(self.dv_dir, p))
            ]
            if missing:
                raise ValueError(
                    f"cannot restore to v{version}: {table!r} deletion "
                    f"vector {missing[0]} was vacuumed"
                )
        while True:
            cur = self._snapshot()
            actions: list[dict] = [
                {"commitInfo": {"operation": f"restore(v{version})"}}
            ]
            for table in set(cur.schemas) | set(target.schemas):
                if table in target.schemas:
                    tm = {
                        "table": table,
                        "schema_json": target.schemas[table],
                        "partition_cols": target.partition_cols.get(
                            table, []
                        ),
                    }
                    # the restored version's files read under ITS
                    # column mapping; the retired set stays the UNION
                    # (physical names are never reused, even by restore
                    # — cdc bytes from the undone span persist)
                    if target.mappings.get(table):
                        tm["column_mapping"] = dict(target.mappings[table])
                    merged_retired = set(
                        target.retired.get(table, [])
                    ) | set(cur.retired.get(table, []))
                    if merged_retired:
                        tm["retired_physical"] = sorted(merged_retired)
                    actions.append({"metaData": tm})
                else:
                    # the table didn't exist at the target version: drop
                    # it entirely — dropTable retires its files, dvs,
                    # and constraints in one action (explicit removes
                    # would reference paths dropTable already cleared)
                    actions.append({"dropTable": {"table": table}})
                    continue
                for p in cur.adds.get(table, {}):
                    actions.append({"remove": {"table": table, "path": p}})
                for a in target.adds.get(table, {}).values():
                    actions.append({"add": a})
                # the target's deletion vectors are part of its live set
                # (the removes above already retired the current dvs via
                # applies_to pruning)
                for p, info in target.dvs.get(table, {}).items():
                    actions.append(
                        {"dv": {"table": table, "path": p,
                                "cols": info["cols"],
                                "applies_to": sorted(info["applies_to"])}}
                    )
                # constraint state is part of the version being restored:
                # retire what the target didn't have, (re)assert what it did
                cur_cs = cur.constraints.get(table, {})
                tgt_cs = target.constraints.get(table, {})
                for cname in cur_cs:
                    if cname not in tgt_cs:
                        actions.append(
                            {"unconstraint": {"table": table, "name": cname}}
                        )
                for cname, expr in tgt_cs.items():
                    if cur_cs.get(cname) != expr:
                        actions.append(
                            {"constraint": {"table": table, "name": cname,
                                            "expr": expr}}
                        )
            actions.append({"txn": {"batch_id": cur.last_batch_id}})
            nxt = cur.version + 1
            if self._try_write_commit(nxt, actions):
                self._maybe_checkpoint(nxt)
                return nxt

    def changes_between(
        self,
        spark: SparkSession,
        table: str,
        v_old: int,
        v_new: int,
        pk_cols: list[str],
    ) -> DataFrame:
        """CDC read over the format (Delta's table_changes): the minimal
        keyed DML set transforming version ``v_old`` into ``v_new`` —
        one PK full-outer join via streaming/apply.diff_snapshots, so
        ``apply_changes(read(v_old), result) ≡ read(v_new)`` by the
        diff law already pinned in test_apply.

        **Fast path (r8):** a single-version span whose commit captured
        change data (``enable_cdf``) reads the stored ``_cdc`` files
        directly — they ARE the exact diff, derived from the committed
        bytes at commit time — so the CDC read costs O(change set), not
        two table scans. At 100 TB that is the difference between a
        metadata-plus-delta read and scanning the table twice. Wider
        spans (and spans whose log entries are archived or lack CDF)
        keep the exact one-join diff: per-version DML sets do not
        compose into a minimal diff (an insert-then-delete pair must
        vanish entirely). Law (pytest): fast path ≡ diff path.
        ``last_changes_path`` records which path served the last call."""
        from cdc_init_spark.streaming.apply import diff_snapshots

        if v_new == v_old + 1:
            fast = self._changes_of_version(spark, table, v_new, pk_cols)
            if fast is not None:
                self.last_changes_path = "cdc-files"
                return fast
        self.last_changes_path = "diff"
        old_df = self.read(spark, table, version=v_old)
        new_df = self.read(spark, table, version=v_new)
        s_old = self._snapshot(v_old)
        s_new = self._snapshot(v_new)
        m_old = s_old.mappings.get(table, {}) or {}
        m_new = s_new.mappings.get(table, {}) or {}
        if (
            s_old.schemas.get(table) != s_new.schemas.get(table)
            or m_old != m_new
        ):
            # the span crosses a schema change: align the OLD side to
            # v_new's logical vocabulary via the stable physical names —
            # a pure rename contributes NO row changes (same bytes, new
            # label), a widened column upcasts (exact by the widen
            # lattice), a dropped column stops participating, and a
            # column added in the span reads as NULL on the old side
            # (exactly what v_new's untouched old files report)
            old_by_phys = {m_old.get(c, c): c for c in old_df.columns}
            new_schema = StructType.fromJson(
                json.loads(s_new.schemas[table])
            )
            old_df = old_df.select(
                *[
                    F.col(old_by_phys[m_new.get(f.name, f.name)])
                    .cast(f.dataType)
                    .alias(f.name)
                    if m_new.get(f.name, f.name) in old_by_phys
                    else F.lit(None).cast(f.dataType).alias(f.name)
                    for f in new_schema.fields
                ]
            )
        return diff_snapshots(old_df, new_df, pk_cols)

    def _changes_of_version(
        self, spark: SparkSession, table: str, version: int, pk_cols: list[str]
    ) -> DataFrame | None:
        """The stored change data of one committed version in
        diff_snapshots column order (pk..., type, data...), or None when
        the fast path does not apply (no cdcMeta for the table, entry
        archived behind a checkpoint, or the stored key columns disagree
        with ``pk_cols``)."""
        from pyspark.sql.types import StringType, StructField
        from pyspark.sql.types import StructType as _ST

        path = self._log_path(version)
        if not os.path.exists(path):
            return None
        has_meta = False
        cdc_files: list[str] = []
        with open(path) as f:
            for line in f:
                a = json.loads(line)
                if "cdcMeta" in a and a["cdcMeta"]["table"] == table:
                    # the stored diff is the fast-path answer ONLY under
                    # the key vocabulary it was captured with — a diff
                    # keyed on (id) cannot answer a (id, name)-keyed CDC
                    # read (a name change is an update there, not a
                    # delete+insert). Entries from before pk recording
                    # (r7) carry no pk_cols and take the exact-diff path.
                    has_meta = a["cdcMeta"].get("pk_cols") == pk_cols
                elif "cdc" in a and a["cdc"]["table"] == table:
                    cdc_files.append(a["cdc"]["path"])
        if not has_meta:
            return None
        snap = self._snapshot(version)
        schema = StructType.fromJson(json.loads(snap.schemas[table]))
        data_cols = [f.name for f in schema.fields if f.name not in pk_cols]
        out_cols = [*pk_cols, "type", *data_cols]
        if not cdc_files:
            # captured, and the diff was empty: a committed logical no-op
            by_name = {f.name: f for f in schema.fields}
            return spark.createDataFrame(
                [],
                _ST(
                    [
                        StructField("type", StringType())
                        if c == "type"
                        else by_name[c]
                        for c in out_cols
                    ]
                ),
            )
        full = [os.path.join(self.cdc_dir, p) for p in cdc_files]
        missing = [p for p in full if not os.path.exists(p)]
        if missing:
            raise ValueError(
                f"version {version} change data was vacuumed "
                f"(e.g. {missing[0]}); CDC reads below the vacuum horizon "
                "are gone by design"
            )
        # cdc bytes are PHYSICAL-named ("type" is DML metadata, identity)
        mapping = snap.mappings.get(table, {}) or {}
        df = spark.read.parquet(*full)
        phys_cols = {c: mapping.get(c, c) for c in out_cols if c != "type"}
        if (set(phys_cols.values()) | {"type"}) - set(df.columns):
            return None  # stored under different key columns: exact diff
        return df.select(
            *[
                F.col("type") if c == "type"
                else F.col(phys_cols[c]).alias(c)
                for c in out_cols
            ]
        )

    def vacuum(
        self,
        horizon: int,
        retention_s: float = DEFAULT_VACUUM_RETENTION_S,
    ) -> list[str]:
        """Delete data files unreferenced by every version ≥ ``horizon``
        (time travel below the horizon is surrendered; reads there fail
        with a clear error). Also collects orphans from crashed writers
        — data files no version ever committed — and change-data files
        (``_cdc/``) referenced only by log entries below the horizon:
        the change feed's streamable range shrinks with the same horizon
        time travel does. Returns deleted paths.

        Two guards make this safe under lock-free concurrent writers
        (ADVICE r6, delta_log.py:882):

        1. **Retention window** — files younger than ``retention_s`` are
           never deleted (Delta's default-7-day rule). An in-flight
           writer's data files exist BEFORE its log commit and are
           indistinguishable from crashed-writer orphans by any
           snapshot; age is the only separator. Pass ``retention_s=0``
           only when no writer can be in flight (tests, maintenance
           windows).
        2. **Re-snapshot before delete** — commits that land between
           computing the live set and deleting (e.g. a ``restore`` that
           re-references an old file) are re-read, and any candidate
           they reference is spared.
        """
        latest, candidates = self._vacuum_plan(horizon, retention_s)
        return self._vacuum_execute(horizon, latest, candidates)

    def _cdc_refs(self, lo: int, hi: int) -> set[str]:
        """cdc-file rel paths referenced by the EXISTING log entries in
        [lo, hi] (cdc actions live only in the JSON entries — checkpoints
        don't carry them, so archived versions' change data is already
        below the streaming horizon)."""
        refs: set[str] = set()
        for v in range(lo, hi + 1):
            path = self._log_path(v)
            if not os.path.exists(path):
                continue
            with open(path) as f:
                for line in f:
                    a = json.loads(line)
                    if "cdc" in a:
                        refs.add(a["cdc"]["path"])
        return refs

    def _vacuum_plan(
        self, horizon: int, retention_s: float
    ) -> tuple[int, list[tuple[str, str]]]:
        """(latest version seen, candidates as (root_dir, rel) pairs:
        data files unreferenced by any version ≥ horizon, and change-data
        files unreferenced by any log entry ≥ horizon — both only when
        older than the retention window)."""
        latest = self._snapshot().version
        if not 0 <= horizon <= latest:
            raise ValueError(f"horizon must be in [0, {latest}]")
        live: set[str] = set()
        live_dv: set[str] = set()
        for v in range(horizon, latest + 1):
            snap = self._snapshot(v)
            for table_files in snap.adds.values():
                live.update(table_files)
            for tdvs in snap.dvs.values():
                live_dv.update(tdvs)
        live_cdc = self._cdc_refs(horizon, latest)
        cutoff = time.time() - retention_s
        candidates: list[tuple[str, str]] = []
        for base, live_set in (
            (self.data_dir, live),
            (self.cdc_dir, live_cdc),
            (self.dv_dir, live_dv),
        ):
            if not os.path.isdir(base):
                continue
            for dirpath, _dirs, names in os.walk(base):
                for name in names:
                    full = os.path.join(dirpath, name)
                    rel = os.path.relpath(full, base).replace(os.sep, "/")
                    if rel in live_set:
                        continue
                    try:
                        if os.path.getmtime(full) > cutoff:
                            continue  # young: possibly an in-flight writer's
                    except OSError:
                        continue  # deleted underneath us: nothing to do
                    candidates.append((base, rel))
        return latest, candidates

    def _vacuum_execute(
        self, horizon: int, latest: int, candidates: list[tuple[str, str]]
    ) -> list[str]:
        """Re-snapshot (commits since ``latest`` may re-reference a
        candidate — restore does exactly that), then delete survivors.
        Returned paths: data files table-relative, change-data files
        prefixed ``_cdc/``."""
        spared: set[str] = set()
        spared_dv: set[str] = set()
        new_latest = self._snapshot().version
        for v in range(max(horizon, latest + 1), new_latest + 1):
            snap = self._snapshot(v)
            for table_files in snap.adds.values():
                spared.update(table_files)
            for tdvs in snap.dvs.values():
                spared_dv.update(tdvs)
        spared_cdc = self._cdc_refs(latest + 1, new_latest)
        deleted = []
        for base, rel in candidates:
            if base == self.data_dir and rel in spared:
                continue
            if base == self.cdc_dir and rel in spared_cdc:
                continue
            if base == self.dv_dir and rel in spared_dv:
                continue
            try:
                os.unlink(os.path.join(base, rel))
            except FileNotFoundError:
                continue
            if base == self.data_dir:
                deleted.append(rel)
            elif base == self.cdc_dir:
                deleted.append(f"_cdc/{rel}")
            else:
                deleted.append(f"_dv/{rel}")
        return sorted(deleted)


class Transaction:
    """Multi-table atomic commit over a DeltaLogFormat (VERDICT r8
    item 5): stage keyed merges and overwrites against ONE snapshot,
    land them all in ONE log version — a reader at any version sees
    every staged change or none. The crash story is the commit
    primitive's: data/cdc/dv files written before the log link are
    invisible orphans until the single put-if-absent succeeds, so there
    is no interleaving in which one table's update is observable without
    the others' (the law pinned in tests/test_delta_log.py).

    Created via ``DeltaLogFormat.transaction(spark)``; ops stage
    eagerly (files written at stage time, CHECK constraints enforced
    inside the write pass); ``commit(batch_id)`` is the only durable
    step. Each table may be staged at most once — a second op on the
    same table would plan against state the first already changed.
    Overwrites staged here do not capture change data (use
    ``DeltaLogFormat.commit(cdc_pk_cols=...)`` for CDF overwrites);
    merges capture CDF exactly as ``merge`` does."""

    def __init__(self, fmt: DeltaLogFormat, spark: SparkSession) -> None:
        self.fmt = fmt
        self.spark = spark
        self.snap = fmt._snapshot()
        self._staged: list[dict] = []
        self._tables: list[str] = []
        self._op_names: list[str] = []
        self._finished = False

    def _guard(self, table: str) -> None:
        if self._finished:
            raise RuntimeError("transaction already committed or aborted")
        if table in self._tables:
            raise ValueError(
                f"table {table!r} is already staged in this transaction; "
                "one op per table (a second would plan against state the "
                "first already changed)"
            )

    def merge(
        self,
        table: str,
        changes: DataFrame,
        pk_cols: list[str],
        order_col: str = "ts",
        type_col: str = "type",
        strategy: str = "cow",
        evolve_schema: bool = False,
    ) -> "Transaction":
        """Stage a keyed MERGE (same planning, pruning, CDF capture and
        MoR semantics as ``DeltaLogFormat.merge``) for this
        transaction's single commit."""
        self._guard(table)
        if strategy not in ("cow", "mor"):
            raise ValueError(f"unknown merge strategy {strategy!r}")
        staged = self.fmt._stage_merge(
            self.spark, self.snap, table, changes, pk_cols, order_col,
            type_col, strategy, evolve_schema,
        )
        self._staged.append(staged)
        self._tables.append(table)
        self._op_names.append(
            f"{'merge' if strategy == 'cow' else 'merge-mor'}({table})"
        )
        return self

    def overwrite(
        self,
        table: str,
        df: DataFrame,
        partition_by: list[str] | None = None,
    ) -> "Transaction":
        """Stage a full overwrite of ``table`` (the
        ``DeltaLogFormat.commit`` shape for one table) for this
        transaction's single commit. Creates the table when new."""
        self._guard(table)
        spec = (
            partition_by
            if partition_by is not None
            else self.snap.partition_cols.get(table)
        )
        mapping, retired = self.fmt._evolve_mapping(
            self.snap, table, list(df.columns)
        )
        adds = self.fmt._write_data_files(
            table, df, spec, self.snap.constraints.get(table, {}), mapping
        )
        actions = self.fmt._overwrite_actions(
            self.snap, table, df, spec, mapping, retired, adds
        )
        self._staged.append(
            {"actions": actions, "adds": adds, "cdc_adds": [],
             "dv_paths": []}
        )
        self._tables.append(table)
        self._op_names.append(f"overwrite({table})")
        return self

    def commit(self, batch_id: int | None = None) -> int:
        """Land every staged op as ONE version. Returns the committed
        version; -1 for a replayed ``batch_id`` (staged files are
        abandoned — the earlier commit already holds this batch's
        state). Raises CommitConflictError when a concurrent commit
        changed any staged table after planning (re-run the whole
        transaction against the new state)."""
        if self._finished:
            raise RuntimeError("transaction already committed or aborted")
        if not self._staged:
            raise ValueError("empty transaction: stage at least one op")
        self._finished = True
        return self.fmt._commit_staged(
            self.spark, self.snap, f"txn[{', '.join(self._op_names)}]",
            self._tables, self._staged, batch_id,
        )
