"""TableFormat — the transactional multi-version table abstraction the
continuous-aggregate pipeline writes through (VERDICT r5 "Next round"
item 7).

``streaming/apply.py`` needs ACID-table semantics (versioned snapshots
readers never see half-written, replay idempotence keyed on the
micro-batch id, version time travel). This module names that contract
as an ABC; ``sources/delta_log.DeltaLogFormat`` is its implementation
(an immutable-file + action-log format with O(delta) commits), and the
apply/time-travel/IVM pytest suite (tests/test_apply.py) pins the
semantics. A Delta/Iceberg binding would implement the same operations,
plus the multi-table ``transaction`` (keyed merge + overwrite in one
version) that ``continuous_agg_step`` commits through, with the
format's native transaction log (``commit`` → one transactional
multi-table write carrying the batch id in commit metadata,
``read(version=...)`` → native time travel).

Contract (what any implementation MUST guarantee):
1. **Atomic visibility** — ``read`` never observes a partially-committed
   version; a crash mid-``commit`` leaves the previous version current.
2. **Replay idempotence** — ``commit`` with a ``batch_id`` ≤ the last
   durable one is a no-op returning False: at-least-once micro-batch
   delivery collapses to effectively-once state
   (streaming/idempotent.py's law, applied to tables).
3. **Monotonic versions** — each successful commit advances
   ``latest_version`` by exactly 1; historical versions stay readable
   (time travel) until a retention policy (not modeled here) removes
   them.
"""

from __future__ import annotations

from abc import ABC, abstractmethod

from pyspark.sql import DataFrame, SparkSession


class TableFormat(ABC):
    """A transactional, multi-version, multi-table store (one 'commit
    scope': all tables in a commit become visible together)."""

    @abstractmethod
    def init(self, tables: dict[str, DataFrame]) -> None:
        """Write version 0 (the initial snapshot) atomically."""

    @abstractmethod
    def commit(self, tables: dict[str, DataFrame], batch_id: int) -> bool:
        """Write the next version atomically. Returns False (no-op) when
        ``batch_id`` was already committed — checkpoint-replay safety."""

    @abstractmethod
    def read(
        self, spark: SparkSession, table: str, version: int | None = None
    ) -> DataFrame:
        """Latest complete version of ``table``, or time-travel to an
        explicit ``version``."""

    @abstractmethod
    def latest_version(self) -> int:
        """Version number of the last complete commit (0-based)."""

    @abstractmethod
    def has_table(self, table: str, version: int | None = None) -> bool:
        """Whether ``table`` exists at the (latest or given) version —
        lets a first commit add tables v0 didn't carry (e.g. the agg)."""
