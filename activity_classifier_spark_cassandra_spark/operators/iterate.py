"""RoundLoop: the one materialize / observe / release / tag helper of
the iterative operators (NN-descent, beam search, k-center, connected
components, PageRank, BPE, power iteration, the streaming index
trigger).  Per round it owns:

- materialization: ``checkpoint`` eagerly, at the operator's cadence,
  so the next round reads the state instead of replaying its lineage;
- the round's statistic (update count, fingerprint, next center, ...):
  aggregates passed to ``checkpoint`` are an ``Observation`` on that
  same job, never a second ``count()`` / ``first()`` / ``collect()``;
- release: round i-1 is freed once round i has materialized, and
  everything the loop holds is freed on exit, error paths included
  (a failed release is logged once);
- tagging: jobs carry the description ``<operator>:round <i>``
  (``<operator>:setup`` before the first round); the caller's
  description is restored on exit.

Loop-invariant inputs are held with ``pin`` (checkpoint) or ``cache``
(persist) and freed on exit.  An operator that returns a lazy plan over
its last round passes ``keep_last=True``.
"""

from __future__ import annotations

import logging
from collections.abc import Iterable, Iterator

from pyspark import SparkContext, StorageLevel
from pyspark.sql import Column, DataFrame, Observation

log = logging.getLogger(__name__)

_DESC = "spark.job.description"
_release_failed_logged = False


def _release(df: DataFrame, cached: bool) -> None:
    """Free one frame's storage blocks without waiting.  A checkpoint's
    blocks hang off the internal RDD under its LogicalRDD node —
    ``DataFrame.unpersist`` only covers ``persist``."""
    global _release_failed_logged
    try:
        if cached:
            df.unpersist(False)
        else:
            df._jdf.queryExecution().analyzed().rdd().unpersist(False)
    except Exception:
        if not _release_failed_logged:
            _release_failed_logged = True
            log.warning(
                "could not free a round's storage blocks; they stay"
                " until the driver collects them",
                exc_info=True,
            )


class RoundLoop:
    """Context manager for one run of an iterative operator's loop."""

    def __init__(self, name: str, keep_last: bool = False) -> None:
        self.name = name
        self.keep_last = keep_last
        #: observed metrics of the latest ``checkpoint`` call
        self.stats: dict = {}
        self._round = 0
        # loop-invariants as (frame, cached), and the checkpoints of the
        # latest round that materialized anything
        self._pinned: list[tuple[DataFrame, bool]] = []
        self._live: list[DataFrame] = []
        self._live_round = 0

    def __enter__(self) -> RoundLoop:
        self._sc = SparkContext.getOrCreate()
        self._outer_desc = self._sc.getLocalProperty(_DESC)
        self._sc.setJobDescription(f"{self.name}:setup")
        return self

    def __exit__(self, exc_type, exc, tb) -> None:
        self._sc.setLocalProperty(_DESC, self._outer_desc)
        if exc_type is None and self.keep_last:
            self._live = []
        for df in self._live:
            _release(df, cached=False)
        for df, cached in self._pinned:
            _release(df, cached)
        self._live, self._pinned = [], []

    def rounds(self, ids: Iterable[int]) -> Iterator[int]:
        """Yield the operator's round ids, tagging each round's jobs."""
        for i in ids:
            self._round = i
            self._sc.setJobDescription(f"{self.name}:round {i}")
            yield i

    def checkpoint(self, df: DataFrame, **metrics: Column) -> DataFrame:
        """Materialize this round's state; ``metrics`` (name -> aggregate
        column) are observed on the same job and land in ``stats``.
        Frames of earlier rounds are freed once this one exists."""
        obs = None
        if metrics:
            obs = Observation()
            df = df.observe(obs, *(c.alias(k) for k, c in metrics.items()))
        done = df.localCheckpoint(eager=True)
        self.stats = obs.get if obs is not None else {}
        if self._live_round != self._round:
            for old in self._live:
                _release(old, cached=False)
            self._live, self._live_round = [], self._round
        self._live.append(done)
        return done

    def pin(self, df: DataFrame) -> DataFrame:
        """Checkpoint a loop-invariant frame; freed on exit."""
        done = df.localCheckpoint(eager=True)
        self._pinned.append((done, False))
        return done

    def cache(
        self,
        df: DataFrame,
        level: StorageLevel = StorageLevel.MEMORY_AND_DISK_DESER,
        count: bool = False,
    ) -> DataFrame:
        """Persist a loop-invariant frame (materialized by its first
        reader, or now with ``count``); freed on exit.  A cached frame,
        unlike a checkpoint, shows the planner its real size."""
        df = df.persist(level)
        self._pinned.append((df, True))
        if count:
            df.count()
        return df
