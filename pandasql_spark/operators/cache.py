"""Lineage barriers and cleanup hooks for operator-internal frames.

Two primitives, one release protocol:

- ``barrier(df, eager=False)`` is the ONE way an operator cuts lineage
  (iterative rounds, self-joining stages, multi-epoch training). It
  returns ``df.localCheckpoint(eager)`` with its own
  ``cleanup(blocking=False)`` releasing the checkpoint's persisted
  blocks. Releasing makes the frame UNRECOMPUTABLE (lineage was
  truncated): materialize everything that reads it first.
- ``attach_cleanup(result, *frames)`` gives a lazy result an explicit
  ``result.cleanup(blocking=False)`` for the moment the caller has
  materialized or written it. Entries are frames only: each entry's own
  ``cleanup`` runs first (so hooks compose through pipelines like
  ``dedup_corpus``), then the entry is unpersisted. Callers that skip
  cleanup still fall back to Spark's LRU eviction.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def attach_cleanup(result: DataFrame, *frames: DataFrame) -> DataFrame:
    """Attach ``result.cleanup(blocking=False)`` releasing every frame in
    ``frames``: the frame's own ``cleanup`` when it carries one, then its
    ``unpersist``. The blocking flag reaches both."""

    def cleanup(blocking: bool = False) -> None:
        for f in frames:
            # instance attribute only: DataFrame.__getattr__ would hand
            # back a Column for a column that happens to be named cleanup
            own = vars(f).get("cleanup")
            if own is not None:
                own(blocking=blocking)
            f.unpersist(blocking=blocking)

    result.cleanup = cleanup
    return result


def barrier(df: DataFrame, eager: bool = False) -> DataFrame:
    """``df.localCheckpoint(eager)`` carrying ``cleanup(blocking=False)``
    that releases its persisted blocks — which plain
    ``DataFrame.unpersist()`` cannot reach (the blocks belong to an
    internal RDD, not the plan cache).

    The blocks are found by persistent-RDD id diff around the checkpoint
    call — valid for ``eager=False`` too: Spark registers the checkpoint
    RDD in the persistent-RDD registry at MARK time (persist() runs
    inside localCheckpoint()), even though its blocks materialize on
    first compute (probed on 4.1). Single-driver-thread operators only —
    a concurrent persist landing in the diff window would be captured
    too. After ``cleanup()`` the frame is unrecomputable, so only release
    a barrier that nothing downstream will read again."""
    sc = df.sparkSession.sparkContext
    before = set(sc._jsc.getPersistentRDDs().keySet().toArray())
    out = df.localCheckpoint(eager=eager)
    new_ids = [
        i for i in sc._jsc.getPersistentRDDs().keySet().toArray() if i not in before
    ]

    def cleanup(blocking: bool = False) -> None:
        cur = sc._jsc.getPersistentRDDs()
        for i in new_ids:
            r = cur.get(i)
            if r is not None:
                r.unpersist(blocking)

    out.cleanup = cleanup
    return out
