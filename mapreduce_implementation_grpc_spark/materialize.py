"""Shared multi-consumer materialization with an executor-loss story.

Several operators compute a table once and feed it to two or more
downstream consumers (the sorted-shingle sets in the prefix join, the
distinct edge list under a wedge join, the `_ak`-keyed input of the
two-level ranking). Re-computing that lineage per consumer doubles the
dominant cost, so each site pins ONE materialization. Two mechanisms,
different failure semantics:

- ``reliable=False`` (default): ``localCheckpoint(eager=False)`` --
  partition blocks live on executors and the LINEAGE IS TRUNCATED.
  Fastest (no serialization to disk beyond the block store, no
  recompute on reuse), measured faster than persist at every site
  here. The cost on a REAL cluster: an executor lost mid-query takes
  its blocks with it and there is no lineage to rebuild them from --
  the job fails instead of recomputing. In single-JVM local mode the
  executor IS the driver, so the risk is zero.

- ``reliable=True``: ``persist(StorageLevel.DISK_ONLY)`` -- blocks on
  executor local disk WITH lineage retained, so a lost block is
  recomputed from upstream and the query survives executor loss. Costs
  serialization + disk and keeps the upstream plan alive. The right
  trade when the materialized table is corpus-sized executor state on
  a 1000-executor cluster (e.g. shingle sets over 100 TB, where SOME
  executor failing mid-query is the expected case, not the rare one).

The default can be flipped fleet-wide without touching call sites via
``SPARK_GRAFT_RELIABLE_MATERIALIZE=1`` (read per call, so a test can
monkeypatch the environment).

Deliberately NOT offered: ``DataFrame.checkpoint(reliable=True)`` to a
checkpoint dir. It writes to the (HDFS) checkpoint directory with an
extra job and is strictly slower than DISK_ONLY persist for
within-query reuse; its value is cross-query/cross-session restart,
which none of these sites need.
"""

from __future__ import annotations

import os

from pyspark import StorageLevel
from pyspark.sql import DataFrame


def _resolve(reliable: bool | None) -> bool:
    if reliable is None:
        return os.environ.get("SPARK_GRAFT_RELIABLE_MATERIALIZE", "") == "1"
    return reliable


def materialize(df: DataFrame, reliable: bool | None = None) -> DataFrame:
    """Pin one shared materialization of `df` for multiple consumers.

    `reliable=None` reads the SPARK_GRAFT_RELIABLE_MATERIALIZE env
    default ("1" -> True). Only the persist path is lazy. Under AQE
    (on in this engine's sessions), ``localCheckpoint(eager=False)``
    runs the upstream stages when it is CALLED: the query build, not
    the first consumer, pays those jobs (purchase_pagerank fires 6 of
    them at build time). Results are identical either way -- only the
    executor-loss behavior differs (see module docstring).
    """
    if _resolve(reliable):
        return df.persist(StorageLevel.DISK_ONLY)
    return df.localCheckpoint(eager=False)


def materialize_eager(df: DataFrame, reliable: bool | None = None) -> DataFrame:
    """Pin `df` and FORCE the materialization before returning — the
    per-round primitive of the iterative loops (k-core peeling, label
    propagation, BFS frontiers). Each round must be computed NOW so
    (a) the convergence check's count scans pinned blocks instead of
    replaying rounds 1..N-1 and (b) the next round's plan starts from
    a flat scan, never a nested lineage.

    - ``reliable=False``: ``localCheckpoint(eager=True)`` — lineage
      truncated; an executor lost between rounds kills the query (the
      zero-cost choice in single-JVM local mode).
    - ``reliable=True``: ``persist(DISK_ONLY)`` + a forcing count —
      lineage retained, so on a real cluster a block lost between peel
      rounds is recomputed from the previous round's (still-pinned)
      blocks instead of failing the query. Callers should `release()`
      round N-1 once round N is pinned so executor disk holds at most
      two rounds, not the whole peeling history.
    """
    if _resolve(reliable):
        df = df.persist(StorageLevel.DISK_ONLY)
        df.count()
        return df
    return df.localCheckpoint(eager=True)


def release(df: DataFrame) -> None:
    """Drop a `materialize*`-pinned table the loop no longer needs.

    For the persist path this frees the executor-disk blocks
    immediately (non-blocking); for localCheckpoint the blocks are
    owned by the checkpointed RDD and are reclaimed when the RDD is
    garbage-collected — unpersist() is then a harmless no-op. Call it
    on round N-1 after round N is pinned."""
    df.unpersist(blocking=False)


def pin_before_overwrite(df: DataFrame) -> DataFrame:
    """EAGERLY pin `df` WITHOUT lineage, for read-modify-OVERWRITE of
    the very files the plan reads (the parquet upsert/rollup sinks).

    This is the one site where `reliable=True` persist would be
    actively WRONG, not just slower: persist keeps the lineage, and a
    block lost after mode("overwrite") has deleted the source files
    would be "recomputed" from a scan of paths that no longer exist —
    failing at best, silently reading half-overwritten data at worst.
    Lineage truncation (localCheckpoint eager=True) is the only
    correct pin here; durable crash-safety for these sinks comes from
    the rename-aside protocol in sources/sinks.py, not from Spark
    block recovery."""
    return df.localCheckpoint(eager=True)
