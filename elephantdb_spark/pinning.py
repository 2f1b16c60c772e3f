"""One pin for every frame an operator's returned plan reads twice.

Spark DataFrame references do not share subtrees: a frame consumed by
two branches of a plan re-executes its whole lineage once per branch.
:func:`pin` materializes such a frame once, and every operator that
needs that goes through it, so the policy (and any future size
estimate carried across the pin) lives in this one module.

A pin is a LAZY ``localCheckpoint``: building the plan runs no job; the
first action that reads the frame computes it and stores its blocks
executor-local at MEMORY_AND_DISK, and later reads (the second branch,
later actions) read those blocks. The blocks are NOT recoverable if an
executor is lost: a lost block fails the read instead of recomputing
(prefer reliable checkpointing on preemptible clusters).

:func:`release_pins` frees every pin this process has made. A pinned
frame whose pin was released can no longer be read (Spark raises
``CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND``; a ``persist`` would recompute),
so release only after the action that consumes the operator's output.
Unreleased pins stay until the frame is garbage-collected on both the
Python and JVM side, which in a long session may be much later.
"""

from __future__ import annotations

import threading

from pyspark import SparkContext
from pyspark.sql import DataFrame

#: RDD ids of the pins made so far, per application id: RDD ids restart
#: at 0 in a new SparkContext, so an id is only meaningful in its own.
_PINNED: dict[str, list[int]] = {}
_LOCK = threading.Lock()


def pin(df: DataFrame) -> DataFrame:
    """``df`` materialized once, lazily (see module docs). Records the
    checkpointed RDD's id for :func:`release_pins`; keeps no reference
    to the frame."""
    out = df.localCheckpoint(eager=False)
    rdd_id = int(out._jdf.queryExecution().logical().rdd().id())
    app = df.sparkSession.sparkContext.applicationId
    with _LOCK:
        _PINNED.setdefault(app, []).append(rdd_id)
    return out


def release_pins() -> int:
    """Unpersist exactly the RDDs :func:`pin` recorded that are still
    registered, and forget every recorded id. Returns how many were
    released; pins already freed by garbage collection do not count.
    Call only after the consuming action (see module docs)."""
    sc = SparkContext._active_spark_context
    with _LOCK:
        ids = _PINNED.pop(sc.applicationId, []) if sc is not None else []
        _PINNED.clear()  # ids of stopped contexts name nothing
    if not ids:
        return 0
    persistent = sc._jsc.getPersistentRDDs()
    n = 0
    for rdd_id in ids:
        rdd = persistent.get(rdd_id)
        if rdd is not None:
            rdd.unpersist(False)
            n += 1
    return n
