"""Large-scale training-data pipeline extensions (BASELINE.json north
star): deduplication, similarity search, text analysis, multimodal
column plumbing. All designed shuffle-light for 100 TB: LSH banding
instead of O(n²) pairing, broadcast query vectors, built-in expressions
in the hot path, Pandas UDFs only where arrays must meet numpy.
"""

from __future__ import annotations

import logging

_log = logging.getLogger(__name__)


def free_local_checkpoint(df) -> None:
    """Release the executor-storage blocks behind a checkpoint handle
    the moment nothing can read it again (r14 optimization, guide §5:
    "unpersist when done").

    Iterative operators (connected components, PageRank, graph walks)
    materialize every round with ``localCheckpoint(eager=True)``; the
    superseded rounds' blocks otherwise linger in executor storage until
    the driver-side handle is garbage-collected AND a JVM GC lets
    ContextCleaner notice (SparkContext holds persisted RDDs weakly, and
    the cleaner's fallback periodic GC fires every 30 min) — at 100 TB
    that is |E|- and |V|-sized dead state competing with execution
    memory for the rest of the job.

    Only call this when the checkpoint is provably dead: a later round's
    EAGER checkpoint has been materialized and the operator's returned
    plan does not reference this one. A localCheckpoint cannot be
    recomputed after its blocks are dropped (lineage is truncated), so a
    wrong call fails loudly with "checkpoint block not found", not with
    wrong results.

    Best-effort by design: ``df`` must be the checkpoint handle itself
    (its analyzed plan is the ``LogicalRDD`` wrapping the persisted
    RDD). Any other frame is a no-op, logged at debug level. Reliable
    ``checkpoint()`` handles also analyze to a ``LogicalRDD``, so the
    class check does not reject them; they are safe because their RDD
    is read back from the checkpoint dir and was never persisted, and
    ``unpersist`` on such an RDD does nothing. A py4j failure is logged
    as a warning and swallowed: freeing is an optimization, never a
    reason to fail the operator."""
    try:
        plan = df._jdf.queryExecution().analyzed()
        kind = plan.getClass().getSimpleName()
        if kind == "LogicalRDD":
            plan.rdd().unpersist(False)
        else:
            _log.debug("free_local_checkpoint: %s is not a checkpoint handle; nothing freed", kind)
    except Exception as e:  # noqa: BLE001
        _log.warning("free_local_checkpoint: could not free checkpoint blocks: %r", e)
