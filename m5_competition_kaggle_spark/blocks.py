"""Between-queries release valve for materialized intermediate blocks.

Why this exists (r14 verdict item 1/2): the engine materializes reused
subtrees with ``localCheckpoint`` — the right per-query move (one fill,
N consumers; no CacheManager entry to leak) — but the checkpoint's RDD
blocks outlive the query. ``spark.catalog.clearCache()`` only clears
CacheManager entries, not RDD-level persistence, and the ContextCleaner
frees a checkpoint's blocks only after the JVM garbage-collects the RDD
object — which on a large, mostly-idle heap may be *never* inside a
bench-length session. Measured r14: after one 249-query sweep, probe
queries ran 1.25-1.3x slower purely from accumulated blocks; at 32
shuffle partitions each checkpoint leaves 4x more blocks than at 8, so
the driver's 32-core bench degraded 2.4x while the 8-core run stayed
flat (VERDICT r14).

The fix is deterministic, not a GC knob (the r14 periodic-GC config
A/B measured net-negative twice — full-GC pauses landed inside timed
queries): every query entry point releases the PREVIOUS queries' blocks
explicitly. A query's own checkpoints are created after its entry, so
the sweep can never free a block the current query still needs; bench
reps, the oracle harness and tests all consume a query's DataFrame
before building the next one, so freed blocks are never re-read.

``release_persistent_blocks`` enumerates ``getPersistentRDDs`` — which
covers every ``localCheckpoint`` (it persists MEMORY_AND_DISK under the
hood) and every RDD-level ``persist`` — and unpersists non-blockingly.
Cost: a few ms per call (block-manager metadata ops), paid inside the
*next* query's timed region — honest accounting, no bench change.
"""

from __future__ import annotations

import logging

from pyspark.sql import SparkSession

log = logging.getLogger(__name__)


def release_persistent_blocks(spark: SparkSession) -> int:
    """Unpersist every RDD currently marked persistent in this app.

    Called at query entry: at that point the only persistent RDDs are
    finished queries' checkpoint/persist leftovers (the current query
    has not built anything yet). Returns the number of RDDs released.
    An RDD whose ``unpersist`` fails is skipped and counted into one
    warning; a failure to enumerate the RDDs raises.
    """
    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    n, failed, first = 0, 0, None
    for jrdd in list(jmap.values()):
        try:
            jrdd.unpersist(False)
            n += 1
        except Exception as e:  # one bad RDD must not block the rest
            failed += 1
            first = first or e
    if failed:
        log.warning(
            "release_persistent_blocks: %d of %d unpersist calls failed;"
            " first error: %r", failed, n + failed, first, exc_info=first,
        )
    return n
