"""Shared-subtree materialization for query-internal intermediates.

Catalyst clones a shared subtree per consumer (and per-consumer pushed
filters fork the clones beyond runtime exchange reuse), so operators
whose plans consume one expensive pass 2–7 times re-ran it that many
times; the r15 fix pins such passes with an eager ``localCheckpoint``
and derives every consumer from the stored blocks.

Storage level: ``DISK_ONLY`` by default, deliberately NOT the
``MEMORY_AND_DISK`` localCheckpoint default. These intermediates are
written once and read a handful of times within one query; on any box
with free RAM the OS page cache serves the re-reads at memory speed
WITHOUT occupying Spark's unified memory. With the default level, a
long query sequence (the 162-query bench, a multi-plug runner) piles
deserialized blocks into the storage pool faster than the
weak-reference ContextCleaner frees them — measured r15: late-suite
queries degraded 2×+ (XK-hll-overlap 6.1 s in-suite vs 2.7 isolated)
from eviction churn and execution-memory starvation. Disk-only blocks
cost a serialize/deserialize per pass but leave the heap to the
operators.
"""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import DataFrame


def materialize(df: DataFrame) -> DataFrame:
    """Compute ``df`` once, eagerly, and return a frame whose consumers
    read the stored blocks instead of re-deriving the lineage."""
    return df.localCheckpoint(eager=True, storageLevel=StorageLevel.DISK_ONLY)


def release_scratch(spark) -> int:
    """Unpersist every RDD still registered with the block manager and
    return how many were released.

    The checkpointed intermediates above live until the weak-reference
    ContextCleaner notices their RDD objects died — nondeterministic and
    slow on a busy heap, so a long query sequence drags accumulated
    blocks behind it (measured r16 at sf0.1: a 20-heavy-query warm block
    ran 37.7 s with leftovers vs 35.6 s swept, and the *following*
    canonical pass read 7.59 s vs 6.90). Callers that run queries
    back-to-back (bench, a long-lived server between requests) should
    sweep BETWEEN queries, outside any timed region.

    Only call when no returned-but-unexecuted DataFrame is still alive:
    a query's result frame references its checkpointed blocks until
    executed, and this releases them. Never a result cache — every
    query invocation builds fresh RDDs; leftovers are garbage by
    construction."""
    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    n = 0
    for jrdd in list(jmap.values()):
        jrdd.unpersist(False)
        n += 1
    return n
