"""Execution policy: the two physical decisions the engine makes itself.

Catalyst plans everything else. What stays ours is (1) when to spread
a small file scan across cores before CPU-heavy per-row work
(``spread_scan``) and (2) where to cut lineage on a derived table that
several consumers or loop rounds re-read (``barrier``). Builder-created
broadcast variables share the barrier's lifetime problem, so their
registry lives here too (``register_broadcast`` /
``unpersist_plan_caches``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def spread_scan(df: DataFrame, *cols) -> DataFrame:
    """Spread a SMALL file scan across every core before CPU-heavy
    per-row work (tokenizer regexes, gram hashing) — the mjpeg
    `_spread` idiom generalized (r13, guide §2.6/§8): the testdata
    tables are single-row-group files, so a regex-heavy map stage
    otherwise runs on 1-2 tasks of a 32-core executor, and AQE cannot
    help (there is no exchange to re-plan below the scan). Gated so it
    is a NO-OP at scale: only fires when the scan has fewer files than
    defaultParallelism (a real corpus has more splits than cores —
    repartitioning there would only add an exchange), and only on
    plans whose input files are knowable (inputFiles() is best-effort
    and returns [] on non-scan plans — treated as unknown, left
    alone). Round-robin repartition is retry-safe (sort-before-
    repartition is on by default) and the downstream per-row work is
    partition-independent. Measured A/B (sf0.1, same load): span_dup
    5.6 -> 1.9 s, classifier_score 2.4 -> 1.6 s, simhash grouped
    11.8 -> 6.7 s."""
    sc = df.sparkSession.sparkContext
    par = sc.defaultParallelism
    try:
        files = df.inputFiles()
    except Exception:  # noqa: BLE001 - exotic plans; spreading is optional
        return df
    if not (0 < len(files) < par):
        return df
    try:
        # skip plans that already pass through an exchange below this
        # point (r13): an upstream aggregate / join / distinct / window /
        # repartition means the rows arrive at shuffle-partition
        # parallelism already, and respreading would only add an
        # exchange (seen when a sketch builder is fed a post-distinct
        # key table, or a spread scan feeds a second spread call site)
        plan = df._jdf.queryExecution().analyzed().toString()
        if any(k in plan for k in (
                "Repartition", "Aggregate", "Join", "Window",
                "Deduplicate", "Sort")):
            return df
    except Exception:  # noqa: BLE001 - plan introspection is best-effort
        pass
    if cols:
        # hash-repartition on deterministic caller-chosen columns: skips
        # round-robin's sort-before-repartition pass (~2x cheaper on a
        # 600k-row spread, measured) and is retry-safe by construction.
        # Callers pick columns with far more distinct values than cores
        # (join keys, tokens) so the hash spreads evenly (guide §2.5).
        return df.repartition(par, *cols)
    return df.repartition(par)


def barrier(df: DataFrame) -> DataFrame:
    """Persist a derived table that several consumers (or loop rounds)
    re-read AND cut its logical plan to an RDD scan:
    ``localCheckpoint(eager=False)``.

    Every downstream reference becomes a LogicalRDD leaf, planned once
    and scanned cheaply. A ``cache()`` InMemoryRelation instead EMBEDS
    its child plan: under AQE each consuming stage re-optimized it and
    raced a broadcast-collect job per consumer (winnow_spans 4.91 ->
    1.98 s, winnow_overlap 2.56 -> 0.83 s at sf0.1 when r13 switched),
    and iterative builders (k-means, k-center, PQ codebooks) composed
    exponentially growing plans (ivfpq_recall reached 1444 audited
    Exchange refs). With the barrier, plans stay round-sized.

    Contracts:
    - Lazy: no job at build time. The checkpoint computes inside the
      first job that reads it and persists MEMORY_AND_DISK.
    - No size statistics: joins against the result plan as sort-merge
      and AQE re-plans them from runtime shuffle sizes. Model-sized
      tables (centroids, codebooks) that must broadcast carry explicit
      ``F.broadcast`` hints at every consumer.
    - Lifetime follows references: every plan built on the result
      holds the checkpointed RDD through its LogicalRDD leaf, and
      Spark's ContextCleaner reclaims the blocks once the last such
      plan is garbage-collected. Never ``unpersist()`` it — a local
      checkpoint has no lineage to recompute a dropped block from.
    - Not fault tolerant: a block lost with its executor cannot be
      recomputed, so the consuming query fails rather than re-running
      the subtree."""
    return df.localCheckpoint(eager=False)


#: Driver-side broadcasts created by builders (e.g. the eval-side
#: matrix groups of embedding_decontaminate's GEMM kernel). A broadcast
#: must outlive the caller's materialization of the returned DataFrame,
#: so builders register it here and a long-lived session reclaims the
#: blocks with unpersist_plan_caches(). Capped: evicted entries are
#: unpersisted non-blocking (executors re-fetch from the driver if a
#: straggling task still needs the variable, so eviction is never a
#: correctness risk — destroy() would be).
_BROADCASTS: list = []
_BROADCAST_CAP = 16


def register_broadcast(bc):
    """Track a builder-created Broadcast for lifecycle management."""
    _BROADCASTS.append(bc)
    while len(_BROADCASTS) > _BROADCAST_CAP:
        old = _BROADCASTS.pop(0)
        try:
            old.unpersist(blocking=False)
        except Exception:  # noqa: BLE001 - session may already be stopped
            pass
    return bc


def unpersist_plan_caches() -> int:
    """Release every builder-registered broadcast (see
    ``register_broadcast``); returns how many were released. Call once
    the DataFrames that use them have been materialized. Barriers need
    no release call: their blocks go with the last plan that
    references them (see ``barrier``)."""
    n = 0
    while _BROADCASTS:
        bc = _BROADCASTS.pop()
        try:
            bc.unpersist(blocking=False)
            n += 1
        except Exception:  # noqa: BLE001 - session may already be stopped
            pass
    return n
