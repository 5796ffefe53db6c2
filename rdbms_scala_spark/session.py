"""SparkSession factory with scale-oriented defaults.

Replaces the reference's process setup (a bare REPL over a global
in-memory catalog, Microbase.scala:942-949). Configuration choices
are made for a large cluster and merely *sized down* for local mode:

- AQE on (runtime join-strategy changes, partition coalescing, skew
  join splitting) — the knobs that matter most at 100 TB.
- ``spark.sql.shuffle.partitions`` defaults to the local core count;
  on a real cluster this would be ~2-3x total executor cores (AQE
  coalesces down, so erring high is safe).
- Arrow enabled for the Pandas-UDF paths (dedup/similarity/multimodal).
- Session timezone pinned to UTC so date/timestamp semantics match the
  DuckDB oracle regardless of host timezone.
"""

from __future__ import annotations

import os
from typing import Any, Callable, TypeVar

from pyspark.sql import DataFrame, SparkSession

from rdbms_scala_spark.catalog import table_fingerprint


def _cpus() -> str:
    return os.environ.get("SPARK_GRAFT_CPUS", "*")


def get_spark(app_name: str = "rdbms_scala_spark", master: str | None = None) -> SparkSession:
    """Build (or fetch) the session.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (``local[*]``
    when unset). On a real cluster the caller passes the cluster
    master / relies on spark-submit; every other config below is
    cluster-appropriate as-is.
    """
    cpus = _cpus()
    shuffle_parts = os.environ.get(
        "SPARK_GRAFT_SHUFFLE_PARTITIONS",
        str(os.cpu_count() or 32) if cpus == "*" else cpus,
    )
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cpus}]")
        # --- optimizer / runtime re-planning -------------------------------
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # (runtime bloom-filter join pruning — the row-level filter
        # that matters for fact-fact joins at 100 TB — is ON by
        # default in this Spark line; enabling the experimental
        # semi-join-reduction variant was measured to hang local
        # runs, so only defaults are relied on here)
        .config("spark.sql.autoBroadcastJoinThreshold", "64m")
        .config("spark.sql.shuffle.partitions", shuffle_parts)
        # --- IO ------------------------------------------------------------
        .config("spark.sql.files.maxPartitionBytes", "128m")
        # Scan-split packing weight per file (guide §6): Spark sizes
        # splits at min(maxPartitionBytes, max(openCostInBytes,
        # totalBytes / minPartitionNum)), so the DEFAULT 4 MB open
        # cost — spinning-disk seek economics — floors every split at
        # 4 MB and caps a small table's scan parallelism at
        # size/4 MB tasks regardless of core count (an 11 MB input
        # scans as 3 tasks on 32 cores; measured r15: the sketch-stats
        # md5 pass ran 2.1 s on 3 of 32 cores). 512 KB reflects
        # NVMe/page-cache open latency; at 100 TB splits are
        # maxPartitionBytes-bound and this knob is inert — it only
        # governs how far a SMALL input fans out. Env-overridable for
        # cluster profiles where file-open is genuinely expensive
        # (cold object stores with many small files).
        .config(
            "spark.sql.files.openCostInBytes",
            os.environ.get("SPARK_GRAFT_OPEN_COST_BYTES", "524288"),
        )
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.parquet.aggregatePushdown", "true")
        # Parquet TIMESTAMP(NANOS) (events.ts) is otherwise rejected;
        # read as long and convert in catalog.load_table.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # --- python interop ------------------------------------------------
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # Python UDTFs default to the row-at-a-time pickle evaluator
        # (BatchEvalPythonUDTF); route them through Arrow like every
        # other Python path (plan shows ArrowEvalPythonUDTF) — flagged
        # by scripts/plan_audit.py's row-Python sweep.
        .config("spark.sql.execution.pythonUDTF.arrow.enabled", "true")
        # --- semantics -----------------------------------------------------
        .config("spark.sql.session.timeZone", "UTC")
        # Standard (non-ANSI) SQL mode: the correctness oracle is DuckDB,
        # whose arithmetic matches Spark's legacy mode for the surface we
        # expose (e.g. x/0 -> NULL is not exercised; overflow wraps are not
        # exercised). Keeping ANSI off avoids runtime errors on edge rows.
        .config("spark.sql.ansi.enabled", "false")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "24g"))
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


_SESSION_CLONES: dict[tuple[str, str], SparkSession] = {}


def session_clone(spark: SparkSession, tag: str, confs: dict[str, str]) -> SparkSession:
    """Memoized per-(application, tag) session clone with conf
    overrides — for queries that need session-scoped knobs (runtime
    bloom thresholds, DSv2 source routing) without perturbing every
    other query's plans. One clone per tag per application, reused
    across invocations so repeat callers (driver gate + bench passes)
    don't accumulate SQLConf/listener state in the JVM; stale entries
    from previous applications are dropped (at most one live
    application per process)."""
    key = (spark.sparkContext.applicationId, tag)
    s2 = _SESSION_CLONES.get(key)
    if s2 is None:
        s2 = spark.newSession()
        for k, v in confs.items():
            s2.conf.set(k, v)
        for stale in [k for k in _SESSION_CLONES if k[0] != key[0]]:
            del _SESSION_CLONES[stale]
        _SESSION_CLONES[key] = s2
    return s2


#: The one session-relation registry: (applicationId, sf_dir, tag) ->
#: (table fingerprint, value). Every session-materialized relation
#: lives here (see ``session_relation``), so eviction cannot miss one.
_SESSION_RELATIONS: dict[tuple[str, str, str], tuple[str, Any]] = {}

T = TypeVar("T")


def _release(value: Any) -> None:
    """Best-effort unpersist of every DataFrame in a registry value (a
    DataFrame, or a tuple holding some). Each is a ``localCheckpoint``
    result: its analyzed plan is a LogicalRDD over the checkpointed
    RDD, whose blocks ``spark.catalog.clearCache()`` does NOT free.
    (``queryExecution().toRdd()`` is a fresh map over that RDD, so
    unpersisting it would free nothing.)"""
    for item in value if isinstance(value, tuple) else (value,):
        if isinstance(item, DataFrame):
            try:
                item._jdf.queryExecution().analyzed().rdd().unpersist(False)
            except Exception:
                pass  # not a checkpoint: ContextCleaner reclaims it


def session_relation(
    spark: SparkSession, sf_dir: str, table: str, tag: str, build: Callable[[], T]
) -> T:
    """The value ``build()`` returns, materialized ONCE per
    (application, sf_dir, tag) and reused while ``table`` is unchanged.

    The session form of a persisted derived table: ``build`` pays an
    expensive derivation behind its own eager ``localCheckpoint`` calls,
    and every later caller in the session gets the SAME object back.
    ``tag`` names the relation and any parameter it depends on (e.g.
    ``"jaccard_pairs:1000"``).

    Staleness contract: an entry is valid only while ``table``'s file
    fingerprint (``catalog.table_fingerprint``: sizes + mtimes) is
    unchanged. Overwriting the table under the same path invalidates
    the entry: every DataFrame in the superseded value is best-effort
    unpersisted, then ``build`` runs again. ``evict_session_relations``
    drops every entry the same way."""
    key = (spark.sparkContext.applicationId, sf_dir.rstrip("/"), tag)
    fp = table_fingerprint(sf_dir, table)
    hit = _SESSION_RELATIONS.get(key)
    if hit is not None and hit[0] == fp:
        return hit[1]
    if hit is not None:
        del _SESSION_RELATIONS[key]
        _release(hit[1])
    value = build()
    _SESSION_RELATIONS[key] = (fp, value)
    return value


def evict_session_relations(spark: SparkSession) -> None:
    """Drop every session-materialized relation: each entry of the
    ``session_relation`` registry (unpersisted explicitly, as its
    checkpoint blocks outlive ``spark.catalog.clearCache()``) plus
    anything in the SQL cache manager.

    Used by bench.py between family blocks: round-over-round bench
    comparisons showed rows timed late in a long session running
    ~20% slower than isolated (accumulated checkpoint blocks raising
    executor GC pressure — BASELINE.md's cache-residency note), so
    the bench evicts after each family and lets the next family's
    warm pass rebuild only what IT needs. Production jobs sharing a
    long-lived session can call this at pipeline-stage boundaries for
    the same reason."""
    for _fp, value in _SESSION_RELATIONS.values():
        _release(value)
    _SESSION_RELATIONS.clear()
    spark.catalog.clearCache()
    # Unpersisting and clearing only drops the REFERENCES; the JVM
    # blocks (checkpoint RDDs, and crucially per-query BROADCAST
    # variables — each two_phase_skew_join pass creates four) are
    # reclaimed by ContextCleaner only when a JVM GC collects the
    # driver-side stubs (default periodicGC is 30 min — never, for a
    # bench). Nudge one explicitly so the next block is timed against
    # a clean heap (round-12 bisect: skew-join broadcast residue
    # inflated same-block join rows 15-100%).
    try:
        spark.sparkContext._jvm.System.gc()
    except Exception:
        pass  # non-JVM-backed session stubs (mocks) lack _jvm
