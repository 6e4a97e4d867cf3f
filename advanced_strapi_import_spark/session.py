"""SparkSession factory tuned for this engine.

Defaults are sized for the host it runs on (local[N], one JVM whose heap
is half the host's memory, at most 24g) but every knob is the one you
would also set on a 1000-executor cluster: AQE for runtime re-planning +
skew-join handling, auto broadcast for dimension joins, Arrow for the
(rare) pandas-UDF paths, UTC session time.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

# InferFiltersFromGenerate turns every explode(f(x)) into
# `size(f(x)) > 0 AND isnotnull(f(x))`, and predicate pushdown then
# drags that inferred filter below exchanges to the scan — so the whole
# generator expression (shingle transforms, pivot builders: our most
# expensive map-side work) is evaluated TWICE, once of those in the
# scan stage whose parallelism is the file split count (1, for
# single-row-group files). The inference only ever saves work when most
# input arrays are empty, which never holds for shingles/chunks/pivots;
# the double evaluation is a pure loss, so the rule is excluded at the
# session level (same class of fix as SPARK-36715's cost guard).
EXCLUDED_OPTIMIZER_RULES = (
    "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate"
)

MAX_HEAP_GIB = 24
_GIB = 1024 ** 3
# cgroup v2, then v1; v1 writes "no limit" as a huge page-aligned number
CGROUP_MEMORY_LIMITS = (
    "/sys/fs/cgroup/memory.max",
    "/sys/fs/cgroup/memory/memory.limit_in_bytes",
)


def heap_size(meminfo: str, cgroup_limit: str | None = None) -> str:
    """The default JVM heap: half the memory this process may use,
    in whole GiB, at least 1g and at most 24g.

    ``meminfo`` is the text of ``/proc/meminfo``; ``cgroup_limit`` the
    text of the cgroup's memory limit file, if any ("max" or a number
    above ``MemTotal`` means no limit)."""
    kib = next(int(line.split()[1]) for line in meminfo.splitlines()
               if line.startswith("MemTotal:"))
    usable = kib * 1024
    limit = (cgroup_limit or "").strip()
    if limit.isdigit():
        usable = min(usable, int(limit))
    return f"{max(1, min(MAX_HEAP_GIB, usable // 2 // _GIB))}g"


def host_heap_size() -> str:
    """:func:`heap_size` of this host; reads, never writes. 24g
    where the host has no ``/proc/meminfo``."""
    try:
        with open("/proc/meminfo") as f:
            meminfo = f.read()
    except OSError:
        return f"{MAX_HEAP_GIB}g"
    for path in CGROUP_MEMORY_LIMITS:
        try:
            with open(path) as f:
                return heap_size(meminfo, f.read())
        except OSError:
            continue
    return heap_size(meminfo)


def get_spark(app_name: str = "advanced-strapi-import-spark",
              shuffle_partitions: int | None = None,
              extra_conf: dict[str, str] | None = None) -> SparkSession:
    """Build (or fetch) the tuned SparkSession.

    Scale notes: on a real cluster, leave ``shuffle_partitions`` to AQE
    coalescing (initialPartitionNum high, AQE shrinks); locally we pin it
    to the core count so tests don't pay 200-partition scheduling tax.

    ``extra_conf`` lets a harness layer context-start-only knobs on top
    (perfbench passes its local and warehouse directories and driver
    JVM options this way); it has no effect when an existing session is
    fetched.
    """
    n = shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(n))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Python UDTFs (token_explode) evaluate via Arrow batches, not
        # pickled row-at-a-time
        .config("spark.sql.execution.pythonUDTF.arrow.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # local[N] puts all N executor threads inside this one JVM:
        # 8g forced full-GC pauses mid-suite at local[32] (2-3x
        # per-query timing variance) and 24g kept GC off the critical
        # path on a 128 GiB box, but a heap larger than the host is
        # unsafe, so the default is half the host's (or cgroup's)
        # memory, capped at 24g. SPARK_GRAFT_DRIVER_MEM overrides it. On
        # a real cluster this knob is per-executor memory instead (see
        # cluster_conf).
        .config("spark.driver.memory",
                os.environ.get("SPARK_GRAFT_DRIVER_MEM") or host_heap_size())
        .config("spark.ui.enabled", "false")
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        # the generated-class cache defaults to 100 entries; a 96-query
        # suite compiles ~500 codegen stages, so with the default every
        # query's compiled classes are evicted between runs and each
        # re-execution pays full Janino recompile (seconds for wide
        # plans). One class is small; keep them all.
        .config("spark.sql.codegen.cache.maxEntries", "10000")
        .config("spark.sql.optimizer.excludedRules", EXCLUDED_OPTIMIZER_RULES)
        # PySpark's origin capture walks the Python stack around every
        # DataFrame and Column call and adds py4j round trips to each:
        # building the validate, resolve and merge plans of an import
        # took 1.4-1.7x as long with it on (4 CPUs). The cost of turning
        # it off: analysis errors lose the Python call-site context
        # ("== DataFrame ==" and the line that built the failing
        # expression). tune() cannot turn it off on a session it is
        # handed, because PySpark reads the flag once per process, on
        # first use, and caches it.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def cluster_conf(executors: int = 1000, cores_per_executor: int = 4) -> dict[str, str]:
    """The conf this engine expects on a real cluster (documentation as
    code; local runs use get_spark's smaller variants). Rationale per
    key in SCALE.md."""
    total_cores = executors * cores_per_executor
    return {
        # AQE owns runtime parallelism: start high, let it coalesce
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.initialPartitionNum": str(total_cores * 3),
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "128m",
        "spark.sql.shuffle.partitions": str(total_cores * 2),
        # scans: 128-256m splits keep task count ~ O(input/128m)
        "spark.sql.files.maxPartitionBytes": "256m",
        "spark.sql.parquet.filterPushdown": "true",
        # dims up to 256m broadcast (executors are multi-GB at this scale)
        "spark.sql.autoBroadcastJoinThreshold": str(256 * 1024 * 1024),
        # arrow paths (multimodal/zip stages): payload-sized batches
        "spark.sql.execution.arrow.maxRecordsPerBatch": "1024",
        "spark.sql.session.timeZone": "UTC",
        # shuffle robustness at 1000 executors
        "spark.shuffle.service.enabled": "true",
        "spark.stage.maxConsecutiveAttempts": "8",
    }


# sessions already tuned: the entry contract (__spark_entry__.queries)
# binds tune() into EVERY query invocation, so a 327-query run would
# otherwise pay 8 py4j conf.set round trips per query for values that
# were set on the first call and that nothing in the engine changes
# without restoring (r12 VERDICT task 2 — per-query constant cost).
# Keyed by session identity, not applicationId alone: a newSession()
# clone shares the applicationId but starts from its own SQL conf, so
# it must be tuned too. The value pins the JVM session proxy so its
# id() cannot be reused by another session while the entry lives.
_TUNED: dict[tuple[int, str], object] = {}


def tune(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable knobs to an externally provided session
    (the driver hands us its own SparkSession in ``entry``); no-op on
    a session this process already tuned."""
    jsession = spark._jsparkSession
    key = (id(jsession), spark.sparkContext.applicationId)
    if key in _TUNED:
        return spark
    for k, v in [
        ("spark.sql.adaptive.enabled", "true"),
        ("spark.sql.adaptive.coalescePartitions.enabled", "true"),
        ("spark.sql.adaptive.skewJoin.enabled", "true"),
        ("spark.sql.session.timeZone", "UTC"),
        # a vanilla session's 200 shuffle partitions cost pure
        # scheduling overhead at correctness-check scale; AQE still
        # owns runtime parallelism above this floor
        ("spark.sql.shuffle.partitions", str(DEFAULT_SHUFFLE_PARTITIONS)),
        ("spark.sql.execution.arrow.pyspark.enabled", "true"),
        ("spark.sql.execution.pythonUDTF.arrow.enabled", "true"),
        ("spark.sql.optimizer.excludedRules", EXCLUDED_OPTIMIZER_RULES),
    ]:
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # conf may be fixed at session start; all are safe to skip
    if len(_TUNED) >= 64:
        _TUNED.clear()
    _TUNED[key] = jsession
    return spark
