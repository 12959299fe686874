"""SparkSession factory tuned for the local[N] harness but configured the
way a 1000-executor cluster job would be: AQE on (runtime coalescing, skew
join handling), Arrow for the few pandas-UDF boundaries, UTC session time
zone so results are comparable with a UTC-naive oracle (DuckDB).

Python workers run under :mod:`.worker_daemon` (``spark.python.daemon.module``)
instead of ``pyspark.daemon``.  pyspark calls ``importlib.invalidate_caches()``
at the start of every worker task, and on CPython 3.11 each cached zip
importer then re-parses its whole archive (CPython gh-103200): ~16 re-reads
of ``pyspark.zip`` per task, 130-210 ms.  The daemon re-reads an archive
only when its mtime or size changed, which cut a trivial 4-task Python job
from ~380 to ~165 ms on a 4-core host.  It is pyspark's own daemon loop
otherwise.
"""

from __future__ import annotations

import contextlib
import os
import threading

from pyspark.sql import SparkSession

from . import worker_daemon

#: Serializes every scoped mutation of session-global SQL conf (see
#: :func:`scoped_shuffle_partitions`).  RLock so a scoped caller that
#: composes another scoped helper (e.g. a graph query inside a streaming
#: foreachBatch) nests instead of deadlocking.
_CONF_SCOPE_LOCK = threading.RLock()


@contextlib.contextmanager
def scoped_sql_confs(spark: SparkSession, confs: dict[str, str]):
    """Scope session-global SQL confs to a block, under a process-wide
    lock.

    The conf is session-global, so two threads scoping different values
    in the same SparkSession would race: thread B could plan at thread
    A's value, and the interleaved ``finally`` restores could leave the
    session at a scoped value permanently.  The registry contract runs
    queries sequentially (driver gate, bench, pytest sweeps), but the
    lock makes the single-mutator assumption ENFORCED rather than
    assumed — a concurrent caller blocks until the scope exits instead
    of silently inheriting (or clobbering) a neighbor's settings.

    Callers: the label-propagation loop (operators/graph.py — shuffle
    width sized to the edge count, AQE off for the fixed tiny
    supersteps) and the streaming jobs (plans/queries_streaming.py —
    state-store width sized to state cardinality, fixed at first
    checkpoint)."""
    with _CONF_SCOPE_LOCK:
        prev = {k: spark.conf.get(k) for k in confs}
        for k, v in confs.items():
            spark.conf.set(k, str(v))
        try:
            yield
        finally:
            for k, v in prev.items():
                spark.conf.set(k, v)


@contextlib.contextmanager
def scoped_shuffle_partitions(spark: SparkSession, n: int):
    """Scope ``spark.sql.shuffle.partitions`` alone (see
    :func:`scoped_sql_confs` for the locking contract)."""
    with scoped_sql_confs(spark, {"spark.sql.shuffle.partitions": str(n)}):
        yield


def get_spark(
    app_name: str = "midas-spark",
    cpus: str | int | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or fetch) the session.

    ``cpus`` defaults to $SPARK_GRAFT_CPUS (harness contract) else ``*``.
    ``shuffle_partitions`` defaults to the core count: on local mode a
    shuffle is disk-through on one host, so 200 partitions (the Spark
    default) only adds task-scheduling overhead; on a real cluster the
    caller passes ~2-3x total cores.
    """
    # Python workers (pandas UDFs / mapInPandas) import this package by
    # module name; make sure the repo root reaches their PYTHONPATH even
    # when the driver script runs from elsewhere (sys.path edits on the
    # driver don't propagate to executor Python processes).
    repo_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    existing = os.environ.get("PYTHONPATH", "")
    if repo_root not in existing.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            f"{repo_root}{os.pathsep}{existing}" if existing else repo_root
        )

    if cpus is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    if shuffle_partitions is None:
        n = os.cpu_count() or 8 if cpus == "*" else int(cpus)
        shuffle_partitions = max(4, int(n))

    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        # wide aggregates (the 129-buffer minhash signature) must stay
        # inside whole-stage codegen; default maxFields=100 silently
        # drops such stages to interpreted eval
        .config("spark.sql.codegen.maxFields", "256")
        # the synthetic events table carries TIMESTAMP(NANOS) which Spark
        # has no native type for — read as long, convert at the source
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.python.daemon.module", worker_daemon.__name__)
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        # composed pipelines keep lineage under their pins (fault
        # tolerance, round 14), so late-stage plans nest every upstream
        # operator and the per-task result payload (SQL-metric
        # accumulator updates) grows with plan size: the round-15 GB
        # rung measured 32 tasks x ~32.5 MiB of pure metadata on the
        # 6th pin's materializing count, tripping the 1g default.  4g
        # is well inside the 8g driver heap; the results carry no rows.
        .config(
            "spark.driver.maxResultSize",
            os.environ.get("SPARK_DRIVER_MAX_RESULT_SIZE", "4g"),
        )
        # same lineage-kept-pin plan nesting, second symptom: the plan
        # STRING is a tree expansion of the (modest) plan DAG —
        # InMemoryRelation renders its cached child plan inline, so 8
        # nested pins expand multiplicatively and the round-15 GB rung
        # blew Java's 1 GiB string limit inside AQE's per-replan
        # explainString render (StringUTF16.newBytesFor OOM on the
        # final action).  Capping the render bounds both the memory and
        # the driver CPU AQE burns re-rendering it on EVERY plan
        # update; 32 MiB keeps every sf0.1 audit plan (<1 MiB) intact.
        .config(
            "spark.sql.maxPlanStringLength",
            os.environ.get("SPARK_MAX_PLAN_STRING_LENGTH", str(32 * 2**20)),
        )
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
