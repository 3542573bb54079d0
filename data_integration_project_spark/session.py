"""SparkSession construction with scale-appropriate defaults.

Local testing runs on ``local[N]`` but every knob here is chosen so the
same code runs unchanged on a multi-executor cluster: AQE for runtime
re-planning (partition coalescing, skew-join splitting), shuffle
partitions sized explicitly, Arrow enabled for the Pandas-UDF paths, and
a pinned UTC session timezone so results are reproducible across engines
(the DuckDB oracle is UTC-naive).
"""

from __future__ import annotations

import functools
import logging
import os

from py4j.protocol import Py4JError
from pyspark import SparkContext
from pyspark.sql import DataFrame, SparkSession

from . import cds

_log = logging.getLogger(__name__)

#: Runtime confs that are safe (and desirable) to apply to an existing
#: session — e.g. the driver-owned session passed into ``queries()``.
RUNTIME_CONFS: dict[str, str] = {
    "spark.sql.session.timeZone": "UTC",
    # sized to the local core count (driver-owned sessions default to
    # 200 — tiny-task spray at test scale); AQE coalescing still rules
    "spark.sql.shuffle.partitions": str(
        int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    ),
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    # false: AQE coalesces toward advisoryPartitionSizeInBytes instead of
    # stopping at the session parallelism, so the post-shuffle task count
    # tracks data size (a small input runs 1-2 real tasks, not one
    # near-empty task per core)
    "spark.sql.adaptive.coalescePartitions.parallelismFirst": "false",
    "spark.sql.adaptive.advisoryPartitionSizeInBytes": str(32 * 1024 * 1024),
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # let custom Python DataSources (sources/pygen.py) absorb filters
    "spark.sql.python.filterPushdown.enabled": "true",
    # testdata events.ts is parquet timestamp[ns]; read as raw long and
    # convert on load (sources.registry.NANOS_CANDIDATES)
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # parquet scans: split files small enough that a scan parallelizes
    # even on modest inputs (one 30 MB file would otherwise be ONE task)
    "spark.sql.files.maxPartitionBytes": str(8 * 1024 * 1024),
}


#: Generated-class cache size (static, see :func:`get_spark`). An ETL
#: batch needs ~146 classes; 500 leaves room for other queries' classes
#: between batches.
CODEGEN_CACHE_ENTRIES = 500


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))


def get_spark(app_name: str = "data_integration_project_spark") -> SparkSession:
    """Build (or fetch) the session with engine defaults applied.

    A driver JVM started here maps the class-data archive for its heap,
    or writes one when it exits (:mod:`.cds`); ``cds.STATUS`` records
    which, and why no archive was mapped."""
    cpus = default_parallelism()
    heap = os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g")
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.driver.memory", heap)
        .config("spark.ui.enabled", "false")
        .config("spark.sql.parquet.compression.codec", "zstd")
        # static. An ETL batch compiles ~146 classes and the next batch asks
        # for them in the same order: the default 100-entry LRU evicted each
        # before its reuse, and every warm batch recompiled ~130 of them
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        # FileContext renames of local checkpoint files spawn a readlink
        # each when Hadoop has no native library; FileSystem renames do not
        .config(
            "spark.sql.streaming.checkpointFileManagerClass",
            "org.apache.spark.sql.execution.streaming.checkpointing."
            "FileSystemBasedCheckpointFileManager",
        )
    )
    for k, v in RUNTIME_CONFS.items():
        builder = builder.config(k, v)
    if SparkContext._gateway is None and "PYSPARK_GATEWAY_PORT" not in os.environ:
        java_opts = cds.java_options(heap)
        if java_opts:
            # not extraJavaOptions: spark-submit's --driver-java-options
            # (perfbench passes it) replaces that conf
            builder = builder.config("spark.driver.defaultJavaOptions", java_opts)
    spark = builder.getOrCreate()
    cds.settle(spark)
    spark.sparkContext.setLogLevel("WARN")
    return spark


#: Input bytes per task for a CPU-fat Python/Arrow stage: ~512 KB keeps
#: the ~30 ms per-task launch and Arrow setup under ~20% of the stage's
#: work, and an input of a few MB per core still fills every core.
SPREAD_TARGET_BYTES = 512 * 1024

#: Attribute set on a python_stage output: its rows are already spread.
_SPREAD_ATTR = "_python_stage_spread"


def _size_estimate(df: DataFrame) -> int | None:
    """Catalyst's size estimate for ``df`` in bytes (a private JVM API),
    or None when it is unavailable."""
    try:
        return int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    except (AttributeError, TypeError, Py4JError) as exc:
        _log_probe_fallback(type(exc).__name__)
        return None


@functools.lru_cache(maxsize=None)
def _log_probe_fallback(exc_name: str) -> None:
    _log.warning("python_stage: size probe failed (%s); using full width", exc_name)


def python_stage(
    df: DataFrame,
    fn,
    schema,
    *,
    key: str | None = None,
    per_byte_cost: float = 1.0,
    arrow: bool = False,
) -> DataFrame:
    """Run the CPU-fat Python stage ``fn`` over ``df``: ``mapInPandas``,
    or ``mapInArrow`` when ``arrow``.

    The rows are first repartitioned on ``key`` (round-robin when None)
    so that a single-file source still runs on every core. The width
    covers Catalyst's size estimate at ``SPREAD_TARGET_BYTES /
    per_byte_cost`` input bytes per task, clamped to [2,
    default_parallelism()]; a missing or huge estimate gives the full
    parallelism, so mis-estimation costs a too-wide stage, never a
    serial one. ``per_byte_cost`` is the stage's work per input byte
    relative to a hash/tokenize pass (media codecs: 4-64).

    The output is marked as spread. A python_stage composed directly on
    it (a decoder on its encoder's payloads) skips the repartition and
    pipelines into the same tasks instead of shuffling the payloads a
    second time. Any transform in between drops the mark, and the next
    stage spreads itself again."""
    if not getattr(df, _SPREAD_ATTR, False):
        cores = default_parallelism()
        target = max(1, int(SPREAD_TARGET_BYTES / per_byte_cost))
        est = _size_estimate(df) or 0
        width = cores
        if 0 < est < cores * target:
            width = min(cores, max(2, -(-est // target)))
        df = df.repartition(width, *([key] if key else []))
    out = df.mapInArrow(fn, schema) if arrow else df.mapInPandas(fn, schema)
    setattr(out, _SPREAD_ATTR, True)
    return out


#: Target shuffle-partition size for iterative loops, in ROWS of the
#: loop's working frame (edges, labels, coefficients). 2M rows of two
#: int64s ≈ 32 MB per partition.
LOOP_ROWS_PER_PARTITION = 2_000_000


class iterative_loop:
    """Context manager pinning shuffle partitioning for a fixed-shape
    iterative loop (connected components, label propagation, PageRank,
    gradient descent, BPE merge rounds).

    Each loop round is a handful of exchanges over a working frame whose
    size the operator knows exactly (it counts the frame every round for
    its convergence check). Under AQE every exchange of every round is
    re-planned as its own job (101 Spark jobs for a 12-round / 5k-edge
    star loop). Inside the loop ``spark.sql.shuffle.partitions`` is set
    from the measured row count (``rows / LOOP_ROWS_PER_PARTITION``, at
    least 1) and AQE is suspended: the exact sizing subsumes coalescing,
    and AQE's skew handling only rewrites joins, which these loop bodies
    (windows and aggregates) do not have. Confs are restored on exit.
    The same formula gives 1 partition at 5k edges and ~32 MB partitions
    at any larger size.
    """

    def __init__(self, spark: SparkSession, rows: int):
        self.spark = spark
        self.rows = rows
        self._saved: dict[str, str] = {}

    def resize(self, rows: int) -> None:
        """Re-derive the loop partition count from a fresh row count
        (working frames can shrink round over round)."""
        self.parts = max(1, -(-int(rows) // LOOP_ROWS_PER_PARTITION))
        self.spark.conf.set("spark.sql.shuffle.partitions", str(self.parts))

    def __enter__(self) -> "iterative_loop":
        for k in ("spark.sql.shuffle.partitions", "spark.sql.adaptive.enabled"):
            try:
                self._saved[k] = self.spark.conf.get(k)
            except Exception:  # unset on this session — restore to unset
                self._saved[k] = None
        self.spark.conf.set("spark.sql.adaptive.enabled", "false")
        self.resize(self.rows)
        return self

    def __exit__(self, *exc) -> None:
        for k, v in self._saved.items():
            if v is None:
                self.spark.conf.unset(k)
            else:
                self.spark.conf.set(k, v)


def tune_session(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable engine confs to an externally built session.

    The correctness driver passes its own SparkSession; timezone pinning
    and AQE are runtime-configurable, so apply them here instead of
    assuming the session was built by :func:`get_spark`. Static confs
    cannot reach a session that is already built: a driver-built session
    keeps Spark's 100-entry generated-class cache
    (``spark.sql.codegen.cache.maxEntries``), not ``get_spark``'s.
    """
    for k, v in RUNTIME_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception:  # immutable conf on this build — leave as-is
            pass
    return spark
