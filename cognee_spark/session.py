"""SparkSession factory tuned for the KG-construction workload.

Settings rationale (100 TB target, tested at local[32]):
- AQE on: runtime coalescing of the many small shuffles in the linking stages
  and skew-join splitting for the Zipf-skewed mega-repo partitions.
- shuffle partitions sized to cores locally; on a real cluster this is set to
  ~2-3x total executor cores via spark-submit conf, AQE coalesces down.
- Arrow enabled and batch-sized to match the reference's extraction batch of
  100 chunks/LLM call (cognee/api/v1/cognify/cognify.py:345-348) scaled up for
  a deterministic extractor: 10_000 rows/Arrow batch keeps pandas-UDF overhead
  amortized without blowing executor memory on long `content` strings.
- Codegen cache sized to the working set: whole-stage codegen compiles one
  Java class per distinct generated source (Janino, 8-15 ms each) and keeps
  it in ``CodeGenerator``'s cache of ``spark.sql.codegen.cache.maxEntries``
  entries. Measured at local[4] with 4 shuffle partitions, one 1,000-file
  cognify plus one query of each of 7 search types generates ~351 classes
  (~2.6 KB of bytecode each), more than the default 100 entries, so the
  least-recently-used eviction dropped every class before its reuse: each
  warm cognify recompiled ~271 classes and each 7-query round ~95. At 2,000
  entries a warm cycle compiles 2-10 + 2-16, for ~5 MB of bytecode at most.
  The conf is static: it is read once per JVM when the cache is first
  built, so it must be set before the first query; ``getOrCreate`` on a
  running session cannot change it, and on a cluster the executors read
  the same value from the SparkConf. ``extra_conf`` still overrides it.
  Every ledger row of ``run_stage`` carries ``codegen_compiles``, the
  classes compiled while the stage ran; a second identical cognify in one
  session that sums to more than a few dozen means the working set no
  longer fits.

Per-task Python worker floor: every Python task starts with PySpark's
``setup_spark_files``, which calls ``importlib.invalidate_caches()``. Up to
Python 3.12 that re-reads the whole directory of every zip archive the
worker imports from (``pyspark.zip`` and each of its imported subpackages,
``py4j``, the shipped ``cognee_spark`` zip): 0.23-0.33 s of CPU per task on
a 4-vCPU host, paid again by every task of a reused worker. Importing
``cognee_spark`` installs ``_zipimport``'s stat-checked
``invalidate_caches``, which re-reads an archive only when it changed.
Executors import the package whenever they unpickle one of its UDFs, so a
reused worker stops paying from its second task on, with no conf or
environment setting to carry. Python tasks that run only PySpark's own
code, such as ``createDataFrame`` over a list of rows, were measured still
paying it: their workers never unpickle one of the package's UDFs.
"""

from __future__ import annotations

import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession


def row_frame(spark: SparkSession, rows, schema: str) -> DataFrame:
    """Driver-side ``rows`` (tuples in schema order, or dicts by field name)
    as a frame with the DDL ``schema``.

    The rows become one Arrow table, which crosses into the JVM as a
    ``LocalRelation``. A list of rows handed to ``createDataFrame`` would
    become a Python RDD, with one Python task per core just to ship them;
    so would an empty pandas frame (PySpark sends only non-empty ones
    through Arrow), and a pandas frame whose types Arrow cannot convert
    falls back to it silently. An Arrow table has no such fallback: a row
    that does not fit the schema raises here."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import _parse_datatype_string

    struct = _parse_datatype_string(schema)
    names = struct.fieldNames()
    table = pa.Table.from_pylist(
        [r if isinstance(r, dict) else dict(zip(names, r)) for r in rows],
        schema=to_arrow_schema(struct),
    )
    return spark.createDataFrame(table, struct)


def _ship_package(spark: SparkSession) -> None:
    """Make ``cognee_spark`` importable on executors from any driver cwd.

    Equivalent of ``spark-submit --py-files cognee_spark.zip`` when the session
    is built programmatically: zip the installed package and addPyFile it.
    No-op if the archive was already shipped.
    """
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    marker = "cognee_spark_pkg"
    if getattr(spark.sparkContext, "_cognee_pkg_shipped", False):
        return
    staging = tempfile.mkdtemp(prefix=marker)
    archive = shutil.make_archive(
        os.path.join(staging, marker), "zip", os.path.dirname(pkg_dir), "cognee_spark"
    )
    spark.sparkContext.addPyFile(archive)
    spark.sparkContext._cognee_pkg_shipped = True


def _cores_of(master: str, default: int) -> int:
    if master.startswith("local["):
        inner = master[len("local[") : -1]
        return default if inner == "*" else int(inner)
    return default


def _system_mem_gb() -> int:
    """Detected physical memory in GiB (0 if undetectable)."""
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemTotal:"):
                    return int(line.split()[1]) // (1024 * 1024)
    except OSError:
        pass
    return 0


def _default_driver_mem(cores: int) -> str:
    """~1.5g per task slot, floored at 8g, CAPPED at 40% of physical memory
    so the derived heap can't oversubscribe (or fail to start) on hosts
    smaller than the 128 GiB sandbox this was tuned on."""
    derived = max(8, (3 * cores) // 2)
    mem = _system_mem_gb()
    if mem:
        derived = max(2, min(derived, (mem * 2) // 5))
    return f"{derived}g"


def get_spark(
    app_name: str = "cognee_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    master = master or os.environ.get("COGNEE_SPARK_MASTER", f"local[{cpus}]")
    if shuffle_partitions is None:
        # Initial shuffle partitions deliberately EXCEED core count by a wide
        # margin: AQE coalesces small ones for free, while too-few partitions
        # make per-task sort/hash state exceed task memory on big inputs —
        # measured at 3.2M files / 64 partitions: concurrent wide writes
        # spilled and the leaf stages went superlinear. 256 keeps reduce
        # tasks bounded (~70k wide rows each at 18M-edge scale) at ~zero cost
        # for small inputs.
        if master.startswith("local["):
            shuffle_partitions = max(256, 4 * _cores_of(master, cpus))
        else:
            shuffle_partitions = 400

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # string-heavy rows expand ~10-20x from shuffle bytes to in-memory
        # size; the default 64MB advisory coalesces post-shuffle work too
        # narrow for CPU-bound downstream (measured +40% on the triples stage)
        .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "16MB")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # content-heavy rows + Python parse stages: favor more, smaller scan
        # splits so mapInPandas parallelism isn't capped by 128MB splits
        .config("spark.sql.files.maxPartitionBytes", str(32 * 1024 * 1024))
        # heap scales with task slots: 16 concurrent string-heavy tasks on a
        # fixed 8g heap spent ~5% of core-seconds in GC (event-log measured);
        # ~1.5g/slot matches what a real executor would provision per core
        .config(
            "spark.driver.memory",
            os.environ.get(
                "COGNEE_SPARK_DRIVER_MEM", _default_driver_mem(_cores_of(master, cpus))
            ),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        # one compile per generated class per JVM: the default 100 entries
        # are fewer than one cognify + search cycle generates, so the cache
        # evicted every class before its reuse (module docstring)
        .config("spark.sql.codegen.cache.maxEntries", "2000")
    )
    # Shuffle/scratch on tmpfs when available: a single shared spinning/virtio
    # disk serializes 32-way shuffles in local mode, which a real cluster
    # (per-executor local SSDs) never sees. Opt-out via COGNEE_SPARK_LOCAL_DIR.
    local_dir = os.environ.get("COGNEE_SPARK_LOCAL_DIR")
    if local_dir is None and os.path.isdir("/dev/shm"):
        local_dir = "/dev/shm/cognee_spark_scratch"
    if local_dir:
        os.makedirs(local_dir, exist_ok=True)
        builder = builder.config("spark.local.dir", local_dir)
    for key, value in (extra_conf or {}).items():
        builder = builder.config(key, value)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    _ship_package(spark)
    return spark
