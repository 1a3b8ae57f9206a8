"""SparkSession factory tuned for the KG-construction workload.

Design notes (scale-first):
- AQE on, with skew-join splitting: the reference's predicate census spans
  2 → 2,453,552 edges per predicate (reference README.md:278-306), and hub
  entities (TP53-style) concentrate triples; AQE re-plans skewed shuffle
  partitions at runtime.
- shuffle.partitions scales with cores locally; on a real cluster this is
  overridden by spark-submit conf (we never hardcode cluster-size-dependent
  values in operators).
- Arrow enabled for every pandas UDF path (mention detection, multimodal);
  per-batch size bounded so executor memory stays flat at 100 TB scale.
"""

from __future__ import annotations

import os
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession

# the cores this process may run on (what ``nproc`` prints), not the machine's
DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))


def _default_driver_memory() -> str:
    """Half of the host's MemAvailable, in whole GB (at least 1g): in local
    mode the driver heap is every executor's memory, and a heap sized past
    what the host can give is killed, not spilled."""
    with open("/proc/meminfo") as f:
        avail_kb = next(int(line.split()[1]) for line in f if line.startswith("MemAvailable:"))
    return f"{max(1, avail_kb // 2**21)}g"


def local_frame(spark: SparkSession, rows: list[tuple], schema: str) -> DataFrame:
    """Driver-side rows as an Arrow-backed local relation (DDL ``schema``).

    It plans as ``LocalTableScan``, so every action over it runs in the
    JVM. ``createDataFrame`` on a Python list instead parallelizes a pickled
    RDD, and each action over that starts Python workers to read it. Needs
    pyarrow: the import raises rather than falling back to the pickled path."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import StructType

    struct = StructType.fromDDL(schema)
    arrow_schema = to_arrow_schema(struct)
    columns = list(zip(*rows)) if rows else [()] * len(struct.fields)
    table = pa.Table.from_arrays(
        [pa.array(col, type=f.type) for col, f in zip(columns, arrow_schema)],
        schema=arrow_schema,
    )
    return spark.createDataFrame(table, struct)


@contextmanager
def no_wholestage_codegen(spark: SparkSession):
    """Execute a plan with whole-stage codegen off — for WIDE-expression
    plans (unrolled 64-term vector math) whose generated consume method
    exceeds janino's 64 KB limit: the compile attempt fails AFTER several
    seconds, the failure is not cached (Guava cache caches successes only),
    so every invocation re-pays it before falling back to interpreted
    evaluation anyway. Measured 13 s → 2.5 s on the sf0.1 embedding-LSH
    materialization. Session-scoped conf flip — callers use it only around
    eager materializations (localCheckpoint), never across a lazy return."""
    prev = spark.conf.get("spark.sql.codegen.wholeStage", "true")
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    try:
        yield
    finally:
        spark.conf.set("spark.sql.codegen.wholeStage", prev)


def release(*frames: DataFrame) -> None:
    """Unpersist exactly the RDD pinned behind each ``localCheckpoint`` result.

    Operators materialize intermediates with localCheckpoint, not persist:
    persist keeps the full analyzed subtree embedded in every downstream
    plan — for the unrolled 64-term vector trees that is seconds of
    re-analysis per consumer (measured 2-3× on the IVF/LSH entries) — while
    a checkpoint replaces it with a leaf RDD scan. That leaf has no lineage,
    so release a frame only once nothing will read it again. The analyzed
    plan of a checkpoint is a ``LogicalRDD`` over the pinned RDD, so only
    that id is touched: RDDs other driver threads pin meanwhile are left
    alone. Non-blocking. Raises ``TypeError``, releasing nothing, if any
    frame is not a materialized checkpoint."""
    rdds = []
    for frame in frames:
        plan = frame._jdf.queryExecution().analyzed()
        if plan.getClass().getSimpleName() != "LogicalRDD" or not plan.rdd().isCheckpointed():
            raise TypeError(f"release() takes localCheckpoint results, not a {plan.nodeName()} plan")
        rdds.append(plan.rdd())
    for rdd in rdds:
        rdd.unpersist(False)


def get_spark(
    app_name: str = "adding_datasets_to_kg_spark",
    cpus: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with scale-appropriate defaults.

    ``cpus`` controls local parallelism only; cluster deployments pass their
    own master/conf via spark-submit and everything here acts as defaults.
    """
    cpus = cpus or DEFAULT_CPUS
    builder = SparkSession.builder.appName(app_name)
    # Under spark-submit the master comes from the launcher and must not be
    # overridden. Detection: spark-submit runs python apps through
    # PythonRunner, which exports PYSPARK_GATEWAY_PORT/SECRET for the
    # already-running JVM gateway (that JVM carries --master). Probing
    # SparkConf() here would NOT work — before a SparkContext exists it is
    # an empty dict and contains("spark.master") is always False, which
    # would force local[N] onto cluster submissions.
    launched_by_spark_submit = "PYSPARK_GATEWAY_PORT" in os.environ
    if not launched_by_spark_submit:
        builder = builder.master(os.environ.get("SPARK_GRAFT_MASTER", f"local[{cpus}]"))
    builder = (
        builder
        # --- adaptive execution: runtime re-planning + skew defense ---
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # --- shuffle sizing: cores-proportional locally ---
        .config("spark.sql.shuffle.partitions", str(max(cpus, 8)))
        .config("spark.default.parallelism", str(max(cpus, 8)))
        # --- Arrow for vectorized pandas UDFs (input_hint: no per-row Python) ---
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # --- scan sizing: bounded input splits so partitions fit executor memory ---
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        # Split small inputs across all cores: maxSplitBytes =
        # min(maxPartitionBytes, max(openCostInBytes, totalBytes/minPartitionNum)),
        # so a dictionary-scale parquet file (a few MB) otherwise scans as ONE
        # task and serializes every expression over it onto one core (measured
        # 5× on the sf0.1 document entries). Scale-neutral: at 100 TB the
        # totalBytes/minPartitionNum term exceeds maxPartitionBytes and the
        # 128 MB cap above still governs split size.
        #
        # openCostInBytes = 1 KiB, not the 4 MiB default: local/columnar
        # opens are cheap, and the floor must sit BELOW tiny-file/32 so a
        # small input and a 100× one split into the SAME partition count.
        # Matching split counts keeps the Python-worker pool warm across
        # scales: a mapInPandas stage whose warm-up ran at 3 splits but whose
        # real run fans to 32 pays a serialized createPythonWorker fork storm
        # (daemon forks are one-at-a-time; measured 8.5s vs 0.9s on the media
        # feature stage — pandas import per fresh worker × 28 forks).
        .config("spark.sql.files.minPartitionNum", str(max(cpus, 8)))
        .config("spark.sql.files.openCostInBytes", "1024")
        # --- broadcast threshold: dictionary/lexicon tables are broadcast joins ---
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.driver.memory",
                os.environ.get("SPARK_DRIVER_MEMORY") or _default_driver_memory())
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.session.timeZone", "UTC")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
