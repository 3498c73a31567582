"""SparkSession construction with scale-appropriate defaults.

Local mode stands in for a multi-executor cluster; every config here is the one
you would also set cluster-side (AQE, Arrow, shuffle partitions sized to cores).
"""

from __future__ import annotations

import os
import uuid

from pyspark.sql import Column, DataFrame, SparkSession

# Every barrier and scratch path lives under this subdirectory of the
# session's SparkFiles root. PySpark puts that root on the workers' sys.path,
# so the hyphen (not a Python identifier) keeps barrier directories from ever
# being importable and keeps the root's own listing to one entry.
BARRIER_SUBDIR = "rs-barriers"


def scratch_dir(spark: SparkSession, tag: str) -> str:
    """A fresh, empty directory owned by ``spark``'s session.

    It sits under ``SparkFiles.getRootDirectory()``, which follows
    ``spark.local.dir``, and Spark deletes that root on ``spark.stop()`` (and
    the whole local dir when the JVM exits) — so nothing written here
    outlives the session, and no cleanup code exists on our side. The root
    is local to the driver host, so barriers assume the executors see the
    driver's filesystem (true in local mode)."""
    root = spark.sparkContext._jvm.org.apache.spark.SparkFiles.getRootDirectory()
    path = os.path.join(root, BARRIER_SUBDIR, f"{tag}-{uuid.uuid4().hex}")
    os.makedirs(path)
    return path


def barrier(df: DataFrame, tag: str, path: str | None = None) -> DataFrame:
    """Materialize once, read many: write ``df`` as parquet to ``path`` (a
    fresh ``scratch_dir`` when None) and return the read-back relation. Use
    it where a relation feeds several consumers and Catalyst would otherwise
    re-derive its subtree per consumer; the read-back plan is a plain
    columnar scan. The read-back takes the schema just written instead of
    inferring it from the footers, so it launches no Spark job (inference
    runs a one-task job per read) and an empty ``df`` reads back with its
    schema."""
    spark = df.sparkSession
    path = path or scratch_dir(spark, tag)
    df.write.mode("overwrite").parquet(path)
    return spark.read.schema(df.schema).parquet(path)


def local_rows_df(spark: SparkSession, rows, schema):
    """Small driver-side row list -> DataFrame via the pandas/Arrow path.

    pyspark 4.1's plain ``createDataFrame(list)`` costs ~4.5s of FIXED driver
    work per materialization regardless of row count (measured: 40 rows at
    local[32] — a python-runner conversion stage that never gets cheap),
    while the pandas route is ~0.1s. Every interactive/per-batch local
    relation (query-term frames, ANN probe sets, empty results) must come
    through here — at batch rates that fixed cost IS the scaling floor.

    ``rows`` is an iterable of tuples or a pandas DataFrame in schema order.
    ``schema`` is either a DDL string ("a string, b long") or a StructType.

    The result is a ``LocalRelation``, so collecting it launches no job. An
    empty ``rows`` is built on the JVM side: PySpark turns an empty pandas
    frame into an RDD-backed relation whose collect runs a job.
    """
    import pandas as pd
    from pyspark.sql.types import StructType

    # real DDL parse, not schema.split(',') — comma-bearing types
    # (decimal(10,2), map<string,int>, struct<...>) would break a split
    struct = StructType.fromDDL(schema) if isinstance(schema, str) else schema
    if isinstance(rows, pd.DataFrame):
        pdf = rows
    else:
        pdf = pd.DataFrame(list(rows), columns=struct.fieldNames())
    if pdf.empty:
        jss = spark._jsparkSession
        jdf = jss.createDataFrame(spark._jvm.java.util.ArrayList(), jss.parseDataType(struct.json()))
        return DataFrame(jdf, spark)
    return spark.createDataFrame(pdf, schema=schema)


def fan_out(df, target: int | None = None):
    """Scale-adaptive scan fan-out: round-robin repartition a relation whose
    partition count is below the session's parallelism, so the map-side work
    that follows (tokenize/shingle explode, Arrow/BLAS kernels) uses every
    core instead of one task per input file.

    This is the single-row-group-parquet fix: the local fixtures are one
    ~6 MB file with ONE row group, so `maxPartitionBytes` cannot split the
    scan and every pre-shuffle pass otherwise runs serially (measured at
    sf1.0/50k docs: the simhash signature pass, the cosine matmul and every
    tokenize+explode ran 1-of-32 cores). At warehouse scale an input table
    is thousands of files/row groups, the scan already has >= parallelism
    partitions, and this is a no-op — the guard makes the behavior
    scale-adaptive rather than a local-mode constant.

    The repartition is keyless round-robin (deterministic under retry via
    Spark's sort-before-repartition) and moves only the few MB a low-partition
    relation can possibly hold — by definition the input is small, or it
    would already have enough partitions.
    """
    target = target or df.sparkSession.sparkContext.defaultParallelism
    n = _scan_partitions(df)
    if n is not None and n < target:
        return df.repartition(target)
    return df


def _scan_partitions(df) -> int | None:
    """Partition count of the scan that feeds ``df``'s last stage, read from
    its physical plan without running anything; None when that stage reads
    an exchange sized by the session (or several inputs).

    ``df.rdd.getNumPartitions()`` converts through ``javaToPython`` (~38 ms
    a call) and, under AQE, runs an input's shuffle stages at plan time to
    report the coalesced count. Instead the walk starts at AQE's input plan
    (no exchanges inserted yet) and follows the child that passes its
    partitioning up — through narrow operators and past a broadcast build
    side — down to a leaf, whose RDD it builds: that lists files or slices
    a range, it computes no data. A node that needs its child clustered or
    ordered gets a shuffle, and the walk stops there."""
    node = df._jdf.queryExecution().executedPlan()
    if node.nodeName() == "AdaptiveSparkPlan":
        node = node.inputPlan()
    # a root limit, tail or top-k (CollectLimit, TakeOrderedAndProject)
    # gathers its rows into one partition whatever its input's count
    if node.outputPartitioning().numPartitions() == 1:
        return 1
    return _plan_partitions(node)


def _plan_partitions(node) -> int | None:
    if "Exchange" in node.nodeName():
        return None
    kids = node.children()
    if kids.size() == 0:
        return node.execute().getNumPartitions()
    dists = node.requiredChildDistribution()
    follow = []
    for i in range(kids.size()):
        dist = dists.apply(i)
        name = dist.toString()
        if name.startswith("BroadcastDistribution"):
            continue
        if name != "UnspecifiedDistribution":
            # AllTuples (a global limit) asks for exactly one partition
            n = dist.requiredNumPartitions()
            return n.get() if n.isDefined() else None
        follow.append(kids.apply(i))
    if len(follow) == 1:
        return _plan_partitions(follow[0])
    if node.nodeName() == "Union":
        counts = [_plan_partitions(k) for k in follow]
        return None if None in counts else sum(counts)
    return None


def _sql_string(value: str) -> str:
    # Backslash first, then the quote. ``$`` goes as a unicode escape because
    # Spark's variable substitution rewrites ``${...}`` in the raw SQL text
    # before the parser sees the literal.
    esc = value.replace("\\", "\\\\").replace("'", "\\'").replace("$", "\\u0024")
    return f"'{esc}'"


def _sql_ident(name: str) -> str:
    """Backtick-quoted SQL identifier: the whole name is one column, even
    one with spaces, dots or backticks."""
    return "`" + name.replace("`", "``") + "`"


def col_in(name: str, values) -> Column:
    """``name IN ('v1', 'v2', ...)`` built in ONE py4j call.

    ``F.col(name).isin(values)`` sends one ``functions.lit`` per value over
    py4j (about four round trips each, counting the proxy frees), so a query
    batch's driver cost grew with its distinct-term count; one ``F.expr`` of
    the escaped literal list costs the same for 1 value or 50,000. Catalyst
    still rewrites it to the same ``InSet`` filter and pushes it into the
    parquet scan. Assumes the default ``spark.sql.parser.escapedStringLiterals
    = false``. An empty ``values`` is ``lit(False)``."""
    from pyspark.sql import functions as F

    values = list(values)
    if not values:
        return F.lit(False)
    return F.expr(f"{_sql_ident(name)} IN ({', '.join(map(_sql_string, values))})")


def filter_unpushed(df, cond):
    """Filter WITHOUT letting Catalyst push the predicate below the
    projection that computes its columns, below a repartition, or into a
    join condition.

    When a filter references columns computed by an expensive projection
    (tokenize + feature trees here), Catalyst's pushdown substitutes the FULL
    defining expression per reference wherever the predicate lands: below
    the projection every reference re-runs the tree, below the fan-out
    repartition it runs on the undivided scan, inside a join condition once
    per candidate pair (the optimization guide documents the same pathology
    for UDFs, §4.4; it holds for large pure-expression trees too, measured
    5x on the curation feature pass at 50k docs).

    The pin: project a non-deterministic column (``spark_partition_id()``),
    filter on ``cond OR <that column> < 0`` (a partition id is never
    negative, so the row set is unchanged), then drop the column. Catalyst
    never pushes a filter through a Project with a non-deterministic field,
    so the predicate stays directly above the projection. A non-deterministic
    term inside the predicate itself is not enough: Spark 4.1 still pushes
    such a filter through a deterministic projection, substituting the
    expressions (it only keeps it above a repartition and out of joins), and
    ``rand(0) < -1.0`` is folded to false outright. Use ONLY when every
    referenced column is computed — a raw-column predicate would lose its
    parquet PushedFilters entry (derived-column predicates never had one)."""
    from pyspark.sql import functions as F

    taken = {c.lower() for c in df.columns}
    pin = "_unpushed_pin"
    while pin in taken:
        pin = "_" + pin
    return (
        df.withColumn(pin, F.spark_partition_id())
        .filter(cond | (F.col(pin) < F.lit(0)))
        .drop(pin)
    )


def default_driver_memory(total_bytes: int | None = None) -> str:
    """Default driver heap: half of physical memory, between 1g and 48g.

    Local mode's driver JVM IS the executor fleet, so its heap must cover
    every concurrent task's join/agg state: 16g left one bench rep dead on
    java.lang.OutOfMemoryError at sf1.0 on 32 cores, and 48g is what a
    128 GiB host gives (the executor memory a 32-core cluster node would
    get). A fixed 48g would promise a 15 GiB host three times its memory;
    the other half stays for the Python workers and the OS.
    ``SPARK_GRAFT_DRIVER_MEM`` overrides it; cluster deployments set
    executor memory instead."""
    if total_bytes is None:
        total_bytes = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{max(1, min(48, total_bytes // (2 << 30)))}g"


def get_spark(
    app_name: str = "rustserini_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    master = master or os.environ.get("SPARK_GRAFT_MASTER") or f"local[{os.environ.get('SPARK_GRAFT_CPUS', '32')}]"
    # local[N] → N concurrent tasks; shuffle partitions sized to parallelism,
    # not the 200 default (tiny-partition overhead dominates at test scale,
    # and on a real cluster you would size this to 2-3x total cores or rely on AQE).
    if shuffle_partitions is None:
        n = master[master.find("[") + 1 : master.find("]")] if "[" in master else "32"
        shuffle_partitions = 32 if n == "*" else max(8, int(n))
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "131072")
        .config("spark.sql.session.timeZone", "UTC")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM") or default_driver_memory(),
        )
        # PySpark 4.1 captures the Python call site on every Column method
        # and F.col call (an active-session lookup, a conf read, a stack
        # walk and two JVM thread-local writes each), which more than doubled
        # the py4j round trips of building the curation feature projection.
        # The only thing it buys is the Python call site in an
        # AnalysisException's context; the message and the plan are kept.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
