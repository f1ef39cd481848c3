"""Fixture IO: load the driver-generated parquet tables (TESTDATA.md).

Sources beyond parquet (csv/json/text, in-memory, binary-file for
multimodal) live here too — SURVEY.md §2.A.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from .plans.introspect import executed_plan
from .session import apply_session_confs

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def ship_package_to_workers(spark: SparkSession) -> None:
    """Make ``pystreams_spark`` importable inside Python workers no
    matter where the driver process was launched from.

    Workers inherit PYTHONPATH from the JVM's environment, so a driver
    started outside /root/repo (the verify harness, a notebook, a real
    cluster submit) spawns workers that cannot resolve the module-by-
    reference pickles our pandas-UDF kernels use. Shipping the package
    once per SparkContext via ``addPyFile`` (the standard dependency
    mechanism — works identically on a 1000-executor cluster) closes
    that hole. No-op on repeat calls and on any failure path (e.g. a
    session that forbids adding files — then the local PYTHONPATH must
    already be right, as in our own test/bench runs)."""
    sc = spark.sparkContext
    if getattr(sc, "_pystreams_pkg_shipped", False):
        return
    try:
        import shutil
        import tempfile

        # Build the archive in a fresh private dir (mkdtemp → mode 0700,
        # unpredictable name): a world-readable predictable path in the
        # shared tempdir could be pre-planted by another local user and
        # would then be imported by every Python worker. Per-context
        # build cost is negligible (package is ~100 KB).
        pkg_dir = os.path.dirname(os.path.abspath(__file__))
        zip_path = os.path.join(
            tempfile.mkdtemp(prefix="pystreams_spark_pkg_"), "pystreams_spark"
        )
        shutil.make_archive(
            zip_path, "zip", os.path.dirname(pkg_dir), "pystreams_spark"
        )
        sc.addPyFile(zip_path + ".zip")
    except Exception:
        pass
    sc._pystreams_pkg_shipped = True


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one fixture table. Parquet is self-describing; no inferSchema.

    ``events.ts`` is nanosecond parquet, which Spark 4.x cannot map to
    TimestampType directly (PARQUET_TYPE_ILLEGAL). We read it as raw
    int64 ns (`nanosAsLong`) and truncate to microseconds with integer
    division — matching DuckDB's ns→µs truncating cast, so oracle
    comparisons agree. Integer `div`, not `/`: float division of an
    ~1.7e18 ns value loses sub-µs bits (double ulp there is ~256 ns).
    """
    apply_session_confs(spark)
    ship_package_to_workers(spark)
    if name == "events":
        return _load_events(spark, sf_dir)
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _load_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    path = f"{sf_dir}/events.parquet"
    try:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(path)
        ts_type = dict(df.dtypes).get("ts")
        if ts_type == "bigint":
            return df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
        if ts_type == "timestamp_ntz":
            # Spark 4.1 reads ns parquet natively as TIMESTAMP_NTZ
            # (truncated to µs). Structured Streaming rejects NTZ event
            # time (EVENT_TIME_IS_NOT_ON_TIMESTAMP_TYPE), so cast to
            # session-local TimestampType — the session is pinned to
            # UTC (session.py), so wall-clock values are unchanged and
            # the DuckDB oracle (naive timestamps) still agrees.
            return df.withColumn("ts", F.col("ts").cast("timestamp"))
        return df
    except Exception:
        # fallback (e.g. conf rejected): convert ns→µs via pyarrow and
        # ship through Arrow createDataFrame. Driver-sized only — the
        # conf path is the distributed one.
        import pyarrow as pa
        import pyarrow.parquet as pq

        t = pq.read_table(path)
        ts_idx = t.schema.get_field_index("ts")
        t = t.set_column(
            ts_idx, "ts", t.column("ts").cast(pa.timestamp("us"))
        )
        return spark.createDataFrame(t.to_pandas())


def load_tables(
    spark: SparkSession, sf_dir: str, names: tuple[str, ...] = TABLES
) -> dict[str, DataFrame]:
    return {n: load_table(spark, sf_dir, n) for n in names}


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every fixture as a temp view for spark.sql() use."""
    for n, df in load_tables(spark, sf_dir).items():
        df.createOrReplaceTempView(n)


def read_csv(spark: SparkSession, path: str, schema, **options) -> DataFrame:
    """CSV source with an explicit schema (never inferSchema in production:
    inference is a full extra pass over 100 TB)."""
    return spark.read.csv(path, schema=schema, **options)


def read_json(spark: SparkSession, path: str, schema, **options) -> DataFrame:
    return spark.read.json(path, schema=schema, **options)


def read_avro(spark: SparkSession, path: str) -> DataFrame:
    """Avro source — spec-level Python DataSource (formats/avro.py):
    the ``spark-avro`` JVM module is absent offline, so the container
    format is implemented from the public Avro spec and verified
    against the ``org.apache.avro`` reference classes bundled in
    Spark's own classpath (tests/test_avro.py, both directions)."""
    from .formats.avro import read_avro as _ra

    return _ra(spark, path)


def write_avro(df: DataFrame, path: str, codec: str = "deflate") -> None:
    """Avro sink (two-phase commit, null|deflate codec) — see read_avro."""
    from .formats.avro import write_avro as _wa

    _wa(df, path, codec=codec)


def read_orc(spark: SparkSession, path: str, **options) -> DataFrame:
    """ORC source (built-in, self-describing like parquet): same
    pushdown/pruning behavior, ACID-table interop on Hive-flavored
    lakes. Avro would be the remaining columnar-ish format; its data
    source module is external to the Spark distribution and absent in
    this container — gate any avro path behind a format probe."""
    return spark.read.options(**options).orc(path)


def write_orc(
    df: DataFrame, path: str, partition_by: list[str] | None = None, mode: str = "overwrite"
) -> None:
    w = df.write.mode(mode)
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.orc(path)


def read_xml(spark: SparkSession, path: str, row_tag: str, schema=None, **options) -> DataFrame:
    """XML source (built-in since Spark 4.0). Always pass row_tag; pass
    a schema in production — inference is an extra full pass, same rule
    as csv/json."""
    r = spark.read.format("xml").option("rowTag", row_tag).options(**options)
    if schema is not None:
        r = r.schema(schema)
    return r.load(path)


def read_text_lines(spark: SparkSession, path: str) -> DataFrame:
    """Stream-of-lines source (java.util.stream Files.lines analog)."""
    return spark.read.text(path)


def from_iterable(spark: SparkSession, data, schema=None) -> DataFrame:
    """Stream(iterable) analog: wrap driver-side data. Only for small
    inputs — anything big must come from a distributed source."""
    return spark.createDataFrame(data, schema=schema)


def write_parquet(
    df: DataFrame, path: str, partition_by: list[str] | None = None, mode: str = "overwrite"
) -> None:
    """Partitioned parquet sink. At scale, pair with repartition on the
    partition columns so each task writes few files."""
    w = df.write.mode(mode)
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(path)


def ensure_parallelism(df: DataFrame, min_partitions: int | None = None) -> DataFrame:
    """Round-robin repartition when the input arrives in fewer partitions
    than we have cores.

    Small fixture files (and, at scale, any source with few large files)
    otherwise pin compute-heavy narrow pipelines — shingling, hashing,
    vector math — to a handful of tasks. One cheap shuffle of the raw
    rows buys full-cluster parallelism for everything downstream. No-op
    when the input is already wide enough.

    The width is probed only on a plan with no exchange: ``.rdd`` on a
    scan lists files and runs no job, but on a plan that shuffles or
    broadcasts, adaptive execution runs every exchange below the probe
    as a construction-time job, and the action runs them again. Such an
    input is repartitioned without the probe, so downstream kernels
    keep their task count.
    """
    spark = df.sparkSession
    target = min_partitions or spark.sparkContext.defaultParallelism
    if "Exchange" in executed_plan(df) or df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def materialize(
    df: DataFrame, checkpoint_dir: str | None = None, eager: bool = True
) -> DataFrame:
    """Cut the lineage of an iteration frame — the switch the iterative
    operators (BPE training, connected components, PageRank, MinHash
    signatures) thread through as ``checkpoint_dir``.

    - ``checkpoint_dir=None`` → ``localCheckpoint``: fast, but blocks
      are PINNED to the executors that computed them and are NOT
      fault-tolerant — on a real cluster, losing one executor
      mid-iteration kills the whole 30-iteration job. The right
      default for local[] and short loops.
    - ``checkpoint_dir=path`` → reliable ``checkpoint`` into that
      directory (HDFS/S3/NFS on a cluster): iteration state survives
      executor loss, the posture a 1000-executor, hours-long iterative
      job needs. Costs a write+read of the frame per cut — frames at
      the cut points are iteration-state-sized (word tables, rank
      vectors, shrinking edge lists), not corpus-sized.

    The directory is set once per SparkContext; passing a DIFFERENT
    directory later re-points it (Spark keeps old checkpoint files
    readable for already-materialized frames).

    ``eager=False`` is lazy only on a plan without a shuffle. On a plan
    that shuffles, the checkpoint builds its RDD from the adaptive plan
    when it is called, so every shuffle stage below the pin runs as a
    construction job and only the final stage waits for the first
    action (``queries._jaccard_components``' pairs pin starts 4 such
    jobs at sf0.01).
    """
    if checkpoint_dir is None:
        return df.localCheckpoint(eager=eager)
    sc = df.sparkSession.sparkContext
    # Spark appends a UUID subdir on setCheckpointDir, so compare the
    # REQUESTED dir (tracked on the context), not getCheckpointDir()
    if getattr(sc, "_pystreams_ckpt_dir", None) != str(checkpoint_dir):
        sc.setCheckpointDir(str(checkpoint_dir))
        sc._pystreams_ckpt_dir = str(checkpoint_dir)
    return df.checkpoint(eager=eager)


def materialize_many(
    dfs: list[DataFrame], checkpoint_dir: str | None = None
) -> list[DataFrame]:
    """Materialize several INDEPENDENT frames CONCURRENTLY (guide §2.6:
    Spark happily runs several jobs at once inside one application —
    actions are only sequential because driver code calls them
    sequentially). Composition queries that eagerly pin two unrelated
    kernels (e.g. the text MinHash pair list and the image dHash pair
    list in the cross-modal dedup) otherwise serialize two full
    barriers; submitting both lets the second job's tasks back-fill
    executors freed by the first job's tail. FIFO scheduling keeps the
    earlier frame's tasks prioritized. Exceptions propagate (first one
    re-raised). Frames MUST be independent — do not pass a frame and
    its own derivative."""
    from pyspark import InheritableThread

    out: list = [None] * len(dfs)
    errs: list = [None] * len(dfs)

    def work(i: int) -> None:
        try:
            out[i] = materialize(dfs[i], checkpoint_dir)
        except BaseException as e:  # noqa: BLE001 — re-raised below
            errs[i] = e

    threads = [
        InheritableThread(target=work, args=(i,)) for i in range(len(dfs))
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    for e in errs:
        if e is not None:
            raise e
    return out


# Row cap under which ``broadcast_if_small`` hints its frame.
BROADCAST_MAX_ROWS = 1_000_000


def broadcast_if_small(df: DataFrame) -> DataFrame:
    """Broadcast hint for the build side of a cross join, set only when
    a count shows the frame has at most ``BROADCAST_MAX_ROWS`` rows.

    Everywhere else AQE picks the join strategy from the measured size
    of the finished shuffle stage, so no size probe is needed. A cross
    join has no exchange to measure: unhinted it plans as a
    ``CartesianProduct`` that AQE cannot re-plan, and an unconditional
    ``F.broadcast`` fails at the broadcast / driver-memory cap on a
    large build side. So this pins the frame (``localCheckpoint``; the
    count and the join share one computation), counts it, and hints it
    only under the cap. ``similarity.margin_bitext_mine`` is its one
    caller.
    """
    from pyspark.sql import functions as F

    # lazy pin: the count() below materializes the checkpoint inside its
    # own job, so the size probe costs ONE driver barrier, not two
    mat = df.localCheckpoint(eager=False)
    if mat.count() <= BROADCAST_MAX_ROWS:
        return F.broadcast(mat)
    return mat


def compact_parquet(
    spark: SparkSession,
    src_dir: str,
    dst_dir: str,
    target_file_mb: int = 128,
) -> int:
    """Small-files compaction: rewrite a fragmented parquet directory
    into ~``target_file_mb`` files; returns the output file count. The
    small-files problem is the slow death of long-running ingest at
    scale (every file costs a task + footer read + catalog entry);
    standard maintenance is a periodic rewrite sized by BYTES, not by
    file count. Sizing reads only directory metadata (sum of file
    sizes — no data scan); the rewrite itself is one pass with a
    round-robin repartition so output files are uniform even when the
    inputs were skewed. Row-group-friendly: target defaults to 128 MB,
    the usual HDFS/object-store sweet spot."""
    import math

    # size via the Hadoop FileSystem API, not os.walk: the same call
    # works for file://, hdfs://, s3a://, abfs:// — a driver-local walk
    # would read 0 bytes for any remote path and coalesce a multi-TB
    # directory into ONE file
    jvm = spark._jvm
    path = jvm.org.apache.hadoop.fs.Path(src_dir)
    fs = path.getFileSystem(spark._jsc.hadoopConfiguration())
    total = fs.getContentSummary(path).getLength()
    n = max(1, math.ceil(total / (target_file_mb * 1024 * 1024)))
    df = spark.read.parquet(src_dir)
    df.repartition(n).write.mode("overwrite").parquet(dst_dir)
    return n


def export_jsonl_shards(
    df: DataFrame,
    dst_dir: str,
    order_cols: list | None = None,
    max_shard_bytes: int = 64 * 1024 * 1024,
) -> dict:
    """Export a DataFrame as size-capped JSONL shards + a manifest —
    the delivery format a training pipeline actually consumes (each
    shard a standalone `shard=N/part-*.txt` of JSON lines under the
    byte cap, plus `_MANIFEST.json` with per-shard row/byte counts).

    Shard assignment is DETERMINISTIC contiguous packing: rows in
    ``order_cols`` order (default: the first column) are cut at byte-
    budget multiples via the window-free two-pass cumsum
    (`operators/selection.ordered_cumsum`) — same shards on any
    cluster layout, and a boundary-straddling row overflows its shard
    by at most one row, never splits. Byte accounting uses
    ``octet_length`` (UTF-8 encoded bytes, +1 for the newline), so the
    cap and manifest reflect real on-disk bytes for non-ASCII text —
    ``length`` would count CHARACTERS and let multi-byte shards blow
    past the cap. ``order_cols`` need not be unique: the serialized
    line itself is appended as a tie-break, making the order total
    over distinct rows (identical full-duplicate rows are mutually
    interchangeable — any assignment is byte-identical output). The
    JSON serialization is engine-side ``to_json(struct(*))``
    (codegen'd, no Python).

    Returns the manifest dict {"shards": [{shard, n_rows, bytes}…],
    "total_rows", "total_bytes"} — written via the Hadoop FS API so
    s3a/hdfs destinations work like local paths.
    """
    import json

    from pyspark.sql import functions as F

    from .operators.selection import ordered_cumsum

    order = order_cols or [df.columns[0]]
    ser = df.select(
        *[F.col(c) for c in order],
        F.to_json(F.struct(*[F.col(c) for c in df.columns])).alias("_line"),
    ).withColumn("_bytes", F.octet_length("_line") + 1)
    cum = ordered_cumsum(
        ser,
        # _line tie-break: totally orders distinct rows even when
        # order_cols tie, so the cumsum (and shard cut points) are
        # partition-layout independent
        [*[F.col(c) for c in order], F.col("_line")],
        "_bytes",
        out_col="_cum",
    )
    sharded = cum.withColumn(
        "shard",
        F.floor((F.col("_cum") - F.col("_bytes")) / max_shard_bytes).cast("long"),
    )
    (
        sharded.select("_line", "shard")
        .withColumnRenamed("_line", "value")
        .write.mode("overwrite")
        .partitionBy("shard")
        .text(dst_dir)
    )
    stats = [
        r.asDict()
        for r in sharded.groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("_bytes").cast("long").alias("bytes"),
        )
        .orderBy("shard")
        .collect()
    ]
    manifest = {
        "shards": stats,
        "total_rows": int(sum(s["n_rows"] for s in stats)),
        "total_bytes": int(sum(s["bytes"] for s in stats)),
        "max_shard_bytes": int(max_shard_bytes),
    }
    spark = df.sparkSession
    jvm = spark._jvm
    path = jvm.org.apache.hadoop.fs.Path(dst_dir + "/_MANIFEST.json")
    fs = path.getFileSystem(spark._jsc.hadoopConfiguration())
    out = fs.create(path, True)
    out.write(bytearray(json.dumps(manifest, indent=1).encode()))
    out.close()
    return manifest
