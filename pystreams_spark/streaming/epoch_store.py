"""Shared epoch-partitioned state store for the foreachBatch ingests
(SURVEY §2.I): the parameter binding, the per-epoch write and the
``_SUCCESS`` commit filter, hardened (ADVICE r10).

The ingests (`NeardupIngest`, `NoveltyIngest`, `ImagedupIngest`) write
their cross-batch state as ``<root>/epoch=<n>/`` parquet directories
and read back "everything committed strictly before the current
epoch". Each micro-batch runs in this order:

1. ``check_params`` binds the store to its parameters with Hadoop
   FileSystem calls (no Spark job), once per ingest instance,
2. ``committed_epoch_dirs`` lists the committed epochs ``< e`` BEFORE
   anything is written, so a refusal (below) leaves no side effect,
3. ``write_epoch`` writes the batch's state to ``epoch=<e>`` and hands
   back the directory read back: that write is the batch's only pin,
   and the intra-batch, cross-batch and output lineages all read it,
4. the output is written the same way to ``out/epoch=<e>``.

A crash after step 3 leaves a committed ``epoch=e`` state directory
with no output; the streaming checkpoint then REPLAYS batch e under the
same epoch id, whose store read is bounded to ``epoch < e`` and whose
writes overwrite, so the replay recomputes the same state and output —
exactly-once. A crash mid-write leaves an ``epoch=N`` directory without
its ``_SUCCESS`` marker; the epoch bound excludes it from its own
replay's read and the replay overwrites it. That makes the marker
filter a backstop — and it means a marker-less directory STRICTLY OLDER
than the replay horizon is not a torn write at all: nothing will ever
rewrite it, so silently skipping it would silently disable cross-batch
dedup for those signatures (the exact silent-recall-hole this store
exists to prevent). Two non-crash ways to get there, both configuration
bugs, both now fail loudly instead of silently:

- ``mapreduce.fileoutputcommitter.marksuccessfuljobs=false`` — every
  epoch is marker-less, the store reads as permanently empty.
  ``assert_markers_enabled`` refuses at ingest init.
- object-store lifecycle cleanup deleting zero-byte ``_SUCCESS``
  objects — the directory still holds committed-looking ``part-*``
  files. ``committed_epoch_dirs`` raises naming the directory.

A marker-less old directory with NO part files (crash between mkdir
and the first task commit) genuinely carries no data and is skipped.

Every reader of an epoch-partitioned directory goes through the same
listing: the ingests' ``survivors``/``scores``, ``DriftMonitor.history``
and the ``StatsMaintainer``/``SkylineMaintainer`` publishers read with
the reader's horizon (``read_committed``), so an in-flight or torn
newest epoch is never read and a marker-less old one raises instead of
vanishing; the maintainers' replay skip asks ``epoch_committed``.
"""

from __future__ import annotations

import json
import re

from pyspark.sql import DataFrame, SparkSession

__all__ = [
    "assert_markers_enabled",
    "check_params",
    "committed_epoch_dirs",
    "epoch_committed",
    "read_committed",
    "write_epoch",
]

_MARK_KEY = "mapreduce.fileoutputcommitter.marksuccessfuljobs"


def assert_markers_enabled(spark: SparkSession, who: str) -> None:
    """Refuse to run an epoch-store ingest in a session configured NOT
    to write ``_SUCCESS`` markers — the commit filter would read every
    epoch as uncommitted and cross-batch state would be silently
    empty forever."""
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    val = conf.get(_MARK_KEY, "true")
    if str(val).strip().lower() == "false":
        raise RuntimeError(
            f"{who}: the session sets {_MARK_KEY}=false, so epoch "
            "commits would never be marked and the cross-batch "
            "signature store would read as permanently empty. Re-enable "
            "_SUCCESS markers (or use a different committer contract)."
        )


def _fs_path(spark: SparkSession, path: str):
    """(Hadoop FileSystem, Path) of ``path`` in the session's config."""
    p = spark.sparkContext._jvm.org.apache.hadoop.fs.Path(path)
    return p.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration()), p


def epoch_committed(spark: SparkSession, root: str, epoch: int) -> bool:
    """Whether ``root/epoch=<epoch>`` carries its ``_SUCCESS`` marker."""
    fs, marker = _fs_path(spark, f"{root}/epoch={int(epoch)}/_SUCCESS")
    return bool(fs.exists(marker))


def committed_epoch_dirs(
    spark: SparkSession, root: str, before_epoch: int | None, who: str
) -> list[str]:
    """Paths of the committed (``_SUCCESS``-marked) ``epoch=N``
    directories under ``root``, in epoch order; missing ``root`` → [].

    ``before_epoch`` is the replay horizon. A writer passes the epoch it
    is about to write and gets the committed epochs below it. A reader
    passes None: the horizon is then the newest epoch directory, which
    is listed if committed and otherwise left out as a write in flight
    (or a torn one its replay will overwrite). Below the horizon, a
    marker-less directory holding ``part-*`` files raises
    (committed-looking data that would otherwise silently drop out of
    dedup); a marker-less EMPTY one is skipped as torn."""
    fs, root_path = _fs_path(spark, root)
    if not fs.exists(root_path):
        return []
    hpath = spark.sparkContext._jvm.org.apache.hadoop.fs.Path
    epochs = sorted(
        (
            (int(st.getPath().getName()[6:]), st.getPath())
            for st in fs.listStatus(root_path)
            if re.fullmatch(r"epoch=\d+", st.getPath().getName())
        ),
        key=lambda e: e[0],
    )
    newest = []
    if before_epoch is None and epochs:
        before_epoch, path = epochs[-1]
        newest = [path] if fs.exists(hpath(path, "_SUCCESS")) else []
    committed = []
    for epoch, path in epochs:
        if epoch >= before_epoch:
            break
        if fs.exists(hpath(path, "_SUCCESS")):
            committed.append(path)
            continue
        parts = [
            f.getPath().getName()
            for f in fs.listStatus(path)
            if f.getPath().getName().startswith("part-")
        ]
        if parts:
            raise RuntimeError(
                f"{who}: epoch directory {path} has no "
                f"_SUCCESS marker but holds {len(parts)} committed-"
                "looking part file(s), and it is older than the replay "
                "horizon so no replay will ever rewrite it. Reading on "
                "would silently drop its signatures from cross-batch "
                "dedup. Restore the marker (touch _SUCCESS) after "
                "verifying the files, or delete the directory to "
                "discard the epoch."
            )
        # empty marker-less dir: torn between mkdir and first task
        # commit — carries no data, safe to skip
    return [p.toString() for p in committed + newest]


def read_committed(spark: SparkSession, root: str, who: str) -> DataFrame:
    """Every committed epoch under ``root`` (``committed_epoch_dirs``
    with the reader's horizon) as one frame with its ``epoch``
    partition column. Raises ``ValueError`` while none has committed."""
    dirs = committed_epoch_dirs(spark, root, None, who)
    if not dirs:
        raise ValueError(
            f"{who}: no committed state under {root} yet — it is only "
            "readable after the first micro-batch commits"
        )
    return spark.read.option("basePath", root).parquet(*dirs)


def check_params(
    spark: SparkSession, state_dir: str, params: dict, who: str, why: str
) -> None:
    """Bind ``state_dir`` to ``params`` on first use and REFUSE different
    ones later: a changed hash grid, banding or gram width against an
    existing store would make new state silently never match the stored
    state. ``why`` names that failure in the refusal.

    The binding is ``state_dir/_params/part-00000`` (one JSON line) plus
    ``_SUCCESS`` — the layout Spark's text writer leaves, so stores
    bound by it verify too — written and read with Hadoop
    FileSystem calls: no Spark job. A ``_params`` directory without a
    part file (a crash before the first write) is bound afresh."""
    sc = spark.sparkContext
    hpath = sc._jvm.org.apache.hadoop.fs.Path
    fs, path = _fs_path(spark, f"{state_dir}/_params")
    listed = fs.listStatus(path) if fs.exists(path) else []
    parts = sorted(
        (st.getPath() for st in listed if st.getPath().getName().startswith("part-")),
        key=lambda p: p.getName(),
    )
    if not parts:
        line = json.dumps(params, sort_keys=True) + "\n"
        out = fs.create(hpath(path, "part-00000"), True)
        try:
            out.write(bytearray(line, "utf-8"))
        finally:
            out.close()
        fs.create(hpath(path, "_SUCCESS"), True).close()
        return
    read = sc._jvm.org.apache.commons.io.IOUtils.toString
    text = []
    for part in parts:
        stream = fs.open(part)
        try:
            text.append(read(stream, "UTF-8"))
        finally:
            stream.close()
    stored = json.loads("".join(text))
    if stored != params:
        raise ValueError(
            f"{who}: state at {state_dir} was built with {stored}, current "
            f"instance uses {params} — {why}. Use the original parameters "
            "or a fresh state_dir."
        )


def write_epoch(df: DataFrame, root: str, epoch: int) -> DataFrame:
    """Overwrite ``root/epoch=<epoch>`` with ``df`` and return that
    directory read back. The write is the frame's one materialization:
    consumers of the returned frame scan the parquet instead of
    re-running ``df``'s lineage. Read with ``df``'s schema, so the
    read-back runs no schema-inference job."""
    path = f"{root}/epoch={epoch}"
    df.write.mode("overwrite").parquet(path)
    return df.sparkSession.read.schema(df.schema).parquet(path)

