"""Sinks & layout (SURVEY.md §2.A + §4.4): partitioned parquet writes,
csv/json round-trips, bucketed tables with shuffle-free joins, and
range-partitioned sorted writes."""

from pyspark.sql import functions as F

from pystreams_spark.io import load_table, read_csv, read_json, write_parquet
from pystreams_spark.plans import executed_plan, shuffle_count


def test_partitioned_parquet_roundtrip_and_pruning(spark, sf_dir, tmp_path):
    o = load_table(spark, sf_dir, "orders")
    path = str(tmp_path / "orders_by_status")
    write_parquet(o, path, partition_by=["o_orderstatus"])

    back = spark.read.parquet(path)
    assert back.count() == o.count()
    # partition pruning: filtering on the partition column must scan a
    # subset of files, visible as PartitionFilters in the plan
    pruned = back.filter(F.col("o_orderstatus") == "F")
    plan = executed_plan(pruned)
    assert "PartitionFilters: [isnotnull(o_orderstatus" in plan.replace("#", "").replace(
        "o_orderstatus1", "o_orderstatus"
    ) or "PartitionFilters" in plan
    assert pruned.count() == o.filter(F.col("o_orderstatus") == "F").count()


def test_csv_json_roundtrip(spark, sf_dir, tmp_path):
    n = load_table(spark, sf_dir, "nation")
    csv_path, json_path = str(tmp_path / "n_csv"), str(tmp_path / "n_json")
    n.write.option("header", True).csv(csv_path)
    n.write.json(json_path)

    csv_back = read_csv(spark, csv_path, n.schema, header=True)
    json_back = read_json(spark, json_path, n.schema)
    key = lambda df: sorted(tuple(r) for r in df.collect())
    assert key(csv_back) == key(n)
    assert key(json_back) == key(n)


def test_bucketed_join_avoids_shuffle(spark, sf_dir, tmp_path):
    """Bucketing both sides on the join key pre-materializes the
    exchange: the join plans with zero Exchange operators."""
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    o.write.bucketBy(8, "o_orderkey").sortBy("o_orderkey").mode("overwrite").saveAsTable(
        "orders_bkt"
    )
    li.write.bucketBy(8, "l_orderkey").sortBy("l_orderkey").mode("overwrite").saveAsTable(
        "lineitem_bkt"
    )
    ob, lb = spark.table("orders_bkt"), spark.table("lineitem_bkt")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = ob.join(lb, ob.o_orderkey == lb.l_orderkey).groupBy("o_orderstatus").count()
        # the join itself needs no exchange; only the tiny post-agg one
        plan = executed_plan(joined)
        n_shuffles = shuffle_count(joined)
        assert "SortMergeJoin" in plan
        assert n_shuffles <= 1, plan
        assert joined.count() == 3
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        spark.sql("DROP TABLE IF EXISTS orders_bkt")
        spark.sql("DROP TABLE IF EXISTS lineitem_bkt")


def test_repartition_by_range_sorted_write(spark, sf_dir, tmp_path):
    """repartitionByRange + sortWithinPartitions: globally range-
    clustered files — what a downstream range-pruning reader wants."""
    li = load_table(spark, sf_dir, "lineitem")
    path = str(tmp_path / "li_ranged")
    (
        li.repartitionByRange(4, "l_shipdate")
        .sortWithinPartitions("l_shipdate")
        .write.mode("overwrite")
        .parquet(path)
    )
    back = spark.read.parquet(path)
    assert back.count() == li.count()


def test_dynamic_partition_pruning(spark, sf_dir, tmp_path):
    """DPP: a filter on the DIM side of a join prunes partitions of the
    partitioned FACT at runtime — at 100 TB this is the difference
    between scanning one status partition and scanning the table when
    the selective predicate lives on the dimension."""
    o = load_table(spark, sf_dir, "orders")
    path = str(tmp_path / "orders_part_status")
    write_parquet(o, path, partition_by=["o_orderstatus"])
    fact = spark.read.parquet(path)

    # the dim filter must be on a NON-join column, so the surviving
    # status values are only known at runtime — a static filter on the
    # join key would be constraint-propagated without DPP
    status_counts = o.groupBy("o_orderstatus").agg(F.count("*").alias("n"))
    n_max = status_counts.agg(F.max("n")).collect()[0][0]
    dim = status_counts.filter(F.col("n") == n_max)

    joined = fact.join(F.broadcast(dim), "o_orderstatus")
    plan = executed_plan(joined)
    assert "dynamicpruning" in plan.lower(), plan[:2000]
    expected = o.join(dim.select("o_orderstatus"), "o_orderstatus").count()
    assert joined.count() == expected


def test_json_corrupt_record_handling(spark, tmp_path):
    """PERMISSIVE ingestion: malformed JSON lines land in the corrupt-
    record column instead of failing the 100 TB job; DROPMALFORMED
    silently drops them."""
    p = tmp_path / "messy.json"
    p.write_text('{"k": 1, "v": "a"}\n{"k": bad\n{"k": 3, "v": "c"}\n')
    schema = "k long, v string, _corrupt_record string"
    df = (
        spark.read.schema(schema)
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .json(str(p))
        .cache()
    )
    try:
        ok = df.filter(F.col("_corrupt_record").isNull()).count()
        bad = df.filter(F.col("_corrupt_record").isNotNull()).count()
        assert (ok, bad) == (2, 1)
    finally:
        df.unpersist()
    dropped = (
        spark.read.schema("k long, v string")
        .option("mode", "DROPMALFORMED")
        .json(str(p))
    )
    assert dropped.count() == 2


def test_zorder_layout_improves_per_chunk_locality(spark, sf_dir):
    """Z-order clustering must make consecutive row blocks (row-group
    stand-ins) span a small range in EVERY clustered dimension — the
    property parquet min/max skipping exploits. Compare the average
    per-1000-row-chunk span against the unclustered layout."""
    import numpy as np
    from pyspark.sql import functions as F

    from pystreams_spark.operators.layout import zorder_by

    # dense uniform 2-D grid (both dims 0..140) — scale-independent check
    base_df = spark.range(20000).select(
        (F.col("id") % 141).alias("x"),
        ((F.col("id") * 7919) % 141).alias("y"),
        F.col("id").alias("payload"),
    )
    z = zorder_by(base_df, ["x", "y"], bits=10)
    zp = z.toPandas()
    base = base_df.toPandas()

    def avg_chunk_span(pdf, col, chunk=500):
        v = pdf[col].to_numpy()
        spans = [
            v[i : i + chunk].max() - v[i : i + chunk].min()
            for i in range(0, len(v), chunk)
            if len(v[i : i + chunk]) > 10
        ]
        return float(np.mean(spans))

    # same rows, just re-laid-out
    assert len(zp) == len(base)
    assert sorted(zp["payload"]) == sorted(base["payload"])
    for col in ["x", "y"]:
        full_span = base[col].max() - base[col].min()
        z_span = avg_chunk_span(zp, col)
        # 40 chunks over a 2-D z-curve → per-chunk span ~ range/sqrt(40);
        # assert well under half the full range in BOTH dims (a 1-D sort
        # can only achieve this in one dim)
        assert z_span < full_span * 0.5, (col, z_span, full_span)


def test_text_lines_source(spark, tmp_path):
    # Files.lines analog: stream of lines with the standard `value` column
    from pystreams_spark.io import read_text_lines

    p = tmp_path / "lines.txt"
    p.write_text("alpha\nbeta\ngamma\n")
    df = read_text_lines(spark, str(p))
    assert df.columns == ["value"]
    assert sorted(r.value for r in df.collect()) == ["alpha", "beta", "gamma"]


def test_parquet_schema_evolution_merge(spark, tmp_path):
    """Schema evolution: a later batch adds a column; reading with
    mergeSchema unions the schemas and back-fills nulls — the standard
    way an append-only 100 TB dataset grows columns without rewrites."""
    from pyspark.sql import functions as F

    p = str(tmp_path / "evolving")
    spark.range(5).select(F.col("id"), F.lit("v1").alias("src")).write.mode(
        "append"
    ).parquet(p)
    spark.range(5, 8).select(
        F.col("id"), F.lit("v2").alias("src"), (F.col("id") * 10).alias("score")
    ).write.mode("append").parquet(p)

    merged = spark.read.option("mergeSchema", "true").parquet(p)
    assert set(merged.columns) == {"id", "src", "score"}
    assert merged.count() == 8
    # old rows surface the new column as null; new rows carry values
    assert merged.filter(F.col("score").isNull()).count() == 5
    assert merged.filter(F.col("score") == 70).count() == 1


def test_orc_roundtrip_partitioned_and_pushdown(spark, sf_dir, tmp_path):
    # ORC sink/source parity with the parquet path: partitioned write,
    # identical values back, partition pruning + predicate pushdown
    # reach the ORC scan
    from pyspark.sql import functions as F

    from pystreams_spark.io import load_table, read_orc, write_orc

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus"
    )
    path = str(tmp_path / "orders_orc")
    write_orc(o, path, partition_by=["o_orderstatus"])
    back = read_orc(spark, path)
    assert back.count() == o.count()
    want = o.agg(F.sum("o_totalprice")).collect()[0][0]
    got = back.agg(F.sum("o_totalprice")).collect()[0][0]
    assert abs(want - got) < 1e-6
    pruned = back.filter(F.col("o_orderstatus") == "F").filter(
        F.col("o_totalprice") > 1000
    )
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    # partition filter on the partition column, data filter pushed to ORC
    assert "PartitionFilters" in plan and "o_orderstatus" in plan
    assert "PushedFilters" in plan and "o_totalprice" in plan
    assert pruned.count() == o.filter(
        (F.col("o_orderstatus") == "F") & (F.col("o_totalprice") > 1000)
    ).count()


def test_xml_source_roundtrip(spark, tmp_path):
    # built-in XML data source (Spark 4): explicit schema, rowTag
    from pystreams_spark.io import read_xml

    p = str(tmp_path / "recs.xml")
    with open(p, "w") as f:
        f.write(
            "<recs>"
            + "".join(
                f"<rec><id>{i}</id><name>n{i}</name><v>{i * 1.5}</v></rec>"
                for i in range(20)
            )
            + "</recs>"
        )
    df = read_xml(spark, p, row_tag="rec", schema="id long, name string, v double")
    rows = sorted((r.id, r.name, r.v) for r in df.collect())
    assert rows == [(i, f"n{i}", i * 1.5) for i in range(20)]


def test_custom_python_datasource(spark):
    # Spark 4 Python DataSource API: partition-parallel custom source,
    # deterministic under a fixed seed, rows derived executor-side
    from pyspark.sql import functions as F

    from pystreams_spark.sources import register_data_sources

    register_data_sources(spark)
    df = (
        spark.read.format("synthetic_docs")
        .option("rows", 500)
        .option("partitions", 7)
        .option("seed", 11)
        .load()
    )
    assert df.count() == 500
    # actually parallel: rows came from all planned partitions
    n_parts = df.select(F.spark_partition_id().alias("p")).distinct().count()
    assert n_parts == 7
    # deterministic: same options → identical content
    again = (
        spark.read.format("synthetic_docs")
        .option("rows", 500)
        .option("partitions", 7)
        .option("seed", 11)
        .load()
    )
    a = sorted(map(tuple, df.collect()))
    b = sorted(map(tuple, again.collect()))
    assert a == b
    # ids are exactly 0..499 once each; schema as declared
    assert [r[0] for r in a] == list(range(500))
    assert df.schema.simpleString() == "struct<doc_id:bigint,text:string,lang:string>"
    # partitioning-independent content: different partition count, same rows
    other = (
        spark.read.format("synthetic_docs")
        .option("rows", 500)
        .option("partitions", 3)
        .option("seed", 11)
        .load()
    )
    assert sorted(map(tuple, other.collect())) == a


def test_custom_source_filter_pushdown_unit():
    # pushFilters clamps the planned id range (partition pruning inside
    # the source) and consumes the lang equality; everything else is
    # handed back for Spark to re-apply
    from pyspark.sql.datasource import (
        EqualTo,
        GreaterThanOrEqual,
        IsNotNull,
        LessThan,
    )

    from pystreams_spark.sources import SyntheticDocsReader

    r = SyntheticDocsReader({"rows": "1000", "partitions": "8"})
    remaining = r.pushFilters(
        [
            GreaterThanOrEqual(("doc_id",), 500),
            LessThan(("doc_id",), 625),
            EqualTo(("lang",), "en"),
            IsNotNull(("text",)),  # not supported -> must come back
        ]
    )
    assert [type(f).__name__ for f in remaining] == ["IsNotNull"]
    parts = r.partitions()
    # rows 500..624 live entirely in the single 500..625 grid slice
    assert [(p.start, p.end) for p in parts] == [(500, 625)]


def test_custom_source_filter_pushdown_e2e(spark):
    from pystreams_spark.sources import register_data_sources

    register_data_sources(spark)
    base = (
        spark.read.format("synthetic_docs")
        .option("rows", 1000)
        .option("partitions", 8)
        .load()
    )
    pushed = base.filter(
        (F.col("doc_id") >= 500) & (F.col("doc_id") < 625) & (F.col("lang") == "en")
    ).collect()
    # oracle: the unfiltered read filtered after the fact
    expect = [
        r
        for r in base.collect()
        if 500 <= r.doc_id < 625 and r.lang == "en"
    ]
    assert sorted(pushed) == sorted(expect)
    assert len(pushed) == 25  # 125-row window, 1 of 5 langs


def test_zorder_parquet_row_group_pruning_measured(spark, tmp_path):
    """The payoff the locality test implies, measured on REAL parquet
    metadata: write the same rows z-ordered and unsorted with small row
    groups, then count row groups whose min/max stats exclude a 2-D box
    predicate. Z-order must let a stats-based reader (Spark's parquet
    filter pushdown, Delta/Iceberg data skipping) prune row groups in
    BOTH dimensions; the unsorted layout prunes ~none."""
    import glob

    import pyarrow.parquet as pq

    from pystreams_spark.operators.layout import zorder_by

    base_df = spark.range(20000).select(
        (F.col("id") % 141).alias("x"),
        ((F.col("id") * 7919) % 141).alias("y"),
        F.col("id").alias("payload"),
    )

    def write_and_count_skipped(df, path, lo=30, hi=50):
        (
            df.coalesce(1)
            .write.option("parquet.block.size", 64 * 1024)
            .mode("overwrite")
            .parquet(str(path))
        )
        skipped = total = 0
        for f in glob.glob(f"{path}/*.parquet"):
            md = pq.ParquetFile(f).metadata
            for rg in range(md.num_row_groups):
                stats = {
                    md.row_group(rg).column(i).path_in_schema: md.row_group(rg)
                    .column(i)
                    .statistics
                    for i in range(md.row_group(rg).num_columns)
                }
                total += 1
                # box predicate x in [lo,hi] AND y in [lo,hi]: a row
                # group is skippable if either dim's range misses it
                if (
                    stats["x"].max < lo
                    or stats["x"].min > hi
                    or stats["y"].max < lo
                    or stats["y"].min > hi
                ):
                    skipped += 1
        return skipped, total

    z_skip, z_total = write_and_count_skipped(
        zorder_by(base_df, ["x", "y"], bits=10), tmp_path / "zordered"
    )
    u_skip, u_total = write_and_count_skipped(base_df, tmp_path / "unsorted")

    assert z_total >= 8, f"need multiple row groups to measure ({z_total})"
    # the box is ~2% of the 2-D space: a z-ordered layout must skip most
    # row groups; the hash-spread layout has every dim's full range in
    # ~every row group
    assert z_skip / z_total >= 0.5, (z_skip, z_total)
    assert z_skip / z_total > u_skip / max(u_total, 1) + 0.3, (
        (z_skip, z_total),
        (u_skip, u_total),
    )


def test_custom_python_datasource_writer_manifest(spark, sf_dir, tmp_path):
    """Two-phase-commit Python DataSourceWriter: tasks stage temp files,
    driver commit publishes + writes the manifest; published data and
    manifest row counts match the source exactly; no temp files leak."""
    import json
    import os

    from pystreams_spark.sources import ManifestJsonSink

    spark.dataSource.register(ManifestJsonSink)
    out = str(tmp_path / "manifest_sink")
    src = load_table(spark, sf_dir, "nation")
    src.repartition(3).write.format("manifest_json").option("path", out).mode(
        "append"
    ).save()

    manifest = json.load(open(os.path.join(out, "_MANIFEST.json")))
    assert manifest["total_rows"] == src.count()
    listed = sorted(f for f in os.listdir(out) if not f.startswith("_"))
    assert listed == sorted(f["file"] for f in manifest["files"])
    assert not [f for f in os.listdir(out) if f.startswith(".tmp-")]
    # round-trip: published rows equal the source
    back = spark.read.json(os.path.join(out, "part-*.jsonl"))
    assert back.count() == src.count()
    assert sorted(r["n_name"] for r in back.collect()) == sorted(
        r["n_name"] for r in src.collect()
    )


def test_compact_parquet_small_files(spark, sf_dir, tmp_path):
    """Compaction collapses a fragmented directory to the byte-sized
    file count and preserves content exactly."""
    import os

    from pystreams_spark.io import compact_parquet

    frag = str(tmp_path / "fragmented")
    out = str(tmp_path / "compacted")
    src = load_table(spark, sf_dir, "orders")
    src.repartition(32).write.mode("overwrite").parquet(frag)
    n_frag = len([f for f in os.listdir(frag) if f.endswith(".parquet")])
    assert n_frag == 32

    n = compact_parquet(spark, frag, out, target_file_mb=128)
    n_out = len([f for f in os.listdir(out) if f.endswith(".parquet")])
    assert n_out == n <= 2  # small fixture → a couple of files max
    back = spark.read.parquet(out)
    assert back.count() == src.count()
    assert sorted(back.columns) == sorted(src.columns)
    # value check robust to float partial-sum order: exact on keys,
    # cent-rounded on the money sum
    assert (
        back.agg(F.sum("o_orderkey")).collect()[0][0]
        == src.agg(F.sum("o_orderkey")).collect()[0][0]
    )
    assert round(back.agg(F.sum("o_totalprice")).collect()[0][0], 2) == round(
        src.agg(F.sum("o_totalprice")).collect()[0][0], 2
    )


def test_export_jsonl_shards_capped_and_complete(spark, sf_dir, tmp_path):
    """Sharded JSONL export: every input row appears exactly once as a
    JSON line, each shard stays within one row of the byte cap, shard
    assignment is partition-layout independent, and the manifest
    matches what landed on disk."""
    import json
    import os

    from pystreams_spark.io import export_jsonl_shards, load_table

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "text"
    )
    dst = str(tmp_path / "shards")
    cap = 64 * 1024
    manifest = export_jsonl_shards(docs, dst, max_shard_bytes=cap)

    n_docs = docs.count()
    assert manifest["total_rows"] == n_docs
    assert len(manifest["shards"]) >= 2  # the cap actually sharded

    # read back: every doc_id exactly once, valid JSON
    seen = {}
    max_line = 0
    for root, _, files in os.walk(dst):
        for f in files:
            if not f.endswith(".txt"):
                continue
            shard = int(root.split("shard=")[-1])
            for line in open(os.path.join(root, f)):
                rec = json.loads(line)
                seen[rec["doc_id"]] = shard
                max_line = max(max_line, len(line))
    assert len(seen) == n_docs

    # per-shard byte caps: overflow bounded by one row
    by_shard = {s["shard"]: s for s in manifest["shards"]}
    for shard, s in by_shard.items():
        assert s["bytes"] < cap + max_line
    # disk agrees with the manifest row counts
    from collections import Counter

    disk_counts = Counter(seen.values())
    assert {k: v for k, v in disk_counts.items()} == {
        s["shard"]: s["n_rows"] for s in manifest["shards"]
    }

    # determinism across partition layouts
    m2 = export_jsonl_shards(
        docs.repartition(7), str(tmp_path / "shards2"), max_shard_bytes=cap
    )
    assert m2["shards"] == manifest["shards"]


def test_export_jsonl_shards_utf8_bytes_and_ties(spark, tmp_path):
    """ADVICE r5: byte accounting must be UTF-8 octets, not characters —
    a multi-byte corpus packed by character count blows the cap ~3x.
    And a non-unique order column must still shard deterministically
    (the serialized line tie-break)."""
    import json
    import os

    from pystreams_spark.io import export_jsonl_shards

    # 3-byte CJK chars: octet_length = 3x length. 200 rows x ~1.5 KB.
    rows = [(i % 7, "世界和平" * 120 + str(i)) for i in range(200)]
    df = spark.createDataFrame(rows, "grp int, text string")
    dst = str(tmp_path / "utf8_shards")
    cap = 64 * 1024
    # order col 'grp' has heavy ties on purpose
    manifest = export_jsonl_shards(df, dst, order_cols=["grp"], max_shard_bytes=cap)

    # manifest bytes == real on-disk bytes (the character-count bug
    # under-measured 3x and the manifest disagreed with disk)
    disk_bytes = 0
    max_line = 0
    for root, _, files in os.walk(dst):
        for f in files:
            if f.endswith(".txt"):
                p = os.path.join(root, f)
                disk_bytes += os.path.getsize(p)
                for line in open(p, "rb"):
                    max_line = max(max_line, len(line))
    assert manifest["total_bytes"] == disk_bytes
    for s in manifest["shards"]:
        assert s["bytes"] < cap + max_line  # one-row overflow bound holds in BYTES

    # tie-heavy order col: still deterministic across layouts
    m2 = export_jsonl_shards(
        df.repartition(11), str(tmp_path / "utf8_shards2"),
        order_cols=["grp"], max_shard_bytes=cap,
    )
    assert m2["shards"] == manifest["shards"]
    # and every row landed exactly once
    seen = set()
    for root, _, files in os.walk(dst):
        for f in files:
            if f.endswith(".txt"):
                for line in open(os.path.join(root, f), encoding="utf-8"):
                    seen.add(json.loads(line)["text"])
    assert len(seen) == 200


def _jobs_in(spark, group, fn):
    """(fn(), number of Spark jobs it submitted)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setJobGroup(None, None)  # type: ignore[arg-type]
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_ensure_parallelism_runs_no_job(spark, sf_dir):
    """``ensure_parallelism`` widens a narrow scan and a shuffling input
    alike without submitting a Spark job: the partition probe only
    lists files, and an input whose plan holds an exchange is not
    probed (``.rdd`` would run its shuffle at construction)."""
    from pystreams_spark.io import ensure_parallelism

    scan = load_table(spark, sf_dir, "lineitem")
    grouped = scan.groupBy("l_returnflag").agg(F.count("*").alias("n"))
    for name, df in (("scan", scan), ("grouped", grouped)):
        out, jobs = _jobs_in(
            spark, f"ensure-parallelism-{name}", lambda: ensure_parallelism(df, 7)
        )
        assert jobs == 0, f"{name}: {jobs} Spark job(s) at construction"
        assert out.rdd.getNumPartitions() == 7, name
        assert sorted(out.collect()) == sorted(df.collect()), name


def test_verify_pairs_runs_no_job(spark):
    """The exact set-overlap verify builds its joins without submitting
    a Spark job: adaptive execution sizes the candidate join at the
    action, so construction runs no count of the candidate list."""
    from pystreams_spark.operators.dedup import _verify_pairs

    sh = spark.createDataFrame(
        [(1, [1, 2, 3, 4]), (2, [1, 2, 3, 5]), (3, [7, 8])],
        "doc_id long, _sh array<long>",
    )
    cands = spark.createDataFrame([(1, 2), (1, 3), (2, 3)], "id_a long, id_b long")
    out, jobs = _jobs_in(
        spark, "verify-pairs", lambda: _verify_pairs(sh, sh, cands, 0.5, "doc_id")
    )
    assert jobs == 0, f"{jobs} Spark job(s) at construction"
    assert [tuple(r) for r in out.collect()] == [(1, 2, 0.6)]
