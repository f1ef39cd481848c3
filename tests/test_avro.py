"""Avro source/sink (formats/avro.py — spec-level implementation, no
spark-avro module). The strongest evidence here is the JVM
differential: Spark's own classpath bundles org.apache.avro
(avro-1.12.1.jar), so files written by OUR pure-Python writer are read
back with the APACHE reference implementation via py4j, and files
written by the reference implementation are read with our reader —
byte-level interop in both directions, not just self-roundtrip."""

import datetime
import json
import os

import pytest
from pyspark.sql import functions as F

from pystreams_spark.formats.avro import (
    avro_to_spark,
    read_avro,
    spark_to_avro,
    write_avro,
)
from pystreams_spark.io import load_table


def _typed_df(spark):
    rows = [
        (
            1,
            "hello world",
            3.5,
            True,
            bytearray(b"\x00\x01"),
            [1, 2, 3],
            {"a": 1.0, "b": None},
            (42, "nested"),
            datetime.date(2024, 2, 29),
            datetime.datetime(2024, 2, 29, 12, 34, 56, 789012),
            None,
        ),
        (
            2,
            "wörld ünïcode 世界",
            -0.25,
            False,
            bytearray(b""),
            [],
            {},
            (0, None),
            datetime.date(1969, 12, 31),
            datetime.datetime(1969, 12, 31, 23, 59, 59, 999999),
            "present",
        ),
    ]
    schema = (
        "id long, s string, d double, b boolean, raw binary, "
        "arr array<int>, m map<string,double>, "
        "st struct<k:long,v:string>, dt date, ts timestamp, opt string"
    )
    return spark.createDataFrame(rows, schema)


def test_avro_roundtrip_typed(spark, tmp_path):
    df = _typed_df(spark)
    dst = str(tmp_path / "typed")
    write_avro(df, dst)
    back = read_avro(spark, dst)
    # schema fidelity (modulo per-field nullability, which our writer
    # widens to nullable like spark-avro does)
    assert [f.name for f in back.schema.fields] == [f.name for f in df.schema.fields]
    assert dict(back.dtypes) == dict(df.dtypes)
    a = sorted(df.collect(), key=lambda r: r.id)
    b = sorted(back.collect(), key=lambda r: r.id)
    assert len(a) == len(b)
    for ra, rb in zip(a, b):
        assert ra.asDict(recursive=True) == rb.asDict(recursive=True), (ra, rb)


def test_avro_roundtrip_documents_both_codecs(spark, sf_dir, tmp_path):
    docs = load_table(spark, sf_dir, "documents")
    for codec in ("deflate", "null"):
        dst = str(tmp_path / f"docs_{codec}")
        write_avro(docs, dst, codec=codec)
        back = read_avro(spark, dst)
        assert back.count() == docs.count()
        # full-content equality via checksum of every column
        cols = [F.col(c).cast("string") for c in docs.columns]
        chk = lambda d: d.select(
            F.sum(F.crc32(F.concat_ws("\x01", *cols))).alias("c")
        ).collect()[0].c
        assert chk(back) == chk(docs)
    # deflate actually compresses
    size = lambda p: sum(
        os.path.getsize(os.path.join(p, f))
        for f in os.listdir(p)
        if f.endswith(".avro")
    )
    assert size(str(tmp_path / "docs_deflate")) < 0.8 * size(str(tmp_path / "docs_null"))


def test_avro_read_parallelism_one_partition_per_file(spark, sf_dir, tmp_path):
    docs = load_table(spark, sf_dir, "documents").repartition(5)
    dst = str(tmp_path / "many")
    write_avro(docs, dst)
    n_files = len([f for f in os.listdir(dst) if f.endswith(".avro")])
    assert n_files == 5
    back = read_avro(spark, dst)
    assert back.rdd.getNumPartitions() == n_files


def test_avro_jvm_reads_our_files(spark, tmp_path):
    """Differential A: the Apache reference reader (bundled
    avro-1.12.1.jar, via py4j) must parse our writer's output and see
    identical values."""
    df = _typed_df(spark)
    dst = str(tmp_path / "ours")
    write_avro(df, dst, codec="deflate")

    jvm = spark._jvm
    jrecs = []
    for name in sorted(f for f in os.listdir(dst) if f.endswith(".avro")):
        reader = jvm.org.apache.avro.file.DataFileReader(
            jvm.java.io.File(os.path.join(dst, name)),
            jvm.org.apache.avro.generic.GenericDatumReader(),
        )
        while reader.hasNext():
            # GenericRecord.toString() is the Avro JSON encoding
            jrecs.append(json.loads(reader.next().toString()))
        reader.close()
    assert len(jrecs) == df.count()
    by_id = {r["id"]: r for r in jrecs}
    assert by_id[1]["s"] == "hello world"
    assert by_id[1]["arr"] == [1, 2, 3]
    assert by_id[1]["st"] == {"k": 42, "v": "nested"}
    assert by_id[1]["m"]["a"] == 1.0 and by_id[1]["m"]["b"] is None
    assert by_id[1]["opt"] is None and by_id[2]["opt"] == "present"
    assert by_id[2]["s"] == "wörld ünïcode 世界"
    # logicals survive as their underlying encodings
    assert by_id[1]["dt"] == (datetime.date(2024, 2, 29) - datetime.date(1970, 1, 1)).days
    # our writer encodes naive session timestamps as-written; the JVM
    # reader reports the raw long — the microsecond field must survive
    assert by_id[1]["ts"] % 1_000_000 == 789012


def test_avro_we_read_jvm_files(spark, tmp_path):
    """Differential B: a file written by the Apache reference WRITER
    (GenericDatumWriter via py4j, deflate codec) must decode through
    our reader into the same rows."""
    jvm = spark._jvm
    schema_json = json.dumps(
        {
            "type": "record",
            "name": "jrec",
            "fields": [
                {"name": "id", "type": "long"},
                {"name": "name", "type": ["null", "string"], "default": None},
                {"name": "score", "type": "double"},
                {"name": "tags", "type": {"type": "array", "items": "string"}},
            ],
        }
    )
    jschema = jvm.org.apache.avro.Schema.Parser().parse(schema_json)
    writer = jvm.org.apache.avro.file.DataFileWriter(
        jvm.org.apache.avro.generic.GenericDatumWriter(jschema)
    )
    writer.setCodec(jvm.org.apache.avro.file.CodecFactory.deflateCodec(6))
    path = str(tmp_path / "jvm.avro")
    writer.create(jschema, jvm.java.io.File(path))
    for i in range(250):
        rec = jvm.org.apache.avro.generic.GenericData.Record(jschema)
        rec.put("id", i)
        rec.put("name", None if i % 10 == 0 else f"name-{i}")
        rec.put("score", i / 8.0)
        tags = jvm.java.util.ArrayList()
        for t in range(i % 3):
            tags.add(f"t{t}")
        rec.put("tags", tags)
        writer.append(rec)
    writer.close()

    back = read_avro(spark, path)
    assert dict(back.dtypes) == {
        "id": "bigint", "name": "string", "score": "double",
        "tags": "array<string>",
    }
    rows = {r.id: r for r in back.collect()}
    assert len(rows) == 250
    assert rows[0].name is None and rows[1].name == "name-1"
    assert rows[17].score == 17 / 8.0
    assert rows[2].tags == ["t0", "t1"] and rows[3].tags == []


def test_avro_schema_translation_and_refusals(spark):
    df = _typed_df(spark)
    av = spark_to_avro(df.schema)
    # canonical nullable unions, logical types present
    f = {x["name"]: x for x in av["fields"]}
    assert f["opt"]["type"] == ["null", "string"]
    assert f["dt"]["type"] == ["null", {"type": "int", "logicalType": "date"}]
    # roundtrip through avro_to_spark preserves the Spark types
    assert avro_to_spark(av).simpleString() == df.schema.simpleString().replace(
        "struct<k:bigint,v:string>", "struct<k:bigint,v:string>"
    )
    # refusals are loud and name the problem
    from pyspark.sql import types as T

    with pytest.raises(NotImplementedError, match="map keys"):
        spark_to_avro(
            T.StructType([T.StructField("m", T.MapType(T.LongType(), T.LongType()))])
        )
    # r7: general unions now MAP on the read side (the spark-avro
    # conventions) — the WRITE side still refuses to emit them
    assert (
        avro_to_spark(["null", "string", "long"]).simpleString()
        == "struct<member0:string,member1:bigint>"
    )
    assert avro_to_spark(["int", "long"]).simpleString() == "bigint"
    assert avro_to_spark(["null", "float", "double"]).simpleString() == "double"
    from pystreams_spark.formats.avro import _make_encoder

    with pytest.raises(NotImplementedError, match="general unions"):
        _make_encoder(["null", "string", "long"])
    # r7: decimal on bytes/fixed now maps to DecimalType; only exotic
    # carriers still refuse
    assert (
        avro_to_spark(
            {"type": "bytes", "logicalType": "decimal", "precision": 10, "scale": 2}
        ).simpleString()
        == "decimal(10,2)"
    )
    with pytest.raises(NotImplementedError, match="decimal"):
        avro_to_spark({"type": "string", "logicalType": "decimal", "precision": 3})


def test_avro_writer_two_phase_commit_no_temps_left(spark, sf_dir, tmp_path):
    docs = load_table(spark, sf_dir, "documents")
    dst = str(tmp_path / "tpc")
    write_avro(docs, dst)
    names = os.listdir(dst)
    assert all(not n.startswith(".tmp-") for n in names)
    assert any(n.endswith(".avro") for n in names)

def test_avro_stream_source_equals_batch_and_restarts(spark, sf_dir, tmp_path):
    """The pyavro STREAMING source: a landing dir of avro files replayed
    through readStream equals the batch read, and a checkpoint restart
    with a newly landed file consumes ONLY the new file (exactly-once by
    the file-set offset model)."""
    from pystreams_spark.formats.avro import (
        AvroDataSource,
        spark_to_avro,
        write_avro_file,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text", "lang")
    av_schema = spark_to_avro(docs.schema)
    land = tmp_path / "landing"
    land.mkdir()

    def land_file(name, pred):
        rows = [tuple(r) for r in docs.filter(pred).collect()]
        write_avro_file(str(land / name), rows, av_schema)
        return len(rows)

    n0 = land_file("f000.avro", "doc_id % 3 = 0")
    n1 = land_file("f001.avro", "doc_id % 3 = 1")

    spark.dataSource.register(AvroDataSource)
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    def run_stream():
        q = (
            spark.readStream.format("pyavro")
            .option("path", str(land))
            .load()
            .writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run_stream()
    got1 = spark.read.parquet(out_dir)
    assert got1.count() == n0 + n1

    # land a third file and RESTART from the checkpoint: only the new
    # file's rows may appear (no re-read of committed files)
    n2 = land_file("f002.avro", "doc_id % 3 = 2")
    run_stream()
    got2 = spark.read.parquet(out_dir)
    assert got2.count() == n0 + n1 + n2
    # full content equality with the batch table
    a = sorted(tuple(r) for r in got2.collect())
    b = sorted(tuple(r) for r in docs.collect())
    assert a == b


def test_avro_stream_offset_model_unit(tmp_path):
    """Offset-model unit checks (no engine): max_files_per_batch caps at
    offset-mint time (capping in partitions() would silently skip), the
    file-set delta is replay-stable, and a restarted reader fast-forwards
    from the checkpointed range. NOTE: the cap paces processingTime
    triggers; Trigger.AvailableNow snapshots latestOffset ONCE, so a
    capped source under availableNow stops after one batch by design —
    use an uncapped source (the default) with availableNow."""
    from pystreams_spark.formats.avro import AvroStreamReader, write_avro_file

    sc = {"type": "record", "name": "r", "fields": [{"name": "x", "type": "long"}]}
    land = tmp_path / "land"
    land.mkdir()
    for i in range(3):
        write_avro_file(str(land / f"f{i}.avro"), [(i,)], sc)

    r = AvroStreamReader({"path": str(land), "max_files_per_batch": "1"})
    o0 = r.initialOffset()
    o1 = r.latestOffset()
    assert len(o1["files"]) == 1  # capped at mint time
    assert [p.file for p in r.partitions(o0, o1)] == o1["files"]
    o2 = r.latestOffset()
    assert len(o2["files"]) == 2  # next poll admits the next file
    delta = r.partitions(o1, o2)
    assert len(delta) == 1 and delta[0].file not in o1["files"]

    # restart: a FRESH reader handed the checkpointed range must replay
    # the same delta and continue past it
    r2 = AvroStreamReader({"path": str(land)})
    assert [p.file for p in r2.partitions(o1, o2)] == [delta[0].file]
    o3 = r2.latestOffset()
    assert len(o3["files"]) == 3  # fast-forwarded, admits only the last


def test_avro_bzip2_xz_codecs_jvm_differential(spark, tmp_path):
    """bzip2 and xz are spec codecs with stdlib Python implementations
    (bz2 / lzma) and JVM CodecFactory support on Spark's classpath —
    differential both directions per codec."""
    import json as _json

    from pystreams_spark.formats.avro import iter_avro_file, write_avro_file

    jvm = spark._jvm
    schema = {
        "type": "record", "name": "c",
        "fields": [
            {"name": "id", "type": "long"},
            {"name": "body", "type": "string"},
        ],
    }
    rows = [(i, ("repetitive payload " * 20) + str(i)) for i in range(300)]
    jschema = jvm.org.apache.avro.Schema.Parser().parse(_json.dumps(schema))

    for codec, jfactory in (
        ("bzip2", lambda: jvm.org.apache.avro.file.CodecFactory.bzip2Codec()),
        ("xz", lambda: jvm.org.apache.avro.file.CodecFactory.xzCodec(6)),
    ):
        # ours -> JVM
        ours = str(tmp_path / f"ours_{codec}.avro")
        write_avro_file(ours, rows, schema, codec=codec)
        reader = jvm.org.apache.avro.file.DataFileReader(
            jvm.java.io.File(ours), jvm.org.apache.avro.generic.GenericDatumReader()
        )
        assert reader.getMetaString("avro.codec") == codec
        n = 0
        while reader.hasNext():
            rec = reader.next()
            assert int(rec.get("id")) == n and str(rec.get("body")) == rows[n][1]
            n += 1
        reader.close()
        assert n == len(rows)

        # JVM -> ours
        theirs = str(tmp_path / f"jvm_{codec}.avro")
        writer = jvm.org.apache.avro.file.DataFileWriter(
            jvm.org.apache.avro.generic.GenericDatumWriter(jschema)
        )
        writer.setCodec(jfactory())
        writer.create(jschema, jvm.java.io.File(theirs))
        for i, body in rows:
            rec = jvm.org.apache.avro.generic.GenericData.Record(jschema)
            rec.put("id", i)
            rec.put("body", body)
            writer.append(rec)
        writer.close()
        got = list(iter_avro_file(theirs))
        assert got == rows

    # snappy and zstandard have their own differentials; only unknown
    # codec names refuse
    import pytest as _pytest

    with _pytest.raises(NotImplementedError, match="unsupported"):
        write_avro_file(str(tmp_path / "z.avro"), rows, schema, codec="lz5")


def test_avro_sync_marker_splits_exact_partition_of_blocks(tmp_path):
    """Contiguous byte-range splits must partition the blocks of one
    file EXACTLY (every record once) for any split granularity — the
    sync-ownership rule from iter_avro_blocks, checked brute-force."""
    from pystreams_spark.formats.avro import (
        iter_avro_blocks,
        iter_avro_file,
        write_avro_file,
    )

    sc = {
        "type": "record",
        "name": "r",
        "fields": [
            {"name": "i", "type": "long"},
            {"name": "body", "type": "string"},
        ],
    }
    path = str(tmp_path / "multi.avro")
    rows = [(i, f"row-{i} " + "x" * (i % 97)) for i in range(5000)]
    # small blocks -> many sync markers to split between
    write_avro_file(path, rows, sc, codec="deflate", block_rows=50)
    size = os.path.getsize(path)
    whole = list(iter_avro_file(path))
    assert whole == rows
    for n_splits in (1, 2, 3, 7, 16, 64):
        step = -(-size // n_splits)
        got = []
        for lo in range(0, size, step):
            got.extend(iter_avro_blocks(path, lo, min(lo + step, size)))
        assert got == rows, f"n_splits={n_splits}: {len(got)} vs {len(rows)}"


def test_avro_large_file_reads_with_parallelism(spark, tmp_path):
    """A single multi-block container file must plan >1 InputPartition
    under a small split target and still return identical rows."""
    from pystreams_spark.formats.avro import AvroReader, write_avro_file

    sc = {
        "type": "record",
        "name": "r",
        "fields": [{"name": "i", "type": "long"}, {"name": "s", "type": "string"}],
    }
    dst = tmp_path / "big"
    dst.mkdir()
    rows = [(i, "payload " * 20 + str(i)) for i in range(20000)]
    write_avro_file(str(dst / "one.avro"), rows, sc, codec="null", block_rows=256)

    parts = AvroReader({"path": str(dst), "split_target_bytes": "65536"}).partitions()
    assert len(parts) > 4, "giant file should split into many partitions"

    from pystreams_spark.formats.avro import AvroDataSource

    spark.dataSource.register(AvroDataSource)
    back = (
        spark.read.format("pyavro")
        .option("split_target_bytes", "65536")
        .load(str(dst))
    )
    assert back.rdd.getNumPartitions() == len(parts)
    got = [(r.i, r.s) for r in back.orderBy("i").collect()]
    assert got == rows


def test_avro_append_accumulates_and_overwrite_clears(spark, tmp_path):
    """ADVICE r6: append jobs must never clobber earlier part files
    (per-job token in the published names), and mode=overwrite must
    honor the flag by clearing prior parts at commit."""
    df = _typed_df(spark)
    dst = str(tmp_path / "acc")
    write_avro(df, dst)
    write_avro(df, dst)  # second append: accumulates, never replaces
    assert read_avro(spark, dst).count() == 2 * df.count()

    write_avro(df, dst, mode="overwrite")
    assert read_avro(spark, dst).count() == df.count()


def test_avro_schema_resolution_reordered_fields(spark, tmp_path):
    """r8 (VERDICT r7 #4): reordered same-name fields are COMPATIBLE
    evolution — spec schema resolution matches by name, so the read
    succeeds with values in the right columns (pre-r8 this refused)."""
    from pystreams_spark.formats.avro import write_avro_file

    land = tmp_path / "drift"
    land.mkdir()
    sc_a = {
        "type": "record",
        "name": "r",
        "fields": [{"name": "i", "type": "long"}, {"name": "s", "type": "string"}],
    }
    sc_b = {  # reordered fields — resolution reorders by name
        "type": "record",
        "name": "r",
        "fields": [{"name": "s", "type": "string"}, {"name": "i", "type": "long"}],
    }
    write_avro_file(str(land / "a.avro"), [(1, "one")], sc_a)
    write_avro_file(str(land / "b.avro"), [("two", 2)], sc_b)
    rows = {tuple(r) for r in read_avro(spark, str(land)).collect()}
    assert rows == {(1, "one"), (2, "two")}


def test_avro_schema_resolution_full_evolution(spark, tmp_path):
    """Compatible landing-zone evolution in one directory: the v2 files
    reorder fields, add a writer-only field (skipped), write ``id`` as
    int (promotes to reader long), and DROP a reader field that carries
    a default (filled in). Incompatible drift still raises by name."""
    from pystreams_spark.formats.avro import write_avro_file

    land = tmp_path / "evolve"
    land.mkdir()
    v1 = {
        "type": "record",
        "name": "r",
        "fields": [
            {"name": "id", "type": "long"},
            {"name": "name", "type": "string"},
            {"name": "tag", "type": "string", "default": "x"},
        ],
    }
    v2 = {  # reordered + extra + narrowed id + missing tag
        "type": "record",
        "name": "r",
        "fields": [
            {"name": "name", "type": "string"},
            {"name": "extra", "type": "int"},
            {"name": "id", "type": "int"},
        ],
    }
    # sorted listing makes the v1 file first → v1 is the reader schema
    write_avro_file(str(land / "a-v1.avro"), [(1, "one", "t1")], v1)
    write_avro_file(str(land / "b-v2.avro"), [("two", 99, 2)], v2)
    df = read_avro(spark, str(land))
    assert [f.name for f in df.schema.fields] == ["id", "name", "tag"]
    rows = {tuple(r) for r in df.collect()}
    assert rows == {(1, "one", "t1"), (2, "two", "x")}


def test_avro_schema_resolution_matches_jvm_reference(spark, tmp_path):
    """Differential: org.apache.avro's GenericDatumReader given the
    same (writer=v2 file, reader=v1) pair must produce exactly the
    values our resolving decoder produces."""
    import json as _json

    from pystreams_spark.formats.avro import iter_avro_file, write_avro_file

    v1 = {
        "type": "record",
        "name": "r",
        "fields": [
            {"name": "id", "type": "long"},
            {"name": "name", "type": "string"},
            {"name": "tag", "type": "string", "default": "x"},
        ],
    }
    v2 = {
        "type": "record",
        "name": "r",
        "fields": [
            {"name": "name", "type": "string"},
            {"name": "extra", "type": "int"},
            {"name": "id", "type": "int"},
        ],
    }
    path = str(tmp_path / "v2.avro")
    write_avro_file(path, [("two", 99, 2), ("three", 7, 3)], v2)

    ours = list(iter_avro_file(path, reader_avro=v1))
    assert ours == [(2, "two", "x"), (3, "three", "x")]

    jvm = spark._jvm
    reader_schema = jvm.org.apache.avro.Schema.Parser().parse(_json.dumps(v1))
    dr = jvm.org.apache.avro.generic.GenericDatumReader()
    dr.setExpected(reader_schema)
    fr = jvm.org.apache.avro.file.DataFileReader(jvm.java.io.File(path), dr)
    jrecs = []
    while fr.hasNext():
        jrecs.append(_json.loads(fr.next().toString()))
    fr.close()
    assert [(r["id"], r["name"], r["tag"]) for r in jrecs] == ours


def test_avro_general_union_resolution_composes(spark, tmp_path):
    """r9 (VERDICT r8 #4): schema resolution with a GENERAL union on
    the reader side. A landing dir anchors on a v1 reader whose ``sv``
    is ["null","string","long"] (JVM-written; our writer keeps its
    general-union refusal); a later v2 file writes ``sv`` as a PLAIN
    string and ``iv`` as int against reader ["int","long"]. Resolution
    must land v2's values inside the reader union's spark-avro mapping
    (string → member0 slot; int → widened long), not refuse —
    differential vs org.apache.avro GenericDatumReader.setExpected on
    the same (writer=v2, reader=v1) pair."""
    import json as _json

    from pystreams_spark.formats.avro import iter_avro_file

    jvm = spark._jvm
    v1 = {
        "type": "record", "name": "r",
        "fields": [
            {"name": "id", "type": "long"},
            {"name": "iv", "type": ["int", "long"]},
            {"name": "sv", "type": ["null", "string", "long"], "default": None},
        ],
    }
    v2 = {  # plain writer types into the reader's unions
        "type": "record", "name": "r",
        "fields": [
            {"name": "id", "type": "long"},
            {"name": "iv", "type": "int"},
            {"name": "sv", "type": "string"},
        ],
    }

    def jvm_write(path, schema_dict, rows):
        js = jvm.org.apache.avro.Schema.Parser().parse(_json.dumps(schema_dict))
        w = jvm.org.apache.avro.file.DataFileWriter(
            jvm.org.apache.avro.generic.GenericDatumWriter(js)
        )
        w.create(js, jvm.java.io.File(path))
        for row in rows:
            rec = jvm.org.apache.avro.generic.GenericData.Record(js)
            for f, v in zip([f["name"] for f in schema_dict["fields"]], row):
                rec.put(f, v)
            w.append(rec)
        w.close()

    land = tmp_path / "uland"
    land.mkdir()
    # sorted listing makes the v1 file first → v1 is the reader schema
    jvm_write(str(land / "a-v1.avro"), v1, [(0, 7, "direct")])
    jvm_write(str(land / "b-v2.avro"), v2, [(1, 5, "resolved")])

    df = read_avro(spark, str(land))
    assert dict(df.dtypes) == {
        "id": "bigint",
        "iv": "bigint",
        "sv": "struct<member0:string,member1:bigint>",
    }
    got = {r.id: r for r in df.collect()}
    assert got[0].iv == 7 and got[0].sv.member0 == "direct"
    assert got[1].iv == 5 and got[1].sv.member0 == "resolved"
    assert got[1].sv.member1 is None

    # differential: the JVM resolving reader selects the same branch
    rs = jvm.org.apache.avro.Schema.Parser().parse(_json.dumps(v1))
    dr = jvm.org.apache.avro.generic.GenericDatumReader()
    dr.setExpected(rs)
    fr = jvm.org.apache.avro.file.DataFileReader(
        jvm.java.io.File(str(land / "b-v2.avro")), dr
    )
    jrecs = []
    while fr.hasNext():
        jrecs.append(_json.loads(fr.next().toString()))
    fr.close()
    assert jrecs == [{"id": 1, "iv": 5, "sv": "resolved"}]

    # writer union REORDERED/subset vs reader general union: the long
    # branch must land in the reader's member1 slot
    v3 = {
        "type": "record", "name": "r",
        "fields": [
            {"name": "id", "type": "long"},
            {"name": "iv", "type": "long"},
            {"name": "sv", "type": ["long", "null"]},
        ],
    }
    p3 = str(tmp_path / "c-v3.avro")
    jvm_write(p3, v3, [(2, 9, 1 << 41), (3, 4, None)])
    ours = list(iter_avro_file(p3, reader_avro=v1))
    assert ours == [(2, 9, (None, 1 << 41)), (3, 4, None)]

    # no-match is still a loud, named error: bytes into ["int","long"]
    v_bad = {
        "type": "record", "name": "r",
        "fields": [
            {"name": "id", "type": "long"},
            {"name": "iv", "type": "bytes"},
            {"name": "sv", "type": "string"},
        ],
    }
    pb = str(tmp_path / "d-bad.avro")
    jvm_write(pb, v_bad, [])
    with pytest.raises(ValueError, match="promote|matches no branch"):
        list(iter_avro_file(pb, reader_avro=v1))


def test_avro_incompatible_drift_still_raises_loudly(spark, tmp_path):
    """Same-name field with an unresolvable type change (string vs
    long) must still refuse, naming the field."""
    from pystreams_spark.formats.avro import write_avro_file

    land = tmp_path / "bad"
    land.mkdir()
    v1 = {
        "type": "record",
        "name": "r",
        "fields": [{"name": "i", "type": "long"}, {"name": "s", "type": "string"}],
    }
    v_bad = {
        "type": "record",
        "name": "r",
        "fields": [{"name": "i", "type": "string"}, {"name": "s", "type": "string"}],
    }
    write_avro_file(str(land / "a.avro"), [(1, "one")], v1)
    write_avro_file(str(land / "b.avro"), [("oops", "two")], v_bad)
    with pytest.raises(Exception, match="incompatible schema evolution"):
        read_avro(spark, str(land)).collect()
    # a reader field missing from the writer WITHOUT a default is also
    # incompatible
    land2 = tmp_path / "bad2"
    land2.mkdir()
    v_missing = {
        "type": "record",
        "name": "r",
        "fields": [{"name": "i", "type": "long"}],
    }
    write_avro_file(str(land2 / "a.avro"), [(1, "one")], v1)
    write_avro_file(str(land2 / "b.avro"), [(2,)], v_missing)
    with pytest.raises(Exception, match="incompatible schema evolution"):
        read_avro(spark, str(land2)).collect()


def test_avro_stream_restart_with_cap_never_rereads_committed(tmp_path):
    """ADVICE r6 scenario: after a restart, the first latestOffset() of
    a CAPPED source mints an offset that is a SUBSET of the checkpointed
    start. The start-only files must still be fast-forwarded into _seen,
    or they re-surface as 'new' later and are read twice."""
    from pystreams_spark.formats.avro import AvroStreamReader, write_avro_file

    sc = {"type": "record", "name": "r", "fields": [{"name": "x", "type": "long"}]}
    land = tmp_path / "land"
    land.mkdir()
    for i in range(4):
        write_avro_file(str(land / f"f{i}.avro"), [(i,)], sc)

    # pre-restart history: an uncapped reader committed f0..f2
    committed = {"files": sorted(str(land / f"f{i}.avro") for i in range(3))}

    # restart: fresh reader, capped to 1 file/batch, empty _seen
    r = AvroStreamReader({"path": str(land), "max_files_per_batch": "1"})
    o1 = r.latestOffset()  # capped: subset of the checkpointed start
    assert len(o1["files"]) == 1
    # engine replays the recovered range first
    r.partitions(committed, o1) if o1["files"][0] not in committed["files"] else None
    # engine then plans the recovered-start -> o1 batch (possibly empty)
    r.partitions(committed, {"files": sorted(set(committed["files"]) | set(o1["files"]))})
    # every subsequent offset must offer ONLY f3 — never f1/f2 again
    seen_new = set()
    for _ in range(4):
        prev = {"files": sorted(set(committed["files"]) | set(o1["files"]) | seen_new)}
        nxt = r.latestOffset()
        delta = set(nxt["files"]) - set(prev["files"])
        assert not (delta & set(committed["files"])), f"re-read committed: {delta}"
        seen_new |= delta
    assert seen_new <= {str(land / "f3.avro")}


def test_avro_landing_zone_monitor_pipeline_end_to_end(spark, sf_dir, tmp_path):
    """The end-to-end landing-zone story a real ingest runs (VERDICT r6
    #7): pyavro streaming source → in-stream feature derivation (token
    count from the decoded text) → DriftMonitor (PSI vs a frozen
    pre-shift reference) AND StatsMaintainer (mergeable per-lang stats)
    composed in ONE foreachBatch — across a checkpoint restart that
    lands a distribution-shifted file. Asserts, in order: the pre-shift
    epoch scores no drift; the post-restart epoch (and only it) fires
    PSI on the shifted feature; the published stats after restart equal
    a from-scratch batch recompute over every landed file (exactly-once
    accounting); and a no-new-data replay changes nothing (idempotent
    epochs)."""
    from pystreams_spark.formats.avro import (
        AvroDataSource,
        spark_to_avro,
        write_avro_file,
    )
    from pystreams_spark.operators.incremental import (
        finalize_stats,
        merge_stats,
        stats_state,
    )
    from pystreams_spark.streaming.drift_monitor import DriftMonitor
    from pystreams_spark.streaming.stats_maintainer import StatsMaintainer

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text", "lang")
    av_schema = spark_to_avro(docs.schema)
    land = tmp_path / "landing"
    land.mkdir()

    def land_rows(name, rows):
        write_avro_file(str(land / name), rows, av_schema)

    base_rows = [tuple(r) for r in docs.limit(200).collect()]
    land_rows("f000.avro", base_rows[:100])
    land_rows("f001.avro", base_rows[100:])

    def enrich(df):
        return df.withColumn(
            "token_count",
            F.size(F.filter(F.split(F.trim("text"), r"\s+"), lambda x: x != "")),
        )

    spark.dataSource.register(AvroDataSource)
    # freeze the drift reference on the PRE-shift landing state
    ref = enrich(spark.read.format("pyavro").load(str(land)))
    monitor = DriftMonitor(str(tmp_path / "drift"), ref, ["token_count"])
    stats = StatsMaintainer(str(tmp_path / "stats"), ["lang"], "token_count")

    def fb(batch, epoch_id):
        b = enrich(batch).localCheckpoint(eager=True)
        monitor.process_batch(b, epoch_id)
        stats.process_batch(b, epoch_id)

    ckpt = str(tmp_path / "ckpt")

    def run_stream():
        q = (
            spark.readStream.format("pyavro")
            .option("path", str(land))
            .load()
            .writeStream.foreachBatch(fb)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run_stream()
    h1 = {
        (r.epoch, r.column): r.psi for r in monitor.history(spark).collect()
    }
    assert len(h1) == 1, "availableNow over two landed files = one epoch"
    ((first_epoch, _),) = h1.keys()
    assert h1[(first_epoch, "token_count")] < 0.05, (
        "reference data scored as drifted against its own profile"
    )

    # land a SHIFTED file (600-token docs) and restart from checkpoint
    shifted = [
        (10_000 + i, " ".join(["tok"] * 600), "en" if i % 2 else "de")
        for i in range(60)
    ]
    land_rows("f002.avro", shifted)
    run_stream()
    h2 = {
        (r.epoch, r.column): r.psi for r in monitor.history(spark).collect()
    }
    assert len(h2) == 2, "restart must process exactly the new file"
    shift_epoch = max(e for e, _ in h2.keys())
    assert shift_epoch != first_epoch
    assert h2[(first_epoch, "token_count")] < 0.05  # unchanged
    assert h2[(shift_epoch, "token_count")] > 0.5, (
        "planted 600-token shift did not fire PSI"
    )

    # published stats ≡ from-scratch batch recompute over ALL files
    got = sorted(
        tuple(r) for r in stats.current(spark).collect()
    )
    all_enriched = enrich(spark.read.format("pyavro").load(str(land)))
    want = sorted(
        tuple(r)
        for r in finalize_stats(
            merge_stats(
                stats_state(all_enriched, ["lang"], "token_count"),
                group_cols=["lang"],
            )
        ).collect()
    )
    assert got == want, "streamed fold diverged from batch recompute"

    # idempotent replay: nothing new landed → nothing changes
    run_stream()
    assert sorted(tuple(r) for r in stats.current(spark).collect()) == want
    assert len(monitor.history(spark).collect()) == 2


def test_snappy_raw_format_unit():
    """Raw-format snappy: roundtrip through our encoder, plus hand-built
    tag streams exercising every copy form (1/2/4-byte offsets) and the
    overlapping-copy repeat rule, plus malformed-input refusals — the
    format_description.txt cases — and a declared length no tag stream
    of that size can produce, refused before any allocation."""
    import tracemalloc

    import pytest as _pytest

    from pystreams_spark.formats.avro import snappy_compress, snappy_decompress

    for payload in (b"", b"x", b"hello world", bytes(range(256)) * 300):
        assert snappy_decompress(snappy_compress(payload)) == payload

    # hand-built: literal "abcd" then 1-byte-offset copy (len 4, off 4)
    # → "abcdabcd"
    s = bytes([8, (3 << 2) | 0]) + b"abcd" + bytes([(0 << 5) | 1, 4])
    assert snappy_decompress(s) == b"abcdabcd"

    # overlapping copy: literal "ab" + copy(off=2, len=6) → "ab"*4
    s = bytes([8, (1 << 2) | 0]) + b"ab" + bytes([(2 << 2) | 1, 2])
    # kind-1 copies have len = ((tag>>2)&7)+4 → tag (2<<2)|1 = len 6
    assert snappy_decompress(s) == b"abababab"

    # 2-byte-offset copy form
    s = bytes([8, (3 << 2) | 0]) + b"wxyz" + bytes([(3 << 2) | 2, 4, 0])
    assert snappy_decompress(s) == b"wxyzwxyz"

    # 4-byte-offset copy form
    s = (
        bytes([8, (3 << 2) | 0]) + b"1234"
        + bytes([(3 << 2) | 3]) + (4).to_bytes(4, "little")
    )
    assert snappy_decompress(s) == b"12341234"

    with _pytest.raises(ValueError, match="snappy"):
        snappy_decompress(bytes([4, (3 << 2) | 1, 99]))  # copy before start
    with _pytest.raises(ValueError, match="snappy"):
        snappy_decompress(bytes([9, (3 << 2) | 0]) + b"abcd")  # short output
    with _pytest.raises(ValueError, match="snappy"):
        snappy_decompress(bytes([200]))  # unterminated varint

    # 6 bytes declaring 2^32 - 1: one tag byte yields at most 64/3 bytes
    tracemalloc.start()
    try:
        with _pytest.raises(ValueError, match="snappy: declared 4294967295"):
            snappy_decompress(b"\xff\xff\xff\xff\x0f\x00")
        assert tracemalloc.get_traced_memory()[1] < 1 << 20
    finally:
        tracemalloc.stop()


def test_avro_snappy_codec_jvm_differential(spark, tmp_path):
    """Avro snappy codec differential vs snappy-java (on Spark's own
    classpath — the production default for Avro landing zones), both
    directions: REAL compressed blocks from snappy-java (copies, all
    tag forms) decode with our reader; our compressed blocks +
    big-endian CRC read back through the reference stack. Plus: a
    corrupted CRC refuses by name."""
    import json as _json

    from pystreams_spark.formats.avro import iter_avro_file, write_avro_file

    jvm = spark._jvm
    schema = {
        "type": "record", "name": "c",
        "fields": [
            {"name": "id", "type": "long"},
            {"name": "body", "type": "string"},
        ],
    }
    rows = [(i, ("repetitive payload " * 20) + str(i)) for i in range(300)]
    jschema = jvm.org.apache.avro.Schema.Parser().parse(_json.dumps(schema))

    # ours -> JVM
    ours = str(tmp_path / "ours_snappy.avro")
    write_avro_file(ours, rows, schema, codec="snappy")
    reader = jvm.org.apache.avro.file.DataFileReader(
        jvm.java.io.File(ours), jvm.org.apache.avro.generic.GenericDatumReader()
    )
    assert reader.getMetaString("avro.codec") == "snappy"
    n = 0
    while reader.hasNext():
        rec = reader.next()
        assert int(rec.get("id")) == n and str(rec.get("body")) == rows[n][1]
        n += 1
    reader.close()
    assert n == len(rows)

    # JVM -> ours (snappy-java's real compressor: copy elements galore)
    theirs = str(tmp_path / "jvm_snappy.avro")
    writer = jvm.org.apache.avro.file.DataFileWriter(
        jvm.org.apache.avro.generic.GenericDatumWriter(jschema)
    )
    writer.setCodec(jvm.org.apache.avro.file.CodecFactory.snappyCodec())
    writer.create(jschema, jvm.java.io.File(theirs))
    for i, body in rows:
        rec = jvm.org.apache.avro.generic.GenericData.Record(jschema)
        rec.put("id", i)
        rec.put("body", body)
        writer.append(rec)
    writer.close()
    # the compressed file must really be smaller than the raw payload —
    # i.e. we are decoding genuine copy-compressed blocks, not literals
    raw_size = sum(len(b) + 8 for _, b in rows)
    assert os.path.getsize(theirs) < raw_size / 3
    assert list(iter_avro_file(theirs)) == rows

    # CRC tamper: flip a byte inside the LAST 4 bytes before the sync
    # marker of the first block (the CRC32 suffix) and expect a refusal
    import struct as _struct

    data = bytearray(open(ours, "rb").read())
    # find first block: after header, skip varint row count + length...
    # simpler: corrupt every byte equal to the file's 17th-from-end and
    # reread — instead, corrupt the known CRC: our writer places it at
    # the end of each block payload; flip 4 bytes before the final sync
    data[-20] ^= 0xFF
    bad = str(tmp_path / "bad_crc.avro")
    open(bad, "wb").write(bytes(data))
    import pytest as _pytest

    with _pytest.raises(ValueError, match="CRC32|snappy"):
        list(iter_avro_file(bad))


def test_zstd_decoder_differential_vs_zstd_jni(spark):
    """REAL frames from zstd-jni (on Spark's own classpath) across
    compression levels and payload shapes — FSE-compressed sequence
    tables, 4-stream Huffman literals, treeless blocks, repeat offsets,
    >128 KB multi-block frames — decode byte-exactly; checksummed
    frames verify their xxh64 trailer (tamper caught); our frames read
    back through zstd-jni."""
    import os

    from pystreams_spark.formats.avro import zstd_compress, zstd_decompress

    jvm = spark._jvm
    Z = jvm.com.github.luben.zstd.Zstd
    big = open("pystreams_spark/queries.py", "rb").read()[:300_000]
    cases = {
        "empty": b"",
        "tiny": b"a",
        "repetitive": b"repetitive payload " * 200,
        "mixed": b"".join(
            bytes([i % 251]) + b"hello" * (i % 7) for i in range(500)
        ),
        "random": os.urandom(5000),
        "text": b"the quick brown fox jumps over the lazy dog. " * 100,
        "long_runs": b"\x00" * 10000 + b"A" * 5000 + bytes(range(256)) * 40,
        "source_multiblock": big + big[::-1],
    }
    for level in (1, 3, 19):
        for name, payload in cases.items():
            comp = bytes(Z.compress(bytearray(payload), level))
            assert zstd_decompress(comp) == payload, (level, name)

    # checksummed frame + tamper detection
    ctx = jvm.com.github.luben.zstd.ZstdCompressCtx()
    ctx.setLevel(3)
    ctx.setChecksum(True)
    comp = bytes(ctx.compress(bytearray(cases["text"])))
    assert zstd_decompress(comp) == cases["text"]
    bad = bytearray(comp)
    bad[-1] ^= 0xFF
    import pytest as _pytest

    with _pytest.raises(ValueError, match="checksum"):
        zstd_decompress(bytes(bad))

    # our frames: spec-valid per the reference decoder
    for name, payload in cases.items():
        ours = zstd_compress(payload)
        assert bytes(
            Z.decompress(bytearray(ours), max(len(payload), 1))
        ) == payload, name
        assert zstd_decompress(ours) == payload


def test_avro_zstandard_codec_jvm_differential(spark, tmp_path):
    """Avro zstandard codec both directions: the JVM writer's really-
    compressed blocks (CodecFactory.zstandardCodec) decode with our
    reader; our compressed blocks read back through the reference
    stack."""
    import json as _json

    from pystreams_spark.formats.avro import iter_avro_file, write_avro_file

    jvm = spark._jvm
    schema = {
        "type": "record", "name": "c",
        "fields": [
            {"name": "id", "type": "long"},
            {"name": "body", "type": "string"},
        ],
    }
    rows = [(i, ("repetitive payload " * 20) + str(i)) for i in range(300)]
    jschema = jvm.org.apache.avro.Schema.Parser().parse(_json.dumps(schema))

    ours = str(tmp_path / "ours_zstd.avro")
    write_avro_file(ours, rows, schema, codec="zstandard")
    reader = jvm.org.apache.avro.file.DataFileReader(
        jvm.java.io.File(ours), jvm.org.apache.avro.generic.GenericDatumReader()
    )
    assert reader.getMetaString("avro.codec") == "zstandard"
    n = 0
    while reader.hasNext():
        rec = reader.next()
        assert int(rec.get("id")) == n and str(rec.get("body")) == rows[n][1]
        n += 1
    reader.close()
    assert n == len(rows)

    theirs = str(tmp_path / "jvm_zstd.avro")
    writer = jvm.org.apache.avro.file.DataFileWriter(
        jvm.org.apache.avro.generic.GenericDatumWriter(jschema)
    )
    writer.setCodec(jvm.org.apache.avro.file.CodecFactory.zstandardCodec(3))
    writer.create(jschema, jvm.java.io.File(theirs))
    for i, body in rows:
        rec = jvm.org.apache.avro.generic.GenericData.Record(jschema)
        rec.put("id", i)
        rec.put("body", body)
        writer.append(rec)
    writer.close()
    raw_size = sum(len(b) + 8 for _, b in rows)
    assert os.path.getsize(theirs) < raw_size / 3  # genuinely compressed
    assert list(iter_avro_file(theirs)) == rows


def test_avro_decimal_roundtrip_and_jvm_differential(spark, tmp_path):
    """r7 decimal logical type: Spark DecimalType round-trips through
    our writer/reader (type + values exact), and both directions
    differential against the Apache reference — their reader sees our
    unscaled big-endian bytes as the right decimals (via the JVM
    DecimalConversion) and we decode a JVM-written decimal file
    exactly."""
    import decimal
    import json as _json

    jvm = spark._jvm

    # Spark-side roundtrip incl. negatives, zero, scale edges
    df = spark.createDataFrame(
        [
            (1, decimal.Decimal("12345.67")),
            (2, decimal.Decimal("-0.01")),
            (3, decimal.Decimal("0.00")),
            (4, decimal.Decimal("-99999999.99")),
            (5, None),
        ],
        "id long, amount decimal(10,2)",
    )
    dst = str(tmp_path / "dec")
    write_avro(df, dst)
    back = read_avro(spark, dst)
    assert dict(back.dtypes)["amount"] == "decimal(10,2)"
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, df.collect()))

    # JVM reads OUR files: decode the bytes through DecimalConversion
    conv = jvm.org.apache.avro.Conversions.DecimalConversion()
    got = {}
    for name in sorted(f for f in os.listdir(dst) if f.endswith(".avro")):
        reader = jvm.org.apache.avro.file.DataFileReader(
            jvm.java.io.File(os.path.join(dst, name)),
            jvm.org.apache.avro.generic.GenericDatumReader(),
        )
        while reader.hasNext():
            rec = reader.next()
            buf = rec.get("amount")
            if buf is None:
                got[int(str(rec.get("id")))] = None
                continue
            sch = rec.getSchema().getField("amount").schema().getTypes().get(1)
            bd = conv.fromBytes(buf, sch, sch.getLogicalType())
            got[int(str(rec.get("id")))] = str(bd)
        reader.close()
    assert got == {
        1: "12345.67", 2: "-0.01", 3: "0.00", 4: "-99999999.99", 5: None,
    }

    # JVM writes → we read
    schema_json = _json.dumps(
        {
            "type": "record", "name": "d",
            "fields": [
                {"name": "id", "type": "long"},
                {
                    "name": "v",
                    "type": {
                        "type": "bytes", "logicalType": "decimal",
                        "precision": 12, "scale": 3,
                    },
                },
            ],
        }
    )
    jschema = jvm.org.apache.avro.Schema.Parser().parse(schema_json)
    writer = jvm.org.apache.avro.file.DataFileWriter(
        jvm.org.apache.avro.generic.GenericDatumWriter(jschema)
    )
    path = str(tmp_path / "jvm_dec.avro")
    writer.create(jschema, jvm.java.io.File(path))
    vsch = jschema.getField("v").schema()
    cases = ["0.001", "-12.500", "99999.999", "0.000", "-0.001"]
    for i, s in enumerate(cases):
        rec = jvm.org.apache.avro.generic.GenericData.Record(jschema)
        rec.put("id", i)
        bd = jvm.java.math.BigDecimal(s)
        rec.put("v", conv.toBytes(bd, vsch, vsch.getLogicalType()))
        writer.append(rec)
    writer.close()
    back2 = read_avro(spark, path)
    assert dict(back2.dtypes)["v"] == "decimal(12,3)"
    rows = {r.id: str(r.v) for r in back2.collect()}
    assert rows == {i: s for i, s in enumerate(cases)}


def test_avro_general_unions_read_like_spark_avro(spark, tmp_path):
    """r7: multi-branch unions decode the way spark-avro maps them —
    int+long widens to long, float+double to double, anything else to
    struct<member0, member1, …> with exactly one member set — proven
    against a file the Apache reference writer produced."""
    import json as _json

    jvm = spark._jvm
    schema_json = _json.dumps(
        {
            "type": "record", "name": "u",
            "fields": [
                {"name": "id", "type": "long"},
                {"name": "iv", "type": ["null", "int", "long"], "default": None},
                {"name": "fv", "type": ["float", "double"]},
                {"name": "sv", "type": ["null", "string", "long"], "default": None},
            ],
        }
    )
    jschema = jvm.org.apache.avro.Schema.Parser().parse(schema_json)
    writer = jvm.org.apache.avro.file.DataFileWriter(
        jvm.org.apache.avro.generic.GenericDatumWriter(jschema)
    )
    path = str(tmp_path / "unions.avro")
    writer.create(jschema, jvm.java.io.File(path))
    # py4j value mapping: small python ints → Integer (the union's int
    # branch), ints > 2^31 → Long, floats → Double
    rows = [
        (0, 7, 1.5, "hello"),
        (1, 2**40, 2.25, 2**41),
        (2, None, -0.5, None),
    ]
    for rid, iv, fv, sv in rows:
        rec = jvm.org.apache.avro.generic.GenericData.Record(jschema)
        rec.put("id", rid)
        rec.put("iv", iv)
        rec.put("fv", fv)
        rec.put("sv", sv)
        writer.append(rec)
    writer.close()

    back = read_avro(spark, path)
    assert dict(back.dtypes) == {
        "id": "bigint",
        "iv": "bigint",
        "fv": "double",
        "sv": "struct<member0:string,member1:bigint>",
    }
    got = {r.id: r for r in back.collect()}
    assert got[0].iv == 7 and got[1].iv == 2**40 and got[2].iv is None
    assert got[0].fv == 1.5 and got[1].fv == 2.25 and got[2].fv == -0.5
    assert got[0].sv.member0 == "hello" and got[0].sv.member1 is None
    assert got[1].sv.member1 == 2**41 and got[1].sv.member0 is None
    assert got[2].sv is None


def test_avro_named_type_references(spark, tmp_path):
    """r8: named-type REUSE (record/enum/fixed defined once, referred
    to by name later) expands structurally at header parse; a file the
    Apache reference WRITER produces with such a schema reads
    correctly. Recursive types refuse by name (Spark schemas cannot
    express them)."""
    import json as _json

    import pytest as _pytest

    from pystreams_spark.formats.avro import expand_named_types, iter_avro_file

    schema_json = _json.dumps({
        "type": "record", "name": "Pair", "namespace": "ex",
        "fields": [
            {"name": "p1", "type": {"type": "record", "name": "Point",
                                    "fields": [{"name": "x", "type": "long"},
                                               {"name": "y", "type": "long"}]}},
            {"name": "p2", "type": "Point"},
            {"name": "tag1", "type": {"type": "enum", "name": "Tag",
                                      "symbols": ["A", "B"]}},
            {"name": "tag2", "type": "Tag"},
        ],
    })
    jvm = spark._jvm
    sc = jvm.org.apache.avro.Schema.Parser().parse(schema_json)
    path = str(tmp_path / "named.avro")
    writer = jvm.org.apache.avro.file.DataFileWriter(
        jvm.org.apache.avro.generic.GenericDatumWriter(sc)
    )
    writer.create(sc, jvm.java.io.File(path))
    point_sc = sc.getField("p1").schema()
    tag_sc = sc.getField("tag1").schema()
    for i in range(3):
        rec = jvm.org.apache.avro.generic.GenericData.Record(sc)
        for fname, (x, y) in (("p1", (i, i + 1)), ("p2", (10 * i, 10 * i + 1))):
            pt = jvm.org.apache.avro.generic.GenericData.Record(point_sc)
            pt.put("x", x)
            pt.put("y", y)
            rec.put(fname, pt)
        rec.put("tag1", jvm.org.apache.avro.generic.GenericData.EnumSymbol(
            tag_sc, "A" if i % 2 == 0 else "B"))
        rec.put("tag2", jvm.org.apache.avro.generic.GenericData.EnumSymbol(
            tag_sc, "B"))
        writer.append(rec)
    writer.close()

    rows = list(iter_avro_file(path))
    assert rows == [
        ((0, 1), (0, 1), "A", "B"),
        ((1, 2), (10, 11), "B", "B"),
        ((2, 3), (20, 21), "A", "B"),
    ]

    with _pytest.raises(NotImplementedError, match="recursive"):
        expand_named_types({
            "type": "record", "name": "Node",
            "fields": [{"name": "next", "type": ["null", "Node"]}],
        })


def test_zstd_real_compressor_differential_vs_zstd_jni(spark):
    """The compressor (`zstd_compress`) produces frames that zstd-jni
    (Spark's classpath) decompresses byte-exactly across payload shapes
    — literal-heavy, high-byte Huffman, runs, multi-block. Also: our
    own decoder round-trips the same frames, and compression is REAL
    (repetitive payloads shrink >5×), not stored-mode relabeled."""
    import os

    from pystreams_spark.formats.avro import zstd_compress, zstd_decompress

    jvm = spark._jvm
    Z = jvm.com.github.luben.zstd.Zstd
    big = open("pystreams_spark/queries.py", "rb").read()[:300_000]
    cases = {
        "empty": b"",
        "tiny": b"a",
        "pair": b"ab" * 6,
        "repetitive": b"repetitive payload " * 200,
        "mixed": b"".join(
            bytes([i % 120]) + b"hello" * (i % 7) for i in range(500)
        ),
        "random": os.urandom(5000),
        "text": b"the quick brown fox jumps over the lazy dog. " * 100,
        "long_runs": b"\x00" * 10000 + b"A" * 5000 + bytes(range(120)) * 40,
        "highbytes": bytes(range(256)) * 100 + os.urandom(2000),
        # high-byte-dominated compressible shapes: Huffman literals
        # with the FSE-COMPRESSED weight stream (alphabet > 128)
        "highbyte_huffman": bytes(
            (137 + (i * i) % 113) for i in range(220)
        ) * 40,
        "source_multiblock": big + big[::-1],
    }
    for name, payload in cases.items():
        comp = zstd_compress(payload)
        # libzstd reads it
        assert bytes(
            Z.decompress(bytearray(comp), max(len(payload), 1))
        ) == payload, name
        # and so do we
        assert zstd_decompress(comp) == payload, name
    # the ratio is real on compressible shapes
    assert len(zstd_compress(cases["repetitive"])) * 5 < len(
        cases["repetitive"]
    )
    assert len(zstd_compress(cases["text"])) * 5 < len(cases["text"])
    assert len(zstd_compress(big)) * 2 < len(big)


def test_zstd_encoder_offset_cap_degrades_not_raises(spark):
    """A repeat farther back than the encoder's window (2 MiB at
    level 3) cannot become a back-reference: the frame carries it as
    literals and still round-trips through zstd-jni and our decoder;
    a repeat inside the window still compresses."""
    import random

    from pystreams_spark.formats.avro import zstd_compress, zstd_decompress

    rng = random.Random(7)
    marker = rng.randbytes(4096)
    far = marker + rng.randbytes(5 << 19) + marker + b"tail"
    near = marker + rng.randbytes(1 << 20) + marker + b"tail"
    jvm = spark._jvm
    Z = jvm.com.github.luben.zstd.Zstd
    for payload in (far, near):
        comp = zstd_compress(payload)
        assert zstd_decompress(comp) == payload
        assert bytes(Z.decompress(bytearray(comp), len(payload))) == payload
    # the near repeat is a back-reference; the far one costs its bytes
    assert len(zstd_compress(near)) < len(near) - 3000
    assert len(zstd_compress(far)) > len(far) - 1000


def test_avro_zstandard_stored_codec(spark, tmp_path):
    """``codec="zstandard"`` files read back through our reader and
    org.apache.avro; the retired ``"zstandard-stored"`` write variant
    refuses, listing the six spec codecs."""
    import pytest as _pytest

    from pystreams_spark.formats.avro import iter_avro_file, write_avro_file

    schema = {
        "type": "record", "name": "R",
        "fields": [
            {"name": "id", "type": "long"},
            {"name": "s", "type": "string"},
        ],
    }
    rows = [(i, "payload " * 10 + str(i)) for i in range(500)]
    with _pytest.raises(
        NotImplementedError, match="null/deflate/bzip2/xz/snappy/zstandard\\)"
    ):
        write_avro_file(
            str(tmp_path / "stored.avro"), rows, schema, codec="zstandard-stored"
        )
    path = str(tmp_path / "zstd.avro")
    write_avro_file(path, rows, schema, codec="zstandard")
    got = list(iter_avro_file(path))
    assert len(got) == 500 and got[0][0] == 0 and got[7][1] == rows[7][1]
    # the reference stack reads the frames too
    jvm = spark._jvm
    reader = jvm.org.apache.avro.file.DataFileReader(
        jvm.java.io.File(path),
        jvm.org.apache.avro.generic.GenericDatumReader(),
    )
    assert reader.getMetaString("avro.codec") == "zstandard"
    n = 0
    while reader.hasNext():
        rec = reader.next()
        assert int(rec.get("id")) == n
        n += 1
    reader.close()
    assert n == 500


@pytest.mark.parametrize("codec", ["zstandard", "deflate", "bzip2", "xz"])
def test_block_decode_is_bounded(monkeypatch, codec):
    """A small block that expands past the per-block cap is refused by
    name before it is held in memory: with the cap at 1 MiB, 8 MiB of
    zeros never allocate more than a few MiB of output."""
    import tracemalloc

    from pystreams_spark.formats import avro

    zeros = bytes(8 << 20)
    block = avro._compress(codec, zeros)
    assert len(block) < 1 << 20
    assert avro._decompress(codec, block) == zeros  # under the real cap
    del zeros
    monkeypatch.setattr(avro, "_MAX_BLOCK_BYTES", 1 << 20)
    name = "zstd" if codec == "zstandard" else codec
    tracemalloc.start()
    try:
        with pytest.raises(ValueError, match=f"{name}: block expands past {1 << 20}"):
            avro._decompress(codec, block)
        peak = tracemalloc.get_traced_memory()[1]
    finally:
        tracemalloc.stop()
    # the xz decoder allocates the dictionary its header declares up
    # front: 8 MiB at the writer's preset 6, whatever the output
    window = 8 << 20 if codec == "xz" else 0
    assert peak < (4 << 20) + window, f"{codec}: traced peak {peak} bytes"


def _xz_with_dictionary_byte(dict_byte):
    """A valid xz stream of b"hello" whose one LZMA2 block header
    declares the dictionary size ``dict_byte`` encodes, with the block
    header's CRC32 recomputed. Built from a small stream, so nothing
    ever compresses with the declared dictionary."""
    import lzma
    import zlib

    b = bytearray(lzma.compress(b"hello", format=lzma.FORMAT_XZ))
    h = 12  # the block header follows the 12-byte stream header
    b[h + 4] = dict_byte
    b[h + 8 : h + 12] = zlib.crc32(bytes(b[h : h + 8])).to_bytes(4, "little")
    return bytes(b)


def test_xz_block_dictionary_is_memory_limited():
    """The xz decoder runs under a memory limit: a block declaring the
    64 MiB dictionary of Avro-Java's preset 9 decodes, and one
    declaring 4 GiB is refused by name before the dictionary is
    allocated."""
    from pystreams_spark.formats import avro

    assert avro._decompress("xz", _xz_with_dictionary_byte(28)) == b"hello"
    with pytest.raises(ValueError, match="xz: Memory usage limit"):
        avro._decompress("xz", _xz_with_dictionary_byte(40))
