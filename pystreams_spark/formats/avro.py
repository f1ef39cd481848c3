"""Avro source/sink from the PUBLIC Apache Avro 1.11 specification
(Object Container Files + binary encoding), plugged in as a Spark 4
Python DataSource — no ``spark-avro`` JVM module required.

Why this exists: the external ``org.apache.spark:spark-avro`` module is
not bundled with Spark distributions and is absent in this offline
runtime, yet Avro is a staple ingestion format. The container format is
small and fully specified (magic, metadata map carrying the JSON schema
and codec name, sync-delimited blocks; records binary-encoded with
zigzag-varint longs and length-prefixed strings/bytes), and the
``deflate`` codec is RFC-1951 raw deflate — Python's ``zlib`` speaks it
natively. So the Spark-first answer is a spec-level implementation
behind the custom DataSource API: the driver plans one InputPartition
per file, each executor decodes its files independently, and writes go
through the two-phase-commit DataSourceWriter (stage temp files,
publish by atomic rename on commit) like any exactly-once sink.

Scale shape: schema inference reads ONE file header (KBs) on the
driver; data never touches the driver. Batch read parallelism = byte
ranges, not files: large container files are split at sync-marker
boundaries (the Hadoop Avro input-format scheme — a block belongs to
the split containing the start of its preceding sync marker), so one
giant landing file scans with full cluster parallelism; small files
stay one partition each. Decode is per-record Python — a
deliberate trade: this path exists for INGESTION (read once, write
parquet, query forever), not for hot-loop analytics. The JVM-side
differential tests in ``tests/test_avro.py`` verify both directions
against the ``org.apache.avro`` classes bundled in Spark's own
classpath (write with ours → read with theirs, and vice versa).

Supported types (both directions): null, boolean, int, long, float,
double, bytes, string, record, array, map (string keys — an Avro spec
restriction), union of [null, T] (nullable), enum (→ string), fixed
(→ binary), logical date (int days) and timestamp-micros/millis
(→ Spark timestamp), and (r7) logical decimal on bytes/fixed
(big-endian two's-complement unscaled int ↔ Spark DecimalType).
General (multi-branch) unions READ the way spark-avro maps them (r7):
int+long → long, float+double → double, anything else →
``struct<member0, member1, …>`` with exactly one member set; the
WRITE side never emits them (Spark has no union type) and raises.
Schema RESOLUTION (r8, spec "Schema Resolution"): a directory mixing
COMPATIBLY evolved schema versions reads — fields match by name,
reader defaults fill dropped fields, writer-only fields are skipped,
int→long/float/double, long→float/double, float→double and
string↔bytes promote; the first file's schema is the reader schema.
Incompatible drift still refuses loudly naming the field.
Codecs: all six spec codecs — ``null``, ``deflate`` (zlib), ``bzip2``
(bz2), ``xz`` (lzma), ``snappy`` (raw format plus the Avro big-endian
CRC32 of the uncompressed block) and ``zstandard`` (level 3, Avro-Java's
default) — the last two on the libsnappy / libzstd that pyarrow
bundles. Both directions of both are differentially tested against
snappy-java / zstd-jni on Spark's own classpath.
"""

from __future__ import annotations

import bz2
import json
import lzma
import struct
import zlib

import pyarrow as pa
from pyspark.sql import types as T
from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    DataSourceWriter,
    InputPartition,
    WriterCommitMessage,
)

MAGIC = b"Obj\x01"
_EPOCH_ORD = 719163  # datetime.date(1970, 1, 1).toordinal()
_PRIMITIVES = frozenset(
    ("null", "boolean", "int", "long", "float", "double", "bytes", "string")
)

# ---------------------------------------------------------------------------
# primitive binary codec (Avro spec "Binary encoding")
# ---------------------------------------------------------------------------


def _enc_long(n: int, out: bytearray) -> None:
    n = (n << 1) ^ (n >> 63)  # zigzag
    while True:
        b = n & 0x7F
        n >>= 7
        if n:
            out.append(b | 0x80)
        else:
            out.append(b)
            return


class _Cursor:
    """Byte cursor over one decompressed block."""

    __slots__ = ("buf", "pos")

    def __init__(self, buf: bytes):
        self.buf = buf
        self.pos = 0

    def long(self) -> int:
        buf, pos, n, shift = self.buf, self.pos, 0, 0
        while True:
            b = buf[pos]
            pos += 1
            n |= (b & 0x7F) << shift
            if not b & 0x80:
                break
            shift += 7
        self.pos = pos
        return (n >> 1) ^ -(n & 1)  # un-zigzag

    def bytes_(self) -> bytes:
        n = self.long()
        out = self.buf[self.pos : self.pos + n]
        if len(out) < n:
            raise IndexError("avro: truncated buffer")
        self.pos += n
        return out

    def fixed(self, n: int) -> bytes:
        out = self.buf[self.pos : self.pos + n]
        if len(out) < n:
            raise IndexError("avro: truncated buffer")
        self.pos += n
        return out


# ---------------------------------------------------------------------------
# schema translation  Spark <-> Avro (JSON object form)
# ---------------------------------------------------------------------------

_ATOMIC_TO_AVRO = {
    T.BooleanType: "boolean",
    T.IntegerType: "int",
    T.ShortType: "int",
    T.ByteType: "int",
    T.LongType: "long",
    T.FloatType: "float",
    T.DoubleType: "double",
    T.StringType: "string",
    T.BinaryType: "bytes",
}


def spark_to_avro(schema: T.StructType, name: str = "topLevelRecord") -> dict:
    """Spark StructType → Avro record schema (JSON object). Nullable
    fields become the canonical ``["null", T]`` union with null
    default, matching what spark-avro itself emits."""
    counter = [0]

    def conv(dt: T.DataType, path: str) -> object:
        for cls, avro in _ATOMIC_TO_AVRO.items():
            if isinstance(dt, cls):
                return avro
        if isinstance(dt, T.DateType):
            return {"type": "int", "logicalType": "date"}
        if isinstance(dt, (T.TimestampType, T.TimestampNTZType)):
            return {"type": "long", "logicalType": "timestamp-micros"}
        if isinstance(dt, T.DecimalType):  # r7: big-endian unscaled bytes
            return {
                "type": "bytes",
                "logicalType": "decimal",
                "precision": dt.precision,
                "scale": dt.scale,
            }
        if isinstance(dt, T.ArrayType):
            item = conv(dt.elementType, path + ".item")
            if dt.containsNull:
                item = ["null", item]
            return {"type": "array", "items": item}
        if isinstance(dt, T.MapType):
            if not isinstance(dt.keyType, T.StringType):
                raise NotImplementedError(
                    f"avro: map keys must be strings (spec restriction), got "
                    f"{dt.keyType.simpleString()} at {path}"
                )
            val = conv(dt.valueType, path + ".value")
            if dt.valueContainsNull:
                val = ["null", val]
            return {"type": "map", "values": val}
        if isinstance(dt, T.StructType):
            counter[0] += 1
            return {
                "type": "record",
                "name": f"{name}_n{counter[0]}",
                "fields": [
                    {
                        "name": f.name,
                        "type": ["null", conv(f.dataType, f"{path}.{f.name}")]
                        if f.nullable
                        else conv(f.dataType, f"{path}.{f.name}"),
                        **({"default": None} if f.nullable else {}),
                    }
                    for f in dt.fields
                ],
            }
        raise NotImplementedError(
            f"avro: unsupported Spark type {dt.simpleString()} at {path}"
        )

    return {
        "type": "record",
        "name": name,
        "fields": [
            {
                "name": f.name,
                "type": ["null", conv(f.dataType, f.name)]
                if f.nullable
                else conv(f.dataType, f.name),
                **({"default": None} if f.nullable else {}),
            }
            for f in schema.fields
        ],
    }


def _is_nullable_union(sc: object) -> tuple[bool, object]:
    """(is [null, T] union, the non-null branch). Raises on general
    unions — the WRITE-side contract (our writer never emits them);
    the read side maps them via `_union_info` below (r7)."""
    if isinstance(sc, list):
        branches = [b for b in sc if b != "null"]
        if len(sc) <= 2 and len(branches) == 1:
            return True, branches[0]
        raise NotImplementedError(
            f"avro: general unions are not supported (got {len(sc)} branches); "
            "restructure as separate nullable columns"
        )
    return False, sc


def _union_info(sc: list) -> tuple[bool, list, str]:
    """General-union classification (r7, read side — the spark-avro
    conventions): (has_null, non-null branches, kind) with kind one of
    ``single`` ([null, T]), ``int_long`` (→ long), ``float_double``
    (→ double), ``struct`` (→ struct<member0, member1, …>).

    Branches spelled as ``{"type": "<primitive>"}`` with no logicalType
    are normalized to their type-name string first, matching spark-avro's
    schema-form normalization (so ``[{"type":"int"},{"type":"long"}]``
    classifies as int_long → long, not struct)."""

    def norm(b: object) -> object:
        if (
            isinstance(b, dict)
            and "logicalType" not in b
            and isinstance(b.get("type"), str)
            and b["type"] in _PRIMITIVES
            and set(b) <= {"type"}
        ):
            return b["type"]
        return b

    sc = [norm(b) for b in sc]
    has_null = "null" in sc
    branches = [b for b in sc if b != "null"]
    if len(branches) == 1:
        return has_null, branches, "single"
    if set(map(str, branches)) == {"int", "long"}:
        return has_null, branches, "int_long"
    if set(map(str, branches)) == {"float", "double"}:
        return has_null, branches, "float_double"
    return has_null, branches, "struct"


def avro_to_spark(sc: object) -> T.DataType:
    """Avro schema (parsed JSON) → Spark DataType. General unions map
    the way spark-avro maps them (r7, read side): int+long → long,
    float+double → double, anything else → struct<member0, member1, …>
    with one field per non-null branch."""
    if isinstance(sc, list):
        has_null, branches, kind = _union_info(sc)
        if kind == "int_long":
            return T.LongType()
        if kind == "float_double":
            return T.DoubleType()
        if kind == "struct":
            return T.StructType(
                [
                    T.StructField(f"member{i}", avro_to_spark(b), nullable=True)
                    for i, b in enumerate(branches)
                ]
            )
    nullable, sc = _is_nullable_union(sc)
    if isinstance(sc, str):
        prim = {
            "null": T.NullType(),
            "boolean": T.BooleanType(),
            "int": T.IntegerType(),
            "long": T.LongType(),
            "float": T.FloatType(),
            "double": T.DoubleType(),
            "bytes": T.BinaryType(),
            "string": T.StringType(),
        }
        if sc in prim:
            return prim[sc]
        raise NotImplementedError(f"avro: unsupported named type ref '{sc}'")
    t = sc["type"]
    logical = sc.get("logicalType")
    if logical == "date" and t == "int":
        return T.DateType()
    if logical in ("timestamp-micros", "timestamp-millis") and t == "long":
        return T.TimestampType()
    if logical == "decimal":
        if t not in ("bytes", "fixed"):
            raise NotImplementedError(
                f"avro: decimal logical type on '{t}' unsupported"
            )
        return T.DecimalType(int(sc["precision"]), int(sc.get("scale", 0)))
    if t in ("string", "boolean", "int", "long", "float", "double", "bytes", "null"):
        return avro_to_spark(t)
    if t == "enum":
        return T.StringType()
    if t == "fixed":
        return T.BinaryType()
    if t == "array":
        has_null = isinstance(sc["items"], list) and "null" in sc["items"]
        return T.ArrayType(avro_to_spark(sc["items"]), containsNull=has_null)
    if t == "map":
        has_null = isinstance(sc["values"], list) and "null" in sc["values"]
        return T.MapType(
            T.StringType(), avro_to_spark(sc["values"]), valueContainsNull=has_null
        )
    if t == "record":
        fields = []
        for f in sc["fields"]:
            fnull = isinstance(f["type"], list) and "null" in f["type"]
            fields.append(
                T.StructField(f["name"], avro_to_spark(f["type"]), nullable=fnull)
            )
        return T.StructType(fields)
    raise NotImplementedError(f"avro: unsupported type {t}")


# ---------------------------------------------------------------------------
# compiled per-schema record codecs (closure trees, built once per task)
# ---------------------------------------------------------------------------


def _make_decoder(sc: object):
    """Avro schema → fn(_Cursor) -> python value (Spark-compatible)."""
    if isinstance(sc, list):
        # union: the encoded index selects the branch in DECLARED order
        # — a foreign file may write ["T", "null"], so keep the order
        # (our [null, T] normalization is for TYPE mapping only).
        has_null, branches, kind = _union_info(sc)
        branch_decs = [
            (lambda c: None) if b == "null" else _make_decoder(b) for b in sc
        ]
        if kind in ("single", "int_long", "float_double"):
            # widened scalar (or plain nullable): the decoded python
            # value is already the right shape for the mapped type

            def dec_union(c: _Cursor):
                return branch_decs[c.long()](c)

            return dec_union
        # struct mapping (r7): value lands in its branch's memberN slot
        n_members = len(branches)
        member_of = {}  # declared union index → member slot (None = null)
        slot = 0
        for i, b in enumerate(sc):
            if b == "null":
                member_of[i] = None
            else:
                member_of[i] = slot
                slot += 1

        def dec_union_struct(c: _Cursor):
            i = c.long()
            v = branch_decs[i](c)
            m = member_of.get(i)
            if m is None:
                return None
            out = [None] * n_members
            out[m] = v
            return tuple(out)

        return dec_union_struct
    if isinstance(sc, str):
        return {
            "null": lambda c: None,
            "boolean": lambda c: c.fixed(1) == b"\x01",
            "int": _Cursor.long,
            "long": _Cursor.long,
            "float": lambda c: struct.unpack("<f", c.fixed(4))[0],
            "double": lambda c: struct.unpack("<d", c.fixed(8))[0],
            "bytes": lambda c: bytes(c.bytes_()),
            "string": lambda c: c.bytes_().decode("utf-8"),
        }[sc]
    t = sc["type"]
    logical = sc.get("logicalType")
    if logical == "decimal" and t in ("bytes", "fixed"):
        import decimal

        scale = int(sc.get("scale", 0))
        if t == "fixed":
            size = int(sc["size"])

            def dec_decimal(c: _Cursor):
                raw = bytes(c.fixed(size))
                return decimal.Decimal(
                    int.from_bytes(raw, "big", signed=True)
                ).scaleb(-scale)

        else:

            def dec_decimal(c: _Cursor):
                raw = bytes(c.bytes_())
                return decimal.Decimal(
                    int.from_bytes(raw, "big", signed=True)
                ).scaleb(-scale)

        return dec_decimal
    if logical == "date" and t == "int":
        import datetime

        return lambda c: datetime.date.fromordinal(_EPOCH_ORD + c.long())
    if logical == "timestamp-micros" and t == "long":
        import datetime

        ep = datetime.datetime(1970, 1, 1, tzinfo=datetime.timezone.utc)
        return lambda c: ep + datetime.timedelta(microseconds=c.long())
    if logical == "timestamp-millis" and t == "long":
        import datetime

        ep = datetime.datetime(1970, 1, 1, tzinfo=datetime.timezone.utc)
        return lambda c: ep + datetime.timedelta(milliseconds=c.long())
    if isinstance(t, (dict, list)):  # nested complex as "type"
        return _make_decoder(t)
    if t in ("string", "boolean", "int", "long", "float", "double", "bytes", "null"):
        return _make_decoder(t)
    if t == "enum":
        symbols = sc["symbols"]
        return lambda c: symbols[c.long()]
    if t == "fixed":
        n = int(sc["size"])
        return lambda c: bytes(c.fixed(n))
    if t == "array":
        item = _make_decoder(sc["items"])

        def dec_array(c: _Cursor):
            out = []
            while True:
                n = c.long()
                if n == 0:
                    return out
                if n < 0:  # negative count: byte size follows (skippable form)
                    c.long()
                    n = -n
                for _ in range(n):
                    out.append(item(c))

        return dec_array
    if t == "map":
        val = _make_decoder(sc["values"])

        def dec_map(c: _Cursor):
            out = {}
            while True:
                n = c.long()
                if n == 0:
                    return out
                if n < 0:
                    c.long()
                    n = -n
                for _ in range(n):
                    k = c.bytes_().decode("utf-8")
                    out[k] = val(c)

        return dec_map
    if t == "record":
        field_decs = [_make_decoder(f["type"]) for f in sc["fields"]]

        def dec_record(c: _Cursor):
            return tuple(d(c) for d in field_decs)

        return dec_record
    raise NotImplementedError(f"avro: cannot decode type {t}")


# ---------------------------------------------------------------------------
# schema resolution (Avro spec "Schema Resolution", r8): decode bytes
# written under an EVOLVED writer schema into reader-schema-shaped
# values — fields matched by NAME, reader defaults fill fields the
# writer lacks, extra writer fields are decoded-and-discarded, and the
# spec's numeric/string-bytes promotions apply. Turns the r7 drift
# guard's blanket refusal into a read for the compatible-evolution case
# a real landing zone produces; genuine incompatibilities still raise
# by field name.
# ---------------------------------------------------------------------------

_PROMOTIONS = {
    # writer primitive → reader primitives it may promote to (spec list)
    "int": {"long", "float", "double"},
    "long": {"float", "double"},
    "float": {"double"},
    "string": {"bytes"},
    "bytes": {"string"},
}


def _norm_prim(sc: object) -> object:
    """{"type": "<primitive>"} with no logicalType → its name string."""
    if (
        isinstance(sc, dict)
        and "logicalType" not in sc
        and isinstance(sc.get("type"), str)
        and sc["type"] in _PRIMITIVES
        and set(sc) <= {"type"}
    ):
        return sc["type"]
    return sc


def _logical_tag(sc: object):
    """(logicalType, base, params) for dict schemas, else None."""
    if isinstance(sc, dict) and "logicalType" in sc:
        params = ()
        if sc["logicalType"] == "decimal":
            params = (int(sc.get("precision", 0)), int(sc.get("scale", 0)))
        return (sc["logicalType"], sc.get("type"), params)
    return None


def _default_to_value(sc: object, d: object):
    """Convert an Avro JSON default into the decoder's value space
    (dates/timestamps/decimals converted exactly like decoded data;
    bytes/fixed defaults are latin-1-escaped strings per spec)."""
    sc = _norm_prim(sc)
    if isinstance(sc, list):
        # union default applies to the FIRST branch (spec)
        return _default_to_value(sc[0], d)
    if isinstance(sc, str):
        if sc == "null":
            return None
        if sc in ("int", "long"):
            return int(d)
        if sc in ("float", "double"):
            return float(d)
        if sc == "bytes":
            return d.encode("latin-1")
        return d  # boolean / string
    t = sc["type"]
    logical = sc.get("logicalType")
    if logical == "date" and t == "int":
        import datetime

        return datetime.date.fromordinal(_EPOCH_ORD + int(d))
    if logical in ("timestamp-micros", "timestamp-millis") and t == "long":
        import datetime

        ep = datetime.datetime(1970, 1, 1, tzinfo=datetime.timezone.utc)
        unit = "microseconds" if logical == "timestamp-micros" else "milliseconds"
        return ep + datetime.timedelta(**{unit: int(d)})
    if logical == "decimal" and t in ("bytes", "fixed"):
        import decimal

        raw = d.encode("latin-1")
        return decimal.Decimal(
            int.from_bytes(raw, "big", signed=True)
        ).scaleb(-int(sc.get("scale", 0)))
    if t == "fixed":
        return d.encode("latin-1")
    if t == "enum":
        return d
    if t == "array":
        return [_default_to_value(sc["items"], x) for x in d]
    if t == "map":
        return {k: _default_to_value(sc["values"], v) for k, v in d.items()}
    if t == "record":
        out = []
        for f in sc["fields"]:
            if f["name"] in d:
                out.append(_default_to_value(f["type"], d[f["name"]]))
            elif "default" in f:
                out.append(_default_to_value(f["type"], f["default"]))
            else:
                raise ValueError(
                    f"avro: record default missing field '{f['name']}'"
                )
        return tuple(out)
    if isinstance(t, (dict, list)):
        return _default_to_value(t, d)
    return _default_to_value(t, d)


def _make_general_union_resolver(
    w: object, w_is_u: bool, has_null: bool, branches: list, kind: str
):
    """Reader-side GENERAL-union resolution (r9, r8 verdict #4). Spec
    rule: when the reader's schema is a union, the first reader branch
    that resolves against the writer's (selected) schema is used; no
    match is an error. The decoded value lands in the reader union's
    spark-avro mapping — int+long → long, float+double → double,
    anything else → struct<member0, member1, …> with exactly the
    matched branch's slot set — so resolution COMPOSES with the r7
    general-union read mapping instead of refusing."""
    n = len(branches)

    def resolve_plain(wb: object):
        if wb == "null":
            if has_null:
                return lambda c: None
            raise ValueError(
                "avro resolution: writer wrote null but the reader "
                "union has no null branch"
            )
        if kind in ("int_long", "float_double"):
            target = "long" if kind == "int_long" else "double"
            return _make_resolving_decoder(wb, target)
        # struct mapping: FIRST reader branch that resolves wins
        # (spec's declared-order match), value in that branch's slot
        last_err: Exception | None = None
        for slot, rb in enumerate(branches):
            try:
                inner = _make_resolving_decoder(wb, rb)
            except (ValueError, NotImplementedError) as e:
                last_err = e
                continue

            def dec(c, _inner=inner, _slot=slot):
                out = [None] * n
                out[_slot] = _inner(c)
                return tuple(out)

            return dec
        raise ValueError(
            f"avro resolution: writer type {wb!r} matches no branch of "
            f"the reader union (last branch error: {last_err})"
        )

    if not w_is_u:
        return resolve_plain(w)
    # writer union: resolve each branch independently; a branch that
    # CANNOT resolve is a runtime error only if a record holds one
    # (same convention as the reader-plain path below)
    branch_decs = []
    for b in w:
        try:
            branch_decs.append(resolve_plain(b))
        except ValueError as e:

            def _fail(c, _msg=str(e)):
                raise ValueError(_msg)

            branch_decs.append(_fail)
    return lambda c: branch_decs[c.long()](c)


def _make_resolving_decoder(writer: object, reader: object):
    """fn(_Cursor) decoding WRITER-encoded bytes into READER-shaped
    values, per the spec's resolution rules. Raises ValueError (naming
    the offending field/type) when the schemas cannot resolve."""
    w, r = _norm_prim(writer), _norm_prim(reader)
    if w == r:
        return _make_decoder(w)

    # unions first (either side)
    w_is_u, r_is_u = isinstance(w, list), isinstance(r, list)
    if w_is_u or r_is_u:
        if r_is_u:
            has_null, branches, kind = _union_info(r)
            if kind != "single":
                return _make_general_union_resolver(
                    w, w_is_u, has_null, branches, kind
                )
            r_target = _norm_prim(branches[0])
            if not w_is_u:
                inner = _make_resolving_decoder(w, r_target)
                return inner  # non-null writer value always fits [null, T]
            branch_decs = []
            for b in w:
                if b == "null":
                    branch_decs.append(lambda c: None)
                else:
                    branch_decs.append(_make_resolving_decoder(b, r_target))
            return lambda c: branch_decs[c.long()](c)
        # writer union, reader plain: each branch must resolve; a null
        # branch is a RUNTIME error only if a record actually holds one
        branch_decs = []
        for b in w:
            if b == "null":

                def _null_branch(c, _r=r):
                    raise ValueError(
                        "avro resolution: writer wrote null but reader "
                        f"type {_r} is non-nullable"
                    )

                branch_decs.append(_null_branch)
            else:
                branch_decs.append(_make_resolving_decoder(b, r))
        return lambda c: branch_decs[c.long()](c)

    # logical types must agree exactly (no cross-logical promotion)
    wt, rt = _logical_tag(w), _logical_tag(r)
    if wt is not None or rt is not None:
        if wt != rt:
            raise ValueError(
                f"avro resolution: logical types differ ({wt} vs {rt})"
            )
        return _make_decoder(w)

    if isinstance(w, str) and isinstance(r, str):
        if r in _PROMOTIONS.get(w, ()):
            base = _make_decoder(w)
            if r in ("float", "double"):
                return lambda c: float(base(c))
            if (w, r) == ("string", "bytes"):
                return lambda c: base(c).encode("utf-8")
            if (w, r) == ("bytes", "string"):
                return lambda c: base(c).decode("utf-8")
            return base  # int → long
        raise ValueError(
            f"avro resolution: writer '{w}' does not promote to reader '{r}'"
        )
    if isinstance(w, str) or isinstance(r, str):
        raise ValueError(
            f"avro resolution: writer {w} incompatible with reader {r}"
        )

    wt_, rt_ = w["type"], r["type"]
    if isinstance(wt_, (dict, list)) and set(w) <= {"type"}:
        return _make_resolving_decoder(wt_, r)
    if isinstance(rt_, (dict, list)) and set(r) <= {"type"}:
        return _make_resolving_decoder(w, rt_)
    if wt_ != rt_:
        raise ValueError(
            f"avro resolution: writer type '{wt_}' vs reader type '{rt_}'"
        )
    if wt_ == "array":
        item = _make_resolving_decoder(w["items"], r["items"])

        def dec_array(c: _Cursor):
            out = []
            while True:
                n = c.long()
                if n == 0:
                    return out
                if n < 0:
                    c.long()
                    n = -n
                for _ in range(n):
                    out.append(item(c))

        return dec_array
    if wt_ == "map":
        val = _make_resolving_decoder(w["values"], r["values"])

        def dec_map(c: _Cursor):
            out = {}
            while True:
                n = c.long()
                if n == 0:
                    return out
                if n < 0:
                    c.long()
                    n = -n
                for _ in range(n):
                    k = c.bytes_().decode("utf-8")
                    out[k] = val(c)

        return dec_map
    if wt_ == "enum":
        w_syms, r_syms = w["symbols"], set(r["symbols"])
        fallback = r.get("default")

        def dec_enum(c: _Cursor):
            s = w_syms[c.long()]
            if s in r_syms:
                return s
            if fallback is not None:
                return fallback
            raise ValueError(
                f"avro resolution: enum symbol '{s}' absent from reader "
                "and reader declares no default"
            )

        return dec_enum
    if wt_ == "fixed":
        if int(w["size"]) != int(r["size"]):
            raise ValueError(
                f"avro resolution: fixed size {w['size']} vs {r['size']}"
            )
        return _make_decoder(w)
    if wt_ == "record":
        w_by_name = {f["name"]: f for f in w["fields"]}
        # per writer field: either a (slot, resolving decoder) or a
        # skip decoder (decode & discard — keeps the cursor honest)
        r_names = [f["name"] for f in r["fields"]]
        slot_of = {name: i for i, name in enumerate(r_names)}
        steps = []  # (slot | None, decoder)
        for wf in w["fields"]:
            slot = slot_of.get(wf["name"])
            if slot is None:
                steps.append((None, _make_decoder(wf["type"])))
            else:
                rf = r["fields"][slot]
                try:
                    steps.append(
                        (slot, _make_resolving_decoder(wf["type"], rf["type"]))
                    )
                except ValueError as e:
                    raise ValueError(f"field '{wf['name']}': {e}") from None
        consts = []  # (slot, constant) for reader fields the writer lacks
        for i, rf in enumerate(r["fields"]):
            if rf["name"] not in w_by_name:
                if "default" not in rf:
                    raise ValueError(
                        f"avro resolution: reader field '{rf['name']}' "
                        "missing from writer and declares no default"
                    )
                consts.append((i, _default_to_value(rf["type"], rf["default"])))
        n_out = len(r_names)

        def dec_record(c: _Cursor):
            out = [None] * n_out
            for slot, dec in steps:
                v = dec(c)
                if slot is not None:
                    out[slot] = v
            for slot, v in consts:
                out[slot] = v
            return tuple(out)

        return dec_record
    raise ValueError(f"avro resolution: cannot resolve type '{wt_}'")


def _decoder_for(path: str, writer_schema, reader_avro, expect_spark):
    """Pick the decoder for one file: identical schemas → plain decode;
    compatible evolution (when the scan carries a reader Avro schema) →
    resolving decode; incompatible → loud error naming the file."""
    if reader_avro is not None:
        if writer_schema == reader_avro:
            return _make_decoder(writer_schema)
        try:
            return _make_resolving_decoder(writer_schema, reader_avro)
        except ValueError as e:
            raise ValueError(
                f"avro: incompatible schema evolution in {path}: {e}. "
                "Re-encode the file or load it separately."
            ) from None
    _check_file_schema(path, writer_schema, expect_spark)
    return _make_decoder(writer_schema)


def _make_encoder(sc: object):
    """Avro schema → fn(value, bytearray). Inverse of _make_decoder;
    None under a nullable union writes the null branch's DECLARED
    index (zigzag-encoded), non-None the other branch's."""
    if isinstance(sc, list):
        nullable, branch = _is_nullable_union(sc)  # raises on general unions
        if len(sc) == 1:
            inner = _make_encoder(branch)
            return lambda v, out: (out.append(0), inner(v, out))[0]
        null_idx = sc.index("null")
        val_idx = 1 - null_idx
        inner = _make_encoder(branch)

        def enc_union(v, out: bytearray):
            if v is None:
                _enc_long(null_idx, out)
            else:
                _enc_long(val_idx, out)
                inner(v, out)

        return enc_union
    if isinstance(sc, str):
        if sc == "null":
            return lambda v, out: None
        if sc == "boolean":
            return lambda v, out: out.append(1 if v else 0)
        if sc in ("int", "long"):
            return lambda v, out: _enc_long(int(v), out)
        if sc == "float":
            return lambda v, out: out.extend(struct.pack("<f", v))
        if sc == "double":
            return lambda v, out: out.extend(struct.pack("<d", v))
        if sc == "bytes":

            def enc_bytes(v, out: bytearray):
                b = bytes(v)
                _enc_long(len(b), out)
                out.extend(b)

            return enc_bytes
        if sc == "string":

            def enc_str(v, out: bytearray):
                b = v.encode("utf-8")
                _enc_long(len(b), out)
                out.extend(b)

            return enc_str
        raise NotImplementedError(f"avro: cannot encode named type ref '{sc}'")
    t = sc["type"]
    logical = sc.get("logicalType")
    if logical == "decimal" and t in ("bytes", "fixed"):
        scale = int(sc.get("scale", 0))
        fixed_size = int(sc["size"]) if t == "fixed" else None

        def enc_decimal(v, out: bytearray):
            unscaled = int(v.scaleb(scale))
            n = fixed_size or max(1, -(-(unscaled.bit_length() + 1) // 8))
            b = unscaled.to_bytes(n, "big", signed=True)
            if fixed_size is None:
                _enc_long(len(b), out)
            out.extend(b)

        return enc_decimal
    if logical == "date" and t == "int":
        return lambda v, out: _enc_long(v.toordinal() - _EPOCH_ORD, out)
    if logical == "timestamp-micros" and t == "long":
        import datetime

        ep_naive = datetime.datetime(1970, 1, 1)
        ep_utc = datetime.datetime(1970, 1, 1, tzinfo=datetime.timezone.utc)

        def enc_ts(v, out: bytearray):
            # exact integer µs from timedelta components — total_seconds()
            # is a float and drops microseconds beyond ±2^53 µs (~±285 y)
            delta = v - (ep_naive if v.tzinfo is None else ep_utc)
            us = (delta.days * 86_400 + delta.seconds) * 1_000_000 + delta.microseconds
            _enc_long(us, out)

        return enc_ts
    if isinstance(t, (dict, list)):
        return _make_encoder(t)
    if t in ("string", "boolean", "int", "long", "float", "double", "bytes", "null"):
        return _make_encoder(t)
    if t == "array":
        item = _make_encoder(sc["items"])

        def enc_array(v, out: bytearray):
            if v:
                _enc_long(len(v), out)
                for x in v:
                    item(x, out)
            out.append(0)

        return enc_array
    if t == "map":
        val = _make_encoder(sc["values"])

        def enc_map(v, out: bytearray):
            if v:
                _enc_long(len(v), out)
                for k, x in v.items():
                    b = k.encode("utf-8")
                    _enc_long(len(b), out)
                    out.extend(b)
                    val(x, out)
            out.append(0)

        return enc_map
    if t == "record":
        field_encs = [_make_encoder(f["type"]) for f in sc["fields"]]

        def enc_record(v, out: bytearray):
            # Spark Rows are tuples in field order; accept any sequence
            for i, e in enumerate(field_encs):
                e(v[i], out)

        return enc_record
    raise NotImplementedError(f"avro: cannot encode type {t}")


# ---------------------------------------------------------------------------
# container file read/write
# ---------------------------------------------------------------------------


def _read_header(f) -> tuple[dict, str, bytes]:
    """(schema json, codec, sync marker); cursor left at first block.
    Reads the header INCREMENTALLY (64 KB chunks, metadata is normally
    a few KB) — never the whole file."""
    if f.read(4) != MAGIC:
        raise ValueError(f"not an Avro object container file: {getattr(f, 'name', f)}")
    buf = b""
    while True:
        chunk = f.read(65536)
        buf += chunk
        try:
            c = _Cursor(buf)
            meta: dict[str, bytes] = {}
            while True:
                n = c.long()
                if n == 0:
                    break
                if n < 0:
                    c.long()
                    n = -n
                for _ in range(n):
                    k = c.bytes_().decode("utf-8")
                    meta[k] = bytes(c.bytes_())
            sync = bytes(c.fixed(16))
            break
        except IndexError:
            if not chunk:
                raise ValueError("avro: truncated container header") from None
    f.seek(4 + c.pos)
    schema = json.loads(meta["avro.schema"].decode("utf-8"))
    codec = meta.get("avro.codec", b"null").decode("utf-8")
    return expand_named_types(schema), codec, sync


def expand_named_types(sc: object) -> object:
    """Inline NAMED-TYPE REFERENCES (r8): the Avro spec lets a schema
    define a record/enum/fixed once and refer to it later by (full)
    name. Spark types and this module's decoders are structural, so
    references are expanded to deep copies of their definitions here,
    right after header parse. RECURSIVE types (a record referencing
    itself, directly or through a cycle) cannot exist in a Spark
    schema at all — they refuse by name, not by crash."""

    names: dict[str, object] = {}

    def fullname(d: dict, enclosing_ns: str | None) -> tuple[str, str | None]:
        name = d["name"]
        if "." in name:
            return name, name.rsplit(".", 1)[0]
        ns = d.get("namespace", enclosing_ns)
        return (f"{ns}.{name}" if ns else name), ns

    def walk(s: object, ns: str | None, path: tuple) -> object:
        if isinstance(s, list):
            return [walk(b, ns, path) for b in s]
        if isinstance(s, str):
            if s in _PRIMITIVES:
                return s
            target = names.get(s) or (names.get(f"{ns}.{s}") if ns else None)
            if target is None:
                raise NotImplementedError(
                    f"avro: unresolved named type ref '{s}'"
                )
            tfull = target[0]
            if tfull in path:
                raise NotImplementedError(
                    f"avro: recursive type '{tfull}' cannot map to a "
                    "Spark schema"
                )
            import copy

            return walk(copy.deepcopy(target[1]), target[2], path + (tfull,))
        if not isinstance(s, dict):
            return s
        t = s.get("type")
        if t == "record":
            full, rec_ns = fullname(s, ns)
            entry = (full, s, rec_ns)
            names[full] = entry
            names.setdefault(s["name"], entry)
            out = dict(s)
            out["fields"] = [
                {**f, "type": walk(f["type"], rec_ns, path + (full,))}
                for f in s["fields"]
            ]
            return out
        if t in ("enum", "fixed"):
            full, e_ns = fullname(s, ns)
            entry = (full, s, e_ns)
            names[full] = entry
            names.setdefault(s["name"], entry)
            return s
        if t == "array":
            return {**s, "items": walk(s["items"], ns, path)}
        if t == "map":
            return {**s, "values": walk(s["values"], ns, path)}
        if isinstance(t, (dict, list)) or (
            isinstance(t, str) and t not in _PRIMITIVES
            and "logicalType" not in s and set(s) <= {"type"}
        ):
            return {**s, "type": walk(t, ns, path)}
        return s

    return walk(sc, None, ())


# The six spec codecs (Avro 1.11 "Required Codecs" and "Optional
# Codecs"). snappy and zstandard run on the libsnappy / libzstd that
# pyarrow bundles.
_WRITE_CODECS = ("null", "deflate", "bzip2", "xz", "snappy", "zstandard")
_ZSTD_LEVEL = 3  # Avro-Java's CodecFactory default
# Most bytes one block may decode to: a Java array's size limit, so no
# block Avro-Java can read is refused, and no untrusted block expands
# past it in memory.
_MAX_BLOCK_BYTES = 2**31 - 1
# Most memory the xz decoder may take for the dictionary a block's
# header declares: Avro-Java's largest preset (9) declares 64 MiB and
# decodes in 66 MiB, while LZMA2 headers can declare up to 4 GiB.
_XZ_MEMLIMIT = 128 << 20


def snappy_compress(data: bytes) -> bytes:
    """Raw-format snappy (not the framing format)."""
    return pa.Codec("snappy").compress(data, asbytes=True)


def snappy_decompress(data: bytes) -> bytes:
    """Raw-format snappy → bytes; any failure is a ``ValueError``.

    The declared length is checked before anything is allocated: a
    3-byte copy element emits at most 64 bytes, so a tag stream of k
    bytes yields at most 64·k/3. Without the check 5 untrusted bytes
    can request a 4 GiB output buffer."""
    n = shift = pos = 0
    while True:
        if pos == len(data):
            raise ValueError("snappy: truncated length varint")
        b = data[pos]
        pos += 1
        n |= (b & 0x7F) << shift
        if not b & 0x80:
            break
        shift += 7
        if shift > 28:
            raise ValueError("snappy: length varint overflow")
    if 3 * n > 64 * (len(data) - pos):
        raise ValueError(
            f"snappy: declared {n} uncompressed bytes, more than "
            f"{len(data) - pos} tag bytes can produce"
        )
    _check_block_size("snappy", n)
    try:
        return pa.Codec("snappy").decompress(
            data, decompressed_size=n, asbytes=True
        )
    except (OSError, ValueError) as e:
        raise ValueError(f"snappy: {e}") from None


def zstd_compress(data: bytes) -> bytes:
    """One zstd frame at Avro-Java's default level."""
    return pa.Codec("zstd", compression_level=_ZSTD_LEVEL).compress(
        data, asbytes=True
    )


def zstd_decompress(data: bytes) -> bytes:
    """Every zstd frame in ``data`` → bytes; any failure, and output
    past ``_MAX_BLOCK_BYTES``, is a ``ValueError``. Decoded as a stream
    in 1 MiB reads: frames from zstd-jni's streaming writer carry no
    content size, which the one-shot ``Codec.decompress`` needs."""
    out = bytearray()
    try:
        with pa.CompressedInputStream(pa.BufferReader(data), "zstd") as f:
            while chunk := f.read(min(1 << 20, _MAX_BLOCK_BYTES + 1 - len(out))):
                out += chunk
    except (OSError, ValueError) as e:
        raise ValueError(f"zstd: {e}") from None
    _check_block_size("zstd", len(out))
    return bytes(out)


def _check_block_size(codec: str, n: int) -> None:
    if n > _MAX_BLOCK_BYTES:
        raise ValueError(
            f"{codec}: block expands past {_MAX_BLOCK_BYTES} bytes, the "
            "largest block Avro-Java can read"
        )


def _stream_decompress(codec: str, d, payload: bytes) -> bytes:
    """Decode the one stream a block holds with the zlib, bz2 or lzma
    decompressor ``d``; bytes after it are ignored, as Avro-Java's
    codecs ignore them. Any failure is a ``ValueError`` naming the
    codec. Output stops one byte past ``_MAX_BLOCK_BYTES``, so an
    untrusted block never expands in memory beyond the cap."""
    try:
        out = d.decompress(payload, _MAX_BLOCK_BYTES + 1)
    except (OSError, zlib.error, lzma.LZMAError) as e:
        raise ValueError(f"{codec}: {e}") from None
    _check_block_size(codec, len(out))
    if not d.eof:
        raise ValueError(f"{codec}: block ends inside its stream")
    return out


def _decompress(codec: str, payload: bytes) -> bytes:
    if codec == "null":
        return payload
    if codec == "deflate":  # RFC-1951 raw deflate
        return _stream_decompress(codec, zlib.decompressobj(-15), payload)
    if codec == "bzip2":
        return _stream_decompress(codec, bz2.BZ2Decompressor(), payload)
    if codec == "xz":
        return _stream_decompress(
            codec,
            lzma.LZMADecompressor(lzma.FORMAT_XZ, memlimit=_XZ_MEMLIMIT),
            payload,
        )
    if codec == "snappy":
        if len(payload) < 4:
            raise ValueError("avro: snappy block too short for its CRC")
        raw = snappy_decompress(payload[:-4])
        want = int.from_bytes(payload[-4:], "big")
        if zlib.crc32(raw) & 0xFFFFFFFF != want:
            raise ValueError("avro: snappy block CRC32 mismatch")
        return raw
    if codec == "zstandard":
        return zstd_decompress(payload)
    raise NotImplementedError(
        f"avro: codec '{codec}' unknown ({'/'.join(_WRITE_CODECS)} supported)"
    )


def _compress(codec: str, payload: bytes) -> bytes:
    if codec == "null":
        return payload
    if codec == "deflate":
        z = zlib.compressobj(6, zlib.DEFLATED, -15)
        return z.compress(payload) + z.flush()
    if codec == "bzip2":
        return bz2.compress(payload)
    if codec == "xz":
        return lzma.compress(payload, format=lzma.FORMAT_XZ, preset=6)
    if codec == "snappy":
        return snappy_compress(payload) + (
            zlib.crc32(payload) & 0xFFFFFFFF
        ).to_bytes(4, "big")
    if codec == "zstandard":
        return zstd_compress(payload)
    raise NotImplementedError(
        f"avro: write codec '{codec}' unsupported ({'/'.join(_WRITE_CODECS)})"
    )


def _check_file_schema(path: str, file_avro_schema: dict, expect) -> None:
    """Raise loudly when a file's embedded schema differs from the one
    the scan was planned with. Records decode with their OWN file's
    schema and are assigned to output columns POSITIONALLY, so a
    directory holding evolved/reordered schemas would silently put
    values in the wrong columns — schema resolution is unsupported, so
    mismatch is an error, never a guess."""
    if expect is None:
        return
    got = avro_to_spark(file_avro_schema)
    if got != expect:
        gs, es = got.simpleString(), expect.simpleString()
        detail = f"file declares {gs} but the scan expects {es}"
        if gs == es:
            detail += " (types match; nullability differs)"
        raise ValueError(
            f"avro: schema mismatch in {path}: {detail}. Positional decode "
            "would misassign columns; reader/writer schema resolution is "
            "unsupported — re-encode the file or load it separately."
        )


def iter_avro_file(path: str, expect_schema=None, reader_avro=None):
    """Yield (decoded tuple) records from one container file — block by
    block; memory is one decompressed block, never the file.
    ``reader_avro`` (the scan's Avro reader schema, r8) enables spec
    schema RESOLUTION for compatibly-evolved files; without it,
    ``expect_schema`` (a Spark StructType) rejects files whose embedded
    schema drifted from the planned scan schema."""
    with open(path, "rb") as f:
        schema, codec, sync = _read_header(f)
        dec = _decoder_for(path, schema, reader_avro, expect_schema)
        while True:
            head = f.read(20)  # two varlongs are ≤10 bytes each
            if not head:
                return
            c = _Cursor(head)
            n_records = c.long()
            n_bytes = c.long()
            f.seek(c.pos - len(head), 1)
            payload = _decompress(codec, f.read(n_bytes))
            block = _Cursor(payload)
            for _ in range(n_records):
                yield dec(block)
            if f.read(16) != sync:
                raise ValueError(f"avro: sync marker mismatch in {path}")


def iter_avro_blocks(path: str, lo: int, hi: int, expect_schema=None,
                     reader_avro=None):
    """Yield records from the blocks of ONE byte-range split of a
    container file — the Hadoop Avro input-format scheme (spec-public:
    every block is preceded by the 16-byte sync marker, so any split
    can locate its first whole block by scanning forward for the
    marker). Ownership rule: a block belongs to the split whose byte
    range contains the START of its preceding sync marker, i.e. sync
    start ∈ [max(lo, header_end) − 16, hi − 16). Contiguous splits of
    one file therefore partition the blocks exactly — no block read
    twice, none skipped — and a single giant landing-zone file scans
    with full parallelism instead of one task. (A sync-byte collision
    inside block data could fake a block start — the format accepts
    that 2^-128/position risk, same as Hadoop's DataFileReader.sync.)
    """
    with open(path, "rb") as f:
        schema, codec, sync = _read_header(f)
        header_end = f.tell()
        dec = _decoder_for(path, schema, reader_avro, expect_schema)
        win_lo = max(lo, header_end) - 16
        win_hi = hi - 16
        if win_lo >= win_hi:
            return  # split lies entirely inside the header / is empty
        # scan forward from win_lo for the first sync marker (buffered,
        # 15-byte overlap across chunk boundaries)
        f.seek(win_lo)
        base, buf, found = win_lo, b"", -1
        while True:
            chunk = f.read(1 << 20)
            if not chunk:
                return  # no block starts at/after win_lo
            buf += chunk
            i = buf.find(sync)
            if i >= 0:
                found = base + i
                break
            base += len(buf) - 15
            buf = buf[-15:]
        if found >= win_hi:
            return  # first block beyond this split's range
        f.seek(found + 16)
        while True:
            head = f.read(20)  # two varlongs are ≤10 bytes each
            if not head:
                return
            c = _Cursor(head)
            n_records = c.long()
            n_bytes = c.long()
            f.seek(c.pos - len(head), 1)
            payload = _decompress(codec, f.read(n_bytes))
            block = _Cursor(payload)
            for _ in range(n_records):
                yield dec(block)
            next_sync_at = f.tell()
            if f.read(16) != sync:
                raise ValueError(f"avro: sync marker mismatch in {path}")
            if next_sync_at >= win_hi:
                return  # next block belongs to the next split


def write_avro_file(
    path: str,
    rows,
    avro_schema: dict,
    codec: str = "deflate",
    sync: bytes | None = None,
    block_rows: int = 4096,
) -> int:
    """Write one container file; returns row count. ``sync`` defaults to
    a deterministic marker derived from the schema+path (reproducible
    output beats spec-suggested randomness for a data pipeline)."""
    import hashlib

    if codec not in _WRITE_CODECS:
        raise NotImplementedError(
            f"avro: write codec '{codec}' unsupported ({'/'.join(_WRITE_CODECS)})"
        )
    enc = _make_encoder(avro_schema)
    schema_bytes = json.dumps(avro_schema).encode("utf-8")
    if sync is None:
        sync = hashlib.md5(schema_bytes + path.encode()).digest()
    n_total = 0
    with open(path, "wb") as f:
        f.write(MAGIC)
        head = bytearray()
        _enc_long(2, head)
        for k, v in (
            (b"avro.schema", schema_bytes),
            (b"avro.codec", codec.encode()),
        ):
            _enc_long(len(k), head)
            head.extend(k)
            _enc_long(len(v), head)
            head.extend(v)
        head.append(0)  # end of metadata map
        f.write(head)
        f.write(sync)

        block = bytearray()
        n_block = 0

        def flush():
            nonlocal block, n_block
            if not n_block:
                return
            payload = _compress(codec, bytes(block))
            frame = bytearray()
            _enc_long(n_block, frame)
            _enc_long(len(payload), frame)
            f.write(frame)
            f.write(payload)
            f.write(sync)
            block, n_block = bytearray(), 0

        for row in rows:
            enc(tuple(row), block)
            n_block += 1
            n_total += 1
            if n_block >= block_rows:
                flush()
        flush()
    return n_total


# ---------------------------------------------------------------------------
# Spark DataSource wiring
# ---------------------------------------------------------------------------


def _plan_reader_avro(path: str, spark_schema):
    """Capture the scan's READER Avro schema at plan time (r8): the
    first file's embedded schema, iff its Spark mapping equals the
    planned scan schema (i.e. the scan was inferred from it, not user-
    overridden). Returns None → per-file strict drift check instead of
    resolution (the pre-r8 behavior, kept for user-supplied schemas
    whose defaults we cannot know). Driver-side, reads one header (KBs)."""
    try:
        files = _list_avro_files(path)
        if not files:
            return None
        with open(files[0], "rb") as f:
            first_avro, _, _ = _read_header(f)
        if spark_schema is not None and avro_to_spark(first_avro) != spark_schema:
            return None
        return first_avro
    except (OSError, ValueError, NotImplementedError):
        return None


def _list_avro_files(path: str) -> list[str]:
    import glob
    import os

    if os.path.isdir(path):
        files = sorted(glob.glob(os.path.join(path, "*.avro")))
    else:
        files = sorted(glob.glob(path))
    return [f for f in files if os.path.isfile(f)]


class _AvroFilePartition(InputPartition):
    def __init__(self, file: str, lo: int = 0, hi: int | None = None):
        self.file = file
        self.lo = lo
        self.hi = hi  # None → whole file (stream source; no split)


class AvroReader(DataSourceReader):
    """Batch reader. Large files are split at sync boundaries into
    multiple InputPartitions (``split_target_bytes``, default 32 MiB) so
    a single giant container file reads with full cluster parallelism —
    the degenerate one-file-one-task case is gone. Every partition
    re-checks the file's embedded schema against the planned scan
    schema and fails loudly on drift (positional decode must not
    misassign evolved/reordered columns)."""

    def __init__(self, options, schema=None):
        self.path = options.get("path")
        if not self.path:
            raise ValueError("avro source requires a load path")
        self.split_bytes = int(options.get("split_target_bytes", 32 << 20))
        if self.split_bytes < 1 << 10:
            raise ValueError("avro: split_target_bytes must be ≥ 1 KiB")
        self._schema = schema
        self._reader_avro = _plan_reader_avro(self.path, schema)

    def partitions(self):
        import os

        files = _list_avro_files(self.path)
        if not files:
            raise ValueError(f"avro: no .avro files under {self.path}")
        parts: list[_AvroFilePartition] = []
        for fp in files:
            size = os.path.getsize(fp)
            if size <= self.split_bytes:
                parts.append(_AvroFilePartition(fp, 0, size))
                continue
            n_splits = -(-size // self.split_bytes)
            step = -(-size // n_splits)  # even splits, last one short
            for lo in range(0, size, step):
                parts.append(_AvroFilePartition(fp, lo, min(lo + step, size)))
        return parts

    def read(self, partition):
        yield from iter_avro_blocks(
            partition.file, partition.lo, partition.hi,
            expect_schema=self._schema, reader_avro=self._reader_avro,
        )


class _AvroCommit(WriterCommitMessage):
    def __init__(self, tmp_path: str, rows: int):
        self.tmp_path = tmp_path
        self.rows = rows


class AvroWriter(DataSourceWriter):
    """Two-phase commit: stage ``.tmp-*.avro`` per task, publish by
    atomic rename in commit(), clean temps in abort() — same
    exactly-once skeleton as sources.ManifestJsonWriter."""

    def __init__(self, options, schema: T.StructType, overwrite: bool = False):
        import uuid

        self.path = options.get("path")
        if not self.path:
            raise ValueError("avro sink requires a save path")
        self.codec = options.get("codec", "deflate")
        self.avro_schema = spark_to_avro(schema)
        self.overwrite = overwrite
        # per-job token in the published names: a second append job can
        # never os.replace() an earlier job's part files (ADVICE r6 —
        # deterministic part-{i}.avro names silently destroyed data)
        self.token = uuid.uuid4().hex[:12]

    def write(self, iterator):
        import os
        import uuid

        os.makedirs(self.path, exist_ok=True)
        tmp = os.path.join(self.path, f".tmp-{uuid.uuid4().hex}.avro")
        n = write_avro_file(tmp, iterator, self.avro_schema, codec=self.codec)
        return _AvroCommit(tmp, n)

    def commit(self, messages):
        import glob
        import os

        if self.overwrite:
            # honor SaveMode.Overwrite: clear previously published parts
            # only once every task of THIS job has staged successfully
            # (temps are dot-prefixed, so the glob never touches them)
            for old in glob.glob(os.path.join(self.path, "part-*.avro")):
                os.remove(old)
        for i, m in enumerate(messages):
            os.replace(
                m.tmp_path,
                os.path.join(self.path, f"part-{i:05d}-{self.token}.avro"),
            )

    def abort(self, messages):
        import os

        for m in messages:
            if m is not None and os.path.exists(m.tmp_path):
                os.remove(m.tmp_path)


class AvroStreamReader(DataSourceStreamReader):
    """Micro-batch Avro landing-zone source: each offset is the SET of
    files consumed so far (the same file-log model Spark's built-in
    FileStreamSource keeps), so any (start, end) offset pair denotes
    the same file delta forever — checkpoint recovery replays exactly.
    One InputPartition per new file; ``max_files_per_batch`` caps how
    many new files a trigger admits (the maxFilesPerTrigger analog —
    applied when the OFFSET is minted, never in partitions(), which
    would silently skip the capped remainder). Caveat: the cap paces
    ``processingTime`` triggers; ``Trigger.AvailableNow`` snapshots
    latestOffset ONCE, so a capped source under availableNow stops
    after one batch by design — leave it unset there. Files must be
    immutable once visible (the landing-zone contract — write
    elsewhere, rename in)."""

    def __init__(self, options, schema=None):
        self.path = options.get("path")
        if not self.path:
            raise ValueError("pyavro stream source requires a load path")
        self.max_files = int(options.get("max_files_per_batch", 0)) or None
        self._seen: set[str] = set()  # files already OFFERED in an offset
        self._schema = schema
        # r8: later landing files with COMPATIBLE evolved schemas
        # resolve against the scan's reader schema; incompatible drift
        # still fails loudly per file
        self._reader_avro = _plan_reader_avro(self.path, schema)

    def initialOffset(self):
        return {"files": []}

    def latestOffset(self):
        # the cap applies HERE, when the offset is minted — capping in
        # partitions() instead would mark files consumed without ever
        # reading them (silent skip on the next delta)
        current = set(_list_avro_files(self.path))
        new = sorted(current - self._seen)
        if self.max_files:
            new = new[: self.max_files]
        self._seen |= set(new)
        return {"files": sorted(self._seen)}

    def partitions(self, start, end):
        # landing dirs often start EMPTY: capture the reader schema
        # from the first file that ever shows up, so later compatible
        # evolution resolves instead of strict-failing (r8)
        if self._reader_avro is None:
            self._reader_avro = _plan_reader_avro(self.path, self._schema)
        # restart safety: fast-forward the in-memory offered-set from
        # BOTH ends of the checkpointed range. Folding only end['files']
        # (pre-r7 bug, ADVICE r6) loses the recovered START position
        # whenever the first post-restart latestOffset() mints a capped
        # offset that is a subset of the checkpointed start — the
        # start-only files then re-surface as "new" in a later offset
        # and are read AGAIN (duplicate rows). start ∪ end is always a
        # committed-or-offered set, so it is safe to fast-forward past.
        self._seen |= set(start["files"]) | set(end["files"])
        new = sorted(set(end["files"]) - set(start["files"]))
        return [_AvroFilePartition(f) for f in new]

    def read(self, partition):
        yield from iter_avro_file(
            partition.file, expect_schema=self._schema,
            reader_avro=self._reader_avro,
        )

    def commit(self, end):
        pass  # files stay on disk; nothing to clean


class AvroDataSource(DataSource):
    """``spark.read.format("pyavro").load(dir)`` /
    ``df.write.format("pyavro").option("path", dir).mode("append").save()``
    after ``spark.dataSource.register(AvroDataSource)``. Named
    ``pyavro`` to stay clear of the JVM module's ``avro`` name if one
    is ever added to the classpath."""

    @classmethod
    def name(cls) -> str:
        return "pyavro"

    def schema(self):
        files = _list_avro_files(self.options.get("path", ""))
        if not files:
            raise ValueError(
                f"avro: cannot infer schema — no .avro files under "
                f"{self.options.get('path')}"
            )
        with open(files[0], "rb") as f:
            avro_schema, _, _ = _read_header(f)
        dt = avro_to_spark(avro_schema)
        if not isinstance(dt, T.StructType):
            raise ValueError("avro: top-level schema must be a record")
        return dt

    def reader(self, schema):
        return AvroReader(self.options, schema)

    def streamReader(self, schema):
        return AvroStreamReader(self.options, schema)

    def writer(self, schema, overwrite: bool):
        return AvroWriter(self.options, schema, overwrite)


def read_avro(spark, path: str, split_target_bytes: int = 32 << 20):
    """Avro source: sync-marker byte-range splits per file (large files
    scan in parallel), schema inferred from the first file's header
    (driver reads KBs, never data); every partition validates its own
    file's schema against the plan."""
    spark.dataSource.register(AvroDataSource)
    return (
        spark.read.format("pyavro")
        .option("split_target_bytes", str(split_target_bytes))
        .load(path)
    )


def write_avro(df, path: str, codec: str = "deflate", mode: str = "append") -> None:
    """Avro sink (two-phase commit; ``codec`` null|deflate|bzip2|xz|
    snappy|zstandard; ``mode`` append|overwrite — appends accumulate
    per-job-token part files, overwrite clears prior parts at commit
    time)."""
    df.sparkSession.dataSource.register(AvroDataSource)
    (
        df.write.format("pyavro")
        .option("path", path)
        .option("codec", codec)
        .mode(mode)
        .save()
    )
