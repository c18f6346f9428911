"""Protobuf decode tier: wire parsing, FileDescriptorSet compile,
flatten/arrays/unsigned conventions, permissive dead-letter, and the
converter end-to-end over a protobuf-encoded MCAP (the Foxglove shape) —
typed tables where round 6 could only blob-preserve."""

import os
import struct

import pytest
from pyspark.sql import functions as F

from rosbag2parquet_spark.sources.baglike import ConnectionInfo
from rosbag2parquet_spark.sources.mcap import write_mcap
from rosbag2parquet_spark.sources.protobuf import (
    PROTOBUF_DEF_PREFIX,
    TYPE_BOOL,
    TYPE_BYTES,
    TYPE_DOUBLE,
    TYPE_ENUM,
    TYPE_FIXED32,
    TYPE_FIXED64,
    TYPE_FLOAT,
    TYPE_GROUP,
    TYPE_INT32,
    TYPE_INT64,
    TYPE_MESSAGE,
    TYPE_SFIXED64,
    TYPE_SINT32,
    TYPE_SINT64,
    TYPE_STRING,
    TYPE_UINT32,
    TYPE_UINT64,
    build_fds,
    compile_proto,
    decode_messages_protobuf,
    enc_double_field,
    enc_fixed32_field,
    enc_fixed64_field,
    enc_float_field,
    enc_int_field,
    enc_len_field,
    enc_str,
    enc_tag,
    enc_varint,
    enc_zigzag_field,
    fds_from_msgdef,
    make_proto_decoder,
    msgdef_from_fds,
    parse_fds,
)

FDS = build_fds(
    "demo",
    {
        "Event": [
            ("a", 1, TYPE_INT64),
            ("m", 2, TYPE_MESSAGE, False, ".demo.Meta"),
            ("v", 3, TYPE_DOUBLE),
            ("s", 4, TYPE_STRING),
            ("xs", 5, TYPE_INT32, True),
            ("c", 6, TYPE_ENUM, False, ".demo.Color"),
            ("u", 7, TYPE_UINT32),
            ("big", 8, TYPE_UINT64),
            ("b", 9, TYPE_BOOL),
            ("raw", 10, TYPE_BYTES),
            ("z", 11, TYPE_SINT64),
            ("f32", 12, TYPE_FIXED32),
            ("f64", 13, TYPE_FIXED64),
            ("fl", 14, TYPE_FLOAT),
            ("sf", 15, TYPE_SFIXED64),
            ("tags", 16, TYPE_STRING, True),
            ("reps", 17, TYPE_MESSAGE, True, ".demo.Meta"),
        ],
        "Meta": [("neg", 1, TYPE_SINT32), ("tag", 2, TYPE_STRING)],
    },
    enums={"Color": [("RED", 0), ("BLUE", 5)]},
)


def _payload(i: int) -> bytes:
    meta = enc_zigzag_field(1, -i) + enc_str(2, f"m{i}")
    return (
        enc_int_field(1, i)
        + enc_len_field(2, meta)
        + enc_double_field(3, i * 0.5)
        + enc_str(4, f"évent{i}")
        + enc_len_field(5, enc_varint(i) + enc_varint((-i) & ((1 << 64) - 1)))
        + enc_int_field(6, 5)
        + enc_int_field(7, (1 << 31) + i)
        + enc_int_field(8, (1 << 63) + i)
        + enc_int_field(9, i % 2)
        + enc_len_field(10, bytes([i % 256, 255]))
        + enc_zigzag_field(11, -(10**12) - i)
        + enc_fixed32_field(12, (1 << 31) + 5)
        + enc_fixed64_field(13, (1 << 63) + 7)
        + enc_float_field(14, 1.5)
        + enc_tag(15, 1)
        + struct.pack("<q", -99 - i)
        + enc_str(16, "x")
        + enc_str(16, "y")
        + enc_len_field(17, meta)  # repeated message → skipped column
        + enc_int_field(99, 123)  # unknown field → skipped
    )


def test_parse_fds_names():
    messages, enums = parse_fds(FDS)
    assert sorted(messages) == ["demo.Event", "demo.Meta"]
    assert enums == {"demo.Color"}
    ev = messages["demo.Event"]
    f = {fd.name: fd for fd in ev.fields}
    assert f["m"].type_name == "demo.Meta" and not f["m"].repeated
    assert f["xs"].repeated and f["xs"].type == TYPE_INT32


def test_schema_conventions():
    # skip mode: repeated fields dropped; nested flattened with _ prefix
    comp = compile_proto("demo.Event", FDS, arrays="skip")
    names = [f.name for f in comp.schema.fields]
    assert "xs" not in names and "tags" not in names
    assert names[:4] == ["a", "m_neg", "m_tag", "v"]
    # native: repeated scalars+strings columnarize, repeated messages skip
    comp = compile_proto("demo.Event", FDS, arrays="native")
    d = {f.name: f.dataType.simpleString() for f in comp.schema.fields}
    assert d["xs"] == "array<int>" and d["tags"] == "array<string>"
    assert not any(n.startswith("reps") for n in d)
    # signed mode relaxations vs exact promotions (msgdef.py parity)
    assert d["u"] == "int" and d["big"] == "bigint" and d["f64"] == "bigint"
    exact = {
        f.name: f.dataType.simpleString()
        for f in compile_proto("demo.Event", FDS, unsigned="exact").schema.fields
    }
    assert exact["u"] == "bigint"
    assert exact["big"] == "decimal(20,0)" and exact["f64"] == "decimal(20,0)"


def test_decode_values_signed_and_exact():
    comp = compile_proto("demo.Event", FDS, arrays="native")
    row = dict(
        zip(
            [f.name for f in comp.schema.fields],
            make_proto_decoder(comp)(_payload(3)),
        )
    )
    assert row["a"] == 3 and row["m_neg"] == -3 and row["m_tag"] == "m3"
    assert row["v"] == 1.5 and row["s"] == "évent3"
    assert row["xs"] == [3, -3]  # packed varints, negative sign-extended
    assert row["c"] == 5 and row["b"] is True
    assert row["tags"] == ["x", "y"]
    assert row["raw"] == bytes([3, 255])
    assert row["z"] == -(10**12) - 3 and row["sf"] == -102
    # signed relaxation: u32/u64 past the sign bit flip negative (the
    # reference's documented posture, rosbag2parquet.cpp:36)
    assert row["u"] == (1 << 31) + 3 - (1 << 32)
    assert row["big"] == (1 << 63) + 3 - (1 << 64)
    assert row["f32"] == (1 << 31) + 5 - (1 << 32)
    assert row["f64"] == (1 << 63) + 7 - (1 << 64)
    ex = compile_proto("demo.Event", FDS, arrays="native", unsigned="exact")
    row = dict(
        zip(
            [f.name for f in ex.schema.fields],
            make_proto_decoder(ex)(_payload(3)),
        )
    )
    assert row["u"] == (1 << 31) + 3 and row["big"] == (1 << 63) + 3
    assert row["f64"] == (1 << 63) + 7


def test_repeated_uint64_exact(spark):
    """Repeated uint64 promotes to array<DECIMAL(20,0)> in exact mode (r8 —
    the last residue of the reference's signedness bug): packed and
    unpacked wire forms both carry a >2^63 element exactly through the
    mapInPandas path; signed mode keeps the relaxed array<bigint>."""
    from pyspark.sql import Row

    fds = build_fds(
        "demo",
        {"Rep": [("xs", 1, TYPE_UINT64, True), ("f64s", 2, TYPE_FIXED64, True)]},
    )
    big = (1 << 63) + 55
    # packed varints for xs; unpacked fixed64 records for f64s
    payload = (
        enc_len_field(1, enc_varint(big) + enc_varint(7))
        + enc_fixed64_field(2, big)
        + enc_fixed64_field(2, 9)
    )

    ex = compile_proto("demo.Rep", fds, arrays="native", unsigned="exact")
    d = {f.name: f.dataType.simpleString() for f in ex.schema.fields}
    assert d["xs"] == "array<decimal(20,0)>"
    assert d["f64s"] == "array<decimal(20,0)>"
    row = dict(
        zip([f.name for f in ex.schema.fields], make_proto_decoder(ex)(payload))
    )
    assert row["xs"] == [big, 7] and row["f64s"] == [big, 9]

    sg = compile_proto("demo.Rep", fds, arrays="native", unsigned="signed")
    d = {f.name: f.dataType.simpleString() for f in sg.schema.fields}
    assert d["xs"] == "array<bigint>" and d["f64s"] == "array<bigint>"
    row = dict(
        zip([f.name for f in sg.schema.fields], make_proto_decoder(sg)(payload))
    )
    assert row["xs"] == [big - (1 << 64), 7]

    # end-to-end through the Arrow mapInPandas path (list-of-int cells
    # against a decimal element type)
    import base64

    msg_def = PROTOBUF_DEF_PREFIX + base64.b64encode(fds).decode()
    df = spark.createDataFrame(
        [Row(offset=0, time_ns=1, conn_id=1, data=bytearray(payload))]
    )
    out = decode_messages_protobuf(
        df, "demo.Rep", msg_def, arrays="native", unsigned="exact"
    ).collect()[0]
    assert [int(x) for x in out["xs"]] == [big, 7]
    assert [int(x) for x in out["f64s"]] == [big, 9]


def test_decode_missing_fields_proto3_defaults():
    comp = compile_proto("demo.Event", FDS, arrays="native")
    row = dict(
        zip([f.name for f in comp.schema.fields], make_proto_decoder(comp)(b""))
    )
    assert row["a"] == 0 and row["v"] == 0.0 and row["s"] == ""
    assert row["b"] is False and row["raw"] == b"" and row["xs"] == []
    # unset submessage reads as defaults — what every protobuf API returns
    assert row["m_neg"] == 0 and row["m_tag"] == ""


def test_decode_unpacked_repeated_and_mixed():
    # proto2-style unpacked repeated varints interleave with packed
    comp = compile_proto("demo.Event", FDS, arrays="native")
    payload = (
        enc_int_field(5, 7)
        + enc_len_field(5, enc_varint(8) + enc_varint(9))
        + enc_int_field(5, 10)
    )
    row = dict(
        zip(
            [f.name for f in comp.schema.fields],
            make_proto_decoder(comp)(payload),
        )
    )
    assert row["xs"] == [7, 8, 9, 10]


def test_truncation_raises_and_group_refused():
    comp = compile_proto("demo.Event", FDS)
    dec = make_proto_decoder(comp)
    with pytest.raises(ValueError):
        dec(enc_tag(3, 1) + b"\x00\x01")  # fixed64 with 2 bytes
    with pytest.raises(ValueError):
        dec(enc_tag(4, 2) + enc_varint(100))  # length overruns message
    with pytest.raises(ValueError):
        dec(enc_tag(20, 3))  # group wire type
    bad = build_fds("g", {"G": [("grp", 1, TYPE_GROUP)]})
    with pytest.raises(ValueError, match="group"):
        compile_proto("g.G", bad)


def test_recursive_message_refused():
    fds = build_fds("r", {"Node": [("child", 1, TYPE_MESSAGE, False, ".r.Node")]})
    with pytest.raises(ValueError, match="recursive"):
        compile_proto("r.Node", fds)


def test_marker_roundtrip():
    md = msgdef_from_fds(FDS)
    assert md.startswith(PROTOBUF_DEF_PREFIX)
    assert fds_from_msgdef(md) == FDS


PB_CONNS = [
    ConnectionInfo(1, "/events", "demo.Event", "", msgdef_from_fds(FDS)),
]


def _pb_mcap(tmp_path, n=30, name="pb.mcap", extra_conns=(), extra_msgs=()):
    t0 = 1_700_000_000_000_000_000
    msgs = [(1, t0 + i * 1_000_000, _payload(i)) for i in range(n)]
    msgs += list(extra_msgs)
    msgs.sort(key=lambda m: m[1])
    path = str(tmp_path / name)
    write_mcap(
        path,
        PB_CONNS + list(extra_conns),
        msgs,
        encoding="cdr",
        schema_encoding="ros2msg",  # per-schema override kicks in for pb
        chunk_messages=9,
    )
    return path


def test_connections_df_carries_marker(spark, tmp_path):
    from rosbag2parquet_spark.sources import conn_dim_df, open_bag

    path = _pb_mcap(tmp_path)
    rows = conn_dim_df(spark, open_bag(path).conn_rows).collect()
    assert len(rows) == 1
    assert rows[0].msg_def.startswith(PROTOBUF_DEF_PREFIX)
    assert fds_from_msgdef(rows[0].msg_def) == FDS


def test_convert_protobuf_mcap_typed_table(spark, tmp_path):
    from rosbag2parquet_spark.convert import convert_bag

    path = _pb_mcap(tmp_path)
    out = str(tmp_path / "layout")
    convert_bag(spark, path, out, arrays="native")
    df = spark.read.parquet(os.path.join(out, "demo_Event"))
    rows = {r.a: r for r in df.collect()}
    assert len(rows) == 30
    r = rows[7]
    assert r.m_neg == -7 and r.m_tag == "m7" and r.v == 3.5
    assert r.s == "évent7" and list(r.xs) == [7, -7]
    assert r.tags == ["x", "y"] and r.c == 5
    assert bytes(r.data) == _payload(7)  # raw blob preserved alongside
    # seqno ordering matches log-time order
    ordered = sorted(rows.values(), key=lambda r: r.seqno)
    assert [r.a for r in ordered] == list(range(30))


def test_convert_mixed_cdr_and_protobuf_channels(spark, tmp_path):
    """One MCAP carrying a CDR ros2msg channel AND a protobuf channel:
    each type dispatches to its own decode tier."""
    from rosbag2parquet_spark.convert import convert_bag
    from tests.test_rosbag2 import IMU_DEF, encode_imu

    imu = ConnectionInfo(2, "/imu", "sensor_msgs/ImuLite", "", IMU_DEF)
    t0 = 1_700_000_000_000_000_000
    extra = [
        (2, t0 + i * 1_000_000 + 500, encode_imu(i, (0.1, 0.2, 9.8), "b"))
        for i in range(10)
    ]
    path = _pb_mcap(tmp_path, extra_conns=[imu], extra_msgs=extra)
    out = str(tmp_path / "mixed")
    convert_bag(spark, path, out)
    ev = spark.read.parquet(os.path.join(out, "demo_Event"))
    assert ev.count() == 30 and "a" in ev.columns
    im = spark.read.parquet(os.path.join(out, "sensor_msgs_ImuLite"))
    assert im.count() == 10 and "seq" in im.columns


def test_convert_permissive_dead_letter(spark, tmp_path):
    """A corrupt protobuf payload dead-letters under permissive instead of
    killing the conversion — same contract as the ros tiers."""
    from rosbag2parquet_spark.convert import convert_bag

    t0 = 1_700_000_000_000_000_000
    bad = (1, t0 + 500, enc_tag(3, 1) + b"\x00")  # truncated double
    path = _pb_mcap(tmp_path, n=10, name="bad.mcap", extra_msgs=[bad])
    with pytest.raises(Exception):
        convert_bag(spark, path, str(tmp_path / "fail"))
    out = str(tmp_path / "permissive")
    convert_bag(spark, path, out, on_error="permissive")
    df = spark.read.parquet(os.path.join(out, "demo_Event"))
    assert df.count() == 11
    errs = df.filter(F.col("_decode_error").isNotNull())
    assert errs.count() == 1
    assert errs.first().a is None


def test_exact_uint64_column_through_convert(spark, tmp_path):
    from rosbag2parquet_spark.convert import convert_bag

    path = _pb_mcap(tmp_path, n=6)
    out = str(tmp_path / "exact")
    convert_bag(spark, path, out, unsigned="exact")
    df = spark.read.parquet(os.path.join(out, "demo_Event"))
    assert dict(df.dtypes)["big"] == "decimal(20,0)"
    got = {int(r.a): int(r.big) for r in df.select("a", "big").collect()}
    assert got[5] == (1 << 63) + 5  # above 2^63, exact


def test_export_mcap_roundtrip_protobuf_layout(spark, tmp_path):
    """layout → MCAP (schemas re-emitted as encoding='protobuf') → layout:
    typed values survive; db3/rosbag export refuses with guidance."""
    from rosbag2parquet_spark.convert import convert_bag
    from rosbag2parquet_spark.export import export_db3, export_mcap, export_rosbag

    path = _pb_mcap(tmp_path, n=12)
    lay1 = str(tmp_path / "lay1")
    convert_bag(spark, path, lay1)
    info = export_mcap(spark, lay1, str(tmp_path / "exp"), parts=1)
    lay2 = str(tmp_path / "lay2")
    convert_bag(spark, info.paths[0], lay2)
    a = spark.read.parquet(os.path.join(lay1, "demo_Event"))
    b = spark.read.parquet(os.path.join(lay2, "demo_Event"))
    cols = [c for c in a.columns if c != "data"]
    assert sorted(map(tuple, a.select(cols).collect())) == sorted(
        map(tuple, b.select(cols).collect())
    )
    with pytest.raises(ValueError, match="protobuf"):
        export_db3(spark, lay1, str(tmp_path / "edb3"), parts=1)
    with pytest.raises(ValueError, match="protobuf"):
        export_rosbag(spark, lay1, str(tmp_path / "ebag"), parts=1)


def test_fleet_convert_includes_protobuf_bag(spark, tmp_path):
    """The multi-bag planner's senc-aware rows: a protobuf MCAP joins a
    fleet and decodes typed (previously the meta path utf-8-decoded the
    binary descriptor)."""
    from rosbag2parquet_spark.convert import convert_bags

    p1 = _pb_mcap(tmp_path, n=8, name="a.mcap")
    p2 = _pb_mcap(tmp_path, n=8, name="b.mcap")
    out = str(tmp_path / "fleet")
    convert_bags(spark, [p1, p2], out)
    df = spark.read.parquet(os.path.join(out, "demo_Event"))
    assert df.count() == 16
    assert df.filter(F.col("a") == 7).count() == 2


def test_reserved_column_collision_sanitized():
    """A proto field named `data` (ubiquitous — bytes payloads) sanitizes
    to `data_` so it can never capture the table's raw-blob column; decode
    stays positional so values land under the renamed column."""
    fds = build_fds(
        "c",
        {"M": [("seqno", 1, TYPE_INT64), ("data", 2, TYPE_BYTES)]},
    )
    comp = compile_proto("c.M", fds)
    assert [f.name for f in comp.schema.fields] == ["seqno_", "data_"]
    row = dict(
        zip(
            [f.name for f in comp.schema.fields],
            make_proto_decoder(comp)(
                enc_int_field(1, 9) + enc_len_field(2, b"\x01\x02")
            ),
        )
    )
    assert row["seqno_"] == 9 and row["data_"] == b"\x01\x02"


def test_truncated_unpacked_repeated_fixed_raises():
    """The UNPACKED repeated fixed64/fixed32 element path must bounds-check
    exactly like the scalar and packed paths (the decoder contract:
    truncation RAISES, so permissive mode dead-letters the row instead of
    silently decoding a short slice to a wrong small integer)."""
    from rosbag2parquet_spark.sources.protobuf import (
        TYPE_FIXED32,
        TYPE_FIXED64,
    )

    fds = build_fds(
        "t",
        {"M": [("r64", 1, TYPE_FIXED64, True), ("r32", 2, TYPE_FIXED32, True)]},
    )
    comp = compile_proto("t.M", fds, arrays="native")
    dec = make_proto_decoder(comp)
    ok = enc_tag(1, 1) + struct.pack("<Q", 7) + enc_tag(2, 5) + struct.pack("<I", 9)
    assert dec(ok) == ([7], [9])
    with pytest.raises(ValueError, match="truncated repeated fixed64"):
        dec(enc_tag(1, 1) + struct.pack("<Q", 7) + enc_tag(1, 1) + b"\x01\x02")
    with pytest.raises(ValueError, match="truncated repeated fixed32"):
        dec(enc_tag(2, 5) + b"\x01")
