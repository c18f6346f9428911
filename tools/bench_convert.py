"""End-to-end converter throughput at the reference's walkthrough scale
(reference README.md:70-100: a 102 MB bag, 23,719 messages, blob-dominated
CompressedImage payloads → SNAPPY parquet).

Synthesizes a ~100 MB SBAG with CompressedImage-shaped messages (header +
format string + uint8[] blob), then times the full distributed pipeline:
binary scan (byte-range partitioned DataSource) → schema-driven decode
(vectorized offset-scan tier; the blob is skipped positionally and kept in
the raw column, reference MessageTable.cpp:63-67) → converter layout write
(Messages/Connections/per-type SNAPPY parquet).

Usage: python tools/bench_convert.py [n_messages] [blob_bytes]
Prints one JSON line {"bag_mb":…, "messages":…, "convert_s":…, "mb_per_s":…}.
"""

from __future__ import annotations

import json
import os
import shutil
import struct
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

IMG_DEF = """Header header
string format
uint8[] data
================================================================================
MSG: std_msgs/Header
uint32 seq
time stamp
string frame_id
"""


def synth_bag(path: str, n_msgs: int, blob_bytes: int) -> None:
    from rosbag2parquet_spark.sources.baglike import ConnectionInfo, write_bag

    fmt = b"jpeg"
    frame = b"camera_link"
    blob = bytes(range(256)) * (blob_bytes // 256)

    def payload(i: int) -> bytes:
        return (
            struct.pack("<I", i)
            + struct.pack("<II", 1_700_000_000 + i // 30, (i % 30) * 33_000_000)
            + struct.pack("<I", len(frame)) + frame
            + struct.pack("<I", len(fmt)) + fmt
            + struct.pack("<I", len(blob)) + blob
        )

    conns = [
        ConnectionInfo(
            conn_id=1,
            topic="/camera/image/compressed",
            datatype="sensor_msgs/CompressedImage",
            md5sum="8f7a12909da2c9d3332d540a0977563f",
            msg_def=IMG_DEF,
        )
    ]
    write_bag(
        path,
        conns,
        [(1, 1_700_000_000_000_000_000 + i * 33_000_000, payload(i)) for i in range(n_msgs)],
    )


def run(n_msgs: int, blob_bytes: int = 4_096, spark=None) -> dict:
    """Synthesize, convert, measure; reusable from bench.py with a shared
    session (the warm-ups then cost nothing extra)."""
    from rosbag2parquet_spark.convert import convert_bag
    from rosbag2parquet_spark.session import get_spark
    from rosbag2parquet_spark.sources.baglike import read_bag

    work = tempfile.mkdtemp(prefix="bench_convert_")
    try:
        bag = os.path.join(work, "walkthrough.sbag")
        synth_bag(bag, n_msgs, blob_bytes)
        bag_mb = os.path.getsize(bag) / (1 << 20)

        spark = spark or get_spark("bench_convert")
        spark.range(1).count()  # session warm-up outside the timed region
        # python-worker spin-up is also excluded (a fixed ~5 s per executor
        # lifetime, amortized away on any long-lived cluster)
        read_bag(spark, bag, num_partitions=4).limit(1).count()

        t0 = time.perf_counter()
        # the reference's full program: Messages + Connections + one
        # FLATTENED typed table per type (blob per MessageTable.cpp:339)
        info = convert_bag(
            spark, bag, os.path.join(work, "out"), num_partitions=32
        )
        dt = time.perf_counter() - t0

        out_mb = sum(
            os.path.getsize(os.path.join(dp, f))
            for dp, _, fs in os.walk(os.path.join(work, "out"))
            for f in fs
        ) / (1 << 20)
        return {
            "bag_mb": round(bag_mb, 1),
            "messages": info.count,
            "convert_s": round(dt, 2),
            "mb_per_s": round(bag_mb / dt, 1),
            "output_mb": round(out_mb, 1),
        }
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _cdr_image_payload(i: int, blob: bytes, frame: bytes, fmt: bytes) -> bytes:
    """CDR (XCDR1 little-endian) encoding of the same CompressedImage-shaped
    message the SBAG walkthrough uses — so the three grammars convert the
    SAME logical corpus and their MB/s numbers compare directly."""
    def align(buf: bytearray, size: int) -> None:
        rel = len(buf) - 4
        buf.extend(b"\x00" * ((-rel) % min(size, 8)))

    def cdr_str(buf: bytearray, raw: bytes) -> None:
        align(buf, 4)
        buf.extend(struct.pack("<I", len(raw) + 1))
        buf.extend(raw + b"\x00")

    buf = bytearray(b"\x00\x01\x00\x00")
    buf.extend(struct.pack("<I", i))
    align(buf, 4)
    buf.extend(struct.pack("<iI", 1_700_000_000 + i // 30, (i % 30) * 33_000_000))
    cdr_str(buf, frame)
    cdr_str(buf, fmt)
    align(buf, 4)
    buf.extend(struct.pack("<I", len(blob)))
    buf.extend(blob)
    return bytes(buf)


def synth_db3(path: str, n_msgs: int, blob_bytes: int) -> None:
    """Self-describing (Iron+/v4) rosbag2 sqlite bag with the walkthrough
    corpus — message_definitions embedded, so conversion needs no msgdefs."""
    import sqlite3

    blob = bytes(range(256)) * (blob_bytes // 256)
    con = sqlite3.connect(path)
    con.execute(
        "CREATE TABLE topics(id INTEGER PRIMARY KEY, name TEXT, type TEXT,"
        " serialization_format TEXT, offered_qos_profiles TEXT,"
        " type_description_hash TEXT)"
    )
    con.execute(
        "CREATE TABLE messages(id INTEGER PRIMARY KEY, topic_id INTEGER,"
        " timestamp INTEGER, data BLOB)"
    )
    con.execute(
        "CREATE TABLE message_definitions(id INTEGER PRIMARY KEY,"
        " topic_type TEXT, encoding TEXT, encoded_message_definition TEXT,"
        " type_description_hash TEXT)"
    )
    con.execute(
        "INSERT INTO topics VALUES (1, '/camera/image/compressed',"
        " 'sensor_msgs/CompressedImage', 'cdr', '', 'h1')"
    )
    con.execute(
        "INSERT INTO message_definitions VALUES"
        " (1, 'sensor_msgs/CompressedImage', 'ros2msg', ?, 'h1')",
        (IMG_DEF,),
    )
    t0 = 1_700_000_000_000_000_000
    con.executemany(
        "INSERT INTO messages VALUES (?,?,?,?)",
        [
            (None, 1, t0 + i * 33_000_000,
             _cdr_image_payload(i, blob, b"camera_link", b"jpeg"))
            for i in range(n_msgs)
        ],
    )
    con.commit()
    con.close()


def synth_mcap(path: str, n_msgs: int, blob_bytes: int) -> None:
    """Indexed chunked MCAP (ros1 payloads, embedded ros1msg schema) with
    the walkthrough corpus — the converter plans from the summary section."""
    from rosbag2parquet_spark.sources.baglike import ConnectionInfo
    from rosbag2parquet_spark.sources.mcap import write_mcap

    fmt = b"jpeg"
    frame = b"camera_link"
    blob = bytes(range(256)) * (blob_bytes // 256)

    def payload(i: int) -> bytes:
        return (
            struct.pack("<I", i)
            + struct.pack("<II", 1_700_000_000 + i // 30, (i % 30) * 33_000_000)
            + struct.pack("<I", len(frame)) + frame
            + struct.pack("<I", len(fmt)) + fmt
            + struct.pack("<I", len(blob)) + blob
        )

    conns = [
        ConnectionInfo(
            conn_id=1,
            topic="/camera/image/compressed",
            datatype="sensor_msgs/CompressedImage",
            md5sum="",
            msg_def=IMG_DEF,
        )
    ]
    write_mcap(
        path,
        conns,
        [
            (1, 1_700_000_000_000_000_000 + i * 33_000_000, payload(i))
            for i in range(n_msgs)
        ],
        encoding="ros1",
        schema_encoding="ros1msg",
        chunked=True,
        chunk_messages=200,
        indexed=True,
    )


def _run_grammar(synth, suffix: str, n_msgs: int, blob_bytes: int, spark):
    """Shared measure loop for the .db3 / MCAP walkthrough twins: same
    corpus, same converter, same exclusions as run()."""
    from rosbag2parquet_spark.convert import convert_bag
    from rosbag2parquet_spark.session import get_spark
    from rosbag2parquet_spark.sources import open_bag, read_messages

    work = tempfile.mkdtemp(prefix=f"bench_convert_{suffix}_")
    try:
        bag = os.path.join(work, f"walkthrough.{suffix}")
        synth(bag, n_msgs, blob_bytes)
        bag_mb = os.path.getsize(bag) / (1 << 20)
        spark = spark or get_spark("bench_convert")
        spark.range(1).count()
        read_messages(spark, open_bag(bag), num_partitions=4).limit(1).count()
        t0 = time.perf_counter()
        info = convert_bag(spark, bag, os.path.join(work, "out"), num_partitions=32)
        dt = time.perf_counter() - t0
        return {
            "bag_mb": round(bag_mb, 1),
            "messages": info.count,
            "convert_s": round(dt, 2),
            "mb_per_s": round(bag_mb / dt, 1),
        }
    finally:
        shutil.rmtree(work, ignore_errors=True)


def synth_pb_mcap(path: str, n_msgs: int, blob_bytes: int) -> None:
    """Indexed chunked MCAP with PROTOBUF-encoded payloads at the same
    walkthrough corpus shape (seq + stamp submessage + frame/format
    strings + blob) — the fourth grammar's throughput beside the three
    ros containers; decode runs the wire-walk tier (protobuf.py)."""
    from rosbag2parquet_spark.sources.baglike import ConnectionInfo
    from rosbag2parquet_spark.sources.mcap import write_mcap
    from rosbag2parquet_spark.sources.protobuf import (
        TYPE_BYTES,
        TYPE_MESSAGE,
        TYPE_STRING,
        TYPE_UINT32,
        build_fds,
        enc_int_field,
        enc_len_field,
        enc_str,
        msgdef_from_fds,
    )

    blob = bytes(range(256)) * (blob_bytes // 256)
    fds = build_fds(
        "bench",
        {
            "CompressedImage": [
                ("seq", 1, TYPE_UINT32),
                ("stamp", 2, TYPE_MESSAGE, False, ".bench.Stamp"),
                ("frame_id", 3, TYPE_STRING),
                ("format", 4, TYPE_STRING),
                ("data", 5, TYPE_BYTES),
            ],
            "Stamp": [("sec", 1, TYPE_UINT32), ("nsec", 2, TYPE_UINT32)],
        },
    )

    def payload(i: int) -> bytes:
        stamp = enc_int_field(1, 1_700_000_000 + i // 30) + enc_int_field(
            2, (i % 30) * 33_000_000
        )
        return (
            enc_int_field(1, i)
            + enc_len_field(2, stamp)
            + enc_str(3, "camera_link")
            + enc_str(4, "jpeg")
            + enc_len_field(5, blob)
        )

    conns = [
        ConnectionInfo(
            conn_id=1,
            topic="/camera/image/compressed",
            datatype="bench.CompressedImage",
            md5sum="",
            msg_def=msgdef_from_fds(fds),
        )
    ]
    write_mcap(
        path,
        conns,
        [
            (1, 1_700_000_000_000_000_000 + i * 33_000_000, payload(i))
            for i in range(n_msgs)
        ],
        chunked=True,
        chunk_messages=200,
        indexed=True,
    )


def run_db3(n_msgs: int = 6_000, blob_bytes: int = 4_096, spark=None) -> dict:
    return _run_grammar(synth_db3, "db3", n_msgs, blob_bytes, spark)


def synth_json_mcap(path: str, n_msgs: int, blob_bytes: int) -> None:
    """Indexed chunked MCAP with JSON-encoded payloads at the same
    walkthrough corpus shape (seq + stamp object + strings + a
    blob-length data string) — the json grammar's throughput beside the
    others; decode is the pure-Catalyst from_json tier (jsonschema.py),
    the only tier with zero Python in the row loop."""
    import json

    from rosbag2parquet_spark.sources.baglike import ConnectionInfo
    from rosbag2parquet_spark.sources.jsonschema import JSON_DEF_PREFIX
    from rosbag2parquet_spark.sources.mcap import write_mcap

    schema = json.dumps({
        "type": "object",
        "properties": {
            "seq": {"type": "integer"},
            "stamp": {"type": "object", "properties": {
                "sec": {"type": "integer"}, "nsec": {"type": "integer"}}},
            "frame_id": {"type": "string"},
            "format": {"type": "string"},
            "payload": {"type": "string"},
        },
    })
    filler = ("0123456789abcdef" * (blob_bytes // 16 + 1))[:blob_bytes]
    conns = [
        ConnectionInfo(1, "/camera/image", "bench.JsonImage", "",
                       JSON_DEF_PREFIX + schema)
    ]
    msgs = [
        (
            1,
            1_700_000_000_000_000_000 + i * 33_000_000,
            json.dumps({
                "seq": i,
                "stamp": {"sec": 1_700_000_000 + i // 30,
                          "nsec": (i % 30) * 33_000_000},
                "frame_id": "cam0",
                "format": "jpeg",
                "payload": filler,
            }).encode(),
        )
        for i in range(n_msgs)
    ]
    write_mcap(path, conns, msgs, chunked=True, chunk_messages=200, indexed=True)


def run_json(
    n_msgs: int = 6_000, blob_bytes: int = 4_096, spark=None
) -> dict:
    return _run_grammar(synth_json_mcap, "mcap", n_msgs, blob_bytes, spark)


def run_protobuf(
    n_msgs: int = 6_000, blob_bytes: int = 4_096, spark=None
) -> dict:
    return _run_grammar(synth_pb_mcap, "mcap", n_msgs, blob_bytes, spark)


def run_mcap(n_msgs: int = 6_000, blob_bytes: int = 4_096, spark=None) -> dict:
    return _run_grammar(synth_mcap, "mcap", n_msgs, blob_bytes, spark)


def run_export(
    n_msgs: int = 6_000, blob_bytes: int = 4_096, spark=None
) -> dict:
    """Export throughput: the SAME MCAP walkthrough corpus converted once
    (untimed), then re-materialized as indexed MCAP parts via export_mcap —
    the reverse-direction MB/s beside the converters' forward numbers.
    Timed region = the distributed export only (blob-union plan, seqno
    range split, one part file per task)."""
    from rosbag2parquet_spark.convert import convert_bag
    from rosbag2parquet_spark.export import export_mcap
    from rosbag2parquet_spark.session import get_spark

    work = tempfile.mkdtemp(prefix="bench_export_")
    try:
        bag = os.path.join(work, "walkthrough.mcap")
        synth_mcap(bag, n_msgs, blob_bytes)
        spark = spark or get_spark("bench_convert")
        spark.range(1).count()
        layout = os.path.join(work, "layout")
        convert_bag(spark, bag, layout, num_partitions=32)

        t0 = time.perf_counter()
        info = export_mcap(spark, layout, os.path.join(work, "exp"), parts=4)
        dt = time.perf_counter() - t0
        assert info.count == n_msgs
        out_mb = sum(os.path.getsize(p) for p in info.paths) / (1 << 20)
        return {
            "bag_mb": round(out_mb, 1),
            "messages": info.count,
            "parts": info.parts,
            "export_s": round(dt, 2),
            "mb_per_s": round(out_mb / dt, 1),
        }
    finally:
        shutil.rmtree(work, ignore_errors=True)


def run_fleet(
    n_bags: int = 4,
    msgs_per_bag: int = 1_500,
    blob_bytes: int = 4_096,
    spark=None,
) -> dict:
    """Fleet conversion throughput: N bags → ONE table layout via
    ``convert_bags`` (the reference's multi-file union claim, README.md:16)
    at the same total volume as the single-bag walkthrough, so the delta is
    the fleet machinery itself — per-bag header walks, the unioned DAG, the
    connection remap, and the cross-bag continuous seqno."""
    from rosbag2parquet_spark.convert import convert_bags
    from rosbag2parquet_spark.session import get_spark
    from rosbag2parquet_spark.sources.baglike import read_bag

    work = tempfile.mkdtemp(prefix="bench_fleet_")
    try:
        paths = []
        for b in range(n_bags):
            bag = os.path.join(work, f"fleet_{b}.sbag")
            # same connection identity in every bag — the remap/reconcile
            # path does real cross-bag work, not N disjoint dims
            synth_bag(bag, msgs_per_bag, blob_bytes)
            paths.append(bag)
        total_mb = sum(os.path.getsize(p) for p in paths) / (1 << 20)

        spark = spark or get_spark("bench_convert")
        spark.range(1).count()
        # same exclusion as the single-bag walkthrough: first-touch costs
        # (plan-worker spawn, decode-UDF pickle) are session setup, not
        # conversion work — warm EVERY path like run() warms its one bag
        for p in paths:
            read_bag(spark, p, num_partitions=4).limit(1).count()

        t0 = time.perf_counter()
        info = convert_bags(
            spark, paths, os.path.join(work, "out"), num_partitions=32
        )
        dt = time.perf_counter() - t0
        assert info.count == n_bags * msgs_per_bag
        return {
            "bags": n_bags,
            "bag_mb": round(total_mb, 1),
            "messages": info.count,
            "convert_s": round(dt, 2),
            "mb_per_s": round(total_mb / dt, 1),
        }
    finally:
        shutil.rmtree(work, ignore_errors=True)


def main() -> None:
    n_msgs = int(sys.argv[1]) if len(sys.argv) > 1 else 24_000
    blob_bytes = int(sys.argv[2]) if len(sys.argv) > 2 else 4_096
    if len(sys.argv) > 3 and sys.argv[3] == "fleet":
        print(json.dumps(run_fleet(msgs_per_bag=n_msgs, blob_bytes=blob_bytes)))
        return
    print(json.dumps(run(n_msgs, blob_bytes)))


if __name__ == "__main__":
    main()
