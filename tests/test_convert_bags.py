"""convert_bags: a FLEET of bags into one table layout — the reference's
"multiple compatible parquet files can be treated as a single file" claim
(README.md:16). Covers cross-bag seqno continuity, first-seen connection
reconciliation (including a connection shared between a rosbag and an
SBAG), per-type row counts vs per-bag sums, and path resolution."""

import os
import struct

import pytest

from rosbag2parquet_spark.convert import convert_bags, resolve_bag_paths
from rosbag2parquet_spark.sources.baglike import ConnectionInfo, write_bag
from rosbag2parquet_spark.sources.rosbag import write_rosbag
from tests.test_baglike import ANGVEL, FRAME, LINACC, QUAT, SEQ, STAMP, _imu_payload
from tests.test_convert_bag import GPS_DEF, _gps_payload
from tests.test_msgdef import IMU_DEF

IMU_CONN = dict(
    topic="/imu", datatype="sensor_msgs/Imu", md5sum="imu_md5", msg_def=IMU_DEF
)
GPS_CONN = dict(
    topic="/gps", datatype="nav_msgs/Gps", md5sum="gps_md5", msg_def=GPS_DEF
)


@pytest.fixture(scope="module")
def fleet(tmp_path_factory):
    """Two bags whose four LOCAL connections are two GLOBAL identities:

    bag 0 (rosbag): /imu (conn 1) x2 msgs, /gps (conn 2) x1
    bag 1 (SBAG):   /imu (conn 5, same identity as bag 0's conn 1) x1,
                    /gps (conn 7, same identity as bag 0's conn 2) x2
    """
    d = tmp_path_factory.mktemp("fleet")
    imu = _imu_payload(SEQ, STAMP, FRAME, QUAT, ANGVEL, LINACC)
    bag0 = str(d / "a.bag")
    write_rosbag(
        bag0,
        [ConnectionInfo(1, **IMU_CONN), ConnectionInfo(2, **GPS_CONN)],
        [(1, 1_000, imu), (2, 2_000, _gps_payload(0)), (1, 3_000, imu)],
    )
    bag1 = str(d / "b.sbag")
    write_bag(
        bag1,
        [ConnectionInfo(5, **IMU_CONN), ConnectionInfo(7, **GPS_CONN)],
        [(7, 4_000, _gps_payload(1)), (5, 5_000, imu), (7, 6_000, _gps_payload(2))],
    )
    return d, [bag0, bag1]


@pytest.fixture(scope="module")
def fleet_out(spark, fleet, tmp_path_factory):
    _, paths = fleet
    out = str(tmp_path_factory.mktemp("fleet_out"))
    info = convert_bags(spark, paths, out)
    return out, info


def test_seqno_continuous_in_input_order(spark, fleet_out):
    out, info = fleet_out
    assert info.count == 6
    messages = spark.read.parquet(os.path.join(out, "Messages"))
    rows = messages.orderBy("seqno").collect()
    assert [r.seqno for r in rows] == [0, 1, 2, 3, 4, 5]
    # input order: bag 0's messages (times 1k..3k) precede bag 1's (4k..6k)
    assert [r.time_nsec for r in rows] == [1_000, 2_000, 3_000, 4_000, 5_000, 6_000]


def test_connections_reconciled_first_seen(spark, fleet_out):
    out, _ = fleet_out
    conns = spark.read.parquet(os.path.join(out, "Connections")).collect()
    # 2 distinct identities, not 4 local connections
    assert len(conns) == 2
    by_topic = {c.topic: c for c in conns}
    # first-seen order: bag 0 header order wins the ids
    assert by_topic["/imu"].connection_id == 0
    assert by_topic["/gps"].connection_id == 1
    assert by_topic["/imu"].callerid == "" and by_topic["/imu"].latching == ""


def test_pertype_counts_equal_per_bag_sums(spark, fleet_out):
    out, _ = fleet_out
    imu = spark.read.parquet(os.path.join(out, "sensor_msgs_Imu"))
    gps = spark.read.parquet(os.path.join(out, "nav_msgs_Gps"))
    assert imu.count() == 2 + 1  # bag0 x2 + bag1 x1, ONE table across bags
    assert gps.count() == 1 + 2
    # remapped connection ids: every per-type row carries the GLOBAL id
    assert {r.connection_id for r in imu.collect()} == {0}
    assert {r.connection_id for r in gps.collect()} == {1}
    # values survive the union + remap (golden spot-check)
    assert sorted(r.status for r in gps.collect()) == ["fix0", "fix1", "fix2"]


def test_messages_bag_provenance(spark, fleet_out):
    """Reference TODO (FlattenedRosWriter.cpp:183 "we should add a file ID
    to all entries"): every Messages row names the bag it came from. The
    fleet's input order is golden — bag 0's three messages (times
    1k..3k ns) take seqno 0..2, bag 1's (4k..6k) take 3..5 — so the
    per-row ordinal round-trips exactly."""
    out, _ = fleet_out
    messages = spark.read.parquet(os.path.join(out, "Messages"))
    rows = messages.orderBy("seqno").collect()
    assert [r.bag_index for r in rows] == [0, 0, 0, 1, 1, 1]


def test_messages_fk_consistency(spark, fleet_out):
    out, _ = fleet_out
    messages = spark.read.parquet(os.path.join(out, "Messages"))
    conns = spark.read.parquet(os.path.join(out, "Connections"))
    dangling = messages.join(conns, "connection_id", "left_anti")
    assert dangling.count() == 0


def test_directory_mode_skips_non_bag_files(spark, fleet, tmp_path):
    d, paths = fleet
    (d / "README.txt").write_text("not a bag")
    (d / "partial.download").write_bytes(b"\x00\x01garbage")
    resolved = resolve_bag_paths(str(d))
    assert resolved == sorted(paths)
    out = str(tmp_path / "out")
    info = convert_bags(spark, str(d), out)
    assert info.count == 6


def test_resolve_glob_and_literal_bracket(tmp_path):
    p1 = str(tmp_path / "x1.sbag")
    p2 = str(tmp_path / "x2.sbag")
    for p in (p1, p2):
        write_bag(p, [ConnectionInfo(1, "/t", "d/T", "m", "uint32 x")], [])
    assert resolve_bag_paths(str(tmp_path / "x*.sbag")) == [p1, p2]
    # a literal '[' in an EXISTING path is a filename, not a glob class
    lit = str(tmp_path / "odd[1].sbag")
    write_bag(lit, [ConnectionInfo(1, "/t", "d/T", "m", "uint32 x")], [])
    assert resolve_bag_paths(lit) == [lit]
    with pytest.raises(ValueError, match="no bag files"):
        resolve_bag_paths(str(tmp_path / "missing*.sbag"))


def test_single_and_fleet_connections_schemas_compatible(spark, fleet, tmp_path):
    """The same bag through convert_bag and convert_bags yields the same
    7-column Connections schema (ADVICE r3: the SBAG path used to emit 5)."""
    from rosbag2parquet_spark.convert import convert_bag

    _, paths = fleet
    out1 = str(tmp_path / "single")
    out2 = str(tmp_path / "fleet")
    convert_bag(spark, paths[1], out1)
    convert_bags(spark, [paths[1]], out2)
    c1 = spark.read.parquet(os.path.join(out1, "Connections"))
    c2 = spark.read.parquet(os.path.join(out2, "Connections"))
    assert c1.columns == c2.columns


def test_cli_fleet_mode(fleet, tmp_path, capsys, spark):
    """`python -m rosbag2parquet_spark --input <dir-of-bags>` routes to
    convert_bags; a parquet input keeps the stream-convert path."""
    from rosbag2parquet_spark.__main__ import main

    d, _ = fleet
    out = str(tmp_path / "cli_out")
    assert main(["--input", str(d), "--outdir", out]) == 0
    assert "6 messages" in capsys.readouterr().out
    import os

    assert os.path.isdir(os.path.join(out, "Messages"))


def test_cli_append_mode(fleet, tmp_path, capsys, spark):
    """`--append` writes INTO the existing layout (no outdir.N rename) and
    continues seqno after the existing max."""
    import os

    from rosbag2parquet_spark.__main__ import main

    _, bags = fleet
    out = str(tmp_path / "cli_append_out")
    assert main(["--input", bags[0], "--outdir", out]) == 0
    capsys.readouterr()
    assert main(["--input", bags[1], "--outdir", out, "--append"]) == 0
    capsys.readouterr()
    msgs = spark.read.parquet(os.path.join(out, "Messages"))
    seqs = sorted(r.seqno for r in msgs.collect())
    assert seqs == list(range(6))
    # no outdir.1 side-step happened
    assert not os.path.exists(out + ".1")


def test_remap_key_no_int32_wrap(spark):
    """The (bag_index, conn_id) remap key is LONG: at bag_index >= 2048 an
    int32 key wraps past 2^31 (non-ANSI → silent), misses the remap probe,
    and rows vanish — the exact fleet size this path exists for."""
    from rosbag2parquet_spark.convert import _CONN_KEY_STRIDE, _remap_key_col

    df = spark.createDataFrame(
        [(2048, 7), (4096, 123), (100_000, 0)], "bag_index int, conn_id int"
    )
    vals = [r[0] for r in df.select(_remap_key_col()).collect()]
    assert vals == [
        2048 * _CONN_KEY_STRIDE + 7,
        4096 * _CONN_KEY_STRIDE + 123,
        100_000 * _CONN_KEY_STRIDE,
    ]
    assert all(v >= 2**31 for v in vals)  # every one would have wrapped
    # and the probe against a create_map literal finds the long key
    from pyspark.sql import functions as F

    m = F.create_map(
        F.lit(2048 * _CONN_KEY_STRIDE + 7).cast("long"), F.lit(42)
    )
    hit = df.filter("bag_index = 2048").select(m[_remap_key_col()]).collect()
    assert hit[0][0] == 42


def test_unmapped_conn_id_fails_fast(spark, tmp_path):
    """A message referencing a conn_id absent from the header is corrupt
    input: the conversion must raise, not silently drop the rows."""
    p = str(tmp_path / "corrupt.sbag")
    write_bag(
        p,
        [ConnectionInfo(1, **IMU_CONN)],
        [(1, 1_000, _imu_payload(SEQ, STAMP, FRAME, QUAT, ANGVEL, LINACC)),
         (99, 2_000, b"\x00\x00\x00\x00")],  # conn 99 not in the header
    )
    with pytest.raises(Exception, match="unmapped connection key"):
        convert_bags(spark, [p], str(tmp_path / "out"))


def test_magic_dispatch_overrides_extension(spark, tmp_path):
    """A rosbag with a nonstandard extension, admitted by magic bytes in
    directory mode, must dispatch to the ROSBAG reader (ADVICE r4: it was
    parsed as SBAG and failed the whole fleet)."""
    bags = tmp_path / "landing"
    bags.mkdir()
    imu = _imu_payload(SEQ, STAMP, FRAME, QUAT, ANGVEL, LINACC)
    write_rosbag(
        str(bags / "mislabeled.data"),
        [ConnectionInfo(1, **IMU_CONN)],
        [(1, 1_000, imu), (1, 2_000, imu)],
    )
    assert resolve_bag_paths(str(bags)) == [str(bags / "mislabeled.data")]
    info = convert_bags(spark, str(bags), str(tmp_path / "out"))
    assert info.count == 2
    imu_tbl = spark.read.parquet(str(tmp_path / "out" / "sensor_msgs_Imu"))
    assert imu_tbl.count() == 2


@pytest.mark.parametrize("single", [True, False], ids=["convert_bag", "convert_bags"])
def test_single_header_walk_per_bag(spark, tmp_path, monkeypatch, single):
    """The driver process walks each rosbag's header exactly ONCE, however
    many consumers need the scan (connections dim, bucket width, planner)
    — ADVICE r4 counted three redundant walks on multi-GB fleets — on the
    single-bag and the fleet path alike. (The datasource planner worker is
    a separate process; open_bag's chunk refs reach it through
    read_messages instead.)"""
    from functools import lru_cache

    from rosbag2parquet_spark.convert import convert_bag
    from rosbag2parquet_spark.sources import rosbag as rb

    planned = []
    orig_read = rb.read_rosbag

    def recording_read(*args, chunks=None, **kw):
        planned.append(chunks is not None)
        return orig_read(*args, chunks=chunks, **kw)

    monkeypatch.setattr(rb, "read_rosbag", recording_read)
    walks = []
    orig = rb._scan_rosbag_uncached.__wrapped__

    @lru_cache(maxsize=64)
    def counting(path, mtime_ns, size):
        walks.append(path)
        return orig(path, mtime_ns, size)

    monkeypatch.setattr(rb, "_scan_rosbag_uncached", counting)
    imu = _imu_payload(SEQ, STAMP, FRAME, QUAT, ANGVEL, LINACC)
    p = str(tmp_path / "one.bag")
    write_rosbag(p, [ConnectionInfo(1, **IMU_CONN)], [(1, 1_000, imu)])
    if single:
        info = convert_bag(spark, p, str(tmp_path / "out"))
    else:
        info = convert_bags(spark, [p], str(tmp_path / "out"))
    assert info.count == 1
    assert walks == [p]
    assert planned == [True]


def test_fleet_remap_broadcast_path(spark, fleet, tmp_path, monkeypatch):
    """Above the literal threshold the remap ships as a broadcast dim; the
    output must be identical to the create_map path (same layout run at
    threshold 0)."""
    import importlib

    # the package __init__ re-exports the convert FUNCTION under the same
    # name, so attribute-style module import resolves to the function
    cv = importlib.import_module("rosbag2parquet_spark.convert")

    _, paths = fleet
    monkeypatch.setattr(cv, "_REMAP_LITERAL_MAX", 0)
    out = str(tmp_path / "bcast")
    info = convert_bags(spark, paths, out)
    assert info.count == 6
    import os

    messages = spark.read.parquet(os.path.join(out, "Messages"))
    assert sorted(r.seqno for r in messages.collect()) == list(range(6))
    assert {r.connection_id for r in messages.collect()} == {0, 1}


def test_convert_bags_append_equals_one_fleet(spark, tmp_path):
    """Incremental ingest: convert bag A, then APPEND bag B — the layout
    must equal converting [A, B] as one fleet: continuous seqno, stable
    connection ids (identities already in the dim keep theirs; new ones
    number after), identical per-type content, and a DDL script that still
    lists every table. Two inputs: SBAGs with A converted by convert_bags,
    and rosbags WITHOUT callerid/latching with A converted by convert_bag
    (the single-bag dim must spell absent fields like the fleet's, or the
    append duplicates the connection)."""
    from rosbag2parquet_spark.convert import convert_bag

    DEF_A = "uint32 a\nstring s\n"
    DEF_B = "uint32 b\n"

    def enc_a(i):
        s = f"x{i}".encode()
        return struct.pack("<I", i) + struct.pack("<I", len(s)) + s

    msgs_b = [(1, 10**18 + (100 + i) * 1000, enc_a(100 + i)) for i in range(5)]
    msgs_b += [(2, 10**18 + (200 + i) * 1000, struct.pack("<I", i)) for i in range(4)]
    cases = [
        # (ext, writer, first converter, A's local conn id)
        ("sbag", write_bag, lambda a, out: convert_bags(spark, [a], out), 1),
        # bag-local ids survive convert_bag, so A's id is the fleet's 0
        ("bag", write_rosbag, lambda a, out: convert_bag(spark, a, out), 0),
    ]
    for ext, writer, convert_first, cid_a in cases:
        conns_a = [ConnectionInfo(cid_a, "/t1", "demo/TypeA", "ma", DEF_A)]
        conns_b = [
            ConnectionInfo(1, "/t1", "demo/TypeA", "ma", DEF_A),  # same identity
            ConnectionInfo(2, "/t2", "demo/TypeB", "mb", DEF_B),  # new identity
        ]
        msgs_a = [(cid_a, 10**18 + i * 1000, enc_a(i)) for i in range(8)]
        pa = str(tmp_path / f"a.{ext}")
        pb = str(tmp_path / f"b.{ext}")
        writer(pa, conns_a, msgs_a)
        writer(pb, conns_b, sorted(msgs_b, key=lambda m: m[1]))

        inc = str(tmp_path / f"incremental_{ext}")
        convert_first(pa, inc)
        info = convert_bags(spark, [pb], inc, mode="append")
        assert info.count == 9

        fleet = str(tmp_path / f"fleet_{ext}")
        convert_bags(spark, [pa, pb], fleet)

        for table in ("Messages", "Connections", "demo_TypeA", "demo_TypeB"):
            x = spark.read.parquet(os.path.join(inc, table))
            y = spark.read.parquet(os.path.join(fleet, table))
            assert x.exceptAll(y).count() == 0 and y.exceptAll(x).count() == 0, (
                ext, table,
            )
        seqs = [
            r.seqno
            for r in spark.read.parquet(os.path.join(inc, "Messages"))
            .orderBy("seqno")
            .collect()
        ]
        assert seqs == list(range(17))
        ddl = open(os.path.join(inc, "load_tables.sql")).read()
        assert "demo_TypeA" in ddl and "demo_TypeB" in ddl

    # appending a SCHEMA-DRIFTED TypeA bag is refused: the new def carries
    # a new md5 identity, and one type may not span two md5s (the
    # reference's FlattenedRosWriter.cpp:287 assert)
    inc = str(tmp_path / "incremental_sbag")
    conns_drift = [ConnectionInfo(1, "/t1", "demo/TypeA", "mc",
                                  "uint32 a\nuint32 extra\nstring s\n")]
    pc = str(tmp_path / "c.sbag")
    write_bag(pc, conns_drift,
              [(1, 10**18 + 300_000, struct.pack("<II", 1, 2)
                + struct.pack("<I", 1) + b"z")])
    with pytest.raises(ValueError, match="schema mismatch|md5"):
        convert_bags(spark, [pc], inc, mode="append")
    # the refused append left the layout UNTOUCHED (validation precedes
    # every write — no half-appended tables)
    msgs = spark.read.parquet(os.path.join(inc, "Messages"))
    assert msgs.count() == 17


def test_append_onto_both_spellings_keeps_ids_unique(spark, tmp_path):
    """A layout appended to before callerid/latching were normalized holds
    one identity under two spellings (NULL and ""), at ids 0 and 1. A new
    identity appended onto it must number after BOTH — reusing the skipped
    spelling's id would give the Connections dim two rows with one id."""
    import shutil

    import pyarrow as pa
    import pyarrow.parquet as pq

    from rosbag2parquet_spark.convert import convert_bag

    DEF_A = "uint32 a\n"
    DEF_B = "uint32 b\n"
    conn_a = ConnectionInfo(0, "/t1", "demo/TypeA", "ma", DEF_A)
    pa_bag = str(tmp_path / "a.bag")
    write_rosbag(pa_bag, [conn_a],
                 [(0, 10**18 + i * 1000, struct.pack("<I", i)) for i in range(3)])
    out = str(tmp_path / "layout")
    convert_bag(spark, pa_bag, out)

    conn_dir = os.path.join(out, "Connections")
    dim = pq.read_table(conn_dir)
    assert dim.num_rows == 1
    row = dim.to_pylist()[0]
    rows = [
        dict(row, connection_id=0, callerid=None, latching=None),
        dict(row, connection_id=1, callerid="", latching=""),
    ]
    shutil.rmtree(conn_dir)
    os.makedirs(conn_dir)
    pq.write_table(pa.Table.from_pylist(rows, schema=dim.schema),
                   os.path.join(conn_dir, "part-0.parquet"))

    pc = str(tmp_path / "c.bag")
    write_rosbag(
        pc,
        [ConnectionInfo(1, "/t1", "demo/TypeA", "ma", DEF_A),
         ConnectionInfo(2, "/t2", "demo/TypeB", "mb", DEF_B)],
        [(1, 10**18 + 10_000, struct.pack("<I", 7)),
         (2, 10**18 + 11_000, struct.pack("<I", 8))],
    )
    convert_bags(spark, [pc], out, mode="append")

    conns = spark.read.parquet(conn_dir).collect()
    ids = sorted(r.connection_id for r in conns)
    assert ids == [0, 1, 2]
    assert {r.topic for r in conns if r.connection_id == 2} == {"/t2"}
    msgs = spark.read.parquet(os.path.join(out, "Messages"))
    appended = {r.connection_id for r in msgs.where(msgs.seqno >= 3).collect()}
    # the known identity keeps the first id; the new one takes the next free
    assert appended == {0, 2}


def test_append_evolve_additive_schema(spark, tmp_path):
    """Schema evolution across recording sessions (the case the reference's
    hard md5 assert refuses outright): a later bag's definition GAINS a
    field — strict append refuses, evolve-append lands the batch padded to
    the union schema, and a mergeSchema read shows old rows with NULLs in
    the new column. A TYPE change is refused even under evolve."""
    import pytest as _pytest

    from rosbag2parquet_spark.convert import (
        convert_bag,
        convert_bags,
        read_layout_table,
    )
    from rosbag2parquet_spark.sources.baglike import ConnectionInfo, write_bag

    def mk(path, deftext, payloads, md5):
        conns = [ConnectionInfo(1, "/t", "demo/Evolving", md5, deftext)]
        write_bag(path, conns, payloads)
        return path

    import struct

    a = mk(
        str(tmp_path / "a.sbag"), "uint32 a\n",
        [(1, 10**18 + i, struct.pack("<I", i)) for i in range(4)], "m1",
    )
    b = mk(
        str(tmp_path / "b.sbag"), "uint32 a\nuint32 b\n",
        [(1, 10**18 + 10**9 + i, struct.pack("<II", i, 100 + i)) for i in range(3)],
        "m2",
    )
    out = str(tmp_path / "layout")
    convert_bag(spark, a, out)

    # strict append refuses the widened definition (md5 identity — BEFORE
    # any write, so the layout is untouched)
    with _pytest.raises(ValueError, match="disagree on md5sum"):
        convert_bags(spark, [b], out, mode="append")

    info = convert_bags(spark, [b], out, mode="append", evolve=True)
    assert info.count == 3

    t = read_layout_table(spark, out, "demo_Evolving").orderBy("seqno")
    rows = t.collect()
    assert len(rows) == 7
    assert [r.a for r in rows] == [0, 1, 2, 3, 0, 1, 2]
    assert [r.b for r in rows] == [None] * 4 + [100, 101, 102]

    # dropping the field again is also fine (padded back to the union)
    c = mk(
        str(tmp_path / "c.sbag"), "uint32 a\n",
        [(1, 10**18 + 2 * 10**9, struct.pack("<I", 9))], "m1",
    )
    info = convert_bags(spark, [c], out, mode="append", evolve=True)
    rows = read_layout_table(spark, out, "demo_Evolving").orderBy("seqno").collect()
    assert len(rows) == 8 and rows[-1].a == 9 and rows[-1].b is None

    # a TYPE change is never silently coerced
    d = mk(
        str(tmp_path / "d.sbag"), "float64 a\n",
        [(1, 10**18 + 3 * 10**9, struct.pack("<d", 1.5))], "m3",
    )
    before_msgs = spark.read.parquet(os.path.join(out, "Messages")).count()
    before_rows = read_layout_table(spark, out, "demo_Evolving").count()
    with _pytest.raises(ValueError, match="never silently coerced"):
        convert_bags(spark, [d], out, mode="append", evolve=True)
    # the refused evolve-append left the layout UNTOUCHED — validation
    # runs before ANY table write (no orphan Messages/Connections rows)
    assert spark.read.parquet(os.path.join(out, "Messages")).count() == before_msgs
    assert read_layout_table(spark, out, "demo_Evolving").count() == before_rows


def test_pertype_with_provenance_resolves_bag_names(spark, fleet_out):
    """The layout-level provenance read (reference TODO
    FlattenedRosWriter.cpp:183 surfaced end to end): per-type rows join
    Messages' (seqno, bag_index) and the Metadata side-car resolves the
    ordinal to the source bag's NAME — every Imu row names a.bag or
    b.sbag exactly as recorded."""
    from rosbag2parquet_spark.convert import pertype_with_provenance

    out, _ = fleet_out
    imu = pertype_with_provenance(spark, out, "sensor_msgs_Imu")
    rows = imu.orderBy("seqno").collect()
    assert [(r.bag_index, r.bag) for r in rows] == [
        (0, "a.bag"),
        (0, "a.bag"),
        (1, "b.sbag"),
    ]
    gps = pertype_with_provenance(spark, out, "nav_msgs_Gps")
    assert sorted((r.bag_index, r.bag) for r in gps.collect()) == [
        (0, "a.bag"),
        (1, "b.sbag"),
        (1, "b.sbag"),
    ]


def test_provenance_mixed_vintage_falls_back_to_join(spark, fleet, tmp_path):
    """A MIXED-vintage per-type table (evolve-appended: some files carry
    the r11 stamp, some predate it) must resolve via the seqno join — the
    stamped-column fast path would NULL-fill the pre-stamp rows that
    Messages still records. The evolve append drops the
    `_BAG_INDEX_MIXED_MARKER` as the reader's O(1) dispatch signal;
    `_all_files_have_column` is the exhaustive check the marker stands
    in for."""
    from rosbag2parquet_spark.convert import (
        _BAG_INDEX_MIXED_MARKER,
        _all_files_have_column,
        pertype_with_provenance,
    )

    _, paths = fleet
    out = str(tmp_path / "lay")
    convert_bags(spark, paths, out)
    tdir = os.path.join(out, "sensor_msgs_Imu")
    assert _all_files_have_column(tdir, "bag_index")
    assert not os.path.isfile(os.path.join(tdir, _BAG_INDEX_MIXED_MARKER))

    # simulate the mixed vintage the evolve append creates: rewrite HALF
    # the table without the stamp and drop the marker, exactly as the
    # converter does (localCheckpoint materializes before the source
    # files are deleted)
    df = spark.read.parquet(tdir).localCheckpoint(eager=True)
    with_stamp = df.filter("seqno >= 3")
    without = df.filter("seqno < 3").drop("bag_index")
    import shutil

    shutil.rmtree(tdir)
    without.write.parquet(tdir)  # pre-r11 files
    with_stamp.write.mode("append").option("mergeSchema", "true").parquet(tdir)
    with open(os.path.join(tdir, _BAG_INDEX_MIXED_MARKER), "w"):
        pass
    assert not _all_files_have_column(tdir, "bag_index")

    got = pertype_with_provenance(spark, out, "sensor_msgs_Imu")
    rows = {r.seqno: (r.bag_index, r.bag) for r in got.collect()}
    # every row — including the stripped pre-stamp ones — resolves from
    # Messages' ordinals, none NULL
    msgs = spark.read.parquet(os.path.join(out, "Messages"))
    expect = {r.seqno: r.bag_index for r in msgs.collect()}
    assert {s: bi for s, (bi, _) in rows.items()} == {
        s: expect[s] for s in rows
    }
    assert all(bag is not None for _, bag in rows.values())


def test_evolve_append_onto_stampless_table_writes_mixed_marker(
    spark, fleet, tmp_path
):
    """End-to-end marker contract: evolve-appending a stamped batch into a
    per-type table whose files PREDATE the stamp must drop the
    `_BAG_INDEX_MIXED_MARKER`, and the provenance read must then resolve
    EVERY row (old and new) from Messages via the seqno join — no NULLs,
    no misread payloads."""
    import shutil

    from rosbag2parquet_spark.convert import (
        _BAG_INDEX_MIXED_MARKER,
        pertype_with_provenance,
    )

    _, paths = fleet
    out = str(tmp_path / "lay")
    convert_bags(spark, [paths[0]], out)
    # simulate the pre-r11 vintage: strip the stamp from the per-type table
    for t in ("sensor_msgs_Imu", "nav_msgs_Gps"):
        tdir = os.path.join(out, t)
        legacy = spark.read.parquet(tdir).drop("bag_index").localCheckpoint(
            eager=True
        )
        shutil.rmtree(tdir)
        legacy.write.parquet(tdir)

    convert_bags(spark, [paths[1]], out, mode="append", evolve=True)
    for t in ("sensor_msgs_Imu", "nav_msgs_Gps"):
        assert os.path.isfile(
            os.path.join(out, t, _BAG_INDEX_MIXED_MARKER)
        ), t
    got = pertype_with_provenance(spark, out, "sensor_msgs_Imu")
    rows = {r.seqno: (r.bag_index, r.bag) for r in got.collect()}
    msgs = spark.read.parquet(os.path.join(out, "Messages"))
    expect = {r.seqno: r.bag_index for r in msgs.collect()}
    assert {s: bi for s, (bi, _) in rows.items()} == {
        s: expect[s] for s in rows
    }
    assert all(bag is not None for _, bag in rows.values())


def test_pertype_bag_index_stamped_and_matches_messages(spark, fleet_out):
    """r11: the ordinal is STAMPED into per-type tables at write time
    (reference TODO FlattenedRosWriter.cpp:183 asks for a file ID on ALL
    entries) — provenance reads are a projection, no seqno join. Golden:
    per-type ordinals equal Messages' ordinals row-for-row across the
    whole fleet layout."""
    from rosbag2parquet_spark.convert import pertype_with_provenance
    from rosbag2parquet_spark.plans.inspect import physical_plan

    out, _ = fleet_out
    messages = spark.read.parquet(os.path.join(out, "Messages"))
    expect = {r.seqno: r.bag_index for r in messages.collect()}
    seen: dict = {}
    for t in ("sensor_msgs_Imu", "nav_msgs_Gps"):
        pt = spark.read.parquet(os.path.join(out, t))
        assert pt.columns[-1] == "bag_index"  # trailing, like Messages
        seen.update({r.seqno: r.bag_index for r in pt.collect()})
    assert seen == expect
    # and the provenance read plans WITHOUT a seqno join: the only join
    # left is the broadcast name resolve
    plan = physical_plan(pertype_with_provenance(spark, out, "sensor_msgs_Imu"))
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan


def test_provenance_payload_column_named_bag_index_takes_join(
    spark, fleet, tmp_path
):
    """r12 (advisor medium): a pre-r11 layout whose PAYLOAD had a field
    named bag_index (the name only became RESERVED with the r11 stamp)
    carries that payload column among the VALUE columns — before `data` —
    with no mixed marker. The fast path must not trust the name alone:
    positional dispatch (stamp = after `data`) sends such tables to the
    seqno join, which serves Messages' true ordinals, never payload
    values."""
    import shutil

    from pyspark.sql import functions as F

    from rosbag2parquet_spark.convert import pertype_with_provenance

    _, paths = fleet
    out = str(tmp_path / "lay")
    convert_bags(spark, paths, out)
    tdir = os.path.join(out, "sensor_msgs_Imu")
    # forge the pre-r11 squatter vintage: drop the trailing stamp, then
    # insert a PAYLOAD column named bag_index among the value columns
    # (position: right after seqno, well before data) holding garbage
    # ordinals that a name-only fast path would serve as provenance
    df = spark.read.parquet(tdir).drop("bag_index")
    cols = df.columns
    forged = df.select(
        "seqno",
        (F.col("seqno") + F.lit(900)).cast("int").alias("bag_index"),
        *[c for c in cols if c != "seqno"],
    ).localCheckpoint(eager=True)
    shutil.rmtree(tdir)
    forged.write.parquet(tdir)

    got = pertype_with_provenance(spark, out, "sensor_msgs_Imu")
    rows = {r.seqno: (r.bag_index, r.bag) for r in got.collect()}
    msgs = spark.read.parquet(os.path.join(out, "Messages"))
    expect = {r.seqno: r.bag_index for r in msgs.collect()}
    # true ordinals from Messages — NOT the 900+ payload garbage
    assert {s: bi for s, (bi, _) in rows.items()} == {
        s: expect[s] for s in rows
    }
    assert all(bi < 900 for bi, _ in rows.values())
    assert all(bag is not None for _, bag in rows.values())


def test_mixed_marker_lands_before_the_append_commits(
    spark, fleet, tmp_path, monkeypatch
):
    """r12 (advisor low): the mixed marker is written BEFORE the evolve
    append's parquet write — a crash between the two fails SAFE (spurious
    marker = join fallback, always correct) rather than leaving a
    committed mixed table unmarked (fast path would NULL-fill pre-append
    rows). Simulated by making the parquet write raise and asserting the
    marker is already on disk."""
    import shutil

    from pyspark.sql import DataFrameWriter

    from rosbag2parquet_spark.convert import _BAG_INDEX_MIXED_MARKER

    _, paths = fleet
    out = str(tmp_path / "lay")
    convert_bags(spark, [paths[0]], out)
    tdir = os.path.join(out, "sensor_msgs_Imu")
    legacy = spark.read.parquet(tdir).drop("bag_index").localCheckpoint(
        eager=True
    )
    shutil.rmtree(tdir)
    legacy.write.parquet(tdir)

    real_parquet = DataFrameWriter.parquet

    def crashing_parquet(self, path, **kw):
        if path == tdir:
            raise RuntimeError("injected crash before the append commits")
        return real_parquet(self, path, **kw)

    monkeypatch.setattr(DataFrameWriter, "parquet", crashing_parquet)
    with pytest.raises(RuntimeError, match="injected crash"):
        convert_bags(spark, [paths[1]], out, mode="append", evolve=True)
    # the marker preceded the (failed) write: the table is still pure
    # legacy on disk, and the spurious marker only forces the join path
    assert os.path.isfile(os.path.join(tdir, _BAG_INDEX_MIXED_MARKER))


def test_pad_append_trailing_deterministic_on_mixed_table(
    spark, fleet, tmp_path
):
    """r12 (advisor low): `_pad_append_trailing` reads the existing schema
    with mergeSchema, so on a MIXED-vintage table the projection decision
    is deterministic — the merged schema includes the stamp, so a strict
    append KEEPS stamping (reads stay correct via the marker either way;
    this pins which vintage new files carry)."""
    import shutil

    from rosbag2parquet_spark.convert import (
        _BAG_INDEX_MIXED_MARKER,
        _pad_append_trailing,
    )

    _, paths = fleet
    out = str(tmp_path / "lay")
    convert_bags(spark, paths, out)
    tdir = os.path.join(out, "sensor_msgs_Imu")
    df = spark.read.parquet(tdir).localCheckpoint(eager=True)
    stamped = df.filter("seqno >= 3")
    stampless = df.filter("seqno < 3").drop("bag_index")
    shutil.rmtree(tdir)
    # write the STAMPLESS files first, then the stamped — a footer-order-
    # sensitive read would sample the stampless schema here
    stampless.write.parquet(tdir)
    stamped.write.mode("append").option("mergeSchema", "true").parquet(tdir)
    with open(os.path.join(tdir, _BAG_INDEX_MIXED_MARKER), "w"):
        pass

    batch = df.limit(1)
    padded = _pad_append_trailing(spark, tdir, batch)
    assert "bag_index" in padded.columns  # merged schema kept the stamp
