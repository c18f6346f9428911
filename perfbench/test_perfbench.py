"""Tests of the benchmark itself (no Spark session needed):

    python3 -m pytest perfbench/test_perfbench.py -q -p no:cacheprovider

- the same seed gives byte-identical inputs, another seed different ones;
- the answer checkers accept a correct answer and count a corrupted one as
  a failure.
"""

from __future__ import annotations

import os
import sys

import numpy as np
import pyarrow as pa
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

import checks  # noqa: E402
import gen  # noqa: E402
import workloads  # noqa: E402

SMALL = gen.BagSpec(n_imu=300, n_image=20, n_string=60, messages_per_chunk=50)


def _read(path: str) -> bytes:
    with open(path, "rb") as f:
        return f.read()


def test_same_seed_same_bag_bytes(tmp_path):
    a, b, c = (str(tmp_path / f"{n}.bag") for n in "abc")
    gen.make_bag(a, 7, SMALL)
    gen.make_bag(b, 7, SMALL)
    gen.make_bag(c, 8, SMALL)
    assert _read(a) == _read(b)
    assert _read(a) != _read(c)


def test_same_seed_same_shard_bytes(tmp_path):
    spec = gen.ShardSpec(n_docs=80, n_vectors=40, near_dup_vectors=4)
    for name, seed, index in (("a", 7, 1), ("b", 7, 1), ("c", 8, 1), ("d", 7, 2)):
        gen.make_shard(str(tmp_path / name), seed, index, spec)
    for table in ("documents.parquet", "embeddings.parquet"):
        a, b, c, d = (_read(str(tmp_path / n / table)) for n in "abcd")
        assert a == b
        assert a != c and a != d


def _truth_layout(truth: gen.BagTruth) -> dict:
    """The tables a correct conversion of ``truth`` holds, sorted by seqno."""
    sec, nsec = np.divmod(truth.time_ns, 1_000_000_000)
    tables = {
        "Messages": pa.table({
            "seqno": np.arange(truth.n), "time_sec": sec.astype(np.int32),
            "time_nsec": nsec.astype(np.int32), "size": truth.sizes.astype(np.int32),
            "connection_id": truth.conn_ids.astype(np.int32),
        })
    }
    for dtype, name in checks.PER_TYPE.items():
        seq = truth.seqnos(dtype)
        cols = {"seqno": seq, "connection_id": np.full(len(seq), gen.CONN_IDS[dtype])}
        if dtype == gen.IMU:
            for col, (field, i) in checks.IMU_FIELDS.items():
                cols[col] = truth.imu[field] if i is None else truth.imu[field][:, i]
        elif dtype == gen.IMAGE:
            cols["data"] = pa.array(truth.image_payloads, pa.binary())
        else:
            cols["data_"] = pa.array(truth.string_texts, pa.string())
        tables[name] = pa.table(cols)
    return tables


def test_layout_checker_flags_corrupted_layout(tmp_path):
    truth = gen.make_bag(str(tmp_path / "x.bag"), 3, SMALL)
    tables = _truth_layout(truth)
    sample = np.arange(4)
    assert checks.check_layout(tables, truth, sample) == []
    # two seqnos swapped, and one blob byte flipped: both must fail
    assert workloads.self_test_layout(tables, truth, sample)
    short = dict(tables, Messages=tables["Messages"].slice(1))
    assert checks.check_layout(short, truth, sample)


def test_compare_rows():
    want = [("a", 3, 1.0), ("b", 4, 2.0)]
    assert checks.compare_rows([("b", 4, 2.0 + 1e-12), ("a", 3, 1.0)], want) == []
    assert checks.compare_rows(want[:1], want)
    assert checks.compare_rows([("a", 3, 1.0), ("b", 5, 2.0)], want)
    assert checks.compare_rows([("a", 3, 1.0), ("b", 4, 2.5)], want, abs_tol=0.2)


@pytest.mark.parametrize("op", ["text-stats", "dedup-exact"])
def test_corpus_checker_flags_missing_row(tmp_path, op):
    import duckdb

    import __spark_entry__

    oracles = __spark_entry__.oracle_sql()
    shard = str(tmp_path / "shard")
    gen.make_shard(shard, 5, 1, gen.ShardSpec(n_docs=120, n_vectors=40, near_dup_vectors=4))
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM '{shard}/documents.parquet'")
    rel = con.sql(oracles[op])
    cols, rows = rel.columns, checks.corpus_rows(rel.df())
    assert checks.check_corpus(shard, {op: (cols, rows)}, oracles)[op] == []
    assert checks.check_corpus(shard, {op: (cols, rows[1:])}, oracles)[op]
