"""Seeded input generators for the benchmark.

Every input the program sees is made here from one integer seed, so the
same seed gives byte-identical files (``test_perfbench.py`` pins this):

- ``make_bag``: a rosbag 2.0 file with lz4 chunks, written through the
  program's own public ``sources.rosbag.write_rosbag``. It mixes three
  message types in time order: high-rate ``sensor_msgs/Imu`` numerics,
  ``sensor_msgs/CompressedImage`` whose blobs are all distinct random
  bytes, and ``std_msgs/String`` log text. The returned ``BagTruth`` holds
  what a correct conversion must reproduce.
- ``make_shard``: a corpus shard (``documents.parquet`` and
  ``embeddings.parquet``, same schemas as the repository's fixture tables)
  with injected exact and near duplicate documents and clustered 64-d
  embeddings, written with pyarrow.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

import numpy as np

SEPARATOR = "=" * 80

HEADER_DEF = f"""{SEPARATOR}
MSG: std_msgs/Header
uint32 seq
time stamp
string frame_id
"""

IMU_DEF = (
    """Header header
geometry_msgs/Quaternion orientation
float64[9] orientation_covariance
geometry_msgs/Vector3 angular_velocity
float64[9] angular_velocity_covariance
geometry_msgs/Vector3 linear_acceleration
float64[9] linear_acceleration_covariance
"""
    + HEADER_DEF
    + f"""{SEPARATOR}
MSG: geometry_msgs/Quaternion
float64 x
float64 y
float64 z
float64 w
{SEPARATOR}
MSG: geometry_msgs/Vector3
float64 x
float64 y
float64 z
"""
)

IMAGE_DEF = (
    """Header header
string format
uint8[] data
"""
    + HEADER_DEF
)

STRING_DEF = "string data\n"

IMU, IMAGE, STRING = "sensor_msgs/Imu", "sensor_msgs/CompressedImage", "std_msgs/String"
TOPICS = {IMU: "/imu/data", IMAGE: "/camera/image/compressed", STRING: "/rosout_text"}
CONN_IDS = {IMU: 0, IMAGE: 1, STRING: 2}
T0_NS = 1_700_000_000_000_000_000

# Imu wire layout with the fixed 8-byte frame id "imu_link": every payload
# has the same size, so the whole stream is one numpy structured array.
_IMU_DTYPE = np.dtype(
    [
        ("seq", "<u4"), ("sec", "<u4"), ("nsec", "<u4"), ("flen", "<u4"),
        ("frame", "S8"), ("orientation", "<f8", 4), ("ocov", "<f8", 9),
        ("angular_velocity", "<f8", 3), ("avcov", "<f8", 9),
        ("linear_acceleration", "<f8", 3), ("lacov", "<f8", 9),
    ]
)

WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = ("en", "en", "en", "zh", "es", "fr", "de")
N_SOURCES = 20
EMBED_DIM = 64
N_CLUSTERS = 10


@dataclass
class BagSpec:
    """Message counts of one generated bag: ~11k messages, ~11 MB."""

    n_imu: int = 9_000
    n_image: int = 500
    n_string: int = 1_800
    image_bytes: tuple[int, int] = (8_192, 24_576)
    messages_per_chunk: int = 400


@dataclass
class BagTruth:
    """What a correct conversion of the generated bag must reproduce, in bag
    (= seqno) order."""

    n: int
    conn_ids: np.ndarray  # connection id per message, bag order
    time_ns: np.ndarray  # bag timestamp per message, bag order
    sizes: np.ndarray  # serialized payload size per message, bag order
    imu: np.ndarray  # the _IMU_DTYPE records
    image_payloads: list[bytes] = field(repr=False)
    string_texts: list[str] = field(repr=False)

    def seqnos(self, datatype: str) -> np.ndarray:
        return np.flatnonzero(self.conn_ids == CONN_IDS[datatype])


def connections():
    from rosbag2parquet_spark.sources.baglike import ConnectionInfo

    defs = {IMU: IMU_DEF, IMAGE: IMAGE_DEF, STRING: STRING_DEF}
    return [
        ConnectionInfo(
            conn_id=CONN_IDS[t],
            topic=TOPICS[t],
            datatype=t,
            md5sum=f"{CONN_IDS[t]:032x}",
            msg_def=defs[t],
            callerid="/perfbench",
        )
        for t in (IMU, IMAGE, STRING)
    ]


def _header(seq: int, t_ns: int, frame: bytes) -> bytes:
    sec, nsec = divmod(t_ns, 1_000_000_000)
    return (
        np.array([seq, sec, nsec, len(frame)], "<u4").tobytes() + frame
    )


def _ros_string(s: bytes) -> bytes:
    return np.array([len(s)], "<u4").tobytes() + s


def make_bag(path: str, seed: int, spec: BagSpec | None = None) -> BagTruth:
    """Write the seeded rosbag to ``path`` and return its truth."""
    from rosbag2parquet_spark.sources.rosbag import write_rosbag

    spec = spec or BagSpec()
    rng = np.random.default_rng([seed, 1])
    # per-stream timestamps: 200 Hz Imu, 12 Hz camera, 40 Hz text, each
    # with seeded jitter; merged into one bag-ordered stream (ties broken
    # by connection id, so the order is total and seed-determined)
    streams = []
    for dtype, n, period in (
        (IMU, spec.n_imu, 5_000_000),
        (IMAGE, spec.n_image, 83_333_333),
        (STRING, spec.n_string, 25_000_000),
    ):
        jitter = rng.integers(0, period // 4, n)
        t = T0_NS + np.arange(n, dtype=np.int64) * period + jitter
        streams.append((np.full(n, CONN_IDS[dtype]), t))
    conn = np.concatenate([s[0] for s in streams])
    times = np.concatenate([s[1] for s in streams])
    order = np.lexsort((conn, times))
    conn, times = conn[order], times[order]

    imu_times = times[conn == CONN_IDS[IMU]]
    imu = np.zeros(spec.n_imu, _IMU_DTYPE)
    imu["seq"] = np.arange(spec.n_imu)
    imu["sec"], imu["nsec"] = np.divmod(imu_times, 1_000_000_000)
    imu["flen"] = 8
    imu["frame"] = b"imu_link"
    for f in ("orientation", "ocov", "angular_velocity", "avcov",
              "linear_acceleration", "lacov"):
        imu[f] = rng.standard_normal(imu[f].shape)
    imu_raw = imu.tobytes()
    isz = _IMU_DTYPE.itemsize

    img_times = times[conn == CONN_IDS[IMAGE]]
    lo, hi = spec.image_bytes
    img_lens = rng.integers(lo, hi + 1, spec.n_image)
    image_payloads = [
        _header(i, int(img_times[i]), b"camera_link")
        + _ros_string(b"jpeg")
        + _ros_string(rng.bytes(int(img_lens[i])))
        for i in range(spec.n_image)
    ]

    vocab = np.array(WORDS)
    n_words = rng.integers(4, 40, spec.n_string)
    string_texts = [
        f"[{i}] " + " ".join(vocab[rng.integers(0, len(vocab), int(k))])
        for i, k in enumerate(n_words)
    ]

    counters = {cid: 0 for cid in CONN_IDS.values()}
    messages, sizes = [], np.empty(len(conn), np.int64)
    for j, (cid, t) in enumerate(zip(conn.tolist(), times.tolist())):
        k = counters[cid]
        counters[cid] = k + 1
        if cid == CONN_IDS[IMU]:
            payload = imu_raw[k * isz:(k + 1) * isz]
        elif cid == CONN_IDS[IMAGE]:
            payload = image_payloads[k]
        else:
            payload = _ros_string(string_texts[k].encode())
        sizes[j] = len(payload)
        messages.append((cid, t, payload))
    write_rosbag(
        path, connections(), messages,
        compression="lz4", messages_per_chunk=spec.messages_per_chunk,
    )
    return BagTruth(
        n=len(conn), conn_ids=conn, time_ns=times, sizes=sizes, imu=imu,
        image_payloads=image_payloads, string_texts=string_texts,
    )


@dataclass
class ShardSpec:
    """Sizes of one generated corpus shard."""

    n_docs: int = 800
    exact_dup_share: float = 0.04
    near_dup_share: float = 0.04
    n_vectors: int = 400
    near_dup_vectors: int = 20


def make_shard(
    shard_dir: str, seed: int, index: int, spec: ShardSpec | None = None
) -> None:
    """Write shard number ``index`` of the seeded corpus, as
    ``documents.parquet`` and ``embeddings.parquet`` in ``shard_dir``
    (created)."""
    import pyarrow as pa
    import pyarrow.parquet as papq

    spec = spec or ShardSpec()
    rng = np.random.default_rng([seed, 2, index])
    vocab = np.array(WORDS)
    texts = []
    for _ in range(spec.n_docs):
        k = int(rng.integers(12, 90))
        texts.append(" ".join(vocab[rng.integers(0, len(vocab), k)]))
    # injected duplicates: exact copies, and near copies (one word appended,
    # so the shingle Jaccard stays above the minhash threshold)
    n_exact = int(spec.n_docs * spec.exact_dup_share)
    n_near = int(spec.n_docs * spec.near_dup_share)
    src = rng.integers(0, spec.n_docs, n_exact + n_near)
    dst = rng.choice(spec.n_docs, n_exact + n_near, replace=False)
    for j, (s, d) in enumerate(zip(src.tolist(), dst.tolist())):
        if s != d:
            texts[d] = texts[s] if j < n_exact else texts[s] + " dup"
    docs = pa.table(
        {
            "doc_id": pa.array(np.arange(spec.n_docs), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(
                [LANGS[i] for i in rng.integers(0, len(LANGS), spec.n_docs)],
                pa.string(),
            ),
            "source": pa.array(
                [f"src{i}" for i in rng.integers(0, N_SOURCES, spec.n_docs)],
                pa.string(),
            ),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )

    # clustered unit vectors: center + noise sized so same-cluster cosine
    # sits near the 0.3 near-dup threshold (as in the fixture tables), plus
    # injected near-copies of existing vectors
    centers = rng.standard_normal((N_CLUSTERS, EMBED_DIM))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    labels = rng.integers(0, N_CLUSTERS, spec.n_vectors)
    vecs = centers[labels] + 1.3 * rng.standard_normal(
        (spec.n_vectors, EMBED_DIM)
    ) / np.sqrt(EMBED_DIM)
    src = rng.integers(0, spec.n_vectors, spec.near_dup_vectors)
    dst = rng.choice(spec.n_vectors, spec.near_dup_vectors, replace=False)
    vecs[dst] = vecs[src] + 0.02 * rng.standard_normal(
        (spec.near_dup_vectors, EMBED_DIM)
    ) / np.sqrt(EMBED_DIM)
    labels[dst] = labels[src]
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    vecs = vecs.astype(np.float32)
    emb = pa.table(
        {
            "vec_id": pa.array(np.arange(spec.n_vectors), pa.int64()),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(labels, pa.int32()),
        }
    )
    os.makedirs(shard_dir, exist_ok=True)
    papq.write_table(docs, os.path.join(shard_dir, "documents.parquet"))
    papq.write_table(emb, os.path.join(shard_dir, "embeddings.parquet"))
