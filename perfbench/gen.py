"""Seeded input generators of the benchmark.

Every value is a pure function of (row id, a per-column salt, the seed): a
chained XXH64 of 64-bit words with Spark's `xxhash64` default seed (42), the
discipline of `graft.ScaleProbe`'s generators with the seed folded into every
hash. No RNG state is read, so the same seed gives identical tables and any
other seed gives different ones.

Each table is written as <out_dir>/<name>.parquet/part-<k>.parquet
(PARTS files of consecutive rows). The program under test only ever sees
these files.
"""
import hashlib
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

PARTS = 4
FS = 32  # samples per second of the generated recordings
BEAT_TYPES = ["click", "purchase", "signup", "view"]  # graft.core.SignalFrame

P1 = np.uint64(0x9E3779B185EBCA87)
P2 = np.uint64(0xC2B2AE3D27D4EB4F)
P3 = np.uint64(0x165667B19E3779F9)
P4 = np.uint64(0x85EBCA77C2B2AE63)
P5 = np.uint64(0x27D4EB2F165667C5)


def _rotl(x, r):
    return (x << np.uint64(r)) | (x >> np.uint64(64 - r))


def _xxh64_long(v, seed):
    """XXH64 of one 64-bit word (Spark's XXH64.hashLong), vectorised."""
    h = seed + P5 + np.uint64(8)
    k = _rotl(v * P2, 31) * P1
    h = _rotl(h ^ k, 27) * P1 + P4
    h ^= h >> np.uint64(33)
    h *= P2
    h ^= h >> np.uint64(29)
    h *= P3
    h ^= h >> np.uint64(32)
    return h


def hash64(seed: int, salt: int, *cols):
    """Chained XXH64 over cols + (salt, seed), starting from seed 42."""
    with np.errstate(over="ignore"):
        h = np.uint64(42)
        for c in list(cols) + [salt, seed]:
            h = _xxh64_long(np.asarray(c).astype(np.uint64), h)
        return h


def uniform(seed, salt, n, *cols):
    """Integer in [0, n) from a hash."""
    return (hash64(seed, salt, *cols) % np.uint64(n)).astype(np.int64)


SIZES = {
    "physio_long": {"full": dict(recordings=4, length=6400),
                    "tiny": dict(recordings=2, length=3072)},
    "iterate_persist": {"full": dict(docs=400, orders=2000, lines=4,
                                     customers=200, suppliers=40),
                        "tiny": dict(docs=300, orders=500, lines=4,
                                     customers=60, suppliers=12)},
}


def events(seed, recordings, length):
    """Quasi-periodic ECG-like recordings, one per user_id, at FS Hz.

    Each recording has its own beat period (24-32 samples, 60-80 bpm) and a
    slow baseline wander. R-peak rows carry one of the beat event types the
    signal frame reads as beats; every other row is a plain `sample`. About
    1 % of R-peaks saturate (value > 150), which the SQA layer flags as
    artifacts.
    """
    ids = np.arange(recordings * length, dtype=np.int64)
    rec = ids // length
    i = ids % length
    period = 24 + uniform(seed, 101, 9, rec)
    ph = i % period
    amp = 9.0 + uniform(seed, 102, 1000, rec, i // period) / 500.0
    qrs = np.select([ph == 0, (ph == 1) | (ph == period - 1), (ph >= 8) & (ph <= 11)],
                    [amp, 2.5, 1.2], 0.0)
    wander = 0.3 * np.sin(i * (2 * np.pi) / (320.0 + rec * 7.0))
    noise = (uniform(seed, 103, 2001, ids) - 1000) / 20000.0
    value = np.round(5.0 + wander + qrs + noise, 4)
    saturated = (ph == 0) & (uniform(seed, 104, 100, ids) == 0)
    value = np.where(saturated, 160.0 + uniform(seed, 105, 100, ids), value)
    beat = np.array(BEAT_TYPES)[uniform(seed, 106, len(BEAT_TYPES), ids)]
    etype = np.where(ph == 0, beat, "sample")
    ts = 1704067200000000 + rec * 3600000000 + i * (1000000 // FS)
    k = uniform(seed, 107, 100, ids)
    return pa.table({
        "event_id": pa.array(ids),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rec + 1),
        "event_type": pa.array(etype.tolist(), pa.string()),
        "value": pa.array(value),
        "props": pa.array([f'{{"k": {x}}}' for x in k.tolist()], pa.string()),
    })


def documents(seed, n):
    """The scale-probe corpus shape: ~120 unique tokens per doc; every 4th
    doc appends one of 32 shared 24-token boilerplate blocks, so the corpus
    carries real cross-doc verbatim spans."""
    ids = np.arange(n, dtype=np.int64)
    tok = hash64(seed, 7, ids[:, None], np.arange(120)[None, :]) % np.uint64(1 << 30)
    block = uniform(seed, 3, 32, ids)
    texts = []
    for d, row in enumerate(tok.tolist()):
        words = [f"t{x}" for x in row]
        if d % 4 == 0:
            words += [f"b{block[d]}x{j}" for j in range(24)]
        texts.append(" ".join(words))
    lang = np.where(uniform(seed, 19, 10, ids) < 8, "en", "de")
    return pa.table({
        "doc_id": pa.array(ids),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(lang.tolist(), pa.string()),
        "source": pa.array([f"src{d % 4}" for d in range(n)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def orders(seed, n, customers):
    """Key-only orders over `customers` customers."""
    ids = np.arange(n, dtype=np.int64)
    return pa.table({"o_orderkey": pa.array(ids + 1),
                     "o_custkey": pa.array(uniform(seed, 21, customers, ids) + 1)})


def lineitem(seed, n_orders, per_order, suppliers):
    """Key-only lineitem: `per_order` lines per order over `suppliers`."""
    ids = np.arange(n_orders * per_order, dtype=np.int64)
    return pa.table({"l_orderkey": pa.array(ids // per_order + 1),
                     "l_suppkey": pa.array(uniform(seed, 23, suppliers, ids) + 1)})


def tables(workload: str, seed: int, size: str = "full"):
    """(name, arrow table) pairs of a workload; each table hashes its own
    stream derived from the seed."""
    z = SIZES[workload][size]
    if workload == "physio_long":
        return [("events", events(seed, z["recordings"], z["length"]))]
    if workload == "iterate_persist":
        return [("documents", documents(seed * 31 + 2, z["docs"])),
                ("orders", orders(seed * 31 + 3, z["orders"], z["customers"])),
                ("lineitem", lineitem(seed * 31 + 4, z["orders"], z["lines"],
                                      z["suppliers"]))]
    raise ValueError(f"unknown workload {workload!r} (known: {', '.join(SIZES)})")


def content_hash(t: pa.Table) -> str:
    """SHA-256 of the table's Arrow IPC serialisation."""
    sink = pa.BufferOutputStream()
    with pa.ipc.new_stream(sink, t.schema) as w:
        w.write_table(t)
    return hashlib.sha256(sink.getvalue().to_pybytes()).hexdigest()[:32]


def write(workload: str, seed: int, out: Path, size: str = "full") -> dict:
    """Writes the workload's tables; returns {name: {rows, bytes, hash}}."""
    info = {}
    for name, t in tables(workload, seed, size):
        d = out / f"{name}.parquet"
        d.mkdir(parents=True, exist_ok=True)
        step = -(-t.num_rows // PARTS)
        for k in range(PARTS):
            pq.write_table(t.slice(k * step, step), d / f"part-{k}.parquet")
        info[name] = {"rows": t.num_rows,
                      "bytes": sum(f.stat().st_size for f in d.iterdir()),
                      "hash": content_hash(t)}
    return info

