"""Deterministic Bloom filters over LSH band values — the state-pruning
sidecar for ``StreamingFirstWinsDedup``.

Why: the incremental first-wins dedup anti-joins every micro-batch
against ALL previously-committed band state. Without pruning that read
is O(keep-set) per batch — quadratic over the stream's life, the one
true 10^12-turn scale-killer. With a Bloom sidecar per state *unit*
(a compaction band-hash bucket or an uncompacted per-batch dir), one
executor-side scan of a batch's band hashes against the units' filters
(``bloom_multimask_udf``) tells the driver which units might hold a hit,
and only those are read — per-batch state bytes read stay ~flat as the
keep-set grows.

Correctness: Bloom filters have NO false negatives for inserted keys, so
pruning can only skip units that provably contain none of the batch's
bands; an exact anti-join over the units actually read makes the final
decision. False positives cost only extra bytes read, never a wrong
keep-set.

Determinism: double hashing over two JVM-side ``xxhash64`` values of the
band string (position_i = h1 + i*h2 mod m, arithmetic in uint64 wrap),
identical on executors and driver — no Python hashing of row data
anywhere near the hot path.

NOTE: no ``from __future__ import annotations`` here — it breaks
``@pandas_udf`` type-hint resolution for locally-imported names.
"""

import os

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

BLOOM_K = 7

# build_bloom flag-array ceiling: above this many filter bits (= flag
# BYTES per concurrent build task; 2^28 bits → 256 MB of flags, 32 MB
# packed) the per-task scatter switches to the packed bitwise_or.at
# path, bounding task memory at m/8 bytes
_FLAGS_MAX_BITS = 1 << 28
BLOOM_BITS_PER_KEY = 16  # with k=7 → false-positive rate ~7e-4
_SIDECAR = "_bloom.npz"  # leading '_' → invisible to Spark's file index


def bloom_sidecar_path(unit_dir: str) -> str:
    return os.path.join(unit_dir, _SIDECAR)


def bloom_m_for(n_keys: int) -> int:
    m = max(1 << 16, BLOOM_BITS_PER_KEY * max(int(n_keys), 1))
    return ((m + 63) // 64) * 64


def band_hash_cols(band_col: str = "band"):
    """Two independent 64-bit hashes of the band value, computed JVM-side
    (whole-stage codegen) — the only inputs the Bloom machinery needs."""
    return (
        F.xxhash64(F.col(band_col)).alias("__h1"),
        F.xxhash64(F.col(band_col), F.lit("dfs-bloom-2")).alias("__h2"),
    )


def _as_u64(s) -> np.ndarray:
    return np.asarray(s, dtype=np.int64).view(np.uint64)


def set_bits(bits: np.ndarray, m: int, u1: np.ndarray, u2: np.ndarray) -> None:
    """Insert hashed keys into the packed uint64 bitmap in place."""
    um = np.uint64(m)
    for i in range(BLOOM_K):
        pos = (u1 + np.uint64(i) * u2) % um
        np.bitwise_or.at(
            bits,
            (pos >> np.uint64(6)).astype(np.int64),
            np.uint64(1) << (pos & np.uint64(63)),
        )


def might_contain_vec(
    bits: np.ndarray, m: int, u1: np.ndarray, u2: np.ndarray
) -> np.ndarray:
    """Vectorized membership probe → bool mask (no false negatives)."""
    um = np.uint64(m)
    acc = np.ones(len(u1), dtype=bool)
    for i in range(BLOOM_K):
        pos = (u1 + np.uint64(i) * u2) % um
        word = bits[(pos >> np.uint64(6)).astype(np.int64)]
        acc &= ((word >> (pos & np.uint64(63))) & np.uint64(1)).astype(bool)
        if not acc.any():
            break
    return acc


def build_bloom(bands: DataFrame, n_keys: int, band_col: str = "band"):
    """Distributed build: per-Arrow-batch partial bitmaps OR-reduced on the
    driver. Only ``m/64``-word arrays travel (one per partition) — the band
    rows themselves never reach the driver. Returns ``(bits, m)``."""
    m = bloom_m_for(n_keys)
    words = m // 64
    hdf = bands.select(*band_hash_cols(band_col))

    # Two measured fixed-tail cuts vs the naive build (was ~20 s/batch of
    # the streaming-dedup serial fraction at a 15M-key filter):
    # * partials travel as BINARY blobs (tobytes() → np.frombuffer), not
    #   array<long> — the list<int64> round-trip converts every word
    #   through a Python object on both sides;
    # * bit scatter goes through a per-PARTITION boolean flag array with
    #   fancy assignment + one packbits at partition end, instead of
    #   np.bitwise_or.at per Arrow batch (ufunc.at is ~20× slower than
    #   fancy indexing). bitorder='little' makes packbits' bit layout
    #   identical to the (pos >> 6, 1 << (pos & 63)) word convention on
    #   little-endian, so the produced bitmap is bit-for-bit the same.
    # Memory: m bits → m BYTES of flags per concurrent task (e.g. 240 MB
    # per 15M keys at 16 bits/key: 15M × 16 = 240M bits = 240M flag
    # bytes; the PACKED bitmap is m/8 = 30 MB) — partition-lifetime,
    # freed on yield. Above _FLAGS_MAX_BITS the build switches to the
    # packed np.bitwise_or.at path (m/8 bytes per task, ~20× slower
    # scatter) so many concurrent build tasks on a huge filter can't
    # blow executor memory; both paths produce bit-identical words.
    um = np.uint64(m)
    packed = m > _FLAGS_MAX_BITS

    def part(batches):
        if packed:
            wrds = np.zeros(words, dtype=np.uint64)
        else:
            flags = np.zeros(m, dtype=bool)
        for pdf in batches:
            if len(pdf):
                u1, u2 = _as_u64(pdf["__h1"]), _as_u64(pdf["__h2"])
                for i in range(BLOOM_K):
                    pos = (u1 + np.uint64(i) * u2) % um
                    if packed:
                        np.bitwise_or.at(
                            wrds,
                            (pos >> np.uint64(6)).astype(np.int64),
                            np.uint64(1) << (pos & np.uint64(63)),
                        )
                    else:
                        flags[pos.astype(np.int64)] = True
        yield pd.DataFrame(
            {
                "w": [
                    (
                        wrds.tobytes()
                        if packed
                        else np.packbits(flags, bitorder="little").tobytes()
                    )
                ]
            }
        )

    parts = hdf.mapInPandas(part, schema="w binary").collect()
    bits = np.zeros(words, dtype=np.uint64)
    for r in parts:
        bits |= np.frombuffer(r["w"], dtype=np.uint64)
    return bits, m


def save_bloom(unit_dir: str, bits: np.ndarray, m: int) -> None:
    """Atomic sidecar write (tmp + rename): a crash mid-write leaves no
    half-readable filter, and the enclosing commit-log/manifest protocol
    means a unit is only reachable once its sidecar is in place."""
    path = bloom_sidecar_path(unit_dir)
    tmp = path + ".tmp.npz"
    np.savez(tmp, bits=bits.view(np.int64), m=np.int64(m))
    # np.savez appends .npz only when missing — tmp already ends with it
    os.replace(tmp, path)


def load_bloom(unit_dir: str):
    """→ ``(bits, m)`` or ``None`` when the unit has no (readable) sidecar
    — callers must treat bloomless units as unprunable and read them."""
    path = bloom_sidecar_path(unit_dir)
    if not os.path.exists(path):
        return None
    try:
        with np.load(path) as z:
            return z["bits"].astype(np.int64).view(np.uint64), int(z["m"])
    except Exception:  # noqa: BLE001 - corrupt sidecar = no pruning, not a crash
        return None


def bloom_multimask_udf(spark: SparkSession, blooms):
    """Broadcast the list of ``(bits, m)`` filters ``blooms`` and return
    ``(udf, broadcast)``; the caller destroys the broadcast once the job
    that reads it has run. The udf maps (__h1, __h2) → ``array<long>``
    bitmask: filter *j* sets bit ``j % 63`` of word ``j // 63`` iff it
    might contain the key (bit 63 would be the int64 sign bit).

    This is the DISTRIBUTED unit probe: an aggregation of ``bit_or`` per
    word over ONE scan of a batch's band hashes tells the driver *which
    state units* have a possible hit without a single band hash leaving
    the executors, and probe cost does not grow with the number of state
    sidecars."""
    bc = spark.sparkContext.broadcast([(bits.tobytes(), m) for bits, m in blooms])
    words = max((len(blooms) + 62) // 63, 1)

    @F.pandas_udf("array<long>")
    def mask(h1: pd.Series, h2: pd.Series) -> pd.Series:
        u1 = _as_u64(h1.to_numpy(dtype=np.int64))
        u2 = _as_u64(h2.to_numpy(dtype=np.int64))
        out = np.zeros((words, len(u1)), dtype=np.int64)
        for i, (raw, m) in enumerate(bc.value):
            hit = might_contain_vec(np.frombuffer(raw, dtype=np.uint64), m, u1, u2)
            out[i // 63] |= hit.astype(np.int64) << np.int64(i % 63)
        return pd.Series(list(out.T))

    return mask, bc


def sidecar_bytes(unit_dir: str):
    """Size of the Bloom sidecar file, or ``None`` when absent — lets the
    read path make load/skip decisions without touching the npz payload."""
    path = bloom_sidecar_path(unit_dir)
    try:
        return os.path.getsize(path)
    except OSError:
        return None


class BloomCache:
    """Driver-side LRU over immutable unit-dir sidecars.

    State unit dirs are write-once (per-batch dirs are written then
    committed; compactions get fresh names), so a path is a sound cache
    key. ``retain`` drops entries for units a compaction replaced;
    ``max_bytes`` bounds driver memory — past it, cold probes re-read
    sidecars from disk instead of growing the cache."""

    def __init__(self, max_bytes: int = 256 << 20):
        from collections import OrderedDict

        self.max_bytes = max_bytes
        self._entries = OrderedDict()  # path -> (bits, m) in LRU order
        self._bytes = 0

    def retain(self, unit_dirs) -> None:
        keep = set(unit_dirs)
        for path in [p for p in self._entries if p not in keep]:
            bits, _m = self._entries.pop(path)
            self._bytes -= bits.nbytes

    def get(self, unit_dir: str):
        """→ ``((bits, m), loaded_from_disk_bytes)`` or ``(None, 0)``."""
        if unit_dir in self._entries:
            val = self._entries.pop(unit_dir)
            self._entries[unit_dir] = val  # refresh LRU position
            return val, 0
        val = load_bloom(unit_dir)
        if val is None:
            return None, 0
        nbytes = val[0].nbytes
        while self._entries and self._bytes + nbytes > self.max_bytes:
            _, (old_bits, _om) = self._entries.popitem(last=False)
            self._bytes -= old_bits.nbytes
        if self._bytes + nbytes <= self.max_bytes:
            self._entries[unit_dir] = val
            self._bytes += nbytes
        return val, nbytes


def dir_parquet_bytes(unit_dir: str) -> int:
    """Total parquet payload under a unit dir (the 'state bytes read'
    metric — sidecars and markers excluded)."""
    total = 0
    for root, _dirs, files in os.walk(unit_dir):
        for f in files:
            if f.endswith(".parquet"):
                total += os.path.getsize(os.path.join(root, f))
    return total
