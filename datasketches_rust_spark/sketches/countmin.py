"""CountMin sketch — (num_hashes x num_buckets) counter matrix.

Mirrors countmin/sketch.rs semantics AND its wire/hash contract:
per-row hash seeds derived as murmur_h1(le8(row), seed)
(countmin/sketch.rs:493-503 make_hash_seeds); an item maps to bucket
murmur_h1(item_bytes, row_seed) % num_buckets (:405-410); estimate = min
over rows (:201-225); merge = elementwise add with config check
(:246-259); suggest_num_buckets(eps)=ceil(e/eps), suggest_num_hashes
(conf)=ceil(ln 1/(1-conf)) (:131-151). Vectorized: a batch of
(key, weight) updates lands via np.add.at per row.

Counter types (countmin/value.rs): the reference is generic over
i8..i64/u8..u64 with an UNSIGNED-only halve()/decay() (the sealed
UnsignedCountMinValue trait). Here that's the ``unsigned`` flag —
int64 counters accept negative weights; uint64 counters additionally
support halve (>>1) and decay (truncating scale), matching value.rs's
`self >> 1` / `trunc(self * decay)`.

Serde is the reference family-18 layout (countmin/sketch.rs:273-386,
countmin/serialization.rs): 2 preamble longs + optional
total_weight/counts payload, counts row-major (row*num_buckets+bucket),
every value 8 bytes LE.

Pipeline role: heavy-hitter detection over LSH band keys — the skew signal
that drives salting decisions (SURVEY.md §2.5 estimate row).
"""

from __future__ import annotations

import math
import struct
from dataclasses import dataclass

import numpy as np

from datasketches_rust_spark.hashing import (DEFAULT_SEED, _grouped_by_length,
                                             compute_seed_hash,
                                             murmur3_x64_128_matrix,
                                             murmur_h1_u64s)
from datasketches_rust_spark.sketches import serde

MAX_TABLE_ENTRIES = 1 << 30  # countmin/sketch.rs:38


def suggest_num_buckets(relative_error: float) -> int:
    return math.ceil(math.e / relative_error)  # countmin/sketch.rs:131-138


def suggest_num_hashes(confidence: float) -> int:
    # countmin/sketch.rs:141-151 incl. the confidence==1.0 -> 127 case
    # and the u8-range clamp
    if not 0.0 <= confidence <= 1.0:
        raise ValueError("confidence must be between 0 and 1.0")
    if confidence == 1.0:
        return 127
    return min(math.ceil(math.log(1.0 / (1.0 - confidence))), 127)


@dataclass
class CountMinSketch:
    num_hashes: int
    num_buckets: int
    seed: int = DEFAULT_SEED
    counts: np.ndarray = None  # (num_hashes, num_buckets) int64/uint64
    total_weight: int = 0
    unsigned: bool = False  # UnsignedCountMinValue: enables halve/decay

    def __post_init__(self) -> None:
        if self.num_hashes < 1:
            raise ValueError("num_hashes must be at least 1")
        if self.num_buckets < 3:
            raise ValueError("num_buckets must be at least 3")
        if self.num_hashes * self.num_buckets >= MAX_TABLE_ENTRIES:
            raise ValueError("num_hashes * num_buckets too large")
        if self.counts is None:
            self.counts = np.zeros((self.num_hashes, self.num_buckets),
                                   dtype=np.uint64 if self.unsigned
                                   else np.int64)
        # per-row murmur seeds (countmin/sketch.rs:493-503)
        self._row_seeds = murmur_h1_u64s(
            np.arange(self.num_hashes, dtype=np.uint64), self.seed)

    def relative_error(self) -> float:
        return math.e / self.num_buckets  # countmin/sketch.rs:117-119

    def is_empty(self) -> bool:
        return self.total_weight == 0

    # -- hashing ---------------------------------------------------------
    def _buckets_u64(self, items: np.ndarray) -> np.ndarray:
        """(N,) uint64 items -> (num_hashes, N) bucket indices. A u64
        item hashes as its 8 LE bytes (Rust Hash / natural_extend) with
        each row's seed, raw h1 % num_buckets (countmin/sketch.rs:
        405-410)."""
        items = np.asarray(items, dtype=np.uint64)
        rows = np.empty((self.num_hashes, len(items)), dtype=np.int64)
        for r in range(self.num_hashes):
            rows[r] = (murmur_h1_u64s(items, int(self._row_seeds[r]))
                       % np.uint64(self.num_buckets)).astype(np.int64)
        return rows

    def _buckets_keys(self, keys: list[bytes]) -> np.ndarray:
        """Raw byte items (encode_values conventions) -> (num_hashes, N)
        bucket indices — the cross-impl path for string/typed items."""
        rows = np.empty((self.num_hashes, len(keys)), dtype=np.int64)
        for grp, mat in _grouped_by_length(keys):
            rows[:, grp] = self.bucket_rows(mat)
        return rows

    def bucket_rows(self, data: np.ndarray) -> np.ndarray:
        """(N, L) uint8 key matrix -> (num_hashes, N) bucket indices:
        each row's raw murmur h1 % num_buckets."""
        rows = np.empty((self.num_hashes, len(data)), dtype=np.int64)
        for r in range(self.num_hashes):
            h1, _ = murmur3_x64_128_matrix(data, int(self._row_seeds[r]))
            rows[r] = (h1 % np.uint64(self.num_buckets)).astype(np.int64)
        return rows

    # -- update / estimate -------------------------------------------------
    def _apply(self, rows: np.ndarray, weights, n: int) -> "CountMinSketch":
        if self.unsigned and np.asarray(weights).min(initial=0) < 0:
            raise TypeError("unsigned counters reject negative weights")
        w = np.broadcast_to(
            np.asarray(weights, dtype=self.counts.dtype), (n,))
        for r in range(self.num_hashes):
            np.add.at(self.counts[r], rows[r], w)
        self.total_weight += int(w.sum())
        return self

    def update_hashes(self, key_hashes: np.ndarray,
                      weights: np.ndarray | int = 1) -> "CountMinSketch":
        """Update with u64 items (typically pre-hashed keys; the u64 IS
        the item and hashes like the reference's u64 update)."""
        key_hashes = np.asarray(key_hashes, dtype=np.uint64)
        return self._apply(self._buckets_u64(key_hashes), weights,
                           len(key_hashes))

    def update_keys(self, keys: list[bytes],
                    weights: np.ndarray | int = 1) -> "CountMinSketch":
        """Update with raw byte items — bit-parity with a reference
        sketch updated with the same raw_bytes/sign_extend encodings."""
        return self.update_buckets(self._buckets_keys(keys), weights)

    def update_buckets(self, rows: np.ndarray,
                       weights: np.ndarray | int = 1) -> "CountMinSketch":
        """Update with items given by their (num_hashes, N)
        ``bucket_rows``."""
        return self._apply(rows, weights, rows.shape[1])

    def _estimate(self, rows: np.ndarray) -> np.ndarray:
        vals = np.stack([self.counts[r][rows[r]]
                         for r in range(self.num_hashes)])
        return vals.min(axis=0)

    def estimate_hashes(self, key_hashes: np.ndarray) -> np.ndarray:
        """(N,) estimates = min over rows (countmin/sketch.rs:201-211)."""
        return self._estimate(self._buckets_u64(key_hashes))

    def estimate_keys(self, keys: list[bytes]) -> np.ndarray:
        return self._estimate(self._buckets_keys(keys))

    def upper_bound_hashes(self, key_hashes: np.ndarray) -> np.ndarray:
        """est + eps * total_weight (countmin/sketch.rs:221-225)."""
        return (self.estimate_hashes(key_hashes)
                + int(self.relative_error() * self.total_weight))

    def upper_bound_keys(self, keys: list[bytes]) -> np.ndarray:
        return (self.estimate_keys(keys)
                + int(self.relative_error() * self.total_weight))

    # -- merge / aging -----------------------------------------------------
    def merge(self, other: "CountMinSketch") -> "CountMinSketch":
        if (self.num_hashes, self.num_buckets, self.seed, self.unsigned) != \
                (other.num_hashes, other.num_buckets, other.seed,
                 other.unsigned):
            raise serde.SketchDecodeError("incompatible countmin configs")
        return CountMinSketch(self.num_hashes, self.num_buckets, self.seed,
                              self.counts + other.counts,
                              self.total_weight + other.total_weight,
                              self.unsigned)

    def halve(self) -> "CountMinSketch":
        """Counter aging for streaming decay — UNSIGNED counters only,
        like the reference's UnsignedCountMinValue bound
        (countmin/sketch.rs:415-441, value.rs:169-173: self >> 1)."""
        if not self.unsigned:
            raise TypeError("halve() requires unsigned counters "
                            "(countmin/value.rs UnsignedCountMinValue)")
        return CountMinSketch(self.num_hashes, self.num_buckets, self.seed,
                              self.counts >> np.uint64(1),
                              self.total_weight >> 1, True)

    def decay(self, factor: float) -> "CountMinSketch":
        """Scale every counter by ``factor`` in (0, 1], truncating toward
        zero (countmin/sketch.rs:443-458, value.rs decay)."""
        if not self.unsigned:
            raise TypeError("decay() requires unsigned counters "
                            "(countmin/value.rs UnsignedCountMinValue)")
        if not (0.0 < factor <= 1.0) or not math.isfinite(factor):
            raise ValueError("decay must be within (0, 1]")
        scaled = np.trunc(self.counts.astype(np.float64) * factor)
        return CountMinSketch(self.num_hashes, self.num_buckets, self.seed,
                              scaled.astype(np.uint64),
                              int(self.total_weight * factor), True)

    # -- serde: reference family-18 layout ---------------------------------
    # (countmin/sketch.rs:273-302 / :318-386). 2 preamble longs:
    #   [pre=2 u8][serial_version=1 u8][family=18 u8][flags u8][unused u32]
    #   [num_buckets u32le][num_hashes u8][seed_hash u16le][unused u8]
    # then, when non-empty:
    #   [total_weight 8B][counts, num_hashes*num_buckets x 8B row-major]
    SERIAL_VERSION = 1
    _PRE = 2
    _FLAGS_IS_EMPTY = 1 << 0  # countmin/serialization.rs FLAGS_IS_EMPTY

    def serialize(self) -> bytes:
        empty = self.is_empty()
        dt = "<u8" if self.unsigned else "<i8"
        out = [struct.pack("<BBBBI", self._PRE, self.SERIAL_VERSION,
                           serde.FAMILY_COUNTMIN,
                           self._FLAGS_IS_EMPTY if empty else 0, 0),
               struct.pack("<IBHB", self.num_buckets, self.num_hashes,
                           compute_seed_hash(self.seed), 0)]
        if not empty:
            out.append(np.array([self.total_weight], dtype=dt).tobytes())
            out.append(self.counts.astype(dt).tobytes())
        return b"".join(out)

    @classmethod
    def deserialize(cls, buf: bytes, seed: int = DEFAULT_SEED,
                    unsigned: bool = False) -> "CountMinSketch":
        """Reads the family-18 layout. Like the reference's generic
        CountMinSketch::<T>::deserialize, the counter type is the
        reader's choice — pass ``unsigned=True`` to reinterpret the
        8-byte values as u64 (value.rs try_from_bytes)."""
        serde.need(buf, 0, 16)
        pre, ver, fam, flags, _ = struct.unpack_from("<BBBBI", buf, 0)
        if fam != serde.FAMILY_COUNTMIN:
            raise serde.SketchDecodeError(
                f"family {fam} != expected {serde.FAMILY_COUNTMIN}")
        if ver != cls.SERIAL_VERSION:
            raise serde.SketchDecodeError(f"unsupported serial version {ver}")
        if pre != cls._PRE:
            raise serde.SketchDecodeError(f"bad preamble_longs {pre}")
        nb, nh, seed_hash, _ = struct.unpack_from("<IBHB", buf, 8)
        if seed_hash != compute_seed_hash(seed):
            raise serde.SketchDecodeError(
                f"incompatible seed hash {seed_hash}")
        if nh < 1:
            raise serde.SketchDecodeError("num_hashes must be at least 1")
        if nb < 3:
            raise serde.SketchDecodeError("num_buckets must be at least 3")
        n = int(nh) * int(nb)
        if n >= MAX_TABLE_ENTRIES:
            raise serde.SketchDecodeError("table too large")
        if flags & cls._FLAGS_IS_EMPTY:
            return cls(int(nh), int(nb), seed, unsigned=unsigned)
        dt = "<u8" if unsigned else "<i8"
        serde.need(buf, 16, 8 * (n + 1))
        tw = int(np.frombuffer(buf, dt, 1, 16)[0])
        counts = np.frombuffer(buf, dt, n, 24).reshape(int(nh), int(nb))
        return cls(int(nh), int(nb), seed, counts.copy(), tw, unsigned)
