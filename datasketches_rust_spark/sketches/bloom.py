"""Bloom filter — packed-uint64 bit array with Kirsch-Mitzenmacher double
hashing, mirroring the reference semantics (bloom/sketch.rs, bloom/mod.rs:
110-121: "two hash functions simulate k via h1 + i*h2") with XXHash64 as
the base hash (hash/xxhash.rs), vectorized over key batches.

Spark role: the JVM ``df.stat.bloomFilter`` is Scala-only from PySpark's
perspective, so this kernel backs (a) a bloom-filter UDAF and (b) the
candidate-pair pre-filter in the dedup pipeline (probe already-clustered
ids before the expensive verify join — SURVEY.md §2.4 contains row).
"""

from __future__ import annotations

import math
from dataclasses import dataclass

import numpy as np

from datasketches_rust_spark.hashing import DEFAULT_SEED, xxhash64_matrix
from datasketches_rust_spark.sketches import serde


# builder clamp range, bloom/builder.rs:37-46 (max = the largest bit
# count whose serialized form fits an i32 byte length)
MIN_NUM_BITS = 1
MAX_NUM_BITS = ((1 << 31) - 1 - 4) * 64
MIN_NUM_HASHES = 1
MAX_NUM_HASHES = (1 << 15) - 1


def suggest_num_bits(max_items: int, fpp: float) -> int:
    """Optimal m = ceil(-n ln(p) / (ln 2)^2), clamped — the RAW bit
    count, exactly bloom/builder.rs:183-191 (doc-test:
    suggest_num_bits(1000, 0.01) ~ 9585, NOT word-rounded; the filter
    word-rounds capacity at build time via div_ceil, builder.rs:160)."""
    m = math.ceil(-max_items * math.log(fpp) / (math.log(2) ** 2))
    return min(max(m, MIN_NUM_BITS), MAX_NUM_BITS)


def suggest_num_hashes(max_items: int, num_bits: int) -> int:
    """Optimal k = CEIL(m/n ln 2), clamped (bloom/builder.rs:205-215 —
    'Ceil to avoid selecting too few hashes'; doc-test:
    (1000, 10000) -> 7). Was round() before r4 — diverged from the
    reference whenever the fraction fell below .5 (e.g. (1000, 9000):
    6.24 -> reference 7, round gave 6)."""
    k = math.ceil(num_bits / max_items * math.log(2))
    return min(max(k, MIN_NUM_HASHES), MAX_NUM_HASHES)


def suggest_num_hashes_from_fpp(fpp: float) -> int:
    """k = ceil(-log2(p)), clamped (bloom/builder.rs:217-236; doc-test:
    0.01 -> 7)."""
    k = math.ceil(-math.log2(fpp))
    return min(max(k, MIN_NUM_HASHES), MAX_NUM_HASHES)


def base_hashes(data: np.ndarray, seed: int = DEFAULT_SEED
                ) -> tuple[np.ndarray, np.ndarray]:
    """(N, L) uint8 keys -> (h0, h1), the reference's exact two-hash
    scheme (bloom/sketch.rs:494-510 compute_hash): h0 = xx(key, seed),
    h1 = xx(key, h0) — the second pass is reseeded per key with the
    first hash. Bit-compatible with reference-built filters."""
    h0 = xxhash64_matrix(data, seed)
    return h0, xxhash64_matrix(data, h0)


@dataclass
class BloomFilter:
    num_bits: int
    num_hashes: int
    seed: int = DEFAULT_SEED
    words: np.ndarray = None  # (num_bits/64,) uint64

    def __post_init__(self) -> None:
        if self.num_bits % 64:
            raise ValueError("num_bits must be a multiple of 64")
        if self.words is None:
            self.words = np.zeros(self.num_bits // 64, dtype=np.uint64)

    @classmethod
    def with_accuracy(cls, max_items: int, fpp: float,
                      seed: int = DEFAULT_SEED) -> "BloomFilter":
        # reference order matters (builder.rs:78-79): k derives from
        # the RAW suggested bit count, THEN capacity word-rounds —
        # computing k from the rounded m can pick a different k at
        # ceil boundaries
        m = suggest_num_bits(max_items, fpp)
        k = suggest_num_hashes(max_items, m)
        return cls(((m + 63) // 64) * 64, k, seed)

    # -- hashing -------------------------------------------------------------
    def _bit_positions(self, data: np.ndarray) -> np.ndarray:
        return self._hash_positions(*base_hashes(data, self.seed))

    def _hash_positions(self, h0: np.ndarray, h1: np.ndarray) -> np.ndarray:
        """(N, num_hashes) bit indices, Kirsch-Mitzenmacher with the
        reference's exact formula (bloom/sketch.rs:532-543): 1-based i,
        ((h0 + i*h1) >> 1) % num_bits (the shift improves distribution)."""
        i = np.arange(1, self.num_hashes + 1, dtype=np.uint64)
        return (((h0[:, None] + i[None, :] * h1[:, None])
                 >> np.uint64(1)) % np.uint64(self.num_bits))

    # -- ops -----------------------------------------------------------------
    def insert_keys(self, data: np.ndarray) -> "BloomFilter":
        return self.insert_hashes(*base_hashes(data, self.seed))

    def insert_hashes(self, h0: np.ndarray, h1: np.ndarray) -> "BloomFilter":
        """Insert keys given by their ``base_hashes``."""
        bits = self._hash_positions(h0, h1).ravel()
        np.bitwise_or.at(self.words, (bits >> np.uint64(6)).astype(np.int64),
                         np.uint64(1) << (bits & np.uint64(63)))
        return self

    def contains_keys(self, data: np.ndarray) -> np.ndarray:
        """(N,) bool — no false negatives (bloom/sketch.rs:71-78)."""
        bits = self._bit_positions(data)
        w = self.words[(bits >> np.uint64(6)).astype(np.int64)]
        set_ = (w >> (bits & np.uint64(63))) & np.uint64(1)
        return set_.all(axis=1)

    def contains_and_insert_keys(self, data: np.ndarray) -> np.ndarray:
        """(N,) bool — per key, whether it was (probably) present BEFORE
        this call, then insert it (bloom/sketch.rs:97-102). Sequential
        one-at-a-time semantics: a duplicate later in the batch reports
        True because the earlier occurrence inserted it — matching the
        reference's per-item loop, not a batch snapshot."""
        bits = self._bit_positions(data)
        word_idx = (bits >> np.uint64(6)).astype(np.int64)
        masks = np.uint64(1) << (bits & np.uint64(63))
        out = np.empty(len(data), dtype=bool)
        for i in range(len(data)):
            w = self.words[word_idx[i]]
            out[i] = bool(np.all(w & masks[i]))
            np.bitwise_or.at(self.words, word_idx[i], masks[i])
        return out

    def union(self, other: "BloomFilter") -> "BloomFilter":
        self._check_compat(other)
        return BloomFilter(self.num_bits, self.num_hashes, self.seed,
                           self.words | other.words)

    def intersect(self, other: "BloomFilter") -> "BloomFilter":
        self._check_compat(other)
        return BloomFilter(self.num_bits, self.num_hashes, self.seed,
                           self.words & other.words)

    def invert(self) -> "BloomFilter":
        return BloomFilter(self.num_bits, self.num_hashes, self.seed,
                           ~self.words)

    def _check_compat(self, other: "BloomFilter") -> None:
        if (self.num_bits, self.num_hashes, self.seed) != \
                (other.num_bits, other.num_hashes, other.seed):
            raise serde.SketchDecodeError("incompatible bloom configs")

    # -- stats (bloom/sketch.rs:263-306) --------------------------------------
    def bits_used(self) -> int:
        from datasketches_rust_spark.sketches.util import popcount64
        return int(popcount64(self.words).sum())

    def load_factor(self) -> float:
        return self.bits_used() / self.num_bits

    def estimated_fpp(self) -> float:
        return self.load_factor() ** self.num_hashes

    # -- serde: the reference family-21 wire layout -------------------------
    # (bloom/sketch.rs:335-495). Preamble 3 longs when empty, 4 when not:
    #   [pre_longs u8][serial_version=1 u8][family=21 u8][flags u8]
    #   [num_hashes u16le][unused u16le]           -- long 0
    #   [seed u64le]                               -- long 1
    #   [num_longs i32le][unused u32le]            -- long 2
    #   [num_bits_set u64le]                       -- long 3 (non-empty)
    #   [bit array, num_longs x u64le]
    SERIAL_VERSION = 1
    _PRE_EMPTY, _PRE_NONEMPTY = 3, 4
    _EMPTY_FLAG = 1 << 2  # bloom/serialization.rs EMPTY_FLAG_MASK

    def serialize(self) -> bytes:
        import struct
        n_set = self.bits_used()
        empty = n_set == 0
        pre = self._PRE_EMPTY if empty else self._PRE_NONEMPTY
        out = [struct.pack("<BBBBHH", pre, self.SERIAL_VERSION,
                           serde.FAMILY_BLOOM,
                           self._EMPTY_FLAG if empty else 0,
                           self.num_hashes, 0),
               struct.pack("<Q", self.seed & 0xFFFFFFFFFFFFFFFF),
               struct.pack("<iI", self.num_bits // 64, 0)]
        if not empty:
            out.append(struct.pack("<Q", n_set))
            out.append(self.words.astype("<u8").tobytes())
        return b"".join(out)

    @classmethod
    def deserialize(cls, buf: bytes,
                    seed: int | None = None) -> "BloomFilter":
        """Reads the reference family-21 layout, including the
        dirty-bits sentinel (num_bits_set == u64::MAX -> recount,
        bloom/sketch.rs:471-482). ``seed`` is a compatibility check
        against the seed stored in the blob (the wire format carries the
        real u64 seed, unlike the 16-bit seed-hash families)."""
        import struct
        serde.need(buf, 0, 24)
        pre, ver, fam, flags, num_hashes, _ = struct.unpack_from(
            "<BBBBHH", buf, 0)
        if fam != serde.FAMILY_BLOOM:
            raise serde.SketchDecodeError(
                f"family {fam} != expected {serde.FAMILY_BLOOM}")
        if ver != cls.SERIAL_VERSION:
            raise serde.SketchDecodeError(f"unsupported serial version {ver}")
        if not cls._PRE_EMPTY <= pre <= cls._PRE_NONEMPTY:
            raise serde.SketchDecodeError(f"bad preamble_longs {pre}")
        if not 1 <= num_hashes <= 0x7FFF:
            raise serde.SketchDecodeError(f"invalid num_hashes {num_hashes}")
        (stored_seed,) = struct.unpack_from("<Q", buf, 8)
        if seed is not None and (seed & 0xFFFFFFFFFFFFFFFF) != stored_seed:
            raise serde.SketchDecodeError(
                f"incompatible seed: blob has {stored_seed}, expected {seed}")
        num_longs, _ = struct.unpack_from("<iI", buf, 16)
        if num_longs <= 0:
            raise serde.SketchDecodeError(f"invalid num_longs {num_longs}")
        if flags & cls._EMPTY_FLAG:
            return cls(num_longs * 64, num_hashes, stored_seed)
        serde.need(buf, 24, 8)
        (raw_set,) = struct.unpack_from("<Q", buf, 24)
        words, _ = serde.take_u64s(buf, 32, num_longs)
        if raw_set != 0xFFFFFFFFFFFFFFFF:  # not dirty: validate the count
            if (raw_set + 63) // 64 > num_longs:
                raise serde.SketchDecodeError(
                    f"invalid num_bits_set {raw_set}")
        return cls(num_longs * 64, num_hashes, stored_seed, words.copy())
