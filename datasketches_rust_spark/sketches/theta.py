"""Theta / KMV sketch — columnar re-expression of the reference theta family.

Reference semantics (theta/mod.rs:20-23, theta/sketch.rs, theta/hash_table.rs):
retain the k smallest 64-bit key hashes below a sampling threshold theta;
exact while <= k retained (theta == MAX); after that theta tracks the k-th
smallest and estimate = retained / (theta / MAX).

Design translation (NOT a port): the reference maintains an open-addressed
hash table with odd-stride probing and 15/16-load rebuilds
(theta/hash_table.rs:28-32, 176-277) because it ingests one value at a time.
We ingest whole Arrow batches, so sorted-unique numpy arrays beat probing:

- screening `hash == 0 or hash >= theta` (theta/hash_table.rs:179-181)
  -> boolean mask over the batch,
- k-th-smallest selection via select_nth_unstable
  (theta/hash_table.rs:249-277) -> np.partition (same O(n) semantics),
- ordered compact form (theta/sketch.rs:222-242) -> entries always sorted,
  which makes union/intersection mergesort-style (the early-stop scan of
  theta/intersection.rs:152-154 becomes np.intersect1d on sorted input).

Union is absent from the reference v0.3.0 (theta/mod.rs:48-52) but implied
by the KMV math; we implement it because the distributed merge needs it
(SURVEY.md §2.1).
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np

from datasketches_rust_spark.hashing import DEFAULT_SEED, compute_seed_hash
from datasketches_rust_spark.sketches import serde

MAX_THETA = np.uint64((1 << 63) - 1)  # hashes are h1 >> 1, range [0, 2^63)
DEFAULT_LG_K = 12  # theta/mod.rs:54-65


@dataclass
class ThetaSketch:
    """Compact, always-sorted theta sketch state."""

    lg_k: int = DEFAULT_LG_K
    seed: int = DEFAULT_SEED
    theta: np.uint64 = MAX_THETA
    entries: np.ndarray = None  # sorted unique uint64, all < theta
    # up-front sampling probability p (theta/sketch.rs:986-993 builder
    # knob; hash_table.rs:400-406 starting theta = p * MAX): updates are
    # screened at p*MAX before the sketch ever fills, trading accuracy
    # for a hard bound on per-update retention probability
    sampling_p: float = 1.0

    def __post_init__(self) -> None:
        if not (5 <= self.lg_k <= 26):  # theta/sketch.rs:955 bounds
            raise ValueError(f"lg_k {self.lg_k} out of [5, 26]")
        if not (0.0 < self.sampling_p <= 1.0):
            raise ValueError(f"sampling_p {self.sampling_p} out of (0, 1]")
        if self.entries is None:
            self.entries = np.empty(0, dtype=np.uint64)
        self.theta = np.uint64(min(np.uint64(self.theta), self._start_theta()))

    def _start_theta(self) -> np.uint64:
        if self.sampling_p >= 1.0:
            return MAX_THETA
        return np.uint64(self.sampling_p * float(MAX_THETA))

    @property
    def k(self) -> int:
        return 1 << self.lg_k

    # -- update ------------------------------------------------------------
    def update_hashes(self, hashes: np.ndarray) -> "ThetaSketch":
        """Ingest a batch of pre-computed key hashes (hash64 convention,
        h1 >> 1). Screens, dedups, trims to k. Returns self."""
        h = np.asarray(hashes, dtype=np.uint64)
        h = h[(h != 0) & (h < self.theta)]  # theta-screening
        if h.size == 0:
            return self
        merged = np.union1d(self.entries, h)  # sorted unique
        self.entries = merged
        self._trim()
        return self

    def _trim(self) -> None:
        """Rebuild semantics (theta/hash_table.rs:249-277): when more than k
        retained, theta <- k-th smallest (0-indexed k), keep the k below."""
        if self.entries.size > self.k:
            # entries sorted, so the k-th element is the new theta
            self.theta = self.entries[self.k]
            self.entries = self.entries[: self.k]

    def trim(self) -> "ThetaSketch":
        self._trim()
        return self

    def reset(self) -> "ThetaSketch":
        self.theta = self._start_theta()  # p survives reset (builder knob)
        self.entries = np.empty(0, dtype=np.uint64)
        return self

    # -- query ---------------------------------------------------------------
    def estimate(self) -> float:
        """retained / (theta / MAX) — theta/sketch.rs:140-147."""
        return float(self.entries.size) / (float(self.theta) / float(MAX_THETA))

    def is_estimation_mode(self) -> bool:
        return self.theta < MAX_THETA

    def bounds(self, num_std_dev: int = 2) -> tuple[float, float]:
        """Exact binomial bounds (theta/sketch.rs:268-315 delegating to
        common/binomial_bounds.rs) — Blyth-Still equivalence tables at
        small n, classic continuous bound above 120 samples. Exact when
        not in estimation mode."""
        from datasketches_rust_spark.sketches import binomial_bounds as bb
        if not self.is_estimation_mode():
            e = float(self.entries.size)
            return e, e
        n = int(self.entries.size)
        p = float(self.theta) / float(MAX_THETA)
        return (bb.lower_bound(n, p, num_std_dev),
                bb.upper_bound(n, p, num_std_dev, no_data_seen=False))

    # -- set ops -------------------------------------------------------------
    def union(self, other: "ThetaSketch") -> "ThetaSketch":
        """KMV union: theta <- min, merge sorted entries, trim to k."""
        return ThetaSketch.union_all([self, other])

    @staticmethod
    def union_all(sketches: list["ThetaSketch"]) -> "ThetaSketch":
        """KMV union of any number of sketches in one pass: theta <- the
        minimum theta, one sort-unique over every entry below it, trim to
        the smallest k. The same state as folding ``union`` pairwise,
        because each trim keeps exactly the smallest hashes."""
        first = sketches[0]
        for sk in sketches[1:]:
            first._check_compat(sk)
        theta = min(sk.theta for sk in sketches)
        ent = np.unique(np.concatenate([sk.entries for sk in sketches]))
        out = ThetaSketch(lg_k=min(sk.lg_k for sk in sketches),
                          seed=first.seed, theta=theta,
                          entries=ent[ent < theta])
        out._trim()
        return out

    def intersect(self, other: "ThetaSketch") -> "ThetaSketch":
        """theta <- min, keep hashes present in both
        (theta/intersection.rs:64-196); inputs sorted so this is the
        early-stop ordered path."""
        self._check_compat(other)
        theta = min(self.theta, other.theta)
        ent = np.intersect1d(self.entries, other.entries, assume_unique=True)
        ent = ent[ent < theta]
        return ThetaSketch(lg_k=self.lg_k, seed=self.seed, theta=theta,
                           entries=ent)

    def a_not_b(self, other: "ThetaSketch") -> "ThetaSketch":
        """Set difference estimate (sibling DataSketches AnotB operator)."""
        self._check_compat(other)
        theta = min(self.theta, other.theta)
        ent = np.setdiff1d(self.entries, other.entries, assume_unique=True)
        ent = ent[ent < theta]
        return ThetaSketch(lg_k=self.lg_k, seed=self.seed, theta=theta,
                           entries=ent)

    def _check_compat(self, other: "ThetaSketch") -> None:
        if self.seed != other.seed:  # theta/intersection.rs:81-87
            raise serde.SketchDecodeError(
                f"seed mismatch: {self.seed} != {other.seed}")

    # -- serde ---------------------------------------------------------------
    VERSION = 1

    def serialize(self) -> bytes:
        hdr = serde.pack_header(serde.FAMILY_THETA, self.VERSION,
                                compute_seed_hash(self.seed))
        meta = np.array([self.lg_k, self.entries.size], dtype="<u4").tobytes()
        theta = np.uint64(self.theta).astype("<u8").tobytes()
        return hdr + meta + theta + self.entries.astype("<u8").tobytes()

    @classmethod
    def deserialize(cls, buf: bytes, seed: int = DEFAULT_SEED) -> "ThetaSketch":
        off = serde.unpack_header(buf, serde.FAMILY_THETA, cls.VERSION,
                                  compute_seed_hash(seed))
        serde.need(buf, off, 16)
        lg_k, count = np.frombuffer(buf, "<u4", 2, off)
        theta = np.frombuffer(buf, "<u8", 1, off + 8)[0]
        entries, end = serde.take_u64s(buf, off + 16, int(count))
        if np.any(entries >= theta):  # corruption check (theta/sketch.rs:876-878)
            raise serde.SketchDecodeError("entry >= theta")
        return cls(lg_k=int(lg_k), seed=seed, theta=theta,
                   entries=entries.copy())
