"""The UDAF layer: sketch kernels as distributed Spark aggregates.

The reference's lifecycle — build(config) -> update(v)* -> serialize ->
merge* -> estimate (SURVEY.md §1) — is isomorphic to Spark's partial/final
aggregation, and merge legality rests on the same property the reference
exploits: register-max / bitwise-OR / counter-add / k-smallest-union are
commutative + associative (hll/union.rs:449, bloom/sketch.rs:174,
countmin/sketch.rs:246).

Execution shape (scale rationale):
  1. PARTIAL — ``mapInPandas`` over the scan: each Arrow batch is reduced
     to one serialized sketch per group key **before any shuffle** (map-side
     combine). The batch's values are hashed in one vectorized pass (a
     numeric column never goes through per-value Python), its rows are
     split by group with one stable sort, and each group's sketch is
     built from its slice of the hashes. What travels through the
     exchange is O(#groups x #batches) sketch blobs, never raw rows — the
     same serialize/move/deserialize seam the reference acknowledges as
     its only process boundary (SURVEY.md §3.2 step 1).
  2. (optional) SALTED INTERMEDIATE — for low-cardinality keys at very high
     partition counts, a two-level groupBy((key, salt)) -> groupBy(key)
     treeReduce keeps any single reducer from absorbing all partials.
  3. FINAL — ``applyInPandas`` per key: deserialize the group's blobs,
     union them in one call (theta: the minimum theta and one sort-unique
     over all entries; the other families fold pairwise), and emit the
     serialized union for further merging, checkpointing or a finisher
     UDF.

All sketch configs are fixed at plan time and closed over by the UDFs, so
every executor builds byte-compatible states (seed-hash checked at merge,
as theta/intersection.rs:81-87 demands).
"""

from __future__ import annotations

import functools
from typing import Callable

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import (BinaryType, DoubleType, IntegralType,
                               LongType, StructField, StructType)

from datasketches_rust_spark.hashing import (DEFAULT_SEED, encode_values,
                                             key_matrices, murmur128_values)
from datasketches_rust_spark.sketches.bloom import BloomFilter, base_hashes
from datasketches_rust_spark.sketches.countmin import CountMinSketch
from datasketches_rust_spark.sketches.cpc import CpcSketch
from datasketches_rust_spark.sketches.frequencies import FrequentItemsSketch
from datasketches_rust_spark.sketches.hll import HllSketch, coupons_from_hashes
from datasketches_rust_spark.sketches.tdigest import TDigest
from datasketches_rust_spark.sketches.theta import ThetaSketch

SKETCH_COL = "sketch"


# ---------------------------------------------------------------------------
# per-kind (build, prepare, ingest, merge, deserialize) lifecycles
# ---------------------------------------------------------------------------

def _fold(op: Callable) -> Callable:
    """A list merge that folds the two-sketch ``op`` left to right."""
    return lambda sketches: functools.reduce(op, sketches)


class _Kind:
    """One sketch family at a fixed config.

    ``prepare`` turns a value column into what the sketch ingests — the
    hashes (or coupons, or bucket indices) of its non-null values, or the
    non-null raw values for freqitems and tdigest — as one array whose
    rows follow the non-null values, so a batch is hashed once and then
    sliced per group. ``update_prepared`` ingests such a slice, and
    ``merge`` unions a list of sketches into one.
    """

    def __init__(self, build: Callable, prepare: Callable, ingest: Callable,
                 merge: Callable, deserialize: Callable):
        self.build = build
        self._prepare = prepare
        self._ingest = ingest
        self._merge = merge
        self.deserialize = deserialize

    def prepare(self, values: pd.Series) -> np.ndarray:
        return self._prepare(values.dropna())

    def update_prepared(self, sk, prepared: np.ndarray) -> None:
        if len(prepared):
            self._ingest(sk, prepared)

    def update(self, sk, values: pd.Series) -> None:
        self.update_prepared(sk, self.prepare(values))

    def merge(self, sketches: list):
        """One sketch holding the union of ``sketches``; a single sketch
        is returned as it is."""
        return sketches[0] if len(sketches) == 1 else self._merge(sketches)


def sketch_kind(kind: str, **kw) -> _Kind:
    seed = kw.pop("seed", DEFAULT_SEED)
    union = _fold(lambda a, b: a.union(b))
    if kind == "theta":
        lg_k = kw.pop("lg_k", 12)
        return _Kind(lambda: ThetaSketch(lg_k=lg_k, seed=seed),
                     lambda v: murmur128_values(v, seed)[0] >> np.uint64(1),
                     ThetaSketch.update_hashes,
                     ThetaSketch.union_all,
                     lambda b: ThetaSketch.deserialize(b, seed))
    if kind == "hll":
        lg_k = kw.pop("lg_k", 12)
        return _Kind(lambda: HllSketch(lg_k=lg_k, seed=seed),
                     lambda v: np.column_stack(coupons_from_hashes(
                         *murmur128_values(v, seed), lg_k)),
                     lambda sk, c: sk.update_coupons(c[:, 0], c[:, 1]),
                     union,
                     lambda b: HllSketch.deserialize(b, seed))
    if kind == "cpc":
        lg_k = kw.pop("lg_k", 11)
        return _Kind(lambda: CpcSketch(lg_k=lg_k, seed=seed),
                     lambda v: np.column_stack(murmur128_values(v, seed)),
                     lambda sk, h: sk.update_hashes(h[:, 0], h[:, 1]),
                     union,
                     lambda b: CpcSketch.deserialize(b, seed))
    if kind == "bloom":
        num_bits = kw.pop("num_bits")
        num_hashes = kw.pop("num_hashes")
        return _Kind(lambda: BloomFilter(num_bits, num_hashes, seed),
                     lambda v: _per_key_rows(v, 2, lambda m: np.column_stack(
                         base_hashes(m, seed))),
                     lambda sk, h: sk.insert_hashes(h[:, 0], h[:, 1]),
                     union,
                     lambda b: BloomFilter.deserialize(b, seed))
    if kind == "countmin":
        nh, nb = kw.pop("num_hashes"), kw.pop("num_buckets")
        rows_of = CountMinSketch(nh, nb, seed).bucket_rows
        return _Kind(lambda: CountMinSketch(nh, nb, seed),
                     lambda v: _per_key_rows(v, nh, lambda m: rows_of(m).T),
                     lambda sk, r: sk.update_buckets(r.T),
                     _fold(lambda a, b: a.merge(b)),
                     lambda b: CountMinSketch.deserialize(b, seed))
    if kind == "freqitems":
        m = kw.pop("max_map_size", 256)
        return _Kind(lambda: FrequentItemsSketch(m),
                     pd.Series.to_numpy,
                     _freq_ingest,
                     _fold(lambda a, b: a.merge(b)),
                     FrequentItemsSketch.deserialize)
    if kind == "tdigest":
        k = kw.pop("k", 200)
        return _Kind(lambda: TDigest(k=k),
                     lambda v: v.to_numpy(dtype=np.float64),
                     TDigest.update_values,
                     _fold(lambda a, b: a.merge(b)),
                     TDigest.deserialize)
    raise ValueError(f"unknown sketch kind {kind!r}")


def _per_key_rows(values: pd.Series, width: int,
                  rows_of: Callable) -> np.ndarray:
    """(N, width) uint64: ``rows_of`` applied to every key matrix of
    ``values`` (a numeric column is a single one), in value order."""
    out = np.empty((len(values), width), dtype=np.uint64)
    for grp, mat in key_matrices(values):
        out[grp] = rows_of(mat)
    return out


def _freq_ingest(sk: FrequentItemsSketch, values: np.ndarray) -> None:
    counts = pd.Series(values).value_counts()  # slice pre-reduction
    sk.update_counts(list(counts.index), counts.to_numpy())


def _group_codes(keys: pd.DataFrame) -> np.ndarray:
    """Group number of each row, numbered in order of first appearance;
    a null key is a group of its own, and no key columns is one group."""
    if keys.columns.empty:
        return np.zeros(len(keys), dtype=np.intp)
    return keys.groupby(list(keys.columns), sort=False,
                        dropna=False).ngroup().to_numpy()


def _batch_partials(knd: _Kind, keys: pd.DataFrame, values: pd.Series,
                    has: np.ndarray) -> pd.DataFrame:
    """One serialized sketch per group of ``keys`` in one Arrow batch, as
    DataFrame[keys..., sketch]; ``has`` marks the rows whose value is not
    null. The batch is hashed in one pass and its rows sorted by group
    once; each group's sketch is built from its slice of the hashes. A
    group whose values are all null gets an empty sketch."""
    codes = _group_codes(keys)
    order = np.argsort(codes, kind="stable")
    starts = np.flatnonzero(np.diff(codes[order], prepend=-1))
    prepared = knd.prepare(values[has])
    rank = np.cumsum(has) - 1    # row -> its row in ``prepared``
    rows = order[has[order]]     # the non-null rows, by group
    sizes = np.bincount(codes[rows], minlength=len(starts))
    blobs = []
    for part in np.split(prepared[rank[rows]], np.cumsum(sizes)[:-1]):
        sk = knd.build()
        knd.update_prepared(sk, part)
        blobs.append(sk.serialize())
    out = keys.iloc[order[starts]].reset_index(drop=True)
    out[SKETCH_COL] = blobs
    return out


# ---------------------------------------------------------------------------
# distributed aggregation
# ---------------------------------------------------------------------------

def sketch_agg(df: DataFrame, key_cols: list[str], value_col: str,
               kind: str, salt_buckets: int = 0, **sketch_kw) -> DataFrame:
    """GroupBy-aggregate ``value_col`` into one sketch per key.

    Returns DataFrame[key_cols..., sketch: binary]. ``key_cols`` may be
    empty for a global aggregate. ``salt_buckets`` > 0 inserts the
    treeReduce intermediate level.
    """
    knd = sketch_kind(kind, **dict(sketch_kw))

    from datasketches_rust_spark.pipeline import ensure_parallelism
    # Arrow hands an integral column that holds a null to pandas as
    # float64, which would hash its values as doubles; so an integral
    # value travels null-free (a null as 0) next to a null flag
    value = F.col(value_col)
    integral = isinstance(df.schema[value_col].dataType, IntegralType)
    cols = ([F.coalesce(value, F.lit(0)).alias("__v"),
             value.isNull().alias("__null")] if integral
            else [value.alias("__v")])
    keyed = ensure_parallelism(df.select(*key_cols, *cols))
    key_fields = [keyed.schema[c] for c in key_cols]
    partial_schema = StructType(
        list(key_fields) + [StructField(SKETCH_COL, BinaryType(), False)])

    def partial_iter(batches):
        for pdf in batches:
            if not pdf.empty:
                has = (~pdf["__null"].to_numpy() if integral
                       else pdf["__v"].notna().to_numpy())
                yield _batch_partials(knd, pdf[key_cols], pdf["__v"], has)

    partials = keyed.mapInPandas(partial_iter, schema=partial_schema)
    return merge_sketch_col(partials, key_cols, kind,
                            salt_buckets=salt_buckets, **sketch_kw)


def merge_sketch_col(df: DataFrame, key_cols: list[str], kind: str,
                     sketch_col: str = SKETCH_COL, salt_buckets: int = 0,
                     **sketch_kw) -> DataFrame:
    """Merge a binary sketch column down to one sketch per key."""
    knd = sketch_kind(kind, **dict(sketch_kw))

    def merge_groups(frame: DataFrame, keys: list[str]) -> DataFrame:
        """One row per group of ``keys``: its keys and the union of its
        sketches, deserialized and merged in one call."""
        def merge_group(pdf: pd.DataFrame) -> pd.DataFrame:
            merged = knd.merge([knd.deserialize(bytes(b))
                                for b in pdf[sketch_col]])
            head = pdf.iloc[[0]][keys].reset_index(drop=True)
            head[sketch_col] = [merged.serialize()]
            return head

        schema = StructType([frame.schema[c] for c in keys]
                            + [StructField(sketch_col, BinaryType(), False)])
        return frame.groupBy(*keys).applyInPandas(merge_group, schema)

    if key_cols:
        return merge_groups(df, key_cols)
    # global: constant key; optionally tree-reduce through a salt level
    work = df.withColumn("__k", F.lit(0))
    if salt_buckets > 1:
        work = merge_groups(work.withColumn(
            "__salt", F.spark_partition_id() % salt_buckets),
            ["__k", "__salt"]).drop("__salt")
    return merge_groups(work, ["__k"]).drop("__k")


# ---------------------------------------------------------------------------
# finishers (sketch bytes -> scalars), as vectorized pandas UDFs
# ---------------------------------------------------------------------------

def estimate_udf(kind: str, as_long: bool = False, **sketch_kw):
    """pandas UDF: sketch bytes -> cardinality estimate.

    ``as_long=True`` rounds to bigint — used for exact-mode parity queries
    (theta is exact until >k retained, tests/theta_sketch_test.rs:24-36,
    so at k > NDV the rounded estimate equals COUNT(DISTINCT))."""
    from pyspark.sql.functions import pandas_udf
    knd = sketch_kind(kind, **dict(sketch_kw))

    ret = LongType() if as_long else DoubleType()

    @pandas_udf(ret)
    def _udf(blobs: pd.Series) -> pd.Series:
        ests = [knd.deserialize(bytes(b)).estimate() for b in blobs]
        if as_long:
            return pd.Series([int(round(e)) for e in ests], dtype="int64")
        return pd.Series(ests, dtype="float64")

    return _udf


def theta_set_op_udf(op: str, seed: int = DEFAULT_SEED, as_long: bool = False):
    """pandas UDF: (sketch_a, sketch_b) -> estimate of union/intersection/
    a_not_b (theta/intersection.rs:64-196 semantics; a_not_b per the
    sibling DataSketches AnotB operator)."""
    from pyspark.sql.functions import pandas_udf

    ret = LongType() if as_long else DoubleType()

    @pandas_udf(ret)
    def _udf(a: pd.Series, b: pd.Series) -> pd.Series:
        out = []
        for ba, bb in zip(a, b):
            sa = ThetaSketch.deserialize(bytes(ba), seed)
            sb = ThetaSketch.deserialize(bytes(bb), seed)
            res = getattr(sa, "union" if op == "union" else
                          "intersect" if op == "intersect" else "a_not_b")(sb)
            e = res.estimate()
            out.append(int(round(e)) if as_long else e)
        return pd.Series(out, dtype="int64" if as_long else "float64")

    return _udf


def countmin_estimate_udf(seed: int = DEFAULT_SEED):
    """pandas UDF: (item, sketch) -> frequency estimate (long)."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf(LongType())
    def _udf(items: pd.Series, blobs: pd.Series) -> pd.Series:
        out = np.empty(len(items), dtype=np.int64)
        cache: dict[bytes, CountMinSketch] = {}
        for i, (item, blob) in enumerate(zip(items, blobs)):
            blob = bytes(blob)
            cm = cache.get(blob)
            if cm is None:
                cm = cache[blob] = CountMinSketch.deserialize(blob, seed)
            out[i] = int(cm.estimate_keys(encode_values([item]))[0])
        return pd.Series(out)

    return _udf


def bloom_contains_udf(seed: int = DEFAULT_SEED):
    """pandas UDF: (item, sketch) -> bool membership probe (no false
    negatives, bloom/sketch.rs:71-78). Typical use: broadcast one bloom
    blob as a literal column and pre-filter a huge fact table before an
    exact semi-join kills the false positives."""
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import BooleanType
    from datasketches_rust_spark.hashing import _grouped_by_length

    @pandas_udf(BooleanType())
    def _udf(items: pd.Series, blobs: pd.Series) -> pd.Series:
        out = np.zeros(len(items), dtype=bool)
        encoded = encode_values(items)
        # group rows by blob via dict identity (each distinct blob is
        # hashed once by the dict, not memcmp'd per row); every group is
        # then probed with ONE deserialize + vectorized contains_keys —
        # the broadcast-literal case degenerates to a single group
        groups: dict[bytes, list[int]] = {}
        for i, b in enumerate(blobs):
            groups.setdefault(bytes(b), []).append(i)
        for blob, idxs in groups.items():
            bf = BloomFilter.deserialize(blob, seed)
            idx = np.asarray(idxs)
            sub = [encoded[i] for i in idxs]
            for grp, mat in _grouped_by_length(sub):
                out[idx[grp]] = bf.contains_keys(mat)
        return pd.Series(out)

    return _udf


def tdigest_quantile_udf(quantile: float, k: int = 200):
    from pyspark.sql.functions import pandas_udf

    @pandas_udf(DoubleType())
    def _udf(blobs: pd.Series) -> pd.Series:
        return pd.Series([TDigest.deserialize(bytes(b)).quantile(quantile)
                          for b in blobs])

    return _udf


def tdigest_stats_udf():
    """pandas UDF: tdigest bytes -> struct(min, max, total_weight) — these
    three are exact (tdigest tracks true min/max/weight), hence
    oracle-checkable against SQL MIN/MAX/COUNT."""
    from pyspark.sql.functions import pandas_udf
    schema = StructType([StructField("min_val", DoubleType()),
                         StructField("max_val", DoubleType()),
                         StructField("total_w", LongType())])

    @pandas_udf(schema)
    def _udf(blobs: pd.Series) -> pd.DataFrame:
        rows = []
        for b in blobs:
            td = TDigest.deserialize(bytes(b))
            rows.append((td.min_val, td.max_val, int(td.total_weight())))
        return pd.DataFrame(rows, columns=["min_val", "max_val", "total_w"])

    return _udf


def freq_topk_explode(df: DataFrame, key_cols: list[str], k: int,
                      sketch_col: str = SKETCH_COL,
                      max_map_size: int = 256) -> DataFrame:
    """Explode a frequent-items sketch column into top-k rows per key:
    DataFrame[key..., item string, est long, lb long, ub long]."""
    from pyspark.sql.types import StringType
    fields = [df.schema[c] for c in key_cols] if key_cols else []
    schema = StructType(fields + [
        StructField("item", StringType()), StructField("est", LongType()),
        StructField("lb", LongType()), StructField("ub", LongType())])

    def explode_group(pdf: pd.DataFrame):
        out = []
        for _, row in pdf.iterrows():
            fs = FrequentItemsSketch.deserialize(bytes(row[sketch_col]))
            for item, est, lb, ub in fs.frequent_items()[:k]:
                out.append((*[row[c] for c in key_cols], str(item),
                            int(est), int(lb), int(ub)))
        return pd.DataFrame(out, columns=[*key_cols, "item", "est", "lb", "ub"])

    if key_cols:
        return df.groupBy(*key_cols).applyInPandas(explode_group, schema)
    # global: the merged sketch column has exactly one row; mapInPandas
    # explodes it without another shuffle
    return df.mapInPandas(lambda it: (explode_group(pdf) for pdf in it
                                      if not pdf.empty), schema)


def register_sql_udfs(spark, lg_k: int = 16, seed: int = DEFAULT_SEED,
                      tdigest_k: int = 200, freq_max_map_size: int = 256,
                      countmin_hashes: int = 5, countmin_buckets: int = 1024,
                      bloom_bits: int = 1 << 16,
                      bloom_hashes: int = 7) -> None:
    """Expose the sketch surface to plain ``spark.sql()`` users:

    - ``theta/hll/cpc/tdigest/freq/countmin/bloom_sketch_agg`` —
      grouped-agg pandas UDAFs (values -> serialized sketch bytes),
      usable directly in SQL ``GROUP BY``. Convenience surface ONLY: a
      grouped-agg UDAF materializes each group on one worker with no
      partial aggregation, so the SCALE path for 10^12-row tables
      remains ``sketch_agg``'s map-side-combine partials + salted
      treeReduce. For bounded-group dashboards and ad-hoc SQL this is
      the ergonomic form.
    - ``theta_estimate / hll_estimate / cpc_estimate`` (bytes -> double)
      and ``theta_estimate_long`` (rounded bigint for exact-mode parity)
      — the sketch config travels inside the serialized blob, so the
      estimators need no parameters.
    - blob consumers for the value families: ``tdigest_quantile(blob,
      rank) -> double``, ``freq_estimate(blob, item) -> bigint``,
      ``countmin_estimate(blob, item) -> bigint``, ``bloom_contains(
      blob, item) -> boolean``. Each Arrow batch deserializes a blob
      once (cached per distinct blob within the batch) — the common
      shape is one merged sketch probed by many items.

    Idempotent: re-registration overwrites (Spark keeps the latest).
    """
    from pyspark.sql.functions import PandasUDFType, pandas_udf
    from pyspark.sql.types import BinaryType, BooleanType

    def _builder(kd):
        @pandas_udf(BinaryType(), PandasUDFType.GROUPED_AGG)
        def _agg(v: pd.Series) -> bytes:
            sk = kd.build()
            kd.update(sk, v)
            return bytes(sk.serialize())

        return _agg

    for kind in ("theta", "hll", "cpc"):
        spark.udf.register(f"{kind}_sketch_agg",
                           _builder(sketch_kind(kind, lg_k=lg_k, seed=seed)))
        spark.udf.register(f"{kind}_estimate",
                           estimate_udf(kind, seed=seed))
    spark.udf.register("theta_estimate_long",
                       estimate_udf("theta", as_long=True, seed=seed))

    value_kinds = {
        "tdigest": sketch_kind("tdigest", k=tdigest_k),
        "freq": sketch_kind("freqitems", max_map_size=freq_max_map_size),
        "countmin": sketch_kind("countmin", num_hashes=countmin_hashes,
                                num_buckets=countmin_buckets, seed=seed),
        "bloom": sketch_kind("bloom", num_bits=bloom_bits,
                             num_hashes=bloom_hashes, seed=seed),
    }
    for name, kd in value_kinds.items():
        spark.udf.register(f"{name}_sketch_agg", _builder(kd))

    def _blob_cache(deser):
        cache: dict[bytes, object] = {}

        def get(b):
            key = bytes(b)
            sk = cache.get(key)
            if sk is None:
                sk = cache[key] = deser(key)
            return sk

        return get

    # NULL semantics match Spark builtins: NULL in -> NULL out. A NULL
    # item must be checked BEFORE encoding — encode_values maps None to
    # b'', which is also the empty string's encoding, so skipping the
    # check would silently return the '' item's value. Nullable results
    # travel as pandas extension dtypes (Float64/Int64/boolean).

    @pandas_udf(DoubleType())
    def _tdigest_quantile(blobs: pd.Series, ranks: pd.Series) -> pd.Series:
        get = _blob_cache(value_kinds["tdigest"].deserialize)
        return pd.Series(
            [None if b is None or pd.isna(q) else get(b).quantile(float(q))
             for b, q in zip(blobs, ranks)], dtype="Float64")

    @pandas_udf(LongType())
    def _freq_estimate(blobs: pd.Series, items: pd.Series) -> pd.Series:
        get = _blob_cache(value_kinds["freq"].deserialize)
        return pd.Series(
            [None if b is None or pd.isna(i) else int(get(b).estimate(i))
             for b, i in zip(blobs, items)], dtype="Int64")

    def _probe_by_blob(blobs, items, probe, out):
        """Group row indices by blob, vectorize the probe per blob;
        NULL blob/item rows stay None in ``out``."""
        keys = encode_values(items)
        by_blob: dict[bytes, list[int]] = {}
        for i, b in enumerate(blobs):
            # pd.isna, not `is None`: a NULL numeric item arrives as NaN
            # through Arrow, a NULL string as None
            if b is not None and not pd.isna(items.iloc[i]):
                by_blob.setdefault(bytes(b), []).append(i)
        for key, idxs in by_blob.items():
            vals = probe(key, [keys[i] for i in idxs])
            for j, i in enumerate(idxs):
                out[i] = vals[j]
        return out

    @pandas_udf(LongType())
    def _countmin_estimate(blobs: pd.Series, items: pd.Series) -> pd.Series:
        get = _blob_cache(value_kinds["countmin"].deserialize)
        out = _probe_by_blob(
            blobs, items,
            lambda key, ks: [int(v) for v in get(key).estimate_keys(ks)],
            [None] * len(blobs))
        return pd.Series(out, dtype="Int64")

    @pandas_udf(BooleanType())
    def _bloom_contains(blobs: pd.Series, items: pd.Series) -> pd.Series:
        from datasketches_rust_spark.hashing import _grouped_by_length

        get = _blob_cache(value_kinds["bloom"].deserialize)

        def probe(key, ks):
            sk = get(key)
            vals = [None] * len(ks)
            for grp, mat in _grouped_by_length(ks):
                hits = sk.contains_keys(mat)
                for j, g in enumerate(grp):
                    vals[int(g)] = bool(hits[j])
            return vals

        out = _probe_by_blob(blobs, items, probe, [None] * len(blobs))
        return pd.Series(out, dtype="boolean")

    spark.udf.register("tdigest_quantile", _tdigest_quantile)
    spark.udf.register("freq_estimate", _freq_estimate)
    spark.udf.register("countmin_estimate", _countmin_estimate)
    spark.udf.register("bloom_contains", _bloom_contains)
