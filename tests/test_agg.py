"""Distributed sketch aggregates vs exact Spark answers on the driver
testdata — the partial/merge/estimate lifecycle end-to-end on real data."""

import pyspark.sql.functions as F
import pytest

from datasketches_rust_spark import agg


@pytest.fixture(scope="module")
def lineitem(spark, sf_smoke_dir):
    return spark.read.parquet(f"{sf_smoke_dir}/lineitem.parquet")


def test_theta_exact_mode_global(spark, lineitem):
    exact = lineitem.select(F.countDistinct("l_partkey")).first()[0]
    sk = agg.sketch_agg(lineitem, [], "l_partkey", "theta", lg_k=16)
    est = sk.select(agg.estimate_udf("theta", as_long=True, lg_k=16)(
        "sketch").alias("e")).first()["e"]
    assert est == exact


def test_theta_grouped_and_salted(spark, lineitem):
    exact = {r["l_returnflag"]: r["d"] for r in lineitem.groupBy(
        "l_returnflag").agg(F.countDistinct("l_partkey").alias("d")).collect()}
    sk = agg.sketch_agg(lineitem, ["l_returnflag"], "l_partkey", "theta",
                        lg_k=16)
    got = {r["l_returnflag"]: r["e"] for r in sk.select(
        "l_returnflag", agg.estimate_udf("theta", as_long=True, lg_k=16)(
            "sketch").alias("e")).collect()}
    assert got == exact
    # salted global tree-reduce gives the same answer
    sk2 = agg.sketch_agg(lineitem, [], "l_partkey", "theta", lg_k=16,
                         salt_buckets=4)
    est2 = sk2.select(agg.estimate_udf("theta", as_long=True, lg_k=16)(
        "sketch").alias("e")).first()["e"]
    assert est2 == lineitem.select(F.countDistinct("l_partkey")).first()[0]


def test_hll_estimation_accuracy(spark, lineitem):
    exact = lineitem.select(F.countDistinct("l_orderkey")).first()[0]
    sk = agg.sketch_agg(lineitem, [], "l_orderkey", "hll", lg_k=12)
    est = sk.select(agg.estimate_udf("hll", lg_k=12)("sketch").alias(
        "e")).first()["e"]
    assert abs(est - exact) / exact < 0.05


def test_freqitems_exact_topk(spark, sf_smoke_dir):
    events = spark.read.parquet(f"{sf_smoke_dir}/events.parquet")
    exact = events.groupBy("event_type").count().orderBy(
        F.desc("count"), "event_type").collect()
    sk = agg.sketch_agg(events, [], "event_type", "freqitems",
                        max_map_size=256)
    got = agg.freq_topk_explode(sk, [], k=10, max_map_size=256).collect()
    # distinct event types << 0.75*256 => sketch is exact
    assert {(r["item"], r["est"]) for r in got} == \
        {(r["event_type"], r["count"]) for r in exact[:10]}


def test_tdigest_stats_exact(spark, lineitem):
    row = lineitem.select(F.min("l_extendedprice"), F.max("l_extendedprice"),
                          F.count("l_extendedprice")).first()
    sk = agg.sketch_agg(lineitem, [], "l_extendedprice", "tdigest")
    got = sk.select(agg.tdigest_stats_udf()("sketch").alias("s")).select(
        "s.*").first()
    assert got["min_val"] == row[0]
    assert got["max_val"] == row[1]
    assert got["total_w"] == row[2]


def test_tdigest_quantile_tolerance(spark, lineitem):
    sk = agg.sketch_agg(lineitem, [], "l_extendedprice", "tdigest")
    q50 = sk.select(agg.tdigest_quantile_udf(0.5)("sketch").alias(
        "q")).first()["q"]
    exact = lineitem.selectExpr(
        "percentile(l_extendedprice, 0.5) as q").first()["q"]
    rng = lineitem.select(F.max("l_extendedprice")
                          - F.min("l_extendedprice")).first()[0]
    assert abs(q50 - exact) / rng < 0.02


def test_countmin_upper_bounds(spark, sf_smoke_dir):
    events = spark.read.parquet(f"{sf_smoke_dir}/events.parquet")
    sk = agg.sketch_agg(events, [], "event_type", "countmin",
                        num_hashes=3, num_buckets=2048)
    blob = bytes(sk.first()["sketch"])
    from datasketches_rust_spark.hashing import encode_values
    from datasketches_rust_spark.sketches.countmin import CountMinSketch
    cm = CountMinSketch.deserialize(blob)
    exact = {r["event_type"]: r["count"]
             for r in events.groupBy("event_type").count().collect()}
    keys = list(exact)
    est = cm.estimate_keys(encode_values(keys))
    for k, e in zip(keys, est):
        assert e >= exact[k]
        assert e <= exact[k] + cm.relative_error() * cm.total_weight


def test_bloom_membership(spark, lineitem):
    sk = agg.sketch_agg(lineitem.limit(2000), [], "l_partkey", "bloom",
                        num_bits=1 << 16, num_hashes=7)
    blob = bytes(sk.first()["sketch"])
    from datasketches_rust_spark.hashing import _grouped_by_length, encode_values
    from datasketches_rust_spark.sketches.bloom import BloomFilter
    bf = BloomFilter.deserialize(blob)
    present = [r["l_partkey"] for r in lineitem.limit(2000).select(
        "l_partkey").distinct().collect()]
    for grp, mat in _grouped_by_length(encode_values(present)):
        assert bf.contains_keys(mat).all()  # no false negatives


def test_register_sql_udfs_all_kinds(spark, lineitem):
    """The spark.sql() registration surface: every registered builder +
    estimator pair runs from a raw SQL string; theta (exact mode) equals
    COUNT(DISTINCT) exactly, HLL/CPC within their error bands."""
    from datasketches_rust_spark.agg import register_sql_udfs
    register_sql_udfs(spark, lg_k=14)
    lineitem.createOrReplaceTempView("li_sql_udf")
    exact = lineitem.select(F.countDistinct("l_partkey")).first()[0]
    row = spark.sql(
        "SELECT theta_estimate_long(theta_sketch_agg(l_partkey)) AS t, "
        "hll_estimate(hll_sketch_agg(l_partkey)) AS h, "
        "cpc_estimate(cpc_sketch_agg(l_partkey)) AS c "
        "FROM li_sql_udf").first()
    assert row["t"] == exact
    assert abs(row["h"] - exact) / exact < 0.05
    assert abs(row["c"] - exact) / exact < 0.05


def test_register_sql_udfs_value_families(spark, lineitem):
    """The value-sketch SQL surface: tdigest quantiles, frequent-items /
    countmin estimates, and bloom membership all driven from raw SQL
    strings against pandas-computed truth on the same rows."""
    import numpy as np

    from datasketches_rust_spark.agg import register_sql_udfs
    register_sql_udfs(spark)
    li = lineitem.limit(4000)
    li.createOrReplaceTempView("li_sql_vf")
    pdf = li.select("l_quantity", "l_returnflag", "l_partkey").toPandas()

    # t-digest median/p90 within a loose band of the exact quantiles
    row = spark.sql(
        "SELECT tdigest_quantile(s, 0.5) AS p50, "
        "       tdigest_quantile(s, 0.9) AS p90 FROM ("
        "  SELECT tdigest_sketch_agg(l_quantity) AS s FROM li_sql_vf)"
    ).first()
    q = pdf["l_quantity"].to_numpy(dtype=float)
    assert abs(row["p50"] - np.quantile(q, 0.5)) <= 2.0
    assert abs(row["p90"] - np.quantile(q, 0.9)) <= 2.0

    # frequent-items + countmin: estimates bracket/cover the true count
    # of the most common return flag (both sketches never underestimate
    # by more than their documented error; countmin never underestimates)
    top_flag, top_n = pdf["l_returnflag"].value_counts().index[0], \
        int(pdf["l_returnflag"].value_counts().iloc[0])
    row = spark.sql(
        f"SELECT freq_estimate(f, '{top_flag}') AS fe, "
        f"       countmin_estimate(c, '{top_flag}') AS ce FROM ("
        "  SELECT freq_sketch_agg(l_returnflag) AS f, "
        "         countmin_sketch_agg(l_returnflag) AS c FROM li_sql_vf)"
    ).first()
    assert row["fe"] == top_n      # 3 distinct flags << map size: exact
    assert row["ce"] >= top_n      # CM never underestimates

    # bloom: every present key found (no false negatives from SQL)
    missing = spark.sql(
        "SELECT count(*) AS n FROM ("
        "  SELECT bloom_contains(b.s, li.l_partkey) AS hit "
        "  FROM li_sql_vf li CROSS JOIN ("
        "    SELECT bloom_sketch_agg(l_partkey) AS s FROM li_sql_vf) b)"
        " WHERE NOT hit").first()["n"]
    assert missing == 0


def test_sql_udf_blob_consumers_null_semantics(spark):
    """NULL in -> NULL out, like Spark builtins — and a NULL item must
    NOT alias the empty string (both encode to b'' downstream, so the
    check has to happen before encoding)."""
    from datasketches_rust_spark.agg import register_sql_udfs
    register_sql_udfs(spark)
    spark.createDataFrame(
        [("",), ("",), ("x",)], "v string").createOrReplaceTempView(
        "nulls_vf")
    row = spark.sql(
        "SELECT freq_estimate(f, CAST(NULL AS STRING)) AS fe_null, "
        "       freq_estimate(f, '') AS fe_empty, "
        "       countmin_estimate(c, CAST(NULL AS STRING)) AS ce_null, "
        "       countmin_estimate(c, '') AS ce_empty, "
        "       bloom_contains(b, CAST(NULL AS STRING)) AS bc_null, "
        "       bloom_contains(b, '') AS bc_empty, "
        "       tdigest_quantile(t, CAST(NULL AS DOUBLE)) AS tq_null "
        "FROM (SELECT freq_sketch_agg(v) AS f, "
        "             countmin_sketch_agg(v) AS c, "
        "             bloom_sketch_agg(v) AS b, "
        "             tdigest_sketch_agg(length(v)) AS t FROM nulls_vf)"
    ).first()
    assert row["fe_null"] is None and row["ce_null"] is None
    assert row["bc_null"] is None and row["tq_null"] is None
    # the empty string is a REAL item with count 2 — NULL must not see it
    assert row["fe_empty"] == 2 and row["ce_empty"] >= 2
    assert row["bc_empty"] is True
    # NULL blob (empty group never happens; fake it with a literal)
    row2 = spark.sql(
        "SELECT freq_estimate(CAST(NULL AS BINARY), 'x') AS fe, "
        "       bloom_contains(CAST(NULL AS BINARY), 'x') AS bc, "
        "       tdigest_quantile(CAST(NULL AS BINARY), 0.5) AS tq"
    ).first()
    assert row2["fe"] is None and row2["bc"] is None and row2["tq"] is None


def test_bigint_values_with_a_null_hash_as_int64(spark):
    """An Arrow batch of a bigint column that holds a NULL reaches pandas
    as float64; its values must still hash as int64, like the batches
    without a NULL, or one value gets two hashes."""
    rows = [(i % 3, i % 1000) for i in range(4000)] + [(0, None)]
    df = spark.createDataFrame(rows, "k int, v bigint").repartition(2)
    exact = df.select(F.countDistinct("v")).first()[0]
    est = agg.estimate_udf("theta", as_long=True, lg_k=16)
    got = agg.sketch_agg(df, [], "v", "theta", lg_k=16).select(
        est("sketch").alias("e")).first()["e"]
    assert got == exact == 1000
    per_key = {r["k"]: r["e"] for r in agg.sketch_agg(
        df, ["k"], "v", "theta", lg_k=16).select(
        "k", est("sketch").alias("e")).collect()}
    assert per_key == {r["k"]: r["d"] for r in df.groupBy("k").agg(
        F.countDistinct("v").alias("d")).collect()}


def _reference_blob(kind: str, lg_k: int, values) -> bytes:
    """One group's sketch built value by value from ``encode_values``
    keys, the per-group build/update/serialize the batch path replaces."""
    from datasketches_rust_spark.hashing import (encode_values,
                                                 hash_bytes_list,
                                                 murmur128_bytes_list)
    from datasketches_rust_spark.sketches.cpc import CpcSketch
    from datasketches_rust_spark.sketches.hll import (HllSketch,
                                                      coupons_from_hashes)
    from datasketches_rust_spark.sketches.theta import ThetaSketch

    keys = encode_values(values.dropna())
    if kind == "theta":
        sk = ThetaSketch(lg_k=lg_k)
        if keys:
            sk.update_hashes(hash_bytes_list(keys))
    elif kind == "hll":
        sk = HllSketch(lg_k=lg_k)
        if keys:
            sk.update_coupons(*coupons_from_hashes(
                *murmur128_bytes_list(keys), lg_k))
    else:
        sk = CpcSketch(lg_k=lg_k)
        if keys:
            sk.update_hashes(*murmur128_bytes_list(keys))
    return sk.serialize()


@pytest.mark.parametrize("kind", ["theta", "hll", "cpc"])
@pytest.mark.parametrize("values", ["int", "float", "str"])
def test_batch_partials_match_per_group_reference(kind, values):
    """The one-sort keyed partial gives, per (k1, k2) group, the blob of
    a per-group build/update/serialize — with a null in each key column
    and a group whose values are all null (an empty sketch)."""
    import numpy as np
    import pandas as pd

    rng = np.random.default_rng(3)
    n = 3000
    k1 = rng.integers(0, 12, n).astype(float)
    k1[rng.random(n) < 0.05] = np.nan
    k2 = np.array(["a", "b", None], dtype=object)[rng.integers(0, 3, n)]
    v = {"int": pd.Series(rng.integers(-10**12, 10**12, n)),
         "float": pd.Series(rng.normal(size=n)),
         "str": pd.Series([f"s{i}" * (i % 3 + 1) for i in
                           rng.integers(0, 400, n)], dtype=object)}[values]
    pdf = pd.DataFrame({"k1": k1, "k2": k2, "v": v})
    if values != "int":  # an int column with a null arrives as float
        pdf.loc[pdf["k1"] == 5, "v"] = None
        pdf.loc[rng.random(n) < 0.05, "v"] = None
    lg_k = 6  # small, so larger groups reach estimation mode

    knd = agg.sketch_kind(kind, lg_k=lg_k)
    out = agg._batch_partials(knd, pdf[["k1", "k2"]], pdf["v"],
                              pdf["v"].notna().to_numpy())

    def norm(key):
        return tuple(None if pd.isna(x) else x for x in key)

    want = {norm(key): _reference_blob(kind, lg_k, sub["v"]) for key, sub
            in pdf.groupby(["k1", "k2"], dropna=False, sort=False)}
    got = {norm(key): bytes(blob) for *key, blob in
           out.itertuples(index=False)}
    assert got == want
    assert (None, None) in got
    if values != "int":
        empty = _reference_blob(kind, lg_k, pd.Series([], dtype=float))
        assert all(got[key] == empty for key in got if key[0] == 5)


def test_theta_merge_is_one_union_equal_to_the_pairwise_fold():
    """``merge`` of many theta partials (some in estimation mode) gives
    the bytes of folding ``union`` pairwise."""
    import functools

    import numpy as np
    import pandas as pd

    rng = np.random.default_rng(9)
    knd = agg.sketch_kind("theta", lg_k=7)
    sketches = []
    for size in (40, 3000, 5, 700, 0, 90, 128):
        sk = knd.build()
        knd.update(sk, pd.Series(rng.integers(0, 10**9, size)))
        sketches.append(knd.deserialize(sk.serialize()))
    fold = functools.reduce(lambda a, b: a.union(b), sketches)
    assert knd.merge(sketches).serialize() == fold.serialize()
    assert knd.merge(sketches[:1]) is sketches[0]
