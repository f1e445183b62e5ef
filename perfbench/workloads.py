"""The benchmark's workloads.

Each workload builds its inputs from the seed (``setup``), runs the
program on them as a user would (``run``), checks the output against
planted or exact truth (``check``), runs the same program again with a
span around each layer call (``traced``), and times the Spark-free
kernels on the same inputs (``layers``). README.md says why each one
exists and which layer metric should move which end-to-end metric.
"""

from __future__ import annotations

import statistics
import time
from dataclasses import dataclass

from pyspark.sql import functions as F

from datasketches_rust_spark.config import DedupConfig

# the north-star floor on pair recall
RECALL_FLOOR = 0.99
# sketch-perkey: relative error gate, in relative standard errors
ERR_SIGMAS = 4.0


@dataclass
class Inputs:
    df: object                      # the DataFrame the program receives
    rows: int                       # input rows, for rows_per_s
    truth: object                   # planted or exact truth
    hot: tuple = ()                 # ids of the planted hot cluster
    hot_source: str = ""            # the generator row they copy


def _noop(df) -> None:
    """Evaluate every column of ``df`` and discard the rows."""
    df.write.format("noop").mode("overwrite").save()


def kernel_rate(fn, items: int, budget_s: float = 0.5) -> float:
    """Items per second of ``fn()`` on warm buffers: one untimed call,
    then the median of repeated calls (at least three)."""
    fn()
    times = []
    deadline = time.perf_counter() + budget_s
    while len(times) < 3 or time.perf_counter() < deadline:
        t0 = time.perf_counter()
        fn()
        times.append(time.perf_counter() - t0)
    return items / statistics.median(times)


def check_clusters(out: dict, inp: Inputs) -> tuple[bool, dict]:
    """A dedup output passes when every input row has a cluster, pair
    recall against the generator's planted truth meets the floor, and
    every hot-cluster row shares the cluster of the row it copies.

    Recall is computed on the generator's rows alone: the hot cluster's
    millions of pairs would otherwise hide every missed planted
    duplicate, so it is gated on its own (``hot_joined``, the share of
    hot rows in their source row's cluster, must be 1)."""
    from datasketches_rust_spark.oracle import assignment_pair_recall

    if len(out) != inp.rows:
        return False, {"rows_out": len(out)}
    fixture = {k: out[k] for k in inp.truth}
    q = {"pair_recall": assignment_pair_recall(fixture, inp.truth),
         "pair_precision": assignment_pair_recall(inp.truth, fixture)}
    ok = q["pair_recall"] >= RECALL_FLOOR
    if inp.hot:
        root = out[inp.hot_source]
        q["hot_joined"] = sum(out[h] == root for h in inp.hot) / len(inp.hot)
        ok = ok and q["hot_joined"] == 1.0
    return ok, q


# ---------------------------------------------------------------------------
# image-caption
# ---------------------------------------------------------------------------

class ImageCaption:
    name = "image-caption"
    prefix = "image"
    spans = ["image.sketch_scan", "image.caption_lsh",
             "image.caption_verify", "image.visual_lsh", "image.cc",
             "image.idmap"]

    def __init__(self, base_rows: int, hot_rows: int):
        self.base_rows = base_rows
        self.hot_rows = hot_rows
        self.cfg = DedupConfig()

    def setup(self, spark, seed: int, parts: int) -> Inputs:
        """sources.images fixture (30 % planted dups) and its truth,
        plus one hot cluster: ``hot_rows`` exact copies of row 0, which
        must all land in row 0's cluster."""
        from datasketches_rust_spark.sources.images import (
            images_spark_df, make_vocab, materialize_rows, plan_clusters)

        imgs, truth = images_spark_df(spark, self.base_rows, seed=seed,
                                      partitions=parts)
        plan = plan_clusters(self.base_rows, seed, 0.30)
        src = materialize_rows([0], plan, seed, 32, make_vocab(seed))
        src = src.iloc[0]
        hot = spark.range(0, self.hot_rows, numPartitions=parts).select(
            F.format_string("hot_%08d", "id").alias("image_id"),
            *[F.lit(src[f.name].item() if hasattr(src[f.name], "item")
                    else src[f.name]).cast(f.dataType).alias(f.name)
              for f in imgs.schema.fields[1:]])
        df = imgs.unionByName(hot).localCheckpoint()
        return Inputs(df, self.base_rows + self.hot_rows,
                      dict(truth.collect()),
                      tuple(f"hot_{i:08d}" for i in range(self.hot_rows)),
                      src["image_id"])

    def run(self, spark, inp: Inputs) -> dict:
        from datasketches_rust_spark.pipeline_images import \
            image_cluster_assignments

        return dict(image_cluster_assignments(inp.df, self.cfg).collect())

    check = staticmethod(check_clusters)

    def traced(self, spark, inp: Inputs, tr) -> tuple[dict, dict]:
        """The body of image_cluster_assignments, one span per layer
        call; each span materializes its output so the next span's jobs
        start from it (the cost shows as trace.overhead_s)."""
        from datasketches_rust_spark.operators.connected_components \
            import assign_clusters_string_ids
        from datasketches_rust_spark.operators.lsh import candidate_pairs
        from datasketches_rust_spark.operators.visual import simhash_pairs
        from datasketches_rust_spark.pipeline import dedup_pairs
        from datasketches_rust_spark.pipeline_images import \
            image_sketch_table

        cfg = self.cfg
        limgs = inp.df.withColumn("__lid", F.xxhash64("image_id"))
        with tr.span("image.sketch_scan"):
            sk = image_sketch_table(limgs, cfg, "__lid")
        sigs = sk.select("__lid", "bands")
        with tr.span("image.caption_lsh"):
            # persisted under the same plan dedup_pairs builds, so the
            # verify span reads these candidates instead of redoing LSH
            cands = candidate_pairs(sigs, cfg, "__lid").persist()
            n_cands = cands.count()
        with tr.span("image.caption_verify"):
            cap = (dedup_pairs(limgs, cfg, "__lid", "caption", sigs=sigs)
                   .select("id_a", "id_b").persist())
            n_cap = cap.count()
        with tr.span("image.visual_lsh"):
            vis = (simhash_pairs(sk.select("__lid", "phash"), "__lid",
                                 "phash", max_hamming=cfg.simhash_hamming)
                   .select("id_a", "id_b").persist())
            n_vis = vis.count()
        edges = cap.unionByName(vis)
        with tr.span("image.cc"):
            clusters = assign_clusters_string_ids(
                inp.df, lambda _lids: edges, "image_id")
        with tr.span("image.idmap"):
            out = dict(clusters.collect())
        for d in (cands, cap, vis):
            d.unpersist()
        counts = {"lsh.candidate_pairs": n_cands,
                  "verify.pairs_in": n_cands, "verify.pairs_out": n_cap,
                  "verify.yield": n_cap / n_cands if n_cands else 0.0,
                  "visual.pairs_out": n_vis,
                  "cc.edges_in": n_cap + n_vis}
        return out, counts

    def layers(self, spark, inp: Inputs, tr) -> tuple[dict, dict]:
        """Kernel rates on the generated captions and image bytes, the
        LSH bucket counts, and the UDF layer on its own: (values, udf)
        where udf holds the UDF-only spans and the kernel busy time
        their rows need."""
        from datasketches_rust_spark.functions.text import (
            minhash_struct_udf, shingle_hashes_batch)
        from datasketches_rust_spark.operators.lsh import (explode_bands,
                                                           hot_bucket_stats)
        from datasketches_rust_spark.pipeline_images import (
            image_sketch_table, phash_from_bytes_udf)
        from datasketches_rust_spark.sketches import minhash as mh
        from datasketches_rust_spark.sources.codec import decode_image
        from datasketches_rust_spark.sources.phash import phash_batch

        cfg = self.cfg
        with tr.span("trace.inputs"):
            pdf = inp.df.select("caption", "bytes", "fmt").toPandas()
        n = len(pdf)
        texts = pdf["caption"].str.lower()
        bufs = [bytes(b) for b in pdf["bytes"]]
        fmts = list(pdf["fmt"])

        def shingle():
            return shingle_hashes_batch(texts, cfg.shingle_k, cfg.seed)

        flat, offsets = shingle()

        def minhash():
            sigs = mh.signatures(flat, offsets, cfg.num_perm, cfg.seed)
            return mh.band_hashes(sigs, cfg.lsh_bands, cfg.lsh_rows,
                                  cfg.seed)

        def phash():
            return phash_batch([decode_image(b, f)
                                for b, f in zip(bufs, fmts)])

        out = {"kernels.shingle.rows_per_s": kernel_rate(shingle, n),
               "kernels.minhash.rows_per_s": kernel_rate(minhash, n),
               "kernels.phash.rows_per_s": kernel_rate(phash, n)}
        # the band rows candidate generation explodes, and the buckets it
        # degrades to stars, as operators.lsh counts them on the scan
        with tr.span("lsh.stats"):
            sk = image_sketch_table(
                inp.df.withColumn("__lid", F.xxhash64("image_id")), cfg,
                "__lid")
            sigs = sk.select("__lid", "bands")
            out["lsh.band_rows"] = explode_bands(sigs, "__lid",
                                                 "bands").count()
            out["lsh.capped_buckets"] = hot_bucket_stats(
                sigs, cfg, "__lid").first()["capped_buckets"]
            sk.unpersist()

        mh_udf = minhash_struct_udf(cfg)
        ph_udf = phash_from_bytes_udf()
        with tr.span("udf.minhash") as s_mh:
            _noop(inp.df.select(mh_udf(F.lower("caption")).alias("m")))
        with tr.span("udf.phash") as s_ph:
            _noop(inp.df.select(ph_udf("bytes", "fmt").alias("p")))
        udf = {"rows": n,
               "kernel_busy_s": (n / out["kernels.shingle.rows_per_s"]
                                 + n / out["kernels.minhash.rows_per_s"]
                                 + n / out["kernels.phash.rows_per_s"]),
               "spans": {"udf.minhash.rows_per_s": s_mh,
                         "udf.phash.rows_per_s": s_ph}}
        return out, udf


# ---------------------------------------------------------------------------
# audio-frames
# ---------------------------------------------------------------------------

class AudioFrames:
    name = "audio-frames"
    prefix = "audio"
    spans = ["audio.frame_sketch", "audio.frame_edges", "audio.cc",
             "audio.idmap"]

    def __init__(self, clips: int):
        self.clips = clips

    def setup(self, spark, seed: int, parts: int) -> Inputs:
        from datasketches_rust_spark.sources.audio import \
            audio_frames_spark_df

        clips, truth = audio_frames_spark_df(spark, self.clips, seed=seed,
                                             partitions=parts)
        return Inputs(clips.localCheckpoint(), self.clips,
                      dict(truth.collect()))

    def run(self, spark, inp: Inputs) -> dict:
        from datasketches_rust_spark.pipeline_audio import \
            audio_frame_cluster_assignments

        return dict(audio_frame_cluster_assignments(inp.df).collect())

    check = staticmethod(check_clusters)

    def traced(self, spark, inp: Inputs, tr) -> tuple[dict, dict]:
        """The body of audio_frame_cluster_assignments. audio_frame_edges
        materializes the frame-sketch table eagerly and returns the vote
        joins lazily, so its call is the frame-sketch span and the
        edges' materialization the frame-edges span."""
        from datasketches_rust_spark.operators.connected_components \
            import assign_clusters_string_ids
        from datasketches_rust_spark.pipeline_audio import \
            audio_frame_edges

        lclips = inp.df.withColumn("__lid", F.xxhash64("clip_id"))
        with tr.span("audio.frame_sketch"):
            edges = audio_frame_edges(lclips.select("__lid", "bytes"),
                                      "__lid")
        with tr.span("audio.frame_edges"):
            edges = edges.persist()
            n_edges = edges.count()
        with tr.span("audio.cc"):
            clusters = assign_clusters_string_ids(
                inp.df, lambda _lids: edges, "clip_id")
        with tr.span("audio.idmap"):
            out = dict(clusters.collect())
        edges.unpersist()
        return out, {"cc.edges_in": n_edges}

    def layers(self, spark, inp: Inputs, tr) -> tuple[dict, dict]:
        from datasketches_rust_spark.multimodal import decode_wav
        from datasketches_rust_spark.pipeline_audio import \
            audio_frame_sketches
        from datasketches_rust_spark.sketches.audiofp import \
            audio_frame_codes

        with tr.span("trace.inputs"):
            bufs = [bytes(b) for b in
                    inp.df.select("bytes").toPandas()["bytes"]]
        n = len(bufs)

        def codes():
            for b in bufs:
                audio_frame_codes(*decode_wav(b))

        out = {"kernels.audio_frame_codes.clips_per_s":
               kernel_rate(codes, n)}
        with tr.span("udf.audio_frames") as s_af:
            _noop(audio_frame_sketches(inp.df))
        udf = {"rows": n,
               "kernel_busy_s":
                   n / out["kernels.audio_frame_codes.clips_per_s"],
               "spans": {"udf.audio_frames.clips_per_s": s_af}}
        return out, udf


# ---------------------------------------------------------------------------
# sketch-global and sketch-perkey
# ---------------------------------------------------------------------------

# the sketch-global families and their lg_k; sketch-perkey uses theta
SKETCHES = (("hll", 12), ("theta", 12), ("cpc", 11))
THETA_LG_K = 12


def stated_bound(lg_k: int) -> float:
    """Relative error gate: ERR_SIGMAS relative standard errors, with
    the HLL RSE 1.04/sqrt(k) (looser than theta's 1/sqrt(k))."""
    return ERR_SIGMAS * 1.04 / (1 << lg_k) ** 0.5


def key_values(spark, seed: int, parts: int, rows: int, keys: int):
    """(key, value) rows: keys uniform over ``keys``, values uniform
    over 4 x rows (about 88 % distinct), both from seeded xxhash64."""
    return spark.range(0, rows, numPartitions=parts).select(
        F.pmod(F.xxhash64("id", F.lit(seed)), F.lit(keys)).alias("key"),
        F.pmod(F.xxhash64("id", F.lit(seed + 1)),
               F.lit(4 * rows)).alias("value")).localCheckpoint()


def rel_errs(out: dict, truth: dict) -> dict:
    """Relative error of each estimate against the exact count."""
    if set(out) != set(truth):
        raise ValueError(f"estimates for {sorted(out)}, "
                         f"exact counts for {sorted(truth)}")
    return {k: abs(out[k] - n) / n for k, n in truth.items()}


def update_rates(spark, inp: Inputs, tr):
    """Update rates of the three families over Arrow-batch-sized slices
    of the values; returns (rates, the input rows as pandas, the Arrow
    batch size)."""
    from datasketches_rust_spark.agg import sketch_kind

    with tr.span("trace.inputs"):
        pdf = inp.df.select("key", "value").toPandas()
    vals = pdf["value"]
    # the Arrow batch the UDF layer hands the kernels
    step = int(spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch"))
    batches = [vals.iloc[i:i + step] for i in range(0, len(vals), step)]
    out = {}
    for kind, lg in SKETCHES:
        knd = sketch_kind(kind, lg_k=lg)

        def update(knd=knd):
            sk = knd.build()
            for b in batches:
                knd.update(sk, b)

        out[f"kernels.{kind}.update_rows_per_s"] = kernel_rate(update,
                                                               len(vals))
    return out, pdf, step


class SketchGlobal:
    name = "sketch-global"
    prefix = "agg"
    # the merge of the few partials runs inside sketch_agg's call, so it
    # is part of the agg.partial span here
    spans = ["agg.partial", "agg.estimate"]
    groups = len(SKETCHES)           # one sketch per family

    def __init__(self, rows: int, keys: int):
        self.rows = rows
        self.keys = keys

    def setup(self, spark, seed: int, parts: int) -> Inputs:
        """The sketch-perkey rows; truth is the exact distinct count."""
        df = key_values(spark, seed, parts, self.rows, self.keys)
        n = df.agg(F.count_distinct("value")).first()[0]
        return Inputs(df, self.rows, {kind: n for kind, _ in SKETCHES})

    def _sketches(self, inp: Inputs) -> dict:
        from datasketches_rust_spark.agg import sketch_agg

        return {kind: sketch_agg(inp.df, [], "value", kind, lg_k=lg)
                for kind, lg in SKETCHES}

    def _estimate(self, sketches: dict) -> dict:
        from datasketches_rust_spark.agg import estimate_udf

        lgs = dict(SKETCHES)
        return {kind: sk.select(estimate_udf(kind, lg_k=lgs[kind])(
                    "sketch")).collect()[0][0]
                for kind, sk in sketches.items()}

    def run(self, spark, inp: Inputs) -> dict:
        return self._estimate(self._sketches(inp))

    def check(self, out: dict, inp: Inputs) -> tuple[bool, dict]:
        errs = rel_errs(out, inp.truth)
        return (all(errs[kind] <= stated_bound(lg) for kind, lg in SKETCHES),
                {"est_rel_err": max(errs.values())})

    def traced(self, spark, inp: Inputs, tr) -> tuple[dict, dict]:
        with tr.span("agg.partial"):
            sketches = {k: sk.persist() for k, sk in
                        self._sketches(inp).items()}
            for sk in sketches.values():
                _noop(sk)
        with tr.span("agg.estimate"):
            out = self._estimate(sketches)
        for sk in sketches.values():
            sk.unpersist()
        return out, {}

    def layers(self, spark, inp: Inputs, tr) -> tuple[dict, None]:
        return update_rates(spark, inp, tr)[0], None


class SketchPerKey:
    name = "sketch-perkey"
    prefix = "agg"
    spans = ["agg.partial", "agg.merge", "agg.estimate"]

    def __init__(self, rows: int, keys: int, parents: int):
        self.rows = rows
        self.keys = self.groups = keys
        self.parents = parents

    def setup(self, spark, seed: int, parts: int) -> Inputs:
        """Truth is the exact distinct count per parent key."""
        df = key_values(spark, seed, parts, self.rows, self.keys)
        exact = dict(df.groupBy((F.col("key") % self.parents)
                                .alias("parent"))
                     .agg(F.count_distinct("value")).collect())
        return Inputs(df, self.rows, exact)

    def _partials(self, inp: Inputs):
        from datasketches_rust_spark.agg import sketch_agg

        return sketch_agg(inp.df, ["key"], "value", "theta",
                          lg_k=THETA_LG_K)

    def _rollup(self, per_key):
        from datasketches_rust_spark.agg import merge_sketch_col

        return merge_sketch_col(
            per_key.select((F.col("key") % self.parents).alias("parent"),
                           "sketch"), ["parent"], "theta", lg_k=THETA_LG_K)

    def _estimate(self, parents) -> dict:
        from datasketches_rust_spark.agg import estimate_udf

        est = estimate_udf("theta", lg_k=THETA_LG_K)
        return dict(parents.select("parent", est("sketch")).collect())

    def run(self, spark, inp: Inputs) -> dict:
        return self._estimate(self._rollup(self._partials(inp)))

    def check(self, out: dict, inp: Inputs) -> tuple[bool, dict]:
        err = max(rel_errs(out, inp.truth).values())
        return err <= stated_bound(THETA_LG_K), {"est_rel_err": err}

    def traced(self, spark, inp: Inputs, tr) -> tuple[dict, dict]:
        with tr.span("agg.partial"):
            per_key = self._partials(inp).persist()
            _noop(per_key)
        with tr.span("agg.merge"):
            parents = self._rollup(per_key).persist()
            _noop(parents)
        with tr.span("agg.estimate"):
            out = self._estimate(parents)
        per_key.unpersist()
        parents.unpersist()
        return out, {}

    def layers(self, spark, inp: Inputs, tr) -> tuple[dict, None]:
        """The update rates, and the per-partial cost of the per-key
        shape: build + update + serialize one theta sketch per (batch,
        key) group, and fold those partials with deserialize + union."""
        from datasketches_rust_spark.agg import sketch_kind

        out, pdf, step = update_rates(spark, inp, tr)
        theta = sketch_kind("theta", lg_k=THETA_LG_K)
        groups = [g["value"] for _, g in
                  pdf.iloc[:step].groupby("key", sort=False)]

        def build_serialize():
            blobs = []
            for g in groups:
                sk = theta.build()
                theta.update(sk, g)
                blobs.append(sk.serialize())
            return blobs

        blobs = build_serialize()

        def merge():
            acc = theta.deserialize(blobs[0])
            for b in blobs[1:]:
                acc = acc.union(theta.deserialize(b))

        out["kernels.theta.build_serialize_us"] = \
            1e6 / kernel_rate(build_serialize, len(groups))
        out["kernels.theta.merge_us"] = 1e6 / kernel_rate(merge, len(blobs))
        return out, None


def workloads(smoke: bool = False) -> dict:
    """name -> workload. ``smoke`` gives tiny sizes that exercise every
    code path in seconds (the hot cluster then exceeds only the caption
    bucket cap)."""
    if smoke:
        ws = [ImageCaption(300, 600), AudioFrames(300),
              SketchGlobal(20000, 50), SketchPerKey(20000, 50, 5)]
    else:
        ws = [ImageCaption(2000, 4200), AudioFrames(1000),
              SketchGlobal(200000, 200), SketchPerKey(600000, 200, 10)]
    return {w.name: w for w in ws}
