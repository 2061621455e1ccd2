"""The benchmark's workloads: seeded inputs, the calls of one pass in
fixed order, and the output checks. geo_join and curate are timed;
ingest is run, traced, inside geo_join's traced run (see NOTES.md).

Every input is a pure function of the seed. Subsets and caption
groups come from a hash of (image_id, seed), never from .sample() or
an unordered .limit(), so any slot count builds the same rows.

A call returns a small tuple: the order-independent digest of its
output (row count, xor and low-bit sum of per-row hashes) plus the
invariants its check needs, all computed in the one aggregate that
forces the result.
"""

from __future__ import annotations

import math
import os
import shutil

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F

# africa.wkt spans roughly lng [-18, 52], lat [-35, 38]: synthetic
# geotags are remapped into that window so every join has real work
LNG_SCALE, LNG_OFF, LAT_SCALE, LAT_OFF = 75.0 / 360.0, 17.0, 80.0 / 180.0, 1.5

SLOTS = 4
GEO_POINTS = 6000
CURATE_IMAGES = 1500       # base images; near and exact copies are added
INGEST_ARRIVALS = 600      # base images of arrivals and kept corpus together
CODEC_ROWS_PER_FMT = 12
CODEC_FMTS = ("raw", "png", "jpeg", "jpeg_prog", "bmp", "gif", "tiff", "webp", "tiff_g4")


class CheckFailed(Exception):
    """An output check failed; the pass counts it in `failed`."""


def expect(ok: bool, what: str):
    if not ok:
        raise CheckFailed(what)


def remap(df: DataFrame) -> DataFrame:
    return df.withColumn("lng", F.col("lng") * LNG_SCALE + LNG_OFF).withColumn(
        "lat", F.col("lat") * LAT_SCALE + LAT_OFF)


def remap_np(lat, lng):
    return lat * LAT_SCALE + LAT_OFF, lng * LNG_SCALE + LNG_OFF


def hash_pick(col: str, seed: int, modulus: int):
    """Deterministic bucket of a row from (col, seed)."""
    return F.pmod(F.xxhash64(F.col(col), F.lit(seed)), F.lit(modulus))


def digest(df: DataFrame, *extra) -> tuple:
    """(rows, xor, low-24-bit sum) of per-row hashes, plus any extra
    aggregate columns, in one job."""
    h = F.xxhash64(*[F.col(c) for c in df.columns])
    row = df.agg(
        F.count(F.lit(1)), F.bit_xor(h),
        F.sum(h.bitwiseAND(F.lit(0xFFFFFF))), *extra,
    ).first()
    return tuple(0 if v is None else v for v in row)


def with_copies(df: DataFrame, seed: int, frac_mod: int = 5) -> DataFrame:
    """Append a near copy (phash one bit off, bytes changed) of one row
    in `frac_mod` and an exact copy (same bytes and phash) of another,
    each tagged with its root id so captions and embeddings follow it.
    Gives the dedup cascades real clusters to collapse."""
    base = df.withColumn("root_id", F.col("image_id"))
    pick = hash_pick("image_id", seed, frac_mod)
    near = (
        base.filter(pick == 0)
        .withColumn("image_id", F.concat(F.lit("n"), F.col("image_id")))
        .withColumn("phash", F.col("phash").bitwiseXOR(F.expr(
            f"shiftleft(cast(1 as bigint), cast(pmod(xxhash64(root_id, {int(seed) + 1}), 60) as int))")))
        .withColumn("bytes", F.concat(F.col("bytes"), F.unhex(F.lit("01"))))
    )
    exact = base.filter(pick == 1).withColumn(
        "image_id", F.concat(F.lit("x"), F.col("image_id")))
    return base.unionByName(near).unionByName(exact)


def load_layer(root: str):
    from segment_rtree_spark.layer import PolygonLayer

    return PolygonLayer.from_wkt_file(os.path.join(root, "data", "wkt", "africa.wkt"))


# -- codec corpus ------------------------------------------------------

def codec_pixels(i: int, seed: int, fmt: str) -> np.ndarray:
    """Smooth, row-unique content that every codec round-trips cleanly."""
    h, w = 8 + i % 24, 8 + (i * 7) % 24
    a, b, c = (seed * 2654435761 + i * 40503) % 251, (i * 97) % 13 + 1, (seed + i) % 7 + 1
    yy, xx = np.mgrid[0:h, 0:w]
    px = np.stack([(yy * c + a) % 256, (xx * b + a) % 256, (yy + xx + a) % 256],
                  axis=-1).astype(np.uint8)
    if fmt == "gif":  # palette codec: <= 64 colours
        px = (px >> 6) << 6
    elif fmt == "tiff_g4":  # fax codec: bilevel
        px = np.repeat(((px[:, :, :1] >= 128) * 255).astype(np.uint8), 3, axis=2)
    return px


def encode(fmt: str, px: np.ndarray) -> bytes:
    from segment_rtree_spark.ccitt import encode_tiff_g4
    from segment_rtree_spark import imageio
    from segment_rtree_spark.jpegio import encode_jpeg

    if fmt == "jpeg":
        return encode_jpeg(px, 90)
    if fmt == "jpeg_prog":
        return encode_jpeg(px, 90, progressive=True)
    if fmt == "tiff_g4":
        return encode_tiff_g4(px)
    return getattr(imageio, f"encode_{fmt}")(px)


def table_fmt(fmt: str) -> str:
    """jpeg_prog and tiff_g4 are fmt 'jpeg' / 'tiff' in the table."""
    return {"jpeg_prog": "jpeg", "tiff_g4": "tiff"}.get(fmt, fmt)


def codec_rows(spark, seed: int, per_fmt: int) -> DataFrame:
    def kernel(batches):
        for pdf in batches:
            out = {k: [] for k in ("image_id", "bytes", "w", "h", "fmt")}
            for i in pdf["id"]:
                i = int(i)
                fmt = CODEC_FMTS[i % len(CODEC_FMTS)]
                px = codec_pixels(i, seed, fmt)
                out["image_id"].append(f"cx{i:06d}")
                out["bytes"].append(encode(fmt, px))
                out["h"].append(px.shape[0])
                out["w"].append(px.shape[1])
                out["fmt"].append(table_fmt(fmt))
            yield pd.DataFrame(out)

    return spark.range(0, per_fmt * len(CODEC_FMTS), 1, 4).mapInPandas(
        kernel, "image_id string, bytes binary, w int, h int, fmt string")


# -- workloads ---------------------------------------------------------

class Workload:
    """One seeded input set and the calls of one pass."""

    name = ""
    calls: tuple = ()

    def __init__(self, spark, seed: int, work: str):
        # any integer seed; the synthesis RNG wants a non-negative one
        self.spark, self.seed, self.work = spark, seed & 0x7FFFFFFF, work
        self.cached: list[DataFrame] = []
        self.reference: dict = {}

    def keep(self, df: DataFrame) -> DataFrame:
        df = df.cache()
        df.count()
        self.cached.append(df)
        return df

    def drop_inputs(self):
        for df in self.cached:
            df.unpersist(blocking=True)
        self.cached = []

    def build(self, layer) -> int:
        """Build and cache the inputs; return input images per pass."""
        raise NotImplementedError

    def run_call(self, call: str, pass_id: str) -> tuple:
        return getattr(self, f"c_{call}")(pass_id)

    def check(self, call: str, result: tuple):
        """Per-pass check; the first pass's digest is the reference
        every later pass must repeat."""
        ref = self.reference.setdefault(call, result)
        expect(result == ref, f"{call}: digest {result} != first pass {ref}")

    def after_pass(self, pass_id: str, traced: bool) -> dict:
        return {}

    def final_checks(self):
        """Checks too heavy for every pass, run after the window."""


class GeoJoin(Workload):
    name = "geo_join"
    calls = ("tile_pyramid", "pip_broadcast", "pip_partitioned", "knn_boundary",
             "raster_vector")
    levels = range(4, 11)

    def build(self, layer) -> int:
        from segment_rtree_spark.synth import images_df_fast

        self.layer = layer
        self.points = self.keep(remap(images_df_fast(
            self.spark, GEO_POINTS, seed=self.seed, skew_frac=0.1)))
        self.knn_points = self.points.filter(hash_pick("image_id", self.seed, 5) == 0)
        return GEO_POINTS

    def c_tile_pyramid(self, _):
        from segment_rtree_spark.operators.tile_ops import tile_pyramid

        df = tile_pyramid(self.points, base_res=10, min_res=4)
        return digest(df, *[F.sum(F.when(F.col("res") == r, F.col("n"))) for r in self.levels])

    def c_pip_broadcast(self, _):
        from segment_rtree_spark.operators.pip_join import pip_join_broadcast

        return digest(pip_join_broadcast(self.points, self.layer, keep=["image_id"]))

    def c_pip_partitioned(self, _):
        from segment_rtree_spark.operators.pip_join import pip_join_partitioned

        # the hot cell holds ~10% of the points: this threshold salts
        # it. One cogroup partition per slot, not the default 32: see
        # NOTES.md (run budget)
        return digest(pip_join_partitioned(
            self.points, self.layer, keep=["image_id"], res=6,
            salt_threshold=GEO_POINTS // 40, n_salt=8, num_partitions=SLOTS))

    def c_knn_boundary(self, _):
        from segment_rtree_spark.operators.knn_join import knn_join_broadcast

        return digest(knn_join_broadcast(self.knn_points, self.layer, k=2, keep=["image_id"]))

    def c_raster_vector(self, _):
        from segment_rtree_spark.operators.clip_tiles import raster_vector_agg

        df = raster_vector_agg(self.spark, self.points, self.layer, res=4)
        return digest(df, F.sum("n_images"))

    def check(self, call, result):
        if call == "tile_pyramid":
            sums = result[3:]
            expect(all(s == GEO_POINTS for s in sums),
                   f"tile_pyramid level sums {sums} != {GEO_POINTS}")
        elif call == "pip_partitioned" and "pip_broadcast" in self.reference:
            expect(result == self.reference["pip_broadcast"],
                   "pip_partitioned rows differ from pip_broadcast")
        elif call == "raster_vector":
            expect(result[3] == GEO_POINTS, f"raster_vector n_images {result[3]}")
        super().check(call, result)


class Curate(Workload):
    name = "curate"
    calls = ("curate",)

    def build(self, layer) -> int:
        from segment_rtree_spark.synth import images_df_fast

        self.layer = layer
        n_caps = CURATE_IMAGES // 10  # ~10 images per caption
        corpus = with_copies(remap(images_df_fast(self.spark, CURATE_IMAGES, seed=self.seed)),
                             self.seed)
        corpus = corpus.withColumn(
            "caption", F.concat(F.lit("cap "), hash_pick("root_id", self.seed, n_caps)),
        ).withColumn(
            "embedding", F.expr(
                "transform(sequence(0, 15), d -> cast(pmod(xxhash64(root_id, d, "
                f"{int(self.seed)}), 1000) as double) / 500.0 - 1.0)"),
        ).drop("root_id")
        self.corpus = self.keep(corpus)
        self.n_images = self.corpus.count()
        return self.n_images

    def c_curate(self, _):
        from segment_rtree_spark.pipelines import curate_multimodal

        df = curate_multimodal(self.corpus, self.layer, max_hamming=8, n_bands=4,
                               embedding="embedding", embed_threshold=0.95)
        return digest(df, F.sum("cluster_size"))

    def check(self, call, result):
        rows, folded = result[0], result[3]
        expect(0 < rows < folded, f"curate kept {rows} of {folded}: nothing collapsed")
        super().check(call, result)

    def final_checks(self):
        from segment_rtree_spark.operators.pip_join import pip_count_broadcast

        inside = pip_count_broadcast(self.corpus, self.layer, keep=["image_id"]).count()
        folded = self.reference["curate"][3]
        expect(folded == inside,
               f"curate clusters fold {folded} images, {inside} lie in the layer")

    # the cascade's stages, each as its own public call (traced run)
    def stage_calls(self):
        from segment_rtree_spark.operators.dedup import crossmodal_group_labels, label_map
        from segment_rtree_spark.operators.embed import embedding_neardup_pairs
        from segment_rtree_spark.operators.pip_join import pip_count_broadcast

        vecs = self.corpus.select("image_id", "embedding")
        edges = embedding_neardup_pairs(vecs, threshold=0.95, id_col="image_id").select(
            F.col("id_a").alias("src"), F.col("id_b").alias("dst")).cache()
        edges.count()
        self.cached.append(edges)

        def lm():
            mapping, _ = label_map(edges)
            return 0 if mapping is None else mapping.count()

        return {
            "region": lambda: pip_count_broadcast(
                self.corpus, self.layer, keep=["image_id"]).count(),
            "crossmodal": lambda: crossmodal_group_labels(
                self.corpus.select("image_id", "caption", "phash"),
                max_hamming=8, n_bands=4).count(),
            "embed": lambda: embedding_neardup_pairs(
                vecs, threshold=0.95, id_col="image_id").count(),
            "label_map": lm,
        }


class Ingest(Workload):
    name = "ingest"
    calls = ("validate", "ckpt_partial", "ckpt_resume")
    res = 4

    def build(self, layer) -> int:
        from segment_rtree_spark.operators.tile_ops import assign_tiles
        from segment_rtree_spark.synth import images_df_fast

        self.layer = layer
        both = with_copies(remap(images_df_fast(self.spark, INGEST_ARRIVALS,
                                                seed=self.seed)), self.seed)
        side = hash_pick("root_id", self.seed + 2, 2)
        # arrivals: one half plus their exact and near copies (internal
        # dups); kept: the other half plus copies of arrivals' roots
        # drawn by a second hash (arrivals that near-dup the corpus)
        self.arrivals = self.keep(both.filter(side == 0).drop("root_id"))
        cross = both.filter((side == 0) & (hash_pick("image_id", self.seed + 3, 4) == 0))
        self.kept = self.keep(
            both.filter(side == 1).unionByName(
                cross.withColumn("image_id", F.concat(F.lit("k"), F.col("image_id"))))
            .drop("root_id").select("image_id", "phash"))
        codecs = codec_rows(self.spark, self.seed, CODEC_ROWS_PER_FMT)
        # arrivals keep their raw payloads; the near copies carry one
        # extra byte, so only the exact rows enter the validator
        clean = self.arrivals.filter(F.length("bytes") == F.col("w") * F.col("h") * 3)
        self.to_validate = self.keep(
            clean.select("image_id", "bytes", "w", "h", "fmt").unionByName(codecs))
        self.n_validate = self.to_validate.count()
        self.n_arrivals = self.arrivals.count()
        self.n_keys = assign_tiles(self.arrivals, self.res).select("cell").distinct().count()
        self.keys_per_batch = math.ceil(self.n_keys / 2)  # two key batches
        return self.n_validate + self.n_arrivals

    def root_of(self, pass_id):
        return os.path.join(self.work, "ckpt", pass_id)

    def ckpt(self, pass_id, max_batches=None):
        from segment_rtree_spark.pipelines import curate_images_against_checkpointed

        return curate_images_against_checkpointed(
            self.arrivals, self.kept, self.layer, root=self.root_of(pass_id),
            job_id="ingest", res=self.res, keys_per_batch=self.keys_per_batch,
            max_batches=max_batches)

    def c_validate(self, _):
        from segment_rtree_spark.operators.images import validate_images

        df = validate_images(self.to_validate)
        return digest(df, F.sum(F.col("ok").cast("long")))

    def c_ckpt_partial(self, pass_id):
        expect(not os.path.exists(self.root_of(pass_id)),
               f"checkpoint root of pass {pass_id} already exists")
        done, out = self.ckpt(pass_id, max_batches=1)
        return (done, out is None)

    def c_ckpt_resume(self, pass_id):
        done, out = self.ckpt(pass_id)
        expect(out is not None, "resumed checkpoint did not complete")
        return (done, *digest(out))

    def check(self, call, result):
        if call == "validate":
            expect(result[0] == self.n_validate and result[3] == self.n_validate,
                   f"validate: {result[3]} of {result[0]} rows ok, {self.n_validate} clean")
        elif call == "ckpt_partial":
            expect(result[1] and 0 < result[0] < self.n_keys,
                   f"partial checkpoint ran {result[0]} of {self.n_keys} keys")
        elif call == "ckpt_resume":
            expect(result[0] + self.reference["ckpt_partial"][0] == self.n_keys,
                   f"resume ran {result[0]} keys after the partial run")
        super().check(call, result)

    def after_pass(self, pass_id, traced):
        root = self.root_of(pass_id)
        stats = checkpoint_stats(root) if traced else {}
        shutil.rmtree(root, ignore_errors=True)
        return stats

    def final_checks(self):
        from segment_rtree_spark.pipelines import curate_images_against

        whole = digest(curate_images_against(self.arrivals, self.kept, self.layer))
        resumed = self.reference["ckpt_resume"][1:]
        expect(whole == resumed,
               f"resumed checkpoint {resumed} != uninterrupted curate {whole}")


def checkpoint_stats(root: str) -> dict:
    """Batches and their walls from the progress table (one parquet
    append per key batch), the output size and the file counts."""
    import pyarrow.parquet as pq

    prog = os.path.join(root, "progress")
    parts = sorted((p for p in os.listdir(prog) if p.endswith(".parquet")),
                   key=lambda p: os.path.getmtime(os.path.join(prog, p)))
    walls = []
    for p in parts:
        t = pq.read_table(os.path.join(prog, p), columns=["wall_ms"])
        walls.append(sum(t.column("wall_ms").to_pylist()) / 1e3)
    out_bytes = sum(os.path.getsize(os.path.join(d, f))
                    for d, _, fs in os.walk(os.path.join(root, "output")) for f in fs)
    n_files = sum(len(fs) for _, _, fs in os.walk(prog))
    return {"batches": len(parts), "batch_walls_s": walls,
            "output_mb": out_bytes / 1e6, "progress_files": n_files,
            "progress_mtimes": [os.path.getmtime(os.path.join(prog, p)) for p in parts]}


WORKLOADS = {w.name: w for w in (GeoJoin, Curate)}
