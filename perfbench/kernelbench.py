"""Driver-local calls into the engine's kernels and codecs, on the
same seeded points and codec content the Spark workloads use, each
repeated until a fixed time has passed. No Spark involved: these are
the L0 figures the Spark calls' UDF bodies are built from.
"""

from __future__ import annotations

import time

import numpy as np

from workloads import CODEC_FMTS, GEO_POINTS, codec_pixels, encode, remap_np, table_fmt


def repeat(fn, min_s: float) -> tuple[float, object]:
    """(seconds per call, last result), calling fn for >= min_s."""
    fn()  # first call pays imports and lazy set-up
    n, t0 = 0, time.perf_counter()
    while True:
        out = fn()
        n += 1
        dt = time.perf_counter() - t0
        if dt >= min_s:
            return dt / n, out


def kernel_metrics(layer, seed: int, min_s: float = 0.25) -> dict:
    from segment_rtree_spark.kernels.clip import clip_ring_to_rect
    from segment_rtree_spark.operators.knn_join import boundary_distance
    from segment_rtree_spark.synth import synth_partition_fast
    from segment_rtree_spark.tiles import cell_bounds, cell_of

    pts = synth_partition_fast(0, GEO_POINTS, seed, 0.1)
    lat, lng = remap_np(pts["lat"].to_numpy(), pts["lng"].to_numpy())
    n = len(lat)
    out = {}

    per, (qi, _pid, _rel) = repeat(lambda: layer.pip(lng, lat), min_s)
    cand = len(layer.candidates(lng, lat)[0])
    out["kernels.pip.points_per_s"] = n / per
    out["kernels.pip.candidates_per_point"] = cand / n
    out["kernels.pip.hit_ratio"] = len(qi) / max(cand, 1)

    sub = slice(0, n, 25)  # every 25th point against every polygon
    m = len(lat[sub])

    def knn():
        for poly in layer.polygons:
            boundary_distance(lng[sub], lat[sub], poly)

    per, _ = repeat(knn, min_s)
    out["kernels.knn.points_per_s"] = m / per

    pids, cells = layer.cover_cells(6)
    x0, y0, x1, y1 = cell_bounds(cells)
    segs = sum(
        len(r.xs) - 1
        for pid in pids for r in [layer.by_id(pid).shell, *layer.by_id(pid).holes]
    )

    def clip():
        for k, pid in enumerate(pids):
            poly = layer.by_id(pid)
            for ring in [poly.shell, *poly.holes]:
                clip_ring_to_rect(ring, x0[k], y0[k], x1[k], y1[k])

    per, _ = repeat(clip, min_s)
    out["kernels.clip.segments_per_s"] = segs / per

    per, _ = repeat(lambda: cell_of(lat, lng, 10), min_s)
    out["tiles.cell_of.points_per_s"] = n / per
    return out


def codec_metrics(seed: int, per_fmt: int = 4, min_s: float = 0.2) -> dict:
    """Decoded pixel MB/s of each of the nine encodings."""
    from segment_rtree_spark.imageio import decode_image

    out = {}
    for fmt in CODEC_FMTS:
        rows = []
        for i in range(per_fmt):
            px = codec_pixels(i * len(CODEC_FMTS), seed, fmt)
            rows.append((encode(fmt, px), table_fmt(fmt), px.shape[1], px.shape[0]))
        mb = sum(w * h * 3 for _, _, w, h in rows) / 1e6

        def dec():
            for buf, f, w, h in rows:
                decode_image(buf, f, w, h)

        per, _ = repeat(dec, min_s)
        out[f"codec.{fmt}.decode_mb_per_s"] = mb / per
    return out


def cover_metrics(layer, res: int = 6, reps: int = 3) -> dict:
    times, n = [], 0
    for _ in range(reps):
        t0 = time.perf_counter()
        _pids, cells = layer.cover_cells(res)
        times.append(time.perf_counter() - t0)
        n = len(cells)
    return {"layer.cover_cells_s": float(np.median(times)), "layer.cover_cells_n": n}
