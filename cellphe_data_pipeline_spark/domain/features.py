"""M4 — per-(cell, frame) static features (SURVEY §2.10).

Reference: frame_features_image.py:57-70 — per frame: load + min-max
normalise the image (A6/F10, :25-26), then per cell present in that
frame (P4, :46) fetch its ROI (J5, :49-54), clip negatives (F9,
:55-56), and call ``cellphe.features.extract_static_features`` [pkg]
(~74 size/shape/boundary/intensity/texture features, Wiseman 2023).

Engine shape: one row per frame (the frame's raster plus its nested
cells) through ``mapInPandas`` — the image is decoded ONCE per frame,
exactly the reference's economy, and ONE per-frame body
(:func:`_frame_features`) computes every cell of the frame at once on
ragged arrays, with the same floating-point bits as running each block
on each cell's own arrays. Both entry points feed that body: the
staged :func:`static_features` with ROI coords, the pipeline's
:func:`static_features_fused` with contours traced from the mask.
Executor memory is bounded by one image + its cells regardless of
corpus size; 721-frame × N-timelapse corpora parallelise frame-wise
(the reference's own speedup axis, README.md:409).

The 74-feature vector covers every structural CellPhe block at the
reference's feature count (Wiseman 2023): size/shape (area, centroid,
radius stats + quartiles, principal axes, fill/convexity,
compactness), boundary (curvature profile with distribution extremes,
polygon class via RDP, radius-profile Haar spectrum + roughness,
perimeter), first-order intensity (stats, deciles + extremes, IQR/MAD,
skew/kurt, entropy, range, centre-of-mass asymmetry), and texture
(cooccurrence GLCM at pixel distances 1 and 2, 2-D Haar detail
energies levels 1-3) — all real numpy on the decoded raster, each
block cross-checked by a closed-form or direct-numpy oracle test
(tests/test_domain.py). Names are engine-local; the blocks map 1:1 to
the published CellPhe feature families.

RuntimeError-on-degenerate-cell → skip (frame_features_image.py:66-70):
cells whose clipped ROI has no interior pixels are silently dropped,
matching the reference.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from cellphe_data_pipeline_spark.domain.images import _raster_dtype, decode_frame

STATIC_FEATURE_NAMES = (
    "Area",
    "x",
    "y",
    "Rad_mean",
    "Rad_max",
    "Rad_var",
    "Boundary_len",
    "Int_mean",
    "Int_std",
    "Int_min",
    "Int_max",
    "Int_q10",
    "Int_q25",
    "Int_q50",
    "Int_q75",
    "Int_q90",
    # principal-axis shape block: Len/Wid are 4*sqrt(eigenvalue) of the
    # coords covariance (the CellPhe length/width pair), Sphericity
    # their bounded ratio, A2B the area-to-boundary ratio
    "Len",
    "Wid",
    "Sphericity",
    "A2B",
    # cooccurrence (GLCM) texture over the cell's quantised pixels —
    # the CellPhe "Coo" block (Wiseman 2023; frame_features_image.py:2)
    "Coo_contrast",
    "Coo_homogeneity",
    "Coo_energy",
    "Coo_correlation",
    "Coo_entropy",
    # per-cell 2-D Haar detail energies (levels 1-2) — the CellPhe
    # wavelet texture block
    "Haar2d_l1",
    "Haar2d_l2",
    # fill / convexity block: how much of each reference region the
    # cell's pixels actually cover (box, ellipse, convex hull) plus the
    # principal-axis eccentricity — the CellPhe Box/Rect/convexity
    # analogues (Wiseman 2023)
    "Box",
    "Rect",
    "Solidity",
    "Hull_area",
    "Eccentricity",
    # first-order intensity distribution shape (FOskew/FOkurt analogue)
    "Int_skew",
    "Int_kurt",
    # curvature profile (CellPhe "Cur" block, Wiseman 2023): triangle-
    # excess curvature at each boundary point over a fixed index gap,
    # summarised over the cell
    "Cur_mean",
    "Cur_std",
    "Cur_max",
    "Cur_skew",
    # polygon-class block: Ramer-Douglas-Peucker simplification of the
    # boundary → vertex count, side-length and interior-angle stats
    # (the CellPhe polygon features)
    "Poly_n",
    "Poly_side_mean",
    "Poly_side_var",
    "Poly_ang_mean",
    "Poly_ang_var",
    # boundary spectral block: 1-D Haar detail energies (3 levels) of
    # the centroid-radius profile along the boundary — the per-variable
    # wavelet boundary features
    "Rad_haar_l1",
    "Rad_haar_l2",
    "Rad_haar_l3",
    # remaining size/shape + intensity-dispersion tail
    "Perim",
    "Rad_min",
    "Int_iqr",
    "Int_mad",
    # cooccurrence at pixel distance 2 — the multi-scale Coo block
    # (texture correlation length; Wiseman 2023 computes cooccurrence
    # at several scales)
    "Coo2_contrast",
    "Coo2_homogeneity",
    "Coo2_energy",
    "Coo2_correlation",
    "Coo2_entropy",
    # third Haar texture level + first-order intensity entropy
    "Haar2d_l3",
    "Int_entropy",
    # extreme intensity quantiles completing the decile block
    "Int_q05",
    "Int_q95",
    # boundary roughness: first-difference stats of the radius profile
    "Rad_diff_mean",
    "Rad_diff_var",
    # isoperimetric compactness: Perim^2 / (4*pi*Area), 1 for a disc
    "Compactness",
    # radius distribution quartiles + spread (radial shape profile)
    "Rad_q25",
    "Rad_q50",
    "Rad_q75",
    "Rad_iqr",
    # intensity centre-of-mass offset from the geometric centroid —
    # internal brightness asymmetry (x/y components + magnitude)
    "Int_com_dx",
    "Int_com_dy",
    "Int_com_offset",
    # curvature / polygon distribution extremes completing those blocks
    "Cur_min",
    "Cur_var",
    "Poly_side_max",
    "Poly_ang_min",
    # full intensity range (dynamic-range gate)
    "Int_range",
)

#: Classification of every engine feature against the published CellPhe
#: feature set (the COVERAGE.md "M4 feature-name pinning" table; Wiseman
#: et al. 2023, Nat Commun 14:1854). "exact" = implements the published
#: formula of a named paper feature; "recon" = anchored to a named paper
#: feature/block, formula reconstructed from its description; "parity" =
#: ENGINE-LOCAL member of a paper feature family, added to reach the
#: reference's 74-column CSV width — a consumer of the reference's CSV
#: shape should treat parity columns as engine extensions, not pinned
#: reference values. Emitted at the CSV edge via feature_manifest().
FEATURE_STATUS: dict[str, str] = {
    # exact (14)
    **{n: "exact" for n in (
        "Area", "Len", "Wid", "Sphericity", "A2B", "Box", "Rect", "Perim",
        "Int_mean", "Int_std", "Int_skew", "Cur_mean", "Cur_std", "Cur_max",
    )},
    # recon (33)
    **{n: "recon" for n in (
        "x", "y",
        "Rad_mean", "Rad_max", "Rad_min", "Rad_var",
        "Rad_haar_l1", "Rad_haar_l2", "Rad_haar_l3",
        "Poly_n", "Poly_side_mean", "Poly_side_var",
        "Poly_ang_mean", "Poly_ang_var",
        "Int_min", "Int_max", "Int_q05", "Int_q10", "Int_q25",
        "Int_q50", "Int_q75", "Int_q90", "Int_q95",
        "Coo_contrast", "Coo_homogeneity", "Coo_energy",
        "Coo_correlation", "Coo_entropy",
        "Coo2_contrast", "Coo2_homogeneity", "Coo2_energy",
        "Coo2_correlation", "Coo2_entropy",
    )},
    # parity (27) — engine-local
    **{n: "parity" for n in (
        "Boundary_len", "Compactness",
        "Rad_q25", "Rad_q50", "Rad_q75", "Rad_iqr",
        "Rad_diff_mean", "Rad_diff_var",
        "Cur_min", "Cur_var", "Cur_skew",
        "Poly_side_max", "Poly_ang_min",
        "Hull_area", "Solidity", "Eccentricity",
        "Int_kurt", "Int_iqr", "Int_mad", "Int_range", "Int_entropy",
        "Int_com_dx", "Int_com_dy", "Int_com_offset",
        "Haar2d_l1", "Haar2d_l2", "Haar2d_l3",
    )},
}


def feature_manifest(spark) -> "DataFrame":
    """One row per static feature, in output-column order:
    (feature, status, engine_local). Published alongside the
    frame-features table (run_pipeline's `feature_manifest` output /
    the publish sidecar) so a downstream consumer of the reference's
    CSV shape can mechanically distinguish pinned ("exact"),
    reconstructed ("recon"), and engine-local ("parity",
    engine_local=true) columns."""
    rows = [
        (i, n, FEATURE_STATUS[n], FEATURE_STATUS[n] == "parity")
        for i, n in enumerate(STATIC_FEATURE_NAMES)
    ]
    return spark.createDataFrame(
        rows, "column_index int, feature string, status string, engine_local boolean"
    )


FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("path", T.StringType()),
        T.StructField("FrameID", T.IntegerType()),
        T.StructField("CellID", T.IntegerType()),
        T.StructField("ROI_filename", T.StringType()),
    ]
    + [T.StructField(n, T.DoubleType()) for n in STATIC_FEATURE_NAMES]
)


GLCM_LEVELS = 8
_SQRT2 = np.sqrt(2.0)
_INT_QUANTILES = (0.05, 0.10, 0.25, 0.50, 0.75, 0.90, 0.95)
_RAD_QUANTILES = (0.25, 0.50, 0.75)


class _Ragged:
    """Per-cell samples concatenated in cell order: segment ``i`` holds
    ``lens[i]`` values. The reductions reproduce numpy's result on each
    segment as its own array bit for bit, so the frame body can work on
    all of a frame's cells at once and still match a per-cell kernel.

    Sums go through ``np.add.reduceat`` with a -0.0 sentinel in front of
    every segment: reduceat adds a segment's first value to numpy's
    pairwise sum of the rest, and -0.0 + x == x for every x, so each
    result equals ``np.add.reduce`` of the segment alone. Means and
    variances follow numpy's own formulas on top (``sum / n`` and
    ``sum((v - mean)**2) / n``); quantiles and medians read the order
    statistics of one per-frame sort and apply numpy's linear rule."""

    def __init__(self, lens):
        self.lens = np.asarray(lens, dtype=np.int64)
        self.ends = np.cumsum(self.lens)
        self.starts = self.ends - self.lens
        n, k = int(self.ends[-1]) if len(self.lens) else 0, len(self.lens)
        self.ids = np.repeat(np.arange(k), self.lens)
        self.local = np.arange(n) - self.starts[self.ids]
        self._sentinels = self.starts + np.arange(k)
        self._slots = np.arange(n) + self.ids + 1

    def sum(self, v: np.ndarray) -> np.ndarray:
        buf = np.empty(len(v) + len(self.lens))
        buf[self._sentinels] = -0.0
        buf[self._slots] = v
        out = np.add.reduceat(buf, self._sentinels)
        out[self.lens == 0] = 0.0  # numpy's empty sum
        return out

    def mean(self, v: np.ndarray) -> np.ndarray:
        return self.sum(v) / self.lens

    def var(self, v: np.ndarray, mean: np.ndarray) -> np.ndarray:
        d = v - mean[self.ids]
        return self.sum(d * d) / self.lens

    def max(self, v: np.ndarray) -> np.ndarray:
        return np.maximum.reduceat(v, self.starts)

    def min(self, v: np.ndarray) -> np.ndarray:
        return np.minimum.reduceat(v, self.starts)

    def first_argmax(self, v: np.ndarray) -> np.ndarray:
        """Segment-local index of each segment's first maximum
        (``np.argmax`` per segment)."""
        hit = np.flatnonzero(v == self.max(v)[self.ids])
        first = np.concatenate(([True], self.ids[hit[1:]] != self.ids[hit[:-1]]))
        return self.local[hit[first]]

    def sorted(self, v: np.ndarray) -> np.ndarray:
        return v[np.lexsort((v, self.ids))]

    def quantiles(self, sv: np.ndarray, qs) -> np.ndarray:
        """(cells, len(qs)) ``np.quantile`` (linear method) of each
        segment of the segment-sorted ``sv``, with numpy's index and
        interpolation arithmetic."""
        n = self.lens[:, None]
        virtual = (n - 1) * np.asarray(qs)
        prev = np.floor(virtual)
        nxt = prev + 1
        above = virtual >= n - 1
        prev[above] = -1
        nxt[above] = -1
        prev, nxt = prev.astype(np.intp), nxt.astype(np.intp)
        gamma = virtual - prev
        a = sv[self.starts[:, None] + np.where(prev < 0, n + prev, prev)]
        b = sv[self.starts[:, None] + np.where(nxt < 0, n + nxt, nxt)]
        diff = b - a
        return np.where(gamma >= 0.5, b - diff * (1 - gamma), a + diff * gamma)

    def median(self, sv: np.ndarray) -> np.ndarray:
        """``np.median`` of each segment of the segment-sorted ``sv``:
        the mean of the middle one or two order statistics."""
        half = self.starts + self.lens // 2
        hi = sv[half]
        lo = sv[np.maximum(half - 1, self.starts)]
        return np.where(self.lens % 2 == 1, (0.0 + hi) / 1, ((0.0 + lo) + hi) / 2)


def _glcm_block(
    patch: np.ndarray, inmask: np.ndarray, ph: np.ndarray, pw: np.ndarray, dist: int, prefix: str
) -> dict[str, np.ndarray]:
    """Gray-level cooccurrence features of every cell, at pixel offset
    ``dist`` (1 = adjacent texture, 2 = coarser scale — the multi-scale
    Coo block). ``patch``/``inmask`` are the cells' bounding-box patches
    (``ph`` x ``pw``) flattened and concatenated in cell order.

    Pixels are quantised to GLCM_LEVELS bins over the CELL's own
    min-max range; the matrix accumulates symmetric (0,dist) and
    (dist,0) offsets restricted to pairs where BOTH pixels belong to
    the cell. Features are the classic Haralick set: contrast,
    homogeneity, energy (ASM), correlation, entropy. Degenerate cases
    (flat cell, no valid pair) yield the distribution-free limits:
    contrast 0, homogeneity/energy 1, correlation 0, entropy 0."""
    k = len(ph)
    layout = _Ragged(ph * pw)
    pos = np.flatnonzero(inmask)
    cell = layout.ids[pos]
    w = pw[cell]
    py, px = np.divmod(layout.local[pos], w)
    vals = patch[pos]
    members = _Ragged(np.bincount(cell, minlength=k))
    lo, hi = members.min(vals), members.max(vals)
    q = np.zeros(len(patch), dtype=np.int64)
    spread = (hi > lo)[cell]
    c = cell[spread]
    q[pos[spread]] = np.minimum(
        ((vals[spread] - lo[c]) / (hi - lo)[c] * GLCM_LEVELS).astype(np.int64),
        GLCM_LEVELS - 1,
    )
    cells2 = GLCM_LEVELS * GLCM_LEVELS
    glcm = np.zeros(k * cells2)
    for dy, dx in ((0, dist), (dist, 0)):
        ok = (py + dy < ph[cell]) & (px + dx < w)
        src = pos[ok]
        dst = src + dy * w[ok] + dx
        both = inmask[dst]
        a, b, c = q[src[both]], q[dst[both]], cell[ok][both] * cells2
        glcm += np.bincount(c + a * GLCM_LEVELS + b, minlength=k * cells2)
        glcm += np.bincount(c + b * GLCM_LEVELS + a, minlength=k * cells2)  # symmetric
    glcm = glcm.reshape(k, GLCM_LEVELS, GLCM_LEVELS)

    def total(a: np.ndarray) -> np.ndarray:
        return a.reshape(k, cells2).sum(axis=1)

    n = total(glcm)
    empty = n == 0
    p = glcm / np.where(empty, 1.0, n)[:, None, None]
    i, j = np.indices((GLCM_LEVELS, GLCM_LEVELS))
    di = i - total(i * p)[:, None, None]
    dj = j - total(j * p)[:, None, None]
    var_i, var_j = total(di**2 * p), total(dj**2 * p)
    with np.errstate(divide="ignore", invalid="ignore"):
        corr = total(di * dj * p) / np.sqrt(var_i * var_j)
    nz = p > 0
    flat_nz = p[nz]
    entropy = -_Ragged(total(nz).astype(np.int64)).sum(flat_nz * np.log2(flat_nz))
    return {
        f"{prefix}_contrast": np.where(empty, 0.0, total(p * (i - j) ** 2)),
        f"{prefix}_homogeneity": np.where(empty, 1.0, total(p / (1.0 + (i - j) ** 2))),
        f"{prefix}_energy": np.where(empty, 1.0, total(p**2)),
        f"{prefix}_correlation": np.where((var_i > 0) & (var_j > 0), corr, 0.0),
        f"{prefix}_entropy": np.where(empty, 0.0, entropy),
    }


def _glcm_features(
    patch: np.ndarray, inmask: np.ndarray, dist: int = 1, prefix: str = "Coo"
) -> dict[str, float]:
    """One cell's cooccurrence block (see :func:`_glcm_block`)."""
    block = _glcm_block(
        patch.astype("float64").ravel(), inmask.ravel(),
        np.array([patch.shape[0]]), np.array([patch.shape[1]]), dist, prefix,
    )
    return {name: float(v[0]) for name, v in block.items()}


def _haar2d_block(patch: np.ndarray, ph: np.ndarray, pw: np.ndarray, levels: int) -> np.ndarray:
    """(cells, levels) 2-D Haar DWT detail ENERGY per level (sum of
    squared LH/HL/HH coefficients) over each cell's bounding-box patch
    (non-cell pixels zero; patches flattened and concatenated as in
    :func:`_glcm_block`). Odd dimensions drop the trailing row/column
    per level, like the 1-D time-series kernel (timeseries.py
    `_haar_details`)."""
    out = np.zeros((len(ph), levels))
    a, h, w = patch, ph, pw
    for level in range(levels):
        h2, w2 = h // 2, w // 2
        coef = _Ragged(h2 * w2)
        cw = w[coef.ids]
        yy, xx = np.divmod(coef.local, w2[coef.ids])
        at = (np.cumsum(h * w) - h * w)[coef.ids] + 2 * yy * cw + 2 * xx
        tl, tr, bl, br = a[at], a[at + 1], a[at + cw], a[at + cw + 1]
        lh = (tl - tr + bl - br) / 2.0
        hl = (tl + tr - bl - br) / 2.0
        hh = (tl - tr - bl + br) / 2.0
        out[:, level] = coef.sum(lh**2) + coef.sum(hl**2) + coef.sum(hh**2)
        a, h, w = (tl + tr + bl + br) / 2.0, h2, w2
    return out


def _haar2d_energies(patch: np.ndarray, levels: int = 2) -> list[float]:
    """One patch's 2-D Haar detail energies (see :func:`_haar2d_block`)."""
    return _haar2d_block(
        patch.astype("float64").ravel(), np.array([patch.shape[0]]), np.array([patch.shape[1]]), levels
    )[0].tolist()


def _hull_areas(cell: np.ndarray, ys: np.ndarray, xs: np.ndarray, k: int) -> np.ndarray:
    """Convex hull area of the REGION covered by each cell's unit pixels
    (pixel centres ``(xs, ys)``, sorted by (cell, y, x), no repeats): the
    hull of every pixel's four corners (x±0.5, y±0.5), so a filled w×h
    rectangle of pixels reports w·h — making Solidity = Area/Hull_area
    exactly 1 for convex filled cells instead of the pixel-count-vs-
    polygon-area mismatch a centre-point hull gives.

    Uses the exact identity hull(corners) = hull(centres) + (xmax−xmin)
    + (ymax−ymin) + 1 (the corner set is the centre set's Minkowski sum
    with a unit square). The centre hull is bounded by the concave
    majorant of each row's rightmost x and the convex minorant of its
    leftmost x; all arithmetic is on integers, halved once at the end."""
    new_row = np.concatenate(([True], (cell[1:] != cell[:-1]) | (ys[1:] != ys[:-1])))
    first = np.flatnonzero(new_row)
    last = np.concatenate((first[1:], [len(xs)])) - 1
    rc, ry, left, right = cell[first], ys[first], xs[first], xs[last]
    rows = _Ragged(np.bincount(rc, minlength=k))
    twice = _chain_integral(rc, ry, right, 1, k) - _chain_integral(rc, ry, left, -1, k)
    span = (rows.max(right) - rows.min(left)) + (ry[rows.ends - 1] - ry[rows.starts]) + 1
    return (twice + 2 * span) / 2.0


def _chain_integral(cell: np.ndarray, y: np.ndarray, x: np.ndarray, sign: int, k: int) -> np.ndarray:
    """Twice the area under each cell's hull chain of the points
    (y, x): the concave majorant of x over y (sign=+1) or its convex
    minorant (sign=-1). Interior points on the wrong side of (or on)
    the chord between their current neighbours are not hull vertices;
    dropping all of them at once and repeating leaves exactly the
    strictly convex chain."""
    while len(x) > 2:
        inner = (cell[1:-1] == cell[:-2]) & (cell[1:-1] == cell[2:])
        cross = (x[1:-1] - x[:-2]) * (y[2:] - y[:-2]) - (x[2:] - x[:-2]) * (y[1:-1] - y[:-2])
        drop = inner & (sign * cross <= 0)
        if not drop.any():
            break
        keep = np.concatenate(([True], ~drop, [True]))
        cell, y, x = cell[keep], y[keep], x[keep]
    same = cell[1:] == cell[:-1]
    trapezoids = (y[1:] - y[:-1]) * (x[1:] + x[:-1])
    return np.bincount(cell[1:][same], weights=trapezoids[same], minlength=k)


def _hull_area(xs: np.ndarray, ys: np.ndarray) -> float:
    """Pixel-corner convex hull area of one cell (see :func:`_hull_areas`)."""
    x, y = np.asarray(xs).astype(np.int64), np.asarray(ys).astype(np.int64)
    lo_x, lo_y = int(x.min()), int(y.min())
    width = int(x.max()) - lo_x + 1
    key = np.unique((y - lo_y) * width + (x - lo_x))
    uy, ux = np.divmod(key, width)
    return float(_hull_areas(np.zeros(len(key), dtype=np.int64), uy, ux, 1)[0])


def _haar1d_block(series: np.ndarray, seg: _Ragged, levels: int) -> np.ndarray:
    """(cells, levels) 1-D Haar detail ENERGY per level (sum of squared
    detail coefficients, orthonormal scaling) of each segment. Odd
    lengths drop the trailing sample per level — same convention as the
    2-D kernel above and the time-series Haar (operators/timeseries.py)."""
    out = np.zeros((len(seg.lens), levels))
    a = series.astype("float64")
    for level in range(levels):
        half = _Ragged(seg.lens // 2)
        src = seg.starts[half.ids] + 2 * half.local
        detail = (a[src] - a[src + 1]) / _SQRT2
        out[:, level] = half.sum(detail**2)
        a, seg = (a[src] + a[src + 1]) / _SQRT2, half
    return out


def _haar1d_energies(series: np.ndarray, levels: int = 3) -> list[float]:
    """One series' 1-D Haar detail energies (see :func:`_haar1d_block`)."""
    return _haar1d_block(series, _Ragged([len(series)]), levels)[0].tolist()


def _curvature_block(xs: np.ndarray, ys: np.ndarray, seg: _Ragged, gap: int = 4) -> np.ndarray:
    """Triangle-excess curvature at each boundary point (CellPhe "Cur"
    semantics, Wiseman 2023): for point i with neighbours i-gap / i+gap
    (indices wrap within the cell — the boundary is closed),

        cur_i = d(p_{i-g}, p_i) + d(p_i, p_{i+g}) - d(p_{i-g}, p_{i+g})

    Zero on straight segments, positive where the boundary bends; gap
    shrinks for very short boundaries so neighbours stay distinct."""
    x, y = xs.astype("float64"), ys.astype("float64")
    n = seg.lens[seg.ids]
    g = np.maximum(1, np.minimum(gap, (seg.lens - 1) // 2))[seg.ids]
    base = seg.starts[seg.ids]
    prv = base + (seg.local - g) % n
    nxt = base + (seg.local + g) % n
    d_in = np.hypot(x - x[prv], y - y[prv])
    d_out = np.hypot(x[nxt] - x, y[nxt] - y)
    d_span = np.hypot(x[nxt] - x[prv], y[nxt] - y[prv])
    return d_in + d_out - d_span


def _curvature_profile(xs: np.ndarray, ys: np.ndarray, gap: int = 4) -> np.ndarray:
    """One closed boundary's curvature profile (see :func:`_curvature_block`)."""
    return _curvature_block(np.asarray(xs), np.asarray(ys), _Ragged([len(xs)]), gap)


def _rdp_keep(x: np.ndarray, y: np.ndarray, first: np.ndarray, last: np.ndarray, eps: float) -> np.ndarray:
    """Ramer-Douglas-Peucker simplification of many OPEN chains at once
    (chain c spans positions first[c]..last[c] of ``x``/``y``); returns
    the kept-point mask. eps = max allowed perpendicular deviation. Each
    round splits every pending span at its farthest interior point (the
    first, on ties), so the kept set is the recursive algorithm's."""
    keep = np.zeros(len(x), dtype=bool)
    keep[first] = keep[last] = True
    a, b = first, last
    while True:
        wide = b - a >= 2
        a, b = a[wide], b[wide]
        if not len(a):
            return keep
        span = _Ragged(b - a - 1)
        pos = a[span.ids] + 1 + span.local
        vx, vy = x[b] - x[a], y[b] - y[a]
        norm = np.hypot(vx, vy)[span.ids]
        rx, ry = x[pos] - x[a][span.ids], y[pos] - y[a][span.ids]
        with np.errstate(divide="ignore", invalid="ignore"):
            d = np.where(
                norm == 0.0,
                np.hypot(rx, ry),
                np.abs(vx[span.ids] * ry - vy[span.ids] * rx) / norm,
            )
        split = span.max(d) > eps
        i = (a + 1 + span.first_argmax(d))[split]
        keep[i] = True
        a, b = np.concatenate([a[split], i]), np.concatenate([i, b[split]])


def _rdp(points: np.ndarray, eps: float) -> np.ndarray:
    """RDP simplification of one open chain; returns the kept points in order."""
    p = points.astype("float64")
    return points[_rdp_keep(p[:, 0], p[:, 1], np.array([0]), np.array([len(p) - 1]), eps)]


_POLY_NAMES = (
    "Poly_n", "Poly_side_mean", "Poly_side_var", "Poly_ang_mean",
    "Poly_ang_var", "Poly_side_max", "Poly_ang_min",
)


def _polygon_block(xs: np.ndarray, ys: np.ndarray, seg: _Ragged, eps: float = 1.5) -> dict[str, np.ndarray]:
    """Polygon-class block: simplify each closed boundary with RDP
    (split at index 0 and the point farthest from it — deterministic
    anchors), then summarise vertex count, side lengths, and interior
    angles of the resulting polygon. A boundary whose points all
    coincide is one vertex; a two-vertex polygon has one side."""
    k = len(seg.lens)
    x, y = xs.astype("float64"), ys.astype("float64")
    out = {name: np.zeros(k) for name in _POLY_NAMES}
    out["Poly_n"][:] = 1.0
    s0 = seg.starts[seg.ids]
    far = seg.first_argmax(np.hypot(x - x[s0], y - y[s0]))
    live = np.flatnonzero(far > 0)
    if not len(live):
        return out
    # chains per live cell, in order: 0..far, then far..n-1 and back to 0
    n, s, f = seg.lens[live], seg.starts[live], far[live]
    chains = _Ragged(np.column_stack([f + 1, n - f + 1]).ravel())
    owner = chains.ids // 2
    idx = s[owner] + ((chains.ids % 2) * f[owner] + chains.local) % n[owner]
    keep = _rdp_keep(x[idx], y[idx], chains.starts, chains.ends - 1, eps)
    keep[chains.ends - 1] = False  # drop duplicated junction points when re-closing
    vert, vcell = idx[keep], live[owner[keep]]
    m = np.bincount(vcell, minlength=k)
    two = live[m[live] == 2]
    a, b = seg.starts[two], seg.starts[two] + far[two]
    side = np.hypot(x[b] - x[a], y[b] - y[a])
    out["Poly_n"][live] = m[live]
    out["Poly_side_mean"][two] = out["Poly_side_max"][two] = side
    big = np.flatnonzero(m >= 3)
    if not len(big):
        return out
    sel = m[vcell] >= 3
    px, py = x[vert[sel]], y[vert[sel]]
    poly = _Ragged(m[big])
    pm = poly.lens[poly.ids]
    nxt = poly.starts[poly.ids] + (poly.local + 1) % pm
    prv = poly.starts[poly.ids] + (poly.local - 1) % pm
    sides = np.hypot(px[nxt] - px, py[nxt] - py)
    v1x, v1y, v2x, v2y = px[prv] - px, py[prv] - py, px[nxt] - px, py[nxt] - py
    n12 = np.hypot(v1x, v1y) * np.hypot(v2x, v2y)
    denom = np.where(n12 > 0, n12, 1.0)
    ang = np.arccos(np.clip((v1x * v2x + v1y * v2y) / denom, -1.0, 1.0))
    side_mean, ang_mean = poly.mean(sides), poly.mean(ang)
    out["Poly_side_mean"][big] = side_mean
    out["Poly_side_var"][big] = poly.var(sides, side_mean)
    out["Poly_ang_mean"][big] = ang_mean
    out["Poly_ang_var"][big] = poly.var(ang, ang_mean)
    out["Poly_side_max"][big] = poly.max(sides)
    out["Poly_ang_min"][big] = poly.min(ang)
    return out


def _polygon_features(xs: np.ndarray, ys: np.ndarray, eps: float = 1.5) -> dict[str, float]:
    """One closed boundary's polygon block (see :func:`_polygon_block`)."""
    block = _polygon_block(np.asarray(xs), np.asarray(ys), _Ragged([len(xs)]), eps)
    return {name: float(v[0]) for name, v in block.items()}


def _py_square(v: np.ndarray) -> np.ndarray:
    """``v ** 2`` evaluated on Python floats (C ``pow``), which is not
    always bit-equal to numpy's ``v * v``."""
    return np.array([t**2 for t in v.tolist()], dtype=np.float64)


def _frame_features(img: np.ndarray, cells: list) -> tuple[np.ndarray, np.ndarray]:
    """The M4 feature kernel: every cell of one [0,1]-normalised frame
    at once. ``cells`` holds each cell's (n, 2) integer (x, y) coords.
    Returns (kept, features): the indices of the cells that produced a
    row — degenerate ROIs with fewer than 3 coords are skipped
    (reference RuntimeError→skip) — and a (len(kept), 74) float64 matrix
    in STATIC_FEATURE_NAMES order. Every value is bit-identical to
    running the block formulas on each cell's own arrays."""
    h_img, w_img = img.shape
    coords = [np.asarray(c, dtype=np.int64).reshape(-1, 2) for c in cells]
    kept = np.array([i for i, c in enumerate(coords) if len(c) >= 3], dtype=np.int64)
    if not len(kept):
        return kept, np.empty((0, len(STATIC_FEATURE_NAMES)))
    pts = np.concatenate([coords[i] for i in kept])
    seg = _Ragged([len(coords[i]) for i in kept])
    k, ids = len(kept), seg.ids
    xs = np.clip(pts[:, 0], 0, w_img - 1)  # F9 clip
    ys = np.clip(pts[:, 1], 0, h_img - 1)
    X, Y = xs.astype("float64"), ys.astype("float64")
    cx, cy = seg.mean(X), seg.mean(Y)
    dx, dy = X - cx[ids], Y - cy[ids]
    rad = np.sqrt(dx**2 + dy**2)
    vals = img[ys, xs].astype("float64")
    feats: dict[str, np.ndarray] = {"x": cx, "y": cy, "Boundary_len": seg.lens.astype("float64")}

    # the cell's distinct pixels, sorted by (cell, y, x)
    key = np.unique((ids * h_img + ys) * w_img + xs)
    row, ux = np.divmod(key, w_img)
    ucell, uy = np.divmod(row, h_img)
    area = np.bincount(ucell, minlength=k).astype("float64")
    feats["Area"] = area

    # radius + first-order intensity statistics
    feats["Rad_mean"] = rad_mean = seg.mean(rad)
    feats["Rad_var"] = seg.var(rad, rad_mean)
    feats["Rad_max"], feats["Rad_min"] = seg.max(rad), seg.min(rad)
    rad_q = seg.quantiles(seg.sorted(rad), _RAD_QUANTILES)
    feats["Rad_q25"], feats["Rad_q50"], feats["Rad_q75"] = rad_q.T
    feats["Rad_iqr"] = rad_q[:, 2] - rad_q[:, 0]
    vsum = seg.sum(vals)
    feats["Int_mean"] = int_mean = vsum / seg.lens
    int_var = seg.var(vals, int_mean)
    feats["Int_std"] = sd = np.sqrt(int_var)
    feats["Int_min"], feats["Int_max"] = lo, hi = seg.min(vals), seg.max(vals)
    feats["Int_range"] = hi - lo
    sv = seg.sorted(vals)
    int_q = seg.quantiles(sv, _INT_QUANTILES)
    for q, col in zip(_INT_QUANTILES, int_q.T):
        feats[f"Int_q{round(q * 100):02d}"] = col
    feats["Int_iqr"] = feats["Int_q75"] - feats["Int_q25"]
    dev = np.abs(vals - seg.median(sv)[ids])
    feats["Int_mad"] = seg.median(seg.sorted(dev))
    # population skewness / excess kurtosis of the intensity sample
    with np.errstate(divide="ignore", invalid="ignore"):
        z = (vals - int_mean[ids]) / sd[ids]
    feats["Int_skew"] = np.where(sd > 0, seg.mean(z**3), 0.0)
    feats["Int_kurt"] = np.where(sd > 0, seg.mean(z**4) - 3.0, 0.0)
    # first-order intensity entropy over GLCM_LEVELS bins of the cell's
    # own [min,max] range (flat cell -> 0 by convention)
    spread = (hi > lo)[ids]
    with np.errstate(divide="ignore", invalid="ignore"):
        bins = np.minimum(
            ((vals - lo[ids]) / (hi - lo)[ids] * GLCM_LEVELS)[spread].astype(np.int64),
            GLCM_LEVELS - 1,
        )
    hist = np.bincount(ids[spread] * GLCM_LEVELS + bins, minlength=k * GLCM_LEVELS)
    hist = hist.reshape(k, GLCM_LEVELS)
    share = hist[hist > 0] / seg.lens[np.nonzero(hist > 0)[0]]
    ent = -_Ragged((hist > 0).sum(axis=1)).sum(share * np.log2(share))
    feats["Int_entropy"] = np.where(hi > lo, ent, 0.0)
    # intensity centre-of-mass offset from the geometric centroid
    with np.errstate(divide="ignore", invalid="ignore"):
        com_dx = seg.sum(vals * xs) / vsum - cx
        com_dy = seg.sum(vals * ys) / vsum - cy
    pos = vsum > 0
    feats["Int_com_dx"] = np.where(pos, com_dx, 0.0)
    feats["Int_com_dy"] = np.where(pos, com_dy, 0.0)
    feats["Int_com_offset"] = np.where(pos, np.hypot(com_dx, com_dy), 0.0)

    # principal axes of the point cloud: eigen-decomposition of the 2x2
    # coordinate covariance; 4*sqrt(eig) spans ±2 std — the standard
    # ellipse-equivalent length/width. The covariance is the BLAS
    # product np.cov itself forms, one cell at a time.
    centred = np.column_stack([dx, dy])
    cov = np.empty((k, 2, 2))
    for i, (s, e) in enumerate(zip(seg.starts.tolist(), seg.ends.tolist())):
        block = centred[s:e]
        cov[i] = np.dot(block.T, block)
    cov *= (1.0 / seg.lens)[:, None, None]
    eig = np.linalg.eigvalsh(cov)
    length = 4.0 * np.sqrt(np.where(0.0 > eig[:, 1], 0.0, eig[:, 1]))
    width = 4.0 * np.sqrt(np.where(0.0 > eig[:, 0], 0.0, eig[:, 0]))
    feats["Len"], feats["Wid"] = length, width
    with np.errstate(divide="ignore", invalid="ignore"):
        ratio = np.where(length > 0, width / length, 1.0)
        feats["Rect"] = np.where(length * width > 0, area / (length * width), 1.0)
    feats["Sphericity"] = ratio
    feats["A2B"] = area / seg.lens
    ecc = 1.0 - _py_square(ratio)
    feats["Eccentricity"] = np.where(length > 0, np.sqrt(np.where(0.0 > ecc, 0.0, ecc)), 0.0)

    # bounding-box patches for the 2-D texture blocks: cell pixels carry
    # their normalised intensity, non-cell pixels are zero
    x0, y0 = seg.min(xs), seg.min(ys)
    pw, ph = seg.max(xs) - x0 + 1, seg.max(ys) - y0 + 1
    at = (np.cumsum(ph * pw) - ph * pw)[ucell] + (uy - y0[ucell]) * pw[ucell] + ux - x0[ucell]
    patch = np.zeros(int((ph * pw).sum()))
    inmask = np.zeros(len(patch), dtype=bool)
    patch[at] = img[uy, ux]
    inmask[at] = True
    haar = _haar2d_block(patch, ph, pw, levels=3)
    feats["Haar2d_l1"], feats["Haar2d_l2"], feats["Haar2d_l3"] = haar.T
    feats.update(_glcm_block(patch, inmask, ph, pw, 1, "Coo"))
    feats.update(_glcm_block(patch, inmask, ph, pw, 2, "Coo2"))

    # fill / convexity: pixel-count area against bbox, principal-axis
    # ellipse-rect, and pixel-corner convex hull (Solidity=1 for convex
    # filled cells by construction of _hull_areas)
    feats["Box"] = area / (ph * pw).astype("float64")
    hull = _hull_areas(ucell, uy, ux, k)
    feats["Hull_area"] = hull
    with np.errstate(divide="ignore", invalid="ignore"):
        feats["Solidity"] = np.where(hull > 0, area / hull, 1.0)

    # curvature profile along the boundary sequence (as given — the F16
    # Bresenham interpolation upstream supplies the ordered closed
    # boundary; fixture ROIs that enumerate regions simply measure the
    # sequence they provide)
    cur = _curvature_block(xs, ys, seg)
    feats["Cur_mean"] = cur_mean = seg.mean(cur)
    feats["Cur_var"] = cur_var = seg.var(cur, cur_mean)
    feats["Cur_std"] = csd = np.sqrt(cur_var)
    feats["Cur_max"], feats["Cur_min"] = seg.max(cur), seg.min(cur)
    with np.errstate(divide="ignore", invalid="ignore"):
        cz = (cur - cur_mean[ids]) / csd[ids]
    feats["Cur_skew"] = np.where(csd > 0, seg.mean(cz**3), 0.0)

    feats.update(_polygon_block(xs, ys, seg))

    # boundary spectral block: Haar detail energies of the radius series
    rh = _haar1d_block(rad, seg, levels=3)
    feats["Rad_haar_l1"], feats["Rad_haar_l2"], feats["Rad_haar_l3"] = rh.T

    # perimeter of the closed boundary polygon (consecutive distances,
    # wrapping) — distinct from Boundary_len (the point count)
    nxt = seg.starts[ids] + (seg.local + 1) % seg.lens[ids]
    feats["Perim"] = perim = seg.sum(np.hypot(X[nxt] - xs, Y[nxt] - ys))
    # boundary roughness: first differences of the radius profile along
    # the closed boundary (wrap)
    rd = np.abs(rad[nxt] - rad)
    feats["Rad_diff_mean"] = rd_mean = seg.mean(rd)
    feats["Rad_diff_var"] = seg.var(rd, rd_mean)
    # isoperimetric quotient inverse: 1 for a disc, grows with boundary
    # complexity
    feats["Compactness"] = _py_square(perim) / (4.0 * np.pi * area)
    return kept, np.column_stack([feats[name] for name in STATIC_FEATURE_NAMES])


def _cell_features(img: np.ndarray, coords: np.ndarray) -> dict[str, float] | None:
    """Feature kernel for one cell on a [0,1]-normalised image: the
    frame body on a one-cell frame. Returns None for degenerate ROIs
    (reference RuntimeError→skip)."""
    kept, feats = _frame_features(img, [coords])
    return dict(zip(STATIC_FEATURE_NAMES, feats[0].tolist())) if len(kept) else None


def _payload_image(raw, h: int, w: int) -> np.ndarray:
    """A frame payload as a min-max normalised float64 image (A6+F10,
    once per frame). A payload whose byte count is that of an 8- or
    16-bit h x w raster IS that raster (``_raster_dtype`` rule), whatever
    its first bytes spell; anything else is a container for the codec
    boundary (first page)."""
    if len(raw) in (h * w, 2 * h * w):
        img = np.frombuffer(raw, dtype=_raster_dtype(raw, h, w)).reshape(h, w)
    else:
        img = decode_frame(bytes(raw))[0]
    img = img.astype("float64")
    lo, hi = img.min(), img.max()
    return (img - lo) / (hi - lo) if hi > lo else img


def _feature_rows(frames) -> pd.DataFrame:
    """Run the frame body over ``frames`` — (path, FrameID, image, cell
    ids, ROI names, per-cell coords) tuples — and lay the rows out
    column-wise in FEATURES_SCHEMA order. The one exit both M4 entry
    points share."""
    keys: dict[str, list] = {"path": [], "FrameID": [], "CellID": [], "ROI_filename": []}
    blocks = [np.empty((0, len(STATIC_FEATURE_NAMES)))]
    for path, frame_id, img, ids, names, coords in frames:
        kept, feats = _frame_features(img, coords)
        keys["path"] += [path] * len(kept)
        keys["FrameID"] += [frame_id] * len(kept)
        keys["CellID"] += [ids[i] for i in kept]
        keys["ROI_filename"] += [names[i] for i in kept]
        blocks.append(feats)
    out = pd.DataFrame(keys)
    out[list(STATIC_FEATURE_NAMES)] = np.concatenate(blocks)
    return out


def static_features(frames: DataFrame, rois: DataFrame) -> DataFrame:
    """M4: per-(cell, frame) static features from ROI coordinates.

    `frames`: (path, frame_index, height, width, data=binary container
    payload or raw 8/16-bit raster bytes). `rois`: (FrameID, CellID,
    ROI_filename, coords array<struct<x,y>>) — optionally carrying a
    ``path`` column; when present the join keys on (path, FrameID) so
    multiple timelapses in one DataFrame stay separated. Without it the
    rois are assumed to describe a SINGLE timelapse: joining on FrameID
    alone would cross-match identically-numbered frames across paths.
    Output one row per surviving cell-frame with FEATURES_SCHEMA.
    """
    roi_cols = ["FrameID", "CellID", "ROI_filename", "coords"]
    if "path" in rois.columns:
        join_keys = ["path", "FrameID"]
        roi_cols = ["path"] + roi_cols
    else:
        join_keys = ["FrameID"]
    # r16 (guide §2.3/§8 "shuffle keys, not payloads"): nest the cells of
    # each frame into ONE row BEFORE joining the raster on. The previous
    # shape joined the frame payload onto every cell row, so the join +
    # the kernel pre-shuffle moved each raster once per cell (25x at the
    # bench shape, unbounded at production cell counts); pre-aggregating
    # makes both exchanges carry each raster exactly once. The cells
    # aggregation shuffles only coords — bytes proportional to the ROI
    # boundary set, never to the image payload.
    cells_agg = rois.select(*roi_cols).groupBy(*join_keys).agg(
        F.collect_list(F.struct("CellID", "ROI_filename", "coords")).alias("_cells")
    )
    tagged = frames.select(
        "path",
        F.col("frame_index").alias("FrameID"),
        "height",
        "width",
        "data",
    ).join(cells_agg, join_keys)

    def frame_cells(pdf):
        cols = ("path", "FrameID", "height", "width", "data", "_cells")
        for path, frame_id, h, w, data, cells in zip(*(pdf[c] for c in cols)):
            yield (
                path,
                int(frame_id),
                _payload_image(data, int(h), int(w)),
                [int(c["CellID"]) for c in cells],
                [c["ROI_filename"] for c in cells],
                [[(p["x"], p["y"]) for p in c["coords"]] for c in cells],
            )

    def kernel(batches):
        for pdf in batches:
            yield _feature_rows(frame_cells(pdf))

    # CPU-bound kernel over tiny rows: spread with an explicit
    # ROUND-ROBIN repartition sized to cores so AQE's byte-based
    # coalescing cannot serialize all frames through one task (measured
    # 19s -> 1.9s at the 726-frame bench shape when coalesced). The
    # kernel needs no co-location by key — each row already carries a
    # complete frame — so round-robin replaces the old
    # repartitionByRange, whose RangePartitioner SAMPLING pass executed
    # the frames⋈cells join twice per action (measured ~1s/action at
    # the bench shape; guide §2.4 "remove shuffles outright").
    n = max(2, frames.sparkSession.sparkContext.defaultParallelism)
    return tagged.repartition(n).mapInPandas(kernel, FEATURES_SCHEMA)


def _traced_cells(m: np.ndarray, labels: list[int]) -> tuple[list[int], list[np.ndarray]]:
    """Ordered boundary coords of each requested mask label, exactly as
    ``mask_contours`` traces them (per-label bbox crop, largest
    4-connected component, Moore trace; trace order == the staged
    array_sort((seq,x,y)) order). The label bboxes come from ONE pass
    over the mask's foreground. Returns the positions of the labels
    present in the mask and their (n, 2) int64 (x, y) coords; a kept
    label absent from the mask is skipped (defensive)."""
    from cellphe_data_pipeline_spark.domain.images import (
        _largest_component,
        trace_outer_contour,
    )

    ys, xs = np.nonzero(m)
    order = np.argsort(m[ys, xs], kind="stable")  # row-major within each label
    ys, xs, lab = ys[order], xs[order], m[ys, xs][order]
    present, first = np.unique(lab, return_index=True)
    last = np.concatenate((first[1:], [len(lab)])) - 1
    x_lo, x_hi = np.minimum.reduceat(xs, first), np.maximum.reduceat(xs, first)
    found, coords = [], []
    for i, label in enumerate(labels):
        j = int(np.searchsorted(present, label))
        if j == len(present) or present[j] != label:
            continue
        y0, x0 = int(ys[first[j]]), int(x_lo[j])
        region = _largest_component(
            m[y0 : int(ys[last[j]]) + 1, x0 : int(x_hi[j]) + 1] == label
        )
        cxs, cys = trace_outer_contour(region)
        found.append(i)
        coords.append(np.column_stack([cxs + x0, cys + y0]).astype("int64"))
    return found, coords


def static_features_fused(fused: DataFrame, keep: DataFrame) -> DataFrame:
    """M4 over the pipeline's FUSED frame checkpoint (r17, guide §4/§2.4):
    contour tracing + feature extraction in ONE Python wave.

    ``fused``: the decode_segment_centroid rows (path, frame_index,
    height, width, data, mask, cents). ``keep``: the QC-surviving cell
    keys (path, FrameID, CellID, TRACK_ID) — NARROW rows.

    Equivalent to the staged pipeline M4 branch
    (``mask_rois(masks) ⋈ keep → roi_filename → static_features``),
    pinned by test, but the staged branch paid: a mask_contours Python
    wave over every mask, a corpus-wide groupBy shuffle of the contour
    PIXEL rows (collect_list per cell), the kept-cells join against
    those coords arrays, and a second aggregation nesting the coords
    back per frame. Here the only pre-kernel work is one aggregation of
    the NARROW keep keys per frame (collect_list of (CellID, TRACK_ID)
    structs — bytes per cell, not per boundary pixel) joined onto the
    fused rows (broadcast-sized at any realistic per-batch frame
    count), and the kernel traces each kept cell's contour from the
    mask raster it already holds (:func:`_traced_cells`) — the guide §8
    rule (shuffle keys/metadata, not payload-derived row sets) applied
    to the boundary geometry.

    Both entry points feed the same frame body (:func:`_frame_features`)
    through the same raster decode (:func:`_payload_image`); only the
    coords and ROI names come from here. The 3-part FRAME-TRACK-ID
    zero-padding widths are computed with the same global aggregate as
    the staged ``roi_filename`` — over ``keep``, whose row set equals
    the staged join's (every QC survivor has >= 1 mask pixel, hence >= 1
    contour row). Only KEPT cells are traced (the staged form traced
    every label, then discarded the QC failures at the join)."""
    widths = keep.agg(
        *[
            F.max(F.length(F.col(c).cast("string"))).alias(f"_w_{c}")
            for c in ("FrameID", "TRACK_ID", "CellID")
        ]
    )
    keep_agg = keep.groupBy("path", "FrameID").agg(
        F.collect_list(F.struct("CellID", "TRACK_ID")).alias("_keep")
    )
    tagged = (
        fused.select(
            "path",
            F.col("frame_index").alias("FrameID"),
            "height",
            "width",
            "data",
            "mask",
        )
        .join(keep_agg, ["path", "FrameID"])
        .crossJoin(F.broadcast(widths))
    )

    def frame_cells(pdf):
        cols = ("path", "FrameID", "height", "width", "data", "mask", "_keep")
        wf, wt, wc = (int(pdf[f"_w_{c}"].iloc[0]) for c in ("FrameID", "TRACK_ID", "CellID"))
        for path, frame_id, h, w, data, mask, cells in zip(*(pdf[c] for c in cols)):
            h, w, frame_id = int(h), int(w), int(frame_id)
            labels = [int(c["CellID"]) for c in cells]
            found, coords = _traced_cells(np.frombuffer(mask, dtype=np.uint16).reshape(h, w), labels)
            names = [
                "-".join((
                    str(frame_id).rjust(wf, "0"),
                    str(int(cells[i]["TRACK_ID"])).rjust(wt, "0"),
                    str(labels[i]).rjust(wc, "0"),
                ))
                for i in found
            ]
            yield path, frame_id, _payload_image(data, h, w), [labels[i] for i in found], names, coords

    def kernel(batches):
        for pdf in batches:
            yield _feature_rows(frame_cells(pdf))

    # same round-robin spread rationale as static_features
    n = max(2, fused.sparkSession.sparkContext.defaultParallelism)
    return tagged.repartition(n).mapInPandas(kernel, FEATURES_SCHEMA)
