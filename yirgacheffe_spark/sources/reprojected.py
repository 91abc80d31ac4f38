"""Lazy reprojection/resampling of a layer onto a new projection+pitch.

The reference warps per read window with GDAL (``_layers/reprojected.py``);
without GDAL this layer resamples analytically: for each requested target
pixel center, compute its source-CRS coordinate with the engine's closed-form
transforms, convert to source pixel indices, and gather.

Supported methods (the reference's eight, ``_layers/reprojected.py:14-46``):
``nearest`` (index gather, any separable CRS pair) and ``sum``/``average``/
``min``/``max``/``rms`` (block-stats over the source pixels whose centers map
into each target pixel — any coarsening factor, same-CRS or separable
cross-CRS, via segmented ``reduceat``) plus ``mode``/``med`` (fixed-size
blocks, so integer same-CRS factors only).  Bilinear-family kernels are
intentionally absent, as in the reference (chunked evaluation breaks their
support; ``reprojected.py:38-46``).
"""

from __future__ import annotations

from typing import Any

import numpy as np

from ..dtypes import DataType
from ..grid import MapProjection, Window
from ..reprojection import separable_pair, transform_point, transform_points
from .base import Layer, stable_hash

RESAMPLING_METHODS = ("nearest", "sum", "average", "min", "max", "mode", "med", "rms")
# Methods the segmented (reduceat) path supports: any coarsening factor,
# same-CRS or separable cross-CRS.  mode/med need fixed-size blocks and stay
# on the integer-factor reshape path.
_GENERAL_STATS = ("sum", "average", "min", "max", "rms", "med", "mode")


class _ExpressionLayer(Layer):
    """Adapter presenting an expression tree as a readable layer, so any
    node — not just sources — can be reprojected (reference wraps arbitrary
    nodes the same way, ``_operators/__init__.py:422-434``).  Reads evaluate
    the subtree through the fused local kernel (operator fusion + CSE), and
    inside Spark kernels the subtree's parquet leaves read through
    ``read_window`` over the task's read scope, like every parquet leaf.
    They are read on the source's grid, so the tile grid cannot predict
    their row groups: a read decodes what the scope lacks itself."""

    def __init__(self, tree):
        from ..operators import LayerOperation  # pylint: disable=C0415

        self._tree = tree if isinstance(tree, LayerOperation) else LayerOperation(tree)
        projection = self._tree.projection
        if projection is None:
            raise ValueError("Expression must carry a projection to reproject")
        area = self._tree.operation_area(projection)
        super().__init__(area, name="expr")

    @property
    def datatype(self) -> DataType:
        return self._tree.datatype

    @property
    def cse_hash(self) -> int | None:
        return self._tree.cse_hash

    def read_window(self, xoff: int, yoff: int, xsize: int, ysize: int, window: Window) -> Any:
        from ..plans.kernel import evaluate_window  # pylint: disable=C0415

        return evaluate_window(self._tree, xoff, yoff, xsize, ysize)


class ReprojectedLayer(Layer):
    def __init__(self, source, projection: MapProjection, method: str = "nearest",
                 name: str | None = None):
        if method not in RESAMPLING_METHODS:
            raise ValueError(f"Unsupported resampling method: {method}")
        if not isinstance(source, Layer):
            source = _ExpressionLayer(source)
        if source.projection is None:
            raise ValueError("Source layer must be projected")
        area = source.area.reproject(projection)
        super().__init__(area, name if name is not None else f"reproject:{source.name}")
        self._source = source
        self._method = method

    @property
    def datatype(self) -> DataType:
        return self._source.datatype

    @property
    def cse_hash(self) -> int | None:
        src = self._source.cse_hash
        if src is None:
            return None
        return stable_hash(src, self._underlying_area, self.projection,
                           self._method)

    def _block_stats_general(self, px0: int, py0: int, xsize: int, ysize: int) -> Any:
        """Segmented block statistics for arbitrary coarsening factors: each
        source pixel belongs to the target pixel its CENTER falls in, the
        per-axis segment boundaries come from inverse-mapping the target
        pixel edges (separable transforms), and the statistic reduces the
        preimage block with two ``reduceat`` passes (rows, then columns) —
        no per-pixel Python, reads only the preimage window."""
        target_proj = self.projection
        source_proj = self._source.projection
        assert target_proj is not None and source_proj is not None
        x_edges = self._underlying_area.left + (px0 + np.arange(xsize + 1)) * target_proj.xstep
        y_edges = self._underlying_area.top + (py0 + np.arange(ysize + 1)) * target_proj.ystep
        if source_proj.crs != target_proj.crs:
            if not separable_pair(target_proj.crs, source_proj.crs):
                raise NotImplementedError(
                    "Block-stats resampling needs an axis-separable CRS pair "
                    "(lat/lng <-> mercator); for non-separable pairs such as "
                    "UTM use method='nearest'"
                )
            x_edges = np.array(
                [transform_point(target_proj.crs, source_proj.crs, x, 0.0)[0] for x in x_edges]
            )
            y_edges = np.array(
                [transform_point(target_proj.crs, source_proj.crs, 0.0, y)[1] for y in y_edges]
            )
        src_area = self._source.area
        src_w, src_h = self._source.window.xsize, self._source.window.ysize

        def segments(edges, left, step):
            """(first_src_index, counts, src_lo, src_hi) for one axis.  The
            source range is NOT clipped to the stored extent: out-of-extent
            pixels read as zeros (``read_window`` pads), exactly like the
            integer-factor reshape path at raster edges."""
            # (edges - left) / step is ascending in source pixel units on
            # both axes (ystep is negative on both sides, cancelling).
            frac = (edges - left) / step
            if frac[0] > frac[-1]:
                raise NotImplementedError("Axis flip between CRSs is not supported")
            lo = int(np.floor(frac[0]))
            hi = int(np.ceil(frac[-1]))
            centers = np.arange(lo, hi) + 0.5
            which = np.searchsorted(frac, centers, side="right") - 1
            keep = (which >= 0) & (which < len(edges) - 1)
            centers, which = centers[keep], which[keep]
            counts = np.bincount(which, minlength=len(edges) - 1)
            if (counts == 0).any():
                raise NotImplementedError(
                    "Block-stats resampling needs every target pixel to cover "
                    ">= 1 source pixel (coarsening, not upsampling)"
                )
            first = np.zeros(len(counts), dtype=np.int64)
            np.cumsum(counts[:-1], out=first[1:])
            src_lo = int(centers[0] - 0.5)
            return first, counts, src_lo, src_lo + int(counts.sum())

        fx_first, fx_counts, c0, c1 = segments(x_edges, src_area.left, source_proj.xstep)
        fy_first, fy_counts, r0, r1 = segments(y_edges, src_area.top, source_proj.ystep)
        block = np.asarray(
            self._source.read_window(c0, r0, c1 - c0, r1 - r0, self._source.window)
        )
        # Dtype must match the integer-factor reshape path for the same
        # method — a ReprojectedLayer's result dtype must not change with
        # the scale factor: min/max keep the native dtype, sum widens ints
        # to int64 (numpy's ndarray.sum default), average/med/rms follow
        # numpy mean/median promotion (ints -> float64, floats preserved).
        if self._method == "min":
            rows = np.minimum.reduceat(block, fy_first, axis=0)
            return np.minimum.reduceat(rows, fx_first, axis=1)
        if self._method == "max":
            rows = np.maximum.reduceat(block, fy_first, axis=0)
            return np.maximum.reduceat(rows, fx_first, axis=1)
        if self._method == "sum":
            acc = block.astype(np.int64) if block.dtype.kind in "iub" else block
            rows = np.add.reduceat(acc, fy_first, axis=0)
            return np.add.reduceat(rows, fx_first, axis=1)
        if self._method in ("med", "mode"):
            return self._med_mode_padded(
                block, fy_first, fy_counts, fx_first, fx_counts
            )
        if self._method == "rms":
            values = np.square(block.astype(np.float64))
        else:  # average
            values = block.astype(np.float64) if block.dtype.kind in "iub" else block
        rows = np.add.reduceat(values, fy_first, axis=0)
        total = np.add.reduceat(rows, fx_first, axis=1)
        # Cast counts to the accumulator dtype so float32 averages stay
        # float32 (float32 / int64 would silently widen to float64).
        area = (fy_counts[:, np.newaxis] * fx_counts[np.newaxis, :]).astype(total.dtype)
        if self._method == "average":
            return total / area
        return np.sqrt(total / area)  # rms

    def _med_mode_padded(self, block, fy_first, fy_counts, fx_first, fx_counts):
        """Median / mode over VARIABLE-size blocks: gather each output
        pixel's contributing source pixels into a padded (Y, X, max_block)
        cube (+inf pads sort to the end and never win), sort once along the
        block axis, then index medians / run-length modes per pixel — fully
        vectorised, no per-pixel Python.  Padding overhead is bounded by
        (max_count/min_count)^2 per axis, ~ (ceil(f)/floor(f))^2 for scale
        factor f.  Matches the integer-factor reshape path bit-for-bit at
        integer factors (tie rule for mode: smallest value wins)."""
        ysize, xsize = len(fy_counts), len(fx_counts)
        max_fy, max_fx = int(fy_counts.max()), int(fx_counts.max())
        ri = fy_first[:, None] + np.arange(max_fy)[None, :]
        rvalid = np.arange(max_fy)[None, :] < fy_counts[:, None]
        ri = np.where(rvalid, ri, 0)
        ci = fx_first[:, None] + np.arange(max_fx)[None, :]
        cvalid = np.arange(max_fx)[None, :] < fx_counts[:, None]
        ci = np.where(cvalid, ci, 0)
        gathered = block[ri[:, :, None, None], ci[None, None, :, :]].astype(np.float64)
        valid = rvalid[:, :, None, None] & cvalid[None, None, :, :]
        cube = np.where(valid, gathered, np.inf)
        cube = cube.transpose(0, 2, 1, 3).reshape(ysize, xsize, max_fy * max_fx)
        cube.sort(axis=2)
        cnt = fy_counts[:, None] * fx_counts[None, :]
        if self._method == "med":
            lo_i = np.maximum((cnt - 1) // 2, 0)
            lo = np.take_along_axis(cube, lo_i[:, :, None], axis=2)[:, :, 0]
            hi = np.take_along_axis(cube, (cnt // 2)[:, :, None], axis=2)[:, :, 0]
            # np.median semantics: float64, mean of the two middles.  A
            # zero-count segment (degenerate boundary) gets a defined 0.0
            # instead of the inf pad.
            return np.where(cnt > 0, np.mean(np.stack([lo, hi]), axis=0), 0.0)
        # mode: longest run of equal values among the leading cnt entries;
        # ties -> smallest value (first run in sorted order).  Run lengths
        # come straight from the change-point indices — each slot's run
        # length is (next run start) - (own run start), computed with two
        # accumulates along the block axis: O(K) per pixel, not the O(K^2)
        # per-slot recount of the previous revision.
        kdim = cube.shape[2]
        change = np.concatenate(
            [
                np.ones((ysize, xsize, 1), dtype=bool),
                cube[:, :, 1:] != cube[:, :, :-1],
            ],
            axis=2,
        )
        idx = np.arange(kdim, dtype=np.int64)[None, None, :]
        run_start = np.maximum.accumulate(np.where(change, idx, 0), axis=2)
        nxt = np.where(change, idx, kdim)
        nxt = np.concatenate(
            [nxt[:, :, 1:], np.full((ysize, xsize, 1), kdim, dtype=np.int64)],
            axis=2,
        )
        next_start = np.minimum.accumulate(nxt[:, :, ::-1], axis=2)[:, :, ::-1]
        run_len = np.where(np.isfinite(cube), next_start - run_start, 0)
        # argmax takes the FIRST maximal slot: sorted order makes that the
        # smallest value among tied runs — same tie rule as the reshape path.
        best_j = np.argmax(run_len, axis=2)
        out = np.take_along_axis(cube, best_j[:, :, None], axis=2)[:, :, 0]
        # All-pad pixels (cnt == 0) have no finite run: define the fill as 0
        # before the integer astype (inf -> int is undefined).
        out = np.where(np.take_along_axis(run_len, best_j[:, :, None], axis=2)[:, :, 0] > 0, out, 0.0)
        return out.astype(block.dtype)

    def read_window(self, xoff: int, yoff: int, xsize: int, ysize: int, window: Window) -> Any:
        if xsize <= 0 or ysize <= 0:
            raise ValueError("Request dimensions must be positive and non-zero")
        target_proj = self.projection
        source_proj = self._source.projection
        assert target_proj is not None and source_proj is not None

        px0 = window.xoff + xoff
        py0 = window.yoff + yoff
        # Target pixel centers in target CRS coords.
        tx = self._underlying_area.left + (px0 + np.arange(xsize) + 0.5) * target_proj.xstep
        ty = self._underlying_area.top + (py0 + np.arange(ysize) + 0.5) * target_proj.ystep

        same_crs = source_proj.crs == target_proj.crs
        if not same_crs and self._method not in ("nearest",) + _GENERAL_STATS:
            raise NotImplementedError(
                f"{self._method} resampling across CRSs is not supported"
            )
        if not same_crs and self._method in _GENERAL_STATS:
            return self._block_stats_general(px0, py0, xsize, ysize)
        if self._method == "nearest":
            src_area = self._source.area
            src_w, src_h = self._source.window.xsize, self._source.window.ysize
            if not same_crs and not separable_pair(target_proj.crs, source_proj.crs):
                # Non-separable pair (e.g. UTM <-> lat/lng): forward-project
                # the FULL grid of target centers (vectorised, O(tile)) and
                # gather with 2-D index arrays.
                gx, gy = np.meshgrid(tx, ty)
                sx2, sy2 = transform_points(
                    target_proj.crs, source_proj.crs, gx.ravel(), gy.ravel()
                )
                cols = np.floor(
                    (sx2 - src_area.left) / source_proj.xstep
                ).astype(np.int64).reshape(ysize, xsize)
                rows = np.floor(
                    (sy2 - src_area.top) / source_proj.ystep
                ).astype(np.int64).reshape(ysize, xsize)
                valid = (cols >= 0) & (cols < src_w) & (rows >= 0) & (rows < src_h)
                if not valid.any():
                    return np.zeros((ysize, xsize), dtype=self._source.datatype.to_numpy())
                r0 = int(rows[valid].min())
                r1 = int(rows[valid].max()) + 1
                c0 = int(cols[valid].min())
                c1 = int(cols[valid].max()) + 1
                data = np.asarray(
                    self._source.read_window(c0, r0, c1 - c0, r1 - r0, self._source.window)
                )
                out = np.zeros((ysize, xsize), dtype=data.dtype)
                rr = np.clip(rows, r0, r1 - 1) - r0
                cc = np.clip(cols, c0, c1 - 1) - c0
                out[valid] = data[rr, cc][valid]
                return out
            if same_crs:
                sx, sy = tx, ty
            else:
                # Separable transforms (lat/lng <-> mercator) let us transform
                # the two axes independently.
                sx = np.array([transform_point(target_proj.crs, source_proj.crs, x, 0.0)[0] for x in tx])
                sy = np.array([transform_point(target_proj.crs, source_proj.crs, 0.0, y)[1] for y in ty])
            cols = np.floor((sx - src_area.left) / source_proj.xstep).astype(np.int64)
            rows = np.floor((sy - src_area.top) / source_proj.ystep).astype(np.int64)
            valid_c = (cols >= 0) & (cols < src_w)
            valid_r = (rows >= 0) & (rows < src_h)
            if not (valid_r.any() and valid_c.any()):
                return np.zeros((ysize, xsize), dtype=self._source.datatype.to_numpy())
            # Read only the request's preimage bounding box, never the whole
            # source: per-tile evaluation must stay O(tile), not O(raster).
            r0 = int(rows[valid_r].min())
            r1 = int(rows[valid_r].max()) + 1
            c0 = int(cols[valid_c].min())
            c1 = int(cols[valid_c].max()) + 1
            data = np.asarray(
                self._source.read_window(c0, r0, c1 - c0, r1 - r0, self._source.window)
            )
            out = np.zeros((ysize, xsize), dtype=data.dtype)
            rr = np.clip(rows, r0, r1 - 1) - r0
            cc = np.clip(cols, c0, c1 - 1) - c0
            gathered = data[np.ix_(rr, cc)]
            mask = valid_r[:, np.newaxis] & valid_c[np.newaxis, :]
            out[mask] = gathered[mask]
            return out

        # Block statistics.  Integer same-CRS factors use the exact reshape
        # path (also the only home of mode/med, which need fixed-size
        # blocks); every other coarsening — non-integer factors and
        # separable cross-CRS — goes through segmented reduceat stats over
        # the preimage window.
        fx = abs(target_proj.xstep / source_proj.xstep)
        fy = abs(target_proj.ystep / source_proj.ystep)
        if not (float(fx).is_integer() and float(fy).is_integer()):
            if self._method not in _GENERAL_STATS:
                raise NotImplementedError(
                    f"{self._method} needs integer scale factors, got {fx}x{fy}"
                )
            return self._block_stats_general(px0, py0, xsize, ysize)
        fx, fy = int(fx), int(fy)
        src_area = self._source.area
        col0 = int(np.floor((tx[0] - 0.5 * target_proj.xstep - src_area.left) / source_proj.xstep))
        row0 = int(np.floor((ty[0] - 0.5 * target_proj.ystep - src_area.top) / source_proj.ystep))
        block = np.asarray(
            self._source.read_window(
                0, 0, xsize * fx, ysize * fy, Window(col0, row0, xsize * fx, ysize * fy)
            )
        )
        shaped = block.reshape(ysize, fy, xsize, fx)
        if self._method == "sum":
            return shaped.sum(axis=(1, 3))
        if self._method == "average":
            return shaped.mean(axis=(1, 3))
        if self._method == "min":
            return shaped.min(axis=(1, 3))
        if self._method == "max":
            return shaped.max(axis=(1, 3))
        if self._method == "med":
            return np.median(shaped, axis=(1, 3))
        if self._method == "rms":
            return np.sqrt(np.mean(np.square(shaped.astype(np.float64)), axis=(1, 3)))
        # mode: most frequent value per block (ties -> smallest value).
        flat = shaped.transpose(0, 2, 1, 3).reshape(ysize, xsize, fy * fx)
        out = np.empty((ysize, xsize), dtype=block.dtype)
        vals = np.sort(flat, axis=2)
        # Run-length trick: the longest run of equal values is the mode.
        change = np.concatenate(
            [np.ones((ysize, xsize, 1), dtype=bool), vals[:, :, 1:] != vals[:, :, :-1]], axis=2
        )
        run_ids = np.cumsum(change, axis=2)
        best_count = np.zeros((ysize, xsize), dtype=np.int64)
        out[:] = vals[:, :, 0]
        for k in range(vals.shape[2]):
            counts = np.sum(run_ids == run_ids[:, :, k : k + 1], axis=2)
            better = counts > best_count
            out = np.where(better, vals[:, :, k], out)
            best_count = np.maximum(best_count, counts)
        return out
