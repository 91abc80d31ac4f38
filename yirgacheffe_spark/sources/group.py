"""Mosaic layers: present many rasters as one.

Semantics follow the reference (``_layers/group.py:20-167``): the union of
child extents is the group extent; on overlap the *first-listed* layer wins;
layers with a nodata value only contribute their non-NaN pixels, letting
lower-priority tiles show through the holes; missing regions read as zeros.

Execution note: a group evaluates inside the tile kernel by compositing its
children's reads per tile, so the mosaic costs no extra shuffle.  Each child
read is in-memory, generated, or, for a parquet child, ``read_window`` over
the task's read scope, into which the tile grid has decoded the tile's row
groups of every child ahead of the tile (``kernel.parquet_leaves`` looks
through mosaics, and each child says which row groups it reads).  (A
union-all of per-child pruned scans with a priority column is the
alternative for thousands-of-children mosaics, where per-tile reads of
every child would dominate; not needed at current coverage.)
"""

from __future__ import annotations

from functools import reduce
from typing import Any, Sequence

import numpy as np

from ..dtypes import DataType
from ..grid import Window
from .base import Layer, stable_hash


class GroupLayerEmpty(ValueError):
    def __init__(self, msg):
        super().__init__(msg)
        self.msg = msg


class GroupLayer(Layer):
    def __init__(self, layers: Sequence[Layer], name: str | None = None):
        if not layers:
            raise GroupLayerEmpty("Expected one or more layers")
        if not all(x.projection == layers[0].projection for x in layers):
            raise ValueError("Not all layers are the same projection/scale")
        union = reduce(lambda a, b: a | b, [x.area for x in layers])
        super().__init__(union, name=name)
        # Reversed so that painting in order leaves the user's first layer on top.
        self._layers_reversed = list(layers)[::-1]

    @classmethod
    def layer_from_files(cls, paths: Sequence[str], name: str | None = None) -> "GroupLayer":
        if paths is None:
            raise ValueError("paths argument is None")
        # Route through read_raster so mosaics mix parquet tile tables and
        # GeoTIFF files freely (format sniffed per path).
        import yirgacheffe_spark as yg  # pylint: disable=C0415

        layers = [yg.read_raster(p) for p in paths]
        if not layers:
            raise GroupLayerEmpty("No files found")
        return cls(layers, name)

    @property
    def datatype(self) -> DataType:
        return self._layers_reversed[0].datatype

    @property
    def cse_hash(self) -> int | None:
        return stable_hash(tuple(x.cse_hash for x in self._layers_reversed))

    def read_window(self, xoffset: int, yoffset: int, xsize: int, ysize: int, window: Window) -> Any:
        if xsize <= 0 or ysize <= 0:
            raise ValueError("Request dimensions must be positive and non-zero")
        projection = self.projection
        assert projection is not None

        target = Window(window.xoff + xoffset, window.yoff + yoffset, xsize, ysize)
        result = np.zeros((ysize, xsize), dtype=float)

        for layer in self._layers_reversed:
            # Each child's pixel window, shifted into group pixel space.
            dx, dy = projection.round_down_pixels(
                (layer.area.left - self._underlying_area.left) / projection.xstep,
                (layer.area.top - self._underlying_area.top) / projection.ystep,
            )
            child_window = Window(
                layer.window.xoff + dx, layer.window.yoff + dy,
                layer.window.xsize, layer.window.ysize,
            )
            overlap = Window.intersection_or_none([target, child_window])
            if overlap is None:
                continue
            data = np.asarray(
                layer.read_window(
                    overlap.xoff - child_window.xoff,
                    overlap.yoff - child_window.yoff,
                    overlap.xsize,
                    overlap.ysize,
                    layer.window,
                )
            )
            oy = overlap.yoff - target.yoff
            ox = overlap.xoff - target.xoff
            view = result[oy : oy + overlap.ysize, ox : ox + overlap.xsize]
            if layer.nodata is None:
                view[:] = data
            else:
                # NaN holes fall through to whatever was painted below.
                keep = np.isnan(data)
                view[:] = np.where(keep, view, data)
        return result


class TiledGroupLayer(GroupLayer):
    """Mosaic of a regular tile grid (missing tiles read as zeros, edge
    overlaps deduplicated).  The reference's hand-rolled hstack/vstack
    assembly (``group.py:208-382``) existed to avoid slow paste loops over
    GDAL reads; a vectorised paste is already optimal here, so this shares
    ``GroupLayer``'s implementation."""
