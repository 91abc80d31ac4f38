"""Common layer behaviour: extent bookkeeping and grid-aligned region reads.

The realignment math in ``target_window`` is the heart of "tile assignments
match exactly": a computation area is first shifted onto *this* layer's
sub-pixel grid wobble, then converted to integer pixel offsets with the
metre-threshold rounding rules (semantics of the reference's
``_layers/base.py:111-150``).
"""

from __future__ import annotations

import hashlib
import uuid
from typing import Any

import numpy as np

from ..dtypes import DataType
from ..grid import Area, MapProjection, Window
from ..operators import LayerMathMixin


def stable_hash(*parts) -> int:
    """Process-stable structural hash for leaf identity tuples.

    Python's ``hash()`` salts str/bytes per process; leaf ``cse_hash`` is
    computed on the DRIVER (collect_hash_counts) but recomputed on WORKERS
    (kernel.eval_tree), so a salted hash makes the shared-subexpression
    membership test silently miss on every worker and leaf-level per-tile
    CSE never fires.  This hashes the repr (deterministic for the str /
    float / int / Area / MapProjection / DataType members leaves use) via
    blake2b — identical in every process, no PYTHONHASHSEED assumption."""
    digest = hashlib.blake2b(repr(parts).encode(), digest_size=8).digest()
    return int.from_bytes(digest, "big", signed=True)


class Layer(LayerMathMixin):
    """Base class for all pixel sources.

    Subclasses implement ``read_window(xoff, yoff, xsize, ysize, window)``:
    return the pixels of ``window`` displaced by ``(xoff, yoff)`` with size
    ``(xsize, ysize)``, zero-filled where the request leaves the stored
    extent.  Everything else (realignment, planning metadata) lives here.
    """

    def __init__(self, area: Area, name: str | None = None):
        self._underlying_area = area
        self._window: Window | None = None
        self.name = name if name is not None else str(uuid.uuid4())

        if self.projection is not None and not area.is_world:
            width, height = self.projection.round_up_pixels(
                (area.right - area.left) / self.projection.xstep,
                (area.bottom - area.top) / self.projection.ystep,
            )
            self._window = Window(0, 0, width, height)

    # -- planning metadata ---------------------------------------------------
    @property
    def area(self) -> Area:
        return self._underlying_area

    @property
    def projection(self) -> MapProjection | None:
        return self._underlying_area.projection

    @property
    def window(self) -> Window:
        if self._window is None:
            raise AttributeError("Layer has no window")
        return self._window

    @property
    def dimensions(self) -> tuple[int, int]:
        w = self.window
        return (w.xsize, w.ysize)

    @property
    def datatype(self) -> DataType:
        raise NotImplementedError("Must be overridden by subclass")

    @property
    def nodata(self):
        return None

    @property
    def cse_hash(self) -> int | None:
        raise NotImplementedError("Must be overridden by subclass")

    def operation_area(
        self, projection: MapProjection | None = None, _force_union: bool = False, top_level: bool = False
    ) -> Area:
        mine = self.projection
        if mine is not None and projection is not None and mine != projection:
            raise ValueError("Calculation projection does not match layer projection")
        return self.area

    def close(self):
        pass

    def __enter__(self):
        return self

    def __exit__(self, exc_type, exc_val, exc_tb):
        self.close()

    # -- reading ---------------------------------------------------------------
    def read_window(self, xoff: int, yoff: int, xsize: int, ysize: int, window: Window) -> Any:
        raise NotImplementedError("Must be overridden by subclass")

    def target_window(self, target_area: Area) -> Window:
        """The pixel window that ``target_area`` spans on this layer's grid:
        the frame of every read of this layer for a computation over
        ``target_area``."""
        assert self.projection is not None

        # Shift the target area onto this layer's sub-pixel wobble so the two
        # grids coincide before any pixel arithmetic happens.
        target_offset = target_area._grid_offset
        if target_offset is not None:
            own_offset = self._underlying_area._grid_offset
            assert own_offset is not None
            dx = own_offset[0] - target_offset[0]
            dy = own_offset[1] - target_offset[1]
            target_area = Area(
                target_area.left + dx,
                target_area.top + dy,
                target_area.right + dx,
                target_area.bottom + dy,
                target_area.projection,
            )

        xoff, yoff = self.projection.round_down_pixels(
            (target_area.left - self._underlying_area.left) / self.projection.xstep,
            (self._underlying_area.top - target_area.top) / (self.projection.ystep * -1.0),
        )
        xsize, ysize = self.projection.round_up_pixels(
            (target_area.right - target_area.left) / self.projection.xstep,
            (target_area.top - target_area.bottom) / (self.projection.ystep * -1.0),
        )
        return Window(xoff, yoff, xsize, ysize)

    def read_region(
        self,
        target_area: Area,
        target_projection: MapProjection,
        x: int,
        y: int,
        width: int,
        height: int,
    ) -> Any:
        """Read ``(width, height)`` pixels at offset ``(x, y)`` within the
        pixel window that ``target_area`` spans on this layer's grid
        (``target_window``)."""
        assert self.projection == target_projection
        return self.read_window(x, y, width, height, self.target_window(target_area))

    def read_array(self, x: int, y: int, width: int, height: int, spark=None) -> np.ndarray:
        """Direct (non-distributed) read against this layer's own window.

        ``spark`` is accepted for signature parity with expression results
        and ignored: a bare source read needs no cluster.
        """
        return np.asarray(self.read_window(x, y, width, height, self.window))


def pad_to_window(
    data: np.ndarray,
    stored: Window,
    requested: Window,
) -> np.ndarray:
    """Zero-pad ``data`` (covering ``stored``) out to ``requested``."""
    before_y = stored.yoff - requested.yoff
    after_y = requested.ymax - stored.ymax
    before_x = stored.xoff - requested.xoff
    after_x = requested.xmax - stored.xmax
    return np.pad(
        data,
        ((max(before_y, 0), max(after_y, 0)), (max(before_x, 0), max(after_x, 0))),
        mode="constant",
    )
