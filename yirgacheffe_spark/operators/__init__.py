"""The lazy layer-algebra expression tree.

Users combine layers with overloaded numpy-style operators; nothing executes
until a terminal action (``sum``/``min``/``max``/``unique``/``save``/
``read_array``/``to_pandas``).  The tree is the engine's logical IR: the
planner (``yirgacheffe_spark.plans``) compiles it to a tile-partitioned Spark
DataFrame plan and evaluates the whole tree fused inside one Arrow-vectorized
kernel per tile.

Operator surface and window semantics mirror the reference
(``yirgacheffe/_operators/__init__.py:79-323``, ``_backends/enumeration.py:8-62``):
every binary op carries a WindowOp that drives output-extent inference — UNION
for identity-0 ops (``+ - pow != < <= > >= | logical_or/xor min/max``),
INTERSECTION for annihilator-0 ops (``* / // % == & << >> logical_and``).
"""

from __future__ import annotations

import math
from enum import Enum
from functools import reduce
from typing import Any, Callable

import numpy as np

from ..dtypes import DataType, result_datatype, scalar_datatype
from ..grid import Area, MapProjection, Window
from .. import constants


class WindowOp(Enum):
    NONE = 1
    UNION = 2
    INTERSECTION = 3


class Op(Enum):
    ADD = "add"
    SUB = "sub"
    MUL = "mul"
    TRUEDIV = "truediv"
    POW = "pow"
    EQ = "eq"
    NE = "ne"
    LT = "lt"
    LE = "le"
    GT = "gt"
    GE = "ge"
    AND = "and"
    OR = "or"
    LOG = "log"
    LOG2 = "log2"
    LOG10 = "log10"
    EXP = "exp"
    EXP2 = "exp2"
    CLIP = "clip"
    WHERE = "where"
    MINIMUM = "minimum"
    MAXIMUM = "maximum"
    NAN_TO_NUM = "nan_to_num"
    ISIN = "isin"
    REMAINDER = "remainder"
    FLOORDIV = "floordiv"
    CONV2D = "conv2d"
    ABS = "abs"
    ASTYPE = "astype"
    FLOOR = "floor"
    ROUND = "round"
    CEIL = "ceil"
    ISNAN = "isnan"
    RADD = "radd"
    RSUB = "rsub"
    RMUL = "rmul"
    RTRUEDIV = "rtruediv"
    RFLOORDIV = "rfloordiv"
    RREMAINDER = "rremainder"
    RPOW = "rpow"
    NEG = "neg"
    POS = "pos"
    LSHIFT = "lshift"
    RSHIFT = "rshift"
    ASAREA = "asarea"
    ASPROJECTION = "asprojection"
    LOGICAL_AND = "logical_and"
    LOGICAL_OR = "logical_or"
    LOGICAL_XOR = "logical_xor"
    LOGICAL_NOT = "logical_not"


def _conv2d(data: np.ndarray, weights: np.ndarray) -> np.ndarray:
    """2-D cross-correlation (torch Conv2d convention, no kernel flip).

    The caller supplies a halo-grown input; output shrinks by k-1 per axis.

    Fast path: for INTEGER data with integer-valued weights whose worst-
    case accumulator stays below 2^53, every product and partial sum is an
    exactly-representable float64 integer, so the result is independent of
    evaluation order — a uniform kernel collapses to a cumsum box filter
    and a general integer kernel to shifted adds, both several times
    cheaper than the strided einsum while provably bit-identical to it.
    Float inputs (including NaN-substituted nodata) keep the einsum."""
    wf = weights.astype(np.float64)
    if np.issubdtype(data.dtype, np.integer) and np.all(wf == np.rint(wf)):
        info = np.iinfo(data.dtype)
        bound = float(np.abs(wf).sum()) * float(max(abs(info.min), info.max))
        if bound < 2.0**53:
            kh, kw = weights.shape
            oh, ow = data.shape[0] - kh + 1, data.shape[1] - kw + 1
            if oh <= 0 or ow <= 0:
                pass  # keep the einsum path's error behaviour
            elif np.all(wf == wf.flat[0]) and data.dtype.itemsize <= 4:
                # Uniform kernel: separable box sums via cumsum diffs
                # (exact integer arithmetic in int64).
                c = np.cumsum(data, axis=0, dtype=np.int64)
                rows = np.empty((oh, data.shape[1]), dtype=np.int64)
                rows[0] = c[kh - 1]
                rows[1:] = c[kh:] - c[:-kh]
                c2 = np.cumsum(rows, axis=1)
                out = np.empty((oh, ow), dtype=np.int64)
                out[:, 0] = c2[:, kw - 1]
                out[:, 1:] = c2[:, kw:] - c2[:, :-kw]
                return out.astype(np.float64) * wf.flat[0]
            else:
                out = np.zeros((oh, ow), dtype=np.float64)
                for k in range(kh):
                    for l in range(kw):
                        if wf[k, l]:
                            out += data[k:k + oh, l:l + ow] * wf[k, l]
                return out
    view = np.lib.stride_tricks.sliding_window_view(data, weights.shape)
    return np.einsum("ijkl,kl->ij", view, wf)


def _astype(data: np.ndarray, datatype: DataType) -> np.ndarray:
    return data.astype(datatype.to_numpy())


# Numpy kernel for each operator.  All run whole-tile (Arrow batch -> numpy),
# never per-pixel Python.
KERNELS: dict[Op, Callable] = {
    Op.ADD: lambda a, b: a + b,
    Op.RADD: lambda a, b: b + a,
    Op.SUB: lambda a, b: a - b,
    Op.RSUB: lambda a, b: b - a,
    Op.MUL: lambda a, b: a * b,
    Op.RMUL: lambda a, b: b * a,
    Op.TRUEDIV: lambda a, b: a / b,
    Op.RTRUEDIV: lambda a, b: b / a,
    Op.FLOORDIV: lambda a, b: a // b,
    Op.RFLOORDIV: lambda a, b: b // a,
    Op.REMAINDER: lambda a, b: a % b,
    Op.RREMAINDER: lambda a, b: b % a,
    Op.POW: lambda a, b: a**b,
    Op.RPOW: lambda a, b: b**a,
    Op.EQ: lambda a, b: a == b,
    Op.NE: lambda a, b: a != b,
    Op.LT: lambda a, b: a < b,
    Op.LE: lambda a, b: a <= b,
    Op.GT: lambda a, b: a > b,
    Op.GE: lambda a, b: a >= b,
    Op.AND: lambda a, b: a & b,
    Op.OR: lambda a, b: a | b,
    Op.LSHIFT: lambda a, b: a << b,
    Op.RSHIFT: lambda a, b: a >> b,
    Op.LOG: np.log,
    Op.LOG2: np.log2,
    Op.LOG10: np.log10,
    Op.EXP: np.exp,
    Op.EXP2: np.exp2,
    Op.CLIP: np.clip,
    Op.WHERE: np.where,
    Op.MINIMUM: np.minimum,
    Op.MAXIMUM: np.maximum,
    Op.NAN_TO_NUM: np.nan_to_num,
    Op.ISIN: np.isin,
    Op.ABS: np.abs,
    Op.FLOOR: np.floor,
    Op.ROUND: np.round,
    Op.CEIL: np.ceil,
    Op.ISNAN: np.isnan,
    Op.NEG: lambda a: -a,
    Op.POS: lambda a: +a,
    Op.CONV2D: _conv2d,
    Op.ASTYPE: _astype,
    Op.ASAREA: lambda a, new_area: a,  # planning-only: rescopes the extent
    Op.ASPROJECTION: lambda a, projection, method: a,  # planning-only
    Op.LOGICAL_AND: np.logical_and,
    Op.LOGICAL_OR: np.logical_or,
    Op.LOGICAL_XOR: np.logical_xor,
    Op.LOGICAL_NOT: np.logical_not,
}


class LayerConstant:
    """A scalar lifted into the algebra; extent is the whole world."""

    def __init__(self, val):
        self.val = val
        self.name = str(val)

    def __str__(self):
        return str(self.val)

    @property
    def cse_hash(self) -> int | None:
        # Include the type: hash(1) == hash(1.0) == hash(True), so (a + 1)
        # and (a + 1.0) would otherwise merge into ONE CSE cache line even
        # though their numpy result dtypes (and values, e.g. uint8 wrap vs
        # float widen) differ — silently wrong pixels with no error.
        return hash((type(self.val).__name__, self.val))

    @property
    def datatype(self) -> DataType:
        return scalar_datatype(self.val)

    @property
    def area(self) -> Area:
        return Area.world()

    @property
    def projection(self) -> None:
        return None

    def operation_area(self, _projection, _force_union=False, top_level=False) -> Area:
        return Area.world()

    def read_region(self, _area, _projection, _x, _y, _width, _height):
        # Scalars stay scalar; numpy broadcasting handles the rest.
        return self.val


class LayerMathMixin:
    """Operator overloads shared by every layer and by operation nodes."""

    # -- binary arithmetic ------------------------------------------------
    def __add__(self, other):
        return LayerOperation(self, Op.ADD, other, window_op=WindowOp.UNION)

    def __radd__(self, other):
        return LayerOperation(self, Op.RADD, other, window_op=WindowOp.UNION)

    def __sub__(self, other):
        return LayerOperation(self, Op.SUB, other, window_op=WindowOp.UNION)

    def __rsub__(self, other):
        return LayerOperation(self, Op.RSUB, other, window_op=WindowOp.UNION)

    def __mul__(self, other):
        return LayerOperation(self, Op.MUL, other, window_op=WindowOp.INTERSECTION)

    def __rmul__(self, other):
        return LayerOperation(self, Op.RMUL, other, window_op=WindowOp.INTERSECTION)

    def __truediv__(self, other):
        return LayerOperation(self, Op.TRUEDIV, other, window_op=WindowOp.INTERSECTION)

    def __rtruediv__(self, other):
        return LayerOperation(self, Op.RTRUEDIV, other, window_op=WindowOp.INTERSECTION)

    def __floordiv__(self, other):
        return LayerOperation(self, Op.FLOORDIV, other, window_op=WindowOp.INTERSECTION)

    def __rfloordiv__(self, other):
        return LayerOperation(self, Op.RFLOORDIV, other, window_op=WindowOp.INTERSECTION)

    def __mod__(self, other):
        return LayerOperation(self, Op.REMAINDER, other, window_op=WindowOp.INTERSECTION)

    def __rmod__(self, other):
        return LayerOperation(self, Op.RREMAINDER, other, window_op=WindowOp.INTERSECTION)

    def __pow__(self, other):
        return LayerOperation(self, Op.POW, other, window_op=WindowOp.UNION)

    def __rpow__(self, other):
        return LayerOperation(self, Op.RPOW, other, window_op=WindowOp.UNION)

    # -- comparisons (note: == intersects, != unions, matching identity-0) --
    def __eq__(self, other):  # type: ignore[override]
        return LayerOperation(self, Op.EQ, other, window_op=WindowOp.INTERSECTION)

    def __ne__(self, other):  # type: ignore[override]
        return LayerOperation(self, Op.NE, other, window_op=WindowOp.UNION)

    def __lt__(self, other):
        return LayerOperation(self, Op.LT, other, window_op=WindowOp.UNION)

    def __le__(self, other):
        return LayerOperation(self, Op.LE, other, window_op=WindowOp.UNION)

    def __gt__(self, other):
        return LayerOperation(self, Op.GT, other, window_op=WindowOp.UNION)

    def __ge__(self, other):
        return LayerOperation(self, Op.GE, other, window_op=WindowOp.UNION)

    __hash__ = None  # type: ignore[assignment]  # == builds expressions

    # -- bitwise -----------------------------------------------------------
    def __and__(self, other):
        return LayerOperation(self, Op.AND, other, window_op=WindowOp.INTERSECTION)

    def __or__(self, other):
        return LayerOperation(self, Op.OR, other, window_op=WindowOp.UNION)

    def __lshift__(self, other):
        return LayerOperation(self, Op.LSHIFT, other, window_op=WindowOp.INTERSECTION)

    def __rshift__(self, other):
        return LayerOperation(self, Op.RSHIFT, other, window_op=WindowOp.INTERSECTION)

    # -- unary / kwargs ops -------------------------------------------------
    def __neg__(self):
        return LayerOperation(self, Op.NEG)

    def __pos__(self):
        return LayerOperation(self, Op.POS)

    def abs(self):
        return LayerOperation(self, Op.ABS)

    def floor(self):
        return LayerOperation(self, Op.FLOOR)

    def round(self):
        return LayerOperation(self, Op.ROUND)

    def ceil(self):
        return LayerOperation(self, Op.CEIL)

    def log(self):
        return LayerOperation(self, Op.LOG)

    def log2(self):
        return LayerOperation(self, Op.LOG2)

    def log10(self):
        return LayerOperation(self, Op.LOG10)

    def exp(self):
        return LayerOperation(self, Op.EXP)

    def exp2(self):
        return LayerOperation(self, Op.EXP2)

    def isnan(self):
        return LayerOperation(self, Op.ISNAN)

    def isin(self, test_elements):
        return LayerOperation(self, Op.ISIN, test_elements=tuple(test_elements))

    def nan_to_num(self, nan=0, posinf=None, neginf=None):
        return LayerOperation(
            self, Op.NAN_TO_NUM, copy=False, nan=nan, posinf=posinf, neginf=neginf
        )

    def clip(self, min=None, max=None):  # pylint: disable=W0622
        return LayerOperation(self, Op.CLIP, a_min=min, a_max=max)

    def logical_and(self, other):
        return LayerOperation(self, Op.LOGICAL_AND, other, window_op=WindowOp.INTERSECTION)

    def logical_or(self, other):
        return LayerOperation(self, Op.LOGICAL_OR, other, window_op=WindowOp.UNION)

    def logical_xor(self, other):
        return LayerOperation(self, Op.LOGICAL_XOR, other, window_op=WindowOp.UNION)

    def logical_not(self):
        return LayerOperation(self, Op.LOGICAL_NOT)

    def as_type(self, datatype: DataType):
        return LayerOperation(self, Op.ASTYPE, datatype=datatype)

    def conv2d(self, weights: np.ndarray):
        h, w = weights.shape
        if h != w:
            raise ValueError("Currently only square matrixes are supported for weights")
        pad = (w - 1) / 2
        if not pad.is_integer():
            raise ValueError("Currently weights dimensions must be odd")
        return LayerOperation(
            self, Op.CONV2D, buffer_padding=int(pad), weights=weights.astype(np.float32)
        )

    def as_area(self, area_or_layer: Any) -> "LayerOperation":
        if area_or_layer is None:
            raise TypeError("Expected layer or area value, not None")
        new_area = getattr(area_or_layer, "area", area_or_layer)
        if not isinstance(new_area, Area):
            raise TypeError("Expected layer or area value")

        self_projection = self.projection  # type: ignore[attr-defined]
        if self_projection is not None:
            if new_area.projection is None:
                new_area = new_area.project_like(self.area)  # type: ignore[attr-defined]
            elif not self.area.is_world and new_area.projection != self_projection:  # type: ignore[attr-defined]
                raise ValueError(
                    f"Differing map projection used on as_area: "
                    f"{new_area.projection} applied to {self_projection}"
                )
        elif new_area.projection is None:
            raise ValueError("Applied area and target both lack projection")
        return LayerOperation(self, Op.ASAREA, new_area=new_area)

    def as_projection(self, projection: MapProjection, method="nearest"):
        from ..sources.reprojected import ReprojectedLayer  # pylint: disable=C0415

        return LayerOperation(
            ReprojectedLayer(self, projection, method),
            Op.ASPROJECTION,
            projection=projection,
            method=method,
        )

    # -- coordinate helpers -------------------------------------------------
    def latlng_for_pixel(self, x: int, y: int) -> tuple[float, float]:
        from ..reprojection import transform_point  # pylint: disable=C0415
        from ..grid import CRS  # pylint: disable=C0415

        projection = self.projection  # type: ignore[attr-defined]
        area = self.area  # type: ignore[attr-defined]
        if projection is None:
            raise ValueError("Layer has no projection space")
        px = (x * projection.xstep) + area.left
        py = (y * projection.ystep) + area.top
        lng, lat = transform_point(projection.crs, CRS("epsg:4326"), px, py)
        return (lat, lng)

    def pixel_for_latlng(self, lat: float, lng: float) -> tuple[int, int]:
        from ..reprojection import transform_point  # pylint: disable=C0415
        from ..grid import CRS  # pylint: disable=C0415

        projection = self.projection  # type: ignore[attr-defined]
        area = self.area  # type: ignore[attr-defined]
        if projection is None:
            raise ValueError("Layer has no projection space")
        x, y = transform_point(CRS("epsg:4326"), projection.crs, lng, lat)
        return projection.round_down_pixels(
            (x - area.left) / projection.xstep,
            (y - area.top) / projection.ystep,
        )

    # -- terminal actions (the executor wraps a bare layer in a root) -------
    def sum(self, spark=None) -> float:
        from ..plans import executor  # pylint: disable=C0415

        return executor.aggregate(self, "sum", spark=spark)

    def min(self, spark=None) -> float:
        from ..plans import executor  # pylint: disable=C0415

        return executor.aggregate(self, "min", spark=spark)

    def max(self, spark=None) -> float:
        from ..plans import executor  # pylint: disable=C0415

        return executor.aggregate(self, "max", spark=spark)

    def unique(self, return_counts: bool = False, spark=None, max_values=None):
        from ..plans import executor  # pylint: disable=C0415

        kwargs = {} if max_values is None else {"max_values": max_values}
        return executor.unique(
            self, return_counts=return_counts, spark=spark, **kwargs
        )

    def read_array(self, x: int, y: int, width: int, height: int, spark=None) -> np.ndarray:
        from ..plans import executor  # pylint: disable=C0415

        return executor.read_array(self, x, y, width, height, spark=spark)

    def to_numpy(self, spark=None) -> np.ndarray:
        """The whole computation window as numpy: ``read_array`` over the
        window, so every tile is evaluated in the driver process, one after
        another, with no Spark job (use ``save`` to compute a large raster
        on the cluster)."""
        from ..plans import executor  # pylint: disable=C0415

        w = (self if isinstance(self, LayerOperation) else LayerOperation(self)).window
        return executor.read_array(self, 0, 0, w.xsize, w.ysize, spark=spark)

    def save(self, path, and_sum: bool = False, sparse: bool = False, spark=None):
        from ..plans import executor  # pylint: disable=C0415

        return executor.save(self, path, and_sum=and_sum, sparse=sparse, spark=spark)

    def parallel_save(self, path, and_sum: bool = False, spark=None, parallelism=None):
        # Spark executors ARE the parallelism; kept for API parity.
        return self.save(path, and_sum=and_sum, spark=spark)

    def parallel_sum(self, spark=None, parallelism=None):
        return self.sum(spark=spark)

    def to_dataframe(self, spark=None):
        """The computation as a Spark DataFrame of tiles (the physical plan)."""
        from ..plans import executor  # pylint: disable=C0415

        return executor.tiles_dataframe(self, spark=spark)

    def show(self, ax=None, max_pixels: int | None = 1000, spark=None,
             path: str | None = None, **kwargs):
        """Render the computation: with matplotlib when available, else (or
        when ``path`` is given) as a grayscale PNG written with the
        pure-stdlib encoder — this environment has no plotting stack, and a
        min-max-stretched PNG is what the reference's ``show`` amounts to
        for single-band data.  The whole window is read with
        ``read_array``, in the driver, one tile at a time."""
        root = LayerOperation(self) if not isinstance(self, LayerOperation) else self
        window = root.window
        data = root.read_array(0, 0, window.xsize, window.ysize, spark=spark)
        if max_pixels:
            step = max(max(window.xsize, window.ysize) // max_pixels, 1)
            data = data[::step, ::step]
        if path is not None:
            from ..png import write_png_grayscale  # pylint: disable=C0415

            write_png_grayscale(path, data)
            return path
        try:
            import matplotlib.pyplot as plt  # pylint: disable=C0415
        except ImportError as exc:
            raise NotImplementedError(
                "show() needs matplotlib for interactive display; pass "
                "path='out.png' to render with the built-in PNG writer"
            ) from exc
        if ax is None:
            ax = plt.gca()
        area = root.area
        return ax.imshow(
            data, extent=[area.left, area.right, area.bottom, area.top], **kwargs
        )


class LayerOperation(LayerMathMixin):
    """A node of the expression tree: (lhs, op, rhs?, other?, window_op, kwargs)."""

    def __init__(
        self,
        lhs: Any,
        operator: Op | None = None,
        rhs: Any = None,
        other: Any = None,
        window_op: WindowOp = WindowOp.NONE,
        buffer_padding: int = 0,
        **kwargs,
    ):
        if lhs is None:
            raise ValueError("LHS on operation should not be none")
        self.lhs = lhs
        self.operator = operator
        self.window_op = window_op
        self.buffer_padding = buffer_padding
        self.kwargs = kwargs
        self.rhs = self._lift(lhs, rhs)
        self.other = self._lift(lhs, other)
        self._cse_hash_cache = self._compute_cse_hash()

    @staticmethod
    def _lift(lhs, operand):
        if operand is None:
            return None
        if np.isscalar(operand):
            return LayerConstant(operand)
        if isinstance(operand, np.ndarray):
            if operand.shape == ():
                return LayerConstant(operand.item())
            raise ValueError("Numpy arrays are not allowed")
        lhs_proj = getattr(lhs, "projection", None)
        rhs_proj = getattr(operand, "projection", None)
        if lhs_proj is not None and rhs_proj is not None and lhs_proj != rhs_proj:
            raise ValueError("Not all layers are at the same pixel scale")
        return operand

    def __str__(self):
        if self.rhs is not None:
            return f"({self.lhs} {self.operator} {self.rhs})"
        if self.operator is not None:
            return f"({self.operator} {self.lhs})"
        return str(self.lhs)

    @property
    def children(self) -> list:
        return [c for c in (self.lhs, self.rhs, self.other) if c is not None]

    # -- structural hashing for common-subexpression elimination ------------
    def _compute_cse_hash(self) -> int | None:
        child_hashes = [c.cse_hash for c in self.children]
        if any(h is None for h in child_hashes):
            return None

        def freeze(v):
            if isinstance(v, (list, tuple, set)):
                return tuple(v)
            if isinstance(v, np.ndarray):
                return id(v)
            return v

        frozen_kwargs = tuple(sorted((k, freeze(v)) for k, v in self.kwargs.items()))
        try:
            return hash(
                (self.operator, self.window_op, frozen_kwargs, self.buffer_padding)
                + tuple(child_hashes)
            )
        except TypeError:
            return None

    @property
    def cse_hash(self) -> int | None:
        return self._cse_hash_cache

    # -- extent / window / type planning -------------------------------------
    @property
    def area(self) -> Area:
        return self.operation_area(self.projection, top_level=True)

    def operation_area(
        self, projection: MapProjection | None, force_union: bool = False, top_level: bool = True
    ) -> Area:
        if self.operator == Op.ASAREA:
            return self.kwargs["new_area"]

        # Memoized per (projection, flags): the fold recurses over children,
        # and an expression DAG (e = a + a; e = e + e; ...) would otherwise
        # walk 2^depth paths — nodes are immutable after construction, so
        # the result is fixed.  repr() keys the projection (its __eq__ is
        # pitch-tolerant, unsafe as a dict key).
        memo = self.__dict__.setdefault("_area_memo", {})
        key = (repr(projection), force_union, top_level)
        if key in memo:
            return memo[key]
        memo[key] = out = self._operation_area_uncached(
            projection, force_union, top_level)
        return out

    def _operation_area_uncached(
        self, projection: MapProjection | None, force_union: bool = False, top_level: bool = True
    ) -> Area:
        areas = []
        for child in self.children:
            child_area = child.operation_area(projection, force_union, top_level=False)
            if child_area is not None:
                areas.append(child_area)
        if force_union:
            # Strip world-spanning (extent-neutral) children; if EVERY child
            # is world-spanning (e.g. a bare area_raster()), keep them so the
            # caller gets the world sentinel and can raise a clear error.
            stripped = [a for a in areas if not a.is_world]
            areas = stripped or areas

        try:
            if self.window_op == WindowOp.NONE:
                area = areas[0]
            elif self.window_op == WindowOp.INTERSECTION:
                area = reduce(lambda a, b: a & b, areas)
            elif self.window_op == WindowOp.UNION:
                area = reduce(lambda a, b: a | b, areas)
            else:
                raise RuntimeError("Should not be reached")
        except ValueError:
            # Disjoint areas combined alongside a global (world) layer: retry
            # with the world extents stripped and union the rest.
            if not force_union:
                raise
            area = reduce(lambda a, b: a | b, areas)

        if top_level and area.is_world:
            return self.operation_area(projection, True)
        return area

    @property
    def projection(self) -> MapProjection | None:
        if self.operator == Op.ASAREA:
            return self.kwargs["new_area"].projection
        projection = getattr(self.lhs, "projection", None)
        if projection is None and self.rhs is not None:
            projection = getattr(self.rhs, "projection", None)
        if projection is None and self.other is not None:
            projection = getattr(self.other, "projection", None)
        return projection

    @property
    def window(self) -> Window:
        """The pixel window of the whole computation, in grid-origin space."""
        projection = self.projection
        if projection is None:
            raise AttributeError("No window without projection")
        area = self.operation_area(projection)
        if area.is_world:
            raise ValueError(
                "Expression has no finite extent: every term is a "
                "world-spanning synthesized layer (constant / area_raster). "
                "Scope it with .as_area(...) or combine it with a data layer."
            )
        xoff, yoff = projection.round_down_pixels(
            area.left / projection.xstep, area.top / (projection.ystep * -1.0)
        )
        xsize, ysize = projection.round_up_pixels(
            (area.right - area.left) / projection.xstep,
            (area.top - area.bottom) / (projection.ystep * -1.0),
        )
        return Window(xoff, yoff, xsize, ysize)

    @property
    def dimensions(self) -> tuple[int, int]:
        w = self.window
        return (w.xsize, w.ysize)

    @property
    def datatype(self) -> DataType:
        if self.operator == Op.ASTYPE:
            return self.kwargs["datatype"]
        cached = self.__dict__.get("_dtype_memo")
        if cached is None:
            # Memoized for the same DAG reason as operation_area.
            cached = result_datatype(*[c.datatype for c in self.children])
            self.__dict__["_dtype_memo"] = cached
        return cached

    def pretty_print(self, prefix="", is_last=True):
        kwargs_str = ", ".join(f"{k}={v}" for k, v in self.kwargs.items())
        label = f"{self.operator}({kwargs_str})" if kwargs_str else str(self.operator)
        connector = "└── " if is_last else "├── "
        print(f"{prefix}{connector}{label}")
        extension = "    " if is_last else "│   "
        kids = self.children
        for i, child in enumerate(kids):
            last = i == len(kids) - 1
            if hasattr(child, "pretty_print"):
                child.pretty_print(prefix + extension, last)
            else:
                print(f"{prefix + extension}{'└── ' if last else '├── '}{child!r}")
