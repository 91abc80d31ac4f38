"""Pixel-grid geometry: projections, geo areas, and pixel windows.

These three classes are the planning metadata of the engine and define *tile
assignment*, so their numeric behaviour follows the reference implementation
exactly (semantics from yirgacheffe's ``_datatypes/mapprojection.py:105-133``,
``_datatypes/area.py:106-249`` and ``_datatypes/window.py`` — re-implemented
here in pure Python because neither pyproj nor GDAL are available, and because
at 100 TB scale these run on the driver only: tiny, deterministic, picklable).

The load-bearing subtleties, preserved verbatim:

* Fractional pixel counts are rounded with a *minimal distance of interest* of
  one metre: a sliver narrower than 1 m on the ground does not create an extra
  pixel (reference ``mapprojection.py:21-23``).
* Two areas on the same pitch but wobbled off each other's grid are combined
  by first snapping each to its own grid origin, operating in the aligned
  space, then restoring the *midpoint* of the two wobbles
  (reference ``area.py:126-160``).
* The half-pixel wobble is nudged by ``1e-6`` of a pixel so that layers
  misaligned by exactly 0.5 px resolve deterministically
  (reference ``area.py:215-234``).
"""

from __future__ import annotations

import math
import sys
from dataclasses import dataclass

# 1 metre: below this, floating-point slivers are noise, not pixels.
MIN_DISTANCE_M = 1.0
METRES_PER_DEGREE = 40075017 / 360
MIN_DISTANCE_DEG = MIN_DISTANCE_M / METRES_PER_DEGREE

# WGS84 ellipsoid (public constants) — used for per-pixel area synthesis.
WGS84_SEMI_MAJOR_M = 6378137.0
WGS84_SEMI_MINOR_M = 6356752.314245179


class CRS:
    """A tiny coordinate-reference-system record.

    We only need three facts about a CRS: a normalised identity (for
    equality), whether it is geographic (degrees) or projected (metres), and
    the ellipsoid for geographic ones.  Full pyproj-style CRS databases are
    out of scope; unknown codes default to projected/metres, and WKT strings
    are classified by their unit declaration.
    """

    __slots__ = ("code", "unit")

    _GEOGRAPHIC_CODES = {"epsg:4326", "epsg:4269", "epsg:4267", "crs:84", "wgs84", "wgs 84"}

    def __init__(self, text: str):
        if not isinstance(text, str) or not text.strip():
            raise ValueError(f"Invalid projection: {text!r}")
        raw = text.strip()
        lowered = raw.lower()
        if lowered.startswith(("geogcs", "geogcrs")) or 'unit["degree"' in lowered.replace(" ", ""):
            # WKT geographic
            self.code = "epsg:4326" if ("wgs" in lowered and "84" in lowered) else lowered
            self.unit = "degree"
        elif lowered.startswith(("projcs", "projcrs")):
            self.code = lowered
            self.unit = "metre"
        elif ":" in lowered:
            authority, _, ident = lowered.partition(":")
            if authority not in ("epsg", "esri", "crs"):
                raise ValueError(f"Invalid projection: {text!r}")
            if not ident.strip():
                raise ValueError(f"Invalid projection: {text!r}")
            self.code = f"{authority}:{ident.strip()}"
            self.unit = "degree" if self.code in self._GEOGRAPHIC_CODES else "metre"
        elif lowered in self._GEOGRAPHIC_CODES:
            self.code = "epsg:4326"
            self.unit = "degree"
        else:
            raise ValueError(f"Invalid projection: {text!r}")

    @property
    def is_geographic(self) -> bool:
        return self.unit == "degree"

    def __eq__(self, other) -> bool:
        return isinstance(other, CRS) and self.code == other.code

    def __hash__(self):
        return hash(self.code)

    def __repr__(self):
        return f"CRS({self.code!r})"

    def to_wkt(self) -> str:
        return self.code


class MapProjection:
    """A CRS plus the signed pixel pitch ``(xstep, ystep)`` of a layer.

    Equality tolerates pitch differences below one metre of ground distance,
    mirroring the reference's handling of rounding noise in GeoTIFF metadata
    (reference ``mapprojection.py:89-95``).
    """

    __slots__ = ("crs", "xstep", "ystep")

    def __init__(self, projection: str | CRS, xstep: float, ystep: float):
        self.crs = projection if isinstance(projection, CRS) else CRS(projection)
        self.xstep = float(xstep)
        self.ystep = float(ystep)

    @property
    def _tolerance(self) -> float:
        return MIN_DISTANCE_DEG if self.crs.is_geographic else MIN_DISTANCE_M

    @property
    def name(self) -> str:
        return self.crs.code

    @property
    def epsg(self) -> int | None:
        auth, _, ident = self.crs.code.partition(":")
        if auth == "epsg":
            try:
                return int(ident)
            except ValueError:
                return None
        return None

    def __repr__(self):
        return f"MapProjection({self.crs.code!r}, {self.xstep}, {self.ystep})"

    def __hash__(self):
        return hash((self.crs, self.xstep, self.ystep))

    def __eq__(self, other) -> bool:
        if not isinstance(other, MapProjection):
            return False
        if self.crs != other.crs:
            return False
        tol = self._tolerance
        return abs(self.xstep - other.xstep) < tol and abs(self.ystep - other.ystep) < tol

    # -- pixel rounding ----------------------------------------------------
    #
    # Converting geo distances to pixel counts hits float error: a width of
    # 10.0000000001 px must not become 11, and 9.9999999999 px must stay 10.
    # We therefore only round *away* from the floor/ceil when the fractional
    # remainder is at least one metre of ground distance.

    def round_up_pixels(self, x: float, y: float) -> tuple[int, int]:
        tol = self._tolerance
        fx, fy = math.floor(x), math.floor(y)
        keep_x = ((x - fx) * abs(self.xstep)) < tol
        keep_y = ((y - fy) * abs(self.ystep)) < tol
        return (fx if keep_x else math.ceil(x), fy if keep_y else math.ceil(y))

    def round_down_pixels(self, x: float, y: float) -> tuple[int, int]:
        tol = self._tolerance
        cx, cy = math.ceil(x), math.ceil(y)
        keep_x = ((cx - x) * abs(self.xstep)) < tol
        keep_y = ((cy - y) * abs(self.ystep)) < tol
        return (cx if keep_x else math.floor(x), cy if keep_y else math.floor(y))


@dataclass(frozen=True)
class Window:
    """An axis-aligned box in pixel space: offset plus size.

    The comparison operators implement strict/loose *containment*, matching
    the reference's partial order (``window.py:45-75``).
    """

    xoff: int
    yoff: int
    xsize: int
    ysize: int

    def __post_init__(self):
        for name in ("xoff", "yoff", "xsize", "ysize"):
            value = getattr(self, name)
            if isinstance(value, bool):
                raise TypeError("Window properties must be whole numbers, not bool")
            if isinstance(value, float):
                if not value.is_integer():
                    raise ValueError(f"Window.{name} must be a whole number, got {value}")
                object.__setattr__(self, name, int(value))
            elif not isinstance(value, int):
                raise TypeError(f"Window.{name} must be a whole number, got {type(value).__name__}")

    @property
    def as_array_args(self) -> tuple[int, ...]:
        return (self.xoff, self.yoff, self.xsize, self.ysize)

    @property
    def xmax(self) -> int:
        return self.xoff + self.xsize

    @property
    def ymax(self) -> int:
        return self.yoff + self.ysize

    def _contains(self, inner: "Window", strict: bool) -> bool:
        size_ok = (
            (inner.xsize < self.xsize and inner.ysize < self.ysize)
            if strict
            else (inner.xsize <= self.xsize and inner.ysize <= self.ysize)
        )
        return (
            size_ok
            and inner.xoff >= self.xoff
            and inner.yoff >= self.yoff
            and inner.xmax <= self.xmax
            and inner.ymax <= self.ymax
        )

    def __lt__(self, other: "Window") -> bool:
        return other._contains(self, strict=True)

    def __le__(self, other: "Window") -> bool:
        return other._contains(self, strict=False)

    def __gt__(self, other: "Window") -> bool:
        return self._contains(other, strict=True)

    def __ge__(self, other: "Window") -> bool:
        return self._contains(other, strict=False)

    def grow(self, pixels: int) -> "Window":
        return Window(
            self.xoff - pixels,
            self.yoff - pixels,
            self.xsize + 2 * pixels,
            self.ysize + 2 * pixels,
        )

    @staticmethod
    def intersection(windows: list["Window"]) -> "Window":
        result = Window.intersection_or_none(windows)
        if result is None:
            raise ValueError("No intersection possible")
        return result

    @staticmethod
    def intersection_or_none(windows: list["Window"]) -> "Window | None":
        if not windows:
            raise ValueError("Expected list of windows")
        left = top = -sys.maxsize
        right = bottom = sys.maxsize
        for w in windows:
            left = max(left, w.xoff)
            top = max(top, w.yoff)
            right = min(right, w.xmax)
            bottom = min(bottom, w.ymax)
        if left >= right or top >= bottom:
            return None
        return Window(left, top, right - left, bottom - top)


@dataclass(frozen=True)
class Area:
    """A geo-referenced bounding box, optionally projected.

    Supports ``&`` (intersection) and ``|`` (union).  When two areas share a
    projection/pitch but sit on wobbled grids, set operations align both to
    their pixel grids first and re-apply the midpoint wobble afterwards, so
    results remain pixel-aligned (reference ``area.py:126-202``).
    """

    left: float
    top: float
    right: float
    bottom: float
    projection: MapProjection | None = None

    def __post_init__(self):
        if self.projection is None:
            return
        # Validate that the box spans a whole number of pixels.  Plain `%` is
        # unreliable for steps < 1 (fp), so compare against the rounded count.
        x_px = abs((self.right - self.left) / self.projection.xstep)
        y_px = abs((self.top - self.bottom) / self.projection.ystep)
        if not math.isclose(x_px - round(x_px), 0.0, abs_tol=1e-09) or not math.isclose(
            y_px - round(y_px), 0.0, abs_tol=1e-09
        ):
            raise ValueError("Area expected to be an integer multiple of projection units")

    @staticmethod
    def world() -> "Area":
        """The infinite-extent sentinel used by constants (all-NaN bounds)."""
        nan = float("nan")
        return Area(nan, nan, nan, nan)

    @property
    def is_world(self) -> bool:
        return math.isnan(self.left)

    def __hash__(self):
        return hash((self.left, self.top, self.right, self.bottom))

    def __eq__(self, other) -> bool:
        if not isinstance(other, Area):
            return False
        if self.is_world and other.is_world:
            return True
        if self.projection != other.projection:
            return False
        mine, theirs = self._grid_offset, other._grid_offset
        if mine and theirs:
            dx, dy = mine[0] - theirs[0], mine[1] - theirs[1]
        else:
            dx = dy = 0.0
        return (
            math.isclose(self.left, other.left + dx, abs_tol=1e-09)
            and math.isclose(self.right, other.right + dx, abs_tol=1e-09)
            and math.isclose(self.top, other.top + dy, abs_tol=1e-09)
            and math.isclose(self.bottom, other.bottom + dy, abs_tol=1e-09)
        )

    # -- grid wobble -------------------------------------------------------

    @property
    def _grid_offset(self) -> tuple[float, float] | None:
        """Sub-pixel displacement of this area's origin from the global grid.

        Offsets above half a pixel are expressed as negative displacements;
        offsets within 1e-6 px of exactly half a pixel are snapped to half so
        that 0.5-px misalignments resolve the same way on both sides.
        """
        if self.projection is None:
            return None
        step_x, step_y = abs(self.projection.xstep), abs(self.projection.ystep)

        def _nudge(offset: float, step: float) -> float:
            eps = step * 1e-6
            half = step / 2
            if offset > half + eps:
                return offset - step
            if offset > half - eps:
                return half
            return offset

        return (_nudge(self.left % step_x, step_x), _nudge(self.top % step_y, step_y))

    @property
    def _grid_aligned(self) -> "Area":
        offset = self._grid_offset
        if offset is None:
            return self
        return Area(
            self.left - offset[0],
            self.top - offset[1],
            self.right - offset[0],
            self.bottom - offset[1],
            self.projection,
        )

    def _paired_offsets(self, other: "Area"):
        lhs_off, rhs_off = self._grid_offset, other._grid_offset
        if lhs_off and rhs_off:
            mid = ((lhs_off[0] + rhs_off[0]) / 2, (lhs_off[1] + rhs_off[1]) / 2)
        else:
            lhs_off = rhs_off = mid = (0.0, 0.0)
        return lhs_off, rhs_off, mid

    def _coerce_pair(self, other: "Area", verb: str) -> tuple["Area", "Area"]:
        lhs, rhs = self, other
        if lhs.projection is None and rhs.projection is not None:
            lhs = lhs.project_like(rhs)
        elif rhs.projection is None and lhs.projection is not None:
            rhs = rhs.project_like(lhs)
        if lhs.projection != rhs.projection:
            raise ValueError(f"Cannot {verb} areas with different projections")
        return lhs, rhs

    def __and__(self, other) -> "Area":
        if not isinstance(other, Area):
            raise ValueError("Can only intersect two areas")
        if self.is_world:
            return other
        if other.is_world:
            return self
        lhs, rhs = self._coerce_pair(other, "intersect")
        lhs_off, rhs_off, mid = lhs._paired_offsets(rhs)

        left = max(lhs.left - lhs_off[0], rhs.left - rhs_off[0])
        top = min(lhs.top - lhs_off[1], rhs.top - rhs_off[1])
        right = min(lhs.right - lhs_off[0], rhs.right - rhs_off[0])
        bottom = max(lhs.bottom - lhs_off[1], rhs.bottom - rhs_off[1])

        if (
            left >= right
            or bottom >= top
            or math.isclose(left, right)
            or math.isclose(top, bottom)
        ):
            raise ValueError("No intersection possible")
        return Area(left + mid[0], top + mid[1], right + mid[0], bottom + mid[1], lhs.projection)

    def __or__(self, other) -> "Area":
        if not isinstance(other, Area):
            raise ValueError("Can only union two areas")
        if self.is_world:
            return self
        if other.is_world:
            return other
        lhs, rhs = self._coerce_pair(other, "union")
        lhs_off, rhs_off, mid = lhs._paired_offsets(rhs)
        return Area(
            min(lhs.left - lhs_off[0], rhs.left - rhs_off[0]) + mid[0],
            max(lhs.top - lhs_off[1], rhs.top - rhs_off[1]) + mid[1],
            max(lhs.right - lhs_off[0], rhs.right - rhs_off[0]) + mid[0],
            min(lhs.bottom - lhs_off[1], rhs.bottom - rhs_off[1]) + mid[1],
            lhs.projection,
        )

    def grow(self, offset: float) -> "Area":
        return Area(
            self.left - offset,
            self.top + offset,
            self.right + offset,
            self.bottom - offset,
            self.projection,
        )

    def overlaps(self, other: "Area") -> bool:
        if self.is_world or other.is_world:
            return True
        lhs, rhs = self._coerce_pair(other, "compare")
        x_hit = (
            lhs.left <= rhs.left <= lhs.right
            or lhs.left <= rhs.right <= lhs.right
            or rhs.left <= lhs.left <= rhs.right
            or rhs.left <= lhs.right <= rhs.right
        )
        y_hit = (
            lhs.top >= rhs.top >= lhs.bottom
            or lhs.top >= rhs.bottom >= lhs.bottom
            or rhs.top >= lhs.top >= rhs.bottom
            or rhs.top >= lhs.bottom >= rhs.bottom
        )
        return x_hit and y_hit

    def project_like(self, other: "Area") -> "Area":
        """Map a projectionless area onto another area's pixel grid, expanded
        outward so the original box stays covered."""
        if other.projection is None:
            raise ValueError("Like area must have a map projection")
        if self.projection is not None:
            return self.reproject(other.projection)
        offset = other._grid_offset
        assert offset is not None
        return _snap_outward(other.projection, self.left, self.top, self.right,
                             self.bottom, offset)

    def reproject(self, target: MapProjection) -> "Area":
        """Predict the warped extent of this area under a new projection.

        The reference delegates to ``gdal.Warp`` with
        ``targetAlignedPixels=True`` (``area.py:315-364``); without GDAL we
        transform the corner/edge-midpoint envelope analytically for the CRS
        pairs we support and snap the result outward to the target pitch grid
        (the same alignment rule targetAlignedPixels applies).
        """
        if target is None:
            raise ValueError("Target projection can not be None")
        if self.projection is None:
            raise ValueError("Can only reproject already projected areas. Use `project_like` instead.")

        from .reprojection import transform_bounds  # local import: avoids cycle

        minx, miny, maxx, maxy = transform_bounds(
            self.projection.crs, target.crs, self.left, self.bottom, self.right, self.top
        )
        return _snap_outward(target, minx, maxy, maxx, miny)

    @property
    def pixel_dimensions(self) -> tuple[int, int]:
        if self.projection is None:
            raise ValueError("No dimensions for unprojected area")
        return self.projection.round_up_pixels(
            (self.right - self.left) / abs(self.projection.xstep),
            (self.top - self.bottom) / abs(self.projection.ystep),
        )

    @property
    def geo_transform(self) -> tuple[float, float, float, float, float, float]:
        if self.projection is None:
            raise ValueError("No geo transform for unprojected area")
        return (self.left, self.projection.xstep, 0.0, self.top, 0.0, self.projection.ystep)


def _snap_outward(projection: MapProjection, left: float, top: float, right: float,
                  bottom: float, offset: tuple[float, float] = (0.0, 0.0)) -> Area:
    """The box snapped outward to ``projection``'s pixel pitch (then shifted
    by ``offset``), ignoring float error under the projection's tolerance as
    ``round_up_pixels``/``round_down_pixels`` do: 0.28 at 0.01 is 28 pixels,
    not ``ceil(28.000000000000004)`` = 29."""
    sx, sy = abs(projection.xstep), abs(projection.ystep)
    x0, y0 = projection.round_down_pixels(left / sx, bottom / sy)
    x1, y1 = projection.round_up_pixels(right / sx, top / sy)
    return Area(left=x0 * sx + offset[0], top=y1 * sy + offset[1],
                right=x1 * sx + offset[0], bottom=y0 * sy + offset[1],
                projection=projection)
