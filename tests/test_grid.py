"""Geometry-core behaviour: pixel rounding, area set algebra, windows.

Cases are behavioural transcriptions of the reference's rounding/alignment
semantics (tests/unit/test_rounding.py, test_alignment.py, test_window.py) —
the numbers below define "tile assignments match exactly"."""

import math

import numpy as np
import pytest

from yirgacheffe_spark import Area, CRS, MapProjection, Window


class TestRounding:
    @pytest.mark.parametrize(
        "value,expected_up,expected_down",
        [
            (10.0, 10, 10),
            (10.4, 11, 10),           # genuine fraction: up rounds up, down rounds down
            (10.00000000001, 10, 10), # sub-metre sliver: both snap to 10
            (9.99999999999, 10, 10),  # sliver below: both snap to 10
        ],
    )
    def test_degree_scale_rounding(self, value, expected_up, expected_down):
        proj = MapProjection("epsg:4326", 0.01, -0.01)
        assert proj.round_up_pixels(value, value) == (expected_up, expected_up)
        assert proj.round_down_pixels(value, value) == (expected_down, expected_down)

    def test_metre_scale_tolerance_is_one_metre(self):
        proj = MapProjection("esri:54030", 100.0, -100.0)
        # 0.005 px * 100m = 0.5m < 1m -> swallowed
        assert proj.round_up_pixels(10.005, 10.005) == (10, 10)
        # 0.02 px * 100m = 2m > 1m -> a real pixel
        assert proj.round_up_pixels(10.02, 10.02) == (11, 11)

    def test_fine_pitch_fraction_still_counts(self):
        # tiny pixels: half a pixel is way below 1 m so it gets swallowed
        proj = MapProjection("epsg:4326", 1e-7, -1e-7)
        assert proj.round_up_pixels(10.5, 10.5) == (10, 10)


class TestProjectionEquality:
    def test_equal_with_submetre_difference(self):
        a = MapProjection("epsg:4326", 0.01, -0.01)
        b = MapProjection("epsg:4326", 0.01 + 1e-10, -0.01)
        assert a == b

    def test_unequal_crs(self):
        assert MapProjection("epsg:4326", 0.01, -0.01) != MapProjection("epsg:3857", 0.01, -0.01)

    def test_unequal_scale(self):
        assert MapProjection("epsg:4326", 0.01, -0.01) != MapProjection("epsg:4326", 0.02, -0.01)

    def test_invalid_projection_raises(self):
        with pytest.raises(ValueError):
            MapProjection("not-a-projection !!", 0.01, -0.01)


class TestArea:
    def proj(self, step=0.1):
        return MapProjection("epsg:4326", step, -step)

    def test_validates_integer_pixel_multiple(self):
        with pytest.raises(ValueError):
            Area(0.0, 1.0, 1.05, 0.0, self.proj())

    def test_world_sentinel(self):
        w = Area.world()
        assert w.is_world
        assert w == Area.world()

    def test_intersection_basic(self):
        a = Area(0.0, 1.0, 1.0, 0.0, self.proj())
        b = Area(0.5, 0.8, 1.5, -0.2, self.proj())
        got = a & b
        assert (got.left, got.top, got.right, got.bottom) == pytest.approx((0.5, 0.8, 1.0, 0.0))

    def test_union_basic(self):
        a = Area(0.0, 1.0, 1.0, 0.0, self.proj())
        b = Area(0.5, 0.8, 1.5, -0.2, self.proj())
        got = a | b
        assert (got.left, got.top, got.right, got.bottom) == pytest.approx((0.0, 1.0, 1.5, -0.2))

    def test_disjoint_intersection_raises(self):
        a = Area(0.0, 1.0, 1.0, 0.0, self.proj())
        b = Area(5.0, 1.0, 6.0, 0.0, self.proj())
        with pytest.raises(ValueError):
            _ = a & b

    def test_world_is_identity_for_intersection(self):
        a = Area(0.0, 1.0, 1.0, 0.0, self.proj())
        assert (Area.world() & a) == a
        assert (a & Area.world()) == a

    def test_world_absorbs_union(self):
        a = Area(0.0, 1.0, 1.0, 0.0, self.proj())
        assert (a | Area.world()).is_world

    def test_mismatched_projection_raises(self):
        a = Area(0.0, 1.0, 1.0, 0.0, self.proj())
        b = Area(0.0, 1.0, 1.0, 0.0, MapProjection("epsg:4326", 0.5, -0.5))
        with pytest.raises(ValueError):
            _ = a & b

    def test_wobbled_grids_align_to_midpoint(self):
        # Two areas on the same pitch offset by 0.4 px: result is pixel
        # aligned at the midpoint wobble (0.2 px).
        step = 0.1
        a = Area(0.0, 1.0, 1.0, 0.0, self.proj(step))
        b = Area(0.04, 1.0, 1.04, 0.0, self.proj(step))
        got = a & b
        # still an integer multiple of the pitch
        assert math.isclose(((got.right - got.left) / step) % 1.0, 0.0, abs_tol=1e-9)
        assert got.left == pytest.approx(0.02)

    def test_half_pixel_wobble_nudges_deterministically(self):
        step = 0.1
        a = Area(0.0, 1.0, 1.0, 0.0, self.proj(step))
        b = Area(0.05, 1.0, 1.05, 0.0, self.proj(step))
        got_ab = a & b
        got_ba = b & a
        assert got_ab.left == pytest.approx(got_ba.left)

    def test_grow(self):
        a = Area(0.0, 1.0, 1.0, 0.0, self.proj())
        g = a.grow(0.1)
        assert (g.left, g.top, g.right, g.bottom) == pytest.approx((-0.1, 1.1, 1.1, -0.1))

    def test_overlaps(self):
        a = Area(0.0, 1.0, 1.0, 0.0, self.proj())
        assert a.overlaps(Area(0.5, 0.5, 1.5, -0.5, self.proj()))
        assert not a.overlaps(Area(5.0, 1.0, 6.0, 0.0, self.proj()))
        assert a.overlaps(Area.world())

    def test_project_like_expands_outward(self):
        raw = Area(0.03, 0.97, 1.01, 0.02, None)
        ref = Area(0.0, 1.0, 2.0, 0.0, self.proj())
        got = raw.project_like(ref)
        assert got.left <= raw.left and got.right >= raw.right
        assert got.top >= raw.top and got.bottom <= raw.bottom
        assert got.projection == ref.projection

    def test_pixel_dimensions(self):
        a = Area(0.0, 1.0, 2.0, 0.0, self.proj())
        assert a.pixel_dimensions == (20, 10)


class TestAreaReproject:
    def test_wgs84_to_mercator_roundtripish(self):
        src = Area(0.0, 10.0, 10.0, 0.0, MapProjection("epsg:4326", 0.1, -0.1))
        dst_proj = MapProjection("epsg:3857", 10000.0, -10000.0)
        got = src.reproject(dst_proj)
        assert got.projection == dst_proj
        # Contains the analytically transformed corners.
        from yirgacheffe_spark.reprojection import lnglat_to_mercator

        x0, y0 = lnglat_to_mercator(0.0, 0.0)
        x1, y1 = lnglat_to_mercator(10.0, 10.0)
        assert got.left <= float(x0) and got.right >= float(x1)
        assert got.bottom <= float(y0) and got.top >= float(y1)
        # Snapped to the target grid.
        assert math.isclose((got.left / 10000.0) % 1.0, 0.0, abs_tol=1e-9)


    def test_identity_reprojection_keeps_the_grid(self):
        """Reprojecting onto the area's own projection keeps its pixels:
        0.28 / 0.01 is 28.000000000000004 in floats, which a bare ``ceil``
        snapped out to a 29th, all-zero column."""
        from yirgacheffe_spark.plans.kernel import evaluate_window
        from yirgacheffe_spark.sources import ArrayLayer

        proj = MapProjection("epsg:4326", 0.01, -0.01)
        area = Area(0.0, 0.0, 0.28, -0.24, proj)
        assert area.reproject(proj) == area
        assert Area(0.0, 0.0, 0.28, -0.24, None).project_like(area) == area
        data = np.arange(24 * 28, dtype=np.float64).reshape(24, 28) + 1.0
        layer = ArrayLayer.from_array(data, (0.0, 0.0), proj)
        same = layer.as_projection(layer.projection)
        assert (same.window.xsize, same.window.ysize) == (28, 24)
        np.testing.assert_array_equal(evaluate_window(same), data)

class TestWindow:
    def test_float_coercion_and_validation(self):
        w = Window(1.0, 2.0, 3.0, 4.0)
        assert w.as_array_args == (1, 2, 3, 4)
        with pytest.raises(ValueError):
            Window(0.5, 0, 1, 1)
        with pytest.raises(TypeError):
            Window(True, 0, 1, 1)
        with pytest.raises(TypeError):
            Window("a", 0, 1, 1)

    def test_containment_partial_order(self):
        outer = Window(0, 0, 10, 10)
        inner = Window(2, 2, 5, 5)
        assert inner < outer and inner <= outer
        assert outer > inner and outer >= inner
        assert not outer < inner
        same = Window(0, 0, 10, 10)
        assert outer >= same and outer <= same
        assert not outer > same and not outer < same

    def test_grow(self):
        assert Window(2, 2, 4, 4).grow(1) == Window(1, 1, 6, 6)

    def test_intersection(self):
        a = Window(0, 0, 10, 10)
        b = Window(5, 5, 10, 10)
        assert Window.intersection([a, b]) == Window(5, 5, 5, 5)
        with pytest.raises(ValueError):
            Window.intersection([a, Window(20, 20, 2, 2)])
        assert Window.intersection_or_none([a, Window(20, 20, 2, 2)]) is None


class TestCRS:
    def test_geographic_detection(self):
        assert CRS("epsg:4326").is_geographic
        assert not CRS("esri:54030").is_geographic
        assert not CRS("epsg:3857").is_geographic

    def test_equality(self):
        assert CRS("EPSG:4326") == CRS("epsg:4326")
        assert CRS("epsg:4326") != CRS("epsg:3857")
