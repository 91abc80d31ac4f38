import numpy as np
import pytest

import yirgacheffe_spark.constants as C


@pytest.fixture(scope="session")
def spark():
    from pyspark.sql import SparkSession

    session = (
        SparkSession.builder.master("local[4]")
        .appName("yirgacheffe-spark-tests")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .getOrCreate()
    )
    session.sparkContext.setLogLevel("ERROR")
    yield session


@pytest.fixture(autouse=True)
def small_tiles(monkeypatch):
    """Force multi-tile plans so tiling/halo/join paths execute in every test."""
    monkeypatch.setattr(C, "TILE_YSIZE", 4)
    monkeypatch.setattr(C, "TILE_XSIZE", 4)
    monkeypatch.setattr(C, "STORAGE_TILE_SIZE", 4)


@pytest.fixture
def distributed(spark):
    """``distributed(expr)``: the whole computation assembled from the
    distributed tile plan (``tiles_dataframe(...).toArrow()``), i.e. the
    manifest plan with its halo strips whenever ``_build`` picks it.
    ``to_numpy`` evaluates in the driver, so a test that pins a Spark
    plan's pixels compares this, not ``to_numpy``, with its oracle."""
    from yirgacheffe_spark.plans import executor

    def assemble(expr) -> np.ndarray:
        root = executor._as_root(expr)
        win = root.window
        full = np.zeros((win.ysize, win.xsize), dtype=root.datatype.to_numpy())
        table = executor.tiles_dataframe(root, spark).toArrow()
        ys, xs = C.TILE_YSIZE, C.TILE_XSIZE
        for i in range(table.num_rows):
            ty, tx, th, tw = (table.column(c)[i].as_py()
                              for c in ("tile_y", "tile_x", "ysize", "xsize"))
            tile = np.frombuffer(table.column("payload")[i].as_buffer(),
                                 dtype=full.dtype).reshape(th, tw)
            full[ty * ys:ty * ys + th, tx * xs:tx * xs + tw] = tile
        return full

    return assemble


@pytest.fixture
def wgs84_02():
    from yirgacheffe_spark import MapProjection

    return MapProjection("epsg:4326", 0.02, -0.02)


def make_layer(data, origin=(10.0, 50.0), step=0.02, name=None):
    import yirgacheffe_spark as yg

    proj = yg.MapProjection("epsg:4326", step, -step)
    return yg.from_array(np.asarray(data), origin, proj, name)
