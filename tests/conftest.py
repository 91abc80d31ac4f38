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
    monkeypatch.setattr(C, "TILE_SIZE", 4)


@pytest.fixture
def distributed(spark):
    """``distributed(expr)``: the whole computation assembled from the
    distributed tile plan (``tiles_dataframe(...).toArrow()``): the tile
    grid, in the runs of tile ids its tasks get.  ``to_numpy`` evaluates in the driver, so a test that pins a Spark
    plan's pixels compares this, not ``to_numpy``, with its oracle."""
    from yirgacheffe_spark.plans import executor

    def assemble(expr) -> np.ndarray:
        root = executor._as_root(expr)
        win = root.window
        full = np.zeros((win.ysize, win.xsize), dtype=root.datatype.to_numpy())
        table = executor.tiles_dataframe(root, spark).toArrow()
        s = C.TILE_SIZE
        for i in range(table.num_rows):
            ty, tx, th, tw = (table.column(c)[i].as_py()
                              for c in ("tile_y", "tile_x", "ysize", "xsize"))
            tile = np.frombuffer(table.column("payload")[i].as_buffer(),
                                 dtype=full.dtype).reshape(th, tw)
            full[ty * s:ty * s + th, tx * s:tx * s + tw] = tile
        return full

    return assemble


@pytest.fixture
def grid_tasks():
    """``grid_tasks(payload, df)``: the ``(ty, tx)`` tiles of each task of
    the tile grid ``df`` that ``executor._build`` returned with
    ``payload``, expanded from the task's run ids as the kernel expands
    them (``executor._run_tiles``)."""
    import pyarrow as pa

    from yirgacheffe_spark.plans import executor

    def tasks(payload, df) -> list[list[tuple[int, int]]]:
        return [list(executor._run_tiles(
                    payload, [pa.record_batch({"id": [r.id for r in rows]})]))
                for rows in df.rdd.glom().collect()]

    return tasks


@pytest.fixture
def wgs84_02():
    from yirgacheffe_spark import MapProjection

    return MapProjection("epsg:4326", 0.02, -0.02)


def make_layer(data, origin=(10.0, 50.0), step=0.02, name=None):
    import yirgacheffe_spark as yg

    proj = yg.MapProjection("epsg:4326", step, -step)
    return yg.from_array(np.asarray(data), origin, proj, name)
