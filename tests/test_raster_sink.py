"""The raster-table sink: ``save`` tasks write their parquet files
themselves, and the driver commits the files it collected once every job
has succeeded.

* The tile counts are checked before the commit: a save that lost tiles
  raises and leaves the destination as it was.
* Saved tables keep the tile columns, row groups of at most
  ``ROW_GROUP_TILES`` tiles, statistics on the key columns only, and read
  back exactly (dense, sparse, two bands).
* ``save`` and the array writer cut row groups by tile bytes, so a wide
  dtype gets fewer tiles per row group, not bigger row groups.
* Failure paths: a sink task that fails on its first attempt is retried
  into the same rows, a failed overwrite keeps the previous table byte for
  byte, and a read that overlaps an overwrite sees the old table or the
  new one, or raises.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import textwrap
import threading

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

import yirgacheffe_spark as yg
from yirgacheffe_spark.plans import executor
from yirgacheffe_spark.sources import parquet as pqr

STEP = 0.01
PROJ = yg.MapProjection("epsg:4326", STEP, -STEP)
T = 4  # the computation tile size the conftest fixture sets
H, W = 22, 26
N_TILES = 6 * 7
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _area(h: int, w: int) -> yg.Area:
    return yg.Area(0.0, 0.0, w * STEP, -h * STEP, PROJ)


def _ints(seed, h=H, w=W):
    return np.random.default_rng(seed).integers(1, 9, (h, w)).astype(np.int16)


def _table(tmp_path, name, data):
    return yg.write_array_as_raster_table(str(tmp_path / name), data, _area(*data.shape),
                                          tile_size=T)


def _files(path) -> dict:
    """Every file under ``path`` (relative name -> bytes)."""
    out = {}
    for root, _dirs, names in os.walk(path):
        for name in names:
            full = os.path.join(root, name)
            with open(full, "rb") as fp:
                out[os.path.relpath(full, path)] = fp.read()
    return out


def _rows(path) -> list:
    """The saved rows, ordered by (band, tile_y, tile_x)."""
    table = pq.read_table(path).sort_by([("band", "ascending"), ("tile_y", "ascending"),
                                         ("tile_x", "ascending")])
    return table.to_pylist()


def _drop_last_row_group(layer) -> None:
    """Make ``layer``'s tile manifest forget its last row group."""
    path = os.path.join(layer.path, pqr.MANIFEST_JSON)
    with open(path, encoding="utf-8") as fp:
        doc = json.load(fp)
    (name, rows), = doc["entries"].items()
    doc["entries"][name] = rows[:-1]
    with open(path, "w", encoding="utf-8") as fp:
        json.dump(doc, fp)
    st = os.stat(path)
    os.utime(path, ns=(st.st_atime_ns, st.st_mtime_ns + 1_000_000))


def test_save_that_lost_tiles_raises_before_commit(spark, tmp_path):
    """A 22x26 int16 table at tile 4 whose manifest lost its last row group
    feeds only 32 of its 42 tiles to a save: dense, sparse and multiband
    saves raise, and the destination stays as it was."""
    data = _ints(1)
    good = _table(tmp_path, "good", data)
    stale = _table(tmp_path, "stale", data)
    _drop_last_row_group(stale)
    dst = str(tmp_path / "dst")
    (good * 1).save(dst, spark=spark)
    before = _files(dst)

    for save in (lambda: (stale * 1).save(dst, spark=spark),
                 lambda: (stale * 1).save(dst, sparse=True, spark=spark),
                 lambda: yg.save_multiband([good * 1, stale * 1], dst, spark=spark)):
        with pytest.raises(RuntimeError, match="produced 32 of the 42 tiles"):
            save()
        assert _files(dst) == before
        np.testing.assert_array_equal(yg.read_raster(dst).read_array(0, 0, W, H), data)

    fresh = str(tmp_path / "fresh")
    with pytest.raises(RuntimeError, match="stale"):
        (stale * 1).save(fresh, spark=spark)
    assert not os.path.exists(fresh)


def test_sparse_save_counts_dropped_zero_tiles(spark, tmp_path):
    data = _ints(2)
    data[:8] = 0  # two whole tile rows of zeros
    path = str(tmp_path / "sparse")
    assert yg.from_array(data, (0.0, 0.0), PROJ).save(
        path, sparse=True, and_sum=True, spark=spark) == float(data.sum())
    assert len(_rows(path)) == N_TILES - 14
    with open(os.path.join(path, pqr.META_FILENAME), encoding="utf-8") as fp:
        assert json.load(fp)["dense"] is False


@pytest.mark.parametrize("kind", ["dense", "sparse", "two_bands"])
def test_saved_table_layout_and_readback(spark, tmp_path, kind):
    a, b = _ints(3), _ints(4)
    a[:4, :8] = 0
    path = str(tmp_path / kind)
    if kind == "two_bands":
        yg.save_multiband([_table(tmp_path, "a", a) * 1, _table(tmp_path, "b", b) * 1],
                          path, spark=spark)
        bands = {1: a, 2: b}
    else:
        _table(tmp_path, "a", a).save(path, sparse=kind == "sparse", spark=spark)
        bands = {1: a}

    names = sorted(n for n in os.listdir(path) if n.endswith(".parquet"))
    assert not os.path.exists(os.path.join(path, "_temporary"))
    assert sorted(pqr.read_tile_manifest(path)) == names
    n_rows = 0
    for name in names:
        pf = pq.ParquetFile(os.path.join(path, name))
        assert pf.schema_arrow.names == executor._PA_TILE.names
        assert pf.schema_arrow.types == executor._PA_TILE.types
        md = pf.metadata
        for i in range(md.num_row_groups):
            group = md.row_group(i)
            assert group.num_rows <= pqr.ROW_GROUP_TILES
            n_rows += group.num_rows
            cols = {group.column(j).path_in_schema: group.column(j)
                    for j in range(group.num_columns)}
            for key in ("band", "tile_y", "tile_x"):
                assert cols[key].is_stats_set
            assert not cols["payload"].is_stats_set
            assert not any("DICTIONARY" in e for e in cols["payload"].encodings)
            assert cols["payload"].compression == "ZSTD"
    dropped = 2 if kind == "sparse" else 0
    assert n_rows == len(bands) * N_TILES - dropped

    for band, data in bands.items():
        layer = yg.read_raster(path, band=band)
        np.testing.assert_array_equal(layer.read_array(0, 0, W, H), data)
        np.testing.assert_array_equal((layer * 1).read_array(-2, 3, W, H - 5),
                                      np.pad(data, ((0, 0), (2, 0)))[3:H - 2, :W])
        assert layer.sum(spark=spark) == float(data.sum())


def _group_rows(path) -> list:
    """Rows of every row group of every part file of the table at ``path``."""
    return [pf.metadata.row_group(i).num_rows
            for pf in (pq.ParquetFile(os.path.join(path, n))
                       for n in sorted(os.listdir(path)) if n.endswith(".parquet"))
            for i in range(pf.metadata.num_row_groups)]


def test_row_groups_are_cut_by_tile_bytes(spark, tmp_path, monkeypatch):
    """Both writers size row groups by decoded bytes: 16 int16 tiles of 512
    fill ``ROW_GROUP_BYTES``, so float64 tiles of 512 go 4 to a row group.
    With the bound shrunk to 16 int16 tiles of ``T``, an int16 save keeps
    16 tiles per row group and a float64 save of the same pixels 4."""
    assert pqr.row_group_tiles(512 * 512 * 2) == 16
    assert pqr.row_group_tiles(512 * 512 * 8) == 4
    assert pqr.row_group_tiles(1024 * 1024 * 16) == 1
    assert pqr.row_group_tiles(T * T) == pqr.ROW_GROUP_TILES
    monkeypatch.setattr(pqr, "ROW_GROUP_BYTES", 16 * T * T * 2)
    data = _ints(6)
    layer = _table(tmp_path, "a", data)
    assert _group_rows(layer.path) == [16, 16, 10]
    for dtype, most in ((yg.DataType.Int16, 16), (yg.DataType.Float64, 4)):
        path = str(tmp_path / dtype.name)
        layer.as_type(dtype).save(path, spark=spark)
        rows = _group_rows(path)
        assert sum(rows) == N_TILES and max(rows) == most
        np.testing.assert_array_equal(yg.read_raster(path).read_array(0, 0, W, H), data)
    wide = yg.write_array_as_raster_table(str(tmp_path / "wide"), data.astype(np.float64),
                                          _area(H, W), tile_size=T)
    assert max(_group_rows(wide.path)) == 4


def test_save_is_one_spark_job_with_or_without_its_sum(spark, tmp_path):
    layer = _table(tmp_path, "a", _ints(5))
    sc = spark.sparkContext

    def jobs(group, action):
        sc.setJobGroup(group, group)
        try:
            got = action()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        return len(sc.statusTracker().getJobIdsForGroup(group)), got

    assert jobs("sink-save", lambda: layer.save(str(tmp_path / "s1"), spark=spark))[0] == 1
    n, total = jobs("sink-save-sum",
                    lambda: layer.save(str(tmp_path / "s2"), and_sum=True, spark=spark))
    assert (n, total) == (1, float(_ints(5).sum()))


FAILING_LAYER = '''
import os

from pyspark import TaskContext

from yirgacheffe_spark.sources.memory import ArrayLayer


class FailOnce(ArrayLayer):
    """Fails the task of partition 0 on its first attempt, once it has
    written a tile row, after touching ``self.marker``."""

    marker = None

    def read_region(self, area, projection, x, y, width, height):
        ctx = TaskContext.get()
        if (ctx is not None and ctx.partitionId() == 0 and ctx.attemptNumber() == 0
                and y >= 4):
            open(self.marker, "w").close()
            raise RuntimeError("injected sink failure")
        return super().read_region(area, projection, x, y, width, height)
'''

RETRY_SESSION = '''
import os
import sys

os.environ["YG_SPARK_TILE_YSIZE"] = os.environ["YG_SPARK_TILE_XSIZE"] = "4"
import numpy as np
from pyspark.sql import SparkSession

import yirgacheffe_spark as yg
from failing_layer import FailOnce

tmp = sys.argv[1]
spark = (SparkSession.builder.master("local[2,2]")
         .config("spark.ui.enabled", "false")
         .config("spark.ui.showConsoleProgress", "false").getOrCreate())
spark.sparkContext.setLogLevel("OFF")
proj = yg.MapProjection("epsg:4326", 0.01, -0.01)
data = np.random.default_rng(6).integers(0, 9, (22, 26)).astype(np.int16)
flaky = FailOnce.from_array(data, (0.0, 0.0), proj)
flaky.marker = os.path.join(tmp, "failed-once")
print("SUM", flaky.save(os.path.join(tmp, "retried"), and_sum=True, spark=spark))
yg.from_array(data, (0.0, 0.0), proj).save(os.path.join(tmp, "clean"), spark=spark)
spark.stop()
'''


def test_sink_task_retried_after_first_attempt_failure(tmp_path):
    """On ``local[2,2]`` (two attempts per task) the first attempt of one
    sink task fails after it has staged a file; the retry must yield the
    rows of a save without the failure and leave no staging file."""
    (tmp_path / "failing_layer.py").write_text(textwrap.dedent(FAILING_LAYER))
    env = dict(os.environ, PYTHONPATH=os.pathsep.join(
        [REPO, str(tmp_path), os.environ.get("PYTHONPATH", "")]))
    proc = subprocess.run(
        [sys.executable, "-c", RETRY_SESSION, str(tmp_path)], cwd=REPO, env=env,
        capture_output=True, text=True, timeout=600, check=False)
    assert proc.returncode == 0, proc.stderr[-4000:]
    assert (tmp_path / "failed-once").exists()
    data = np.random.default_rng(6).integers(0, 9, (22, 26)).astype(np.int16)
    assert f"SUM {float(data.sum())}" in proc.stdout
    retried, clean = str(tmp_path / "retried"), str(tmp_path / "clean")
    assert _rows(retried) == _rows(clean)
    assert {n for n in os.listdir(retried) if not n.endswith(".parquet")} == {
        pqr.META_FILENAME, pqr.MANIFEST_JSON}


def test_failed_overwrite_keeps_previous_table(spark, tmp_path):
    data = _ints(7)
    dst = str(tmp_path / "dst")
    (_table(tmp_path, "good", data) * 2).save(dst, spark=spark)
    before = _files(dst)

    broken = _table(tmp_path, "broken", _ints(8))
    part = os.path.join(broken.path, "part-00000.parquet")
    with open(part, "r+b") as fp:
        fp.truncate(os.path.getsize(part) // 2)
    with pytest.raises(Exception):
        (broken * 2).save(dst, spark=spark)

    assert _files(dst) == before
    np.testing.assert_array_equal(yg.read_raster(dst).read_array(0, 0, W, H), data * 2)


def test_read_during_overwrite_sees_one_table_or_raises(spark, tmp_path):
    """``read_array`` over every tile, in a loop, while another thread
    overwrites the table again and again: each read returns the old
    table's pixels or the new one's, or raises; never a mix."""
    a = _ints(9)
    b = a + 10
    src = {0: _table(tmp_path, "a", a), 1: _table(tmp_path, "b", b)}
    dst = str(tmp_path / "dst")
    (src[0] * 1).save(dst, spark=spark)
    expr = yg.read_raster(dst) + 0

    failures = []

    def overwrite():
        try:
            for i in range(6):
                (src[(i + 1) % 2] * 1).save(dst, spark=spark)
        except Exception as exc:  # noqa: BLE001 — reported below
            failures.append(exc)

    writer = threading.Thread(target=overwrite)
    writer.start()
    seen = {"a": 0, "b": 0, "raised": 0}
    while writer.is_alive():
        try:
            got = expr.read_array(0, 0, W, H)
        except (OSError, RuntimeError, pa.ArrowException):
            seen["raised"] += 1
            continue
        if np.array_equal(got, a):
            seen["a"] += 1
        else:
            np.testing.assert_array_equal(got, b)
            seen["b"] += 1
    writer.join()
    assert not failures, failures
    assert seen["a"] + seen["b"] > 0, seen
    np.testing.assert_array_equal(expr.read_array(0, 0, W, H), a)
