"""Engine-wide tunables.

The reference engine (yirgacheffe, see /root/reference) streams computation in
horizontal strips of ``YSTEP = 512`` rows (``yirgacheffe/constants.py:1``).  In
the Spark rebuild the unit of parallelism is a 2-D *tile* instead of a strip:
one DataFrame row per tile, pixels carried as a packed binary payload, with the
whole expression tree evaluated per-tile inside one Arrow-vectorized kernel.
"""

# Side in pixels of a square computation tile, and the default tile size of
# the parquet tile tables the writers store.  512x512 float64 = 2 MiB per tile
# payload, which keeps Arrow record batches comfortably inside executor memory
# while giving enough tiles for 32-way (or 1000-executor) parallelism.  Stored
# tiles of the computation tile size let a computation tile read one stored
# tile and a run of the tile grid decode whole row groups, once (a table with
# other tiles reads the stored tiles each computation tile touches).
# ``_raster_meta.json`` records one tile size, so ``save`` needs square tiles.
TILE_SIZE = 512

# Default shuffle partitions for a local session; on a real cluster this is
# governed by AQE + spark.sql.shuffle.partitions from spark-submit.
DEFAULT_SHUFFLE_PARTITIONS = 32
