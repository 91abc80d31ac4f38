"""Engine-wide tunables.

The reference engine (yirgacheffe, see /root/reference) streams computation in
horizontal strips of ``YSTEP = 512`` rows (``yirgacheffe/constants.py:1``).  In
the Spark rebuild the unit of parallelism is a 2-D *tile* instead of a strip:
one DataFrame row per tile, pixels carried as a packed binary payload, with the
whole expression tree evaluated per-tile inside one Arrow-vectorized kernel.
"""

import os

# Height/width in pixels of a computation tile.  512x512 float64 = 2 MiB per
# tile payload, which keeps Arrow record batches comfortably inside executor
# memory while giving enough tiles for 32-way (or 1000-executor) parallelism.
TILE_YSIZE = int(os.environ.get("YG_SPARK_TILE_YSIZE", "512"))
TILE_XSIZE = int(os.environ.get("YG_SPARK_TILE_XSIZE", "512"))

# Tile size used when *storing* rasters as parquet tile tables.  Kept equal to
# the computation tile size by default, so a computation tile reads one stored
# tile and a run of the tile grid decodes whole row groups, once; either may
# be overridden (a leaf off the computation grid reads the stored tiles each
# computation tile touches).
STORAGE_TILE_SIZE = int(os.environ.get("YG_SPARK_STORAGE_TILE_SIZE", "512"))

# Default shuffle partitions for a local session; on a real cluster this is
# governed by AQE + spark.sql.shuffle.partitions from spark-submit.
DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("YG_SPARK_SHUFFLE_PARTITIONS", "32"))
