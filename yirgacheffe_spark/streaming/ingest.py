"""Structured-streaming ingest of a pages feed.

The reference has no streaming operators (SURVEY.md §2.6) — this is the
engine's forward-looking ingest path: a file-fed stream of page rows flows
through the same vectorised enrichment used in batch (extraction, geocode,
cell assignment), into watermarked event-time windows, with exactly-once
resumability provided by the checkpoint directory (offsets + state store),
mirroring the lineage/resume guarantee of the batch path.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F

from .._worker import task_entry
from ..spatial import cells as cellindex
from ..spatial.pages import PAGES_SCHEMA, extract_text_batch, geocode_batch


def pages_file_stream(spark: SparkSession, source_dir: str,
                      max_files_per_trigger: int | None = None) -> DataFrame:
    """A streaming DataFrame over a directory of pages parquet files."""
    reader = spark.readStream.schema(PAGES_SCHEMA)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(source_dir)


def enrich_stream(df: DataFrame, res: int = 6) -> DataFrame:
    """The batch enrichment, applied to a stream (mapInPandas is stream-safe:
    stateless, one Arrow batch at a time)."""
    schema = PAGES_SCHEMA + ", extracted string, lat double, lng double, cell long"

    @task_entry
    def enrich(batches):
        for pdf in batches:
            pdf = pdf.copy()
            pdf["extracted"] = extract_text_batch(pdf["html"])
            geo = geocode_batch(pdf["url"])
            pdf["lat"] = geo["lat"].to_numpy()
            pdf["lng"] = geo["lng"].to_numpy()
            pdf["cell"] = cellindex.latlng_to_cell(
                pdf["lat"].to_numpy(), pdf["lng"].to_numpy(), res
            )
            yield pdf

    return df.mapInPandas(enrich, schema)


def windowed_lang_counts(df: DataFrame, window: str = "1 hour",
                         watermark: str = "2 hours") -> DataFrame:
    """Event-time windowed counts per language with late-data tolerance."""
    return (
        df.withWatermark("warc_ts", watermark)
        .groupBy(F.window("warc_ts", window).alias("win"), "lang")
        .agg(F.count("*").alias("n"), F.approx_count_distinct("cell").alias("n_cells"))
        .select(F.col("win.start").alias("win_start"), "lang", "n", "n_cells")
    )


def run_available(query_df: DataFrame, out_dir: str, checkpoint_dir: str,
                  output_mode: str = "append") -> None:
    """Drain everything currently available and stop — one resumable batch
    step.  Re-running with the same checkpoint skips already-read files."""
    q = (
        query_df.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
