"""Deterministic synthetic Common-Crawl-style pages table + page functions.

Input shape per BASELINE.json's ``input_hint``:
``(url:string, warc_ts:timestamp, html:binary, text:string, lang:string)``.

Everything is a pure function of the row index and the seed, computed
batch-at-a-time with numpy inside ``mapInPandas`` — generation is embarrassingly
parallel (no shuffle, no driver materialisation) and bit-identical at any
partitioning, executor count, or scale factor.

Skew is built in deliberately: ~1% of rows share a handful of hot hosts and
~35% of pages geocode into a few megacity hotspots, so the downstream joins
exercise the salting / adaptive-cell-splitting paths.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F

from .._worker import task_entry
from . import cells as cellindex

_LANGS = np.array(["en", "de", "fr", "es", "pt", "zh", "ja", "ru"])
_LANG_CUM = np.cumsum(np.array([0.45, 0.10, 0.09, 0.09, 0.07, 0.08, 0.06, 0.06]))
_WORDS = np.array(
    "the of and to in is was for on that habitat forest river city market data "
    "species range map layer pixel area cell join page crawl web text model "
    "green value north south east west upper lower delta gamma".split()
)

# (lat, lng) of synthetic megacity hotspots that concentrate geocoded pages.
_HOTSPOTS = np.array(
    [
        (40.71, -74.00), (51.50, -0.12), (35.68, 139.69), (19.43, -99.13),
        (-23.55, -46.63), (28.61, 77.20), (31.23, 121.47), (6.52, 3.37),
    ]
)

PAGES_SCHEMA = "url string, warc_ts timestamp, html binary, text string, lang string"
BASE_EPOCH_S = 1_577_836_800  # 2020-01-01T00:00:00Z


def _mix(ids: np.ndarray, salt: int) -> np.ndarray:
    """splitmix64-style integer hash (vectorised, deterministic; uint64
    wraparound is the point, so overflow warnings are silenced)."""
    with np.errstate(over="ignore"):
        z = ids.astype(np.uint64) + np.uint64(salt) * np.uint64(0x9E3779B97F4A7C15)
        z = (z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
        z = (z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
        return z ^ (z >> np.uint64(31))


def _unit(ids: np.ndarray, salt: int) -> np.ndarray:
    """Deterministic uniform [0,1) per id."""
    return (_mix(ids, salt) >> np.uint64(11)).astype(np.float64) / float(1 << 53)


def synthesize_batch(ids: np.ndarray, seed: int = 42) -> pd.DataFrame:
    """One Arrow batch of pages from raw row indices."""
    ids = np.asarray(ids, dtype=np.int64)
    n = len(ids)

    host_hash = _mix(ids, seed + 1)
    # ~1% of rows collapse onto 10 hot hosts (URL skew bucket).
    hot = _unit(ids, seed + 2) < 0.01
    host = np.where(hot, host_hash % np.uint64(10), host_hash % np.uint64(10_000))
    urls = np.char.add(
        np.char.add("https://site", host.astype(np.int64).astype(str)),
        np.char.add(".example/p/", ids.astype(str)),
    )

    ts = pd.to_datetime(
        BASE_EPOCH_S + ids * 7 + (_mix(ids, seed + 3) % np.uint64(5)).astype(np.int64),
        unit="s",
    )

    lang = _LANGS[np.searchsorted(_LANG_CUM, _unit(ids, seed + 4), side="right").clip(0, len(_LANGS) - 1)]

    # Deterministic token sequences: 8..40 words chosen by per-position hashes.
    lengths = (8 + (_mix(ids, seed + 5) % np.uint64(33)).astype(np.int64))
    max_len = int(lengths.max()) if n else 0
    word_idx = np.empty((n, max_len), dtype=np.int64)
    for pos in range(max_len):
        word_idx[:, pos] = (_mix(ids, seed + 100 + pos) % np.uint64(len(_WORDS))).astype(np.int64)
    words = _WORDS[word_idx]
    texts = np.array(
        [" ".join(words[i, : lengths[i]]) for i in range(n)], dtype=object
    )

    htmls = np.array(
        [b"<html><body>" + t.encode("utf-8") + b"</body></html>" for t in texts],
        dtype=object,
    )
    return pd.DataFrame(
        {"url": urls, "warc_ts": ts, "html": htmls, "text": texts, "lang": lang}
    )


def generate_pages(spark: SparkSession, n_rows: int, seed: int = 42,
                   partitions: int | None = None) -> DataFrame:
    """The synthetic pages table as a distributed DataFrame."""
    if partitions is None:
        partitions = max(spark.sparkContext.defaultParallelism, 1)

    @task_entry
    def gen(batches):
        for pdf in batches:
            yield synthesize_batch(pdf["id"].to_numpy(), seed)

    return spark.range(0, n_rows, numPartitions=partitions).mapInPandas(gen, PAGES_SCHEMA)


# -- page functions (Arrow-vectorised; no per-row Python) --------------------

def extract_text_batch(html: pd.Series) -> pd.Series:
    """Extract text from the html payload.  The per-row invariant the engine
    is validated on: extraction is byte-identical to the source text."""
    def strip(b: bytes) -> str:
        start = b.find(b"<body>")
        end = b.rfind(b"</body>")
        if start == -1 or end == -1:
            return b.decode("utf-8", errors="replace")
        return b[start + 6 : end].decode("utf-8")

    # bytes -> str vectorised via pandas str ops would re-encode; the simple
    # object-map stays inside the Arrow batch (one Python call per row is the
    # floor for opaque binary payloads; real decode would be a C parser).
    return html.map(strip)


def html_text_column(col, *, binary: bool = True):
    """General HTML -> text extraction as a pure-JVM regexp chain — the
    real-crawl counterpart of ``extract_text_batch`` (which handles the
    synthetic generator's fixed ``<body>`` shape byte-exactly).

    Stages, in order: drop ``<script>``/``<style>`` blocks and comments
    (their content is not text), convert block-closing tags to newlines
    (paragraph structure survives), strip every remaining tag, decode the
    common named/numeric entities, collapse whitespace runs, trim.
    Everything stays inside whole-stage codegen — no Python, no shuffle;
    the same chain-of-``regexp_replace`` shape as ``quality.redact_pii``.

    Lossy by design (a browser-grade parser is out of scope; malformed
    markup degrades gracefully to over-stripping) — use it for feature
    extraction and dedup keys, not for byte-exact re-rendering.
    """
    from pyspark.sql import functions as F  # pylint: disable=C0415

    s = F.decode(col, "UTF-8") if binary else col
    # Non-text containers and comments go first so their bodies never
    # reach the tag-stripping stage as visible text.
    s = F.regexp_replace(s, r"(?is)<(script|style)\b[^>]*>.*?</\1\s*>", " ")
    s = F.regexp_replace(s, r"(?s)<!--.*?-->", " ")
    s = F.regexp_replace(
        s,
        r"(?i)</(p|div|h[1-6]|li|tr|table|blockquote|section|article|title)\s*>",
        "\n")
    s = F.regexp_replace(s, r"(?i)<br\s*/?>", "\n")
    s = F.regexp_replace(s, r"(?s)<[^>]*>", " ")
    for ent, repl in (("&nbsp;", " "), ("&lt;", "<"), ("&gt;", ">"),
                      ("&quot;", "\""), ("&#39;", "'"), ("&apos;", "'"),
                      ("&amp;", "&")):  # &amp; LAST: double-escapes survive
        s = F.replace(s, F.lit(ent), F.lit(repl))
    s = F.regexp_replace(s, r"[ \t\x0b\f\r]+", " ")
    s = F.regexp_replace(s, r" ?\n ?", "\n")
    s = F.regexp_replace(s, r"\n{2,}", "\n")
    # NOT F.trim: Spark's trim strips spaces only, never newlines.
    return F.regexp_replace(s, r"^\s+|\s+$", "")


def geocode_batch(url: pd.Series, seed: int = 42) -> pd.DataFrame:
    """Deterministic url -> (lat, lng).

    A keyed hash of the url decides hotspot membership (~35% of pages cluster
    within ~2 degrees of a megacity) and the coordinates; everything is
    reproducible from the url alone, so re-runs and retries geocode
    identically (idempotent lineage)."""
    h = _stable_hash(url)
    u1 = (_mix(h, seed + 11) >> np.uint64(11)).astype(np.float64) / float(1 << 53)
    u2 = (_mix(h, seed + 12) >> np.uint64(11)).astype(np.float64) / float(1 << 53)
    u3 = (_mix(h, seed + 13) >> np.uint64(11)).astype(np.float64) / float(1 << 53)

    in_hotspot = u1 < 0.35
    spot = (_mix(h, seed + 14) % np.uint64(len(_HOTSPOTS))).astype(np.int64)
    hot_lat = _HOTSPOTS[spot, 0] + (u2 - 0.5) * 4.0
    hot_lng = _HOTSPOTS[spot, 1] + (u3 - 0.5) * 4.0
    flat_lat = -60.0 + u2 * 135.0          # [-60, 75)
    flat_lng = -180.0 + u3 * 360.0         # [-180, 180)
    lat = np.where(in_hotspot, hot_lat, flat_lat)
    lng = np.where(in_hotspot, hot_lng, flat_lng)
    lng = ((lng + 180.0) % 360.0) - 180.0
    lat = np.clip(lat, -89.999, 89.999)
    return pd.DataFrame({"lat": lat, "lng": lng})


def _stable_hash(strings: pd.Series) -> np.ndarray:
    """Deterministic 64-bit hash per string, vectorised in C (pandas'
    keyed siphash — stable across processes, unlike Python's ``hash``)."""
    return pd.util.hash_pandas_object(
        pd.Series(strings).reset_index(drop=True), index=False,
        hash_key="yirgacheffespark", categorize=False,  # key must be 16 bytes
    ).to_numpy(dtype=np.uint64)


def enriched_pages(spark: SparkSession, n_rows: int, res: int = 7, seed: int = 42) -> DataFrame:
    """Pages + extracted text + geocode + cell assignment, in one fused
    mapInPandas pass (one scan, zero shuffles)."""

    schema = PAGES_SCHEMA + ", extracted string, lat double, lng double, cell long"

    @task_entry
    def enrich(batches):
        for pdf in batches:
            base = synthesize_batch(pdf["id"].to_numpy(), seed)
            base["extracted"] = extract_text_batch(base["html"])
            geo = geocode_batch(base["url"], seed)
            base["lat"] = geo["lat"].to_numpy()
            base["lng"] = geo["lng"].to_numpy()
            base["cell"] = cellindex.latlng_to_cell(base["lat"].to_numpy(),
                                                    base["lng"].to_numpy(), res)
            yield base

    parts = max(spark.sparkContext.defaultParallelism, 1)
    return spark.range(0, n_rows, numPartitions=parts).mapInPandas(enrich, schema)


def enrich_pages_df(df: DataFrame, res: int = 7, seed: int = 42) -> DataFrame:
    """Enrich an EXISTING pages table (schema ``PAGES_SCHEMA``: url, warc_ts,
    html, text, lang — the crawl-table shape) with extracted text, the
    deterministic geocode, and the cell assignment, in one fused
    mapInPandas pass over whatever partitioning the source already has
    (one scan, zero shuffles — the cluster-ingest twin of
    ``enriched_pages``, which synthesizes its input)."""
    schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in df.schema.fields
    ) + ", extracted string, lat double, lng double, cell long"

    @task_entry
    def enrich(batches):
        for pdf in batches:
            pdf = pdf.copy()
            pdf["extracted"] = extract_text_batch(pdf["html"])
            geo = geocode_batch(pdf["url"], seed)
            pdf["lat"] = geo["lat"].to_numpy()
            pdf["lng"] = geo["lng"].to_numpy()
            pdf["cell"] = cellindex.latlng_to_cell(pdf["lat"].to_numpy(),
                                                   pdf["lng"].to_numpy(), res)
            yield pdf

    return df.mapInPandas(enrich, schema)
