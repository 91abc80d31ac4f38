"""Pure-stdlib GeoTIFF bridge (no GDAL/rasterio/PIL in this environment).

The reference's first user action is ``yg.read_raster("file.tif")``
(``_layers/rasters.py:173-370`` wraps a GDAL dataset); this module gives the
Spark engine the same file bridge from the public TIFF 6.0 / GeoTIFF 1.1
specifications alone:

* **Reader** — classic (II/MM) and BigTIFF; strip- and tile-organised;
  compression none (1), LZW (5, with the TIFF early-change variant) and
  Deflate (8 / 32946, stdlib zlib); horizontal-differencing predictor (2);
  integer and float sample formats at 8/16/32/64 bits; georeferencing from
  ModelPixelScaleTag + ModelTiepointTag and the EPSG code from the
  GeoKeyDirectory; nodata from GDAL's ASCII tag 42113.  Reads are windowed:
  only the strips/tiles intersecting the request are decoded, so per-tile
  kernel evaluation stays O(tile).
* **Writer** — tiled (256x256) classic or BigTIFF GeoTIFF with the same geo
  tags (deflate by default; LZW and uncompressed selectable; ``sparse=True``
  skips all-nodata tiles with offset/count 0, GDAL's SPARSE_OK layout), so
  round trips are self-consistent and outputs open in any standards-reading
  tool.

``GeoTIFFLayer`` holds only the path + parsed metadata (picklable); inside
Spark kernels each worker process re-opens the file lazily and caches the
handle, exactly like the parquet leaves.
"""

from __future__ import annotations

import os
import struct
import zlib
from typing import Any

import numpy as np

from ..dtypes import DataType
from ..grid import Area, MapProjection, Window
from .base import Layer, stable_hash

# TIFF tag ids used here.
_T_WIDTH = 256
_T_HEIGHT = 257
_T_BITS = 258
_T_COMPRESSION = 259
_T_PHOTOMETRIC = 262
_T_STRIP_OFFSETS = 273
_T_SAMPLES_PER_PIXEL = 277
_T_ROWS_PER_STRIP = 278
_T_STRIP_COUNTS = 279
_T_PLANAR = 284
_T_PREDICTOR = 317
_T_TILE_WIDTH = 322
_T_TILE_LENGTH = 323
_T_TILE_OFFSETS = 324
_T_TILE_COUNTS = 325
_T_SAMPLE_FORMAT = 339
_T_MODEL_PIXEL_SCALE = 33550
_T_MODEL_TIEPOINT = 33922
_T_GEO_KEYS = 34735
_T_GDAL_NODATA = 42113

# TIFF field types -> (struct code, size)
_FIELD = {
    1: ("B", 1), 2: ("c", 1), 3: ("H", 2), 4: ("I", 4), 5: ("II", 8),
    6: ("b", 1), 8: ("h", 2), 9: ("i", 4), 10: ("ii", 8), 11: ("f", 4),
    12: ("d", 8), 16: ("Q", 8), 17: ("q", 8),
}

_GEOKEY_GEOGRAPHIC_TYPE = 2048
_GEOKEY_PROJECTED_TYPE = 3072


def _np_dtype(bits: int, fmt: int, endian: str) -> np.dtype:
    kind = {1: "u", 2: "i", 3: "f"}.get(fmt, "u")
    return np.dtype(f"{endian}{kind}{bits // 8}")


def _lzw_decode(data: bytes) -> bytes:
    """TIFF-variant LZW (MSB-first codes, ClearCode 256, EOI 257, early
    code-width change) — the one GDAL writes by default for `-co COMPRESS=LZW`."""
    CLEAR, EOI = 256, 257
    out = bytearray()
    table: list[bytes] = []

    def reset():
        table.clear()
        table.extend(bytes([i]) for i in range(256))
        table.extend((b"", b""))  # 256, 257 placeholders

    reset()
    bit_pos = 0
    nbits = 9
    prev: bytes | None = None
    total_bits = len(data) * 8
    while bit_pos + nbits <= total_bits:
        byte0 = bit_pos >> 3
        chunk = int.from_bytes(data[byte0 : byte0 + 4].ljust(4, b"\0"), "big")
        code = (chunk >> (32 - (bit_pos & 7) - nbits)) & ((1 << nbits) - 1)
        bit_pos += nbits
        if code == EOI:
            break
        if code == CLEAR:
            reset()
            nbits = 9
            prev = None
            continue
        if prev is None:
            entry = table[code]
        elif code < len(table):
            entry = table[code]
            table.append(prev + entry[:1])
        else:  # code == len(table): KwKwK case
            entry = prev + prev[:1]
            table.append(entry)
        out += entry
        prev = entry
        # TIFF "early change": the decoder runs one table entry behind the
        # encoder AND the format widens one code early, so the switch
        # happens at table length (1<<n) - 2 (510 / 1022 / 2046).
        if len(table) >= (1 << nbits) - 2 and nbits < 12:
            nbits += 1
    return bytes(out)


def _lzw_encode(data: bytes) -> bytes:
    """TIFF-variant LZW encoder, the exact mirror of ``_lzw_decode``
    (MSB-first codes, ClearCode 256, EOI 257, early code-width change at
    table size (1<<n)-1 on the encoder side, CLEAR-and-reset when the
    12-bit table fills at 4094) — the variant libtiff/GDAL read.

    Pure Python (~1-2 MB/s): fine for the opt-in ``compression="lzw"``
    file bridge; the parquet ``save()`` path is the scale path and deflate
    (zlib, C speed) stays the default here.
    """
    clear, eoi = 256, 257
    out = bytearray()
    bitbuf = 0
    bitcnt = 0
    nbits = 9

    def emit(code: int) -> None:
        nonlocal bitbuf, bitcnt
        bitbuf = (bitbuf << nbits) | code
        bitcnt += nbits
        while bitcnt >= 8:
            bitcnt -= 8
            out.append((bitbuf >> bitcnt) & 0xFF)

    table: dict = {bytes([i]): i for i in range(256)}
    next_code = 258
    emit(clear)
    w = b""
    for i in range(len(data)):
        c = data[i : i + 1]
        wc = w + c
        if wc in table:
            w = wc
            continue
        emit(table[w])
        table[wc] = next_code
        next_code += 1
        # Early change: the decoder widens after appending entry
        # (1<<n)-2, which corresponds to the encoder's table reaching
        # (1<<n)-1 right after an add (it runs one entry ahead).
        if next_code == (1 << nbits) - 1:
            if nbits < 12:
                nbits += 1
            else:  # 12-bit table full (4094): reset, like libtiff
                emit(clear)
                table = {bytes([j]): j for j in range(256)}
                next_code = 258
                nbits = 9
        w = c
    if w:
        emit(table[w])
    emit(eoi)
    if bitcnt:
        out.append((bitbuf << (8 - bitcnt)) & 0xFF)
    return bytes(out)


_COMPRESSION_TAGS = {"deflate": 8, "lzw": 5, "none": 1}


class _Parsed:
    __slots__ = (
        "tags", "endian", "dtype", "width", "height", "compression",
        "predictor", "tile_w", "tile_h", "offsets", "counts", "is_tiled",
        "nodata", "scale", "tiepoint", "epsg", "samples", "planar",
    )


def _read_tiff_header(path: str) -> _Parsed:
    with open(path, "rb") as f:
        data = f.read(8)
        if data[:2] == b"II":
            endian = "<"
        elif data[:2] == b"MM":
            endian = ">"
        else:
            raise ValueError(f"{path}: not a TIFF file")
        magic = struct.unpack(endian + "H", data[2:4])[0]
        big = magic == 43
        if not big and magic != 42:
            raise ValueError(f"{path}: bad TIFF magic {magic}")
        if big:
            f.seek(8)
            ifd_off = struct.unpack(endian + "Q", f.read(8))[0]
        else:
            ifd_off = struct.unpack(endian + "I", data[4:8])[0]

        def read_ifd(off):
            f.seek(off)
            if big:
                n = struct.unpack(endian + "Q", f.read(8))[0]
                entry_size, cnt_fmt, off_fmt = 20, "Q", "Q"
            else:
                n = struct.unpack(endian + "H", f.read(2))[0]
                entry_size, cnt_fmt, off_fmt = 12, "I", "I"
            raw = f.read(n * entry_size)
            tags = {}
            for i in range(n):
                e = raw[i * entry_size : (i + 1) * entry_size]
                tag, ftype = struct.unpack(endian + "HH", e[:4])
                count = struct.unpack(endian + cnt_fmt, e[4 : 4 + struct.calcsize(cnt_fmt)])[0]
                if ftype not in _FIELD:
                    continue
                code, size = _FIELD[ftype]
                nbytes = size * count
                inline = e[4 + struct.calcsize(cnt_fmt) :]
                if nbytes <= len(inline):
                    payload = inline[:nbytes]
                else:
                    data_off = struct.unpack(endian + off_fmt, inline[: struct.calcsize(off_fmt)])[0]
                    here = f.tell()
                    f.seek(data_off)
                    payload = f.read(nbytes)
                    f.seek(here)
                if ftype == 2:
                    tags[tag] = payload.rstrip(b"\0").decode("ascii", "replace")
                elif ftype in (5, 10):
                    vals = struct.unpack(endian + ("I" if ftype == 5 else "i") * 2 * count, payload)
                    tags[tag] = [vals[2 * i] / (vals[2 * i + 1] or 1) for i in range(count)]
                else:
                    tags[tag] = list(struct.unpack(endian + code * count, payload))
            return tags

        tags = read_ifd(ifd_off)

    p = _Parsed()
    p.tags = tags
    p.endian = endian
    p.width = int(tags[_T_WIDTH][0])
    p.height = int(tags[_T_HEIGHT][0])
    bits = int(tags.get(_T_BITS, [8])[0])
    fmt = int(tags.get(_T_SAMPLE_FORMAT, [1])[0])
    p.samples = int(tags.get(_T_SAMPLES_PER_PIXEL, [1])[0])
    p.planar = int(tags.get(_T_PLANAR, [1])[0])
    if p.planar not in (1, 2):
        raise NotImplementedError(f"Unsupported planar configuration {p.planar}")
    p.dtype = _np_dtype(bits, fmt, endian)
    p.compression = int(tags.get(_T_COMPRESSION, [1])[0])
    if p.compression not in (1, 5, 8, 32946):
        raise NotImplementedError(f"Unsupported TIFF compression {p.compression}")
    p.predictor = int(tags.get(_T_PREDICTOR, [1])[0])
    if p.predictor not in (1, 2):
        raise NotImplementedError(f"Unsupported predictor {p.predictor}")
    if _T_TILE_OFFSETS in tags:
        p.is_tiled = True
        p.tile_w = int(tags[_T_TILE_WIDTH][0])
        p.tile_h = int(tags[_T_TILE_LENGTH][0])
        p.offsets = [int(v) for v in tags[_T_TILE_OFFSETS]]
        p.counts = [int(v) for v in tags[_T_TILE_COUNTS]]
    else:
        p.is_tiled = False
        p.tile_w = p.width
        p.tile_h = int(tags.get(_T_ROWS_PER_STRIP, [p.height])[0])
        p.offsets = [int(v) for v in tags[_T_STRIP_OFFSETS]]
        p.counts = [int(v) for v in tags[_T_STRIP_COUNTS]]
    nod = tags.get(_T_GDAL_NODATA)
    p.nodata = None
    if nod is not None:
        try:
            p.nodata = float(str(nod).strip())
        except ValueError:
            p.nodata = None
    p.scale = tags.get(_T_MODEL_PIXEL_SCALE)
    p.tiepoint = tags.get(_T_MODEL_TIEPOINT)
    p.epsg = None
    keys = tags.get(_T_GEO_KEYS)
    if keys:
        for i in range(4, len(keys), 4):
            key_id, location, _count, value = keys[i : i + 4]
            if key_id in (_GEOKEY_GEOGRAPHIC_TYPE, _GEOKEY_PROJECTED_TYPE) and location == 0:
                p.epsg = int(value)
                if key_id == _GEOKEY_PROJECTED_TYPE:
                    break  # projected code wins if both present
    return p


_OPEN_FILES: dict[str, Any] = {}


def _fileobj(path: str):
    """The process's open handle on ``path``.  Threads share it, so block
    reads use ``os.pread`` (no shared file position); past 64 files the
    handles are dropped, not closed, so a thread still reading one keeps
    it open until its last reference goes."""
    fo = _OPEN_FILES.get(path)
    if fo is None or fo.closed:
        if len(_OPEN_FILES) > 64:
            _OPEN_FILES.clear()
        fo = _OPEN_FILES[path] = open(path, "rb")  # noqa: SIM115
    return fo


class GeoTIFFLayer(Layer):
    """One band of a GeoTIFF file as an engine layer (windowed lazy reads).

    Both sample layouts are read: chunky (PlanarConfiguration=1, samples
    interleaved per pixel — the band is sliced out of each decoded block)
    and planar (=2, per-band planes at block-index offset
    ``(band-1) * blocks_per_band``)."""

    def __init__(self, path: str, name: str | None = None,
                 ignore_nodata: bool = False, band: int = 1,
                 crs: "str | None" = None):
        self.path = os.path.abspath(path)
        self.band = int(band)
        p = _read_tiff_header(self.path)
        if not 1 <= self.band <= p.samples:
            raise ValueError(
                f"{path}: band {band} out of range (file has {p.samples})"
            )
        if p.scale is None or p.tiepoint is None:
            raise ValueError(f"{path}: no GeoTIFF georeferencing tags")
        xstep, ystep = float(p.scale[0]), -abs(float(p.scale[1]))
        # Tiepoint maps raster (i, j, 0) -> model (x, y, 0); GDAL writes the
        # (0, 0) corner.
        left = float(p.tiepoint[3]) - float(p.tiepoint[0]) * xstep
        top = float(p.tiepoint[4]) - float(p.tiepoint[1]) * ystep
        if crs is not None:
            epsg = crs
        elif not p.epsg or p.epsg == 32767:  # absent, 0, or "user-defined"
            raise ValueError(
                f"{path}: GeoTIFF carries no resolvable EPSG geokey "
                f"(got {p.epsg!r}) — refusing to assume epsg:4326, which "
                "would silently pass the projection-mismatch check against "
                "genuine 4326 layers; pass crs=epsg:NNNN (read_raster/"
                "GeoTIFFLayer) or rewrite the file with a CRS geokey"
            )
        else:
            epsg = f"epsg:{p.epsg}"
        projection = MapProjection(epsg, xstep, ystep)
        area = Area(
            left, top, left + p.width * xstep, top + p.height * ystep, projection
        )
        super().__init__(area, name if name is not None else path)
        self._meta = p
        self._ignore_nodata = ignore_nodata
        self._mtime = os.stat(self.path).st_mtime

    @property
    def datatype(self) -> DataType:
        return DataType.of_numpy(self._meta.dtype.newbyteorder("="))

    @property
    def nodata(self):
        return self._meta.nodata

    @property
    def cse_hash(self) -> int | None:
        return stable_hash("geotiff", self.path, self.band, self._mtime,
                           self._ignore_nodata)

    def __getstate__(self):
        state = {s: getattr(self, s) for s in (
            "path", "band", "_ignore_nodata", "_mtime", "_window",
            "_underlying_area", "name",
        )}
        return state

    def __setstate__(self, state):
        for k, v in state.items():
            setattr(self, k, v)
        self._meta = _read_tiff_header(self.path)

    def _decode_block(self, idx: int) -> np.ndarray:
        p = self._meta
        if p.planar == 2:
            blocks_per_band = len(p.offsets) // p.samples
            file_idx = (self.band - 1) * blocks_per_band + idx
            samples_in_block = 1
        else:
            file_idx = idx
            samples_in_block = p.samples
        if p.is_tiled:
            h, w = p.tile_h, p.tile_w
        else:
            h = min(p.tile_h, p.height - idx * p.tile_h)
            w = p.width
        if p.counts[file_idx] == 0 and p.offsets[file_idx] == 0:
            # Sparse block (GDAL SPARSE_OK convention): never stored, reads
            # as nodata (or zero when the file declares none).
            fill = p.nodata if p.nodata is not None else 0
            return np.full((h, w), fill,
                           dtype=p.dtype.newbyteorder("=")
                           if p.dtype.byteorder in ("<", ">") else p.dtype)
        f = _fileobj(self.path)  # held: a dropped handle closes when freed
        raw = os.pread(f.fileno(), p.counts[file_idx], p.offsets[file_idx])
        if p.compression in (8, 32946):
            raw = zlib.decompress(raw)
        elif p.compression == 5:
            raw = _lzw_decode(raw)
        n = h * w * samples_in_block * p.dtype.itemsize
        arr = np.frombuffer(raw[:n], dtype=p.dtype).reshape(h, w, samples_in_block)
        if p.predictor == 2:
            # Horizontal differencing runs between the SAME sample of
            # adjacent pixels — cumsum along width per sample plane.
            arr = np.cumsum(arr, axis=1, dtype=arr.dtype)
        if samples_in_block > 1:
            arr = arr[:, :, self.band - 1]
        else:
            arr = arr[:, :, 0]
        return arr

    def read_window(self, xoff: int, yoff: int, xsize: int, ysize: int,
                    window: Window) -> Any:
        p = self._meta
        x0 = window.xoff + xoff
        y0 = window.yoff + yoff
        out = np.zeros((ysize, xsize), dtype=p.dtype.newbyteorder("=")
                       if p.dtype.byteorder in ("<", ">") else p.dtype)
        ix0, ix1 = max(x0, 0), min(x0 + xsize, p.width)
        iy0, iy1 = max(y0, 0), min(y0 + ysize, p.height)
        if ix0 < ix1 and iy0 < iy1:
            tiles_x = -(-p.width // p.tile_w) if p.is_tiled else 1
            for by in range(iy0 // p.tile_h, (iy1 - 1) // p.tile_h + 1):
                for bx in range(ix0 // p.tile_w, (ix1 - 1) // p.tile_w + 1):
                    idx = by * tiles_x + bx
                    block = self._decode_block(idx)
                    gy0, gx0 = by * p.tile_h, bx * p.tile_w
                    sy0 = max(iy0, gy0)
                    sy1 = min(iy1, gy0 + block.shape[0])
                    sx0 = max(ix0, gx0)
                    sx1 = min(ix1, gx0 + block.shape[1])
                    out[sy0 - y0 : sy1 - y0, sx0 - x0 : sx1 - x0] = block[
                        sy0 - gy0 : sy1 - gy0, sx0 - gx0 : sx1 - gx0
                    ]
        if not self._ignore_nodata and p.nodata is not None:
            # Unconditional, like the reference (rasters.py:366-369) and the
            # parquet path (parquet.py apply_nodata): np.where upcasts int
            # rasters to float64 so nodata really becomes NaN — gating on
            # float dtype made the same data aggregate differently by format.
            out = np.where(out == p.nodata, np.nan, out)
        return out

    def read_array(self, x: int, y: int, width: int, height: int, spark=None) -> np.ndarray:
        return np.asarray(self.read_window(x, y, width, height, self.window))


def _epsg_of(projection: MapProjection) -> int | None:
    code = projection.crs.code
    if code.startswith("epsg:"):
        try:
            return int(code.split(":", 1)[1])
        except ValueError:
            return None
    return None


def _pack_values(ftype, values):
    if ftype == 2:
        return bytes(values)
    code, _ = _FIELD[ftype]
    return struct.pack("<" + code * len(values), *values)


class TiffStreamWriter:
    """Streaming tiled-GeoTIFF writer: the header and IFD are written up
    front with the tile offset/byte-count arrays reserved, compressed tile
    payloads append in row-major order, and ``close()`` seeks back to patch
    the two arrays — driver memory is O(one tile), and the finished file is
    byte-identical to a fully-buffered write of the same pixels (same
    layout, same deflate settings).

    The reference writes one GeoTIFF strip-by-strip with bounded memory
    (``_operators/__init__.py:1092-1111``); this is the tiled-format
    equivalent for the Spark sink."""

    def __init__(self, path: str, width: int, height: int, dtype,
                 area: Area, nodata: float | None = None,
                 tile_size: int = 256, n_bands: int = 1,
                 bigtiff: bool = False, compression: str = "deflate",
                 sparse: bool = False) -> None:
        projection = area.projection
        assert projection is not None
        if compression not in _COMPRESSION_TAGS:
            raise ValueError(
                f"compression {compression!r} not supported; one of "
                f"{sorted(_COMPRESSION_TAGS)}"
            )
        if sparse and nodata is None:
            # Reference parity (_operators/__init__.py:1415-1416): a sparse
            # file's unwritten blocks READ as nodata, so without one the
            # skipped pixels would be indistinguishable from real zeros.
            raise ValueError("Nodata value must be provided for sparse GeoTIFFs")
        self.compression = compression
        self.sparse = sparse
        self._fill = nodata
        self.bigtiff = bigtiff
        dtype = np.dtype(dtype)
        if dtype == np.bool_:
            dtype = np.dtype(np.uint8)
        self.dtype = dtype
        self.tile_size = tile_size
        self.n_bands = n_bands
        s = tile_size
        self.tiles_x, self.tiles_y = -(-width // s), -(-height // s)
        # Multiband files use the PLANAR layout (PlanarConfiguration=2):
        # per-band planes of tiles, band-major — exactly the block-index
        # arithmetic the reader implements.  write_tile order is band 1's
        # tiles row-major, then band 2's, ...
        n_tiles = self.tiles_x * self.tiles_y * n_bands
        fmt = {"u": 1, "i": 2, "f": 3}[dtype.kind]
        bits = dtype.itemsize * 8

        epsg = _epsg_of(projection)
        is_geo = projection.crs.is_geographic
        geo_keys = [1, 1, 0, 2,
                    1024, 0, 1, 2 if is_geo else 1,  # GTModelType
                    1025, 0, 1, 1]  # RasterPixelIsArea
        if epsg is not None:
            geo_keys += [
                (_GEOKEY_GEOGRAPHIC_TYPE if is_geo else _GEOKEY_PROJECTED_TYPE),
                0, 1, epsg,
            ]
            geo_keys[3] += 1
        scale = (abs(projection.xstep), abs(projection.ystep), 0.0)
        tiepoint = (0.0, 0.0, 0.0, area.left, area.top, 0.0)

        entries = []  # (tag, type, count, values); None values patch at close
        entries.append((_T_WIDTH, 3, 1, [width]))
        entries.append((_T_HEIGHT, 3, 1, [height]))
        entries.append((_T_BITS, 3, n_bands, [bits] * n_bands))
        entries.append((_T_COMPRESSION, 3, 1, [_COMPRESSION_TAGS[compression]]))
        entries.append((_T_PHOTOMETRIC, 3, 1, [1]))
        entries.append((_T_SAMPLES_PER_PIXEL, 3, 1, [n_bands]))
        entries.append((_T_PLANAR, 3, 1, [1 if n_bands == 1 else 2]))
        entries.append((_T_TILE_WIDTH, 3, 1, [s]))
        entries.append((_T_TILE_LENGTH, 3, 1, [s]))
        off_type = 16 if bigtiff else 4  # LONG8 vs LONG
        entries.append((_T_TILE_OFFSETS, off_type, n_tiles, None))
        entries.append((_T_TILE_COUNTS, off_type, n_tiles, None))
        entries.append((_T_SAMPLE_FORMAT, 3, n_bands, [fmt] * n_bands))
        entries.append((_T_MODEL_PIXEL_SCALE, 12, 3, list(scale)))
        entries.append((_T_MODEL_TIEPOINT, 12, 6, list(tiepoint)))
        entries.append((_T_GEO_KEYS, 3, len(geo_keys), geo_keys))
        if nodata is not None:
            nod = (f"{nodata:.18g}" + "\0").encode("ascii")
            entries.append((_T_GDAL_NODATA, 2, len(nod), nod))
        entries.sort(key=lambda e: e[0])

        # Layout: header + IFD + out-of-line tag data + tile payloads.
        # BigTIFF: 16-byte header, 20-byte entries with u64 counts and
        # 8-byte value slots, u64 offsets — the format the reader already
        # parses; classic stays byte-identical.
        head_size = 16 if bigtiff else 8
        entry_size = 20 if bigtiff else 12
        inline_max = 8 if bigtiff else 4
        ifd_size = (8 + len(entries) * entry_size + 8) if bigtiff else (
            2 + len(entries) * entry_size + 4
        )
        pos = head_size + ifd_size
        overflow = {}
        for tag, ftype, count, values in entries:
            _, size = _FIELD[ftype]
            nbytes = size * count if ftype != 2 else count
            if nbytes > inline_max:
                overflow[tag] = pos
                pos += nbytes + (nbytes & 1)

        self._path = path
        self._n_tiles = n_tiles
        self._offsets: list[int] = []
        self._lengths: list[int] = []
        # Where the offsets/counts arrays live for the close() patch: the
        # overflow region, or (single-tile file) inline in the IFD entry's
        # value slot.
        self._patch_pos: dict[int, int] = {}
        self._f = open(path + ".part", "wb")
        f = self._f
        off_code = "Q" if bigtiff else "I"
        if bigtiff:
            f.write(b"II" + struct.pack("<HHHQ", 43, 8, 0, 16))
            f.write(struct.pack("<Q", len(entries)))
        else:
            f.write(b"II" + struct.pack("<HI", 42, 8))
            f.write(struct.pack("<H", len(entries)))
        cnt_code = "Q" if bigtiff else "I"
        for tag, ftype, count, values in entries:
            f.write(struct.pack("<HH" + cnt_code, tag, ftype, count))
            if values is None:  # reserved array, patched at close
                if tag in overflow:
                    f.write(struct.pack("<" + off_code, overflow[tag]))
                    self._patch_pos[tag] = overflow[tag]
                else:
                    self._patch_pos[tag] = f.tell()
                    f.write(b"\0" * inline_max)
                continue
            payload = _pack_values(ftype, values)
            if len(payload) <= inline_max:
                f.write(payload.ljust(inline_max, b"\0"))
            else:
                f.write(struct.pack("<" + off_code, overflow[tag]))
        f.write(struct.pack("<" + off_code, 0))  # no next IFD
        elem = 8 if bigtiff else 4
        for tag, ftype, count, values in entries:
            if tag in overflow:
                if values is None:
                    f.write(b"\0" * (elem * count))
                    continue
                payload = _pack_values(ftype, values)
                f.write(payload)
                if len(payload) & 1:
                    f.write(b"\0")
        assert f.tell() == pos

    def write_tile(self, block: np.ndarray) -> None:
        """Append the next tile (row-major order).  ``block`` may be smaller
        than tile_size at the right/bottom edges; it is zero-padded.

        Sparse mode: a block that is entirely the nodata value is not
        stored at all — its offset AND byte count are recorded as 0, the
        TIFF convention GDAL's SPARSE_OK extension writes and reads
        (unwritten blocks read back as nodata)."""
        if len(self._offsets) >= self._n_tiles:
            raise ValueError("more tiles written than the grid holds")
        if self.sparse:
            b = np.asarray(block)
            all_fill = (np.all(np.isnan(b)) if np.isnan(self._fill)
                        else bool(np.all(b == self._fill)))
            if all_fill:
                self._offsets.append(0)
                self._lengths.append(0)
                return
        s = self.tile_size
        tile = np.zeros((s, s), dtype=self.dtype)
        tile[: block.shape[0], : block.shape[1]] = block
        raw = tile.astype(self.dtype.newbyteorder("<")).tobytes()
        if self.compression == "deflate":
            payload = zlib.compress(raw, 6)
        elif self.compression == "lzw":
            payload = _lzw_encode(raw)
        else:
            payload = raw
        if not self.bigtiff and self._f.tell() + len(payload) >= (1 << 32):
            raise ValueError(
                "classic TIFF offsets overflow 4 GiB at tile "
                f"{len(self._offsets)}/{self._n_tiles}; re-run with "
                "bigtiff=True (the reader supports BigTIFF)"
            )
        self._offsets.append(self._f.tell())
        self._lengths.append(len(payload))
        self._f.write(payload)
        if len(payload) & 1:
            self._f.write(b"\0")

    def abort(self) -> None:
        """Abandon the write: close the handle and remove the ``.part``
        scratch file so a failed gather leaves nothing behind (a stale
        ``.part`` would otherwise sit next to the target forever — the
        atomic ``os.replace`` in ``close()`` never sees it).  Idempotent."""
        try:
            if not self._f.closed:
                self._f.close()
        finally:
            try:
                os.unlink(self._path + ".part")
            except FileNotFoundError:
                pass

    def close(self) -> None:
        if len(self._offsets) != self._n_tiles:
            raise ValueError(
                f"wrote {len(self._offsets)} tiles, grid holds {self._n_tiles}"
            )
        f = self._f
        code = "Q" if self.bigtiff else "I"
        f.seek(self._patch_pos[_T_TILE_OFFSETS])
        f.write(struct.pack("<" + code * self._n_tiles, *self._offsets))
        f.seek(self._patch_pos[_T_TILE_COUNTS])
        f.write(struct.pack("<" + code * self._n_tiles, *self._lengths))
        f.close()
        os.replace(self._path + ".part", self._path)


def write_geotiff(path: str, data: np.ndarray, area: Area,
                  nodata: float | None = None, tile_size: int = 256,
                  bigtiff: bool = False, compression: str = "deflate",
                  sparse: bool = False) -> None:
    """Write a 2-D numpy array as a tiled, compressed GeoTIFF
    (classic, or BigTIFF with ``bigtiff=True``) with ModelPixelScale/
    Tiepoint + GeoKey georeferencing.  ``compression``: deflate (default),
    lzw, or none; ``sparse=True`` skips all-nodata tiles (offset/count 0,
    GDAL's SPARSE_OK layout; requires ``nodata``)."""
    data = np.ascontiguousarray(data)
    if data.dtype == np.bool_:
        data = data.astype(np.uint8)
    height, width = data.shape
    w = TiffStreamWriter(path, width, height, data.dtype, area,
                         nodata=nodata, tile_size=tile_size, bigtiff=bigtiff,
                         compression=compression, sparse=sparse)
    s = tile_size
    try:
        for ty in range(w.tiles_y):
            for tx in range(w.tiles_x):
                w.write_tile(data[ty * s : (ty + 1) * s, tx * s : (tx + 1) * s])
        w.close()
    except BaseException:
        # Same contract as to_geotiff: a mid-write failure (e.g. the classic
        # 4 GiB ceiling) must not leak the handle or a stale .part file.
        w.abort()
        raise
