"""Seeded benchmark inputs, written with the benchmark's own encoders.

Nothing here imports the library: the tiled OME-TIFF and OME-Zarr v2
writers below are small independent encoders, so a change to the
library's codecs cannot change the bytes a benchmark run reads.

Images are smooth seeded fields plus Gaussian noise, so deflate and zlib
see realistic ratios instead of incompressible random bytes. The same
seed always gives the same files.
"""

from __future__ import annotations

import json
import os
import struct
import zlib

import numpy as np
import pandas as pd

# -- image generation -------------------------------------------------------

def smooth_scene(rng: np.random.Generator, shape: tuple) -> np.ndarray:
    """A TCZYX uint16 block: per plane, three seeded sinusoids plus noise."""
    t_n, c_n, z_n, y_n, x_n = shape
    yy = np.linspace(0.0, 1.0, y_n)[:, None]
    xx = np.linspace(0.0, 1.0, x_n)[None, :]
    out = np.empty(shape, np.uint16)
    for idx in np.ndindex(t_n, c_n, z_n):
        field = np.zeros((y_n, x_n))
        for _ in range(3):
            fy, fx = rng.uniform(1.0, 6.0, 2)
            py, px = rng.uniform(0.0, 2 * np.pi, 2)
            field += np.sin(2 * np.pi * fy * yy + py) * np.cos(
                2 * np.pi * fx * xx + px)
        plane = 8000.0 + 2500.0 * field + rng.normal(0.0, 40.0, (y_n, x_n))
        out[idx] = np.clip(plane, 0, 65535).astype(np.uint16)
    return out


# -- OME-TIFF (tiled, deflate) ---------------------------------------------

def _ome_xml(scenes: list, channel_names: list, pps: tuple) -> str:
    """One <Image> per scene; pages in XYZCT order, scene after scene."""
    pz, py, px = pps
    images, ifd = [], 0
    for i, block in enumerate(scenes):
        t_n, c_n, z_n, y_n, x_n = block.shape
        chans = "".join(
            f'<Channel ID="Channel:{i}:{c}" Name="{channel_names[c]}" '
            f'SamplesPerPixel="1"/>' for c in range(c_n))
        tds = []
        for t in range(t_n):
            for c in range(c_n):
                for z in range(z_n):
                    tds.append(f'<TiffData IFD="{ifd}" FirstT="{t}" '
                               f'FirstC="{c}" FirstZ="{z}" PlaneCount="1"/>')
                    ifd += 1
        images.append(
            f'<Image ID="Image:{i}" Name="scene{i}">'
            f'<Pixels ID="Pixels:{i}" DimensionOrder="XYZCT" '
            f'Type="uint16" BigEndian="false" SizeT="{t_n}" SizeC="{c_n}" '
            f'SizeZ="{z_n}" SizeY="{y_n}" SizeX="{x_n}" '
            f'PhysicalSizeX="{px}" PhysicalSizeXUnit="µm" '
            f'PhysicalSizeY="{py}" PhysicalSizeYUnit="µm" '
            f'PhysicalSizeZ="{pz}" PhysicalSizeZUnit="µm">'
            + chans + "".join(tds) + "</Pixels></Image>")
    return ('<?xml version="1.0" encoding="UTF-8"?>'
            '<OME xmlns="http://www.openmicroscopy.org/Schemas/OME/'
            '2016-06">' + "".join(images) + "</OME>")


def _entry(tag: int, typ: int, count: int, value: int) -> bytes:
    if typ == 3 and count == 1:                       # SHORT, inline
        return struct.pack("<HHIHH", tag, typ, count, value, 0)
    return struct.pack("<HHII", tag, typ, count, value)


def encode_tiled_ome_tiff(scenes: list, channel_names: list, pps: tuple,
                          tile: int = 128) -> bytes:
    """Little-endian classic TIFF, one deflate-compressed tiled page per
    (scene, t, c, z) plane, the OME-XML in page 0's ImageDescription."""
    desc = _ome_xml(scenes, channel_names, pps).encode("utf-8") + b"\0"
    out = bytearray(b"II*\0\0\0\0\0")
    desc_off = len(out)
    out += desc
    next_ptr = 4                      # where the next IFD offset goes
    for block in scenes:
        t_n, c_n, z_n, y_n, x_n = block.shape
        for t in range(t_n):
            for c in range(c_n):
                for z in range(z_n):
                    plane = block[t, c, z]
                    offs, counts = [], []
                    for y0 in range(0, y_n, tile):
                        for x0 in range(0, x_n, tile):
                            buf = np.zeros((tile, tile), np.uint16)
                            part = plane[y0:y0 + tile, x0:x0 + tile]
                            buf[:part.shape[0], :part.shape[1]] = part
                            data = zlib.compress(buf.astype("<u2").tobytes(),
                                                 6)
                            if len(out) % 2:
                                out += b"\0"
                            offs.append(len(out))
                            counts.append(len(data))
                            out += data
                    n = len(offs)
                    if len(out) % 2:
                        out += b"\0"
                    offs_at = len(out)
                    out += struct.pack(f"<{n}I", *offs)
                    counts_at = len(out)
                    out += struct.pack(f"<{n}I", *counts)
                    entries = [
                        _entry(256, 4, 1, x_n), _entry(257, 4, 1, y_n),
                        _entry(258, 3, 1, 16), _entry(259, 3, 1, 8),
                        _entry(262, 3, 1, 1)]
                    if next_ptr == 4:
                        entries.append(_entry(270, 2, len(desc), desc_off))
                    entries += [
                        _entry(277, 3, 1, 1), _entry(284, 3, 1, 1),
                        _entry(322, 3, 1, tile), _entry(323, 3, 1, tile),
                        _entry(324, 4, n, offs[0] if n == 1 else offs_at),
                        _entry(325, 4, n,
                               counts[0] if n == 1 else counts_at),
                        _entry(339, 3, 1, 1)]
                    if len(out) % 2:
                        out += b"\0"
                    ifd_at = len(out)
                    out[next_ptr:next_ptr + 4] = struct.pack("<I", ifd_at)
                    out += struct.pack("<H", len(entries)) + b"".join(entries)
                    next_ptr = len(out)
                    out += b"\0\0\0\0"
    return bytes(out)


# -- OME-Zarr v2 (NGFF 0.4) -------------------------------------------------

def write_ome_zarr(store: str, block: np.ndarray, channel_names: list,
                   pps: tuple, chunk: int = 128) -> None:
    """One NGFF 0.4 image group: level "0" only, (1,1,1,chunk,chunk)
    zlib chunks with '.'-separated keys."""
    t_n, c_n, z_n, y_n, x_n = block.shape
    os.makedirs(os.path.join(store, "0"), exist_ok=True)
    with open(os.path.join(store, ".zgroup"), "w") as f:
        json.dump({"zarr_format": 2}, f)
    axes = [{"name": "t", "type": "time"}, {"name": "c", "type": "channel"}]
    axes += [{"name": n, "type": "space", "unit": "micrometer"}
             for n in "zyx"]
    attrs = {"multiscales": [{
        "version": "0.4", "name": os.path.basename(store), "axes": axes,
        "datasets": [{"path": "0", "coordinateTransformations": [
            {"type": "scale", "scale": [1.0, 1.0, *pps]}]}]}],
        "omero": {"channels": [{"label": n} for n in channel_names]}}
    with open(os.path.join(store, ".zattrs"), "w") as f:
        json.dump(attrs, f)
    chunks = [1, 1, 1, chunk, chunk]
    with open(os.path.join(store, "0", ".zarray"), "w") as f:
        json.dump({"zarr_format": 2, "shape": list(block.shape),
                   "chunks": chunks, "dtype": "<u2",
                   "compressor": {"id": "zlib", "level": 1},
                   "fill_value": 0, "order": "C", "filters": None,
                   "dimension_separator": "."}, f)
    for t, c, z in np.ndindex(t_n, c_n, z_n):
        for gy in range(-(-y_n // chunk)):
            for gx in range(-(-x_n // chunk)):
                buf = np.zeros((chunk, chunk), np.uint16)
                part = block[t, c, z, gy * chunk:(gy + 1) * chunk,
                             gx * chunk:(gx + 1) * chunk]
                buf[:part.shape[0], :part.shape[1]] = part
                with open(os.path.join(store, "0",
                                       f"{t}.{c}.{z}.{gy}.{gx}"), "wb") as f:
                    f.write(zlib.compress(buf.astype("<u2").tobytes(), 1))


# -- documents and embeddings ----------------------------------------------
# Fitted to the `documents` and `embeddings` tables of the sf0.1 test data:
# 5000 documents whose words are drawn uniformly from the 30-word
# vocabulary below, 10 to 100 words each (uniform); 5% of them are near
# duplicates, a copy of another document with the word "dup" appended;
# `lang` is en 41%, es/de/fr/zh about 15% each; `source` cycles through 20
# values. 2000 embeddings of 64 dimensions: isotropic Gaussian vectors
# scaled to unit length, with a `label` in 0..9 drawn independently of the
# vector (no cluster structure).

VOCAB = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part fast "
         "row the agg key query a scan batch").split()
LANGS = ["en", "es", "de", "fr", "zh"]
LANG_P = [0.41, 0.15, 0.14, 0.15, 0.15]
N_SOURCES = 20


def make_documents(rng: np.random.Generator, n_docs: int,
                   n_planted: int) -> tuple[pd.DataFrame, list]:
    """`documents`-schema rows: `n_docs` originals plus `n_planted`
    near-duplicates, each a copy of a seeded original with " dup" appended.
    Returns the frame and the ground-truth (original_id, planted_id)
    pairs."""
    texts = [" ".join(rng.choice(VOCAB, int(rng.integers(10, 101))))
             for _ in range(n_docs)]
    planted = []
    for orig in rng.choice(n_docs, n_planted, replace=False):
        planted.append((int(orig), len(texts)))
        texts.append(texts[orig] + " dup")
    n = len(texts)
    frame = pd.DataFrame({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(LANGS, n, p=LANG_P),
        "source": [f"src{i % N_SOURCES}" for i in range(n)],
    })
    frame["n_chars"] = frame["text"].str.len().astype(np.int64)
    return frame, planted


def make_embeddings(rng: np.random.Generator, n_vecs: int, dim: int,
                    n_labels: int = 10) -> pd.DataFrame:
    """`embeddings`-schema rows: unit-length isotropic Gaussian vectors and
    an independent uniform label."""
    vecs = rng.normal(0.0, 1.0, (n_vecs, dim))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)
            ).astype(np.float32)
    return pd.DataFrame({"vec_id": np.arange(n_vecs, dtype=np.int64),
                         "embedding": list(vecs),
                         "label": rng.integers(0, n_labels, n_vecs
                                               ).astype(np.int32)})


def read_zarr_array(array_dir: str) -> np.ndarray:
    """Decode a Zarr v2 array written with zlib or no compressor and
    '.'-separated keys: the benchmark's own check on the library's writes."""
    with open(os.path.join(array_dir, ".zarray")) as f:
        meta = json.load(f)
    shape, chunks = meta["shape"], meta["chunks"]
    dtype = np.dtype(meta["dtype"])
    sep = meta.get("dimension_separator", ".")
    out = np.zeros(shape, dtype)
    grid = [-(-s // c) for s, c in zip(shape, chunks)]
    for idx in np.ndindex(*grid):
        with open(os.path.join(array_dir, sep.join(map(str, idx))),
                  "rb") as f:
            raw = f.read()
        if meta["compressor"] is not None:
            raw = zlib.decompress(raw)
        block = np.frombuffer(raw, dtype).reshape(chunks)
        dst = tuple(slice(i * c, min((i + 1) * c, s))
                    for i, c, s in zip(idx, chunks, shape))
        out[dst] = block[tuple(slice(0, d.stop - d.start) for d in dst)]
    return out


def downsample_2x(block: np.ndarray) -> np.ndarray:
    """2x2 block mean of the YX axes, rounded to the block's dtype (even
    YX sizes only)."""
    t, c, z, y, x = block.shape
    mean = block.astype(np.float64).reshape(
        t, c, z, y // 2, 2, x // 2, 2).mean(axis=(4, 6))
    return np.rint(mean).astype(block.dtype)
