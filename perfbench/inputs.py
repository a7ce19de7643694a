"""Seeded inputs. Everything here is a pure function of (seed, size):
the same seed stages byte-identical files. Nothing here calls the
program under test — its encodings (zlib image payloads, WKB polygons)
are written directly from their documented formats."""

from __future__ import annotations

import math
import os
import struct
import zlib

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

# hot clusters that make skewed cells: SF, Paris, Tokyo, Sydney, Rio
CITIES = ((-122.4, 37.8), (2.35, 48.85), (139.7, 35.7),
          (151.2, -33.9), (-43.2, -22.9))
EVENT_TYPES = ("click", "view", "purchase", "signup", "error")
T0_US = 1704067200_000_000   # 2024-01-01T00:00:00Z
SPAN_US = 28 * 86400_000_000  # four weeks of events


def points(rng: np.random.Generator, n: int,
           hot_share: float = 0.1) -> tuple[np.ndarray, np.ndarray]:
    """Uniform world points with ``hot_share`` pulled into city clusters
    (sigma 0.5 degree), all strictly inside the lon/lat domain."""
    lon = rng.uniform(-179.999, 179.999, n)
    lat = rng.uniform(-89.999, 89.999, n)
    hot = rng.random(n) < hot_share
    city = rng.integers(0, len(CITIES), n)
    cx = np.array([c[0] for c in CITIES])[city]
    cy = np.array([c[1] for c in CITIES])[city]
    lon = np.where(hot, np.clip(cx + rng.normal(0, 0.5, n), -179.999,
                                179.999), lon)
    lat = np.where(hot, np.clip(cy + rng.normal(0, 0.5, n), -89.999,
                                89.999), lat)
    return lon, lat


# ------------------------------------------------------------------ images

def image_table(rng: np.random.Generator, n: int) -> tuple[pa.Table, dict]:
    """(image_id, bytes, w, h, fmt, lon, lat) plus the decoded-pixel
    totals the decode operation must reproduce. ``rawz`` is zlib of the
    raw RGB bytes; ``q5`` is zlib of the pixels quantized to 5 bits
    (decoded as q * 8 + 4, capped at 255)."""
    lon, lat = points(rng, n)
    sizes = rng.choice(np.array([16, 24, 32]), size=(n, 2))
    ids, payloads, fmts, px_sum, n_px = [], [], [], [], []
    for i in range(n):
        w, h = int(sizes[i, 0]), int(sizes[i, 1])
        base = rng.integers(0, 256, 3)
        yy, xx = np.mgrid[0:h, 0:w]
        grad = (base[None, None, :] + (xx[..., None] * 3 + yy[..., None] * 5)
                + rng.integers(-12, 13, (h, w, 3)))
        px = np.clip(grad, 0, 255).astype(np.uint8)
        fmt = "rawz" if i % 2 == 0 else "q5"
        if fmt == "rawz":
            payloads.append(zlib.compress(px.tobytes(), 6))
            px_sum.append(int(px.astype(np.int64).sum()))
        else:
            q = px // 8
            payloads.append(zlib.compress(q.tobytes(), 6))
            px_sum.append(int(np.minimum(q.astype(np.int64) * 8 + 4,
                                         255).sum()))
        ids.append(f"img-{i:08d}")
        fmts.append(fmt)
        n_px.append(w * h * 3)
    table = pa.table({
        "image_id": pa.array(ids, pa.string()),
        "bytes": pa.array(payloads, pa.binary()),
        "w": pa.array(sizes[:, 0], pa.int32()),
        "h": pa.array(sizes[:, 1], pa.int32()),
        "fmt": pa.array(fmts, pa.string()),
        "lon": pa.array(lon, pa.float64()),
        "lat": pa.array(lat, pa.float64()),
    })
    truth = {"px_sum": np.array(px_sum, dtype=np.int64),
             "n_px": np.array(n_px, dtype=np.int64)}
    return table, truth


# ----------------------------------------------------------------- regions

def polygon_wkb(ring: list[tuple[float, float]]) -> bytes:
    """Little-endian WKB Polygon with one closed ring."""
    if ring[0] != ring[-1]:
        ring = ring + [ring[0]]
    out = struct.pack("<BII", 1, 3, 1) + struct.pack("<I", len(ring))
    return out + b"".join(struct.pack("<dd", x, y) for x, y in ring)


def regions(rng: np.random.Generator, n: int) -> list[tuple[str, list]]:
    """Half axis-aligned rectangles, half convex and concave polygons
    (triangles, rotated quads, 5-point stars), a third of them centred on
    the hot clusters so joins have hits there. Returns (region_id, ring)
    with the ring closed."""
    out = []
    for j in range(n):
        if j % 3 == 0:
            cx, cy = CITIES[(j // 3) % len(CITIES)]
            cx += rng.uniform(-1.0, 1.0)
            cy += rng.uniform(-1.0, 1.0)
        else:
            cx, cy = rng.uniform(-170, 170), rng.uniform(-80, 80)
        rx, ry = rng.uniform(0.5, 6.0), rng.uniform(0.5, 4.0)
        kind = j % 4
        if kind in (0, 2):
            ring = [(cx - rx, cy - ry), (cx + rx, cy - ry),
                    (cx + rx, cy + ry), (cx - rx, cy + ry)]
        elif j % 8 == 1:
            a0 = rng.uniform(0, 2 * math.pi)
            ring = [(cx + rx * math.cos(a0 + k * 2 * math.pi / 3),
                     cy + ry * math.sin(a0 + k * 2 * math.pi / 3))
                    for k in range(3)]
        elif j % 8 == 3:
            a0 = rng.uniform(0, math.pi / 2)
            ring = [(cx + rx * math.cos(a0 + k * math.pi / 2),
                     cy + ry * math.sin(a0 + k * math.pi / 2))
                    for k in range(4)]
        elif j % 8 == 5:
            ring = [(cx + (rx if k % 2 == 0 else rx / 2.5)
                     * math.cos(math.pi / 2 + k * math.pi / 5),
                     cy + (ry if k % 2 == 0 else ry / 2.5)
                     * math.sin(math.pi / 2 + k * math.pi / 5))
                    for k in range(10)]
        else:
            ring = [(cx - rx, cy - ry), (cx + rx, cy - ry),
                    (cx, cy + ry * 0.2), (cx + rx * 0.5, cy + ry),
                    (cx - rx * 0.7, cy + ry * 0.6)]
        out.append((str(j + 1), ring + [ring[0]]))
    return out


# ------------------------------------------------------------------ events

def events_frame(rng: np.random.Generator, n: int) -> pd.DataFrame:
    """(event_id, ts, event_type, value, lon, lat); ids are a seeded
    permutation of 0..n-1 so id-ordered storage is not the write order."""
    lon, lat = points(rng, n)
    return pd.DataFrame({
        "event_id": rng.permutation(n).astype(np.int64),
        "ts": (T0_US + rng.integers(0, SPAN_US, n)).astype("datetime64[us]"),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n)],
        "value": np.round(rng.uniform(0, 1000, n), 2),
        "lon": lon, "lat": lat,
    })


def write_parquet(df: pd.DataFrame | pa.Table, path: str) -> int:
    """Write one parquet file; returns its size in bytes."""
    table = df if isinstance(df, pa.Table) else pa.Table.from_pandas(
        df, preserve_index=False)
    pq.write_table(table, path)
    return os.path.getsize(path)
