"""Independent references for the output checks: numpy re-derivations
of the documented semantics and DuckDB brute-force scans. Nothing here
calls the program under test."""

from __future__ import annotations

import math

import numpy as np


def z2_cell(lon: np.ndarray, lat: np.ndarray, res: int) -> np.ndarray:
    """Morton cell at ``res`` bits per dimension: floor-binned, clamped to
    the last bin, lon bits in even positions and lat bits in odd ones."""
    n = 1 << res
    x = np.clip(np.floor((lon + 180.0) / 360.0 * n), 0, n - 1).astype(np.int64)
    y = np.clip(np.floor((lat + 90.0) / 180.0 * n), 0, n - 1).astype(np.int64)
    z = np.zeros_like(x)
    for i in range(res):
        z |= ((x >> i) & 1) << (2 * i)
        z |= ((y >> i) & 1) << (2 * i + 1)
    return z


def points_in_ring(x: np.ndarray, y: np.ndarray, ring: list) -> np.ndarray:
    """Even-odd ray casting: True where (x, y) is strictly inside the
    closed ring (points exactly on an edge have probability zero for the
    seeded float inputs)."""
    inside = np.zeros(len(x), dtype=bool)
    for (x1, y1), (x2, y2) in zip(ring[:-1], ring[1:]):
        crosses = (y1 > y) != (y2 > y)
        with np.errstate(divide="ignore", invalid="ignore"):
            xint = x1 + (y - y1) * (x2 - x1) / (y2 - y1)
        inside ^= crosses & (x < xint)
    return inside


def compare(observed: dict, expected: dict, rel: float = 1e-9) -> str | None:
    """None when every expected key matches (exactly for integers, to
    ``rel`` for floats), else a one-line reason."""
    for k, want in expected.items():
        got = observed.get(k)
        if got is None and want is not None:
            return f"{k}: missing (want {want})"
        if isinstance(want, float) or isinstance(got, float):
            if not math.isclose(float(got), float(want), rel_tol=rel,
                                abs_tol=1e-6):
                return f"{k}: got {got}, want {want}"
        elif int(got) != int(want):
            return f"{k}: got {got}, want {want}"
    return None
