"""Workload registry. Each module defines ``Workload(mode)`` with
``stage`` (seeded inputs, returns staged bytes; sets ``headline_rows``),
``setup`` (builds the stored tables, returns their paths), ``prepare``,
``ops`` and ``params``; see tile_join.py for the shape."""

from __future__ import annotations

import importlib

NAMES = ("tile_join", "indexed_lookup")


def get(name: str, mode: str):
    if name not in NAMES:
        raise ValueError(f"unknown workload {name!r}; choose from {NAMES}")
    return importlib.import_module(f"perfbench.workloads.{name}").Workload(
        mode)
