"""Correctness gate: a lake table's rows against the replay oracle."""

from __future__ import annotations

import math

import pandas as pd

from fixtures import KEY

#: compared besides the key and every payload column both sides carry
META = ["content_sha256", "last_lsn", "row_version"]


def _norm(v):
    if v is None or v is pd.NA or v is pd.NaT:
        return None
    if isinstance(v, float):
        if math.isnan(v):
            return None
        if v.is_integer():
            return int(v)
    if hasattr(v, "item"):  # numpy scalar
        return _norm(v.item())
    return v


def _rows(df: pd.DataFrame, cols: list[str]) -> dict[tuple, tuple]:
    out = {}
    for rec in df[cols].itertuples(index=False, name=None):
        rec = tuple(_norm(v) for v in rec)
        out[rec[: len(KEY)]] = rec
    return out


def compared_columns(got: pd.DataFrame, want: pd.DataFrame) -> list[str]:
    payload = [
        c for c in want.columns
        if c not in KEY and c not in META and not c.startswith("_")
    ]
    return KEY + payload + META


def mismatch_rows(got: pd.DataFrame, want: pd.DataFrame) -> int:
    """Number of keys whose row differs between ``got`` and ``want`` in
    the key, any payload column, ``content_sha256``, ``last_lsn`` or
    ``row_version``; a key present on one side only counts once. A
    column ``want`` has and ``got`` lacks makes every row differ."""
    cols = compared_columns(got, want)
    missing = [c for c in cols if c not in got.columns]
    if missing:
        return max(len(got), len(want), 1)
    g, w = _rows(got, cols), _rows(want, cols)
    duplicates = len(got) - len(g)
    return duplicates + sum(1 for k in g.keys() | w.keys() if g.get(k) != w.get(k))
