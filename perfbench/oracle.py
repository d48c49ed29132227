"""Exact answers computed apart from the program, and the envelope checks
that compare each sketch answer with them.

Exact answers come from DuckDB (or numpy over DuckDB's output) reading the
same parquet files the program reads. Each check returns a list of
human-readable problems; an empty list means the answer is inside its
published error envelope:

* HLL++: ``|est - exact| <= HLL_SIGMAS * 1.04 / sqrt(2^p) * exact``
  (small sets are exact in sparse mode; the bound still applies);
* Count-Min: never below the exact count, and at most ``e/width * N``
  above it, N being the sketch's total weight (holds per query with
  probability ``1 - e^-depth``; with 50 distinct tools a miss needs five
  independent row collisions);
* DDSketch: within relative error ``alpha`` of the exact order statistic
  at rank ``floor(q * (n - 1))``.
"""

from __future__ import annotations

import math

import duckdb
import numpy as np

HLL_P = 15
HLL_SIGMAS = 5.0
DD_ALPHA = 0.01
DD_QUANTILES = (0.5, 0.9, 0.99)
CM_WIDTH = 2048
CM_DEPTH = 5


def hll_bound(exact: int) -> float:
    return HLL_SIGMAS * 1.04 / math.sqrt(2 ** HLL_P) * exact


def check_hll(label, est, exact) -> list[str]:
    if abs(est - exact) > hll_bound(exact) + 1e-9:
        return [f"{label}: HLL estimate {est} vs exact {exact} "
                f"(bound {hll_bound(exact):.1f})"]
    return []


def check_equal(label, got, want) -> list[str]:
    return [] if got == want else [f"{label}: got {got}, exact {want}"]


def check_dd(label, est, sorted_vals: np.ndarray, q: float) -> list[str]:
    x = float(sorted_vals[int(math.floor(q * (len(sorted_vals) - 1)))])
    if abs(est - x) > DD_ALPHA * abs(x) * (1 + 1e-9):
        return [f"{label}: DDSketch q{q} = {est} vs exact {x} (alpha {DD_ALPHA})"]
    return []


def check_cm(label, est: int, exact: int, total: int) -> list[str]:
    eps = math.e / CM_WIDTH
    if est < exact:
        return [f"{label}: Count-Min undercounts ({est} < {exact})"]
    if est > exact + eps * total:
        return [f"{label}: Count-Min {est} exceeds {exact} + eps*N ({eps * total:.1f})"]
    return []


def keys_match(label, got: set, want: set) -> list[str]:
    if got == want:
        return []
    return [f"{label}: key sets differ ({len(got - want)} extra, "
            f"{len(want - got)} missing)"]


class Exact:
    """DuckDB over a list of parquet files."""

    def __init__(self, files: list[str]):
        self.con = duckdb.connect()
        self.src = "read_parquet([" + ", ".join(f"'{f}'" for f in files) + "])"

    def close(self) -> None:
        self.con.close()

    def rows(self, sql: str) -> list[tuple]:
        return self.con.execute(sql.replace("{src}", self.src)).fetchall()

    def by_key(self, sql: str, nkeys: int) -> dict:
        """``{key tuple: value tuple}`` for a query whose first ``nkeys``
        columns are the group key."""
        return {tuple(r[:nkeys]): tuple(r[nkeys:]) for r in self.rows(sql)}

    def sorted_lengths(self, key_sql: str, nkeys: int, where: str = "") -> dict:
        """``{key: sorted float64 array of length(text)}``."""
        out = {}
        sql = (f"SELECT {key_sql}, list(length(text) ORDER BY length(text)) "
               f"FROM {{src}} {where} GROUP BY ALL")
        for r in self.rows(sql):
            out[tuple(r[:nkeys])] = np.asarray(r[nkeys], dtype=np.float64)
        return out
