"""Independent numpy/pandas oracle for the benchmark's output checks.

Nothing here calls into ``diive_spark``: expected values are computed
from the generated token arrays alone, with the semantics the engine
documents (-9999 is a gap, bins are ``floor(pos / every)``, SD is the
sample SD, z-scores use the population SD, interpolation fills only
interior gaps up to a length limit).

Float tolerances, stated once:
- ``n``, ``n_grid``, ``min``, ``max``, gap runs, flags: exact.
- ``sum``, ``mean``, percentiles: relative 1e-12 (sums of int32 values
  as doubles are exact well below 2**53; only the division rounds).
- ``sd``: relative 1e-9 or absolute 5e-3.  The engine derives SD from
  (n, sum, sum of squares) partials; the cancellation in
  ``sumsq - sum**2 / n`` costs up to ~sqrt(eps * sumsq) absolute when the
  spread in a bin is near zero.
- interpolated fills: relative 1e-12.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd

NA = -9999
PCTS = (0.25, 0.5, 0.75, 0.95)
PCT_COLS = tuple(f"p{int(round(q * 100)):02d}" for q in PCTS)
TIERS = (("tier_1m", 60), ("tier_1h", 3600), ("tier_1d", 86400))
GATE = 0.25  # DEFAULT_CASCADE's mincounts_perc, applied by read_gated
REL = 1e-12


def values(tokens: np.ndarray) -> np.ndarray:
    v = np.asarray(tokens, dtype=np.float64).copy()
    v[np.asarray(tokens) == NA] = np.nan
    return v


def tier_bins(tokens: np.ndarray, every: int) -> pd.DataFrame:
    """Expected ungated tier partials of one doc, indexed by bin_start."""
    v = pd.Series(values(tokens))
    g = v.groupby(np.arange(len(v)) // every * every)
    out = pd.DataFrame({
        "n": g.count(),
        "n_grid": g.size(),
        "sum": g.sum(min_count=1),
        "min": g.min(),
        "max": g.max(),
        "mean": g.mean(),
        "sd": g.std(ddof=1),
    })
    for q, col in zip(PCTS, PCT_COLS):
        out[col] = g.quantile(q)
    out.index.name = "bin_start"
    return out


def rolled_points(tokens: np.ndarray) -> int:
    """Tier rows one doc contributes across the 1m/1h/1d cascade."""
    n = len(tokens)
    return sum(math.ceil(n / every) for _, every in TIERS)


def gated_summary(docs: dict[str, np.ndarray], every: int) -> tuple[int, int]:
    """(rows, sum of n) that ``read_gated`` returns for these docs:
    per doc, mincounts = floor(max n_grid * GATE), 1 if below 3; keep
    bins with n >= mincounts."""
    rows = total_n = 0
    for toks in docs.values():
        nn = ~np.isnan(values(toks))
        b = np.arange(len(toks)) // every
        n = np.bincount(b, weights=nn).astype(np.int64)
        n_grid = np.bincount(b)
        minc = int(math.floor(n_grid.max() * GATE))
        if minc < 3:
            minc = 1
        keep = n >= minc
        rows += int(keep.sum())
        total_n += int(n[keep].sum())
    return rows, total_n


def _close(a, b, rel, abs_=0.0) -> bool:
    a = np.asarray(a, dtype=np.float64)
    b = np.asarray(b, dtype=np.float64)
    both_nan = np.isnan(a) & np.isnan(b)
    ok = np.isclose(a, b, rtol=rel, atol=abs_) | both_nan
    return bool(ok.all())


def check_tier(got: pd.DataFrame, docs: dict[str, np.ndarray], tier: str,
               every: int) -> list[str]:
    """Compare stored tier rows of the sampled docs with the oracle."""
    errors = []
    for doc_id, toks in docs.items():
        exp = tier_bins(toks, every)
        g = got[got["doc_id"] == doc_id].set_index("bin_start").sort_index()
        if list(g.index) != list(exp.index):
            errors.append(f"{tier}/{doc_id}: bins {list(g.index)[:5]}... "
                          f"!= {list(exp.index)[:5]}...")
            continue
        for col in ("n", "n_grid"):
            if not (g[col].to_numpy() == exp[col].to_numpy()).all():
                errors.append(f"{tier}/{doc_id}: {col} differs")
        for col in ("min", "max"):
            if not _close(g[col], exp[col], 0.0):
                errors.append(f"{tier}/{doc_id}: {col} differs")
        for col in ("sum", "mean", *PCT_COLS):
            if not _close(g[col], exp[col], REL):
                errors.append(f"{tier}/{doc_id}: {col} outside rel {REL}")
        if not _close(g["sd"], exp["sd"], 1e-9, 5e-3):
            errors.append(f"{tier}/{doc_id}: sd outside tolerance")
    return errors


def check_decoded(got: dict[str, np.ndarray], docs: dict[str, np.ndarray]) -> list[str]:
    """Decoded raw tier must equal the input token arrays exactly."""
    errors = []
    for doc_id, toks in docs.items():
        d = got.get(doc_id)
        if d is None:
            errors.append(f"raw/{doc_id}: missing")
        elif not np.array_equal(np.asarray(d, dtype=np.int64),
                                np.asarray(toks, dtype=np.int64)):
            errors.append(f"raw/{doc_id}: decoded tokens differ")
    return errors


def zscore_flags(tokens: np.ndarray, thres: float = 4.0):
    """(flags, |z|): 2 where |z| > thres, 0 otherwise, NaN on gaps;
    population SD over the doc's non-null values."""
    v = values(tokens)
    sd = np.nanstd(v)
    # a zero SD makes the engine's try_divide NULL, which flags 0
    z = np.abs((v - np.nanmean(v)) / sd) if sd > 0 else np.full_like(v, np.nan)
    flags = np.where(np.isnan(v), np.nan, np.where(z > thres, 2.0, 0.0))
    return flags, z


def gap_runs(tokens: np.ndarray) -> set[tuple[int, int, int]]:
    """{(gap_start, gap_end, gap_length)} of the doc's NULL runs."""
    isna = np.isnan(values(tokens)).astype(np.int8)
    edges = np.diff(np.concatenate([[0], isna, [0]]))
    starts = np.flatnonzero(edges == 1)
    ends = np.flatnonzero(edges == -1) - 1
    return {(int(s), int(e), int(e - s + 1)) for s, e in zip(starts, ends)}


def interpolate_limited(tokens: np.ndarray, limit: int = 3):
    """(filled values, flags): linear fills of interior gaps of length
    <= limit; flag 0 observed, 1 filled, NaN left as a gap."""
    v = pd.Series(values(tokens))
    filled = v.interpolate(method="linear", limit_area="inside").to_numpy()
    flags = np.where(v.notna(), 0.0, np.nan)
    for s, e, length in gap_runs(tokens):
        if length <= limit and s > 0 and e < len(v) - 1:
            flags[s:e + 1] = 1.0
        else:
            filled[s:e + 1] = np.nan
    return filled, flags


def check_screen(z: pd.DataFrame, gaps: pd.DataFrame, interp: pd.DataFrame,
                 docs: dict[str, np.ndarray]) -> list[str]:
    """Compare z-score flags, gap runs and limited-interpolation fills of
    the sampled docs with the oracle.  A z-score flag may differ only
    within 1e-9 of the threshold (summation order)."""
    errors = []
    for doc_id, toks in docs.items():
        zd = z[z["doc_id"] == doc_id].sort_values("pos")
        flags, absz = zscore_flags(toks)
        got = zd["flag_zscore"].to_numpy(dtype=np.float64)
        if len(got) != len(flags):
            errors.append(f"zscore/{doc_id}: {len(got)} rows != {len(flags)}")
        else:
            bad = ~((got == flags) | (np.isnan(got) & np.isnan(flags)))
            if (bad & ~(np.abs(absz - 4.0) < 1e-9)).any():
                errors.append(f"zscore/{doc_id}: flags differ")
        gd = gaps[gaps["doc_id"] == doc_id]
        got_runs = set(zip(gd["gap_start"].astype(int), gd["gap_end"].astype(int),
                           gd["gap_length"].astype(int)))
        if got_runs != gap_runs(toks):
            errors.append(f"gap_runs/{doc_id}: runs differ")
        idf = interp[interp["doc_id"] == doc_id].sort_values("pos")
        fill, fflags = interpolate_limited(toks)
        if len(idf) != len(fill):
            errors.append(f"interpolate/{doc_id}: {len(idf)} rows != {len(fill)}")
        else:
            if not _close(idf["value_gf"], fill, REL):
                errors.append(f"interpolate/{doc_id}: fills differ")
            gf = idf["value_gf_flag"].to_numpy(dtype=np.float64)
            if not ((gf == fflags) | (np.isnan(gf) & np.isnan(fflags))).all():
                errors.append(f"interpolate/{doc_id}: fill flags differ")
    return errors
