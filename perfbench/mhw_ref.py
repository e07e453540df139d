"""Independent numpy reference for the mhw_grid workload.

Shares no code with the program. Each stage of the two chains is recomputed
from the same stage input the program used (the raw grid for the first
stage of each chain, the program's own upstream output after that), so a
disagreement points at one stage. Values are compared within the engine's
6-decimal rounding.

Semantics (Hobday et al. 2016 via the mhw3d reference the API mirrors):
  * leap-normalised day of year: Feb 29 is 60 and Mar 1 is 61 in every year;
  * +-5-day pooling on a 366-slot grid per year; a window that runs off the
    grid belongs to the adjacent year and counts only if that year is in the
    data; linear-interpolation quantile over the pooled values;
  * legacy chain: missing values are skipped; slot 60 is replaced by the
    mean of slots 59 and 61; then a 31-slot circular running mean
    (min_periods=1);
  * best-practice chain: linear detrend fitted on the baseline and removed
    from the whole record; plain per-day climatology; strict skipna for the
    threshold (a missing value in a window gives NaN); same smoothing;
  * severity = (T - seas) / (thresh - seas + 1e-9);
  * events: runs of severity > 1 lasting >= 5 days, joined when the next
    run starts no more than maxGap = 2 days after the previous run ended;
    metrics over the joined span including gap days, first-argmax peak.
"""
import datetime as dt
import os

import numpy as np
import pandas as pd
import pyarrow.dataset as ds
import pyarrow.parquet as pq

TOL = 2.5e-6  # two 6-decimal roundings
MIN_DURATION, MAX_GAP, HW, SMOOTH_HALF, PCTILE = 5, 2, 5, 15, 0.9
BASELINE = (1982, 2011)
# Oliver-fixture tolerances as OliverParitySpec documents them
OLIVER_ATOL = 0.01


def r6(x):
    return np.floor(np.asarray(x, dtype=np.float64) * 1e6 + 0.5) / 1e6


def clim_doy(dates):
    d = pd.DatetimeIndex(dates)
    doy = d.dayofyear.values.astype(np.int64)
    leap = d.is_leap_year
    return np.where(~leap & (doy >= 60), doy + 1, doy)


def _wrap(raw):
    return (raw - 1 + 366) % 366 + 1


def _pools(y, yr, doy, years):
    """center slot -> array of pooled values (NaN kept), over eligible obs."""
    years = set(int(v) for v in years)
    vals, centers = [], []
    for k in range(-HW, HW + 1):
        raw = doy + k
        ok = np.ones(len(y), dtype=bool)
        ok[raw < 1] = np.isin(yr[raw < 1] - 1, list(years))
        ok[raw > 366] = np.isin(yr[raw > 366] + 1, list(years))
        vals.append(y[ok])
        centers.append(_wrap(raw[ok]))
    vals, centers = np.concatenate(vals), np.concatenate(centers)
    order = np.argsort(centers, kind="stable")
    vals, centers = vals[order], centers[order]
    cuts = np.searchsorted(centers, np.arange(1, 368))
    return {c: vals[cuts[c - 1]:cuts[c]] for c in range(1, 367) if cuts[c] > cuts[c - 1]}


def _lin_quantile(v, p):
    v = np.sort(v)
    n = len(v)
    if n == 0:
        return np.nan
    h = (n - 1) * p
    lo = int(np.floor(h))
    hi = min(lo + 1, n - 1)
    return v[lo] + (v[hi] - v[lo]) * (h - lo)


def _nanmean(v):
    v = v[~np.isnan(v)]
    return v.mean() if len(v) else np.nan


def _slots(d):
    a = np.full(367, np.nan)
    for c, v in d.items():
        a[c] = v
    return a


def smooth(a):
    out = np.full(367, np.nan)
    for d in range(1, 367):
        out[d] = r6(_nanmean(np.array([a[_wrap(d + o)] for o in range(-SMOOTH_HALF, SMOOTH_HALF + 1)])))
    return out


def interp_feb29(a):
    a = a.copy()
    a[60] = r6(0.5 * a[59] + 0.5 * a[61])
    return a


def legacy_clim(y, yr, doy, years):
    pools = _pools(y, yr, doy, years)
    seas = _slots({c: r6(_nanmean(v)) for c, v in pools.items()})
    thresh = _slots({c: r6(_lin_quantile(v[~np.isnan(v)], PCTILE)) for c, v in pools.items()})
    return smooth(interp_feb29(seas)), smooth(interp_feb29(thresh))


def bp_clim(y, yr, doy, years, strict=True):
    """strict=False skips missing values in the threshold's windows: the
    shape of the known fault in the engine's best-practice threshold."""
    seas = np.full(367, np.nan)
    for c in range(1, 367):
        sel = y[doy == c]
        if len(sel):
            seas[c] = r6(_nanmean(sel))
    pools = _pools(y, yr, doy, years)
    thresh = _slots({c: (np.nan if strict and np.isnan(v).any()
                         else r6(_lin_quantile(v[~np.isnan(v)], PCTILE)))
                     for c, v in pools.items()})
    return smooth(seas), smooth(thresh)


def detrend(y, t, yr, count_missing=False):
    """count_missing=True fits with missing days counted in n, sum(t) and
    sum(t*t) but not in sum(y) and sum(t*y): the shape of the known fault
    in the engine's detrend."""
    base = (yr >= BASELINE[0]) & (yr <= BASELINE[1])
    fit = base & ~np.isnan(y)
    if not count_missing:
        slope, intercept = np.polyfit(t[fit].astype(np.float64), y[fit], 1)
        return r6(y - intercept - slope * t)
    tb = t[base].astype(np.float64)
    n, st, stt = len(tb), tb.sum(), (tb * tb).sum()
    sy, sty = y[fit].sum(), (y[fit] * t[fit]).sum()
    slope = (n * sty - st * sy) / (n * stt - st * st)
    intercept = sy / n - slope * st / n
    return r6(y - intercept - slope * t)


def severity(y, doy, seas, thresh):
    s, th = seas[doy], thresh[doy]
    return r6(y - s), r6((y - s) / (th - s + 1e-9))


def events(t_anom, sev, gap_days_rule=False):
    """[(start, end, peak, imax, imean, icum, sevmax)] over the day index.
    gap_days_rule joins when the break (days between runs) is <= MAX_GAP."""
    hot = np.nan_to_num(sev, nan=0.0) > 1
    runs, i, n = [], 0, len(hot)
    while i < n:
        if hot[i]:
            j = i
            while j + 1 < n and hot[j + 1]:
                j += 1
            if j - i + 1 >= MIN_DURATION:
                runs.append([i, j])
            i = j + 1
        else:
            i += 1
    merged = []
    for s, e in runs:
        gap = s - merged[-1][1] - (1 if gap_days_rule else 0) if merged else None
        if merged and gap <= MAX_GAP:
            merged[-1][1] = e
        else:
            merged.append([s, e])
    out = []
    for s, e in merged:
        ta = t_anom[s:e + 1]
        ok = ~np.isnan(ta)
        mx = ta[ok].max()
        peak = s + int(np.flatnonzero(ok & (ta == mx))[0])
        out.append((s, e, peak, mx, r6(ta[ok].mean()), r6(ta[ok].sum()),
                    r6(np.nanmax(sev[s:e + 1]))))
    return out


class Grid:
    """The raw grid, one array per cell over the full daily index."""

    def __init__(self, data, meta):
        g = pq.read_table(os.path.join(data, "grid.parquet")).to_pandas()
        g["time"] = pd.to_datetime(g["time"])
        self.d0 = g["time"].min()
        self.dates = pd.date_range(self.d0, g["time"].max(), freq="D")
        self.t = np.arange(len(self.dates))
        self.yr = self.dates.year.values.astype(np.int64)
        self.doy = clim_doy(self.dates)
        self.years = sorted(set(self.yr))
        self.cells = {}
        for (la, lo), c in g.groupby(["lat", "lon"]):
            c = c.sort_values("time")
            assert len(c) == len(self.dates)
            self.cells[(la, lo)] = r6(c["sst"].values)
        lats, lons = meta["lats"], meta["lons"]
        self.oliver = [(lats[i // len(lons)], lons[i % len(lons)]) for i in meta["oliver_cells"]]

    def series(self, frame, col):
        """{cell: array over the daily index} from a (lat, lon, d, col) frame."""
        out = {}
        for (la, lo), c in frame.groupby(["lat", "lon"]):
            a = np.full(len(self.dates), np.nan)
            a[(pd.to_datetime(c["d"]) - self.d0).dt.days.values] = c[col].astype(float).values
            out[(la, lo)] = a
        return out


def _read(out, name):
    return ds.dataset(os.path.join(out, name), format="parquet").to_table().to_pandas()


def _clim_arrays(frame):
    out = {}
    for (la, lo), c in frame.groupby(["lat", "lon"]):
        s, t = np.full(367, np.nan), np.full(367, np.nan)
        s[c["doy"].values] = c["seas"].astype(float).values
        t[c["doy"].values] = c["thresh"].astype(float).values
        out[(la, lo)] = (s, t)
    return out


def _close(a, b, tol=TOL):
    a, b = np.asarray(a, dtype=float), np.asarray(b, dtype=float)
    if a.shape != b.shape:
        return False
    both_nan = np.isnan(a) & np.isnan(b)
    return bool(np.all(both_nan | (np.abs(a - b) <= tol)))


def _max_diff(a, b):
    d = np.abs(np.asarray(a, float) - np.asarray(b, float))
    d = d[~np.isnan(d)]
    return float(d.max()) if len(d) else 0.0


def _events_by_cell(frame):
    out = {}
    for (la, lo), c in frame.groupby(["lat", "lon"]):
        out[(la, lo)] = c.sort_values("index_start")
    return out


def _compare_events(engine, ref):
    if engine is None:
        engine = pd.DataFrame(columns=["index_start", "index_end", "index_peak", "intensity_max",
                                       "intensity_mean", "intensity_cumul", "severity_max"])
    if len(engine) != len(ref):
        return f"{len(engine)} events vs {len(ref)}"
    for (_, e), r in zip(engine.iterrows(), ref):
        if (int(e["index_start"]), int(e["index_end"]), int(e["index_peak"])) != r[:3]:
            return f"span {(e['index_start'], e['index_end'], e['index_peak'])} vs {r[:3]}"
        got = [e["intensity_max"], e["intensity_mean"], e["intensity_cumul"], e["severity_max"]]
        if not _close(got, r[3:]):
            return f"metrics {got} vs {list(r[3:])}"
    return None


def _invariants(frame, label):
    bad = []
    for cell, c in _events_by_cell(frame).items():
        if (c["duration"] < MIN_DURATION).any():
            bad.append(f"{label} {cell}: event shorter than {MIN_DURATION} days")
        if (c["index_start"].values[1:] - c["index_end"].values[:-1] <= MAX_GAP).any():
            bad.append(f"{label} {cell}: consecutive events {MAX_GAP} days apart or less")
        if ((c["index_peak"] < c["index_start"]) | (c["index_peak"] > c["index_end"])).any():
            bad.append(f"{label} {cell}: peak outside its span")
        if (c["intensity_max"] < c["intensity_mean"]).any():
            bad.append(f"{label} {cell}: intensity_max below intensity_mean")
        if (c["duration"] != c["index_end"] - c["index_start"] + 1).any():
            bad.append(f"{label} {cell}: duration is not the span length")
    return bad


def _oliver(frame, grid, fixtures):
    exp = pd.read_csv(os.path.join(fixtures, "events.csv"))
    bad = []
    ev = _events_by_cell(frame)
    for cell in grid.oliver:
        got = ev.get(cell)
        if got is None or len(got) != len(exp):
            bad.append(f"oliver {cell}: {0 if got is None else len(got)} events vs {len(exp)}")
            continue
        for (_, a), (_, e) in zip(got.iterrows(), exp.iterrows()):
            for c in ("date_start", "date_end", "date_peak"):
                if pd.Timestamp(a[c]) != pd.Timestamp(e[c]):
                    bad.append(f"oliver {cell}: {c} {a[c]} vs {e[c]}")
            if float(a["duration"]) != float(e["duration"]):
                bad.append(f"oliver {cell}: duration {a['duration']} vs {e['duration']}")
            for c in ("intensity_max", "intensity_mean"):
                if abs(a[c] - e[c]) >= OLIVER_ATOL:
                    bad.append(f"oliver {cell}: {c} {a[c]} vs {e[c]}")
            if abs(a["intensity_cumul"] - e["intensity_cumulative"]) >= OLIVER_ATOL * (1 + e["duration"]):
                bad.append(f"oliver {cell}: intensity_cumulative {a['intensity_cumul']} vs "
                           f"{e['intensity_cumulative']}")
    return bad


def check(out, data, meta, fixtures):
    """Returns ({operation: [(failure, known), ...]}, notes). `known` is
    true where the program's output, though it differs from the reference,
    is exactly what one of the two known faults makes of it (bp_detrend,
    bp_clim_thresh); any other disagreement is not known."""
    grid = Grid(data, meta)
    fails = {}
    notes = []

    def fail(op, msg, known=False):
        fails.setdefault(op, []).append((msg, known))

    # legacy chain
    clim = _clim_arrays(_read(out, "legacy_clim"))
    for cell, y in grid.cells.items():
        seas, thresh = legacy_clim(y, grid.yr, grid.doy, grid.years)
        es, et = clim.get(cell, (np.full(367, np.nan),) * 2)
        if not (_close(es[1:], seas[1:]) and _close(et[1:], thresh[1:])):
            fail("legacy_clim_thresh", f"{cell}: seas/thresh differ by up to "
                 f"{max(_max_diff(es, seas), _max_diff(et, thresh)):.2e}")
    sev = _read(out, "legacy_severity")
    eng_ta, eng_sev = grid.series(sev, "t_anom"), grid.series(sev, "severity")
    legacy_events = _read(out, "legacy_events")
    ev = _events_by_cell(legacy_events)
    hobday_diff = 0
    for cell in grid.cells:
        s, t = clim[cell]
        ta, sv = severity(grid.cells[cell], grid.doy, s, t)
        if not (_close(eng_ta[cell], ta) and _close(eng_sev[cell], sv)):
            fail("legacy_severity", f"{cell}: severity differs by up to "
                 f"{_max_diff(eng_sev[cell], sv):.2e}")
        ref = events(eng_ta[cell], eng_sev[cell])
        hobday_diff += len(set(ref) ^ set(events(eng_ta[cell], eng_sev[cell], gap_days_rule=True)))
        d = _compare_events(ev.get(cell), ref)
        if d:
            fail("legacy_events", f"{cell}: {d}")
    for msg in _invariants(legacy_events, "legacy") + _oliver(legacy_events, grid, fixtures):
        fail("legacy_events", msg)

    # best-practice chain
    det = grid.series(_read(out, "bp_detrend"), "sst")
    bclim = _clim_arrays(_read(out, "bp_clim"))
    bsev = _read(out, "bp_severity")
    b_ta, b_sev = grid.series(bsev, "t_anom"), grid.series(bsev, "severity")
    bp_events = _read(out, "bp_events")
    bev = _events_by_cell(bp_events)
    base = (grid.yr >= BASELINE[0]) & (grid.yr <= BASELINE[1])
    for cell in grid.cells:
        ref = detrend(grid.cells[cell], grid.t, grid.yr)
        if not _close(det[cell], ref):
            fail("bp_detrend", f"{cell}: detrended series differs by up to "
                 f"{_max_diff(det[cell], ref):.2e}",
                 _close(det[cell], detrend(grid.cells[cell], grid.t, grid.yr, count_missing=True)))
        y = det[cell]
        args = (y[base], grid.yr[base], grid.doy[base], sorted(set(grid.yr[base])))
        seas, thresh = bp_clim(*args)
        es, et = bclim[cell]
        if not (_close(es[1:], seas[1:]) and _close(et[1:], thresh[1:])):
            _, skipped = bp_clim(*args, strict=False)
            fail("bp_clim_thresh", f"{cell}: seas/thresh differ by up to "
                 f"{max(_max_diff(es, seas), _max_diff(et, thresh)):.2e}",
                 _close(es[1:], seas[1:]) and _close(et[1:], skipped[1:]))
        ta, sv = severity(y, grid.doy, es, et)
        if not (_close(b_ta[cell], ta) and _close(b_sev[cell], sv)):
            fail("bp_severity", f"{cell}: severity differs by up to "
                 f"{_max_diff(b_sev[cell], sv):.2e}")
        ref = events(b_ta[cell], b_sev[cell])
        hobday_diff += len(set(ref) ^ set(events(b_ta[cell], b_sev[cell], gap_days_rule=True)))
        d = _compare_events(bev.get(cell), ref)
        if d:
            fail("bp_events", f"{cell}: {d}")
    for msg in _invariants(bp_events, "bp"):
        fail("bp_events", msg)

    notes.append(f"mhw: {len(legacy_events)} legacy and {len(bp_events)} best-practice events on "
                 f"{len(grid.cells)} cells")
    notes.append(f"mhw: joining breaks of up to {MAX_GAP} days (Hobday) instead of starts up to "
                 f"{MAX_GAP} days after the previous end would change {hobday_diff} events "
                 f"on the checked cells")
    return fails, notes
