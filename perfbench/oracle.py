"""Expected L3 output, computed with numpy from the raw pixels.

No engine code is on this path: the rules of the reference are restated
here and applied to the same pixels the program reads.

  - window: day d plus the first `shift` hours of day d + 1;
  - definition of day: in the first `shift` hours, day d nulls the lon
    quadrants [-180,-90] and [0,90], day d + 1 nulls [90,180] and [-90,0]
    (every variable and the cloud-mask flag);
  - region with strict bounds; cell = floor(dlat/gap) * nLon + floor(dlon/gap);
  - per variable: min, max, mean, non-null count and the population std
    sqrt(E[x^2] - E[x]^2); histograms with numpy.histogram edges (last bin
    closed, out of range and null dropped); joint histograms over pixels
    whose two values are both in range;
  - cloud fraction: per (cell, granule) TOT = #(0<=flag<=3),
    CLD = #(0<=flag<=1); per cell min and max of CLD/TOT, mean
    sum(CLD)/sum(TOT), pixel count sum(TOT), GRID_Counts = granules with
    TOT > 0; the fractions are written as value / 1e-4.

Cells without data hold 0 in count datasets and -9999 elsewhere.
"""
import os

import numpy as np

FILL = -9999.0


def bin_index(v, edges):
    """numpy.histogram bin of each value, -1 when null or out of range."""
    e = np.asarray(edges, dtype=np.float64)
    b = np.searchsorted(e, v, side="right") - 1
    b = np.where(v == e[-1], len(e) - 2, b)  # the last bin is closed
    ok = ~np.isnan(v) & (v >= e[0]) & (v <= e[-1])
    return np.where(ok, b, -1)


def _extremes(sorted_cell, x, cells):
    """Per-cell (minimum, maximum) of values already sorted by cell; cells
    without values hold FILL."""
    lo, hi = np.full(cells, FILL), np.full(cells, FILL)
    if sorted_cell.size:
        starts = np.flatnonzero(np.r_[True, sorted_cell[1:] != sorted_cell[:-1]])
        lo[sorted_cell[starts]] = np.minimum.reduceat(x, starts)
        hi[sorted_cell[starts]] = np.maximum.reduceat(x, starts)
    return lo, hi


class L3Oracle:
    """Takes granules one at a time; `datasets()` gives the result."""

    def __init__(self, d, shift, region, gaps, switches, vars_, joint, cloud_fraction):
        self.d, self.shift = d, shift
        self.lat0, self.lat1, self.lon0, self.lon1 = region
        self.lat_gap, self.lon_gap = gaps
        self.n_lat = round((self.lat1 - self.lat0) / self.lat_gap)
        self.n_lon = round((self.lon1 - self.lon0) / self.lon_gap)
        self.cells = self.n_lat * self.n_lon
        self.sw = dict(zip(("min", "max", "mean", "count", "std", "hist", "jhist"), switches))
        self.vars = vars_            # [(name, edges)]
        self.joint = joint           # {name: (joint name, joint edges)}
        self.cf = cloud_fraction
        self.cell_parts = []         # kept pixels' cells, per granule
        self.value_parts = {v: [] for v, _ in vars_}  # their values, NaN = null
        # cloud fraction: per cell, min/max over granules and the sums
        c = self.cells
        self.cf_lo = np.full(c, np.inf)
        self.cf_hi = np.full(c, -np.inf)
        self.cf_tot = np.zeros(c, np.int64)
        self.cf_cld = np.zeros(c, np.int64)
        self.cf_granules = np.zeros(c, np.int64)

    def add_granule(self, doy, hour, lat, lon, cm_flag, values):
        """One granule's pixels; `values` maps variable -> float64 array
        with NaN for null."""
        if not (doy == self.d or (doy == self.d + 1 and hour < self.shift)):
            return
        keep = (lat > self.lat0) & (lat < self.lat1) & (lon > self.lon0) & (lon < self.lon1)
        cell = (np.floor((lat - self.lat0) / self.lat_gap).astype(np.int64) * self.n_lon +
                np.floor((lon - self.lon0) / self.lon_gap).astype(np.int64))
        keep &= (cell >= 0) & (cell < self.cells)
        cell, lon = cell[keep], lon[keep]
        nulled = np.zeros(cell.size, bool)
        if hour < self.shift:
            if doy == self.d:
                nulled = ((lon >= -180) & (lon <= -90)) | ((lon >= 0) & (lon <= 90))
            else:
                nulled = ((lon >= 90) & (lon <= 180)) | ((lon >= -90) & (lon <= 0))
        self.cell_parts.append(cell)
        for v, _ in self.vars:
            self.value_parts[v].append(np.where(nulled, np.nan, values[v][keep]))
        if self.cf:
            flag = np.where(nulled, -99, cm_flag[keep])
            cells, inv = np.unique(cell, return_inverse=True)
            tot = np.bincount(inv, (flag >= 0) & (flag <= 3)).astype(np.int64)
            cld = np.bincount(inv, (flag >= 0) & (flag <= 1)).astype(np.int64)
            seen = tot > 0
            cells, tot, cld = cells[seen], tot[seen], cld[seen]
            self.cf_lo[cells] = np.minimum(self.cf_lo[cells], cld / tot)
            self.cf_hi[cells] = np.maximum(self.cf_hi[cells], cld / tot)
            self.cf_tot[cells] += tot
            self.cf_cld[cells] += cld
            self.cf_granules[cells] += 1

    def datasets(self):
        out = {}
        c = self.cells
        cell = np.concatenate(self.cell_parts)
        values = {v: np.concatenate(self.value_parts[v]) for v, _ in self.vars}
        order = np.argsort(cell, kind="stable")
        for v, edges in self.vars:
            x = values[v]
            ok = ~np.isnan(x)
            cv, xv = cell[ok], x[ok]
            ok_sorted = ok[order]
            lo, hi = _extremes(cell[order][ok_sorted], x[order][ok_sorted], c)
            n = np.bincount(cv, minlength=c)
            has = n > 0
            mean = np.divide(np.bincount(cv, xv, minlength=c), n, out=np.zeros(c), where=has)
            sq = np.divide(np.bincount(cv, xv * xv, minlength=c), n, out=np.zeros(c), where=has)
            stats = {
                "Minimum": ("min", lo), "Maximum": ("max", hi),
                "Mean": ("mean", np.where(has, mean, FILL)),
                "Standard_Deviation":
                    ("std", np.where(has, np.sqrt(np.maximum(sq - mean * mean, 0.0)), FILL)),
            }
            for name, (switch, arr) in stats.items():
                if self.sw[switch]:
                    out[f"{v}_{name}"] = arr
            if self.sw["count"]:
                out[f"{v}_Pixel_Counts"] = n
            if self.sw["hist"] and edges:
                nb = len(edges) - 1
                b = bin_index(x, edges)
                m = b >= 0
                out[f"{v}_Histogram_Counts"] = np.bincount(cell[m] * nb + b[m], minlength=c * nb)
            if self.sw["jhist"] and edges and v in self.joint:
                jv, jedges = self.joint[v]
                nx, ny = len(edges) - 1, len(jedges) - 1
                bx, by = bin_index(x, edges), bin_index(values[jv], jedges)
                m = (bx >= 0) & (by >= 0)
                out[f"{v}_Jhisto_vs_{jv}"] = np.bincount(
                    (cell[m] * nx + bx[m]) * ny + by[m], minlength=c * nx * ny)
        if self.cf:
            seen = self.cf_granules > 0
            out["cloud_fraction_Minimum"] = np.where(seen, self.cf_lo / 1e-4, FILL)
            out["cloud_fraction_Maximum"] = np.where(seen, self.cf_hi / 1e-4, FILL)
            mean = np.divide(self.cf_cld.astype(np.float64), self.cf_tot,
                             out=np.zeros(c), where=seen)
            out["cloud_fraction_Mean"] = np.where(seen, mean / 1e-4, FILL)
            out["cloud_fraction_Pixel_Counts"] = self.cf_tot
            out["GRID_Counts"] = self.cf_granules
        out["lat_bnd"] = self.lat0 + self.lat_gap / 2 + np.arange(self.n_lat) * self.lat_gap
        out["lon_bnd"] = self.lon0 + self.lon_gap / 2 + np.arange(self.n_lon) * self.lon_gap
        return out

    def write(self, directory):
        """One raw little-endian file per dataset, `<name>.i8` or `<name>.f8`."""
        os.makedirs(directory, exist_ok=True)
        for name, arr in self.datasets().items():
            kind = "i8" if arr.dtype.kind in "iu" else "f8"
            arr.astype("<" + kind).tofile(os.path.join(directory, f"{name}.{kind}"))
