"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of its seed: the same seed writes the
same files. Nothing here is timed.
"""
import datetime
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

YEAR = 2008
SHIFT_HOURS = 3  # the reference's definition-of-day spill

# One 5-minute swath granule of the 5-km product is 406 x 270 pixels and
# about 2030 x 2330 km; the benchmark keeps the footprint and cadence and
# thins the pixels to `rows` x `cols` so a run fits its time budget.
GRANULE_MINUTES = 5
SWATH_HALF_WIDTH_KM = 1165.0
EARTH_RADIUS_KM = 6371.0
ORBIT_MINUTES = 98.8
INCLINATION_DEG = 98.2


def day_of_seed(seed):
    """Day of year 1..360, so the spill day stays inside the year."""
    return 1 + seed % 360


def date_arg(doy):
    d = datetime.date(YEAR, 1, 1) + datetime.timedelta(days=doy - 1)
    return f"{d.year:04d}/{d.month:02d}/{d.day:02d}"


def write_configs(work, out_dir, data_dir, vars_, jhist):
    """The reference's three config CSVs; returns their paths."""
    dp = os.path.join(work, "data_path.csv")
    with open(dp, "w") as f:
        f.write("Data_input_path   File_prefix_name\n"
                f"{data_dir}   MYD06_L2.A\n"
                f"{data_dir}   MYD03.A\n\n"
                "Data_output_path   File_prefix_name\n"
                f"{out_dir}   MYD08_L3\n")
    vf = os.path.join(work, "input_file.csv")
    with open(vf, "w") as f:
        f.write("Variable_name   Intervals\n")
        for name, edges in vars_:
            f.write(f"{name}   {','.join(str(e) for e in edges)}\n")
    jf = None
    if jhist:
        jf = os.path.join(work, "input_jhist.csv")
        with open(jf, "w") as f:
            f.write("Variable_name   Joint_Variable_name   Variable_Index   Joint_Intervals\n")
            for name, joint_name, idx, edges in jhist:
                f.write(f"{name}   {joint_name}   {idx}   {','.join(str(e) for e in edges)}\n")
    return dp, vf, jf


# bin edges in the shape of the reference's example configs: ten pressure
# bins, a coarse temperature axis for the joint histogram
PRESSURE_EDGES = [50.5, 150.0, 250.0, 350.0, 450.0, 550.0, 650.0, 750.0,
                  850.0, 950.0, 1050.0]
TEMPERATURE_EDGES = [180.0, 200.0, 220.0, 240.0, 260.0, 280.0, 300.0, 320.0]
JOINT_TEMPERATURE_EDGES = [180.0, 240.0, 310.0]
CLOUD_FRACTION_EDGES = [0.02, 0.06, 0.1, 0.2, 0.3, 0.5, 0.7, 0.9, 0.95]


def _unit_vectors(t_min, u0, node0, theta):
    """Earth-fixed unit vectors of pixels at cross-track angles `theta`
    (radians, columns) under the sub-satellite track at times `t_min`
    (minutes, rows)."""
    inc = np.radians(INCLINATION_DEG)
    u = u0 + 2 * np.pi * t_min / ORBIT_MINUTES
    node = node0 - 2 * np.pi * t_min / 1440.0  # the Earth turns under the orbit
    cu, su, cn, sn = np.cos(u), np.sin(u), np.cos(node), np.sin(node)
    ci, si = np.cos(inc), np.sin(inc)
    p = np.stack([cn * cu - sn * su * ci, sn * cu + cn * su * ci, su * si], axis=-1)
    n = np.stack([sn * si * np.ones_like(u), -cn * si, ci * np.ones_like(u)], axis=-1)
    ct, st = np.cos(theta)[None, :, None], np.sin(theta)[None, :, None]
    return ct * p[:, None, :] + st * n[:, None, :]


def swath_parquet(seed, out_dir, rows, cols, oracle):
    """One day of 5-minute swath granules plus the spill hours, one parquet
    file per granule, in the pixel layout the CLI reads (FIXTURES §1 with
    `day_of_year`/`hour` and the derived `cm_flag`). Each granule covers a
    contiguous footprint along one orbit track. Every granule is also fed
    to `oracle`. Returns (doy, pixels, bytes).
    """
    rng = np.random.default_rng(seed)
    doy = day_of_seed(seed)
    u0 = rng.uniform(0, 2 * np.pi)
    node0 = rng.uniform(0, 2 * np.pi)
    theta = np.linspace(-1, 1, cols) * SWATH_HALF_WIDTH_KM / EARTH_RADIUS_KM
    starts = ([(doy, m) for m in range(0, 1440, GRANULE_MINUTES)] +
              [(doy + 1, m) for m in range(0, SHIFT_HOURS * 60, GRANULE_MINUTES)])
    os.makedirs(out_dir, exist_ok=True)
    pixels = 0
    nbytes = 0
    row_idx = np.repeat(np.arange(rows, dtype=np.int32), cols)
    col_idx = np.tile(np.arange(cols, dtype=np.int32), rows)
    for day, minute in starts:
        t = (day - doy) * 1440 + minute + GRANULE_MINUTES * (np.arange(rows) + 0.5) / rows
        q = _unit_vectors(t, u0, node0, theta).reshape(-1, 3)
        lat = np.degrees(np.arcsin(np.clip(q[:, 2], -1, 1)))
        lon = np.degrees(np.arctan2(q[:, 1], q[:, 0]))
        n = lat.size
        # smooth geophysical fields plus pixel noise, 0.1 hPa / 0.01 K steps
        field = np.sin(np.radians(lat) * 3.0) * np.cos(np.radians(lon) * 2.0)
        ctp = np.clip(600 + 300 * field + rng.normal(0, 90, n), 100, 1100).round(1)
        ctt = np.clip(300 - 0.11 * (ctp - 100) + rng.normal(0, 6, n), 181, 319).round(2)
        status = (rng.random(n) < 0.95).astype(np.int32)
        flag = np.searchsorted([0.40, 0.55, 0.70], rng.random(n)).astype(np.int32)
        cm_byte = status | (flag << 1) | (rng.integers(0, 32, n, dtype=np.int32) << 3)
        cm_flag = np.where(status == 0, -1, flag).astype(np.int32)
        ctp_null = rng.random(n) < 0.02
        ctt_null = rng.random(n) < 0.02
        hour = minute // 60
        gid = f"MYD06_L2.A{YEAR:04d}{day:03d}.{hour:02d}{minute % 60:02d}"
        table = pa.table({
            "granule_id": pa.repeat(gid, n),
            "day_of_year": pa.array(np.full(n, day, np.int32)),
            "hour": pa.array(np.full(n, hour, np.int32)),
            "row": pa.array(row_idx),
            "col": pa.array(col_idx),
            "lat": pa.array(lat),
            "lon": pa.array(lon),
            "cm_byte": pa.array(cm_byte),
            "Cloud_Top_Pressure": pa.array(ctp, mask=ctp_null),
            "Cloud_Top_Temperature": pa.array(ctt, mask=ctt_null),
            "cm_flag": pa.array(cm_flag),
        })
        path = os.path.join(out_dir, f"{gid}.parquet")
        # lat/lon are all distinct: a dictionary attempt only costs time
        pq.write_table(table, path, use_dictionary=[
            c for c in table.column_names if c not in ("lat", "lon")])
        pixels += n
        nbytes += os.path.getsize(path)
        oracle.add_granule(day, hour, lat, lon, cm_flag, {
            "Cloud_Top_Pressure": np.where(ctp_null, np.nan, ctp),
            "Cloud_Top_Temperature": np.where(ctt_null, np.nan, ctt)})
    return doy, pixels, nbytes


def _java_hash(s):
    h = 0
    for ch in s:
        h = (31 * h + ord(ch)) & 0xFFFFFFFF
    return h


def _mix(z):
    """splitmix64 finalizer on uint64 arrays (wrapping arithmetic)."""
    z = z + np.uint64(0x9E3779B97F4A7C15)
    z = (z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
    z = (z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
    return z ^ (z >> np.uint64(31))


def granule_source_pixels(doy, rows, cols, oracle):
    """Feed `oracle` the pixels `graft.sources.GranuleSource` synthesizes for
    the granules of day `doy` and its spill hours: the source's
    deterministic stand-in decode, restated bit for bit (lat, lon, the mask
    byte and the two variables from a splitmix64 stream keyed by the
    granule id's Java hash and the pixel index)."""
    i = np.arange(rows * cols, dtype=np.uint64)
    for day, hours in ((doy, range(24)), (doy + 1, range(SHIFT_HOURS))):
        for hour in hours:
            gid = f"A{YEAR:04d}{day:03d}.{hour:02d}05"
            seed = np.uint64(_java_hash(gid))
            base = seed * np.uint64(1315423911)

            def unit(j):
                return (_mix(base + i * np.uint64(4) + np.uint64(j)) >> np.uint64(11)) \
                    .astype(np.float64) / float(1 << 53)

            lat = unit(0) * 180.0 - 90.0
            lon = unit(1) * 360.0 - 180.0
            cm_byte = (_mix(seed + i) & np.uint64(7)).astype(np.int64)
            cm_flag = np.where(cm_byte & 1 == 0, -1, (cm_byte >> 1) & 3)
            u2, u3 = unit(2), unit(3)
            oracle.add_granule(day, hour, lat, lon, cm_flag, {
                "Cloud_Top_Pressure": np.where(u2 < 0.02, np.nan, u2 * 900.0 + 200.0),
                "Cloud_Top_Temperature": np.where(u3 < 0.02, np.nan, u3 * 130.0 + 180.0)})


def trade_graph(seed, out_dir, orders, customers, suppliers):
    """The two tables the graph queries join, with only the columns they
    read: `orders(o_orderkey, o_custkey)` and `lineitem(l_orderkey,
    l_suppkey)`, 1 to 7 lines per order. Customers and suppliers are drawn
    with skew, so some nodes are hubs. Returns (rows, bytes)."""
    rng = np.random.default_rng(seed)
    okey = np.arange(1, orders + 1, dtype=np.int64)
    cust = 1 + (customers * rng.random(orders) ** 2).astype(np.int64)
    lines = rng.integers(1, 8, orders)
    lkey = np.repeat(okey, lines)
    supp = 1 + (suppliers * rng.random(lkey.size) ** 1.5).astype(np.int64)
    os.makedirs(out_dir, exist_ok=True)
    nbytes = 0
    for name, table in (("orders", pa.table({"o_orderkey": okey, "o_custkey": cust})),
                        ("lineitem", pa.table({"l_orderkey": lkey, "l_suppkey": supp}))):
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(table, path)
        nbytes += os.path.getsize(path)
    return orders + lkey.size, nbytes
