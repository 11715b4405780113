"""Grid systems: hierarchical cell index (H3/S2-style), Plate-Carrée tiles,
sinusoidal tiles, regular lat/lon grids, Julian day.

Everything here exists twice:
- as pure PySpark Column expressions (JVM-side, whole-stage-codegen eligible,
  no Python in the hot path), and
- as numpy functions (suffix ``_np``) used by the single-node oracle in tests.

The hierarchical cell index is a from-scratch equal-angle quadtree ("qcell"):
``level`` halves the cell edge each step. It plays the role the north rule
assigns to H3 res 7-9 / S2 tokens — levels 15/16/17 have mean edge lengths
(~1.2 km / ~600 m / ~300 m at the equator) matching H3 res 7/8/9 cell scale.
kRing neighborhoods wrap in longitude and clamp in latitude. Cell ids pack
into one int64: ``level*2^58 + y*2^29 + x`` (disjoint fields, addition == OR).

Reference grid formulas mirrored bit-exactly (floor-division semantics):
- Plate-Carrée hXXvYY tile id: reference FILDA_Time_Cord.py:219-220
  (vid = 8 - lat//10, hid = 18 + lon//10).
- Sinusoidal projection/tiles: reference FILDA_Time_Cord.py:538-593, 808-922
  (R = 6,371,007.181 m), with the +resol/2 rounding of FILDA.py:1679-1692.
- Regular-grid index: latIdx=(lat+90)//resol_lat (FILDA_Cloud.py:129-156).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column
from pyspark.sql import functions as F

# --- hierarchical cell index ("qcell") --------------------------------------

_Y_SHIFT = 1 << 29
_LVL_SHIFT = 1 << 58

# H3-equivalent resolution naming used across the engine (see module doc).
LEVEL_R7 = 15
LEVEL_R8 = 16
LEVEL_R9 = 17


def cell_encode(lat: Column, lon: Column, level: int) -> Column:
    """int64 cell id of the equal-angle quadtree cell containing (lat, lon)."""
    n = 1 << level
    x = F.least(F.greatest(F.floor((lon + F.lit(180.0)) / F.lit(360.0) * n), F.lit(0)), F.lit(n - 1))
    y = F.least(F.greatest(F.floor((F.lit(90.0) - lat) / F.lit(180.0) * n), F.lit(0)), F.lit(n - 1))
    return (
        F.lit(level).cast("long") * F.lit(_LVL_SHIFT)
        + y.cast("long") * F.lit(_Y_SHIFT)
        + x.cast("long")
    )


def cell_level(cell: Column) -> Column:
    return (cell / F.lit(_LVL_SHIFT)).cast("long")


def cell_xy(cell: Column) -> tuple[Column, Column]:
    rem = cell % F.lit(_LVL_SHIFT)
    return (rem % F.lit(_Y_SHIFT)).cast("long"), (rem / F.lit(_Y_SHIFT)).cast("long")


def cell_kring(cell: Column, k: int = 1) -> Column:
    """Array column of the (2k+1)^2 kRing cell ids (lon wraps, lat clamps;
    out-of-range latitudes drop). Used for the cell-neighborhood shuffle:
    ``explode(cell_kring(c))`` duplicates each row into its neighborhood so a
    per-cell kernel sees every point within one cell radius.
    """
    lvl = cell_level(cell)
    x, y = cell_xy(cell)
    # 2^level as a column (F.shiftleft needs a literal bit count); exact for
    # level <= 30 in float64.
    n = F.pow(F.lit(2.0), lvl.cast("double")).cast("long")
    ids = []
    for dy in range(-k, k + 1):
        for dx in range(-k, k + 1):
            ny = y + F.lit(dy)
            nx = (x + F.lit(dx) + n) % n
            nid = lvl * F.lit(_LVL_SHIFT) + ny * F.lit(_Y_SHIFT) + nx
            ids.append(F.when((ny >= 0) & (ny < n), nid))
    return F.array_compact(F.array(*ids))


def lon_ring_halfwidth(lat: Column, eps: float, level: int) -> Column:
    """Longitudinal kRing half-width (in cells) needed so a ring around a
    row at latitude ``lat`` covers every point within ``eps`` degrees under
    the cos-lat-corrected metric. At high latitude one eps of raw longitude
    spans several cells (a fixed k=1 ring silently under-covers above
    ~68.6 deg at level 14); the +eps margin covers partners whose own
    latitude is up to eps poleward. floor(x)+1 >= worst-case floor-cell
    distance for any alignment."""
    cell_w = 360.0 / (1 << level)
    coslat = F.cos(F.radians(F.least(F.abs(lat) + F.lit(eps), F.lit(89.9))))
    return (F.floor(F.lit(eps) / (coslat * F.lit(cell_w))) + F.lit(1)).cast("int")


def cell_kring_dyn(cell: Column, kx: Column, ky: int = 1) -> Column:
    """kRing with a per-row longitudinal half-width column (latitude-aware
    variant of cell_kring): (2*ky+1) x (2*kx+1) neighbor ids; lon wraps,
    out-of-range latitudes drop."""
    lvl = cell_level(cell)
    x, y = cell_xy(cell)
    n = F.pow(F.lit(2.0), lvl.cast("double")).cast("long")
    kxl = kx.cast("long")
    # one-arg lambda only: a second parameter (even a defaulted one) makes
    # pyspark bind the (element, index) lambda form, silently rebinding the
    # captured column to the array index. F.transform converts eagerly, so a
    # plain closure per band is safe.
    def band(ny: Column) -> Column:
        return F.transform(
            F.sequence(-kxl, kxl),
            lambda dx: F.when(
                (ny >= 0) & (ny < n),
                lvl * F.lit(_LVL_SHIFT) + ny * F.lit(_Y_SHIFT) + (x + dx + n) % n,
            ),
        )

    bands = [band(y + F.lit(dy)) for dy in range(-ky, ky + 1)]
    return F.array_compact(F.concat(*bands))


def cell_center_lat(cell: Column) -> Column:
    """Latitude of the cell centre (for ring expansion of bare cell sets)."""
    lvl = cell_level(cell)
    _, y = cell_xy(cell)
    n = F.pow(F.lit(2.0), lvl.cast("double"))
    return F.lit(90.0) - (y.cast("double") + F.lit(0.5)) / n * F.lit(180.0)


def cell_encode_np(lat, lon, level: int):
    n = 1 << level
    x = np.clip(np.floor((np.asarray(lon) + 180.0) / 360.0 * n), 0, n - 1).astype(np.int64)
    y = np.clip(np.floor((90.0 - np.asarray(lat)) / 180.0 * n), 0, n - 1).astype(np.int64)
    return np.int64(level) * np.int64(_LVL_SHIFT) + y * np.int64(_Y_SHIFT) + x


# --- Plate-Carrée 10x10 deg tiles (hXXvYY) ----------------------------------

PC_TILE_CELLS = 2400  # reference tile raster size (FILDA_Time_Cord.py:403-427)


def pc_tile_hv(lat: Column, lon: Column) -> tuple[Column, Column]:
    """Reference FILDA_Time_Cord.py:219-220 (floor-division semantics)."""
    vid = F.lit(8) - F.floor(lat / F.lit(10.0))
    hid = F.lit(18) + F.floor(lon / F.lit(10.0))
    return hid.cast("int"), vid.cast("int")


def pc_tile_name(lat: Column, lon: Column) -> Column:
    hid, vid = pc_tile_hv(lat, lon)
    return F.format_string("h%02dv%02d", hid, vid)


def pc_tile_yx(lat: Column, lon: Column, cells: int = PC_TILE_CELLS) -> tuple[Column, Column]:
    """Within-tile (y, x): y from tile's north edge, x from west edge
    (FILDA_CLT.py:62-70 gather semantics)."""
    resol = 10.0 / cells
    lat_max = (F.lit(9) - (F.lit(8) - F.floor(lat / F.lit(10.0)))) * F.lit(10.0)
    lon_min = F.floor(lon / F.lit(10.0)) * F.lit(10.0)
    y = F.floor((lat_max - lat) / F.lit(resol)).cast("int")
    x = F.floor((lon - lon_min) / F.lit(resol)).cast("int")
    y = F.least(F.greatest(y, F.lit(0)), F.lit(cells - 1))
    x = F.least(F.greatest(x, F.lit(0)), F.lit(cells - 1))
    return y, x


def pc_tile_np(lat, lon, cells: int = PC_TILE_CELLS):
    lat = np.asarray(lat, dtype=np.float64)
    lon = np.asarray(lon, dtype=np.float64)
    vid = (8 - np.floor(lat / 10.0)).astype(np.int64)
    hid = (18 + np.floor(lon / 10.0)).astype(np.int64)
    resol = 10.0 / cells
    lat_max = (9 - vid) * 10.0
    lon_min = (hid - 18) * 10.0
    y = np.clip(np.floor((lat_max - lat) / resol), 0, cells - 1).astype(np.int64)
    x = np.clip(np.floor((lon - lon_min) / resol), 0, cells - 1).astype(np.int64)
    return hid, vid, y, x


# --- MODIS sinusoidal tiles ---------------------------------------------------

SINU_R = 6371007.181  # m (FILDA_Time_Cord.py:538-593)
SINU_TILE_M = 1111950.5196666666  # 10 deg of great-circle at equator / tile
SINU_X0 = -20015109.354
SINU_Y1 = 10007554.677


def sinu_np(lat, lon, cells: int = 2400):
    lat = np.asarray(lat, dtype=np.float64)
    lon = np.asarray(lon, dtype=np.float64)
    x = SINU_R * np.radians(lon) * np.cos(np.radians(lat))
    y = SINU_R * np.radians(lat)
    h = np.floor((x - SINU_X0) / SINU_TILE_M).astype(np.int64)
    v = np.floor((SINU_Y1 - y) / SINU_TILE_M).astype(np.int64)
    resol = SINU_TILE_M / cells
    x_min = SINU_X0 + h * SINU_TILE_M
    y_max = SINU_Y1 - v * SINU_TILE_M
    col = np.floor((x - x_min + resol / 2.0) / resol).astype(np.int64)
    row = np.floor((y_max - y + resol / 2.0) / resol).astype(np.int64)
    return h, v, row, col


# --- regular lat/lon grids ----------------------------------------------------


def regular_grid_idx_np(lat, lon, resol_lat: float, resol_lon: float):
    lat_idx = np.floor((np.asarray(lat) + 90.0) / resol_lat).astype(np.int64)
    lon_idx = np.floor((np.asarray(lon) + 180.0) / resol_lon).astype(np.int64)
    return lat_idx, lon_idx


# --- Julian day ---------------------------------------------------------------


def julian_day_number(date: Column) -> Column:
    """JDN of a Spark date column (days since epoch + JDN(1970-01-01))."""
    return (F.unix_date(date) + F.lit(2440588)).cast("long")


def julian_day_number_np(year, month, day):
    """Gregorian -> JDN, the reference's integer formula
    (FILDA_Time_Cord.py:10-60 semantics)."""
    year = np.asarray(year, dtype=np.int64)
    month = np.asarray(month, dtype=np.int64)
    day = np.asarray(day, dtype=np.int64)
    a = (14 - month) // 12
    y = year + 4800 - a
    m = month + 12 * a - 3
    return day + (153 * m + 2) // 5 + 365 * y + y // 4 - y // 100 + y // 400 - 32045


# --- I <-> M band pixel arithmetic ---------------------------------------------
