"""GEOS-FP data-portal URL generation (reference: src/FILDA2/GEOS_FP.py:42-108
`tavg1_url`): for a date, the 24 hourly tavg1 (HH30) and 8 three-hourly inst3
(HH00) file URLs per collection under the public GMAO portal layout
Y%Y/M%m/D%d/GEOS.fp.asm.<collection>.<yyyymmdd>_<hhmm>.V01.nc4.

Pure string planning — no fetching happens anywhere in the engine (the
corpus replaces GEOS-FP with a synthetic broadcast grid); this exists for
input-manifest parity with the reference's download planner.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

PORTAL = "https://portal.nccs.nasa.gov/datashare/gmao/geos-fp/das/"
TAVG1_COLLECTIONS = (
    "tavg1_2d_flx_Nx",
    "tavg1_2d_lnd_Nx",
    "tavg1_2d_rad_Nx",
    "tavg1_2d_slv_Nx",
)


def geos_fp_url(date: Column, collection: Column, hhmm: Column) -> Column:
    """One file URL (GEOS_FP.py:85-88 string assembly)."""
    return F.concat(
        F.lit(PORTAL),
        F.lit("Y"), F.date_format(date, "yyyy"),
        F.lit("/M"), F.date_format(date, "MM"),
        F.lit("/D"), F.date_format(date, "dd"),
        F.lit("/GEOS.fp.asm."), collection,
        F.lit("."), F.date_format(date, "yyyyMMdd"),
        F.lit("_"), hhmm,
        F.lit(".V01.nc4"),
    )


def tavg1_urls(dates: DataFrame, date_col: str = "d") -> DataFrame:
    """All tavg1 URLs for each date row: 24 hours x 4 collections
    (GEOS_FP.py:70-88 — tavg1 files stamp HH30)."""
    hours = F.explode(F.sequence(F.lit(0), F.lit(23))).alias("ih")
    colls = F.explode(F.array(*[F.lit(c) for c in TAVG1_COLLECTIONS])).alias("coln")
    hhmm = F.concat(F.lpad(F.col("ih").cast("string"), 2, "0"), F.lit("30"))
    return (
        dates.select(F.col(date_col).alias("_d"), hours)
        .select("_d", "ih", colls)
        .select(
            F.col("_d").alias("day"),
            geos_fp_url(F.col("_d"), F.col("coln"), hhmm).alias("url"),
        )
    )
