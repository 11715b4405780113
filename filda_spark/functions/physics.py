"""Physics column functions: inverse Planck (brightness temperature),
normal CDF, MCE, and the Planck constants the fit kernels share.

Column expressions run as JVM math (codegen'd); ``normal_cdf`` also has a
numpy twin (``_np``). Where the DuckDB oracle needs the identical
formula, a ``*_sql`` template is provided so Spark and DuckDB evaluate
literally the same arithmetic (same constants, same op order) — float64
both sides.

Constants mirror the reference:
- planck_func c1=1.191042e8, c2=1.4387752e4 (FILDA_BT.py:136-151); the
  single source for ``kernels.planck_rad`` and the Planck fit.
- cal_brightness_temperature h/k/c (FILDA_BT.py:99-121).
- MCE (FILDA.py:1521-1526).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column
from pyspark.sql import functions as F

C1 = 1.191042e8  # W/m2/sr/um * um^5
C2 = 1.4387752e4  # um*K
H_PLANCK = 6.62607015e-34
K_BOLTZ = 1.38064852e-23
C_LIGHT = 299792458.0


def brightness_temperature(rad: Column, lamda_um: float) -> Column:
    """cal_brightness_temperature (FILDA_BT.py:99-121), exact constant set.

    rad in W/m2/sr/um; lamda in um; returns K.
    """
    lam_m = lamda_um * 1e-6
    a = H_PLANCK * C_LIGHT / (K_BOLTZ * lam_m)
    b = 2.0 * H_PLANCK * C_LIGHT**2 * lam_m**-5.0
    return F.lit(a) / F.log(F.lit(b) / (rad * F.lit(1e6)) + F.lit(1.0))


# SQL template with identical constants/op-order, for DuckDB oracle parity.
BT_SQL = (
    "({a} / ln({b} / (({rad}) * 1e6) + 1.0))"
)


def bt_sql(rad_expr: str, lamda_um: float) -> str:
    lam_m = lamda_um * 1e-6
    a = H_PLANCK * C_LIGHT / (K_BOLTZ * lam_m)
    b = 2.0 * H_PLANCK * C_LIGHT**2 * lam_m**-5.0
    return BT_SQL.format(a=repr(a), b=repr(b), rad=rad_expr)


# --- normal CDF (Abramowitz & Stegun 7.1.26 via erf-free Zelen & Severo) -----
# The reference uses scipy.stats.norm.cdf (FILDA.py:166-170). Spark SQL has no
# erf; we use the Zelen & Severo 26.2.17 polynomial (|eps|<7.5e-8), evaluated
# with the SAME formula on both engines so values hash-match.

_B = (0.319381530, -0.356563782, 1.781477937, -1.821255978, 1.330274429)
_P = 0.2316419
_INV_SQRT_2PI = 0.3989422804014327


def normal_cdf(z: Column) -> Column:
    az = F.abs(z)
    t = F.lit(1.0) / (F.lit(1.0) + F.lit(_P) * az)
    poly = (
        F.lit(_B[0]) * t
        + F.lit(_B[1]) * t * t
        + F.lit(_B[2]) * t * t * t
        + F.lit(_B[3]) * t * t * t * t
        + F.lit(_B[4]) * t * t * t * t * t
    )
    pdf = F.lit(_INV_SQRT_2PI) * F.exp(-az * az / F.lit(2.0))
    upper = F.lit(1.0) - pdf * poly
    return F.when(z >= 0, upper).otherwise(F.lit(1.0) - upper)


def normal_cdf_np(z):
    z = np.asarray(z, dtype=np.float64)
    az = np.abs(z)
    t = 1.0 / (1.0 + _P * az)
    # flat evaluation order matches the column expression exactly:
    poly = _B[0] * t + _B[1] * t * t + _B[2] * t**3 + _B[3] * t**4 + _B[4] * t**5
    pdf = _INV_SQRT_2PI * np.exp(-az * az / 2.0)
    upper = 1.0 - pdf * poly
    return np.where(z >= 0, upper, 1.0 - upper)


def normal_cdf_sql(z_expr: str) -> str:
    z = f"({z_expr})"
    az = f"abs({z})"
    t = f"(1.0 / (1.0 + {_P!r} * {az}))"
    poly = (
        f"({_B[0]!r} * {t} + {_B[1]!r} * {t} * {t} + {_B[2]!r} * {t} * {t} * {t}"
        f" + {_B[3]!r} * {t} * {t} * {t} * {t}"
        f" + {_B[4]!r} * {t} * {t} * {t} * {t} * {t})"
    )
    pdf = f"({_INV_SQRT_2PI!r} * exp(-{az} * {az} / 2.0))"
    upper = f"(1.0 - {pdf} * {poly})"
    return f"(CASE WHEN {z} >= 0 THEN {upper} ELSE 1.0 - {upper} END)"


def mce(vef: Column) -> Column:
    """MCE = ln(2*VEF)*0.017 + 1 (FILDA.py:1521-1526)."""
    return F.log(F.lit(2.0) * vef) * F.lit(0.017) + F.lit(1.0)
