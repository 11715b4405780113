"""Granule-level numpy kernels — the vectorized per-granule math shared by
the single-node oracle (`filda_spark.oracle`) and the Spark pipeline
(`filda_spark.pipeline`, where each kernel runs inside an Arrow-batched
`applyInPandas`/`mapInPandas` over one granule's decoded rasters).

Everything here is a from-scratch reimplementation of the reference
semantics (GEOS-ESM/FILDA, citations per function); no reference code is
copied. The container has no scipy, so the FFT boxcar convolution
(reference: scipy.signal.fftconvolve) is implemented on numpy.fft, and the
per-detection Planck-mixture fit (reference: scipy L-BFGS-B,
FILDA_fitting.py:23-83) uses a deterministic bounded Nelder-Mead.

Data model: a decoded granule is a ``dict[str, np.ndarray(2D)]`` keyed by
variable name (the reference's own in-memory model, SURVEY.md §1.1 D1):
M-band arrays of shape (H, W), I-band arrays of shape (2H, 2W).

Known, documented deviations from the reference (kept stable so the oracle
and the engine agree bit-for-bit with each other):
- M-band candidates are unioned with the I-band candidate set directly
  (4-way fan-out), rather than carried as a separate `fire_mod` table.
(gen_algorithm_QA assembles the full 26-field reference layout, including
the reference's two indexing quirks, with the same shift/or packing and
final bit reversal — FILDA.py:2373-2567.)
"""

from __future__ import annotations

import numpy as np

from filda_spark.functions.physics import C1, C2, normal_cdf_np
from filda_spark.namelist import ANCILLARY_BANDS, LAMBDA_UM

# Planck constants — FILDA_BT.py:99-121 exactly.
_H = 6.62607015e-34
_K = 1.38064852e-23
_C = 299792458.0
# FRP constants — FILDA.py:1502-1504 exactly.
FRP_C = 2.88e-9
SIGMA_SB = 5.6704e-8


# ---------------------------------------------------------------------------
# Physics
# ---------------------------------------------------------------------------


def bt_from_rad(rad, lamda_um: float):
    """Brightness temperature from radiance (W/m2/sr/um), FILDA_BT.py:99-121."""
    lam = lamda_um * 1e-6
    r = np.asarray(rad, dtype=np.float64) * 1e6
    with np.errstate(divide="ignore", invalid="ignore"):
        return (_H * _C) / (_K * lam) / np.log(2.0 * _H * _C**2 * lam**-5.0 / r + 1.0)


def planck_rad(lamda_um: float, temp_k):
    """Forward Planck radiance (W/m2/sr/um), FILDA_BT.py:136-151 constants."""
    t = np.asarray(temp_k, dtype=np.float64)
    with np.errstate(over="ignore"):
        return C1 / lamda_um**5 / (np.exp(C2 / lamda_um / t) - 1.0)


# ---------------------------------------------------------------------------
# FFT boxcar convolution (reference: scipy fftconvolve, FILDA.py:230-263)
# ---------------------------------------------------------------------------


def _fftconv_same(a: np.ndarray, dim: int) -> np.ndarray:
    """2-D 'same' convolution with an all-ones (dim, dim) kernel via rfft2."""
    h, w = a.shape
    fh, fw = h + dim - 1, w + dim - 1
    fa = np.fft.rfft2(a, (fh, fw))
    fk = np.fft.rfft2(np.ones((dim, dim)), (fh, fw))
    full = np.fft.irfft2(fa * fk, (fh, fw))
    off = (dim - 1) // 2
    return full[off : off + h, off : off + w]


def spatial_static(data_array: np.ndarray, dim: int):
    """Windowed mean/std/count over a (dim, dim) boxcar, NaN-aware —
    get_spatial_static semantics (FILDA.py:230-263): NaNs contribute 0 to the
    sums; std is the population form sqrt(E[x^2]-mean^2)."""
    data = np.array(data_array, dtype=np.float64)
    num = np.zeros_like(data)
    num[np.isfinite(data)] = 1.0
    data[~np.isfinite(data)] = 0.0
    s = _fftconv_same(data, dim)
    n = _fftconv_same(num, dim)
    sq = _fftconv_same(data**2, dim)
    with np.errstate(divide="ignore", invalid="ignore"):
        mean = s / n
        var = sq / n - mean**2
        var[var < 0] = 0.0
        std = var**0.5
    return mean, std, n


# ---------------------------------------------------------------------------
# Decode-time QA invalidation (READ_IMG/READ_MOD/READ_DNB semantics,
# FILDA_IO.py:383-567)
# ---------------------------------------------------------------------------


def qa_invalidate(g: dict) -> dict:
    """Null-out observations per the reference's read-time rules:
    - radiance -> NaN where its quality flag >= 128 (FILDA_IO.py:404-412);
    - every observation -> NaN where latitude outside [-60, 85]
      (FILDA_IO.py:467-489);
    - DNB -> NaN where solar_zenith < 92.5 (daytime; FILDA_IO.py:543-546);
    - land_water_mask recode {0,6,7} -> 0 = water (FILDA_IO.py:418-420).
    Operates in place and returns g."""
    lat = g["latitude"]
    bad_geo_m = ~((lat >= -60.0) & (lat <= 85.0))
    for band in ("M07", "M08", "M10", "M11", "M12", "M13", "M14", "M15", "M16"):
        key = f"{band}_rad"
        if key in g:
            qf = g.get(f"{band}_quality_flags")
            if qf is not None:
                g[key] = np.where(qf >= 128, np.nan, g[key])
            g[key] = np.where(bad_geo_m, np.nan, g[key])
            # LUT-decoded BT (decode_dn) tracks its radiance's validity
            if f"BT{band}" in g:
                g[f"BT{band}"] = np.where(np.isfinite(g[key]), g[f"BT{band}"], np.nan)
    if "DNB_observations" in g:
        qf = g.get("DNB_quality_flags")
        if qf is not None:
            g["DNB_observations"] = np.where(qf >= 128, np.nan, g["DNB_observations"])
        g["DNB_observations"] = np.where(bad_geo_m, np.nan, g["DNB_observations"])
        g["DNB_observations"] = np.where(g["solar_zenith"] < 92.5, np.nan, g["DNB_observations"])
    bad_geo_i = np.repeat(np.repeat(bad_geo_m, 2, axis=0), 2, axis=1)
    for band in ("I04", "I05"):
        key = f"{band}_rad"
        if key in g:
            qf = g.get(f"{band}_quality_flags")
            if qf is not None:
                # saturated-but-usable flag 4 keeps the radiance (FILDA.py:296)
                g[key] = np.where((qf >= 128), np.nan, g[key])
            g[key] = np.where(bad_geo_i, np.nan, g[key])
    lwm = g["land_water_mask"]
    g["land_water_mask"] = np.where(np.isin(lwm, (0, 6, 7)), 0, lwm)
    return g


def decode_dn(g: dict, band: str = "M13") -> dict:
    """DN -> radiance + LUT brightness temperature for an emissive band
    shipped as counts (FILDA_IO.py:631-644, 767-797): rad = DN*scale+offset,
    BT = file-embedded LUT gathered by DN (np.take, not a Planck inversion),
    BT NaN wherever rad is NaN; DN 65535 is the fill value."""
    if f"{band}_dn" not in g:
        return g
    dn = np.asarray(g.pop(f"{band}_dn"))
    scale, offset = np.asarray(g.pop(f"{band}_dn_attrs"), dtype=np.float64)
    lut = np.asarray(g.pop(f"{band}_bt_lut"), dtype=np.float64)
    rad = dn.astype(np.float64) * scale + offset
    rad[dn == 65535] = np.nan
    bt = lut[dn]
    bt[~np.isfinite(rad)] = np.nan
    g[f"{band}_rad"] = rad
    g[f"BT{band}"] = bt
    return g


def upsample_m_to_i(a: np.ndarray) -> np.ndarray:
    """M-grid -> I-grid by 4-way replication (FILDA.py:272-281)."""
    return np.repeat(np.repeat(a, 2, axis=0), 2, axis=1)


def downsample_i_to_m(a: np.ndarray) -> np.ndarray:
    """I-grid -> M-grid 2x2 nanmean (FILDA_BT.py:62-66)."""
    h, w = a.shape
    blocks = a.reshape(h // 2, 2, w // 2, 2).astype(np.float64)
    with np.errstate(invalid="ignore"):
        return np.nanmean(np.nanmean(blocks, axis=3), axis=1)


# ---------------------------------------------------------------------------
# DNB resampling (FILDA_Resample.py:44-137)
# ---------------------------------------------------------------------------


def resample_dnb(dnb_raw: np.ndarray, lut_idx: np.ndarray, lut_w: np.ndarray) -> np.ndarray:
    """Weighted many-to-one gather of raw-DNB pixels onto the M grid.

    lut_idx: (H, W, K) flat indices into dnb_raw; -1 = no contributor.
    lut_w:   (H, W, K) weights. Weights are renormalized over the valid
    (finite, idx>=0) contributors per M pixel; all-invalid -> NaN.
    """
    flat = dnb_raw.ravel()
    idx = np.clip(lut_idx, 0, flat.size - 1)
    vals = flat[idx]
    ok = (lut_idx >= 0) & np.isfinite(vals)
    w = np.where(ok, lut_w, 0.0)
    wsum = w.sum(axis=2)
    num = (np.where(ok, vals, 0.0) * w).sum(axis=2)
    with np.errstate(divide="ignore", invalid="ignore"):
        out = num / wsum
    out[wsum == 0] = np.nan
    return out


# ---------------------------------------------------------------------------
# Derived BT fields (FILDA_BT.py:39-96)
# ---------------------------------------------------------------------------


def derive_bt(g: dict) -> dict:
    for band in ("M12", "M13", "M15", "M16", "I04", "I05"):
        key = f"{band}_rad"
        # bands decoded through the embedded BT LUT (decode_dn) keep the
        # LUT value — the reference never re-inverts Planck for them
        if key in g and f"BT{band}" not in g:
            g["BT" + band] = bt_from_rad(g[key], LAMBDA_UM[band])
    g["BTD_IMG"] = g["BTI04"] - g["BTI05"]
    g["BTD_MOD"] = g["BTM13"] - g["BTM15"]
    return g


# ---------------------------------------------------------------------------
# Cloud tests (FILDA_Cloud.py:7-213)
# ---------------------------------------------------------------------------


def cloud_test(g: dict, surf_temp: np.ndarray, infrared_lut: np.ndarray, nl: dict) -> dict:
    """Adds CM_2 (M grid), CM (I grid), CM (M grid from I 2x2 mean).

    Mask value 1 = clear, 0 = cloudy (reference sense). Where BTM12 is NaN
    every sub-test is forced to 0 (FILDA_Cloud.py:96-113 `idx` overwrite)."""
    btm12, btm15, btm16 = g["BTM12"], g["BTM15"], g["BTM16"]
    bad = ~np.isfinite(btm12)

    def _mask(cond_cloudfree):
        m = np.zeros_like(btm15)
        m[cond_cloudfree] = 1.0
        m[bad] = 0.0
        return m

    with np.errstate(invalid="ignore"):
        # 1. gross: surface - BTM15 < thres => clear (FILDA_Cloud.py:129-156)
        gross = _mask((surf_temp - btm15) < nl["thres_cloud_gross"])
        # 2. infrared: BTM15-BTM16 < LUT(btIdx, secantIdx) (FILDA_Cloud.py:159-189)
        vza = g["sensor_zenith"]
        sec = 1.0 / np.cos(np.radians(vza))
        sec = np.where(sec > 2.0, 2.0, sec)
        sec_idx = np.clip(((sec - 1.0) // 0.25).astype(np.int64), 0, infrared_lut.shape[1] - 1)
        bt1 = np.where(btm15 < 190.0, 190.0, btm15)
        bt_idx = np.clip((np.abs(bt1 - 310.0) // 10.0), 0, infrared_lut.shape[0] - 1)
        bt_idx = np.where(np.isfinite(bt_idx), bt_idx, 0).astype(np.int64)
        infrared = _mask((btm15 - btm16) < infrared_lut[bt_idx, sec_idx])
        # 3. high cloud: BTM12-BTM16 < thres (FILDA_Cloud.py:193-203)
        high = _mask((btm12 - btm16) < nl["thres_cloud_high"])
        # 4. water cloud: BTM15-BTM12 < thres (FILDA_Cloud.py:206-213)
        water = _mask((btm15 - btm12) < nl["thres_cloud_water"])
        # 5/6. absolute BT floors (FILDA_Cloud.py:108-113)
        bt12f = _mask(~(btm12 < 280.0))
        bt16f = _mask(~(btm16 < 260.0))

        g["CM_2"] = np.where((gross >= 1) & (infrared >= 1) & (water >= 1), 1.0, 0.0)
        cm_mod_6 = gross * infrared * high * water * bt12f * bt16f

        # I-band 2-threshold mask (FILDA_Cloud.py:33-58)
        bti04, bti05 = g["BTI04"], g["BTI05"]
        cm_img = np.ones_like(bti04)
        cm_img[(bti04 < nl["thres_cloud_I04"]) & (bti05 < nl["thres_cloud_I05"])] = 0.0
        cm_img[~np.isfinite(bti04)] = 0.0
        g["CM"] = cm_img

    # M-band CM = 2x2 mean of I mask, >0 -> 1 (FILDA_Cloud.py:24-27)
    cm_m = downsample_i_to_m(cm_img)
    cm_m[cm_m > 0] = 1.0
    g["CM_MOD"] = cm_m
    g["CM_MOD_6"] = cm_mod_6
    return g


# ---------------------------------------------------------------------------
# NTL climatology lookup + DNB probability (FILDA.py:160-190, FILDA_CLT.py)
# ---------------------------------------------------------------------------


def ntl_gather(lat: np.ndarray, lon: np.ndarray, ntl: dict, cells: int):
    """Gather (mean, std) from per-tile NTL rasters by Plate-Carree index
    (FILDA_CLT.py:62-70): y from tile's north edge, x from west edge."""
    vid = (8 - np.floor(lat / 10.0)).astype(np.int64)
    hid = (18 + np.floor(lon / 10.0)).astype(np.int64)
    resol = 10.0 / cells
    lat_max = (9 - vid) * 10.0
    lon_min = (hid - 18) * 10.0
    y = np.clip(np.floor((lat_max - lat) / resol), 0, cells - 1).astype(np.int64)
    x = np.clip(np.floor((lon - lon_min) / resol), 0, cells - 1).astype(np.int64)
    mean = np.full(lat.shape, np.nan)
    std = np.full(lat.shape, np.nan)
    for (h, v), (tm, ts) in ntl.items():
        sel = (hid == h) & (vid == v)
        if sel.any():
            mean[sel] = tm[y[sel], x[sel]]
            std[sel] = ts[y[sel], x[sel]]
    return mean, std


def dnb_probability(dnb: np.ndarray, ntl_mean: np.ndarray, ntl_std: np.ndarray):
    """posDNB = Phi((DNB - clim_mean)/clim_std) (FILDA.py:160-172)."""
    with np.errstate(invalid="ignore", divide="ignore"):
        z = (dnb - ntl_mean) / ntl_std
    return normal_cdf_np(z)


def dnb_threshold(dnb: np.ndarray) -> float:
    """Mean of the lowest 1% of valid DNB radiances, floored at 4
    (Polivka rule, FILDA.py:174-190)."""
    valid = dnb[np.isfinite(dnb)]
    n = int(valid.size * 0.01)
    if n < 1:
        return 4.0
    thres = float(np.mean(np.sort(valid)[:n]))
    return 4.0 if thres < 4.0 else thres


# ---------------------------------------------------------------------------
# Candidate selection (FILDA.py:192-398, sel_candidates 431-574)
# ---------------------------------------------------------------------------


def select_candidates(g: dict, pos_dnb: np.ndarray, thres_dnb: float, nl: dict) -> dict:
    """Returns the I-band candidate table as a dict of 1-D arrays.

    Candidate sources (flags recorded per candidate):
    - abs:    absolute fire, 4-clause disjunction (FILDA.py:293-299)
    - bg:     rigid background-fire predicate (FILDA.py:306-310)
    - vis:    visible anomaly with dynamic windowed thresholds (FILDA.py:326-382)
    - therm:  thermal anomaly (FILDA.py:387-390)
    - mband:  M-band DNB test fanned out 4-way to I pixels (FILDA.py:194-207)
    """
    bti04, bti05, btd = g["BTI04"], g["BTI05"], g["BTD_IMG"]
    cm_i = g["CM"]
    lat_i = upsample_m_to_i(g["latitude"])
    valid_i = np.isfinite(lat_i)
    i04qf = g.get("I04_quality_flags", np.zeros_like(bti04))
    i05qf = g.get("I05_quality_flags", np.zeros_like(bti05))
    pos_dnb_i = upsample_m_to_i(pos_dnb)
    dnb_i = upsample_m_to_i(g["DNB_observations"])
    lwm_i = upsample_m_to_i(g["land_water_mask"])

    with np.errstate(invalid="ignore"):
        abs_flag = (
            (cm_i > 0)
            & valid_i
            & (
                ((bti04 > nl["thres_ABSI04"]) & (i04qf == 0))
                | ((bti04 >= 355.0) & (i04qf == 4) & (i05qf == 0))
                | ((btd < 0.0) & (bti05 > 310.0) & (i05qf == 0))
                | ((bti04 <= 209.0) & (bti05 > 335.0))
            )
        )
        bg_flag = (bti04 >= 300.0) & (btd >= 10.0) & (cm_i > 0) & valid_i

        # dynamic visible-anomaly thresholds (FILDA.py:315-382)
        dim = int(nl["dyn_win_dim"])
        bti04_d = np.where(abs_flag | (cm_i < 1), np.nan, bti04)
        btd_d = np.where(abs_flag | (cm_i < 1), np.nan, btd)
        land = lwm_i == 1
        bt_bg = np.empty_like(bti04)
        bt_std = np.empty_like(bti04)
        bt_num = np.empty_like(bti04)
        btd_bg = np.empty_like(bti04)
        btd_std = np.empty_like(bti04)
        for stratum in (land, ~land):
            m, s, n = spatial_static(np.where(stratum, bti04_d, np.nan), dim)
            bt_bg[stratum] = m[stratum]
            bt_std[stratum] = s[stratum]
            bt_num[stratum] = n[stratum]
            m, s, _ = spatial_static(np.where(stratum, btd_d, np.nan), dim)
            btd_bg[stratum] = m[stratum]
            btd_std[stratum] = s[stratum]
        bt_bg[bt_num < 10] = nl["thres_BTI04"]  # FILDA.py:363-365
        bt_pass = ~((bti04_d - bt_bg - bt_std * 2.5) < 0)  # NaN diff -> pass (ref ones_like)
        btd_pass = ~((btd_d - btd_bg - btd_std * 2.5) < 0)
        vis_flag = (
            (pos_dnb_i > nl["thres_DNB"])
            & (cm_i > 0)
            & btd_pass
            & bt_pass
            & (dnb_i > thres_dnb)
            & valid_i
        )
        therm_flag = (
            (bti04 >= nl["thres_BTI04"]) & (btd >= nl["thres_BTD_IMG"]) & (cm_i > 0) & valid_i
        )

        # M-band candidates (FILDA.py:194-207), fanned out to the 4 I pixels
        mod = g
        m_flag = (
            np.isfinite(mod["longitude"])
            & (pos_dnb >= nl["thres_DNB"])
            & (mod["CM_2"] > 0)
            & ((mod["BTD_MOD"] >= 2.0) | (mod["BTM13"] >= 290.0))
            & (mod["DNB_observations"] > thres_dnb)
            & (mod["land_water_mask"] == 1)
        )
        m_flag_i = upsample_m_to_i(m_flag)

    any_flag = abs_flag | bg_flag | vis_flag | therm_flag | m_flag_i
    line, sample = np.nonzero(any_flag)
    order = np.lexsort((sample, line))
    line, sample = line[order], sample[order]

    lm, sm = line // 2, sample // 2
    cdt = {
        "FP_line_img": line.astype(np.int64),
        "FP_sample_img": sample.astype(np.int64),
        "FP_line_mod": lm.astype(np.int64),
        "FP_sample_mod": sm.astype(np.int64),
        "FP_abs_img": abs_flag[line, sample].astype(np.int8),
        "FP_bg_img": bg_flag[line, sample].astype(np.int8),
        "FP_vis_img": vis_flag[line, sample].astype(np.int8),
        "FP_therm_img": therm_flag[line, sample].astype(np.int8),
        "FP_mband_img": m_flag_i[line, sample].astype(np.int8),
        "BTI04": bti04[line, sample],
        "BTI05": bti05[line, sample],
        "BTD_IMG": btd[line, sample],
        "FP_posDNB": pos_dnb[lm, sm],
        "FP_land_water_mask": g["land_water_mask"][lm, sm].astype(np.int8),
        "FP_Latitude": lat_i[line, sample],
        "FP_Longitude": upsample_m_to_i(g["longitude"])[line, sample],
        "DNB_observations": g["DNB_observations"][lm, sm],
        "Solar_Zenith": g["solar_zenith"][lm, sm],
    }
    cdt["SAA_flag"] = saa_flag(cdt["FP_Latitude"], cdt["FP_Longitude"], nl)
    return cdt


def saa_flag(lat, lon, nl: dict):
    """South-Atlantic-Anomaly bounding rect membership (FILDA_IO.py:430-437):
    degenerate point-in-polygon on [N,S,W,E]=[7,-55,-110,20]."""
    return (
        (np.asarray(lat) <= nl["saa_north"])
        & (np.asarray(lat) >= nl["saa_south"])
        & (np.asarray(lon) >= nl["saa_west"])
        & (np.asarray(lon) <= nl["saa_east"])
    ).astype(np.int8)


# ---------------------------------------------------------------------------
# Background fields (get_BG_IMG FILDA.py:577-666, get_BG_MOD 703-764)
# ---------------------------------------------------------------------------


def background_fields(g: dict, cdt: dict) -> dict:
    """Land/ocean-stratified background rasters with cloud, opposite-stratum,
    and abs/bg-candidate pixels removed (NaN)."""
    lwm_i = upsample_m_to_i(g["land_water_mask"])
    cm_i = g["CM"]
    bg: dict[str, np.ndarray] = {}
    for name in ("BTI04", "BTI05", "BTD_IMG"):
        land = np.array(g[name], dtype=np.float64)
        ocean = np.array(g[name], dtype=np.float64)
        land[(cm_i < 1) | (lwm_i != 1)] = np.nan
        ocean[(cm_i < 1) | (lwm_i == 1)] = np.nan
        bg[name + "_LAND"] = land
        bg[name + "_OCEAN"] = ocean
    rm = (cdt["FP_abs_img"] == 1) | (cdt["FP_bg_img"] == 1)
    lr, sr = cdt["FP_line_img"][rm], cdt["FP_sample_img"][rm]
    for name in ("BTI04", "BTI05", "BTD_IMG"):
        bg[name + "_LAND"][lr, sr] = np.nan
        bg[name + "_OCEAN"][lr, sr] = np.nan

    # M-band radiance backgrounds for FRP (get_BG_MOD): cloud + stratum only,
    # with M-host pixels of removed candidates also masked.
    cm_m = g["CM_MOD"]
    lwm_m = g["land_water_mask"]
    lmr, smr = cdt["FP_line_mod"][rm], cdt["FP_sample_mod"][rm]
    for band in ("M13",) + tuple(b for b in ANCILLARY_BANDS if b not in ("I04", "I05", "DNB")):
        arr = g[f"{band}_rad"]
        land = np.array(arr, dtype=np.float64)
        ocean = np.array(arr, dtype=np.float64)
        land[(cm_m < 1) | (lwm_m != 1)] = np.nan
        ocean[(cm_m < 1) | (lwm_m == 1)] = np.nan
        land[lmr, smr] = np.nan
        ocean[lmr, smr] = np.nan
        bg[f"rad{band}_LAND"] = land
        bg[f"rad{band}_OCEAN"] = ocean
    # I-band radiances + DNB on their grids
    for band in ("I04", "I05"):
        arr = g[f"{band}_rad"]
        land = np.array(arr, dtype=np.float64)
        ocean = np.array(arr, dtype=np.float64)
        land[(cm_i < 1) | (lwm_i != 1)] = np.nan
        ocean[(cm_i < 1) | (lwm_i == 1)] = np.nan
        land[lr, sr] = np.nan
        ocean[lr, sr] = np.nan
        bg[f"rad{band}_LAND"] = land
        bg[f"rad{band}_OCEAN"] = ocean
    dnb = g["DNB_observations"]
    land = np.array(dnb, dtype=np.float64)
    ocean = np.array(dnb, dtype=np.float64)
    land[(cm_m < 1) | (lwm_m != 1)] = np.nan
    ocean[(cm_m < 1) | (lwm_m == 1)] = np.nan
    bg["radDNB_LAND"] = land
    bg["radDNB_OCEAN"] = ocean
    return bg


# ---------------------------------------------------------------------------
# Contextual test (cal_bgstat FILDA.py:767-872, identify_one 875-998)
# ---------------------------------------------------------------------------


def cal_bgstat(bg: dict, line: int, sample: int, nl: dict, data_type: str):
    """Adaptive-window exact median/MAD background stats for one candidate.
    Returns a dict or None (not enough valid background within the max
    window). Window-growth loop, clamping, and the recorded
    FP_WinSize=(half_win-win_step)*2 mirror FILDA.py:767-872 exactly."""
    thres_num_min = nl["thres_num"]
    thres_frac = nl["thres_frac"]
    half_win = nl["half_win_ini"] // 2
    half_win_max = nl["half_win_max"]
    win_step = nl["win_step"]
    arr04 = bg["BTI04" + data_type]
    max_line, max_sample = arr04.shape
    thres_num = min(thres_num_min, (2 * half_win + 1) ** 2 * thres_frac)
    valid_num = 0
    l0 = l1 = s0 = s1 = 0
    while valid_num < thres_num:
        l0 = max(line - half_win, 0)
        l1 = min(line + half_win + 1, max_line)
        s0 = max(sample - half_win, 0)
        s1 = min(sample + half_win + 1, max_sample)
        valid_num = int(np.isfinite(arr04[l0:l1, s0:s1]).sum())
        half_win += win_step
        thres_num = min(thres_num_min, (2 * half_win + 1) ** 2 * thres_frac)
        if half_win > half_win_max:
            return None
    w04 = arr04[l0:l1, s0:s1]
    w05 = bg["BTI05" + data_type][l0:l1, s0:s1]
    wbtd = bg["BTD_IMG" + data_type][l0:l1, s0:s1]
    stat = {
        "FP_I04_Mean": float(np.nanmedian(w04)),
        "FP_I05_Mean": float(np.nanmedian(w05)),
        "FP_BTD_Mean": float(np.nanmedian(wbtd)),
        "FP_I04_MAD": float(np.nanmedian(np.abs(w04 - np.nanmedian(w04)))),
        "FP_I05_MAD": float(np.nanmedian(np.abs(w05 - np.nanmedian(w05)))),
        "FP_BTD_MAD": float(np.nanmedian(np.abs(wbtd - np.nanmedian(wbtd)))),
        "FP_WinSize": (half_win - win_step) * 2,
    }
    return stat


_MISS = {
    "FP_Status": -999,
    "QA_FLAG": -999,
    "FP_I04_Mean": -999.0,
    "FP_I05_Mean": -999.0,
    "FP_BTD_Mean": -999.0,
    "FP_I04_MAD": -999.0,
    "FP_I05_MAD": -999.0,
    "FP_BTD_MAD": -999.0,
    "FP_WinSize": -999,
}


def identify_one(cdt: dict, bg: dict, i: int, nl: dict) -> dict:
    """Per-candidate contextual decision (identify_one, FILDA.py:875-998)."""
    if cdt["FP_abs_img"][i] == 1:
        out = dict(_MISS)
        out.update(FP_Status=1, QA_FLAG=1, FP_WinSize=nl["half_win_ini_FRP"])
        return out
    data_type = "_OCEAN" if cdt["FP_land_water_mask"][i] == 0 else "_LAND"
    stat = cal_bgstat(bg, int(cdt["FP_line_img"][i]), int(cdt["FP_sample_img"][i]), nl, data_type)
    if stat is None:
        return dict(_MISS)
    pos_dnb = cdt["FP_posDNB"][i]
    relaxed = (
        (pos_dnb > nl["thres_DNB"])
        and (cdt["FP_land_water_mask"][i] != 0)
        and (cdt["SAA_flag"][i] != 1)
    )
    sig_lev, delta_temp = (2.5, 7.5) if relaxed else (3.0, 9.0)
    btd, i04 = cdt["BTD_IMG"][i], cdt["BTI04"][i]
    f1 = int(btd >= stat["FP_BTD_Mean"] + sig_lev * stat["FP_BTD_MAD"])
    f2 = int(btd >= stat["FP_BTD_Mean"] + delta_temp)
    f3 = int(i04 >= stat["FP_I04_Mean"] + sig_lev * stat["FP_I04_MAD"])
    total = f1 * 4 + f2 * 2 + f3
    stat["FP_Status"] = total if total == 7 else -total
    stat["QA_FLAG"] = 1
    return stat


def contextual_test(cdt: dict, bg: dict, nl: dict) -> dict:
    """fire_test (FILDA.py:1038-1176): run identify_one over every candidate
    (the reference's multiprocessing.Pool fan-out; here a vector loop — on
    Spark this whole kernel runs once per granule inside applyInPandas)."""
    n = cdt["FP_line_img"].size
    cols = list(_MISS.keys())
    res = {k: np.empty(n, dtype=np.float64) for k in cols}
    for i in range(n):
        out = identify_one(cdt, bg, i, nl)
        for k in cols:
            res[k][i] = out[k]
    for k in cols:
        cdt[k] = res[k]
    cdt["FP_Status"] = cdt["FP_Status"].astype(np.int64)
    cdt["QA_FLAG"] = cdt["QA_FLAG"].astype(np.int64)
    return cdt


def post_test_filter(cdt: dict) -> dict:
    """Keep FP_Status > 0 (FILDA.py:1164-1168)."""
    keep = cdt["FP_Status"] > 0
    return {k: v[keep] for k, v in cdt.items()}


# ---------------------------------------------------------------------------
# FRP background (get_fire_rad13, FILDA.py:1262-1457)
# ---------------------------------------------------------------------------


def _frp_local(bg: dict, line: int, sample: int, win_size: int, data_type: str, nl: dict) -> dict:
    rad13 = bg["radM13" + data_type]
    thres_num_min = nl["thres_num_FRP"]
    thres_frac = nl["thres_frac_FRP"]
    half_win = int(win_size // 2 + 1)
    half_win_max = nl["half_win_max_FRP"]
    win_step = nl["win_step_FRP"]
    max_line, max_sample = rad13.shape
    thres_num = min(thres_num_min, (2 * half_win + 1) ** 2 * thres_frac)
    valid_num = 0
    l0 = l1 = s0 = s1 = 0
    while valid_num < thres_num:
        l0 = max(line - half_win, 0)
        l1 = min(line + half_win + 1, max_line)
        s0 = max(sample - half_win, 0)
        s1 = min(sample + half_win + 1, max_sample)
        local = rad13[l0:l1, s0:s1]
        # lowest-25% rule: the valid count itself is quartered (FILDA.py:1339)
        valid_num = int(np.isfinite(local).sum() * 0.25)
        half_win += win_step
        thres_num = min(thres_num_min, (2 * half_win + 1) ** 2 * thres_frac)
        if half_win > half_win_max:
            out = {
                "FP_M13_Rad_Mean": np.nan,
                "FP_M13_Rad_MAD": np.nan,
                "FP_M13_Rad_Num": np.nan,
                "FP_M13_WinSize": half_win - 1,
                "FP_Power_QA": -1,
            }
            for ab in ANCILLARY_BANDS:
                out[f"FP_{ab}_Rad_Mean"] = np.nan
                out[f"FP_{ab}_Rad_Num"] = np.nan
                out[f"FP_{ab}_Rad_STD"] = np.nan
            return out
    local = rad13[l0:l1, s0:s1]
    vals = np.sort(local[np.isfinite(local)])[:valid_num]
    out = {
        "FP_M13_Rad_Mean": float(np.mean(vals)),
        "FP_M13_Rad_MAD": float(np.median(np.abs(vals - np.median(vals)))),
        "FP_M13_Rad_Num": float(valid_num),
        "FP_M13_WinSize": half_win - 1,
        "FP_Power_QA": 0 if (half_win - 1) > 31 else 1,
    }
    # I-band ancillary windows use the I grid (2x bounds); DNB/M bands the M grid
    for ab in ANCILLARY_BANDS:
        arr = bg["rad" + ab + data_type]
        if ab in ("I04", "I05"):
            w = arr[2 * l0 : 2 * l1, 2 * s0 : 2 * s1]
        else:
            w = arr[l0:l1, s0:s1]
        n_ab = min(int(w.size), valid_num)
        finite = np.sort(w[np.isfinite(w)])[:n_ab]
        if finite.size:
            out[f"FP_{ab}_Rad_Mean"] = float(np.mean(finite))
            out[f"FP_{ab}_Rad_STD"] = float(np.std(finite))
            # count of values actually averaged (finite may be < n_ab when
            # the window holds fewer finite pixels than the M13 valid count)
            out[f"FP_{ab}_Rad_Num"] = float(finite.size)
        else:
            out[f"FP_{ab}_Rad_Mean"] = np.nan
            out[f"FP_{ab}_Rad_STD"] = np.nan
            out[f"FP_{ab}_Rad_Num"] = np.nan
    return out


def frp_background(det: dict, bg: dict, nl: dict) -> dict:
    """Adaptive-window FRP background per detection (FILDA.py:1262-1457)."""
    n = det["FP_line_mod"].size
    holder: dict[str, list] = {}
    for i in range(n):
        data_type = "_OCEAN" if det["FP_land_water_mask"][i] == 0 else "_LAND"
        rec = _frp_local(
            bg,
            int(det["FP_line_mod"][i]),
            int(det["FP_sample_mod"][i]),
            int(det["FP_WinSize"][i]),
            data_type,
            nl,
        )
        for k, v in rec.items():
            holder.setdefault(k, []).append(v)
    for k, v in holder.items():
        det[k] = np.array(v, dtype=np.float64)
    return det


def gather_detection_radiances(det: dict, g: dict) -> dict:
    """Per-detection own-pixel radiances: M bands + DNB at the M host pixel,
    I bands at the I pixel (FILDA sel_candidates attr gather)."""
    lm, sm = det["FP_line_mod"], det["FP_sample_mod"]
    li, si = det["FP_line_img"], det["FP_sample_img"]
    for band in ("M07", "M08", "M10", "M11", "M12", "M13", "M14", "M15", "M16"):
        det[f"FP_{band}_Rad"] = g[f"{band}_rad"][lm, sm]
    det["FP_I04_Rad"] = g["I04_rad"][li, si]
    det["FP_I05_Rad"] = g["I05_rad"][li, si]
    det["FP_DNB_Rad"] = g["DNB_observations"][lm, sm]
    det["Sensor_Zenith"] = g["sensor_zenith"][lm, sm].astype(np.float64)
    det["Sensor_Azimuth"] = g["sensor_azimuth"][lm, sm].astype(np.float64)
    return det


def get_bowtie(det: dict, overlap_lut: np.ndarray) -> dict:
    """Per-detection bowtie-overlap fraction from the I-grid LUT
    (get_bowtie, FILDA.py:2148-2176)."""
    det["FP_Bowtie"] = overlap_lut[det["FP_line_img"], det["FP_sample_img"]].astype(np.float64)
    return det


def mod_fanout(det: dict, g: dict) -> dict:
    """Reverse 4-way I-band fan-out onto the M-band host pixel: the four
    BTI04/BTI05 children of each detection's (line_mod, sample_mod)
    (FILDA.py:1955-1963; column order 1=NW, 2=SW, 3=NE, 4=SE in I-grid
    index terms, matching the reference's [2l,2s],[2l+1,2s],[2l,2s+1],
    [2l+1,2s+1] gather)."""
    lm, sm = det["FP_line_mod"], det["FP_sample_mod"]
    for band, arr in (("T04", g["BTI04"]), ("T05", g["BTI05"])):
        det[f"FP_{band}_1"] = arr[2 * lm, 2 * sm]
        det[f"FP_{band}_2"] = arr[2 * lm + 1, 2 * sm]
        det[f"FP_{band}_3"] = arr[2 * lm, 2 * sm + 1]
        det[f"FP_{band}_4"] = arr[2 * lm + 1, 2 * sm + 1]
    return det


# ---------------------------------------------------------------------------
# Fire parameters (get_fire_paras, FILDA.py:1461-1544)
# ---------------------------------------------------------------------------


def fire_params(det: dict, area_lut: np.ndarray, nl: dict) -> dict:
    lm, sm = det["FP_line_mod"], det["FP_sample_mod"]
    # siblings per M-band host pixel: group count on (lm, sm), O(n log n)
    # (the reference's loop at FILDA.py:1487-1497 is O(n^2); SURVEY §2.4 maps
    # this to a group count — exact same values)
    host = lm.astype(np.int64) * np.int64(1 << 32) + sm.astype(np.int64)
    _, inv, counts = np.unique(host, return_inverse=True, return_counts=True)
    num_fire = counts[inv].astype(np.int64)
    area = area_lut[lm, sm].astype(np.float64)
    with np.errstate(invalid="ignore", divide="ignore"):
        frp = area * SIGMA_SB * (det["FP_M13_Rad"] - det["FP_M13_Rad_Mean"]) / FRP_C * 1e-6
        dnb = det["DNB_observations"]
        ve = (dnb * 1e-9 * area * np.pi) * 1e4 / 1e6
        sz = det["Solar_Zenith"]
        twi = (sz > nl["twilight_ang_min"]) & (sz < nl["twilight_ang_max"])
        ve = np.where(
            twi, ((dnb - det["FP_DNB_Rad_Mean"]) * 1e-9 * area * np.pi) * 1e4 / 1e6, ve
        )
        vef = ve / frp
        vef = np.where(np.isnan(vef), -999.0, vef)
        bad = (frp < 0) | (vef < 0)
        vef = np.where(bad, 999.0, vef)
        mce = np.log(2.0 * vef) * 0.017 + 1.0
    mce[bad] = np.nan
    vef[bad] = np.nan
    ve = np.where(bad, np.nan, ve)
    frp = np.where(bad, np.nan, frp)
    det["FP_Power"] = frp
    det["FP_VE"] = ve
    det["FP_VEF"] = vef
    det["FP_MCE"] = mce
    det["FP_Area_mod"] = area
    det["FP_Num_Fire"] = num_fire
    keep = (det["FP_Power_QA"] != -1) & np.isfinite(frp)
    return {k: np.asarray(v)[keep] for k, v in det.items()}


def check_saa_2(det: dict) -> dict:
    """Second South-Atlantic-Anomaly screen (check_saa_2, FILDA.py:1550-1567):
    a detection inside the SAA rect keeps FP_SAA_flag=1 only when its M11/M13
    brightness-temperature anomaly over the background (+3 sigma/MAD) is weak
    — i.e. it looks like a radiation hit, not a fire."""
    with np.errstate(invalid="ignore"):
        d11 = bt_from_rad(det["FP_M11_Rad"], LAMBDA_UM["M11"]) - bt_from_rad(
            det["FP_M11_Rad_Mean"] + 3.0 * det["FP_M11_Rad_STD"], LAMBDA_UM["M11"]
        )
        d13 = bt_from_rad(det["FP_M13_Rad"], LAMBDA_UM["M13"]) - bt_from_rad(
            det["FP_M13_Rad_Mean"] + 3.0 * det["FP_M13_Rad_MAD"], LAMBDA_UM["M13"]
        )
        weak = (d11 < 10.0) | (d13 < 2.5)
    det["FP_SAA_flag"] = (weak & (det["SAA_flag"] == 1)).astype(np.int8)
    return det


# ---------------------------------------------------------------------------
# Planck-mixture fit (FILDA_fitting.py:23-83; scipy-free Nelder-Mead)
# ---------------------------------------------------------------------------

FIT_BANDS = ("M11", "M12", "M13", "M14", "M15")
FIT_BOUNDS = np.array([[550.0, 2200.0], [230.0, 335.0], [5e-5, 0.4]])
FIT_X0 = np.array([750.0, 288.0, 0.002])
_FIT_LAM = np.array([LAMBDA_UM[b] for b in FIT_BANDS])
_FIT_C1, _FIT_C2 = C1, C2


def _fit_residual(x: np.ndarray, obs: np.ndarray) -> float:
    tf, tb, frac = x
    model = frac * planck_rad_vec(_FIT_LAM, tf) + (1.0 - frac) * planck_rad_vec(_FIT_LAM, tb)
    ok = np.isfinite(obs) & (obs > 0)
    if ok.sum() < 3:
        return np.inf
    r = (model[ok] - obs[ok]) / obs[ok]
    return float(np.sum(r * r))


def _fit_residual_fast(x: np.ndarray, pre: np.ndarray, c2l: np.ndarray, obs_ok: np.ndarray) -> float:
    """Hot-path twin of _fit_residual with the per-detection invariants
    hoisted: pre = c1/lam^5 and c2l = c2/lam over the valid bands (identical
    association order, so floats are bit-equal to the reference form); the
    caller holds the errstate and validity mask."""
    tf, tb, frac = x
    a = pre / (np.exp(c2l / tf) - 1.0)
    b = pre / (np.exp(c2l / tb) - 1.0)
    r = (frac * a + (1.0 - frac) * b - obs_ok) / obs_ok
    return float(np.sum(r * r))


def planck_rad_vec(lamda_um: np.ndarray, temp_k: float) -> np.ndarray:
    c1, c2 = _FIT_C1, _FIT_C2
    with np.errstate(over="ignore"):
        return c1 / lamda_um**5 / (np.exp(c2 / lamda_um / temp_k) - 1.0)


def nelder_mead(f, x0, bounds, args=(), max_iter=200, tol=1e-10):
    """Deterministic bounded Nelder-Mead (reflection/expansion/contraction/
    shrink with standard coefficients); replaces the reference's scipy
    L-BFGS-B (same objective, same bounds, FILDA_fitting.py:48-63)."""

    def clip(x):
        return np.clip(x, bounds[:, 0], bounds[:, 1])

    n = x0.size
    simplex = [clip(np.array(x0, dtype=np.float64))]
    for i in range(n):
        step = np.zeros(n)
        step[i] = 0.05 * (bounds[i, 1] - bounds[i, 0])
        simplex.append(clip(x0 + step))
    simplex = np.array(simplex)
    fv = np.array([f(s, *args) for s in simplex])
    for _ in range(max_iter):
        order = np.argsort(fv, kind="stable")
        simplex, fv = simplex[order], fv[order]
        if abs(fv[-1] - fv[0]) < tol:
            break
        centroid = simplex[:-1].mean(axis=0)
        xr = clip(centroid + (centroid - simplex[-1]))
        fr = f(xr, *args)
        if fr < fv[0]:
            xe = clip(centroid + 2.0 * (centroid - simplex[-1]))
            fe = f(xe, *args)
            simplex[-1], fv[-1] = (xe, fe) if fe < fr else (xr, fr)
        elif fr < fv[-2]:
            simplex[-1], fv[-1] = xr, fr
        else:
            xc = clip(centroid + 0.5 * (simplex[-1] - centroid))
            fc = f(xc, *args)
            if fc < fv[-1]:
                simplex[-1], fv[-1] = xc, fc
            else:
                simplex[1:] = clip(simplex[0] + 0.5 * (simplex[1:] - simplex[0]))
                fv[1:] = [f(s, *args) for s in simplex[1:]]
    best = int(np.argmin(fv))
    return simplex[best], fv[best]


def _fit_residual_batch(X: np.ndarray, pre: np.ndarray, c2l: np.ndarray, obs: np.ndarray) -> np.ndarray:
    """(m, 3) candidate points -> (m,) residuals; elementwise twin of
    _fit_residual_fast (same expressions, same contiguous 5-element row
    sums), so every value is bit-identical to the scalar path."""
    tf = X[:, 0:1]
    tb = X[:, 1:2]
    frac = X[:, 2:3]
    a = pre[None, :] / (np.exp(c2l[None, :] / tf) - 1.0)
    b = pre[None, :] / (np.exp(c2l[None, :] / tb) - 1.0)
    r = (frac * a + (1.0 - frac) * b - obs) / obs
    return np.sum(r * r, axis=1)


def nelder_mead_batch(
    pre: np.ndarray,
    c2l: np.ndarray,
    obs: np.ndarray,
    x0: np.ndarray,
    bounds: np.ndarray,
    max_iter: int = 200,
    tol: float = 1e-10,
) -> tuple[np.ndarray, np.ndarray]:
    """Batched twin of nelder_mead over m independent fits sharing a band
    pattern: simplex state is (m, 4, 3); every branch of the scalar
    algorithm is applied as a row mask, converged rows freeze, and every
    arithmetic expression (vertex init, centroid mean, reflect/expand/
    contract/shrink, stable sorts, first-min argmin) matches the scalar
    form bit-for-bit — planck_fit outputs are identical, just ~30x faster
    (the scalar path spends its time in per-call Python/numpy overhead on
    5-element arrays)."""
    m, n = obs.shape[0], x0.size

    def f(X):
        return _fit_residual_batch(X, pre, c2l, obs)

    def clip(X):
        return np.clip(X, bounds[:, 0], bounds[:, 1])

    verts = [clip(np.array(x0, dtype=np.float64))]
    for i in range(n):
        step = np.zeros(n)
        step[i] = 0.05 * (bounds[i, 1] - bounds[i, 0])
        verts.append(clip(x0 + step))
    simplex = np.broadcast_to(np.array(verts)[None, :, :], (m, n + 1, n)).copy()
    fv = np.stack([f(simplex[:, j, :]) for j in range(n + 1)], axis=1)
    active = np.ones(m, dtype=bool)
    for _ in range(max_iter):
        order = np.argsort(fv, axis=1, kind="stable")
        simplex = np.take_along_axis(simplex, order[:, :, None], axis=1)
        fv = np.take_along_axis(fv, order, axis=1)
        active &= ~(np.abs(fv[:, -1] - fv[:, 0]) < tol)
        if not active.any():
            break
        centroid = simplex[:, :-1, :].mean(axis=1)
        worst = simplex[:, -1, :]
        xr = clip(centroid + (centroid - worst))
        fr = f(xr)
        xe = clip(centroid + 2.0 * (centroid - worst))
        fe = f(xe)
        xc = clip(centroid + 0.5 * (worst - centroid))
        fc = f(xc)
        case1 = fr < fv[:, 0]
        use_e = case1 & (fe < fr)
        case2 = ~case1 & (fr < fv[:, -2])
        case3 = ~case1 & ~case2 & (fc < fv[:, -1])
        shrink = active & ~case1 & ~case2 & ~case3
        new_v = np.where(
            use_e[:, None], xe, np.where((case1 | case2)[:, None], xr, xc)
        )
        new_f = np.where(use_e, fe, np.where(case1 | case2, fr, fc))
        repl = active & (case1 | case2 | case3)
        simplex[repl, -1, :] = new_v[repl]
        fv[repl, -1] = new_f[repl]
        if shrink.any():
            s0 = simplex[shrink, 0:1, :]
            shr = clip(s0 + 0.5 * (simplex[shrink, 1:, :] - s0))
            simplex[shrink, 1:, :] = shr
            for j in range(1, n + 1):
                fv[shrink, j] = _fit_residual_batch(
                    simplex[shrink, j, :], pre, c2l, obs[shrink]
                )
    best = np.argmin(fv, axis=1)
    x = np.take_along_axis(simplex, best[:, None, None], axis=1)[:, 0, :]
    return x, np.take_along_axis(fv, best[:, None], axis=1)[:, 0]


def planck_fit(det: dict) -> dict:
    """Per-detection 3-parameter (T_fire, T_bg, frac) Planck-mixture fit over
    the 5 M emissive bands (FILDA_fitting.py:23-83 semantics). Detections
    are grouped by their valid-band pattern and each group runs through the
    batched bounded Nelder-Mead (bit-identical to the scalar path, pinned by
    test_kernels); the rare <3-positive-band degenerate path stays scalar."""
    n = det["FP_line_img"].size
    tf = np.full(n, np.nan)
    tb = np.full(n, np.nan)
    fr = np.full(n, np.nan)
    st = np.zeros(n, dtype=np.int8)
    obs_all = np.stack([np.asarray(det[f"FP_{b}_Rad"], dtype=np.float64) for b in FIT_BANDS], axis=1)
    pre_all = _FIT_C1 / _FIT_LAM**5
    c2l_all = _FIT_C2 / _FIT_LAM
    finite = np.isfinite(obs_all)
    okm = finite & (obs_all > 0)
    n_ok = okm.sum(axis=1)
    with np.errstate(over="ignore", invalid="ignore", divide="ignore"):
        # batched path: group rows sharing a valid-band pattern
        fitable = n_ok >= 3
        if fitable.any():
            patterns = okm[fitable].astype(np.uint8) @ (1 << np.arange(okm.shape[1], dtype=np.uint64))
            idx_fit = np.nonzero(fitable)[0]
            for pat in np.unique(patterns):
                rows = idx_fit[patterns == pat]
                ok = okm[rows[0]]
                x, fval = nelder_mead_batch(
                    pre_all[ok], c2l_all[ok], obs_all[rows][:, ok], FIT_X0, FIT_BOUNDS
                )
                tf[rows], tb[rows], fr[rows] = x[:, 0], x[:, 1], x[:, 2]
                st[rows] = np.isfinite(fval).astype(np.int8)
        # degenerate path (<3 positive-finite bands): original scalar loop
        for i in np.nonzero(~fitable & (finite.sum(axis=1) >= 3))[0]:
            x, fval = nelder_mead(_fit_residual, FIT_X0, FIT_BOUNDS, args=(obs_all[i],))
            tf[i], tb[i], fr[i] = x
            st[i] = 1 if np.isfinite(fval) else 0
    det["FP_Fire_Temp"] = tf
    det["FP_BG_Temp"] = tb
    det["FP_Fire_Frac"] = fr
    det["FP_Opt_Status"] = st
    return det


# ---------------------------------------------------------------------------
# Rasterization: fire mask + QA (FILDA.py:2257-2567)
# ---------------------------------------------------------------------------


def gen_fire_img_mask(g: dict, det: dict, cdt: dict, overlap: np.ndarray, nl: dict) -> np.ndarray:
    """Priority paint on the I grid (later writes win), exact order of
    gen_fire_img_mask (FILDA.py:2257-2350):
    water 3, land 5, unclassified 6, nominal 8, high 9 (saturated, bg mean
    -999<0), low 7 (water detection with BTD<15), SAA restore 7/3, cloud 4,
    bowtie 1."""
    lwm_i = upsample_m_to_i(g["land_water_mask"])
    nrow, ncol = lwm_i.shape
    mask = np.zeros((nrow, ncol), dtype=np.int8)
    mask[lwm_i != 1] = 3
    mask[lwm_i == 1] = 5
    unc = cdt["QA_FLAG"] == -999
    mask[cdt["FP_line_img"][unc], cdt["FP_sample_img"][unc]] = 6
    li, si = det["FP_line_img"], det["FP_sample_img"]
    mask[li, si] = 8
    sel = det["FP_I04_Mean"] < 0
    mask[li[sel], si[sel]] = 9
    sel = (det["FP_land_water_mask"] != 1) & (det["BTD_IMG"] < 15.0)
    mask[li[sel], si[sel]] = 7
    sel = (det["FP_SAA_flag"] > 0) & (det["FP_land_water_mask"] == 1)
    mask[li[sel], si[sel]] = 7
    sel = (det["FP_SAA_flag"] > 0) & (det["FP_land_water_mask"] != 1)
    mask[li[sel], si[sel]] = 3
    mask[g["CM"] <= 0] = 4
    mask[overlap > nl["thres_bowtie"]] = 1
    return mask


def gen_fire_mod_mask(mask_img: np.ndarray) -> np.ndarray:
    """I->M mask downsample by flag-wise scatter in fixed order
    (gen_fire_mod_mask, FILDA.py:2353-2370)."""
    nrow, ncol = mask_img.shape
    out = np.zeros((nrow // 2, ncol // 2), dtype=np.int8)
    for flag in (3, 5, 6, 8, 9, 7, 4, 1):
        idx = np.nonzero(mask_img == flag)
        out[idx[0] // 2, idx[1] // 2] = flag
    return out


def reverse_bits_np(vals: np.ndarray, width: int) -> np.ndarray:
    """Bit reversal, reverse_Bits semantics (FILDA.py:2392-2400)."""
    v = np.asarray(vals, dtype=np.uint32)
    out = np.zeros_like(v)
    for _ in range(width):
        out = (out << np.uint32(1)) | (v & np.uint32(1))
        v = v >> np.uint32(1)
    return out


QA_BITS = 32  # full layout, see gen_algorithm_qa


def gen_algorithm_qa(g: dict, det: dict, cdt: dict, overlap: np.ndarray, nl: dict) -> np.ndarray:
    """Per-pixel uint32 QA on the I grid: the reference's full 26-field
    shift/or assembly then 32-bit reversal (gen_algorithm_QA,
    FILDA.py:2373-2567), mirrored field-for-field INCLUDING two reference
    indexing quirks (marked below) so the bit patterns match the published
    product:
    bits 0-2 channel I1-I3 (unused, zero); 3 I04 qf ok; 4 I05 qf ok;
    5 geolocation ok; 6 M13 host ok; 7 absolute; 8 background-high-temp;
    9 bright-rejection (zero); 10 candidate; 11 IR candidate; 12 visible
    candidate; 13 scene background (zero); 14-16 contextual tests;
    17 daytime (zero); 18 saturation; 19 glint (zero); 20 SAA (zero);
    21 fire over water; 22 twilight; 23-24 persistence (zero); 25 bowtie;
    26-31 spare."""
    i04qf = g.get("I04_quality_flags")
    i05qf = g.get("I05_quality_flags")
    lat_i = upsample_m_to_i(g["latitude"])
    nrow, ncol = lat_i.shape
    qa = np.zeros((nrow, ncol), dtype=np.uint32)
    zero = np.zeros((nrow, ncol), dtype=bool)

    def push(bit_raster=None):
        nonlocal qa
        qa = qa << np.uint32(1)
        if bit_raster is not None:
            qa = qa | bit_raster.astype(np.uint32)

    def scatter(lines, samples):
        r = np.zeros((nrow, ncol), dtype=bool)
        r[lines, samples] = True
        return r

    # bit 0 (I1): the first field shifts nothing in the reference
    # (FILDA.py:2412-2413) — qa is still all-zero, so pushing a zero raster
    # after it reproduces the same final word
    push(zero)  # bit 1, I2
    push(zero)  # bit 2, I3
    push(zero if i04qf is None else (i04qf == 0))  # bit 3
    push(zero if i05qf is None else (i05qf == 0))  # bit 4
    push(np.isfinite(lat_i))  # bit 5, geolocation quality
    # bit 6, M13 host quality — reference quirk (FILDA.py:2440-2449): the
    # M-grid indices are scattered to (l, s), (l+1, s), (l, s+1), (l+1, s+1)
    # on the I raster WITHOUT doubling, painting the upper-left quadrant
    m13ok = g.get("M13_quality_flags")
    if m13ok is None:
        push(zero)
    else:
        lm, sm = np.nonzero(m13ok == 0)
        r = np.zeros((nrow, ncol), dtype=bool)
        r[lm, sm] = True
        r[lm + 1, sm] = True
        r[lm, sm + 1] = True
        r[lm + 1, sm + 1] = True
        push(r)
    li, si = cdt["FP_line_img"], cdt["FP_sample_img"]
    push(scatter(li[cdt["FP_abs_img"] == 1], si[cdt["FP_abs_img"] == 1]))  # bit 7
    push(scatter(li[cdt["FP_bg_img"] == 1], si[cdt["FP_bg_img"] == 1]))  # bit 8
    push(zero)  # bit 9, bright-pixel rejection
    push(scatter(li, si))  # bit 10, candidate
    push(scatter(li[cdt["FP_therm_img"] == 1], si[cdt["FP_therm_img"] == 1]))  # bit 11, IR
    # bit 12, visible candidate — reference quirk (FILDA.py:2482-2490): the
    # computed validIDX is unused and ALL candidates are painted
    push(scatter(li, si))
    push(zero)  # bit 13, scene background
    status = np.zeros((nrow, ncol), dtype=np.int64)
    status[li, si] = np.abs(cdt["FP_Status"])
    push(status > 3)  # bit 14, test 1
    in_set = np.isin(status, (7, 6, 3, 2))
    push(in_set)  # bit 15, test 2
    push(in_set)  # bit 16, test 3 (reference reuses the bit-15 set)
    push(zero)  # bit 17, daytime
    with np.errstate(invalid="ignore"):
        sat = (g["BTI05"] > 325.0) | (g["BTI04"] > 355.0) | (g["BTD_IMG"] < 0.0)
    push(sat)  # bit 18, saturation
    push(zero)  # bit 19, glint
    push(zero)  # bit 20, SAA
    lwm_i = upsample_m_to_i(g["land_water_mask"])
    dl, ds = det["FP_line_img"], det["FP_sample_img"]
    water_fire = lwm_i[dl, ds] != 1
    push(scatter(dl[water_fire], ds[water_fire]))  # bit 21, fire over water
    sza_i = upsample_m_to_i(g["solar_zenith"])
    push((sza_i > nl["twilight_ang_min"]) & (sza_i < nl["twilight_ang_max"]))  # bit 22
    push(zero)  # bit 23, persistence temperature
    push(zero)  # bit 24, persistence number
    push(overlap > nl["thres_bowtie"])  # bit 25, bowtie
    qa = qa << np.uint32(4)  # bits 26-31 spare
    return reverse_bits_np(qa, QA_BITS)


QA_FIELD_NAMES = [
    "I1_quality", "I2_quality", "I3_quality", "I4_quality", "I5_quality",
    "geolocation_quality", "M13_quality", "absolute_fire", "background_high_temp",
    "bright_rejection", "candidate", "candidate_ir", "candidate_visible",
    "scene_background", "test_1", "test_2", "test_3", "daytime", "saturation",
    "glint", "saa", "fire_over_water", "twilight", "persistence_temp",
    "persistence_num", "bowtie",
]


def decode_algorithm_qa(qa: np.ndarray) -> dict:
    """QA word -> named bit rasters (decoding_algorithm_QA,
    FILDA_IO.py:1567-1610): after the stored bit reversal, field i of the
    assembly order sits at reversed-bit position i."""
    rev = reverse_bits_np(np.asarray(qa, dtype=np.uint32), QA_BITS)
    out = {}
    n = len(QA_FIELD_NAMES)
    for i, name in enumerate(QA_FIELD_NAMES):
        # assembly pushed field 0 first => it ends at the highest used bit
        shift = np.uint32(n - 1 - i + 4)  # +4 spare bits below
        out[name] = ((rev >> shift) & np.uint32(1)).astype(np.int8)
    return out
