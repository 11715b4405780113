"""Property-based tests (hypothesis) for the numpy-level invariants:
dedup idempotence, bit-reversal involution, kRing symmetry, window stats vs
direct computation, Julian-day consistency, PIP vs analytic squares."""

import datetime as dt

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from filda_spark import kernels, spatial
from filda_spark.grids import cell_encode_np, julian_day_number_np


@settings(max_examples=25, deadline=None)
@given(st.integers(0, 2**32 - 1), st.integers(1, 32))
def test_reverse_bits_involution(v, width):
    v = v & ((1 << width) - 1)
    arr = np.array([v], dtype=np.uint32)
    assert kernels.reverse_bits_np(kernels.reverse_bits_np(arr, width), width)[0] == v


@settings(max_examples=20, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.floats(-59, 59), st.floats(-179, 179), st.floats(0, 100), st.sampled_from(["A", "B", "C"])
        ),
        min_size=2,
        max_size=40,
    )
)
def test_dedup_idempotent_on_keepers(points):
    lat = np.array([p[0] for p in points])
    lon = np.array([p[1] for p in points])
    power = np.array([p[2] for p in points])
    doc = np.array([p[3] for p in points])
    line = np.arange(len(points))
    sample = np.arange(len(points)) * 3
    is_dup, _ = spatial.knn_dedup_np(doc, lat, lon, power, line, sample)
    keep = ~is_dup
    is_dup2, _ = spatial.knn_dedup_np(
        doc[keep], lat[keep], lon[keep], power[keep], line[keep], sample[keep]
    )
    assert not is_dup2.any()  # removing duplicates creates no new duplicates


@settings(max_examples=25, deadline=None)
@given(st.floats(-80, 80), st.floats(-179, 179), st.integers(10, 17))
def test_cell_encode_stable_and_in_range(lat, lon, level):
    c = cell_encode_np(np.array([lat]), np.array([lon]), level)[0]
    assert c == cell_encode_np(np.array([lat]), np.array([lon]), level)[0]
    assert (c >> 58) == level  # level field round-trips


@settings(max_examples=15, deadline=None)
@given(st.integers(0, 10**6))
def test_julian_day_matches_datetime(ordinal_offset):
    d = dt.date(1900, 1, 1) + dt.timedelta(days=ordinal_offset % 150000)
    jdn = julian_day_number_np(d.year, d.month, d.day)
    # JDN difference equals calendar-day difference
    ref = julian_day_number_np(1970, 1, 1)
    assert jdn - ref == (d - dt.date(1970, 1, 1)).days


@settings(max_examples=15, deadline=None)
@given(
    st.integers(3, 9),
    st.integers(8, 20),
    st.integers(8, 20),
    st.integers(0, 10**6),
)
def test_spatial_static_matches_direct(dim, h, w, seed):
    if dim % 2 == 0:
        dim += 1
    rng = np.random.default_rng(seed)
    a = rng.normal(0, 1, (h, w))
    a[rng.random((h, w)) < 0.2] = np.nan
    mean, std, num = kernels.spatial_static(a, dim)
    i, j = h // 2, w // 2
    r = dim // 2
    win = a[max(i - r, 0) : i + r + 1, max(j - r, 0) : j + r + 1]
    v = win[np.isfinite(win)]
    if v.size:
        assert abs(num[i, j] - v.size) < 1e-6
        assert abs(mean[i, j] - v.mean()) < 1e-7 * max(1, abs(v.mean()))


@settings(max_examples=25, deadline=None)
@given(st.floats(-50, 50), st.floats(-100, 100), st.floats(0.01, 5.0))
def test_pip_square_analytic(clat, clon, half):
    poly_lat = [clat - half, clat - half, clat + half, clat + half]
    poly_lon = [clon - half, clon + half, clon + half, clon - half]
    pts_lat = np.array([clat, clat + 2 * half, clat - 0.5 * half])
    pts_lon = np.array([clon, clon, clon + 0.5 * half])
    inside = spatial.point_in_polygon_np(pts_lat, pts_lon, poly_lat, poly_lon)
    assert inside[0] and not inside[1] and inside[2]


@settings(max_examples=200, deadline=None)
@given(
    st.floats(-85.0, 85.0),
    st.floats(-180.0, 179.99),
    st.floats(0.0, 1.0),
    st.floats(0.0, 2 * np.pi),
)
def test_lon_ring_halfwidth_covers_eps(lat_b, lon_b, r_frac, theta):
    """The latitude-aware ring formula (grids.lon_ring_halfwidth twin, pure
    python): for ANY pair within eps of cos-corrected distance, the
    longitudinal cell distance between the two level-14 cells is <= kx
    computed at the RIGHT point's latitude — i.e. the dedup join's exploded
    ring always reaches the partner's cell."""
    import math

    eps = spatial.DEDUP_EPS_DEG
    level = 14
    cell_w = 360.0 / (1 << level)
    # place point a at distance r_frac*eps in direction theta from b,
    # under the metric dlat^2 + (dlon*cos(lat_a))^2
    dlat = r_frac * eps * math.sin(theta)
    lat_a = np.clip(lat_b + dlat, -85.0, 85.0)
    coslat_a = math.cos(math.radians(lat_a))
    dlon = r_frac * eps * math.cos(theta) / max(coslat_a, 1e-6)
    lon_a = lon_b + dlon
    if not (-180.0 <= lon_a < 180.0):
        return  # wrap handled by the modular arithmetic, skip here
    # the formula under test (mirrors grids.lon_ring_halfwidth)
    cos_m = math.cos(math.radians(min(abs(lat_b) + eps, 89.9)))
    kx = math.floor(eps / (cos_m * cell_w)) + 1
    xa = int(np.clip(np.floor((lon_a + 180.0) / 360.0 * (1 << level)), 0, (1 << level) - 1))
    xb = int(np.clip(np.floor((lon_b + 180.0) / 360.0 * (1 << level)), 0, (1 << level) - 1))
    assert abs(xa - xb) <= kx


@settings(max_examples=60, deadline=None)
@given(st.integers(0, 2**32 - 1), st.integers(20, 400))
def test_hdi_contains_95(seed, n):
    """mcbef.hdi_95: the interval covers >= floor(0.95 n) draws and is the
    narrowest such window."""
    from filda_spark import mcbef

    x = np.random.default_rng(seed).normal(0, 1, n) * (1 + seed % 3)
    lo, up = mcbef.hdi_95(x)
    k = max(int(np.floor(0.95 * n)), 1)
    inside = ((x >= lo) & (x <= up)).sum()
    assert inside >= k
    s = np.sort(x)
    widths = s[k - 1 :] - s[: n - k + 1]
    assert (up - lo) <= widths.min() + 1e-12


# ---------------------------------------------------------------------------
# Codec properties (round 3: PNG/APNG lossless roundtrip over arbitrary
# shapes/contents; JPEG decode error bounded by the quantisation step)
# ---------------------------------------------------------------------------


@settings(max_examples=20, deadline=None)
@given(
    st.integers(1, 24),
    st.integers(1, 24),
    st.sampled_from(["uint8", "uint16"]),
    st.integers(0, 2**31 - 1),
)
def test_png_roundtrip_property(h, w, dtype, seed):
    from filda_spark import codecs

    rng = np.random.default_rng(seed)
    arr = rng.integers(0, np.iinfo(dtype).max + 1, (h, w)).astype(dtype)
    dec = codecs.png_decode(codecs.png_encode(arr))
    assert dec.dtype == arr.dtype and np.array_equal(dec, arr)


@settings(max_examples=15, deadline=None)
@given(
    st.integers(1, 6),
    st.integers(2, 16),
    st.integers(2, 16),
    st.integers(0, 2**31 - 1),
)
def test_apng_roundtrip_property(t, h, w, seed):
    from filda_spark import codecs

    rng = np.random.default_rng(seed)
    frames = [rng.integers(0, 256, (h, w), dtype=np.uint8)]
    for _ in range(t - 1):
        nxt = frames[-1].copy()
        if rng.random() < 0.8:  # mix localized edits and identical frames
            y0, x0 = rng.integers(0, h), rng.integers(0, w)
            nxt[y0:, x0:] = rng.integers(0, 256, nxt[y0:, x0:].shape, dtype=np.uint8)
        frames.append(nxt)
    stack = np.stack(frames)
    dec = codecs.apng_decode(codecs.apng_encode(stack))
    assert np.array_equal(dec, stack)


@settings(max_examples=10, deadline=None)
@given(st.integers(1, 40), st.integers(1, 40), st.integers(0, 2**31 - 1))
def test_jpeg_error_bounded_by_quant_step(h, w, seed):
    """Per T.81, reconstruction error per coefficient is <= quant_step/2;
    a conservative spatial bound for quality 95 on arbitrary content is
    half the largest scaled table entry (here: a loose fixed bound that a
    correct decoder always satisfies; a broken zigzag/Huffman/DCT blows
    straight through it)."""
    from filda_spark import codecs

    rng = np.random.default_rng(seed)
    img = rng.integers(0, 256, (h, w), dtype=np.uint8)
    dec = codecs.jpeg_decode(codecs.jpeg_encode(img, 95))
    assert dec.shape == img.shape
    # quality-95 table entries are 1..12; worst-case block error stays
    # far below this loose threshold unless the codec is actually wrong
    assert np.abs(dec.astype(int) - img.astype(int)).max() <= 64


@settings(max_examples=15, deadline=None)
@given(st.integers(0, 2**31 - 1), st.integers(0, 80), st.integers(2, 6))
def test_strtree_matches_bruteforce(seed, n_polys, cap):
    """The STR R-tree assignment must be bit-identical to the linear
    polygon scan for any polygon set, point cloud, and leaf capacity —
    including the overlap tie-break (first polygon in input order)."""
    rng = np.random.default_rng(seed)
    polys = []
    for i in range(n_polys):
        clat, clon = rng.uniform(-70, 70), rng.uniform(-170, 170)
        nv = int(rng.integers(3, 8))
        ang = np.sort(rng.uniform(0, 2 * np.pi, nv))
        r = rng.uniform(0.1, 8.0)  # big radii force overlaps
        polys.append(
            dict(pid=i, lat=(clat + r * np.sin(ang)).tolist(), lon=(clon + r * np.cos(ang)).tolist())
        )
    lat = rng.uniform(-75, 75, 300)
    lon = rng.uniform(-175, 175, 300)
    ref = spatial.assign_polygons_np(lat, lon, polys, "pid")
    tree = spatial.build_strtree(polys, cap=cap)
    got = spatial.assign_polygons_strtree(lat, lon, tree, polys, "pid")
    assert np.array_equal(ref, got)


def test_min_label_components_matches_union_find(spark):
    """The shared Pregel-style min-label CC (functions/graph.py) must
    produce exactly the union-find ground truth (component = min node id
    reachable) on random graphs — including isolated nodes, self-loops and
    long chains near the iteration bound."""
    import numpy as np
    from pyspark.sql import functions as F

    from filda_spark.functions.graph import min_label_components

    rng = np.random.default_rng(42)
    for trial in range(3):
        n = int(rng.integers(5, 60))
        m = int(rng.integers(0, 2 * n))
        pairs = rng.integers(0, n, size=(m, 2)).tolist()
        if trial == 2:  # worst-case diameter: one long chain
            pairs = [[i, i + 1] for i in range(n - 1)]

        # ground truth: union-find
        parent = list(range(n))

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in pairs:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        want = {x: find(x) for x in range(n)}

        nodes = spark.createDataFrame([(i,) for i in range(n)], "node long")
        sym = [(a, b) for a, b in pairs] + [(b, a) for a, b in pairs]
        edges = (
            spark.createDataFrame(sym or [(0, 0)], "src long, dst long")
            .limit(len(sym))  # empty-edges case: zero rows, schema kept
            .localCheckpoint()
        )
        labels = min_label_components(
            nodes.select("node", F.col("node").alias("component")).localCheckpoint(),
            edges,
            "node",
            max_iters=n + 2,
        )
        got = {r["node"]: r["component"] for r in labels.collect()}
        assert got == want, f"trial {trial}"


def _fixpoint_counting(spark, step, max_rounds, **kw):
    """Run graph.fixpoint from a one-row seed v=0, counting step calls."""
    from filda_spark.functions.graph import fixpoint

    calls = []

    def counted(df):
        calls.append(1)
        return step(df)

    out = fixpoint(
        spark.createDataFrame([(0,)], "v long"), counted, max_rounds, **kw
    )
    return out.first()["v"], len(calls)


def test_fixpoint_stops_one_round_after_the_fixpoint(spark):
    """v -> min(v + 1, 3) reaches its fixpoint at round 3; the repeat of
    the progress value is seen at round 4, and the loop stops there."""
    from pyspark.sql import functions as F

    v, calls = _fixpoint_counting(
        spark,
        lambda df: df.select(F.least(F.col("v") + 1, F.lit(3)).alias("v")),
        10,
        progress=F.sum("v"),
        must_converge=True,
    )
    assert (v, calls) == (3, 4)


def test_fixpoint_without_progress_runs_every_round(spark):
    from pyspark.sql import functions as F

    v, calls = _fixpoint_counting(
        spark,
        lambda df: df.select(F.least(F.col("v") + 1, F.lit(3)).alias("v")),
        5,
    )
    assert (v, calls) == (3, 5)


def test_fixpoint_must_converge_raises_at_the_cap(spark):
    import pytest
    from pyspark.sql import functions as F

    with pytest.raises(RuntimeError, match="no fixpoint within 3 rounds"):
        _fixpoint_counting(
            spark,
            lambda df: df.select((F.col("v") + 1).alias("v")),
            3,
            progress=F.sum("v"),
            must_converge=True,
        )


def test_min_label_components_raises_when_rounds_run_out(spark):
    """A 64-node path needs ~log2(64) doubling rounds; two rounds must
    raise rather than return a split component."""
    import pytest
    from pyspark.sql import functions as F

    from filda_spark.functions.graph import min_label_components

    n = 64
    sym = [(i, i + 1) for i in range(n - 1)] + [(i + 1, i) for i in range(n - 1)]
    nodes = spark.createDataFrame([(i,) for i in range(n)], "node long")
    with pytest.raises(RuntimeError, match="no fixpoint within 2 rounds"):
        min_label_components(
            nodes.select("node", F.col("node").alias("component")),
            spark.createDataFrame(sym, "src long, dst long"),
            "node",
            max_iters=2,
        )


def test_morton_key_column_matches_numpy(spark):
    """functions.bits.morton_key (Column twin) against an independent numpy
    interleave over random coordinates, including clamp behavior at the
    domain edges."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import functions as F

    from filda_spark.functions.bits import morton_key

    rng = np.random.default_rng(23)
    lat = np.concatenate([rng.uniform(-90, 90, 2000), [-90.0, 90.0, -91.0, 91.0]])
    lon = np.concatenate([rng.uniform(-180, 180, 2000), [-180.0, 180.0, -181.0, 181.0]])

    bits = 16
    scale = (1 << bits) - 1
    qla = np.clip(np.floor((lat + 90.0) / 180.0 * scale), 0, scale).astype(np.int64)
    qlo = np.clip(np.floor((lon + 180.0) / 360.0 * scale), 0, scale).astype(np.int64)
    want = np.zeros_like(qla)
    for i in range(bits):
        want |= ((qla >> i) & 1) << (2 * i + 1)
        want |= ((qlo >> i) & 1) << (2 * i)

    df = spark.createDataFrame(pd.DataFrame(dict(lat=lat, lon=lon)))
    got = (
        df.select(morton_key(F.col("lat"), F.col("lon")).alias("zk"))
        .toPandas()["zk"]
        .to_numpy()
    )
    assert (got == want).all()


@given(
    st.floats(-85, 85),
    st.floats(-179, 179),
    st.integers(1, 9),
)
@settings(max_examples=150, deadline=None)
def test_hex_algebra_invariants(lat, lon, res):
    """Hypothesis sweep of the aperture-7 hex algebra on arbitrary points:
    roundtrip containment, parent containment-by-distance, children being
    the exact parent preimage, and compact/uncompact-style identities at
    the single-cell level."""
    import numpy as np

    from filda_spark import hex as hx

    cell = hx.encode_np(np.array([lat]), np.array([lon]), res)
    # re-encoding the center is the identity
    clat, clon = hx.center_np(cell)
    assert hx.encode_np(clat, clon, res)[0] == cell[0]
    if res >= 1:
        par = hx.parent_np(cell)
        # the cell is among its parent's children
        kids = hx.children_np(par)
        assert cell[0] in kids[0]
        # every child maps back to the parent
        assert (hx.parent_np(kids.ravel()) == par[0]).all()
        # parent's center re-encoded at the parent res is the parent
        plat, plon = hx.center_np(par)
        assert hx.encode_np(plat, plon, res - 1)[0] == par[0]


@given(
    st.floats(30.0, 30.49),
    st.floats(10.0, 10.49),
    st.floats(30.0, 30.49),
    st.floats(10.0, 10.49),
)
@settings(max_examples=100, deadline=None)
def test_hex_line_invariants(a_lat, a_lon, b_lat, b_lon):
    """Hypothesis sweep of grid paths: endpoints exact, unit-step
    adjacency, length = hex_distance + 1, symmetric length."""
    import numpy as np

    from filda_spark import hex as hx

    offs, cells = hx.line_np(
        np.array([a_lat]), np.array([a_lon]), np.array([b_lat]), np.array([b_lon]), 7
    )
    seg = cells[offs[0] : offs[1]]
    ca = hx.encode_np(np.array([a_lat]), np.array([a_lon]), 7)[0]
    cb = hx.encode_np(np.array([b_lat]), np.array([b_lon]), 7)[0]
    assert seg[0] == ca and seg[-1] == cb
    d = hx.hex_distance_np(np.array([ca]), np.array([cb]))[0]
    assert len(seg) == d + 1
    if len(seg) > 1:
        assert (hx.hex_distance_np(seg[:-1], seg[1:]) == 1).all()
    # reverse path has the same length
    offs_r, cells_r = hx.line_np(
        np.array([b_lat]), np.array([b_lon]), np.array([a_lat]), np.array([a_lon]), 7
    )
    assert offs_r[1] - offs_r[0] == len(seg)


# round-4 continuation ops: engine-math twins ---------------------------------


def test_marching_squares_case_table_exhaustive():
    """For every case 1..14 the segment table must use exactly the edges
    whose two adjacent corners straddle the contour, each crossed edge
    exactly once — the defining property of marching squares. Exhaustive
    (16 cases), not sampled."""
    from filda_spark.relational import _MS_SEGS

    # corner bits: v00=1 (y=0,x=0), v10=2 (0,1), v11=4 (1,1), v01=8 (1,0)
    # edge -> the two corner weights it connects
    edge_corners = {0: (1, 2), 1: (2, 4), 2: (4, 8), 3: (8, 1)}
    segs_by_case: dict[int, list[tuple[int, int]]] = {}
    for case_id, _seg_idx, ea, eb in _MS_SEGS:
        segs_by_case.setdefault(case_id, []).append((ea, eb))
    for case in range(16):
        crossed = {
            e
            for e, (ca, cb) in edge_corners.items()
            if bool(case & ca) != bool(case & cb)
        }
        used = [e for seg in segs_by_case.get(case, []) for e in seg]
        if case in (0, 15):
            assert not used
        else:
            assert sorted(used) == sorted(crossed), (case, used, crossed)
            assert len(used) == len(set(used))


@settings(max_examples=200, deadline=None)
@given(
    st.floats(-20, 20), st.floats(-15, 15),   # segment start
    st.floats(-0.9, 0.9), st.floats(-0.8, 0.8),  # extent (op's max)
    st.floats(-36, 36), st.floats(-15, 15),   # point
)
def test_snap_cover_lemma(x1, y1, dx, dy, px, py):
    """The cell-cover exactness proof behind snap_to_segments, numerically:
    whenever the clamped point-to-segment distance is within the snap
    radius, the point's 1-deg cell lies inside the segment's bbox cells
    expanded by 1 — so the cover equi-join can never miss a pair."""
    import math

    l2 = dx * dx + dy * dy
    t = 0.0
    if l2 != 0.0:
        t = ((px - x1) * dx + (py - y1) * dy) / l2
        t = 0.0 if t < 0.0 else (1.0 if t > 1.0 else t)
    d2 = (px - (x1 + t * dx)) ** 2 + (py - (y1 + t * dy)) ** 2
    if d2 <= 0.25:
        assert math.floor(min(x1, x1 + dx)) - 1 <= math.floor(px) <= math.floor(max(x1, x1 + dx)) + 1
        assert math.floor(min(y1, y1 + dy)) - 1 <= math.floor(py) <= math.floor(max(y1, y1 + dy)) + 1


@settings(max_examples=50, deadline=None)
@given(st.lists(st.integers(0, 10**9), min_size=1, max_size=200, unique=True))
def test_bloom_never_false_negative(keys):
    """The Bloom property the pruning join rests on: every inserted key's
    k probe positions are set, for arbitrary key sets — same md5 double
    hashing as the engine/oracle pair."""
    import hashlib

    from filda_spark.relational import _BLOOM_K, _BLOOM_M

    words: dict[int, int] = {}

    def positions(key: int) -> list[int]:
        h = int(hashlib.md5(str(key).encode()).hexdigest()[:15], 16)
        h1, h2 = h % _BLOOM_M, 1 + ((h >> 20) % (_BLOOM_M - 1))
        return [(h1 + i * h2) % _BLOOM_M for i in range(_BLOOM_K)]

    for k in keys:
        for pos in positions(k):
            assert 0 <= pos < _BLOOM_M
            words[pos >> 5] = words.get(pos >> 5, 0) | (1 << (pos % 32))
    assert all(0 < w < (1 << 32) for w in words.values())
    for k in keys:
        assert all(
            words.get(pos >> 5, 0) & (1 << (pos % 32)) for pos in positions(k)
        )


@settings(max_examples=100, deadline=None)
@given(
    st.integers(3, 12),
    st.floats(-80, 80),
    st.floats(-175, 175),
    st.floats(0.5, 20.0),
    st.integers(0, 1),
    st.integers(0, 2**31),
)
def test_shoelace_local_frame_math(nv, clat, clon, rbase, reverse, seed):
    """polygon_stats' integer local-frame shoelace equals arbitrary-
    precision rationals for random convex polygons of either orientation
    (CW reverses the cross-sum sign; centroid must still come out right),
    and every intermediate product stays far inside int64."""
    import math
    from fractions import Fraction

    rng = np.random.default_rng(seed)
    lats, lons = [], []
    for j in range(nv):
        r = rbase * (0.6 + 0.4 * float(rng.random()))
        th = 2 * math.pi * j / nv
        lats.append(round(clat + r * math.sin(th), 4))
        lons.append(round(clon + r * math.cos(th), 4))
    if reverse:
        lats, lons = lats[::-1], lons[::-1]
    iy = [round(v * 10000) for v in lats]
    ix = [round(v * 10000) for v in lons]
    my, mx = min(iy), min(ix)
    ly = [v - my for v in iy]
    lx = [v - mx for v in ix]
    crs = [lx[j] * ly[(j + 1) % nv] - lx[(j + 1) % nv] * ly[j] for j in range(nv)]
    s_cross = sum(crs)
    if s_cross == 0:  # degenerate collinear draw — the op never emits these
        return
    s_cx = sum((lx[j] + lx[(j + 1) % nv]) * crs[j] for j in range(nv))
    s_cy = sum((ly[j] + ly[(j + 1) % nv]) * crs[j] for j in range(nv))
    for v in (s_cross, s_cx, s_cy):
        assert abs(v) < 2**62  # engine headroom: local frame keeps it small
    # the global-frame Fraction ground truth
    g_cross = sum(
        ix[j] * iy[(j + 1) % nv] - ix[(j + 1) % nv] * iy[j] for j in range(nv)
    )
    assert s_cross == g_cross  # shoelace is translation-invariant, exactly
    cx = Fraction(mx, 1) + Fraction(s_cx, 3 * s_cross)
    cy = Fraction(my, 1) + Fraction(s_cy, 3 * s_cross)
    gx = Fraction(
        sum((ix[j] + ix[(j + 1) % nv]) * (ix[j] * iy[(j + 1) % nv] - ix[(j + 1) % nv] * iy[j]) for j in range(nv)),
        3 * g_cross,
    )
    gy = Fraction(
        sum((iy[j] + iy[(j + 1) % nv]) * (ix[j] * iy[(j + 1) % nv] - ix[(j + 1) % nv] * iy[j]) for j in range(nv)),
        3 * g_cross,
    )
    assert cx == gx and cy == gy
