"""Every registered relational operator must match its DuckDB oracle
exactly (the driver's correctness gate, run here at sf0.001 for speed)."""

from __future__ import annotations

import pytest

from filda_spark import relational
from filda_spark import training  # noqa: F401  (registers training-data ops)
from filda_spark.compare import compare, duckdb_con

NAMES = sorted(relational.REGISTRY)


@pytest.fixture(scope="module")
def con(sf_dir):
    c = duckdb_con(sf_dir)
    yield c
    c.close()


@pytest.mark.parametrize("name", NAMES)
def test_oracle_parity(spark, sf_dir, con, name):
    spec = relational.REGISTRY[name]
    if spec.oracle is None:
        df = spec.fn(spark, sf_dir)
        assert df.count() >= 0
        return
    sdf = spec.fn(spark, sf_dir)
    odf = con.sql(spec.oracle).df()
    issues = compare(sdf, odf)
    assert not issues, f"{name}: {issues}"


def test_spatiotemporal_salting_mirrors_pairs(spark):
    """Hot-key salting must be result-invariant: a degenerate (cell,
    time-bucket) — everything co-located at one flare during one bucket —
    split n_salt ways returns EXACTLY the pair set of the unsalted plan
    (round-3 VERDICT next-step #4; same contract as pipeline.dedup's
    (cell, salt) repartition)."""
    from pyspark.sql import functions as F

    # the op derives lat/lon from event_id (id*7919%2000, id*104729%2400):
    # ids congruent mod 12000 map to the IDENTICAL point, so 60 of them in
    # one time bucket make one degenerate (cell, bucket) with 1770 pairs;
    # plus a scattered cold tail that must keep salt 0
    rows = [(7 + k * 12_000, k * 1000) for k in range(60)] + [
        (1_000 + j, 40_000_000 + j * 100_000) for j in range(25)
    ]
    ev = spark.createDataFrame(rows, "event_id long, ms long").select(
        "event_id", F.timestamp_millis(F.col("ms")).alias("ts")
    )
    salted = relational._spatiotemporal_pairs(
        spark, "", pair_cap=100.0, n_salt=4, events=ev
    )
    unsalted = relational._spatiotemporal_pairs(
        spark, "", pair_cap=float("inf"), events=ev
    )
    a = sorted(map(tuple, salted.collect()))
    b = sorted(map(tuple, unsalted.collect()))
    assert len(a) > 0 and a == b


def test_ann_bucket_cap_bounds_degenerate_cluster(spark):
    """A duplicate-embedding cluster larger than ANN_BUCKET_CAP lands in ONE
    bucket per hash table; without the cap the pair join is quadratic in the
    cluster size. The cap must drop those buckets entirely while keeping
    normal-sized buckets intact (round-2 VERDICT weak #2)."""
    import math

    from pyspark.sql import functions as F

    dup = [(i, [0.1] * training.DIM) for i in range(training.ANN_BUCKET_CAP + 50)]
    # distinct unit-ish vectors, one per id, far from the duplicate cluster
    normal = [
        (10_000 + j, [math.sin(0.7 * j + 0.13 * i) for i in range(training.DIM)])
        for j in range(20)
    ]
    df = spark.createDataFrame(dup + normal, "vec_id long, embedding array<double>")
    b = training._bucket_long(df)
    capped = training._cap_buckets(b)
    # every duplicate-cluster row occupies the same bucket in every table ->
    # all its buckets exceed the cap and are dropped
    dup_left = capped.filter(F.col("vec_id") < 10_000).count()
    assert dup_left == 0
    # the normal vectors survive in (most of) their tables — a normal vector
    # that happens to share a hot bucket in one table is dropped only there
    n_normal = capped.filter(F.col("vec_id") >= 10_000).count()
    assert 20 <= n_normal <= 20 * training.N_TABLES
    # and the candidate pair count is bounded: pairs only among survivors
    a = capped.select(F.col("vec_id").alias("vec_a"), "tbl", "bucket")
    c = capped.select(F.col("vec_id").alias("vec_b"), "tbl", "bucket")
    n_pairs = (
        a.join(c, ["tbl", "bucket"]).filter(F.col("vec_a") < F.col("vec_b")).count()
    )
    assert n_pairs <= training.N_TABLES * (20 * 19) // 2


def test_embedding_neardup_seeds_nonvacuous(spark, sf_dir):
    """The seeded near-dup pairs must actually emit (the round-2 oracle was
    hash-parity on an empty result)."""
    from pyspark.sql import functions as F

    out = relational.REGISTRY["embedding_neardup"].fn(spark, sf_dir).collect()
    assert len(out) >= training.NEARDUP_SEEDS
    for r in out:
        assert r.cos >= 0.95
    seeded = {r.vec_a for r in out}
    assert set(range(training.NEARDUP_SEEDS)) <= seeded


def test_hll_estimator_accuracy(spark, sf_dir):
    """The HLL estimate reconstructed from the register output tracks the
    exact distinct count within the p=8 error envelope (~1.04/sqrt(256) =
    6.5% relative standard error; assert 3 sigma)."""
    import numpy as np
    from pyspark.sql import functions as F

    m = relational._HLL_M
    regs = relational.REGISTRY["hll_registers"].fn(spark, sf_dir).collect()
    exact = {
        r.event_type: r.n
        for r in relational._t(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()
    }
    by_group: dict = {}
    for r in regs:
        by_group.setdefault(r.event_type, np.zeros(m, dtype=np.int64))[r.register] = r.max_rho
    alpha = 0.7213 / (1 + 1.079 / m)
    for et, M in by_group.items():
        est = alpha * m * m / np.sum(np.power(2.0, -M.astype(np.float64)))
        zeros = int(np.sum(M == 0))
        if est <= 2.5 * m and zeros > 0:  # small-range (linear counting) correction
            est = m * np.log(m / zeros)
        assert abs(est - exact[et]) / exact[et] < 0.20, (et, est, exact[et])


# Round-4 spatial layout / clustering ops ------------------------------------


def _bisect_geohash(lat, lon, length=6):
    """Independent canonical interval-bisection geohash (the textbook
    algorithm) — the quantize+interleave implementation must match it
    bit-for-bit."""
    b32 = "0123456789bcdefghjkmnpqrstuvwxyz"
    lat_i, lon_i = [-90.0, 90.0], [-180.0, 180.0]
    bits = []
    even = True
    while len(bits) < length * 5:
        iv = lon_i if even else lat_i
        mid = (iv[0] + iv[1]) / 2
        v = lon if even else lat
        # canonical (geohash.org) convention: the midpoint belongs to the
        # UPPER half (>=) — which is exactly what floor-quantization does
        if v >= mid:
            bits.append(1)
            iv[0] = mid
        else:
            bits.append(0)
            iv[1] = mid
        even = not even
    return "".join(
        b32[int("".join(map(str, bits[i * 5 : i * 5 + 5])), 2)] for i in range(length)
    )


def test_geohash_matches_canonical_bisection(spark, sf_dir):
    rows = relational.REGISTRY["geohash_encode"].fn(spark, sf_dir).collect()
    pts = relational._pt_df(spark, sf_dir).collect()
    lookup = {r.event_id: (r.lat, r.lon) for r in pts}
    assert rows
    for r in rows:
        lat, lon = lookup[r.event_id]
        assert r.gh6 == _bisect_geohash(lat, lon), (r.event_id, lat, lon, r.gh6)


def test_zorder_bucket_is_key_prefix_and_local(spark, sf_dir):
    """zbucket must equal the top-10-bit prefix of zkey (range-partition
    nesting: sorting by zkey within zbucket gives the global space-filling
    order), and points in the same bucket must be spatially bounded (the
    locality property the layout exists for)."""
    rows = relational.REGISTRY["zorder_key"].fn(spark, sf_dir).collect()
    pts = {r.event_id: r for r in relational._pt_df(spark, sf_dir).collect()}
    assert rows
    by_bucket: dict = {}
    for r in rows:
        assert 0 <= r.zkey < 1 << 32
        assert r.zbucket == r.zkey >> 22
        by_bucket.setdefault(r.zbucket, []).append(pts[r.event_id])
    # a 10-bit Z prefix fixes 5 bits of each axis -> a cell of
    # 180/32 deg lat x 360/32 deg lon; allow exact bounds
    for bucket, members in by_bucket.items():
        lats = [p.lat for p in members]
        lons = [p.lon for p in members]
        assert max(lats) - min(lats) <= 180.0 / 32 + 1e-9, bucket
        assert max(lons) - min(lons) <= 360.0 / 32 + 1e-9, bucket


def test_tile_pyramid_levels_nest_exactly(spark, sf_dir):
    """Every level-k cell must equal the sum of its (at most 4) level-(k-1)
    children — the pyramid is a lossless rollup, not a resample."""
    rows = relational.REGISTRY["tile_pyramid"].fn(spark, sf_dir).collect()
    by_level: dict = {}
    for r in rows:
        by_level.setdefault(r.level, {})[(r.cy, r.cx)] = (r.n_pts, r.sum_w)
    assert set(by_level) == {0, 1, 2, 3}
    for k in (1, 2, 3):
        for (cy, cx), (n, w) in by_level[k].items():
            child_n = child_w = 0
            for dy in (0, 1):
                for dx in (0, 1):
                    c = by_level[k - 1].get((cy * 2 + dy, cx * 2 + dx))
                    if c:
                        child_n += c[0]
                        child_w += c[1]
            assert (child_n, child_w) == (n, w), (k, cy, cx)


def test_dbscan_micro_semantics(spark, tmp_path):
    """Constructed micro-case exercising every classification: a 5-point
    dense blob -> all core, one cluster labeled by the min id; a bridge
    point within eps of the whole blob -> core, same cluster; a tail point
    whose ONLY neighbor is the bridge -> border (non-core, adopts the
    cluster); two isolated in-window points -> noise (dropped). All
    coordinates sit INSIDE the lat/lon analysis window so the window
    filter cannot mask a regression (round-4 review finding: the previous
    fixture's 'noise' points were window-filtered before DBSCAN ran)."""
    import pandas as pd

    # geometry (eps=0.2, minPts=4):
    #   blob 1-5 within 0.03 of each other; bridge 10 at 0.13-0.16 from
    #   every blob point (6 neighbors -> core); tail 11 at 0.19 from the
    #   bridge and >0.3 from the blob (1 neighbor -> border); 20/30 are
    #   in-window but >4*eps from everything (0 neighbors -> noise)
    pts = pd.DataFrame(
        {
            "event_id": [1, 2, 3, 4, 5, 10, 11, 20, 30],
            "lat": [0.0, 0.01, 0.02, 0.0, 0.01, 0.15, 0.34, 3.0, 3.0],
            "lon": [0.0, 0.01, 0.0, 0.02, 0.02, 0.0, 0.0, 12.0, 12.9],
        }
    )
    sdf = spark.createDataFrame(pts)
    # all fixture points are inside the analysis window
    assert (pts.lat < relational._DB_LAT_MAX).all()
    assert (pts.lon < relational._DB_LON_MAX).all()
    orig = relational._pt_df
    try:
        relational._pt_df = lambda _spark, _sf: sdf
        out = relational.REGISTRY["dbscan_clusters"].fn(spark, "unused").collect()
    finally:
        relational._pt_df = orig
    got = {r.event_id: (r.cluster, r.is_core) for r in out}
    for e in (1, 2, 3, 4, 5):
        assert got[e] == (1, True), got
    assert got[10] == (1, True), got  # bridge: core, joined the blob
    assert got[11] == (1, False), got  # tail: border via the bridge
    assert 20 not in got and 30 not in got, got  # in-window noise dropped


def test_layout_ops_plan_shape(spark, sf_dir):
    """zorder_key / geohash_encode must be pure map plans (0 Exchange, 0
    Python nodes); tile_pyramid exactly one Exchange (the single grouped
    rollup across all levels)."""
    for name, want_exch in (("zorder_key", 0), ("geohash_encode", 0), ("tile_pyramid", 1)):
        plan = (
            relational.REGISTRY[name]
            .fn(spark, sf_dir)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        n_exch = plan.count("Exchange hashpartitioning") + plan.count(
            "Exchange rangepartitioning"
        )
        n_py = (
            plan.count("ArrowEvalPython")
            + plan.count("MapInPandas")
            + plan.count("BatchEvalPython")
        )
        assert n_exch == want_exch, (name, plan)
        assert n_py == 0, (name, plan)


def test_dbscan_block_salting_result_invariant(spark, sf_dir):
    """The hot-block sub-salting guard must be result-invariant: the union
    of per-group spanning forests preserves connectivity under ANY edge
    grouping, so a tiny edge cap (forcing many sub-groups per block) must
    yield exactly the default clustering."""
    base = {
        (r.event_id, r.cluster, r.is_core)
        for r in relational.REGISTRY["dbscan_clusters"].fn(spark, sf_dir).collect()
    }
    salted = {
        (r.event_id, r.cluster, r.is_core)
        for r in relational.dbscan_clusters(spark, sf_dir, block_edge_cap=10).collect()
    }
    assert base == salted and base


def test_getis_ord_hot_cell_scores_highest(spark, sf_dir):
    """A dense blob must produce the maximum Gi* z-score at its cell, and
    the z-scores must be standardized (mean near 0 across cells)."""
    import numpy as np

    rows = relational.REGISTRY["getis_ord_gi"].fn(spark, sf_dir).collect()
    assert rows
    zs = np.array([r.gi_z for r in rows])
    # standardization sanity: neighborhood-mean z over all cells ~ 0
    assert abs(zs.mean()) < 0.5
    # among FULL 3x3 neighborhoods (wn=9: identical denominator) the
    # z-ranking must equal the raw neighborhood-sum ranking, and the
    # densest full neighborhood must be significantly hot (z > 1)
    full = [r for r in rows if r.wn == 9]
    assert full
    best = max(full, key=lambda r: r.gi_z)
    assert best.wx == max(r.wx for r in full)
    assert best.gi_z > 1.0


def test_mann_kendall_monotone_series(spark):
    """A cell with strictly rising per-bucket counts must score the maximum
    possible S (+n_pairs); strictly falling, the minimum (-n_pairs)."""
    from pyspark.sql import functions as F

    # event_id == 0 -> lat 0, lon 10 (cell A); event_id == 12000k -> same
    # point, so choose two distinct ids whose positions differ:
    # id 1 -> (79.19 % 20 = ...) use the synthesis directly to place ids.
    # Rising cell: k events in bucket b at a fixed id (same position);
    # Falling cell: use an id with a different position.
    span = 8_000_000  # ms; buckets = [floor((t-t0)/(t1-t0)*8)]
    rows = []
    # id 0 -> lat 0.00 lon 10.00; rising counts 1,2,...,8
    for b in range(8):
        for _ in range(b + 1):
            rows.append((0, b * 1_000_000 + 10))
    # id 600 -> different cell; falling counts 8,...,1
    for b in range(8):
        for _ in range(8 - b):
            rows.append((600, b * 1_000_000 + 10))
    # pin the global time bounds
    rows.append((0, 0))
    rows.append((600, span - 1))
    ev = spark.createDataFrame(rows, "event_id long, ms long").select(
        "event_id", F.timestamp_millis(F.col("ms")).alias("ts")
    )
    out = {
        (r.cy, r.cx): (r.s_stat, r.n_pairs)
        for r in relational.mann_kendall_trend(spark, "", events=ev).collect()
    }
    lat0 = (0 * 7919 % 2000) / 100.0
    lon0 = (0 * 104729 % 2400) / 100.0 + 10.0
    lat6 = (600 * 7919 % 2000) / 100.0
    lon6 = (600 * 104729 % 2400) / 100.0 + 10.0
    cell0 = (int(lat0 // 0.5), int(lon0 // 0.5))
    cell6 = (int(lat6 // 0.5), int(lon6 // 0.5))
    assert cell0 != cell6
    s0, n0 = out[cell0]
    s6, n6 = out[cell6]
    # rising: every ordered pair is +1 except ties involving the pinned
    # bound event in bucket 0 (count 1+1=2 vs bucket 1 count 2 -> one tie)
    assert s0 > 0 and s6 < 0
    assert s0 >= n0 - 2 and s6 <= -(n6 - 2)


def test_zorder_layout_prunes_files(spark, sf_dir, tmp_path):
    """The layout claim behind zorder_key: range-partitioning by zbucket +
    sorting by zkey clusters spatially adjacent rows into the same files,
    so a bbox query's lat/lon predicate can skip most files on min/max
    stats (Iceberg data-file pruning / parquet row-group pruning). A
    hash-partitioned layout of the SAME rows must touch ~every file."""
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    keyed = relational.REGISTRY["zorder_key"].fn(spark, sf_dir)
    pts = relational._pt_df(spark, sf_dir)
    df = pts.join(keyed, "event_id")

    hashed = str(tmp_path / "hashed")
    zordered = str(tmp_path / "zordered")
    df.repartition(32, "event_id").write.mode("overwrite").parquet(hashed)
    (
        df.repartitionByRange(32, "zbucket", "zkey")
        .sortWithinPartitions("zkey")
        .write.mode("overwrite")
        .parquet(zordered)
    )

    bbox = dict(lat0=2.0, lat1=4.0, lon0=12.0, lon1=14.0)  # ~2% of the domain

    def files_touched(path):
        import glob

        touched = total = 0
        for f in glob.glob(f"{path}/*.parquet"):
            md = pq.ParquetFile(f).metadata
            fmin = {c: None for c in ("lat", "lon")}
            fmax = {c: None for c in ("lat", "lon")}
            for rg in range(md.num_row_groups):
                for ci in range(md.num_columns):
                    col = md.row_group(rg).column(ci)
                    name = col.path_in_schema
                    if name in fmin and col.statistics is not None:
                        mn, mx = col.statistics.min, col.statistics.max
                        fmin[name] = mn if fmin[name] is None else min(fmin[name], mn)
                        fmax[name] = mx if fmax[name] is None else max(fmax[name], mx)
            total += 1
            if (
                fmax["lat"] >= bbox["lat0"]
                and fmin["lat"] < bbox["lat1"]
                and fmax["lon"] >= bbox["lon0"]
                and fmin["lon"] < bbox["lon1"]
            ):
                touched += 1
        return touched, total

    t_hash, n_hash = files_touched(hashed)
    t_z, n_z = files_touched(zordered)
    # sanity: both layouts return identical query results
    q = (
        (F.col("lat") >= bbox["lat0"]) & (F.col("lat") < bbox["lat1"])
        & (F.col("lon") >= bbox["lon0"]) & (F.col("lon") < bbox["lon1"])
    )
    assert (
        spark.read.parquet(hashed).filter(q).count()
        == spark.read.parquet(zordered).filter(q).count()
        > 0
    )
    # the hash layout spreads the bbox across ~all files; the z layout
    # confines it to a small fraction
    assert t_hash >= n_hash * 3 // 4, (t_hash, n_hash)
    assert t_z <= max(2, n_z // 8), (t_z, n_z)


def test_interleave_ops_full_domain(spark):
    """The corpus synthesis only exercises lat 0..20, lon 10..34 (one
    quadrant); the quantize+interleave ladder must hold over the FULL
    domain — negative coordinates (floor semantics), the poles, the
    antimeridian, and the exact clamp boundary — for both the Morton key
    and the geohash."""
    import numpy as np
    import pandas as pd

    rng = np.random.default_rng(42)
    lat = np.concatenate(
        [rng.uniform(-90, 90, 400), [-90.0, 90.0, 0.0, -0.0001, 89.9999]]
    )
    lon = np.concatenate(
        [rng.uniform(-180, 180, 400), [-180.0, 179.9999, 0.0, -0.0001, 180.0 - 1e-9]]
    )
    pts = pd.DataFrame(
        {"event_id": np.arange(len(lat), dtype=np.int64), "lat": lat, "lon": lon}
    )
    sdf = spark.createDataFrame(pts)
    orig = relational._pt_df
    try:
        relational._pt_df = lambda _spark, _sf: sdf
        zk = {r.event_id: (r.zkey, r.zbucket) for r in
              relational.REGISTRY["zorder_key"].fn(spark, "unused").collect()}
        gh = {r.event_id: r.gh6 for r in
              relational.REGISTRY["geohash_encode"].fn(spark, "unused").collect()}
    finally:
        relational._pt_df = orig

    def spread(v):
        v = (v | (v << 8)) & 0x00FF00FF
        v = (v | (v << 4)) & 0x0F0F0F0F
        v = (v | (v << 2)) & 0x33333333
        v = (v | (v << 1)) & 0x55555555
        return v

    import math

    for i in range(len(lat)):
        la, lo = float(lat[i]), float(lon[i])
        qy = min(int(math.floor((la + 90.0) / 180.0 * 65536.0)), 65535)
        qx = min(int(math.floor((lo + 180.0) / 360.0 * 65536.0)), 65535)
        want = (spread(qx) << 1) | spread(qy)
        assert zk[i] == (want, want >> 22), (i, la, lo, zk[i], want)
        assert gh[i] == _bisect_geohash(la, lo), (i, la, lo, gh[i])


def test_geohash_decode_roundtrip(spark, sf_dir):
    """decode(encode(p)) must recover exactly the quantized axes of p, and
    the emitted cell center must be within half a cell of the original
    point (the lossless round trip at the 15-bit grid)."""
    import math

    pts = {r.event_id: (r.lat, r.lon) for r in relational._pt_df(spark, sf_dir).collect()}
    rows = relational.REGISTRY["geohash_decode"].fn(spark, sf_dir).collect()
    assert rows
    half_lat, half_lon = 180.0 / 32768 / 2, 360.0 / 32768 / 2
    for r in rows:
        lat, lon = pts[r.event_id]
        assert r.qy15 == min(int(math.floor((lat + 90.0) / 180.0 * 32768.0)), 32767)
        assert r.qx15 == min(int(math.floor((lon + 180.0) / 360.0 * 32768.0)), 32767)
        assert abs(r.cell_lat - lat) <= half_lat + 1e-9
        assert abs(r.cell_lon - lon) <= half_lon + 1e-9


def test_stay_points_semantics_and_plan(spark, sf_dir):
    """Segments must break exactly at >0.5-deg jumps, short runs must be
    filtered, and the whole op must ride ONE per-entity exchange (lag +
    running-sum windows share the partitioning; sessionize's shape)."""
    rows = relational.REGISTRY["stay_points"].fn(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r.n_fixes >= relational._STAY_MIN_N
        assert r.t_end >= r.t_start
        # a dwell's spatial extent is bounded by the per-fix wobble
        # (<= 0.006/0.004 deg) — far below the jump threshold
        assert r.lat_max - r.lat_min <= relational._STAY_JUMP
        assert r.lon_max - r.lon_min <= relational._STAY_JUMP
    plan = (
        relational.REGISTRY["stay_points"]
        .fn(spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_count_min_point_query_guarantee(spark, sf_dir):
    """CMS invariants: (a) a point query (min over the d rows at the
    entity's columns) NEVER underestimates the true count; (b) each row's
    register sum equals the total item count (mass conservation); (c) the
    heavy hitter's estimate is tight (collision overhead << its count)."""
    import hashlib

    from pyspark.sql import functions as F

    regs = {}
    for r in relational.REGISTRY["count_min_registers"].fn(spark, sf_dir).collect():
        regs[(r.hrow, r.col)] = r.cnt
    exact = {
        r.user_id: r.n
        for r in relational._t(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    total = sum(exact.values())
    for hrow in range(relational._CMS_D):
        assert sum(c for (d_, _), c in regs.items() if d_ == hrow) == total

    def cols(uid):
        return [
            int(hashlib.md5(f"{i}:{uid}".encode()).hexdigest()[:15], 16)
            % relational._CMS_W
            for i in range(relational._CMS_D)
        ]

    errs = []
    for uid, n in exact.items():
        est = min(regs.get((i, c), 0) for i, c in enumerate(cols(uid)))
        assert est >= n, (uid, est, n)
        errs.append(est - n)
    # average collision overhead ~ total/w per row; min over d rows is
    # far below that — assert a generous multiple
    assert sum(errs) / len(errs) <= 3 * total / relational._CMS_W


def test_tile_pyramid_negative_cells_nest(spark):
    """Below the equator / west of Greenwich the base cells are negative;
    parent = child >> 1 is an ARITHMETIC shift (floor division) on both
    engines, so nesting must hold across the sign boundary too (the
    synthesis corpus never exercises negatives)."""
    import numpy as np
    import pandas as pd

    rng = np.random.default_rng(7)
    pts = pd.DataFrame(
        {
            "event_id": np.arange(600, dtype=np.int64),
            "lat": rng.uniform(-30, 5, 600),
            "lon": rng.uniform(-40, 5, 600),
        }
    )
    sdf = spark.createDataFrame(pts)
    orig = relational._pt_df
    try:
        relational._pt_df = lambda _spark, _sf: sdf
        rows = relational.REGISTRY["tile_pyramid"].fn(spark, "unused").collect()
    finally:
        relational._pt_df = orig
    by_level: dict = {}
    for r in rows:
        by_level.setdefault(r.level, {})[(r.cy, r.cx)] = (r.n_pts, r.sum_w)
    assert any(cy < 0 for cy, _ in by_level[0])  # negatives actually present
    for k in (1, 2, 3):
        for (cy, cx), (n, w) in by_level[k].items():
            child_n = child_w = 0
            for dy in (0, 1):
                for dx in (0, 1):
                    c = by_level[k - 1].get((cy * 2 + dy, cx * 2 + dx))
                    if c:
                        child_n += c[0]
                        child_w += c[1]
            assert (child_n, child_w) == (n, w), (k, cy, cx)
    # level-0 totals match the input size
    assert sum(v[0] for v in by_level[0].values()) == len(pts)


def test_kmv_set_ops_estimator_accuracy(spark, sf_dir):
    """The union/intersection estimates must track the exact set sizes
    within the k=64 KMV error envelope (~1/sqrt(k) = 12.5% RSE; assert a
    generous 3-sigma band), and the k-min window must actually be global
    (kth_union is the 64th smallest hash over A∪B)."""
    from pyspark.sql import functions as F

    row = relational.REGISTRY["kmv_set_ops"].fn(spark, sf_dir).collect()[0]
    ev = relational._t(spark, sf_dir, "events")
    a = {r.user_id for r in ev.filter(F.col("event_type") == "click").select("user_id").distinct().collect()}
    b = {r.user_id for r in ev.filter(F.col("event_type") == "purchase").select("user_id").distinct().collect()}
    true_union, true_inter = len(a | b), len(a & b)
    assert abs(row.est_union - true_union) / true_union < 0.40
    assert abs(row.est_intersection - true_inter) / true_inter < 0.60
    import hashlib

    hashes = sorted(
        int(hashlib.md5(str(u).encode()).hexdigest()[:15], 16) for u in (a | b)
    )
    assert row.kth_union == hashes[relational._KSO_K - 1]


def test_cusum_detects_level_shift(spark):
    """A constructed cell whose counts step up mid-series must score a
    large cusum_up and ~zero cusum_dn; a stepping-down cell the reverse;
    a flat cell ~zero both. Uses the events= injection with event_ids
    placed so each series lands in a distinct cell."""
    from pyspark.sql import functions as F

    span = 8_000_000
    rows = []
    # id 0 -> cell A: counts 1,1,1,1,9,9,9,9 (step up at bucket 4)
    for b in range(8):
        for _ in (range(9) if b >= 4 else range(1)):
            rows.append((0, b * 1_000_000 + 5))
    # id 600 -> cell B: counts 9,9,9,9,1,1,1,1 (step down)
    for b in range(8):
        for _ in (range(1) if b >= 4 else range(9)):
            rows.append((600, b * 1_000_000 + 5))
    # id 1200 -> cell C: flat 5 per bucket
    for b in range(8):
        for _ in range(5):
            rows.append((1200, b * 1_000_000 + 5))
    rows.append((0, 0))
    rows.append((0, span - 1))
    ev = spark.createDataFrame(rows, "event_id long, ms long").select(
        "event_id", F.timestamp_millis(F.col("ms")).alias("ts")
    )
    out = {
        (r.cy, r.cx): (r.cusum_up, r.cusum_dn)
        for r in relational.cusum_changepoint(spark, "", events=ev).collect()
    }

    def cell(eid):
        lat = (eid * 7919 % 2000) / 100.0
        lon = (eid * 104729 % 2400) / 100.0 + 10.0
        return (int(lat // relational._GI_CELL), int(lon // relational._GI_CELL))

    up_u, dn_u = out[cell(0)]
    up_d, dn_d = out[cell(600)]
    up_f, dn_f = out[cell(1200)]
    assert up_u > 10 and up_u > 3 * dn_u, (up_u, dn_u)
    assert dn_d > 10 and dn_d > 3 * up_d, (up_d, dn_d)
    assert up_f < 2 and dn_f < 2, (up_f, dn_f)


def test_bloom_no_false_negatives_and_flagged_fps(spark, sf_dir):
    """Bloom contract: every true member key passes the filter (zero false
    negatives — the sketch's hard guarantee); any extra survivor is a
    false positive and must carry true_member=false; survivors are a
    small superset (FPR at m=65536/k=4 is << 1% at these key counts)."""
    from pyspark.sql import functions as F

    members = {
        r.o_custkey
        for r in relational._t(spark, sf_dir, "orders")
        .filter(F.expr(relational._BLOOM_PRED))
        .select("o_custkey")
        .distinct()
        .collect()
    }
    out = {
        r.c_custkey: r.true_member
        for r in relational.REGISTRY["bloom_semi_prune"].fn(spark, sf_dir).collect()
    }
    assert members <= set(out), "bloom dropped a true member (impossible)"
    for k in members:
        assert out[k] is True
    fps = [k for k, v in out.items() if not v]
    assert set(k for k, v in out.items() if v) == members
    n_probe = relational._t(spark, sf_dir, "customer").count()
    assert len(fps) <= max(5, 0.02 * (n_probe - len(members))), fps


def test_bloom_registers_match_reference_bits(spark, sf_dir):
    """Register words equal a single-node reference Bloom build (md5 double
    hashing re-derived in Python), and every word value is a positive
    BIGINT (32-bit words leave the sign bit clear on both engines)."""
    import hashlib

    from pyspark.sql import functions as F

    got = {
        (r.o_orderstatus, r.word): r.bits
        for r in relational.REGISTRY["bloom_registers"].fn(spark, sf_dir).collect()
    }
    assert all(0 < b < (1 << 32) for b in got.values())
    ref: dict[tuple[str, int], int] = {}
    keys = (
        relational._t(spark, sf_dir, "orders")
        .select("o_orderstatus", "o_custkey")
        .distinct()
        .collect()
    )
    m, k = relational._BLOOM_M, relational._BLOOM_K
    for r in keys:
        h = int(hashlib.md5(str(r.o_custkey).encode()).hexdigest()[:15], 16)
        h1, h2 = h % m, 1 + ((h >> 20) % (m - 1))
        for i in range(k):
            pos = (h1 + i * h2) % m
            key = (r.o_orderstatus, pos >> 5)
            ref[key] = ref.get(key, 0) | (1 << (pos % 32))
    assert got == ref


def test_snap_to_segments_matches_brute_force(spark, sf_dir):
    """The cell-cover equi-join finds exactly the brute-force nearest
    segment within the snap radius for every point (cover exactness), and
    the clamped projection parameter t stays in [0, 1]."""
    out = {
        r.c_custkey: (r.seg_id, r.t, r.d2)
        for r in relational.REGISTRY["snap_to_segments"].fn(spark, sf_dir).collect()
    }
    custs = [
        r.c_custkey
        for r in relational._t(spark, sf_dir, "customer")
        .select("c_custkey")
        .collect()
    ]
    segs = [
        (
            r.s_suppkey,
            (r.s_suppkey * 13 % 400) / 10.0 - 20.0,
            (r.s_suppkey * 29 % 300) / 10.0 - 15.0,
            (r.s_suppkey * 7 % 19 - 9) / 10.0,
            (r.s_suppkey * 11 % 17 - 8) / 10.0,
        )
        for r in relational._t(spark, sf_dir, "supplier")
        .select("s_suppkey")
        .collect()
    ]
    ref = {}
    for ck in custs:
        py = (ck * 37 % 300) / 10.0 - 15.0
        px = (ck * 73 % 720) / 10.0 - 36.0
        best = None
        for sid, x1, y1, dx, dy in segs:
            l2 = dx * dx + dy * dy
            t = 0.0 if l2 == 0.0 else (px - x1) * dx + (py - y1) * dy
            if l2 != 0.0:
                t = t / l2
                t = 0.0 if t < 0.0 else (1.0 if t > 1.0 else t)
            d2 = (px - (x1 + t * dx)) ** 2 + (py - (y1 + t * dy)) ** 2
            if d2 <= relational._SNAP_R2 and (
                best is None or (d2, sid) < (best[1], best[0])
            ):
                best = (sid, d2)
        if best is not None:
            ref[ck] = best[0]
    assert {k: v[0] for k, v in out.items()} == ref
    assert all(0.0 <= t <= 1.0 for _, t, _ in out.values())


def test_grid_contour_separates_inside_outside(spark, sf_dir):
    """Marching-squares invariants: every emitted segment sits on a block
    whose 4 corners are genuinely mixed (case 1..14, never 0/15); endpoint
    coordinates are edge midpoints of that block in 2x units; and the
    contour is 'closed' in the weak sense that every non-saddle case emits
    exactly one segment and the saddles exactly two."""
    from collections import Counter

    from pyspark.sql import functions as F

    rows = relational.REGISTRY["grid_contour"].fn(spark, sf_dir).collect()
    assert rows, "contour is vacuous"
    cells = {
        (r.cy, r.cx): r.x
        for r in relational._pt_df(spark, sf_dir)
        .select(
            F.floor(F.col("lat") / relational._GI_CELL).alias("cy"),
            F.floor(F.col("lon") / relational._GI_CELL).alias("cx"),
        )
        .groupBy("cy", "cx")
        .agg(F.count(F.lit(1)).alias("x"))
        .collect()
    }

    def inside(cy, cx):
        return cells.get((cy, cx), 0) >= relational._MS_T

    per_block = Counter()
    for r in rows:
        bits = (
            1 * inside(r.gy, r.gx)
            + 2 * inside(r.gy, r.gx + 1)
            + 4 * inside(r.gy + 1, r.gx + 1)
            + 8 * inside(r.gy + 1, r.gx)
        )
        assert bits == r.case_id and 1 <= bits <= 14
        per_block[(r.gy, r.gx)] += 1
        for x, y in ((r.x1, r.y1), (r.x2, r.y2)):
            # edge midpoints: exactly one coordinate is odd (the midpoint
            # axis), the other is an even block-corner coordinate
            assert (x - 2 * r.gx, y - 2 * r.gy) in {(1, 0), (2, 1), (1, 2), (0, 1)}
    for (gy, gx), n in per_block.items():
        case = (
            1 * inside(gy, gx)
            + 2 * inside(gy, gx + 1)
            + 4 * inside(gy + 1, gx + 1)
            + 8 * inside(gy + 1, gx)
        )
        assert n == (2 if case in (5, 10) else 1)


def test_polygon_stats_matches_shoelace_reference(spark):
    """The scaled-integer shoelace path is EXACT: area and centroid for
    every zone equal an arbitrary-precision Fraction computation over the
    same 1e-4-deg integer vertices (to the op's final 1e-9 rounding), and
    all four bbox fields equal the vertex extrema exactly."""
    from fractions import Fraction

    from filda_spark.spatial import demo_zones

    out = {
        r.zone_id: r
        for r in relational.REGISTRY["polygon_stats"].fn(spark, "").collect()
    }
    assert len(out) == len(demo_zones())
    for z in demo_zones():
        ix = [round(v * 10000) for v in z["lon"]]
        iy = [round(v * 10000) for v in z["lat"]]
        n = len(ix)
        crs = [
            ix[j] * iy[(j + 1) % n] - ix[(j + 1) % n] * iy[j] for j in range(n)
        ]
        a2 = sum(crs)
        cx = Fraction(
            sum((ix[j] + ix[(j + 1) % n]) * crs[j] for j in range(n)), 3 * a2
        )
        cy = Fraction(
            sum((iy[j] + iy[(j + 1) % n]) * crs[j] for j in range(n)), 3 * a2
        )
        r = out[z["zone_id"]]
        # exact up to the op's final float division + 1e-9 rounding
        assert abs(r.area_deg2 - abs(Fraction(a2, 2)) / 10**8) < 1.5e-9
        assert abs(r.c_lon - cx / 10**4) < 1.5e-9
        assert abs(r.c_lat - cy / 10**4) < 1.5e-9
        assert r.lat_min == min(z["lat"]) and r.lat_max == max(z["lat"])
        assert r.lon_min == min(z["lon"]) and r.lon_max == max(z["lon"])


def test_emerging_hotspots_consistent_with_parts(spark, sf_dir):
    """Each cell's category re-derives from its own gi_z and s_stat, and
    at the correctness SF all six categories (incl. 'none') are
    populated — the classifier is non-vacuous on every branch.

    NaN ordering: both Spark and DuckDB compare NaN GREATER than every
    value, so a NaN gi_z (degenerate grid with zero variance) takes the
    hot branch in BOTH engines — the reference below mirrors that, where
    naive Python ``nan > x`` (False) would diverge."""
    import math

    rows = relational.REGISTRY["emerging_hotspots"].fn(spark, sf_dir).collect()
    cats = set()
    for r in rows:
        z, s = r.gi_z, r.s_stat
        z_hot = z is not None and (math.isnan(z) or z > relational._EH_Z)
        z_cold = (
            z is not None and not math.isnan(z) and z < -relational._EH_Z
        )
        if z_hot:
            want = (
                "intensifying"
                if s > relational._EH_S
                else ("diminishing" if s < -relational._EH_S else "persistent")
            )
        elif s > relational._EH_S:
            want = "emerging"
        elif z_cold:
            want = "coldspot"
        else:
            want = "none"
        assert r.category == want, (r, want)
        cats.add(r.category)
    if sf_dir.endswith("0.01"):
        assert cats == {
            "intensifying", "diminishing", "persistent",
            "emerging", "coldspot", "none",
        }


def test_local_moran_quadrants_and_sign(spark, sf_dir):
    """LISA semantics: the statistic's sign must agree with the cluster
    quadrant (HH/LL => positive autocorrelation, HL/LH => negative), and
    among full 8-neighborhoods the densest cell must sit in HH with a
    positive I (the dense blob is surrounded by dense neighbors)."""
    rows = relational.REGISTRY["local_moran"].fn(spark, sf_dir).collect()
    assert rows
    for r in rows:
        if r.quadrant in ("HH", "LL"):
            assert r.lisa_i >= 0, (r.cy, r.cx, r.quadrant, r.lisa_i)
        elif r.quadrant in ("HL", "LH"):
            assert r.lisa_i <= 0, (r.cy, r.cx, r.quadrant, r.lisa_i)
    full = [r for r in rows if r.wn == 8]
    assert full
    # cells exist in both positive- and negative-association quadrants on
    # the real corpus (the test corpus is non-degenerate)
    assert {r.quadrant for r in rows} >= {"HH", "LL"}


def test_log_quantiles_error_bound(spark, sf_dir):
    """The sketch estimate must be a lower bound of the exact quantile and
    within the bucket's guaranteed 12.5% relative width (+ the 0.01 cent
    quantization), for every (event_type, p)."""
    import numpy as np
    import pandas as pd

    est = {
        (r.event_type, r.p): r.est_value
        for r in relational.REGISTRY["log_quantiles"].fn(spark, sf_dir).collect()
    }
    assert est
    ev = pd.read_parquet(f"{sf_dir}/events.parquet")[["event_type", "value"]]
    for (etype, p), e in est.items():
        vals = np.sort(ev.loc[ev.event_type == etype, "value"].to_numpy())
        rank = int(np.ceil(p * len(vals)))  # 1-based rank, mirrors the op
        vq = vals[rank - 1]
        assert e <= vq + 1e-9, (etype, p, e, vq)
        assert vq <= e * 1.13 + 0.02, (etype, p, e, vq)
    # p is monotone within each event_type
    for etype in ev.event_type.unique():
        ps = sorted(pp for (t, pp) in est if t == etype)
        got = [est[(etype, pp)] for pp in ps]
        assert got == sorted(got), (etype, got)


def test_slope_aspect_consistency(spark, sf_dir):
    """slope must equal sqrt(gx^2+gy^2)/8 (rounded), the aspect sector
    must agree with the gradient signs, and every returned cell must be an
    interior cell of the inhabited set (all 8 neighbors present)."""
    import math

    rows = relational.REGISTRY["slope_aspect"].fn(spark, sf_dir).collect()
    assert rows
    inhabited = {
        (r.cy, r.cx)
        for r in relational._cell_counts(spark, sf_dir).collect()
    }
    for r in rows:
        assert abs(r.slope - round(math.sqrt(r.gx**2 + r.gy**2) / 8.0, 6)) < 1e-12
        if r.aspect == "FLAT":
            assert r.gx == 0 and r.gy == 0
        else:
            if "E" in r.aspect:
                assert r.gx > 0
            if "W" in r.aspect:
                assert r.gx < 0
            if "N" in r.aspect:
                assert r.gy > 0
            if "S" in r.aspect:
                assert r.gy < 0
            if len(r.aspect) == 1:  # cardinal => strictly dominant axis
                dom = abs(r.gx) > abs(r.gy) if r.aspect in "EW" else abs(r.gy) > abs(r.gx)
                assert dom, (r.aspect, r.gx, r.gy)
        for dy in (-1, 0, 1):
            for dx in (-1, 0, 1):
                assert (r.cy + dy, r.cx + dx) in inhabited


def _pr_edges(sf_dir):
    import pandas as pd

    li = pd.read_parquet(f"{sf_dir}/lineitem.parquet", columns=["l_orderkey", "l_partkey"])
    u = (li.l_orderkey % relational._PR_N).to_numpy()
    v = (li.l_partkey % relational._PR_N).to_numpy()
    return {(a, b) for a, b in zip(u.tolist(), v.tolist()) if a != b}


def test_triangle_count_matches_brute_force(spark, sf_dir):
    """Per-node counts must equal an adjacency-set brute force, and the
    global sum must be exactly 3x the number of distinct triangles."""
    und = {(min(a, b), max(a, b)) for a, b in _pr_edges(sf_dir)}
    adj = {}
    for a, b in und:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    tris = {
        tuple(sorted((a, b, c)))
        for a, b in und
        for c in adj[a] & adj[b]
    }
    want = {}
    for t in tris:
        for n in t:
            want[n] = want.get(n, 0) + 1
    got = {
        r.node: r.n_tri
        for r in relational.REGISTRY["triangle_count"].fn(spark, sf_dir).collect()
    }
    assert got == want
    assert sum(got.values()) == 3 * len(tris)


def test_sssp_matches_dijkstra(spark, sf_dir):
    """The 6-round Bellman-Ford must have converged on this graph (round 6
    == round 7 in a python mirror) and must then equal true shortest
    paths from the min node id (heap Dijkstra reference)."""
    import heapq

    edges = {}
    for a, b in _pr_edges(sf_dir):
        edges.setdefault(a, []).append((b, 1 + (a + b) % 5))
    nodes = set(edges) | {b for outs in edges.values() for b, _ in outs}
    src = min(nodes)

    def bf(rounds):
        d = {src: 0}
        for _ in range(rounds):
            nd = dict(d)
            for a, outs in edges.items():
                if a in d:
                    for b, w in outs:
                        if b not in nd or d[a] + w < nd[b]:
                            nd[b] = min(nd.get(b, d[a] + w), d[a] + w)
            d = nd
        return d

    assert bf(6) == bf(7), "fixture graph no longer converges in 6 rounds"
    dist, pq = {src: 0}, [(0, src)]
    while pq:
        dd, a = heapq.heappop(pq)
        if dd > dist.get(a, 1 << 60):
            continue
        for b, w in edges.get(a, []):
            if dd + w < dist.get(b, 1 << 60):
                dist[b] = dd + w
                heapq.heappush(pq, (dd + w, b))
    got = {r.v: r.dist for r in relational.REGISTRY["sssp"].fn(spark, sf_dir).collect()}
    assert got == dist


def test_od_flows_mirror(spark, sf_dir):
    """Leg count must equal rows minus one per user, every flow's origin
    and destination must be inhabited cells, and a pandas mirror of the
    lag/groupBy must agree on trip counts."""
    import pandas as pd

    ev = pd.read_parquet(f"{sf_dir}/events.parquet", columns=["user_id", "ts", "event_id"])
    ev["t_ms"] = (ev.ts.astype("int64") // 10**6)
    ev["cy"] = ((ev.event_id * 7919 % 2000) / 100.0 / relational._GI_CELL).apply(
        lambda x: int(x) if x >= 0 else int(x) - 1
    )
    ev["cx"] = (((ev.event_id * 104729 % 2400) / 100.0 + 10.0) / relational._GI_CELL).astype(int)
    ev = ev.sort_values(["user_id", "t_ms", "event_id"], kind="mergesort")
    ev["ocy"] = ev.groupby("user_id").cy.shift(1)
    ev["ocx"] = ev.groupby("user_id").cx.shift(1)
    legs = ev.dropna(subset=["ocy"])
    want = (
        legs.groupby(["ocy", "ocx", "cy", "cx"]).size().to_dict()
    )
    rows = relational.REGISTRY["od_flows"].fn(spark, sf_dir).collect()
    got = {(r.ocy, r.ocx, r.dcy, r.dcx): r.n_trips for r in rows}
    assert got == {tuple(int(k) for k in key): v for key, v in want.items()}
    assert sum(got.values()) == len(ev) - ev.user_id.nunique()
    assert all(r.avg_leg_sec >= 0 for r in rows)


def _hilbert_xy2d(order, x, y):
    n = 1 << order
    d = 0
    s = n // 2
    while s > 0:
        rx = 1 if (x & s) > 0 else 0
        ry = 1 if (y & s) > 0 else 0
        d += s * s * ((3 * rx) ^ ry)
        if ry == 0:
            if rx == 1:
                x, y = n - 1 - x, n - 1 - y
            x, y = y, x
        s //= 2
    return d


def test_hilbert_key_bijective_and_local(spark, sf_dir):
    """Full 256x256 domain: the mirror transform must be a bijection onto
    0..65535 and consecutive keys must ALWAYS be 4-adjacent grid neighbors
    (the locality guarantee Z-order lacks); the Spark op must match the
    mirror on the event corpus."""
    n = relational._HB_N
    inv = {}
    for x in range(n):
        for y in range(n):
            inv[_hilbert_xy2d(relational._HB_ORDER, x, y)] = (x, y)
    assert len(inv) == n * n and min(inv) == 0 and max(inv) == n * n - 1
    for d in range(n * n - 1):
        (x0, y0), (x1, y1) = inv[d], inv[d + 1]
        assert abs(x0 - x1) + abs(y0 - y1) == 1, d

    import pandas as pd

    rows = relational.REGISTRY["hilbert_key"].fn(spark, sf_dir).collect()
    ev = pd.read_parquet(f"{sf_dir}/events.parquet", columns=["event_id"])
    lat = (ev.event_id * 7919 % 2000) / 100.0
    lon = (ev.event_id * 104729 % 2400) / 100.0 + 10.0
    qy = ((lat + 90.0) / 180.0 * n).astype(int).clip(upper=n - 1)
    qx = ((lon + 180.0) / 360.0 * n).astype(int).clip(upper=n - 1)
    want = {
        int(e): _hilbert_xy2d(relational._HB_ORDER, int(xx), int(yy))
        for e, xx, yy in zip(ev.event_id, qx, qy)
    }
    assert {r.event_id: r.hkey for r in rows} == want
    for r in rows:
        assert r.hbucket == r.hkey >> 6


def test_ripley_k_csr_and_monotone(spark, sf_dir):
    """K̂ must be monotone nondecreasing in r, every L̂ must satisfy
    L = sqrt(K/pi), and on the (near-uniform) lattice corpus L̂(r) must be
    within a loose band of r (the CSR identity K(r) = pi r^2 holds up to
    edge effects, which only depress it)."""
    rows = sorted(
        relational.REGISTRY["ripley_k"].fn(spark, sf_dir).collect(),
        key=lambda r: r.radius,
    )
    assert [r.radius for r in rows] == sorted(relational._RK_RADII)
    ks = [r.k_hat for r in rows]
    assert ks == sorted(ks)
    import math

    for r in rows:
        # l_hat comes from the UNROUNDED K (mirrored in the oracle); the
        # 6-dp k_hat only supports the identity to ~1e-6
        assert abs(r.l_hat - math.sqrt(r.k_hat / relational._RK_PI)) < 2e-6
        # lattice corpus ~ CSR: edge effects bias L down, clustering up
        assert 0.5 * r.radius < r.l_hat < 1.5 * r.radius, (r.radius, r.l_hat)


def test_ripley_k_cover_matches_brute_force(spark, sf_dir):
    """The cell-cover pair counts must equal an O(n^2) numpy brute force
    (proves the 3x3 one-degree cover loses no pair at r_max = 1.0)."""
    import numpy as np
    import pandas as pd

    ev = pd.read_parquet(f"{sf_dir}/events.parquet", columns=["event_id"])
    lat = ((ev.event_id * 7919 % 2000) / 100.0).to_numpy()
    lon = ((ev.event_id * 104729 % 2400) / 100.0 + 10.0).to_numpy()
    # brute force in blocks to bound memory at sf0.01 (10k points)
    n = len(lat)
    want = {r: 0 for r in relational._RK_RADII}
    for i0 in range(0, n, 2000):
        sl = slice(i0, min(i0 + 2000, n))
        d2 = (lat[sl, None] - lat[None, :]) ** 2 + (lon[sl, None] - lon[None, :]) ** 2
        iu = np.arange(i0, min(i0 + 2000, n))[:, None] < np.arange(n)[None, :]
        for r in want:
            want[r] += int(((d2 <= r * r) & iu).sum())
    got = {
        r.radius: r.n_pairs
        for r in relational.REGISTRY["ripley_k"].fn(spark, sf_dir).collect()
    }
    assert got == want


def test_knox_pairs_matches_brute_force(spark, sf_dir):
    """All four Knox counts must equal a blocked O(n^2) numpy reference
    (space cover AND time-bucket cover lose no pair), and the ratio must
    be the one double expression of those integers."""
    import numpy as np
    import pandas as pd

    ev = pd.read_parquet(f"{sf_dir}/events.parquet", columns=["event_id", "ts"])
    t_ms = (ev.ts.astype("int64") // 10**6).to_numpy()
    t0, t1 = t_ms.min(), t_ms.max() + 1
    tb = np.floor((t_ms - t0).astype(float) / float(t1 - t0) * relational._KNOX_NT)
    lat = ((ev.event_id * 7919 % 2000) / 100.0).to_numpy()
    lon = ((ev.event_id * 104729 % 2400) / 100.0 + 10.0).to_numpy()
    n = len(lat)
    ds2 = relational._KNOX_DS**2
    n_space = n_time = n_both = 0
    for i0 in range(0, n, 2000):
        sl = slice(i0, min(i0 + 2000, n))
        iu = np.arange(i0, min(i0 + 2000, n))[:, None] < np.arange(n)[None, :]
        sp = ((lat[sl, None] - lat[None, :]) ** 2 + (lon[sl, None] - lon[None, :]) ** 2 <= ds2) & iu
        tm = (np.abs(tb[sl, None] - tb[None, :]) <= 1) & iu
        n_space += int(sp.sum()); n_time += int(tm.sum()); n_both += int((sp & tm).sum())
    r = relational.REGISTRY["knox_pairs"].fn(spark, sf_dir).collect()[0]
    assert (r.n_space, r.n_time, r.n_both) == (n_space, n_time, n_both)
    assert r.n_pairs == n * (n - 1) // 2
    want = n_both / (n_space * n_time / (n * (n - 1) / 2))
    assert abs(r.knox_ratio - round(want, 6)) < 1e-12


def test_kde_density_integrates_to_one(spark, sf_dir):
    """The binned Epanechnikov surface must be non-negative everywhere and
    integrate to ~1 over the grid (cell area x sum of densities; edge
    truncation only loses mass, boundary-cell snapping can add a little)."""
    rows = relational.REGISTRY["kde_epanechnikov"].fn(spark, sf_dir).collect()
    assert rows
    assert all(r.density >= 0 for r in rows)
    cell_area = relational._GI_CELL**2
    total = sum(r.density for r in rows) * cell_area
    assert 0.7 < total < 1.1, total
    # the surface must show real structure over the near-uniform lattice
    # (smoothing keeps it tight — interior ~ uniform, edges taper) without
    # inverting: max > median > min by clear margins
    ds = sorted(r.density for r in rows)
    assert ds[-1] > 1.2 * ds[len(ds) // 2] > 1.2 * ds[0]


def test_track_simplify_semantics(spark, sf_dir):
    """Both endpoints of every user track survive, every surviving
    interior vertex carries area2 >= threshold, and a pandas mirror of
    the one-sweep rule agrees row-for-row."""
    import pandas as pd

    ev = pd.read_parquet(f"{sf_dir}/events.parquet", columns=["user_id", "ts", "event_id"])
    ev["t_ms"] = ev.ts.astype("int64") // 10**6
    ev["iy"] = ev.event_id * 7919 % 2000
    ev["ix"] = ev.event_id * 104729 % 2400 + 1000
    ev = ev.sort_values(["user_id", "t_ms", "event_id"], kind="mergesort")
    keep = set()
    for _, grp in ev.groupby("user_id"):
        ids = grp.event_id.to_list()
        ys, xs = grp.iy.to_list(), grp.ix.to_list()
        for j, eid in enumerate(ids):
            if j == 0 or j == len(ids) - 1:
                keep.add(eid)
            else:
                a2 = abs(
                    (xs[j] - xs[j - 1]) * (ys[j + 1] - ys[j - 1])
                    - (xs[j + 1] - xs[j - 1]) * (ys[j] - ys[j - 1])
                )
                if a2 >= relational._TS_AREA2:
                    keep.add(eid)
    rows = relational.REGISTRY["track_simplify"].fn(spark, sf_dir).collect()
    assert {r.event_id for r in rows} == keep
    for r in rows:
        assert r.area2 is None or r.area2 >= relational._TS_AREA2


def test_quadtree_partitions_points_exactly(spark, sf_dir):
    """The leaf set must tile the point set: every point falls in exactly
    one leaf, leaf counts sum to n, every non-max-depth leaf respects the
    cap, and every leaf deeper than 0 was forced by an over-cap parent."""
    import pandas as pd

    leaves = relational.REGISTRY["quadtree_bins"].fn(spark, sf_dir).collect()
    assert leaves
    d_max, cap, n_grid = relational._QT_D, relational._QT_CAP, 1 << relational._QT_D
    ev = pd.read_parquet(f"{sf_dir}/events.parquet", columns=["event_id"])
    lat = (ev.event_id * 7919 % 2000) / 100.0
    lon = (ev.event_id * 104729 % 2400) / 100.0 + 10.0
    qy0 = ((lat + 90.0) / 180.0 * n_grid).astype(int).clip(upper=n_grid - 1)
    qx0 = ((lon + 180.0) / 360.0 * n_grid).astype(int).clip(upper=n_grid - 1)
    leaf_set = {(r.depth, r.qy, r.qx) for r in leaves}
    counts = {}
    for y0, x0 in zip(qy0, qx0):
        hits = [
            d for d in range(d_max + 1)
            if (d, y0 >> (d_max - d), x0 >> (d_max - d)) in leaf_set
        ]
        assert len(hits) == 1, (y0, x0, hits)
        key = (hits[0], y0 >> (d_max - hits[0]), x0 >> (d_max - hits[0]))
        counts[key] = counts.get(key, 0) + 1
    got = {(r.depth, r.qy, r.qx): r.n_pts for r in leaves}
    assert got == counts
    assert sum(got.values()) == len(ev)
    parents = {}
    for (d, y, x), n in got.items():
        if d < d_max:
            assert n <= cap, (d, y, x, n)
    # reconstruct parent counts from the point set to verify the force rule
    for (d, y, x), n in got.items():
        if d > 0:
            pn = sum(
                1 for y0, x0 in zip(qy0, qx0)
                if (y0 >> (d_max - d + 1), x0 >> (d_max - d + 1)) == (y >> 1, x >> 1)
            )
            assert pn > cap, (d, y, x, pn)


def test_salted_cover_join_result_invariant(spark, sf_dir):
    """_salted_cover_join must be a pure execution-strategy lever: forcing
    EVERY key hot (threshold 0) with a non-trivial salt count must yield
    exactly the plain equi-join's pair multiset — each (left, right) pair
    meets exactly once, at the left row's salt."""
    from pyspark.sql import functions as F

    pts = relational._pt_df(spark, sf_dir).limit(4000).select(
        "event_id",
        F.floor("lat").alias("gy"),
        F.floor("lon").alias("gx"),
    )
    right = relational._ring_explode(
        pts, F.col("gy"), F.col("gx"), [F.col("event_id").alias("eb")]
    )
    plain = sorted(
        (r.event_id, r.eb)
        for r in pts.join(right, ["gy", "gx"]).select("event_id", "eb").collect()
    )
    salted = sorted(
        (r.event_id, r.eb)
        for r in relational._salted_cover_join(
            spark, pts, right, ["gy", "gx"], "event_id", pair_cap=0.0, n_salt=5
        )
        .select("event_id", "eb")
        .collect()
    )
    assert plain == salted and plain


def test_knox_time_histogram_matches_pair_enumeration(spark, sf_dir):
    """The bucket-histogram n_time (sum C(c_b,2) + sum c_b*c_{b+1}) must
    equal brute-force pair enumeration over the same bucket assignment."""
    row = relational.REGISTRY["knox_pairs"].fn(spark, sf_dir).collect()[0]
    ev = relational._t(spark, sf_dir, "events").select("event_id", "ts").toPandas()
    import pandas as pd

    t_ms = pd.to_datetime(ev["ts"]).astype("int64") // 10**6
    t0, t1 = t_ms.min(), t_ms.max() + 1
    tb = ((t_ms - t0) / (t1 - t0) * relational._KNOX_NT).astype("int64")
    counts = tb.value_counts()
    expect = sum(
        int(c) * (int(c) - 1) // 2 for c in counts
    ) + sum(
        int(counts.get(b, 0)) * int(counts.get(b + 1, 0))
        for b in range(int(tb.min()), int(tb.max()) + 1)
    )
    assert row.n_time == expect


def test_colocation_patterns_invariants(spark, sf_dir):
    """Participation index is min of the two directional participation
    fractions, each bounded by 1; participant counts never exceed the
    type totals; pairs are canonical (type_a < type_b) and unique."""
    rows = relational.REGISTRY["colocation_patterns"].fn(spark, sf_dir).collect()
    assert rows
    seen = set()
    for r in rows:
        assert r.type_a < r.type_b
        assert (r.type_a, r.type_b) not in seen
        seen.add((r.type_a, r.type_b))
        assert 0 < r.a_participants <= r.n_a
        assert 0 < r.b_participants <= r.n_b
        want = round(min(r.a_participants / r.n_a, r.b_participants / r.n_b), 6)
        assert abs(r.pi - want) < 1e-12


def test_focal_majority_semantics(spark, sf_dir):
    """The focal category must be the exact mode of the 3x3 neighborhood's
    cell categories (center included; count desc, type asc tie-break) —
    re-derived per row from the collected cell-category map."""
    rows = relational.REGISTRY["focal_majority"].fn(spark, sf_dir).collect()
    assert rows
    cats = {(r.cy, r.cx): r.cell_cat for r in rows}
    for r in rows[:500]:
        votes = {}
        for dy in (-1, 0, 1):
            for dx in (-1, 0, 1):
                c = cats.get((r.cy + dy, r.cx + dx))
                if c is not None:
                    votes[c] = votes.get(c, 0) + 1
        want = sorted(votes.items(), key=lambda kv: (-kv[1], kv[0]))[0]
        assert (r.focal_cat, r.focal_votes) == want


def test_hillshade_bounds_and_formula(spark, sf_dir):
    """Hillshade must stay in [0, 255] and re-derive exactly from the
    slope_aspect gradient via the literal NW light vector."""
    import math

    hs = {
        (r.cy, r.cx): r.hillshade
        for r in relational.REGISTRY["hillshade"].fn(spark, sf_dir).collect()
    }
    sa = relational.REGISTRY["slope_aspect"].fn(spark, sf_dir).collect()
    assert hs and len(hs) == len(sa)
    for r in sa[:500]:
        gxs, gys = r.gx / 8.0, r.gy / 8.0
        dot = (0.0 - gxs) * relational._HS_LX + (0.0 - gys) * relational._HS_LY + relational._HS_LZ
        want = round(255.0 * max(0.0, dot / math.sqrt(1.0 + gxs * gxs + gys * gys)), 6)
        got = hs[(r.cy, r.cx)]
        assert 0.0 <= got <= 255.0
        assert abs(got - want) < 1e-9


def test_empirical_variogram_matches_brute_force(spark, sf_dir):
    """gamma(h) per exact squared cell offset must equal an O(cells^2)
    brute force over the collected cell counts."""
    cells = {
        (r.cy, r.cx): r.x
        for r in relational._cell_counts(spark, sf_dir).collect()
    }
    want = {}
    keys = sorted(cells)
    for i, a in enumerate(keys):
        for b in keys[i + 1:]:
            dy, dx = b[0] - a[0], b[1] - a[1]
            if abs(dy) > relational._VG_R or abs(dx) > relational._VG_R:
                continue
            d2i = dy * dy + dx * dx
            n, s = want.get(d2i, (0, 0))
            want[d2i] = (n + 1, s + (cells[a] - cells[b]) ** 2)
    rows = relational.REGISTRY["empirical_variogram"].fn(spark, sf_dir).collect()
    assert {r.d2i for r in rows} == set(want)
    for r in rows:
        n, s = want[r.d2i]
        assert r.n_pairs == n
        assert abs(r.gamma - round(s / (2.0 * n), 6)) < 1e-12


def test_d8_flow_dir_matches_brute_force(spark, sf_dir):
    """The chosen direction must be the true steepest distance-weighted
    descent among the 8 neighbors (ties to the lowest ESRI code), sinks
    and flats must code 0 with drop 0, and the result must cover exactly
    the interior cells of the inhabited set."""
    cells = {
        (r.cy, r.cx): r.x
        for r in relational._cell_counts(spark, sf_dir).collect()
    }
    rows = relational.REGISTRY["d8_flow_dir"].fn(spark, sf_dir).collect()
    assert rows
    seen = set()
    for r in rows:
        seen.add((r.cy, r.cx))
        x = cells[(r.cy, r.cx)]
        best = None
        for dy, dx, code in relational._D8_DIRS:
            nb = cells.get((r.cy + dy, r.cx + dx))
            assert nb is not None  # interior cells only
            inv = 1.0 if dy == 0 or dx == 0 else relational._D8_INV_SQRT2
            drp = float(x - nb) * inv
            if best is None or drp > best[0] or (drp == best[0] and code < best[1]):
                best = (drp, code)
        if best[0] > 0.0:
            assert r.d8_dir == best[1]
            assert abs(r.steepest_drop - round(best[0], 6)) < 1e-12
        else:
            assert r.d8_dir == 0 and r.steepest_drop == 0.0
    interior = {
        (cy, cx)
        for (cy, cx) in cells
        if all(
            (cy + dy, cx + dx) in cells
            for dy in (-1, 0, 1)
            for dx in (-1, 0, 1)
            if (dy, dx) != (0, 0)
        )
    }
    assert seen == interior


def test_flow_accumulation_matches_brute_force(spark, sf_dir):
    """acc must equal the 4-round recurrence acc_k = 1 + sum of direct
    upstream neighbors' acc_{k-1} (walked in plain Python over the D8
    edge dict) — i.e. 1 + the number of cells whose flow path reaches the
    cell in <= 4 hops."""
    d8 = relational.REGISTRY["d8_flow_dir"].fn(spark, sf_dir).collect()
    offs = {code: (dy, dx) for dy, dx, code in relational._D8_DIRS}
    step = {}
    for r in d8:
        if r.d8_dir:
            dy, dx = offs[r.d8_dir]
            step[(r.cy, r.cx)] = (r.cy + dy, r.cx + dx)
    cells = {
        (r.cy, r.cx)
        for r in relational._cell_counts(spark, sf_dir).collect()
    }
    acc = {c: 1 for c in cells}
    for _ in range(relational._FA_ROUNDS):
        new = {c: 1 for c in cells}
        for s, t in step.items():
            assert t in new  # D8 targets are inhabited by the nn=8 gate
            new[t] += acc[s]
        acc = new
    rows = relational.REGISTRY["flow_accumulation"].fn(spark, sf_dir).collect()
    assert len(rows) == len(cells)
    for r in rows:
        assert r.acc == acc[(r.cy, r.cx)], (r.cy, r.cx)
    assert any(r.acc > 1 for r in rows)  # non-vacuous: real flow happened


def test_theil_sen_matches_numpy_median(spark, sf_dir):
    """sen_slope must equal the numpy median of all pairwise bucket
    slopes for every cell (same bucket assignment, same float ops)."""
    import numpy as np

    series = {}
    for r in relational._mk_series(spark, sf_dir).collect():
        series.setdefault((r.cy, r.cx), []).append((r.tb, r.x))
    rows = relational.REGISTRY["theil_sen_trend"].fn(spark, sf_dir).collect()
    assert rows
    by_cell = {(r.cy, r.cx): r for r in rows}
    for cell, pts in series.items():
        pts.sort()
        slopes = [
            float(xb - xa) / float(tb - ta)
            for i, (ta, xa) in enumerate(pts)
            for (tb, xb) in pts[i + 1 :]
        ]
        if not slopes:
            assert cell not in by_cell
            continue
        r = by_cell[cell]
        assert r.n_pairs == len(slopes)
        assert abs(r.sen_slope - round(float(np.median(slopes)), 6)) < 1e-12, cell


def test_join_counts_brute_force(spark, sf_dir):
    """BB/BW/WW must match a dict walk over the rook pairs of the
    inhabited cell set, and the three must sum to m."""
    cells = {
        (r.cy, r.cx): r.x
        for r in relational._cell_counts(spark, sf_dir).collect()
    }
    bb = bw = ww = m = 0
    for (cy, cx), x in cells.items():
        for dy, dx in ((0, 1), (1, 0)):
            nb = cells.get((cy + dy, cx + dx))
            if nb is None:
                continue
            m += 1
            a, b = x >= relational._JC_THRESH, nb >= relational._JC_THRESH
            if a and b:
                bb += 1
            elif not a and not b:
                ww += 1
            else:
                bw += 1
    r = relational.REGISTRY["join_counts"].fn(spark, sf_dir).collect()[0]
    assert (r.m, r.jbb, r.jbw, r.jww) == (m, bb, bw, ww)
    assert r.jbb + r.jbw + r.jww == r.m
    n = len(cells)
    nb_ = sum(1 for x in cells.values() if x >= relational._JC_THRESH)
    assert r.n_cells == n and r.n_black == nb_
    assert abs(r.e_bb - round(m * nb_ * (nb_ - 1) / (n * (n - 1)), 6)) < 1e-9


def test_std_ellipse_matches_numpy(spark, sf_dir):
    """Mean center and axis sigmas must match numpy's population moments
    and 2x2 eigenvalues per event type; major >= minor >= 0."""
    import numpy as np

    ev = relational._t(spark, sf_dir, "events").select(
        "event_type", "event_id"
    ).toPandas()
    rows = relational.REGISTRY["std_ellipse"].fn(spark, sf_dir).collect()
    assert rows
    for r in rows:
        g = ev[ev.event_type == r.event_type]
        iy = (g.event_id.to_numpy(dtype=object) * 7919 % 2000).astype(float)
        ix = (g.event_id.to_numpy(dtype=object) * 104729 % 2400).astype(float)
        assert r.n == len(g)
        assert abs(r.mean_lat - round(iy.mean() / 100.0, 6)) < 1e-6
        assert abs(r.mean_lon - round(ix.mean() / 100.0 + 10.0, 6)) < 1e-6
        vyy, vxx = iy.var(), ix.var()
        vxy = ((ix - ix.mean()) * (iy - iy.mean())).mean()
        t = (vxx + vyy) / 2.0
        d = np.sqrt(((vxx - vyy) / 2.0) ** 2 + vxy * vxy)
        assert abs(r.sigma_major_deg - np.sqrt(max(t + d, 0.0)) / 100.0) < 1e-4
        assert abs(r.sigma_minor_deg - np.sqrt(max(t - d, 0.0)) / 100.0) < 1e-4
        assert r.sigma_major_deg >= r.sigma_minor_deg >= 0.0


def test_chunk_documents_coverage_and_content(spark, sf_dir):
    """Every token must land in >= 1 chunk, consecutive chunks overlap by
    exactly W - S tokens, and each chunk_md5 must equal the md5 of the
    corresponding token slice re-derived in Python."""
    import hashlib
    import re

    docs = {
        r.doc_id: r.text
        for r in relational._t(spark, sf_dir, "documents")
        .limit(200)
        .collect()
    }
    rows = [
        r
        for r in relational.REGISTRY["chunk_documents"].fn(spark, sf_dir).collect()
        if r.doc_id in docs
    ]
    assert rows
    W, S = relational._CHUNK_TOKENS, relational._CHUNK_STRIDE
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, []).append(r)
    assert set(by_doc) == set(docs)
    for doc_id, chunks in by_doc.items():
        toks = re.findall(r"\S+", docs[doc_id])
        chunks.sort(key=lambda r: r.chunk_id)
        # chunk ids are dense from 0, starts step by the stride
        assert [c.chunk_id for c in chunks] == list(range(len(chunks)))
        last = chunks[-1]
        # coverage: the last chunk reaches the final token
        assert last.start_token + last.chunk_tokens == len(toks)
        for c in chunks:
            assert c.start_token == c.chunk_id * S
            piece = " ".join(toks[c.start_token : c.start_token + W])
            assert c.chunk_tokens == min(W, len(toks) - c.start_token)
            assert c.chunk_md5 == hashlib.md5(piece.encode()).hexdigest()


def test_boilerplate_chunks_matches_python(spark, sf_dir):
    """The reported (chunk_md5, n_docs, n_occurrences) set must equal a
    plain-Python walk over the same 64/48 chunk derivation."""
    import hashlib
    import re
    from collections import defaultdict

    W, S = relational._CHUNK_TOKENS, relational._CHUNK_STRIDE
    docs_of = defaultdict(set)
    occ = defaultdict(int)
    for r in relational._t(spark, sf_dir, "documents").collect():
        toks = re.findall(r"\S+", r.text)
        n_chunks = 1 + (max(len(toks) - W, 0) + S - 1) // S
        for ci in range(n_chunks):
            h = hashlib.md5(
                " ".join(toks[ci * S : ci * S + W]).encode()
            ).hexdigest()
            docs_of[h].add(r.doc_id)
            occ[h] += 1
    expect = {
        (h, len(d), occ[h]) for h, d in docs_of.items() if len(d) >= 2
    }
    rows = relational.REGISTRY["boilerplate_chunks"].fn(spark, sf_dir).collect()
    got = {(r.chunk_md5, r.n_docs, r.n_occurrences) for r in rows}
    assert got == expect and got


def test_k_core_matches_brute_force(spark, sf_dir):
    """Survivors and their induced degrees must match a plain-Python
    peel over the same canonical edge set; peeling must be non-vacuous
    and converged (every survivor degree >= K) at this scale."""
    from collections import Counter

    from pyspark.sql import functions as F

    li = relational._t(spark, sf_dir, "lineitem").select(
        (F.col("l_orderkey") % relational._KC_N).alias("sa"),
        (F.col("l_partkey") % relational._KC_N).alias("sb"),
    ).collect()
    edges = {
        (min(r.sa, r.sb), max(r.sa, r.sb)) for r in li if r.sa != r.sb
    }
    alive = {v for e in edges for v in e}
    n0 = len(alive)
    for _ in range(relational._KC_ROUNDS):
        deg = Counter()
        for a, b in edges:
            if a in alive and b in alive:
                deg[a] += 1
                deg[b] += 1
        alive = {v for v in alive if deg[v] >= relational._KC_K}
    deg = Counter()
    for a, b in edges:
        if a in alive and b in alive:
            deg[a] += 1
            deg[b] += 1
    rows = relational.REGISTRY["k_core"].fn(spark, sf_dir).collect()
    assert {r.node for r in rows} == alive
    for r in rows:
        assert r.degree == deg[r.node]
    assert 0 < len(alive) < n0  # peeling actually removed nodes
    assert min(r.degree for r in rows) >= relational._KC_K  # converged


def test_watershed_basins_matches_walk(spark, sf_dir):
    """Every cell's basin label must equal the sink reached by walking
    its D8 flow path in plain Python; sinks self-label; basins partition
    the cell set (non-vacuous: > 1 basin, >= 1 multi-cell basin)."""
    d8 = relational.REGISTRY["d8_flow_dir"].fn(spark, sf_dir).collect()
    offs = {code: (dy, dx) for dy, dx, code in relational._D8_DIRS}
    step = {}
    for r in d8:
        if r.d8_dir:
            dy, dx = offs[r.d8_dir]
            step[(r.cy, r.cx)] = (r.cy + dy, r.cx + dx)
    rows = relational.REGISTRY["watershed_basins"].fn(spark, sf_dir).collect()
    cells = {
        (r.cy, r.cx)
        for r in relational._cell_counts(spark, sf_dir).collect()
    }
    assert {(r.cy, r.cx) for r in rows} == cells
    basins = set()
    multi = 0
    from collections import Counter

    sizes = Counter()
    for r in rows:
        c = (r.cy, r.cx)
        guard = 0
        while c in step:
            c = step[c]
            guard += 1
            assert guard <= 2 ** relational._WB_ROUNDS
        assert (r.basin_cy, r.basin_cx) == c, (r.cy, r.cx)
        assert r.is_sink == (1 if (r.cy, r.cx) == c else 0)
        basins.add(c)
        sizes[c] += 1
    assert len(basins) > 1
    assert max(sizes.values()) > 1


def test_geary_c_matches_brute_force(spark, sf_dir):
    """Per-cell Geary numerator = sum of squared differences to the
    inhabited 3x3 neighbors (self excluded), standardized by the global
    cell-count variance — recomputed in plain Python per cell."""
    cells = {
        (r.cy, r.cx): r.x
        for r in relational._cell_counts(spark, sf_dir).collect()
    }
    xs = list(cells.values())
    n = len(xs)
    mean = sum(xs) / n
    m2 = sum(v * v for v in xs) / n - mean * mean
    rows = relational.REGISTRY["geary_c"].fn(spark, sf_dir).collect()
    assert rows
    for r in rows:
        x = cells[(r.cy, r.cx)]
        nbrs = [
            cells[(r.cy + dy, r.cx + dx)]
            for dy in (-1, 0, 1)
            for dx in (-1, 0, 1)
            if (dy, dx) != (0, 0) and (r.cy + dy, r.cx + dx) in cells
        ]
        assert r.wn == len(nbrs)
        ssd = sum((x - b) ** 2 for b in nbrs)
        assert r.ssd == ssd
        assert abs(r.geary_c - round((ssd / len(nbrs)) / m2, 6)) < 1e-12
    # every inhabited cell has >= 1 inhabited neighbor on this corpus
    assert {(r.cy, r.cx) for r in rows} == set(cells)


def test_terrain_ruggedness_interior_and_formula(spark, sf_dir):
    """TRI = sqrt(sum of squared neighbor differences), emitted for
    exactly the interior cells (all 8 neighbors inhabited)."""
    cells = {
        (r.cy, r.cx): r.x
        for r in relational._cell_counts(spark, sf_dir).collect()
    }
    rows = relational.REGISTRY["terrain_ruggedness"].fn(spark, sf_dir).collect()
    assert rows
    interior = {
        (cy, cx)
        for (cy, cx) in cells
        if all(
            (cy + dy, cx + dx) in cells
            for dy in (-1, 0, 1)
            for dx in (-1, 0, 1)
            if (dy, dx) != (0, 0)
        )
    }
    assert {(r.cy, r.cx) for r in rows} == interior
    for r in rows:
        x = cells[(r.cy, r.cx)]
        ssd = sum(
            (cells[(r.cy + dy, r.cx + dx)] - x) ** 2
            for dy in (-1, 0, 1)
            for dx in (-1, 0, 1)
            if (dy, dx) != (0, 0)
        )
        assert r.ssd == ssd
        assert abs(r.tri - round(ssd ** 0.5, 6)) < 1e-12


def test_flow_length_matches_walk(spark, sf_dir):
    """hops and euclidean length must equal the plain-Python walk down
    the D8 flow path (1 per cardinal step, sqrt(2) per diagonal)."""
    d8 = relational.REGISTRY["d8_flow_dir"].fn(spark, sf_dir).collect()
    offs = {code: (dy, dx) for dy, dx, code in relational._D8_DIRS}
    step = {}
    for r in d8:
        if r.d8_dir:
            dy, dx = offs[r.d8_dir]
            cost = 1.0 if dy == 0 or dx == 0 else relational._SQRT2
            step[(r.cy, r.cx)] = ((r.cy + dy, r.cx + dx), cost)
    rows = relational.REGISTRY["flow_length"].fn(spark, sf_dir).collect()
    cells = {
        (r.cy, r.cx)
        for r in relational._cell_counts(spark, sf_dir).collect()
    }
    assert {(r.cy, r.cx) for r in rows} == cells
    moved = 0
    for r in rows:
        c = (r.cy, r.cx)
        hops, length = 0, 0.0
        while c in step:
            c, cost = step[c][0], step[c][1]
            hops += 1
            length += cost
            assert hops <= 2 ** relational._WB_ROUNDS
        assert r.hops == hops
        assert abs(r.flow_len - round(length, 6)) < 1e-9
        moved += hops > 0
    assert moved > 0


def test_gopher_repetition_matches_python(spark, sf_dir):
    """top-bigram and duplicate-5-gram fractions recomputed per document
    with a plain-Python tokenizer; every >= 5-token doc is covered."""
    from collections import Counter

    import duckdb

    con = duckdb.connect()
    docs = con.sql(
        f"SELECT doc_id, text FROM '{sf_dir}/documents.parquet'"
    ).fetchall()
    con.close()
    rows = {
        r.doc_id: r
        for r in relational.REGISTRY["gopher_repetition"].fn(spark, sf_dir).collect()
    }
    checked = 0
    for doc_id, text in docs:
        toks = text.split()
        if len(toks) < 5:
            assert doc_id not in rows
            continue
        r = rows[doc_id]
        assert r.n_tok == len(toks)
        g2 = Counter(
            f"{toks[i]} {toks[i + 1]}" for i in range(len(toks) - 1)
        )
        top2 = max(g2.values())
        assert r.top2_n == top2
        assert abs(r.top2_frac - round(2 * top2 / len(toks), 6)) < 1e-12
        g5 = [" ".join(toks[i : i + 5]) for i in range(len(toks) - 4)]
        dup5 = len(g5) - len(set(g5))
        assert r.dup5 == dup5
        assert abs(r.dup5_frac - round(dup5 / len(g5), 6)) < 1e-12
        checked += 1
    assert checked == len(rows)


def test_unigram_logprob_matches_python(spark, sf_dir):
    """Mean token log-probability under the corpus unigram LM,
    recomputed with Python floats (math.log == IEEE double ln)."""
    import math
    from collections import Counter

    import duckdb

    con = duckdb.connect()
    docs = con.sql(
        f"SELECT doc_id, text FROM '{sf_dir}/documents.parquet'"
    ).fetchall()
    con.close()
    vocab = Counter()
    for _, text in docs:
        vocab.update(text.split())
    total = sum(vocab.values())
    rows = {
        r.doc_id: r
        for r in relational.REGISTRY["unigram_logprob"].fn(spark, sf_dir).collect()
    }
    assert len(rows) == sum(1 for _, t in docs if t.split())
    for doc_id, text in docs:
        toks = text.split()
        if not toks:
            continue
        r = rows[doc_id]
        assert r.n_tok == len(toks)
        want = sum(math.log(vocab[t] / total) for t in toks) / len(toks)
        assert abs(r.avg_logp - want) < 1e-6  # 6-dp round on the engine side


def test_sequence_pack_semantics(spark, sf_dir):
    """Within each source shard (doc_id order), bin/offset must follow
    the running token total exactly, and no document is ever split."""
    rows = relational.REGISTRY["sequence_pack"].fn(spark, sf_dir).collect()
    assert rows
    by_src = {}
    for r in rows:
        by_src.setdefault(r.source, []).append(r)
    budget = relational._PACK_BUDGET
    for src, rs in by_src.items():
        rs.sort(key=lambda r: r.doc_id)
        cum = 0
        for r in rs:
            assert r.bin_id == cum // budget
            assert r.bin_offset == cum % budget
            cum += r.n_tok
    # non-vacuous: more than one bin somewhere
    assert max(r.bin_id for r in rows) >= 1


def test_histogram_equalize_matches_python(spark, sf_dir):
    """eq = (cdf - cdf_min) * 255 // (n - cdf_min) recomputed from the
    cell counts in plain Python; output covers every cell; eq in 0..255
    and monotone in x."""
    from collections import Counter

    cells = {
        (r.cy, r.cx): r.x
        for r in relational._cell_counts(spark, sf_dir).collect()
    }
    hist = Counter(cells.values())
    cum, cdf = 0, {}
    for v in sorted(hist):
        cum += hist[v]
        cdf[v] = cum
    cmin, n = min(cdf.values()), len(cells)
    rows = relational.REGISTRY["histogram_equalize"].fn(spark, sf_dir).collect()
    assert {(r.cy, r.cx) for r in rows} == set(cells)
    for r in rows:
        assert r.x == cells[(r.cy, r.cx)]
        want = ((cdf[r.x] - cmin) * 255) // (n - cmin) if n > cmin else 0
        assert r.eq == want
        assert 0 <= r.eq <= 255


def test_clark_evans_matches_brute_force(spark, sf_dir):
    """Censored-NN mean and R index recomputed by brute force over all
    point pairs (the cover join must find exactly the true NN whenever
    it lies within the censoring radius)."""
    pts = {
        r.event_id: (r.lat, r.lon)
        for r in relational._pt_df(spark, sf_dir).collect()
    }
    ids = sorted(pts)
    r2cap = relational._CE_R2
    mind = {}
    for i in ids:
        best = None
        for j in ids:
            if i == j:
                continue
            d2 = (pts[i][0] - pts[j][0]) ** 2 + (pts[i][1] - pts[j][1]) ** 2
            if d2 <= r2cap and (best is None or d2 < best):
                best = d2
        if best is not None:
            mind[i] = best
    row = relational.REGISTRY["clark_evans"].fn(spark, sf_dir).collect()[0]
    assert row.n_pts == len(ids)
    assert row.n_with_nn == len(mind)
    lats = [p[0] for p in pts.values()]
    lons = [p[1] for p in pts.values()]
    area = (max(lats) - min(lats)) * (max(lons) - min(lons))
    mean_nn = sum(d ** 0.5 for d in mind.values()) / len(mind)
    expected = 0.5 / (len(ids) / area) ** 0.5
    assert abs(row.mean_nn - mean_nn) < 1e-6
    assert abs(row.r_index - mean_nn / expected) < 1e-6


def test_line_of_sight_matches_walk(spark, sf_dir):
    """Visibility recomputed by walking each ray outward with a running
    max elevation angle; observer is the densest cell."""
    cells = {
        (r.cy, r.cx): r.x
        for r in relational._cell_counts(spark, sf_dir).collect()
    }
    ocy, ocx = max(cells, key=lambda c: (cells[c], -c[0], -c[1]))
    ox = cells[(ocy, ocx)]
    rows = relational.REGISTRY["line_of_sight"].fn(spark, sf_dir).collect()
    assert rows
    got = {(r.cy, r.cx): r for r in rows}
    seen = set()
    n_vis, n_hid = 0, 0
    for sy in (-1, 0, 1):
        for sx in (-1, 0, 1):
            if sy == 0 and sx == 0:
                continue
            unit = 1.0 if sy == 0 or sx == 0 else relational._SQRT2
            best = float("-inf")
            for step in range(1, 10000):
                c = (ocy + sy * step, ocx + sx * step)
                if not (
                    min(k[0] for k in cells)
                    <= c[0]
                    <= max(k[0] for k in cells)
                ) and not (
                    min(k[1] for k in cells)
                    <= c[1]
                    <= max(k[1] for k in cells)
                ):
                    break
                if c not in cells:
                    continue
                slope = (cells[c] - ox) / (step * unit)
                r = got[c]
                seen.add(c)
                assert (r.sy, r.sx, r.steps) == (sy, sx, step)
                assert r.visible == (1 if slope > best else 0)
                n_vis += r.visible
                n_hid += 1 - r.visible
                best = max(best, slope)
    assert seen == set(got)
    assert n_vis > 0 and n_hid > 0  # non-vacuous both ways


def test_kmeans_matches_python_lloyd(spark, sf_dir):
    """Fixed-round Lloyd recomputed in plain Python with exact integer
    centroid sums and (d2, cid) tie-breaks; assignments and d2 must
    match bit-for-bit."""
    pts = {
        r.event_id: (r.py, r.px)
        for r in relational._t(spark, sf_dir, "events")
        .select(
            "event_id",
            (relational.F.col("event_id") * 7919 % 2000)
            .cast("long")
            .alias("py"),
            (relational.F.col("event_id") * 104729 % 2400)
            .cast("long")
            .alias("px"),
        )
        .collect()
    }
    seeds = sorted(pts)[: relational._KM_K]
    centers = {
        i + 1: (float(pts[e][0]), float(pts[e][1]))
        for i, e in enumerate(seeds)
    }
    assign = {}
    for _ in range(relational._KM_ROUNDS):
        assign = {}
        for e, (py, px) in pts.items():
            best = None
            for cid, (cy, cx) in centers.items():
                d2 = (py - cy) * (py - cy) + (px - cx) * (px - cx)
                if best is None or (d2, cid) < best:
                    best = (d2, cid)
            assign[e] = best
        sums = {}
        for e, (d2, cid) in assign.items():
            s = sums.setdefault(cid, [0, 0, 0])
            s[0] += pts[e][0]
            s[1] += pts[e][1]
            s[2] += 1
        centers = {
            cid: (s[0] / s[2], s[1] / s[2]) for cid, s in sums.items()
        }
    rows = relational.REGISTRY["kmeans_assign"].fn(spark, sf_dir).collect()
    assert len(rows) == len(pts)
    for r in rows:
        d2, cid = assign[r.event_id]
        assert r.cid == cid
        assert r.d2 == d2  # bit-exact: centroids are exact quotients
    assert len({r.cid for r in rows}) > 1


# --- round-4 session-7/8 ops: independent brute-force oracles -------------------


def _events_rows(spark, sf_dir):
    return relational._t(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "ts"
    ).collect()


def test_skyline_2d_matches_brute_force(spark, sf_dir):
    """Pareto frontier (max p_size, min p_retailprice) recomputed by the
    O(n^2) dominance definition over all parts; equal pairs never
    dominate, so ties must all survive."""
    parts = relational._t(spark, sf_dir, "part").select(
        "p_partkey", "p_size", "p_retailprice"
    ).collect()
    rows = [(r.p_partkey, r.p_size, float(r.p_retailprice)) for r in parts]
    want = {
        (k, s, p)
        for k, s, p in rows
        if not any(
            bs >= s and bp <= p and (bs > s or bp < p) for _, bs, bp in rows
        )
    }
    got = {
        (r.p_partkey, r.p_size, float(r.p_retailprice))
        for r in relational.REGISTRY["skyline_2d"].fn(spark, sf_dir).collect()
    }
    assert got == want


def test_extreme_points_matches_brute_force(spark, sf_dir):
    """Per (event_type, direction) argmax dot recomputed pointwise; the
    winner must be a convex-hull vertex of its type's point set (its dot
    is >= every other point's for that direction)."""
    ev = _events_rows(spark, sf_dir)
    pts = [
        (r.event_type, r.event_id, r.event_id * 7919 % 2000,
         r.event_id * 104729 % 2400)
        for r in ev
    ]
    want = {}
    for i, (dy, dx) in enumerate(relational._EP_DIRS):
        for et, eid, py, px in pts:
            key = (et, i)
            cand = (-(dy * py + dx * px), eid, py, px)
            if key not in want or cand < want[key]:
                want[key] = cand
    got = relational.REGISTRY["extreme_points"].fn(spark, sf_dir).collect()
    assert len(got) == len(want)
    for r in got:
        nd, eid, py, px = want[(r.event_type, r.diridx)]
        assert (r.event_id, r.py, r.px, r.dot) == (eid, py, px, -nd)


def test_bpe_merge_step_matches_brute_force(spark, sf_dir):
    import re
    from collections import Counter

    docs = relational._t(spark, sf_dir, "documents").select("text").collect()
    c = Counter()
    for r in docs:
        for tok in re.findall(r"\S+", r.text):
            for i in range(len(tok) - 1):
                c[tok[i:i + 2]] += 1
    want = sorted(c.items(), key=lambda kv: (-kv[1], kv[0]))[: relational._BPE_TOPK]
    got = sorted(
        relational.REGISTRY["bpe_merge_step"].fn(spark, sf_dir).collect(),
        key=lambda r: r.rnk,
    )
    assert [(r.pair, r.n) for r in got] == want
    assert [r.rnk for r in got] == list(range(1, len(want) + 1))


def test_window_funnel_matches_brute_force(spark, sf_dir):
    """Funnel stages recomputed per user: earliest view, earliest click
    strictly after it, earliest purchase strictly after that."""
    ev = _events_rows(spark, sf_dir)
    by_user = {}
    for r in ev:
        by_user.setdefault(r.user_id, []).append((r.ts, r.event_type))
    want = {}
    for u, rows in by_user.items():
        views = [t for t, k in rows if k == "view"]
        if not views:
            continue
        t1 = min(views)
        clicks = [t for t, k in rows if k == "click" and t > t1]
        t2 = min(clicks) if clicks else None
        buys = [t for t, k in rows if k == "purchase" and t2 and t > t2]
        t3 = min(buys) if buys else None
        depth = 3 if t3 else (2 if t2 else 1)
        us = lambda t: None if t is None else int(t.timestamp() * 1_000_000)  # noqa: E731
        want[u] = (us(t1), us(t2), us(t3), depth)
    got = relational.REGISTRY["window_funnel"].fn(spark, sf_dir).collect()
    assert len(got) == len(want)
    for r in got:
        assert (r.t1_us, r.t2_us, r.t3_us, r.depth) == want[r.user_id]


def test_retention_cohorts_matches_brute_force(spark, sf_dir):
    ev = _events_rows(spark, sf_dir)
    first = {}
    for r in ev:
        wk = int(r.ts.timestamp()) // 604800
        if r.user_id not in first or wk < first[r.user_id]:
            first[r.user_id] = wk
    cells = {}
    for r in ev:
        wk = int(r.ts.timestamp()) // 604800
        cells.setdefault((first[r.user_id], wk - first[r.user_id]), set()).add(
            r.user_id
        )
    got = relational.REGISTRY["retention_cohorts"].fn(spark, sf_dir).collect()
    assert {(r.cohort_wk, r.wk_offset): r.n_users for r in got} == {
        k: len(v) for k, v in cells.items()
    }


def test_cost_distance_matches_brute_force(spark, sf_dir):
    """Fixed-round Bellman-Ford re-run in Python over the same cell
    counts: integer relaxation is order-independent, so equality is
    exact."""
    cells = {
        (r.cy, r.cx): r.x for r in relational._cell_counts(spark, sf_dir).collect()
    }
    src = min(cells, key=lambda k: (-cells[k], k))
    dist = {src: 0}
    for _ in range(relational._CD_ROUNDS):
        nxt = dict(dist)
        for (cy, cx), d in dist.items():
            for dy in (-1, 0, 1):
                for dx in (-1, 0, 1):
                    if (dy, dx) == (0, 0):
                        continue
                    nb = (cy + dy, cx + dx)
                    if nb in cells:
                        cand = d + cells[nb]
                        if nb not in nxt or cand < nxt[nb]:
                            nxt[nb] = cand
        dist = nxt
    got = {
        (r.cy, r.cx): r.dist
        for r in relational.REGISTRY["cost_distance"].fn(spark, sf_dir).collect()
    }
    assert got == dist


def test_rasterize_segments_matches_brute_force(spark, sf_dir):
    """DDA walk re-run in Python (exact integer interpolation), counting
    entries and distinct users per cell."""
    ev = _events_rows(spark, sf_dir)
    cell = relational._GI_CELL
    import math

    fixes = {}
    for r in ev:
        lat = (r.event_id * 7919 % 2000) / 100.0
        lon = (r.event_id * 104729 % 2400) / 100.0 + 10.0
        fixes.setdefault(r.user_id, []).append(
            (int(r.ts.timestamp() * 1000), r.event_id,
             math.floor(lat / cell), math.floor(lon / cell))
        )
    entries, users = {}, {}
    for u, rows in fixes.items():
        rows.sort()
        for (_, _, ocy, ocx), (_, _, dcy, dcx) in zip(rows, rows[1:]):
            steps = max(abs(dcy - ocy), abs(dcx - ocx))
            if steps < 1:
                continue
            for i in range(1, steps + 1):
                c = ((ocy * steps + i * (dcy - ocy)) // steps,
                     (ocx * steps + i * (dcx - ocx)) // steps)
                entries[c] = entries.get(c, 0) + 1
                users.setdefault(c, set()).add(u)
    got = relational.REGISTRY["rasterize_segments"].fn(spark, sf_dir).collect()
    assert {(r.cy, r.cx): (r.n_entries, r.n_users) for r in got} == {
        c: (n, len(users[c])) for c, n in entries.items()
    }


def test_winnowing_fingerprint_matches_brute_force(spark, sf_dir):
    """Winnowing re-run in Python (hashlib md5, rightmost-min rule) plus
    the MOSS guarantee: every full window of _WN_W gram hashes contributes
    a selection, and every selected position is the rightmost argmin of at
    least one window."""
    import hashlib

    from filda_spark import training as T

    K, W, PM = T._WN_K, T._WN_W, T._WN_POSMOD
    docs = relational._t(spark, sf_dir, "documents").select(
        "doc_id", "text"
    ).collect()
    want = set()
    for r in docs:
        toks = r.text.split(" ")
        if len(toks) < K + W - 1:
            continue
        hs = [
            int(
                hashlib.md5(" ".join(toks[i:i + K]).encode()).hexdigest()[:10], 16
            )
            for i in range(len(toks) - K + 1)
        ]
        assert len(hs) < PM  # the packed-key position bound holds
        for s in range(len(hs) - W + 1):
            win = hs[s:s + W]
            m = min(win)
            pos = s + max(i for i, h in enumerate(win) if h == m)
            want.add((r.doc_id, m, pos))
    got = {
        (r.doc_id, r.fp, r.sel_pos)
        for r in relational.REGISTRY["winnowing_fingerprint"]
        .fn(spark, sf_dir)
        .collect()
    }
    assert got == want


def test_domain_mix_weights_matches_brute_force(spark, sf_dir):
    from filda_spark import training as T

    docs = relational._t(spark, sf_dir, "documents").select(
        "source", "lang", "text"
    ).collect()
    agg = {}
    for r in docs:
        k = (r.source, r.lang)
        nd, nt = agg.get(k, (0, 0))
        agg[k] = (nd + 1, nt + len(r.text.split(" ")))
    tot = sum(nt for _, nt in agg.values())
    z = sum(nt ** T._MIX_ALPHA for _, nt in agg.values())
    got = relational.REGISTRY["domain_mix_weights"].fn(spark, sf_dir).collect()
    assert len(got) == len(agg)
    s = 0.0
    for r in got:
        nd, nt = agg[(r.source, r.lang)]
        assert (r.n_docs, r.n_tokens) == (nd, nt)
        assert abs(r.p_raw - nt / tot) < 2e-6
        assert abs(r.mix_weight - nt ** T._MIX_ALPHA / z) < 2e-6
        s += r.mix_weight
    assert abs(s - 1.0) < 1e-4  # weights are a distribution


def test_quadrat_chi2_matches_brute_force(spark, sf_dir):
    """VMR/chi2 recomputed densely in Python over the full 40x48 quadrat
    frame (empties included explicitly, not via the SS identity)."""
    pts = relational._pt_df(spark, sf_dir).collect()
    counts = {}
    for r in pts:
        c = (int(r.lat // relational._GI_CELL), int(r.lon // relational._GI_CELL))
        counts[c] = counts.get(c, 0) + 1
    nq = relational._QD_NQ
    n = len(pts)
    mean = n / nq
    dense = list(counts.values()) + [0] * (nq - len(counts))
    assert len(dense) == nq  # every inhabited cell is inside the domain
    ss = sum((x - mean) ** 2 for x in dense)
    got = relational.REGISTRY["quadrat_chi2"].fn(spark, sf_dir).collect()[0]
    assert (got.n_pts, got.n_quadrats, got.n_occupied) == (n, nq, len(counts))
    assert abs(got.mean_q - mean) < 1e-6
    assert abs(got.vmr - ss / (nq - 1) / mean) < 1e-5
    assert abs(got.chi2 - ss / mean) < 1e-3


def test_bilinear_resample_matches_brute_force(spark, sf_dir):
    """2x bilinear upsample re-run as a dense gather: output (oy, ox)
    samples the input at (oy/2 - 0.25, ox/2 - 0.25) with the triangle
    kernel; empty input cells are 0. Dyadic weights -> exact equality."""
    pts = relational._pt_df(spark, sf_dir).collect()
    counts = {}
    for r in pts:
        c = (int(r.lat // relational._GI_CELL), int(r.lon // relational._GI_CELL))
        counts[c] = counts.get(c, 0) + 1
    want = {}
    for (iy, ix), x in counts.items():
        for dy, wy in relational._BL_OFF:
            for dx, wx in relational._BL_OFF:
                k = (2 * iy + dy, 2 * ix + dx)
                want[k] = want.get(k, 0.0) + wy * wx * x
    got = relational.REGISTRY["bilinear_resample"].fn(spark, sf_dir).collect()
    assert {(r.oy, r.ox): r.val for r in got} == {
        k: round(v, 6) for k, v in want.items()
    }
    # gather identity on an interior output cell: value == triangle-kernel
    # sample of the input field
    iy, ix = next(iter(counts))
    oy, ox = 2 * iy, 2 * ix
    fy, fx = oy / 2 - 0.25, ox / 2 - 0.25
    val = sum(
        counts.get((jy, jx), 0)
        * max(0.0, 1 - abs(fy - jy))
        * max(0.0, 1 - abs(fx - jx))
        for jy in (iy - 1, iy, iy + 1)
        for jx in (ix - 1, ix, ix + 1)
    )
    assert abs(want[(oy, ox)] - val) < 1e-12


def test_acf_lags_matches_brute_force(spark, sf_dir):
    ev = relational._t(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "value"
    ).collect()
    series = {}
    for r in sorted(ev, key=lambda r: (r.user_id, r.ts, r.event_id)):
        series.setdefault(r.user_id, []).append(r.value)
    want = {}
    for u, xs in series.items():
        n = len(xs)
        if n < relational._ACF_MIN_N:
            continue
        mu = sum(xs) / n
        ss = sum((x - mu) ** 2 for x in xs)
        if ss <= 0:
            continue
        for k in (1, 2, 3):
            c = sum((xs[t] - mu) * (xs[t - k] - mu) for t in range(k, n))
            want[(u, k)] = c / ss
    got = relational.REGISTRY["acf_lags"].fn(spark, sf_dir).collect()
    assert {(r.user_id, r.lag_k) for r in got} == set(want)
    for r in got:
        assert abs(r.acf - want[(r.user_id, r.lag_k)]) < 2e-6
        assert -1.0 - 1e-9 <= r.acf <= 1.0 + 1e-9


def test_common_neighbors_matches_brute_force(spark, sf_dir):
    li = relational._t(spark, sf_dir, "lineitem").filter("l_linenumber = 1").select(
        "l_orderkey", "l_partkey"
    ).collect()
    N = relational._CN_N
    edges = set()
    for r in li:
        a, b = r.l_orderkey % N, r.l_partkey % N
        if a != b:
            edges.add((min(a, b), max(a, b)))
    nbrs = {}
    for u, v in edges:
        nbrs.setdefault(u, set()).add(v)
        nbrs.setdefault(v, set()).add(u)
    scores = {}
    for y, ns in nbrs.items():
        ns = sorted(ns)
        for i in range(len(ns)):
            for j in range(i + 1, len(ns)):
                p = (ns[i], ns[j])
                if p not in edges:
                    scores[p] = scores.get(p, 0) + 1
    ranked = sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))
    want = ranked[: relational._CN_TOPK]
    got = relational.REGISTRY["common_neighbors"].fn(spark, sf_dir).collect()
    assert [((r.u, r.v), r.cn) for r in got] == want
    for r in got:
        jac = r.cn / (len(nbrs[r.u]) + len(nbrs[r.v]) - r.cn)
        assert abs(r.jaccard - jac) < 1e-6


def test_bm25_score_matches_brute_force(spark, sf_dir):
    import math

    from filda_spark import training as T

    docs = relational._t(spark, sf_dir, "documents").select(
        "doc_id", "text"
    ).collect()
    n = len(docs)
    dls = {r.doc_id: len(r.text.split(" ")) for r in docs}
    avgdl = sum(dls.values()) / n
    df = {t: 0 for t in T._BM25_TERMS}
    tfs = {}
    for r in docs:
        toks = r.text.split(" ")
        for t in T._BM25_TERMS:
            c = toks.count(t)
            if c:
                df[t] += 1
                tfs[(r.doc_id, t)] = c
    scores = {}
    for (d, t), tf in tfs.items():
        idf = math.log(1.0 + (n - df[t] + 0.5) / (df[t] + 0.5))
        k1, b = T._BM25_K1, T._BM25_B
        term = tf * (k1 + 1.0) / (tf + k1 * (1.0 - b + b * dls[d] / avgdl))
        scores[d] = scores.get(d, 0.0) + idf * term
    ranked = sorted(
        ((round(s, 6), d) for d, s in scores.items()), key=lambda x: (-x[0], x[1])
    )[: T._BM25_TOPK]
    got = relational.REGISTRY["bm25_score"].fn(spark, sf_dir).collect()
    assert [(r.bm25, r.doc_id) for r in got] == ranked
    assert [r.rk for r in got] == list(range(1, len(ranked) + 1))


def test_markov_transitions_matches_brute_force(spark, sf_dir):
    ev = relational._t(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "event_type"
    ).collect()
    seqs = {}
    for r in sorted(ev, key=lambda r: (r.user_id, r.ts, r.event_id)):
        seqs.setdefault(r.user_id, []).append(r.event_type)
    counts = {}
    for xs in seqs.values():
        for a, b in zip(xs, xs[1:]):
            counts[(a, b)] = counts.get((a, b), 0) + 1
    row_tot = {}
    for (a, _), n in counts.items():
        row_tot[a] = row_tot.get(a, 0) + n
    got = relational.REGISTRY["markov_transitions"].fn(spark, sf_dir).collect()
    assert {(r.from_state, r.to_state): r.n for r in got} == counts
    for r in got:
        assert abs(r.p - counts[(r.from_state, r.to_state)] / row_tot[r.from_state]) < 1e-6
    # probabilities are row-stochastic
    sums = {}
    for r in got:
        sums[r.from_state] = sums.get(r.from_state, 0.0) + r.p
    assert all(abs(s - 1.0) < 1e-4 for s in sums.values())


def test_lorenz_gini_matches_brute_force(spark, sf_dir):
    ev = relational._t(spark, sf_dir, "events").select(
        "event_type", "event_id", "value"
    ).collect()
    groups = {}
    for r in ev:
        groups.setdefault(r.event_type, []).append((r.value, r.event_id))
    got = {r.event_type: r for r in
           relational.REGISTRY["lorenz_gini"].fn(spark, sf_dir).collect()}
    assert set(got) == set(groups)
    for t, xs in groups.items():
        xs.sort()
        n = len(xs)
        tot = sum(v for v, _ in xs)
        g = 2.0 * sum((i + 1) * v for i, (v, _) in enumerate(xs)) / (n * tot) - (n + 1.0) / n
        assert got[t].n == n
        assert abs(got[t].total - tot) < 1e-4
        assert abs(got[t].gini - g) < 2e-6
        assert 0.0 <= got[t].gini <= 1.0  # positive values


def test_entropy_score_matches_brute_force(spark, sf_dir):
    import math

    docs = relational._t(spark, sf_dir, "documents").select(
        "doc_id", "text"
    ).collect()
    got = {r.doc_id: r for r in
           relational.REGISTRY["entropy_score"].fn(spark, sf_dir).collect()}
    assert set(got) == {r.doc_id for r in docs}
    for r in docs:
        toks = r.text.split(" ")
        counts = {}
        for t in toks:
            counts[t] = counts.get(t, 0) + 1
        n = len(toks)
        h = math.log(n) - sum(c * math.log(c) for c in counts.values()) / n
        row = got[r.doc_id]
        assert (row.n_tokens, row.n_distinct) == (n, len(counts))
        assert abs(row.entropy - h) < 2e-6
        # 6-dp rounding can sit half an ulp-of-round above the ln(k) bound
        assert -1e-6 <= row.entropy <= math.log(len(counts)) + 1e-6


def test_benford_deviation_matches_brute_force(spark, sf_dir):
    import math

    ev = relational._t(spark, sf_dir, "events").select(
        "event_type", "value"
    ).collect()
    counts, totals = {}, {}
    for r in ev:
        cents = int(round(r.value * 100))
        if cents < 1:
            continue
        d = int(str(cents)[0])
        counts[(r.event_type, d)] = counts.get((r.event_type, d), 0) + 1
        totals[r.event_type] = totals.get(r.event_type, 0) + 1
    got = relational.REGISTRY["benford_deviation"].fn(spark, sf_dir).collect()
    assert {(r.event_type, r.digit): r.n_obs for r in got} == counts
    for r in got:
        p_obs = counts[(r.event_type, r.digit)] / totals[r.event_type]
        p_ben = math.log10(1.0 + 1.0 / r.digit)
        assert abs(r.p_obs - p_obs) < 1e-6
        assert abs(r.p_benford - p_ben) < 1e-6
        assert abs(r.dev - (p_obs - p_ben)) < 2e-6


def test_ab_test_ztest_matches_brute_force(spark, sf_dir):
    import math

    ev = relational._t(spark, sf_dir, "events").select(
        "user_id", "event_type", "value"
    ).collect()
    conv = {}
    for r in ev:
        u = r.user_id
        conv.setdefault(u, 0)
        if r.event_type == relational._AB_GOAL and r.value >= relational._AB_VALUE_MIN:
            conv[u] = 1
    n0 = sum(1 for u in conv if u % 2 == 0)
    n1 = len(conv) - n0
    c0 = sum(c for u, c in conv.items() if u % 2 == 0)
    c1 = sum(conv.values()) - c0
    pp = (c0 + c1) / (n0 + n1)
    zv = (c1 / n1 - c0 / n0) / math.sqrt(pp * (1 - pp) * (1 / n0 + 1 / n1))
    got = relational.REGISTRY["ab_test_ztest"].fn(spark, sf_dir).collect()[0]
    assert (got.n0, got.n1, got.c0, got.c1) == (n0, n1, c0, c1)
    assert abs(got.p0 - c0 / n0) < 1e-6 and abs(got.p1 - c1 / n1) < 1e-6
    assert abs(got.z - zv) < 2e-6
    assert 0.0 <= got.p_value <= 1.0


def test_edit_distance_pairs_matches_brute_force(spark, sf_dir):
    """Candidates re-derived from the winnowing brute force; Levenshtein
    re-run as the classic DP on the 256-char prefixes."""
    import hashlib

    from filda_spark import training as T

    K, W = T._WN_K, T._WN_W
    docs = relational._t(spark, sf_dir, "documents").select(
        "doc_id", "text"
    ).collect()
    texts = {r.doc_id: r.text for r in docs}
    fps = {}
    for r in docs:
        toks = r.text.split(" ")
        if len(toks) < K + W - 1:
            continue
        hs = [int(hashlib.md5(" ".join(toks[i:i + K]).encode()).hexdigest()[:10], 16)
              for i in range(len(toks) - K + 1)]
        sel = set()
        for s in range(len(hs) - W + 1):
            win = hs[s:s + W]
            m = min(win)
            sel.add(m)
        for f in sel:
            fps.setdefault(f, set()).add(r.doc_id)
    pair_shared = {}
    for f, ds in fps.items():
        if not (2 <= len(ds) <= T._ED_FP_CAP):
            continue
        ds = sorted(ds)
        for i in range(len(ds)):
            for j in range(i + 1, len(ds)):
                p = (ds[i], ds[j])
                pair_shared[p] = pair_shared.get(p, 0) + 1
    want = {p: n for p, n in pair_shared.items() if n >= T._ED_MIN_SHARED}

    def lev(a, b):
        prev = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            cur = [i]
            for j, cb in enumerate(b, 1):
                cur.append(min(prev[j] + 1, cur[j - 1] + 1,
                               prev[j - 1] + (ca != cb)))
            prev = cur
        return prev[-1]

    got = relational.REGISTRY["edit_distance_pairs"].fn(spark, sf_dir).collect()
    assert {(r.u, r.v): r.n_shared for r in got} == want
    for r in got:
        pa, pb = texts[r.u][: T._ED_PREFIX], texts[r.v][: T._ED_PREFIX]
        d = lev(pa, pb)
        assert r.lev == d
        assert abs(r.sim - (1.0 - d / max(len(pa), len(pb)))) < 1e-6


def test_moran_correlogram_matches_brute_force(spark, sf_dir):
    """Per-ring Moran's I recomputed densely: z = x - mean carried as
    float, every Chebyshev-ring ordered pair enumerated."""
    cells = {
        (r.cy, r.cx): r.x
        for r in relational._cell_counts(spark, sf_dir).collect()
    }
    n = len(cells)
    mean = sum(cells.values()) / n
    den = sum((x - mean) ** 2 for x in cells.values())
    num = {}
    w = {}
    ks = list(cells)
    for (ay, ax) in ks:
        for dy in range(-relational._MC_R, relational._MC_R + 1):
            for dx in range(-relational._MC_R, relational._MC_R + 1):
                if dy == 0 and dx == 0:
                    continue
                b = (ay + dy, ax + dx)
                if b not in cells:
                    continue
                ring = max(abs(dy), abs(dx))
                num[ring] = num.get(ring, 0.0) + (cells[(ay, ax)] - mean) * (
                    cells[b] - mean
                )
                w[ring] = w.get(ring, 0) + 1
    got = relational.REGISTRY["moran_correlogram"].fn(spark, sf_dir).collect()
    assert {r.ring for r in got} == set(w)
    for r in got:
        assert r.w_pairs == w[r.ring]
        want_i = n * num[r.ring] / (w[r.ring] * den)
        assert abs(r.moran_i - want_i) < 1e-5
        assert r.e_i == round(-1.0 / (n - 1), 6)


def test_huff_gravity_matches_brute_force(spark, sf_dir):
    """Visit probabilities re-derived with the dense K-facility loop;
    rows must cover cells x facilities exactly and sum to 1 per cell."""
    cells = {
        (r.cy, r.cx): r.x
        for r in relational._cell_counts(spark, sf_dir).collect()
    }
    fac = sorted(cells.items(), key=lambda kv: (-kv[1], kv[0]))[
        : relational._HF_K
    ]
    got = relational.REGISTRY["huff_gravity"].fn(spark, sf_dir).collect()
    assert len(got) == len(cells) * len(fac)
    bycell = {}
    for r in got:
        bycell.setdefault((r.cy, r.cx), {})[(r.fcy, r.fcx)] = r.p_visit
    for (cy, cx), probs in bycell.items():
        wts = {
            (fy, fx): a
            / ((cy - fy) ** 2 + (cx - fx) ** 2 + relational._HF_SMOOTH)
            for (fy, fx), a in fac
        }
        tot = sum(wts.values())
        assert abs(sum(probs.values()) - 1.0) < 5e-6
        for k, p in probs.items():
            assert abs(p - wts[k] / tot) < 1e-5


def test_runs_test_matches_brute_force(spark, sf_dir):
    """n1/n2/runs recomputed from the per-user sorted sequence; z from
    the textbook Wald-Wolfowitz moments."""
    ev = relational._t(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "value"
    ).collect()
    series = {}
    for r in sorted(ev, key=lambda r: (r.user_id, r.ts, r.event_id)):
        series.setdefault(r.user_id, []).append(r.value)
    want = {}
    for u, xs in series.items():
        n = len(xs)
        if n < relational._RT_MIN_N:
            continue
        mu = sum(xs) / n
        s = [1 if x > mu else 0 for x in xs]
        n1 = sum(s)
        n2 = n - n1
        if n1 == 0 or n2 == 0 or 2 * n1 * n2 <= n1 + n2:
            continue
        runs = 1 + sum(1 for i in range(1, n) if s[i] != s[i - 1])
        e = 2.0 * n1 * n2 / (n1 + n2) + 1.0
        var = (
            2.0 * n1 * n2 * (2.0 * n1 * n2 - n1 - n2)
            / ((n1 + n2) ** 2 * (n1 + n2 - 1.0))
        )
        want[u] = (n1, n2, runs, e, var)
    got = relational.REGISTRY["runs_test"].fn(spark, sf_dir).collect()
    assert {r.user_id for r in got} == set(want)
    for r in got:
        n1, n2, runs, e, var = want[r.user_id]
        assert (r.n1, r.n2, r.runs) == (n1, n2, runs)
        assert abs(r.z - (runs - e) / var**0.5) < 1e-5


def test_jsd_divergence_matches_brute_force(spark, sf_dir):
    """JSD per language pair recomputed from dense per-lang term
    distributions; bounded by [0, ln 2] and symmetric by construction."""
    import math

    docs = relational._t(spark, sf_dir, "documents").select(
        "lang", "text"
    ).collect()
    tf = {}
    for r in docs:
        d = tf.setdefault(r.lang, {})
        for t in r.text.split(" "):
            d[t] = d.get(t, 0) + 1
    tot = {lang: sum(d.values()) for lang, d in tf.items()}
    want = {}
    for l1 in tf:
        for l2 in tf:
            if not l1 < l2:
                continue
            vocab = set(tf[l1]) | set(tf[l2])
            jsd = 0.0
            for t in vocab:
                p = tf[l1].get(t, 0) / tot[l1]
                q = tf[l2].get(t, 0) / tot[l2]
                m = (p + q) / 2.0
                if p > 0:
                    jsd += p * math.log(p / m)
                if q > 0:
                    jsd += q * math.log(q / m)
            want[(l1, l2)] = (len(vocab), jsd / 2.0)
    got = relational.REGISTRY["jsd_divergence"].fn(spark, sf_dir).collect()
    assert {(r.l1, r.l2) for r in got} == set(want)
    for r in got:
        n_terms, jsd = want[(r.l1, r.l2)]
        assert r.n_terms == n_terms
        assert abs(r.jsd - jsd) < 1e-5
        assert -1e-9 <= r.jsd <= math.log(2) + 1e-9


def test_vector_quantize_matches_brute_force(spark, sf_dir):
    """PQ encode re-run densely in float64: every (vector, subspace)
    scored against all K codes, argmin with the (d2, code) tie-break."""
    from filda_spark import training as T

    vecs = {
        r.vec_id: [float(v) for v in r.embedding]
        for r in relational._t(spark, sf_dir, "embeddings").collect()
    }
    sub = lambda v, s: v[s * T._PQ_SUBDIM : (s + 1) * T._PQ_SUBDIM]  # noqa: E731
    dot = lambda a, b: sum(x * y for x, y in zip(a, b))  # noqa: E731
    want = {}
    for vid, v in vecs.items():
        for s in range(T._PQ_SUBS):
            sv = sub(v, s)
            best = min(
                (
                    (
                        dot(sv, sv) - 2.0 * dot(sv, sub(vecs[c], s))
                        + dot(sub(vecs[c], s), sub(vecs[c], s)),
                        c,
                    )
                    for c in range(T._PQ_K)
                ),
            )
            want[(vid, s)] = best
    got = relational.REGISTRY["vector_quantize"].fn(spark, sf_dir).collect()
    assert len(got) == len(want)
    for r in got:
        d2, code = want[(r.vec_id, r.sub_id)]
        assert r.code == code
        assert abs(r.d2 - d2) < 1e-4


def test_area_weighted_regrid_matches_brute_force(spark, sf_dir):
    """Dense regrid: every source cell split over the targets it overlaps
    with exact fifth-unit lengths; mass conservation asserted."""
    cells = {
        (r.cy, r.cx): r.x
        for r in relational._cell_counts(spark, sf_dir).collect()
    }
    S, D = relational._RG_SRC, relational._RG_DST
    want = {}
    for (cy, cx), x in cells.items():
        for ty in range(S * cy // D, (S * cy + S - 1) // D + 1):
            for tx in range(S * cx // D, (S * cx + S - 1) // D + 1):
                ovy = min(S * cy + S, D * ty + D) - max(S * cy, D * ty)
                ovx = min(S * cx + S, D * tx + D) - max(S * cx, D * tx)
                k = (ty, tx)
                want[k] = want.get(k, 0) + x * ovy * ovx
    got = relational.REGISTRY["area_weighted_regrid"].fn(spark, sf_dir).collect()
    assert {(r.ty, r.tx): r.num for r in got} == want
    for r in got:
        assert r.val == want[(r.ty, r.tx)] / (S * S)
    # conservative: total output mass == total points
    assert sum(r.num for r in got) == (S * S) * sum(cells.values())


def test_morph_close_matches_brute_force(spark, sf_dir):
    """Closing re-run densely over the above-mean mask with set algebra;
    the mask itself must always survive (closing is extensive)."""
    cells = {
        (r.cy, r.cx): r.x
        for r in relational._cell_counts(spark, sf_dir).collect()
    }
    n, s = len(cells), sum(cells.values())
    occ = {c for c, x in cells.items() if x * n > s}
    off = [(dy, dx) for dy in (-1, 0, 1) for dx in (-1, 0, 1)]
    dil = {(cy + dy, cx + dx) for (cy, cx) in occ for dy, dx in off}
    clo = {
        c for c in dil
        if all((c[0] + dy, c[1] + dx) in dil for dy, dx in off)
    }
    got = relational.REGISTRY["morph_close"].fn(spark, sf_dir).collect()
    assert {(r.cy, r.cx) for r in got} == clo
    assert occ <= clo  # extensivity
    for r in got:
        assert r.was_in_mask == ((r.cy, r.cx) in occ)


def test_two_sfca_matches_brute_force(spark, sf_dir):
    """Both catchment steps re-run densely; ratios snapped to micro-units
    exactly as the engine does."""
    cells = {
        (r.cy, r.cx): r.x
        for r in relational._cell_counts(spark, sf_dir).collect()
    }
    R = relational._SF_R
    fac = sorted(cells.items(), key=lambda kv: (-kv[1], kv[0]))[
        : relational._SF_K
    ]
    r_micro = {}
    for (fy, fx), supply in fac:
        demand = sum(
            x
            for (cy, cx), x in cells.items()
            if abs(cy - fy) <= R and abs(cx - fx) <= R
        )
        r_micro[(fy, fx)] = round(1e6 * supply / demand)
    want = {}
    for (cy, cx) in cells:
        fs = [
            r_micro[(fy, fx)]
            for (fy, fx) in r_micro
            if abs(cy - fy) <= R and abs(cx - fx) <= R
        ]
        if fs:
            want[(cy, cx)] = (len(fs), sum(fs))
    got = relational.REGISTRY["two_sfca"].fn(spark, sf_dir).collect()
    assert {(r.cy, r.cx) for r in got} == set(want)
    for r in got:
        n_fac, a_micro = want[(r.cy, r.cx)]
        assert r.n_fac == n_fac
        assert abs(r.access - a_micro / 1e6) < 1e-9


def test_ols_trend_matches_numpy(spark, sf_dir):
    """Slope/intercept/r2 re-fit per type with numpy lstsq on the same
    (ms-offset, cents) pairs."""
    import numpy as np

    ev = relational._t(spark, sf_dir, "events").select(
        "event_type", "ts", "value"
    ).collect()
    t0 = np.datetime64("2024-01-01")
    groups = {}
    for r in ev:
        ms = (np.datetime64(r.ts, "ms") - np.datetime64(t0, "ms")).astype(int)
        groups.setdefault(r.event_type, []).append((ms, round(r.value * 100)))
    got = {r.event_type: r for r in
           relational.REGISTRY["ols_trend"].fn(spark, sf_dir).collect()}
    assert set(got) == set(groups)
    for et, pts in groups.items():
        x = np.array([p[0] for p in pts], dtype=float)
        y = np.array([p[1] for p in pts], dtype=float)
        A = np.vstack([x, np.ones_like(x)]).T
        (m, b), res, *_ = np.linalg.lstsq(A, y, rcond=None)
        r = got[et]
        assert r.n == len(pts)
        assert abs(r.slope_per_day - m * 86400000 / 100.0) < 1e-4
        assert abs(r.intercept - b / 100.0) < 1e-3
        yhat = m * x + b
        ssr = ((yhat - y.mean()) ** 2).sum()
        sst = ((y - y.mean()) ** 2).sum()
        assert abs(r.r2 - ssr / sst) < 1e-5


def test_pmi_pairs_matches_brute_force(spark, sf_dir):
    import math

    ev = relational._t(spark, sf_dir, "events").select(
        "user_id", "event_type"
    ).collect()
    by_user = {}
    for r in ev:
        by_user.setdefault(r.user_id, set()).add(r.event_type)
    n = len(by_user)
    marg = {}
    pair = {}
    for types in by_user.values():
        ts = sorted(types)
        for t in ts:
            marg[t] = marg.get(t, 0) + 1
        for i in range(len(ts)):
            for j in range(i + 1, len(ts)):
                p = (ts[i], ts[j])
                pair[p] = pair.get(p, 0) + 1
    got = relational.REGISTRY["pmi_pairs"].fn(spark, sf_dir).collect()
    assert {(r.t1, r.t2): r.c_ab for r in got} == pair
    for r in got:
        lift = n * pair[(r.t1, r.t2)] / (marg[r.t1] * marg[r.t2])
        assert abs(r.lift - lift) < 1e-5
        assert abs(r.pmi - math.log(lift)) < 1e-5


def test_nearest_facility_dist_matches_brute_force(spark, sf_dir):
    cells = {
        (r.cy, r.cx): r.x
        for r in relational._cell_counts(spark, sf_dir).collect()
    }
    fac = [
        k
        for k, _ in sorted(cells.items(), key=lambda kv: (-kv[1], kv[0]))[
            : relational._SF_K
        ]
    ]
    got = relational.REGISTRY["nearest_facility_dist"].fn(
        spark, sf_dir
    ).collect()
    assert len(got) == len(cells)
    for r in got:
        best = min(
            ((r.cy - fy) ** 2 + (r.cx - fx) ** 2, fy, fx) for fy, fx in fac
        )
        assert (r.d2, r.fcy, r.fcx) == best
        assert abs(r.dist_deg - round(best[0] ** 0.5 * relational._GI_CELL, 6)) < 1e-9


def test_directional_variogram_matches_brute_force(spark, sf_dir):
    cells = {
        (r.cy, r.cx): r.x
        for r in relational._cell_counts(spark, sf_dir).collect()
    }
    acc = {}
    R = relational._DV_R
    for (ay, ax), xa in cells.items():
        for dy in range(-R, R + 1):
            for dx in range(-R, R + 1):
                if (dy, dx) <= (0, 0) and not (dy > 0):
                    # forward gate: (dy > 0) or (dy == 0 and dx > 0)
                    if not (dy == 0 and dx > 0):
                        continue
                if not (dy == 0 or dx == 0 or abs(dy) == abs(dx)):
                    continue
                b = (ay + dy, ax + dx)
                if b not in cells:
                    continue
                if dy == 0:
                    d = "EW"
                elif dx == 0:
                    d = "NS"
                elif dy == dx:
                    d = "NE"
                else:
                    d = "NW"
                k = (d, max(abs(dy), abs(dx)))
                n, s = acc.get(k, (0, 0))
                acc[k] = (n + 1, s + (xa - cells[b]) ** 2)
    got = relational.REGISTRY["directional_variogram"].fn(
        spark, sf_dir
    ).collect()
    assert {(r.dir, r.lag) for r in got} == set(acc)
    for r in got:
        n, s = acc[(r.dir, r.lag)]
        assert r.n_pairs == n
        assert abs(r.gamma - s / (2.0 * n)) < 1e-5


def test_hits_scores_matches_brute_force(spark, sf_dir):
    li = relational._t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey"
    ).collect()
    N = relational._PR_N
    edges = {(r.l_orderkey % N, r.l_partkey % N) for r in li}
    nodes = sorted({u for u, _ in edges} | {v for _, v in edges})
    a = {v: 1.0 for v in nodes}
    for _ in range(relational._HITS_ITERS):
        h = {
            u: sum(a[v] for (uu, v) in edges if uu == u) for u in nodes
        }
        a = {
            v: sum(h[u] for (u, vv) in edges if vv == v) for v in nodes
        }
    ma, mh = max(a.values()), max(h.values())
    got = relational.REGISTRY["hits_scores"].fn(spark, sf_dir).collect()
    assert {r.node for r in got} == set(nodes)
    for r in got:
        assert abs(r.auth - a[r.node] / ma) < 1e-5
        assert abs(r.hub - h[r.node] / mh) < 1e-5


def test_seasonal_residuals_matches_brute_force(spark, sf_dir):
    ev = relational._t(spark, sf_dir, "events").select(
        "event_id", "event_type", "ts", "value"
    ).collect()
    groups = {}
    for r in ev:
        k = (r.event_type, r.ts.hour)
        groups.setdefault(k, []).append((r.event_id, round(r.value * 100)))
    want = {}
    for (et, hr), rows in groups.items():
        n = len(rows)
        if n < 2:
            continue
        ys = [y for _, y in rows]
        s, ss = sum(ys), sum(y * y for y in ys)
        if n * ss <= s * s:
            continue
        mean = s / n
        sd = ((n * ss - s * s) / (n * (n - 1))) ** 0.5
        for eid, y in rows:
            want[eid] = (et, hr, (y - mean) / sd)
    got = relational.REGISTRY["seasonal_residuals"].fn(spark, sf_dir).collect()
    assert {r.event_id for r in got} == set(want)
    for r in got:
        et, hr, z = want[r.event_id]
        assert (r.event_type, r.hr) == (et, hr)
        assert abs(r.z - z) < 1e-5


def test_vocab_prune_matches_brute_force(spark, sf_dir):
    import math

    docs = relational._t(spark, sf_dir, "documents").select(
        "doc_id", "text"
    ).collect()
    n = len(docs)
    tf, df = {}, {}
    for r in docs:
        toks = r.text.split(" ")
        for t in toks:
            tf[t] = tf.get(t, 0) + 1
        for t in set(toks):
            df[t] = df.get(t, 0) + 1
    got = relational.REGISTRY["vocab_prune"].fn(spark, sf_dir).collect()
    assert {r.term for r in got} == set(tf)
    for r in got:
        assert (r.tf, r.df) == (tf[r.term], df[r.term])
        assert abs(r.idf - math.log(n / df[r.term])) < 1e-5
        want_cls = (
            "stop" if 2 * df[r.term] >= n else "rare" if df[r.term] <= 2 else "keep"
        )
        assert r.__getattr__("class") == want_cls


def test_adamic_adar_matches_brute_force(spark, sf_dir):
    import math

    li = relational._t(spark, sf_dir, "lineitem").filter(
        "l_linenumber = 1"
    ).select("l_orderkey", "l_partkey").collect()
    N = relational._CN_N
    edges = set()
    for r in li:
        a, b = r.l_orderkey % N, r.l_partkey % N
        if a != b:
            edges.add((min(a, b), max(a, b)))
    nbr = {}
    for u, v in edges:
        nbr.setdefault(u, set()).add(v)
        nbr.setdefault(v, set()).add(u)
    want = {}
    nodes = sorted(nbr)
    for i, u in enumerate(nodes):
        for v in nodes[i + 1:]:
            if (u, v) in edges:
                continue
            cz = nbr[u] & nbr[v]
            if len(cz) >= 2:
                aa = sum(1.0 / math.log(len(nbr[z])) for z in sorted(cz))
                ra = sum(1.0 / len(nbr[z]) for z in sorted(cz))
                want[(u, v)] = (len(cz), aa, ra)
    got = relational.REGISTRY["adamic_adar"].fn(spark, sf_dir).collect()
    assert {(r.u, r.v): r.cn for r in got} == {k: v[0] for k, v in want.items()}
    for r in got:
        _, aa, ra = want[(r.u, r.v)]
        assert abs(r.adamic_adar - aa) < 1e-5
        assert abs(r.resource_alloc - ra) < 1e-5


def test_radiation_model_matches_brute_force(spark, sf_dir):
    cells = {
        (r.cy, r.cx): r.x
        for r in relational._cell_counts(spark, sf_dir).collect()
    }
    fac = [
        (k, x)
        for (k, x) in sorted(
            cells.items(), key=lambda kv: (-kv[1], kv[0])
        )[: relational._SF_K]
    ]
    got = relational.REGISTRY["radiation_model"].fn(spark, sf_dir).collect()
    assert len(got) == len(fac) * (len(fac) - 1)
    by_pair = {((r.icy, r.icx), (r.jcy, r.jcx)): r for r in got}
    for (i, mi) in fac:
        for (j, mj) in fac:
            if i == j:
                continue
            d2 = (j[0] - i[0]) ** 2 + (j[1] - i[1]) ** 2
            s = sum(
                x
                for c, x in cells.items()
                if c != i
                and c != j
                and (c[0] - i[0]) ** 2 + (c[1] - i[1]) ** 2 < d2
            )
            r = by_pair[(i, j)]
            assert (r.mi, r.mj, r.d2, r.s_ij) == (mi, mj, d2, s)
            flow = mi * mi * mj / ((mi + s) * (mi + mj + s))
            assert abs(r.flow - flow) < 1e-6


def test_ewma_smooth_matches_fold(spark, sf_dir):
    ev = relational._t(spark, sf_dir, "events").selectExpr(
        "user_id", "unix_millis(CAST(ts AS TIMESTAMP)) AS t_ms", "event_id",
        "CAST(value AS DOUBLE) AS v"
    ).collect()
    by_user = {}
    for r in ev:
        by_user.setdefault(r.user_id, []).append((r.t_ms, r.event_id, r.v))
    a = relational._EWMA_A
    got = relational.REGISTRY["ewma_smooth"].fn(spark, sf_dir).collect()
    assert len(got) == len(by_user)
    for r in got:
        seq = [v for _, _, v in sorted(by_user[r.user_id])]
        acc = seq[0]
        for x in seq[1:]:
            acc = a * x + (1.0 - a) * acc
        assert r.n == len(seq)
        assert r.last_v == round(seq[-1], 6)
        assert r.ewma == round(acc, 6)  # fold is bit-identical, not approx


def test_trajectory_hausdorff_matches_brute_force(spark, sf_dir):
    ev = relational._t(spark, sf_dir, "events").select(
        "user_id", "event_id"
    ).collect()
    pts = {}
    for r in ev:
        jump = 2000 if r.event_id % 13 < 4 else 0
        pts.setdefault(r.user_id, set()).add(
            (
                (r.user_id % 120) * 1000 + jump + r.event_id % 7,
                (r.user_id % 300) * 1000 + jump + r.event_id % 5,
            )
        )
    cellv = {
        u: {(iy // 1000, ix // 1000) for iy, ix in ps}
        for u, ps in pts.items()
    }
    cand = {}
    users = sorted(cellv)
    for i, u1 in enumerate(users):
        for u2 in users[i + 1:]:
            sh = len(cellv[u1] & cellv[u2])
            if sh:
                cand[(u1, u2)] = sh
    top = sorted(cand.items(), key=lambda kv: (-kv[1], kv[0]))[: relational._TH_K]
    got = relational.REGISTRY["trajectory_hausdorff"].fn(spark, sf_dir).collect()
    assert {(r.u1, r.u2): r.shared for r in got} == dict(top)

    def directed(A, B):
        return max(
            min((ay - by) ** 2 + (ax - bx) ** 2 for by, bx in B) for ay, ax in A
        )

    for r in got:
        hf = directed(pts[r.u1], pts[r.u2])
        hr = directed(pts[r.u2], pts[r.u1])
        assert (r.h_fwd, r.h_rev, r.h_d2) == (hf, hr, max(hf, hr))
        assert (r.n1, r.n2) == (len(pts[r.u1]), len(pts[r.u2]))
        assert abs(r.hausdorff_deg - round(max(hf, hr) ** 0.5 / 1000.0, 6)) < 1e-9


def test_twi_composes_terrain_primitives(spark, sf_dir):
    import math

    acc = {
        (r.cy, r.cx): r.acc
        for r in relational.REGISTRY["flow_accumulation"].fn(spark, sf_dir).collect()
    }
    sa = relational.REGISTRY["slope_aspect"].fn(spark, sf_dir).collect()
    got = {
        (r.cy, r.cx): (r.acc, r.slope, r.twi)
        for r in relational.REGISTRY["twi"].fn(spark, sf_dir).collect()
    }
    assert len(got) == len(sa)  # interior-cell gate comes from slope_aspect
    for r in sa:
        a, s, t = got[(r.cy, r.cx)]
        assert a == acc[(r.cy, r.cx)] and s == r.slope
        want = round(
            math.log(
                a * relational._GI_CELL / max(r.slope, relational._TWI_EPS)
            ),
            6,
        )
        assert abs(t - want) < 1e-9


def test_label_propagation_matches_brute_force(spark, sf_dir):
    li = relational._t(spark, sf_dir, "lineitem").filter(
        "l_linenumber = 1"
    ).select("l_orderkey", "l_partkey").collect()
    N = relational._CN_N
    edges = set()
    for r in li:
        a, b = r.l_orderkey % N, r.l_partkey % N
        if a != b:
            edges.add((min(a, b), max(a, b)))
    nbr = {}
    for u, v in edges:
        nbr.setdefault(u, []).append(v)
        nbr.setdefault(v, []).append(u)
    lbl = {x: x for x in nbr}
    for _ in range(relational._LP_ROUNDS):
        new = {}
        for x, ys in nbr.items():
            cnt = {}
            for y in ys:
                cnt[lbl[y]] = cnt.get(lbl[y], 0) + 1
            new[x] = min(cnt, key=lambda k: (-cnt[k], k))
        lbl = new
    sizes = {}
    for v in lbl.values():
        sizes[v] = sizes.get(v, 0) + 1
    got = relational.REGISTRY["label_propagation"].fn(spark, sf_dir).collect()
    assert {r.x: (r.lbl, r.csize) for r in got} == {
        x: (v, sizes[v]) for x, v in lbl.items()
    }
    assert len(sizes) > 1  # non-vacuous: real community structure


def test_change_detection_matches_brute_force(spark, sf_dir):
    import math

    series = relational._mk_series(spark, sf_dir).collect()
    agg = {}
    for r in series:
        e, l = agg.get((r.cy, r.cx), (0, 0))
        if r.tb < relational._CD_HALF:
            e += r.x
        else:
            l += r.x
        agg[(r.cy, r.cx)] = (e, l)
    got = relational.REGISTRY["change_detection"].fn(spark, sf_dir).collect()
    assert len(got) == len(agg)
    for r in got:
        e, l = agg[(r.cy, r.cx)]
        assert (r.early, r.late, r.delta) == (e, l, l - e)
        assert abs(r.log_ratio - round(math.log((l + 1) / (e + 1)), 6)) < 1e-9
        assert abs(r.z - round((l - e) / math.sqrt(l + e), 6)) < 1e-9


def test_space_time_scan_matches_brute_force(spark, sf_dir):
    import math

    series = relational._mk_series(spark, sf_dir).collect()
    xs = {(r.cy, r.cx, r.tb): r.x for r in series}
    centers = {(cy, cx) for cy, cx, _ in xs}
    B, L = relational._MK_BUCKETS, relational._STS_MAXLEN
    w = {}
    for (cy, cx, tb), x in xs.items():
        for dy in (-1, 0, 1):
            for dx in (-1, 0, 1):
                c = (cy + dy, cx + dx)
                if c in centers:
                    w[(c[0], c[1], tb)] = w.get((c[0], c[1], tb), 0) + x
    C = sum(xs.values())
    st = {}
    for (cy, cx, tb), v in w.items():
        st[(cy, cx)] = st.get((cy, cx), 0) + v
    rows = []
    for (cy, cx), stv in st.items():
        for length in range(1, L + 1):
            for s in range(0, B - length + 1):
                c = sum(w.get((cy, cx, tb), 0) for tb in range(s, s + length))
                if c == 0:
                    continue
                tt = sum(
                    v for (ky, kx, tb), v in xs.items() if s <= tb < s + length
                )
                e = stv * tt / C
                if c > e:
                    llr = c * math.log(c / e)
                    if c < C:
                        llr += (C - c) * math.log((C - c) / (C - e))
                else:
                    llr = 0.0
                rows.append((round(llr, 6), cy, cx, s, length, c, round(e, 6)))
    rows.sort(key=lambda t: (-t[0], t[1], t[2], t[3], t[4]))
    want = rows[: relational._STS_K]
    got = relational.REGISTRY["space_time_scan"].fn(spark, sf_dir).collect()
    assert [(r.llr, r.cy, r.cx, r.s, r.l, r.c, r.e) for r in got] == [
        (t[0], t[1], t[2], t[3], t[4], t[5], t[6]) for t in want
    ]
    assert got[0].llr > 0  # non-vacuous: a real cluster signal exists


def test_mobility_metrics_matches_brute_force(spark, sf_dir):
    ev = relational._t(spark, sf_dir, "events").selectExpr(
        "user_id", "unix_millis(CAST(ts AS TIMESTAMP)) AS t_ms", "event_id"
    ).collect()
    traj = {}
    for r in ev:
        jump = 2000 if r.event_id % 13 < 4 else 0
        traj.setdefault(r.user_id, []).append(
            (
                r.t_ms,
                r.event_id,
                (r.user_id % 120) * 1000 + jump + r.event_id % 7,
                (r.user_id % 300) * 1000 + jump + r.event_id % 5,
            )
        )
    got = relational.REGISTRY["mobility_metrics"].fn(spark, sf_dir).collect()
    assert len(got) == len(traj)
    for r in got:
        seq = [(y, x) for _, _, y, x in sorted(traj[r.user_id])]
        steps = [
            (a[0] - b[0]) ** 2 + (a[1] - b[1]) ** 2
            for a, b in zip(seq[1:], seq)
        ]
        n = len(seq)
        sy = sum(y for y, _ in seq)
        sx = sum(x for _, x in seq)
        sqq = sum(y * y + x * x for y, x in seq)
        rg2n = n * sqq - sy * sy - sx * sx
        assert r.n == n
        assert r.sum_step_d2 == sum(steps)
        assert r.max_step_d2 == (max(steps) if steps else 0)
        assert r.net_d2 == (seq[-1][0] - seq[0][0]) ** 2 + (
            seq[-1][1] - seq[0][1]
        ) ** 2
        assert int(r.rg2n) == rg2n
        assert abs(float(r.rg_deg) - round(rg2n**0.5 / n / 1000.0, 6)) < 1e-9


def test_rrf_fusion_matches_brute_force(spark, sf_dir):
    from filda_spark import training

    bm = relational.REGISTRY["bm25_score"].fn(spark, sf_dir).collect()
    docs = relational._t(spark, sf_dir, "documents").select(
        "doc_id", "n_chars"
    ).collect()
    top_len = sorted(docs, key=lambda r: (-r.n_chars, r.doc_id))[
        : training._RRF_N
    ]
    r1 = {r.doc_id: r.rk for r in bm}
    r2 = {r.doc_id: i + 1 for i, r in enumerate(top_len)}
    want = {}
    for d in set(r1) | set(r2):
        s = 0.0
        if d in r1:
            s += 1.0 / (training._RRF_C + r1[d])
        if d in r2:
            s += 1.0 / (training._RRF_C + r2[d])
        want[d] = (r1.get(d), r2.get(d), round(s, 6))
    got = relational.REGISTRY["rrf_fusion"].fn(spark, sf_dir).collect()
    assert {r.doc_id: (r.r_bm25, r.r_len, r.rrf) for r in got} == want
    assert any(d in r1 and d in r2 for d in want)  # overlap is exercised


def test_holt_linear_matches_fold(spark, sf_dir):
    ev = relational._t(spark, sf_dir, "events").selectExpr(
        "user_id", "unix_millis(CAST(ts AS TIMESTAMP)) AS t_ms", "event_id",
        "CAST(value AS DOUBLE) AS v"
    ).collect()
    by_user = {}
    for r in ev:
        by_user.setdefault(r.user_id, []).append((r.t_ms, r.event_id, r.v))
    a, g = relational._HOLT_A, relational._HOLT_G
    got = relational.REGISTRY["holt_linear"].fn(spark, sf_dir).collect()
    assert len(got) == len(by_user)
    for r in got:
        seq = [v for _, _, v in sorted(by_user[r.user_id])]
        l, b = seq[0], 0.0
        for x in seq[1:]:
            lp = a * x + (1.0 - a) * (l + b)
            b = g * (lp - l) + (1.0 - g) * b
            l = lp
        assert r.n == len(seq)
        assert r.level == round(l, 6)  # fold is bit-identical, not approx
        assert r.trend == round(b, 6)
        assert r.forecast1 == round(l + b, 6)


def test_profile_correlation_matches_brute_force(spark, sf_dir):
    ev = relational._t(spark, sf_dir, "events").selectExpr(
        "event_type", "hour(CAST(ts AS TIMESTAMP)) AS h"
    ).collect()
    m = {}
    for r in ev:
        m[(r.event_type, r.h)] = m.get((r.event_type, r.h), 0) + 1
    types = sorted({t for t, _ in m})
    H = relational._PC_H
    got = relational.REGISTRY["profile_correlation"].fn(spark, sf_dir).collect()
    assert len(got) == len(types) * (len(types) - 1) // 2
    for r in got:
        p1 = [m.get((r.t1, h), 0) for h in range(H)]
        p2 = [m.get((r.t2, h), 0) for h in range(H)]
        sxy = sum(x * y for x, y in zip(p1, p2))
        s1, s2 = sum(p1), sum(p2)
        ss1 = sum(x * x for x in p1)
        ss2 = sum(x * x for x in p2)
        corr = (H * sxy - s1 * s2) / (
            ((H * ss1 - s1 * s1) * (H * ss2 - s2 * s2)) ** 0.5
        )
        assert r.sxy == sxy
        assert abs(r.corr - round(corr, 6)) < 1e-9


def test_turning_stats_matches_brute_force(spark, sf_dir):
    ev = relational._t(spark, sf_dir, "events").selectExpr(
        "user_id", "unix_millis(CAST(ts AS TIMESTAMP)) AS t_ms", "event_id"
    ).collect()
    traj = {}
    for r in ev:
        jump = 2000 if r.event_id % 13 < 4 else 0
        traj.setdefault(r.user_id, []).append(
            (
                r.t_ms,
                r.event_id,
                (r.user_id % 120) * 1000 + jump + r.event_id % 7,
                (r.user_id % 300) * 1000 + jump + r.event_id % 5,
            )
        )
    got = {r.user_id: r for r in
           relational.REGISTRY["turning_stats"].fn(spark, sf_dir).collect()}
    for u, rows in traj.items():
        seq = [(y, x) for _, _, y, x in sorted(rows)]
        nl = nr = ns = nv = nt = 0
        for i in range(2, len(seq)):
            pdy, pdx = seq[i - 1][0] - seq[i - 2][0], seq[i - 1][1] - seq[i - 2][1]
            dy, dx = seq[i][0] - seq[i - 1][0], seq[i][1] - seq[i - 1][1]
            if (dy, dx) == (0, 0) or (pdy, pdx) == (0, 0):
                continue
            cross = pdy * dx - pdx * dy
            dot = pdy * dy + pdx * dx
            nt += 1
            if cross > 0:
                nl += 1
            elif cross < 0:
                nr += 1
            elif dot > 0:
                ns += 1
            elif dot < 0:
                nv += 1
        r = got.get(u)
        if nt == 0:
            assert r is None
            continue
        assert (r.n_turns, r.n_left, r.n_right, r.n_straight, r.n_reverse,
                r.net_turn) == (nt, nl, nr, ns, nv, nl - nr)
        assert nl + nr > 0  # direction structure is non-vacuous per user


def test_harmonic_centrality_matches_brute_force(spark, sf_dir):
    li = relational._t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey"
    ).collect()
    N = relational._PR_N
    edges = set()
    for r in li:
        a, b = r.l_orderkey % N, r.l_partkey % N
        if a != b:
            edges.add((a, b))
            edges.add((b, a))
    nbr = {}
    for u, v in edges:
        nbr.setdefault(u, set()).add(v)
    lms = sorted(nbr)[: relational._HC_K]
    dist = {}
    for lm in lms:
        frontier, d = {lm}, {lm: 0}
        for step in range(1, relational._HC_ROUNDS + 1):
            frontier = {
                v for u in frontier for v in nbr[u] if v not in d
            }
            for v in frontier:
                d[v] = step
        for v, dd in d.items():
            dist[(lm, v)] = dd
    want = {}
    for (lm, v), d in dist.items():
        if d > 0:
            n, h = want.get(v, (0, 0))
            want[v] = (n + 1, h + 12 // d)
    got = relational.REGISTRY["harmonic_centrality"].fn(spark, sf_dir).collect()
    assert {r.v: (r.n_reached, r.harmonic_x12) for r in got} == want
    for r in got:
        assert r.harmonic == round(r.harmonic_x12 / 12.0, 6)


def test_zonal_histogram_matches_zonal_assignment(spark, sf_dir):
    from filda_spark.pipeline import make_pip_udf  # noqa: F401  (path exists)

    zs = relational.REGISTRY["zonal_stats"].fn(spark, sf_dir).collect()
    zh = relational.REGISTRY["zonal_histogram"].fn(spark, sf_dir).collect()
    per_zone = {}
    for r in zh:
        assert 0 <= r.bin < relational._ZH_NBINS
        per_zone[r.zone_id] = per_zone.get(r.zone_id, 0) + r.n
    # histogram marginals must reproduce the verified zonal_stats counts
    assert per_zone == {r.zone_id: r.n_events for r in zs}
    for r in zh:
        assert abs(r.share - round(r.n / per_zone[r.zone_id], 6)) < 1e-9
    assert len({r.zone_id for r in zh}) > 3  # several real zones hit


def test_viewshed_matches_brute_force(spark, sf_dir):
    cells = {
        (r.cy, r.cx): r.x
        for r in relational._cell_counts(spark, sf_dir).collect()
    }
    # observer: highest x, ties to smallest (cy, cx) — replicate exactly
    (ocy, ocx), oh = sorted(cells.items(), key=lambda kv: (-kv[1], kv[0]))[0]
    R = relational._VS_R
    want = {}
    for (cy, cx), th in cells.items():
        if (cy, cx) == (ocy, ocx):
            continue
        if abs(cy - ocy) > R or abs(cx - ocx) > R:
            continue
        s = max(abs(cy - ocy), abs(cx - ocx))
        vis = 1
        for k in range(1, s):
            ny = (2 * (ocy * s + k * (cy - ocy)) + s) // (2 * s)
            nx = (2 * (ocx * s + k * (cx - ocx)) + s) // (2 * s)
            h = cells.get((ny, nx), 0)
            if (h - oh) * s >= (th - oh) * k:
                vis = 0
                break
        want[(cy, cx)] = (s, th, vis)
    got = relational.REGISTRY["viewshed"].fn(spark, sf_dir).collect()
    assert {(r.cy, r.cx): (r.s, r.th, r.visible) for r in got} == want
    vis_vals = {v for _, _, v in want.values()}
    assert vis_vals == {0, 1}  # both outcomes occur (non-vacuous)


def test_interval_union_matches_brute_force(spark, sf_dir):
    ev = relational._t(spark, sf_dir, "events").selectExpr(
        "user_id", "unix_millis(CAST(ts AS TIMESTAMP)) AS t0", "event_id"
    ).collect()
    by_user = {}
    for r in ev:
        t1 = r.t0 + (r.event_id % 3600) * 1000 + 1000
        by_user.setdefault(r.user_id, []).append((r.t0, r.event_id, t1))
    got = {r.user_id: r for r in
           relational.REGISTRY["interval_union"].fn(spark, sf_dir).collect()}
    assert len(got) == len(by_user)
    for u, ivs in by_user.items():
        ivs.sort()
        segs = []
        cur_s, cur_e = ivs[0][0], ivs[0][2]
        max_gap = 0
        for t0, _, t1 in ivs[1:]:
            if t0 > cur_e:
                segs.append((cur_s, cur_e))
                max_gap = max(max_gap, t0 - cur_e)
                cur_s, cur_e = t0, t1
            else:
                cur_e = max(cur_e, t1)
        segs.append((cur_s, cur_e))
        r = got[u]
        assert r.n_events == len(ivs)
        assert r.n_merged == len(segs)
        assert r.covered_ms == sum(e - s for s, e in segs)
        assert r.max_gap_ms == max_gap
        assert len(segs) > 1  # merging is non-vacuous per user


def test_dasymetric_downscale_conserves_zone_totals(spark, sf_dir):
    zs = {r.zone_id: r for r in
          relational.REGISTRY["zonal_stats"].fn(spark, sf_dir).collect()
          if r.zone_id >= 0}
    got = relational.REGISTRY["dasymetric_downscale"].fn(spark, sf_dir).collect()
    per_zone_w = {}
    for r in got:
        per_zone_w.setdefault(r.zone_id, []).append(r)
    assert len(per_zone_w) > 3
    for z, rows in per_zone_w.items():
        zw = sum(r.w for r in rows)
        # allocations re-derive from the zone total exactly
        for r in rows:
            assert r.zone_total == zs[z].total_value or z in zs
            assert abs(r.alloc - round(r.zone_total * r.w / zw, 6)) < 1e-9
        # mass conservation up to per-cell rounding
        assert abs(sum(r.alloc for r in rows) - rows[0].zone_total) < 1e-4 * len(rows)


def test_normalized_difference_matches_brute_force(spark, sf_dir):
    ev = relational._t(spark, sf_dir, "events").select(
        "event_id", "event_type"
    ).collect()
    cells = {}
    for r in ev:
        if r.event_type not in (relational._ND_A, relational._ND_B):
            continue
        lat = (r.event_id * 7919 % 2000) / 100.0
        lon = (r.event_id * 104729 % 2400) / 100.0 + 10.0
        k = (int(lat // relational._GI_CELL), int(lon // relational._GI_CELL))
        a, b = cells.get(k, (0, 0))
        if r.event_type == relational._ND_A:
            a += 1
        else:
            b += 1
        cells[k] = (a, b)
    got = relational.REGISTRY["normalized_difference"].fn(spark, sf_dir).collect()
    assert {(r.cy, r.cx): (r.a, r.b) for r in got} == cells
    classes = set()
    for r in got:
        nd = (r.a - r.b) / (r.a + r.b)
        assert abs(r.nd - round(nd, 6)) < 1e-9
        want_cls = "A" if nd > relational._ND_THR else (
            "B" if nd < -relational._ND_THR else "MIXED")
        assert r.cls == want_cls
        classes.add(r.cls)
    assert classes == {"A", "B", "MIXED"}


def test_burstiness_index_matches_brute_force(spark, sf_dir):
    ev = relational._t(spark, sf_dir, "events").selectExpr(
        "event_type", "unix_millis(CAST(ts AS TIMESTAMP)) AS t_ms"
    ).collect()
    t0 = min(r.t_ms for r in ev)
    nh = 1 + (max(r.t_ms for r in ev) - t0) // 3600000
    hc = {}
    for r in ev:
        k = (r.event_type, (r.t_ms - t0) // 3600000)
        hc[k] = hc.get(k, 0) + 1
    got = relational.REGISTRY["burstiness_index"].fn(spark, sf_dir).collect()
    types = {t for t, _ in hc}
    assert {r.event_type for r in got} == types
    for r in got:
        xs = [v for (t, _), v in hc.items() if t == r.event_type]
        s, ss = sum(xs), sum(x * x for x in xs)
        assert (r.nh, r.s, r.ss) == (nh, s, ss)
        varn = nh * ss - s * s
        assert abs(r.fano - round(varn / (nh * s), 6)) < 1e-9
        sig, mu = (varn**0.5) / nh, s / nh
        assert abs(r.burstiness - round((sig - mu) / (sig + mu), 6)) < 1e-9


def test_strahler_order_matches_brute_force(spark, sf_dir):
    d8 = {
        (r.cy, r.cx): r.d8_dir
        for r in relational._d8_frame(spark, sf_dir).collect()
        if r.d8_dir > 0
    }
    cells = {
        (r.cy, r.cx) for r in relational._cell_counts(spark, sf_dir).collect()
    }
    step = {code: (dy, dx) for dy, dx, code in relational._D8_DIRS}
    target = {
        c: (c[0] + step[d][0], c[1] + step[d][1]) for c, d in d8.items()
    }
    order = {c: 1 for c in cells}
    for _ in range(relational._SO_ROUNDS):
        ups = {}
        for c, t in target.items():
            ups.setdefault(t, []).append(order[c])
        new = {}
        for c in cells:
            u = ups.get(c)
            if not u:
                new[c] = 1
            else:
                m = max(u)
                new[c] = m + (1 if u.count(m) >= 2 else 0)
        order = new
    got = relational.REGISTRY["strahler_order"].fn(spark, sf_dir).collect()
    assert {(r.cy, r.cx): r.strahler for r in got} == order
    assert max(order.values()) >= 3  # a real channel hierarchy forms


def test_sequence_mining_matches_brute_force(spark, sf_dir):
    ev = relational._t(spark, sf_dir, "events").selectExpr(
        "user_id", "unix_millis(CAST(ts AS TIMESTAMP)) AS t_ms", "event_id",
        "event_type"
    ).collect()
    by_user = {}
    for r in ev:
        by_user.setdefault(r.user_id, []).append((r.t_ms, r.event_id, r.event_type))
    tri = {}
    for seq in by_user.values():
        ts = [t for _, _, t in sorted(seq)]
        for i in range(2, len(ts)):
            k = (ts[i - 2], ts[i - 1], ts[i])
            tri[k] = tri.get(k, 0) + 1
    bi = {}
    for (a, b, _), c in tri.items():
        bi[(a, b)] = bi.get((a, b), 0) + c
    got = relational.REGISTRY["sequence_mining"].fn(spark, sf_dir).collect()
    assert {(r.t1, r.t2, r.t3): (r.c3, r.c_ab) for r in got} == {
        k: (c, bi[(k[0], k[1])]) for k, c in tri.items()
    }
    for r in got:
        assert abs(r.p_next - round(r.c3 / r.c_ab, 6)) < 1e-9


def test_soundex_blocking_matches_reference(spark, sf_dir):
    parts = relational._t(spark, sf_dir, "part").select("p_name").collect()
    words = {w for r in parts for w in r.p_name.split(" ")}
    m = dict(zip("abcdefghijklmnopqrstuvwxyz", relational._SDX_MAP))

    def soundex(w):
        d = "".join(m[ch] for ch in w.lower())
        cc = d[0] + "".join(
            d[i] for i in range(1, len(d)) if d[i] != d[i - 1]
        )
        tail = cc[1:].replace("0", "")
        return w[0].upper() + (tail[:3] + "000")[:3]

    want = {}
    for w in sorted(words):
        want.setdefault(soundex(w), []).append(w)
    got = relational.REGISTRY["soundex_blocking"].fn(spark, sf_dir).collect()
    assert {r.skey: (r.n_words, r.words) for r in got} == {
        k: (len(v), ",".join(v)) for k, v in want.items()
    }
    assert any(len(v) > 1 for v in want.values())  # real blocking groups


def test_laplacian_curvature_matches_brute_force(spark, sf_dir):
    cells = {
        (r.cy, r.cx): r.x
        for r in relational._cell_counts(spark, sf_dir).collect()
    }
    got = relational.REGISTRY["laplacian_curvature"].fn(spark, sf_dir).collect()
    classes = set()
    n_interior = 0
    for (cy, cx), x in cells.items():
        nb = [
            cells.get((cy + dy, cx + dx))
            for dy in (-1, 0, 1)
            for dx in (-1, 0, 1)
            if (dy, dx) != (0, 0)
        ]
        if any(v is None for v in nb):
            continue
        n_interior += 1
    assert len(got) == n_interior
    for r in got:
        s4 = sum(
            cells[(r.cy + dy, r.cx + dx)]
            for dy, dx in ((1, 0), (-1, 0), (0, 1), (0, -1))
        )
        s8 = sum(
            cells[(r.cy + dy, r.cx + dx)]
            for dy in (-1, 0, 1)
            for dx in (-1, 0, 1)
            if (dy, dx) != (0, 0)
        )
        x0 = cells[(r.cy, r.cx)]
        assert (r.lap4, r.lap8) == (s4 - 4 * x0, s8 - 8 * x0)
        want = "PEAK" if r.lap4 < 0 else ("SINK" if r.lap4 > 0 else "FLAT")
        assert r.cls == want
        classes.add(r.cls)
    assert {"PEAK", "SINK"} <= classes


def test_kfold_assign_matches_brute_force(spark, sf_dir):
    import hashlib

    docs = relational._t(spark, sf_dir, "documents").select(
        "doc_id", "lang"
    ).collect()
    K = relational._KF_K
    n = {}
    for r in docs:
        h = int(hashlib.md5(str(r.doc_id).encode()).hexdigest()[:15], 16)
        k = (r.lang, h % K)
        n[k] = n.get(k, 0) + 1
    tot = {}
    for (lang, _), c in n.items():
        tot[lang] = tot.get(lang, 0) + c
    got = relational.REGISTRY["kfold_assign"].fn(spark, sf_dir).collect()
    assert {(r.lang, r.fold): r.n for r in got} == n
    for r in got:
        e = tot[r.lang] / K
        assert abs(r.expected - round(e, 6)) < 1e-9
        assert abs(r.chi2_part - round((r.n - e) ** 2 / e, 6)) < 1e-9


def test_bivariate_moran_matches_brute_force(spark, sf_dir):
    ev = relational._t(spark, sf_dir, "events").select(
        "event_id", "event_type"
    ).collect()
    cells = {}
    for r in ev:
        if r.event_type not in (relational._ND_A, relational._ND_B):
            continue
        lat = (r.event_id * 7919 % 2000) / 100.0
        lon = (r.event_id * 104729 % 2400) / 100.0 + 10.0
        k = (int(lat // relational._GI_CELL), int(lon // relational._GI_CELL))
        a, b = cells.get(k, (0, 0))
        if r.event_type == relational._ND_A:
            a += 1
        else:
            b += 1
        cells[k] = (a, b)
    keys = sorted(cells)
    n = len(keys)
    xbar = sum(cells[k][0] for k in keys) / n
    ybar = sum(cells[k][1] for k in keys) / n
    num_xy = num_xx = num_yy = 0.0
    W = 0
    for cy, cx in keys:
        for dy in (-1, 0, 1):
            for dx in (-1, 0, 1):
                if (dy, dx) == (0, 0):
                    continue
                j = (cy + dy, cx + dx)
                if j not in cells:
                    continue
                W += 1
                xi, yi = cells[(cy, cx)]
                xj, yj = cells[j]
                num_xy += (xi - xbar) * (yj - ybar)
                num_xx += (xi - xbar) * (xj - xbar)
                num_yy += (yi - ybar) * (yj - ybar)
    sxx = sum((cells[k][0] - xbar) ** 2 for k in keys)
    syy = sum((cells[k][1] - ybar) ** 2 for k in keys)
    got = relational.REGISTRY["bivariate_moran"].fn(spark, sf_dir).collect()[0]
    assert (got.n, got.w) == (n, W)
    assert abs(got.i_xy - n * num_xy / (W * (sxx * syy) ** 0.5)) < 1e-4
    assert abs(got.i_xx - n * num_xx / (W * sxx)) < 1e-4
    assert abs(got.i_yy - n * num_yy / (W * syy)) < 1e-4


def test_ks_test_matches_brute_force(spark, sf_dir):
    ev = relational._t(spark, sf_dir, "events").select(
        "event_type", "value"
    ).collect()
    s1 = sorted(r.value for r in ev if r.event_type == relational._KS_A)
    s2 = sorted(r.value for r in ev if r.event_type == relational._KS_B)
    n1, n2 = len(s1), len(s2)
    grid = sorted(set(s1) | set(s2))
    import bisect

    d_num = max(
        abs(bisect.bisect_right(s1, v) * n2 - bisect.bisect_right(s2, v) * n1)
        for v in grid
    )
    got = relational.REGISTRY["ks_test"].fn(spark, sf_dir).collect()[0]
    assert (got.n1, got.n2, got.d_num) == (n1, n2, d_num)
    d = d_num / (n1 * n2)
    lam = d * (n1 * n2 / (n1 + n2)) ** 0.5
    import math

    assert abs(got.d - round(d, 6)) < 1e-9
    assert abs(got["lambda"] - round(lam, 6)) < 1e-9
    assert abs(got.p_approx - round(2.0 * math.exp(-2.0 * lam * lam), 6)) < 1e-9


def test_graph_assortativity_matches_brute_force(spark, sf_dir):
    li = relational._t(spark, sf_dir, "lineitem").filter(
        "l_linenumber = 1"
    ).select("l_orderkey", "l_partkey").collect()
    N = relational._CN_N
    edges = set()
    for r in li:
        a, b = r.l_orderkey % N, r.l_partkey % N
        if a != b:
            edges.add((min(a, b), max(a, b)))
    deg = {}
    for u, v in edges:
        deg[u] = deg.get(u, 0) + 1
        deg[v] = deg.get(v, 0) + 1
    pairs = [(deg[u], deg[v]) for u, v in edges] + [
        (deg[v], deg[u]) for u, v in edges
    ]
    m = len(pairs)
    s = sum(x for x, _ in pairs)
    ss = sum(x * x for x, _ in pairs)
    sxy = sum(x * y for x, y in pairs)
    got = relational.REGISTRY["graph_assortativity"].fn(spark, sf_dir).collect()[0]
    assert (got.m, got.s, got.ss, got.sxy) == (m, s, ss, sxy)
    assert got.assortativity == round((m * sxy - s * s) / (m * ss - s * s), 6)


def test_lexical_diversity_matches_brute_force(spark, sf_dir):
    docs = relational._t(spark, sf_dir, "documents").select(
        "doc_id", "text"
    ).collect()
    got = {r.doc_id: r for r in
           relational.REGISTRY["lexical_diversity"].fn(spark, sf_dir).collect()}
    assert len(got) == len(docs)
    for d in docs:
        toks = d.text.split(" ")
        tf = {}
        for t in toks:
            tf[t] = tf.get(t, 0) + 1
        r = got[d.doc_id]
        hapax = sum(1 for c in tf.values() if c == 1)
        assert (r.n_tokens, r.n_types, r.n_hapax) == (len(toks), len(tf), hapax)
        assert abs(r.ttr - round(len(tf) / len(toks), 6)) < 1e-9
        assert abs(r.hapax_ratio - round(hapax / len(tf), 6)) < 1e-9
        assert abs(
            r.avg_token_len - round(sum(map(len, toks)) / len(toks), 6)
        ) < 1e-9


def test_ann_pq_search_matches_brute_force(spark, sf_dir):
    from filda_spark import training

    codes = {}
    for r in relational.REGISTRY["vector_quantize"].fn(spark, sf_dir).collect():
        codes.setdefault(r.vec_id, {})[r.sub_id] = r.code
    embs = {
        r.vec_id: list(r.embedding)
        for r in relational._t(spark, sf_dir, "embeddings").collect()
    }
    D = training._PQ_SUBDIM

    def sub(v, s):
        return v[s * D : (s + 1) * D]

    q = embs[training._ADC_QID]
    lut = {}
    for code in range(training._PQ_K):
        for s in range(training._PQ_SUBS):
            qs, cs = sub(q, s), sub(embs[code], s)
            d2 = (
                sum(a * a for a in qs)
                - 2.0 * sum(a * b for a, b in zip(qs, cs))
                + sum(b * b for b in cs)
            )
            lut[(s, code)] = d2
    scored = []
    for vid, cm in codes.items():
        if vid == training._ADC_QID:
            continue
        terms = [lut[(s, cm[s])] for s in sorted(cm)]
        acc = terms[0]
        for t in terms[1:]:
            acc = acc + t
        scored.append((round(acc, 6), vid))
    scored.sort()
    want = scored[: training._ADC_TOPK]
    got = relational.REGISTRY["ann_pq_search"].fn(spark, sf_dir).collect()
    assert [(r.adc_d2, r.vec_id) for r in got] == [
        (pytest.approx(d, abs=1e-6), v) for d, v in want
    ]
    assert [r.rk for r in got] == list(range(1, len(want) + 1))


def test_segment_intersections_matches_brute_force(spark, sf_dir):
    ev = relational._t(spark, sf_dir, "events").selectExpr(
        "user_id", "unix_millis(CAST(ts AS TIMESTAMP)) AS t_ms", "event_id"
    ).collect()
    by_user = {}
    for r in ev:
        by_user.setdefault(r.user_id, []).append(
            (r.t_ms, r.event_id, r.event_id * 7919 % 2000, r.event_id * 104729 % 2400)
        )
    segs = []
    for u, rows in by_user.items():
        rows.sort()
        for i in range(1, len(rows)):
            y1, x1 = rows[i - 1][2], rows[i - 1][3]
            _, sid, y2, x2 = rows[i]
            L = max(abs(y2 - y1), abs(x2 - x1))
            if 1 <= L <= relational._SI_MAXLEN:
                segs.append((u, sid, y1, x1, y2, x2))

    def cross(ax, ay, bx, by, cx, cy):
        return (bx - ax) * (cy - ay) - (by - ay) * (cx - ax)

    want = set()
    C = relational._SI_CELL
    for i in range(len(segs)):
        for j in range(i + 1, len(segs)):
            a, b = segs[i], segs[j]
            if a[1] > b[1]:
                a, b = b, a
            # candidate gate: bbox cell covers must overlap
            acells = {
                (gy, gx)
                for gy in range(min(a[2], a[4]) // C, max(a[2], a[4]) // C + 1)
                for gx in range(min(a[3], a[5]) // C, max(a[3], a[5]) // C + 1)
            }
            bcells = {
                (gy, gx)
                for gy in range(min(b[2], b[4]) // C, max(b[2], b[4]) // C + 1)
                for gx in range(min(b[3], b[5]) // C, max(b[3], b[5]) // C + 1)
            }
            if not (acells & bcells):
                continue
            d1 = cross(a[3], a[2], a[5], a[4], b[3], b[2])
            d2 = cross(a[3], a[2], a[5], a[4], b[5], b[4])
            d3 = cross(b[3], b[2], b[5], b[4], a[3], a[2])
            d4 = cross(b[3], b[2], b[5], b[4], a[5], a[4])
            if d1 * d2 < 0 and d3 * d4 < 0:
                want.add((a[0], a[1], b[0], b[1]))
    got = {
        (r.ua, r.sa, r.ub, r.sb)
        for r in relational.REGISTRY["segment_intersections"].fn(
            spark, sf_dir
        ).collect()
    }
    assert got == want
    assert len(want) > 100  # non-vacuous crossing population


def test_quantile_normalize_matches_brute_force(spark, sf_dir):
    import bisect

    ev = relational._t(spark, sf_dir, "events").select(
        "event_id", "event_type", "value"
    ).collect()
    by_type = {}
    for r in ev:
        by_type.setdefault(r.event_type, []).append(r.value)
    for v in by_type.values():
        v.sort()
    got = relational.REGISTRY["quantile_normalize"].fn(spark, sf_dir).collect()
    assert len(got) == len(ev)
    for r in got[:2000]:
        vs = by_type[r.event_type]
        pct = bisect.bisect_right(vs, r.value) / len(vs)
        assert r.pct == round(pct, 6)


def test_item_cooccurrence_matches_brute_force(spark, sf_dir):
    li = relational._t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey"
    ).collect()
    baskets = {}
    for r in li:
        baskets.setdefault(r.l_orderkey, set()).add(r.l_partkey % 200)
    marg, pair = {}, {}
    for items in baskets.values():
        s = sorted(items)
        for it in s:
            marg[it] = marg.get(it, 0) + 1
        for i in range(len(s)):
            for j in range(i + 1, len(s)):
                k = (s[i], s[j])
                pair[k] = pair.get(k, 0) + 1
    want = {k: c for k, c in pair.items() if c >= 2}
    got = relational.REGISTRY["item_cooccurrence"].fn(spark, sf_dir).collect()
    assert {(r.i1, r.i2): r.c_ab for r in got} == want
    for r in got:
        assert (r.c1, r.c2) == (marg[r.i1], marg[r.i2])
        # compare against the UNROUNDED ratios: Python round() is
        # banker's, the engines round half-away — a ratio landing on a
        # .xxxxxx5 boundary (e.g. 2/13) legitimately differs by 1e-6
        assert abs(r.cosine - r.c_ab / (r.c1 * r.c2) ** 0.5) < 1e-6
        assert abs(r.jaccard - r.c_ab / (r.c1 + r.c2 - r.c_ab)) < 1e-6


def test_top_paths_matches_brute_force(spark, sf_dir):
    ev = relational._t(spark, sf_dir, "events").selectExpr(
        "user_id", "unix_millis(CAST(ts AS TIMESTAMP)) AS t_ms", "event_id",
        "event_type"
    ).collect()
    by_user = {}
    for r in ev:
        by_user.setdefault(r.user_id, []).append((r.t_ms, r.event_id, r.event_type))
    paths = {}
    for rows in by_user.values():
        rows.sort()
        p = ">".join(t for _, _, t in rows[: relational._TP_LEN])
        paths[p] = paths.get(p, 0) + 1
    got = relational.REGISTRY["top_paths"].fn(spark, sf_dir).collect()
    assert {r.path: r.n_users for r in got} == paths


def test_home_work_inference_matches_brute_force(spark, sf_dir):
    ev = relational._t(spark, sf_dir, "events").select(
        "user_id", "event_id"
    ).collect()
    visits = {}
    for r in ev:
        j = 2 if r.event_id % 13 < 4 else 0
        k = (r.user_id, r.user_id % 120 + j, r.user_id % 300 + j)
        visits[k] = visits.get(k, 0) + 1
    per_user = {}
    for (u, qy, qx), c in visits.items():
        per_user.setdefault(u, []).append((-c, qy, qx))
    got = {r.user_id: r for r in
           relational.REGISTRY["home_work_inference"].fn(spark, sf_dir).collect()}
    n_checked = 0
    for u, cells in per_user.items():
        cells.sort()
        if len(cells) < 2:
            assert u not in got
            continue
        n_checked += 1
        r = got[u]
        (nc1, hy, hx), (nc2, wy, wx) = cells[0], cells[1]
        assert (r.home_qy, r.home_qx, r.home_visits) == (hy, hx, -nc1)
        assert (r.work_qy, r.work_qx, r.work_visits) == (wy, wx, -nc2)
        d = ((hy - wy) ** 2 + (hx - wx) ** 2) ** 0.5
        assert abs(r.commute_deg - round(d, 6)) < 1e-9
    assert n_checked == len(got)


def test_gravity_calibration_matches_brute_force(spark, sf_dir):
    import math

    ev = relational._t(spark, sf_dir, "events").selectExpr(
        "user_id", "unix_millis(CAST(ts AS TIMESTAMP)) AS t_ms", "event_id"
    ).collect()
    C = relational._GI_CELL
    by_user = {}
    for r in ev:
        cy = int(((r.event_id * 7919 % 2000) / 100.0) // C)
        cx = int(((r.event_id * 104729 % 2400) / 100.0 + 10.0) // C)
        by_user.setdefault(r.user_id, []).append((r.t_ms, r.event_id, cy, cx))
    od = {}
    for rows in by_user.values():
        rows.sort()
        for i in range(1, len(rows)):
            o = rows[i - 1][2:]
            d = rows[i][2:]
            if o != d:
                od[(o, d)] = od.get((o, d), 0) + 1
    xs, ys = [], []
    for (o, d), n in od.items():
        d2 = (d[0] - o[0]) ** 2 + (d[1] - o[1]) ** 2
        xs.append(math.log(d2))
        ys.append(math.log(n))
    m = len(xs)
    sx, sy = sum(xs), sum(ys)
    sxx = sum(x * x for x in xs)
    syy = sum(y * y for y in ys)
    sxy = sum(x * y for x, y in zip(xs, ys))
    beta = (m * sxy - sx * sy) / (m * sxx - sx * sx)
    got = relational.REGISTRY["gravity_calibration"].fn(spark, sf_dir).collect()[0]
    assert got.m == m
    assert abs(got.beta - beta) < 1e-5
    assert abs(got.alpha - (sy - beta * sx) / m) < 1e-5
    r2 = (m * sxy - sx * sy) ** 2 / ((m * sxx - sx * sx) * (m * syy - sy * sy))
    assert abs(got.r2 - r2) < 1e-5
    # the hashed-point corpus has near-uniform jump lengths, so the
    # ESTIMATE itself is the test subject: beta ~ 0 and r2 ~ 0 here —
    # the estimator correctly reports "no decay" on decay-free data
    assert m > 1000 and 0.0 <= got.r2 < 0.05


def test_triad_census_matches_brute_force(spark, sf_dir):
    li = relational._t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey"
    ).collect()
    N = relational._PR_N
    e = set()
    for r in li:
        a, b = r.l_orderkey % N, r.l_partkey % N
        if a != b:
            e.add((a, b))
    out = {}
    for a, b in e:
        out.setdefault(a, set()).add(b)
    recip = sum(1 for a, b in e if (b, a) in e) // 2
    ff = cyc = 0
    for x, ys in out.items():
        for y in ys:
            for z in out.get(y, ()):
                if z == x:
                    continue
                if (x, z) in e:
                    ff += 1
                if (z, x) in e:
                    cyc += 1
    cyc //= 3
    got = relational.REGISTRY["triad_census"].fn(spark, sf_dir).collect()[0]
    assert (got.n_edges, got.n_recip, got.n_ff, got.n_cycle) == (
        len(e), recip, ff, cyc,
    )
    assert ff > 0 and cyc > 0


def test_theil_decomposition_matches_brute_force(spark, sf_dir):
    import math

    cells = {
        (r.cy, r.cx): r.x
        for r in relational._cell_counts(spark, sf_dir).collect()
    }
    R = relational._TH_REG
    reg = {}
    for (cy, cx), x in cells.items():
        reg.setdefault(cx // R, []).append(x)
    n = len(cells)
    big = sum(cells.values())
    got = {r.region: r for r in
           relational.REGISTRY["theil_decomposition"].fn(spark, sf_dir).collect()}
    assert set(got) == set(reg)
    t_between = sum(
        (sum(xs) / big) * math.log((sum(xs) / big) / (len(xs) / n))
        for xs in reg.values()
    )
    total_check = t_between
    for region, xs in reg.items():
        xg, ng = sum(xs), len(xs)
        tw = sum((x / xg) * math.log(ng * x / xg) for x in xs)
        r = got[region]
        assert (r.n_g, r.x_g) == (ng, xg)
        assert abs(r.share - xg / big) < 1e-5
        assert abs(r.t_within - tw) < 1e-5
        assert abs(r.contrib - (xg / big) * tw) < 1e-5
        assert abs(r.t_between - t_between) < 1e-5
        total_check += (xg / big) * tw
    assert total_check > 0  # inequality exists in the clustered corpus


def test_ohlc_bars_matches_brute_force(spark, sf_dir):
    ev = relational._t(spark, sf_dir, "events").selectExpr(
        "event_type", "value", "unix_millis(CAST(ts AS TIMESTAMP)) AS t_ms",
        "event_id"
    ).collect()
    t0 = min(r.t_ms for r in ev)
    bars = {}
    for r in ev:
        bars.setdefault(
            (r.event_type, (r.t_ms - t0) // 86400000), []
        ).append((r.t_ms, r.event_id, r.value))
    got = relational.REGISTRY["ohlc_bars"].fn(spark, sf_dir).collect()
    assert len(got) == len(bars)
    for r in got:
        rows = sorted(bars[(r.event_type, r.day)])
        vals = [v for _, _, v in rows]
        assert r.n == len(rows)
        assert r.open == round(rows[0][2], 6)
        assert r.close == round(rows[-1][2], 6)
        assert r.high == round(max(vals), 6)
        assert r.low == round(min(vals), 6)
        assert abs(r.volume - round(sum(vals), 6)) < 1e-6


def test_langid_confusion_matches_brute_force(spark, sf_dir):
    preds = {
        r.doc_id: r.lang_pred
        for r in relational.REGISTRY["text_analysis"].fn(spark, sf_dir).collect()
    }
    labels = {
        r.doc_id: r.lang
        for r in relational._t(spark, sf_dir, "documents").select(
            "doc_id", "lang"
        ).collect()
    }
    cm = {}
    for d, p in preds.items():
        k = (labels[d], p)
        cm[k] = cm.get(k, 0) + 1
    rt = {}
    for (t, _), n in cm.items():
        rt[t] = rt.get(t, 0) + n
    got = relational.REGISTRY["langid_confusion"].fn(spark, sf_dir).collect()
    assert {(r.lang_true, r.lang_pred): r.n for r in got} == cm
    for r in got:
        assert abs(r.recall_share - r.n / rt[r.lang_true]) < 1e-6
        assert r.is_correct == int(r.lang_true == r.lang_pred)


def test_ridge_regression_matches_brute_force(spark, sf_dir):
    import numpy as np

    rows = relational._t(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_quantity", "l_discount", "l_extendedprice"
    ).collect()
    by = {}
    for r in rows:
        by.setdefault(r.l_returnflag, []).append(
            (round(r.l_quantity * 100), round(r.l_discount * 100),
             round(r.l_extendedprice * 100))
        )
    got = {r.l_returnflag: r for r in
           relational.REGISTRY["ridge_regression"].fn(spark, sf_dir).collect()}
    assert set(got) == set(by)
    for flag, pts in by.items():
        X = np.array([(1.0, x1, x2) for x1, x2, _ in pts])
        y = np.array([yy for _, _, yy in pts], dtype=float)
        A = X.T @ X
        lam = len(pts) * relational._RIDGE_LAM
        A[1, 1] += lam
        A[2, 2] += lam
        beta = np.linalg.solve(A, X.T @ y)
        g = got[flag]
        assert g.n == len(pts)
        assert abs(g.intercept - beta[0] / 100.0) < 1e-4
        assert abs(g.coef_qty - beta[1]) < 1e-4
        assert abs(g.coef_disc - beta[2]) < 1e-4


def test_pca_project_matches_brute_force(spark, sf_dir):
    import numpy as np

    ids = np.array([
        r.event_id for r in
        relational._t(spark, sf_dir, "events").select("event_id").collect()
    ])
    ix = ids * 7919 % 2000
    iy = ids * 104729 % 2400
    pts = np.stack([ix, iy], axis=1).astype(float)
    c = pts - pts.mean(axis=0)
    cov = c.T @ c / len(pts)
    evals, evecs = np.linalg.eigh(cov)
    v1 = evecs[:, -1]
    got = relational.REGISTRY["pca_project"].fn(spark, sf_dir).collect()
    assert len(got) == len(ids)
    lookup = {r.event_id: r for r in got}
    scores = c @ v1 / 100.0
    for i, eid in enumerate(ids[:200]):
        # eigenvector sign is a convention; compare magnitudes
        assert abs(abs(lookup[eid].pc1) - abs(scores[i])) < 1e-4
        assert abs(lookup[eid].evr1 - evals[-1] / evals.sum()) < 1e-5
        assert abs(lookup[eid].pc1 ** 2 + lookup[eid].pc2 ** 2
                   - (c[i] @ c[i]) / 1e4) < 1e-3


def test_mutual_information_matches_brute_force(spark, sf_dir):
    import math

    rows = relational._t(spark, sf_dir, "documents").select("source", "lang").collect()
    cxy, cx, cy = {}, {}, {}
    for r in rows:
        cxy[(r.source, r.lang)] = cxy.get((r.source, r.lang), 0) + 1
        cx[r.source] = cx.get(r.source, 0) + 1
        cy[r.lang] = cy.get(r.lang, 0) + 1
    n = len(rows)
    mi = sum(
        v / n * math.log(n * v / (cx[s] * cy[lg])) for (s, lg), v in cxy.items()
    )
    got = relational.REGISTRY["mutual_information"].fn(spark, sf_dir).collect()
    assert len(got) == len(cxy)
    for r in got:
        v = cxy[(r.source, r.lang)]
        assert r.c_xy == v
        assert abs(r.pmi - math.log(n * v / (cx[r.source] * cy[r.lang]))) < 1e-5
        assert abs(r.contrib - v / n * math.log(n * v / (cx[r.source] * cy[r.lang]))) < 1e-5
        assert abs(r.mi_total - mi) < 1e-5


def test_chi2_features_matches_brute_force(spark, sf_dir):
    docs = relational._t(spark, sf_dir, "documents").select(
        "doc_id", "lang", "text"
    ).collect()
    n = len(docs)
    nl, df, a = {}, {}, {}
    for r in docs:
        nl[r.lang] = nl.get(r.lang, 0) + 1
        for tok in set(t for t in r.text.split(" ") if t):
            df[tok] = df.get(tok, 0) + 1
            a[(tok, r.lang)] = a.get((tok, r.lang), 0) + 1
    scored = {}
    for (tok, lang), av in a.items():
        if df[tok] < relational._CHI2_MIN_DF:
            continue
        b = df[tok] - av
        c = nl[lang] - av
        d = n - nl[lang] - b
        num = n * (av * d - b * c) ** 2
        den = df[tok] * (n - df[tok]) * nl[lang] * (n - nl[lang])
        scored.setdefault(lang, []).append((num / den, tok, av, df[tok]))
    got = relational.REGISTRY["chi2_features"].fn(spark, sf_dir).collect()
    by_lang = {}
    for r in got:
        by_lang.setdefault(r.lang, []).append(r)
    for lang, feats in scored.items():
        top = sorted(feats, key=lambda t: (-t[0], t[1]))[: relational._CHI2_TOP_K]
        gl = sorted(by_lang[lang], key=lambda r: r.rnk)
        assert len(gl) == len(top)
        for g, (chi2, tok, av, dft) in zip(gl, top):
            assert g.tok == tok
            assert g.df_in_lang == av
            assert g.df_total == dft
            assert abs(g.chi2 - chi2) < 1e-4


def test_hurst_exponent_matches_brute_force(spark, sf_dir):
    import math

    import numpy as np

    rows = relational._t(spark, sf_dir, "events").selectExpr(
        "event_type", "unix_millis(CAST(ts AS TIMESTAMP)) AS t_ms"
    ).collect()
    t0 = min(r.t_ms for r in rows)
    days = (max(r.t_ms for r in rows) - t0) // 86400000 + 1
    series = {}
    for r in rows:
        d = (r.t_ms - t0) // 86400000
        series.setdefault(r.event_type, np.zeros(days, dtype=np.int64))[d] += 1
    got = {r.event_type: r for r in
           relational.REGISTRY["hurst_exponent"].fn(spark, sf_dir).collect()}
    assert set(got) == set(series)
    for et, z in series.items():
        rsws = {}
        for w in relational._HURST_WS:
            vals = []
            for blk in range(len(z) // w):
                seg = z[blk * w:(blk + 1) * w].astype(float)
                yk = np.cumsum(seg - seg.mean())
                rng = yk.max() - yk.min()
                s = seg.std()
                if s > 0:
                    vals.append(rng / s)
            if vals:
                rsws[w] = round(float(np.mean(vals)), 6)
        g = got[et]
        assert abs(g.rs4 - rsws[4]) < 1e-5
        assert abs(g.rs8 - rsws[8]) < 1e-5
        assert abs(g.rs16 - rsws[16]) < 1e-5
        xs = [math.log(w) for w in relational._HURST_WS]
        ys = [math.log(rsws[w]) for w in relational._HURST_WS]
        sx, sy = sum(xs), sum(ys)
        sxx = sum(x * x for x in xs)
        sxy = sum(x * y for x, y in zip(xs, ys))
        slope = (3 * sxy - sx * sy) / (3 * sxx - sx * sx)
        assert abs(g.hurst - slope) < 1e-5


def _edges_kcn(spark, sf_dir, n):
    rows = relational._t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey"
    ).collect()
    e = set()
    for r in rows:
        a, b = r.l_orderkey % n, r.l_partkey % n
        if a != b:
            e.add((min(a, b), max(a, b)))
    return e


def test_local_clustering_matches_brute_force(spark, sf_dir):
    e = _edges_kcn(spark, sf_dir, relational._KC_N)
    nbr = {}
    for u, v in e:
        nbr.setdefault(u, set()).add(v)
        nbr.setdefault(v, set()).add(u)
    got = relational.REGISTRY["local_clustering"].fn(spark, sf_dir).collect()
    assert len(got) == len(nbr)
    for r in got:
        ns = nbr[r.node]
        d = len(ns)
        tri = sum(len(nbr[w] & ns) for w in ns) // 2
        assert r.degree == d
        assert r.n_tri == tri
        if d < 2:
            assert r.cc is None
        else:
            assert abs(r.cc - 2 * tri / (d * (d - 1))) < 1e-5


def test_modularity_score_matches_brute_force(spark, sf_dir):
    e = _edges_kcn(spark, sf_dir, relational._KC_N)
    m = len(e)
    K = relational._MOD_K
    deg, e_in = {}, {}
    for u, v in e:
        deg[u] = deg.get(u, 0) + 1
        deg[v] = deg.get(v, 0) + 1
        if u % K == v % K:
            e_in[u % K] = e_in.get(u % K, 0) + 1
    d_sum, n_nodes = {}, {}
    for node, d in deg.items():
        d_sum[node % K] = d_sum.get(node % K, 0) + d
        n_nodes[node % K] = n_nodes.get(node % K, 0) + 1
    contribs = {
        c: e_in.get(c, 0) / m - (d_sum[c] / (2 * m)) ** 2 for c in d_sum
    }
    q = sum(contribs.values())
    got = relational.REGISTRY["modularity_score"].fn(spark, sf_dir).collect()
    assert len(got) == len(d_sum)
    for r in got:
        assert r.n_nodes == n_nodes[r.comm]
        assert r.e_in == e_in.get(r.comm, 0)
        assert r.d_sum == d_sum[r.comm]
        assert abs(r.contrib - contribs[r.comm]) < 1e-5
        assert abs(r.q_total - q) < 1e-5


def test_powerlaw_alpha_matches_brute_force(spark, sf_dir):
    import math

    e = _edges_kcn(spark, sf_dir, relational._KC_N)
    deg = {}
    for u, v in e:
        deg[u] = deg.get(u, 0) + 1
        deg[v] = deg.get(v, 0) + 1
    dmin = relational._PL_DMIN
    tail = [d for d in deg.values() if d >= dmin]
    alpha = 1 + len(tail) / sum(math.log(d / (dmin - 0.5)) for d in tail)
    r = relational.REGISTRY["powerlaw_alpha"].fn(spark, sf_dir).collect()[0]
    assert r.n_nodes == len(deg)
    assert r.n_tail == len(tail)
    assert abs(r.tail_share - len(tail) / len(deg)) < 1e-6
    assert abs(r.alpha - alpha) < 1e-5


def test_reciprocity_matches_brute_force(spark, sf_dir):
    rows = relational._t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey"
    ).collect()
    n = relational._KC_N
    d = set()
    for r in rows:
        s, t = r.l_orderkey % n, r.l_partkey % n
        if s != t:
            d.add((s, t))
    out_deg, in_deg, n_recip = {}, {}, {}
    for s, t in d:
        out_deg[s] = out_deg.get(s, 0) + 1
        in_deg[t] = in_deg.get(t, 0) + 1
        if (t, s) in d:
            n_recip[s] = n_recip.get(s, 0) + 1
    got = relational.REGISTRY["reciprocity"].fn(spark, sf_dir).collect()
    assert len(got) == len(out_deg)
    for r in got:
        assert r.out_deg == out_deg[r.node]
        assert r.in_deg == in_deg.get(r.node, 0)
        assert r.n_recip == n_recip.get(r.node, 0)
        assert abs(r.recip_share - r.n_recip / r.out_deg) < 1e-6


def test_k_truss_matches_brute_force(spark, sf_dir):
    e = _edges_kcn(spark, sf_dir, relational._TRUSS_N)
    nbr = {}
    for u, v in e:
        nbr.setdefault(u, set()).add(v)
        nbr.setdefault(v, set()).add(u)

    def peel(edges):
        adj = {}
        for u, v in edges:
            adj.setdefault(u, set()).add(v)
            adj.setdefault(v, set()).add(u)
        supp = {
            (u, v): len(adj[u] & adj[v]) for u, v in edges
        }
        return supp

    cur = set(e)
    for _ in range(relational._TRUSS_ROUNDS):
        supp = peel(cur)
        cur = {k for k, s in supp.items() if s >= relational._TRUSS_K - 2}
    supp = peel(cur)
    got = relational.REGISTRY["k_truss"].fn(spark, sf_dir).collect()
    assert len(got) == len(cur)
    for r in got:
        assert (r.u, r.v) in cur
        assert r.support == supp[(r.u, r.v)]


def test_dsir_weights_matches_brute_force(spark, sf_dir):
    import hashlib
    import math

    docs = relational._t(spark, sf_dir, "documents").select(
        "doc_id", "source", "text"
    ).collect()
    B = relational._DSIR_B

    def bkt(tok):
        return int(hashlib.md5(tok.encode()).hexdigest()[:15], 16) % B

    allb, tgtb, a_tot, t_tot = {}, {}, 0, 0
    toks = {}
    for r in docs:
        ts = [t for t in r.text.split(" ") if t]
        toks[r.doc_id] = ts
        for t in ts:
            b = bkt(t)
            allb[b] = allb.get(b, 0) + 1
            a_tot += 1
            if r.source == relational._DSIR_TGT:
                tgtb[b] = tgtb.get(b, 0) + 1
                t_tot += 1
    got = relational.REGISTRY["dsir_weights"].fn(spark, sf_dir).collect()
    assert len(got) == len(docs)
    for r in got:
        lw = sum(
            math.log((tgtb.get(bkt(t), 0) + 1) / (t_tot + B))
            - math.log((allb[bkt(t)] + 1) / (a_tot + B))
            for t in toks[r.doc_id]
        )
        assert r.n_tok == len(toks[r.doc_id])
        assert abs(r.logweight - lw) < 1e-4


def test_flesch_reading_matches_brute_force(spark, sf_dir):
    import math
    import re

    docs = relational._t(spark, sf_dir, "documents").select("doc_id", "text").collect()
    got = {r.doc_id: r for r in
           relational.REGISTRY["flesch_reading"].fn(spark, sf_dir).collect()}
    assert len(got) == len(docs)
    for d in docs:
        ws = [t for t in d.text.split(" ") if t]
        syl = sum(max(len(re.findall(r"[aeiou]+", w)), 1) for w in ws)
        sent = math.ceil(len(ws) / relational._FLESCH_SENT)
        g = got[d.doc_id]
        assert g.n_words == len(ws)
        assert g.n_syll == syl
        assert g.n_sent == sent
        assert abs(g.flesch - (206.835 - 1.015 * len(ws) / sent
                               - 84.6 * syl / len(ws))) < 1e-5


def test_zipf_alpha_matches_brute_force(spark, sf_dir):
    import math

    docs = relational._t(spark, sf_dir, "documents").select("text").collect()
    cnt = {}
    for d in docs:
        for t in d.text.split(" "):
            if t:
                cnt[t] = cnt.get(t, 0) + 1
    ranked = sorted(cnt.items(), key=lambda kv: (-kv[1], kv[0]))[: relational._ZIPF_TOP]
    xs = [math.log(i + 1) for i in range(len(ranked))]
    ys = [math.log(c) for _, c in ranked]
    n = len(xs)
    sx, sy = sum(xs), sum(ys)
    sxx = sum(x * x for x in xs)
    sxy = sum(x * y for x, y in zip(xs, ys))
    slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    r = relational.REGISTRY["zipf_alpha"].fn(spark, sf_dir).collect()[0]
    assert r.n_types == len(cnt)
    assert r.n_tokens == sum(cnt.values())
    assert abs(r.alpha - (-slope)) < 1e-5
    assert abs(r.ln_c0 - (sy - slope * sx) / n) < 1e-5


def test_bigram_surprisal_matches_brute_force(spark, sf_dir):
    import math

    docs = relational._t(spark, sf_dir, "documents").select(
        "doc_id", "lang", "text"
    ).collect()
    c2, c1 = {}, {}
    bis = {}
    for d in docs:
        a = d.text.split(" ")
        pairs = list(zip(a, a[1:]))
        bis[d.doc_id] = (d.lang, pairs)
        for w1, w2 in pairs:
            c2[(d.lang, w1, w2)] = c2.get((d.lang, w1, w2), 0) + 1
            c1[(d.lang, w1)] = c1.get((d.lang, w1), 0) + 1
    got = relational.REGISTRY["bigram_surprisal"].fn(spark, sf_dir).collect()
    assert len(got) == len(docs)
    for r in got:
        lang, pairs = bis[r.doc_id]
        s = [-math.log(c2[(lang, w1, w2)] / c1[(lang, w1)]) for w1, w2 in pairs]
        assert r.n_big == len(pairs)
        assert abs(r.surprisal - sum(s) / len(s)) < 1e-5


def test_ngram_novelty_matches_brute_force(spark, sf_dir):
    docs = relational._t(spark, sf_dir, "documents").select("doc_id", "text").collect()
    grams = {}
    for d in docs:
        a = d.text.split(" ")
        grams[d.doc_id] = set(
            " ".join(a[i:i + 3]) for i in range(len(a) - 2)
        )
    first = {}
    for did in sorted(grams):
        for g in grams[did]:
            if g not in first:
                first[g] = did
    got = relational.REGISTRY["ngram_novelty"].fn(spark, sf_dir).collect()
    assert len(got) == len(docs)
    for r in got:
        gs = grams[r.doc_id]
        novel = sum(1 for g in gs if first[g] == r.doc_id)
        assert r.n_grams == len(gs)
        assert r.n_novel == novel
        assert abs(r.novelty - novel / len(gs)) < 1e-6


def test_gfunction_nn_matches_brute_force(spark, sf_dir):
    """Per-event exact NN distance (censored at the ring cell size) and
    the G(r) CDF recomputed with a blocked O(n^2) numpy reference."""
    import numpy as np
    import pandas as pd

    ev = pd.read_parquet(f"{sf_dir}/events.parquet", columns=["event_id"])
    eid = ev.event_id.to_numpy().astype(np.int64)
    iy = eid * 7919 % 2000
    ix = eid * 104729 % 2400 + 1000
    n = len(eid)
    cap = relational._GF_CELL ** 2
    mind2 = np.full(n, np.iinfo(np.int64).max, dtype=np.int64)
    for i0 in range(0, n, 2000):
        sl = slice(i0, min(i0 + 2000, n))
        d2 = (iy[sl, None] - iy[None, :]) ** 2 + (ix[sl, None] - ix[None, :]) ** 2
        same = eid[sl, None] == eid[None, :]
        d2 = np.where(same | (d2 > cap), np.iinfo(np.int64).max, d2)
        mind2[sl] = d2.min(axis=1)
    got = {
        r.r_centideg: r
        for r in relational.REGISTRY["gfunction_nn"].fn(spark, sf_dir).collect()
    }
    assert set(got) == set(relational._GF_RADII)
    for r in relational._GF_RADII:
        n_le = int((mind2 <= r * r).sum())
        assert got[r].n_le == n_le
        assert abs(got[r].g - round(n_le / n, 6)) < 1e-12


def test_cross_k_matches_brute_force(spark, sf_dir):
    """Bivariate pair counts within each radius and the K_ab normalization
    recomputed with a numpy A x B distance matrix."""
    import numpy as np
    import pandas as pd

    ev = pd.read_parquet(f"{sf_dir}/events.parquet", columns=["event_id", "event_type"])
    ev = ev[ev.event_type.isin([relational._CK_A, relational._CK_B])]
    eid = ev.event_id.to_numpy().astype(np.int64)
    iy = eid * 7919 % 2000
    ix = eid * 104729 % 2400 + 1000
    is_a = (ev.event_type == relational._CK_A).to_numpy()
    ay, ax = iy[is_a], ix[is_a]
    by, bx = iy[~is_a], ix[~is_a]
    d2 = (ay[:, None] - by[None, :]) ** 2 + (ax[:, None] - bx[None, :]) ** 2
    area = int((iy.max() - iy.min()) * (ix.max() - ix.min()))
    n_a, n_b = int(is_a.sum()), int((~is_a).sum())
    got = {
        r.r_centideg: r
        for r in relational.REGISTRY["cross_k"].fn(spark, sf_dir).collect()
    }
    assert set(got) == set(relational._GF_RADII)
    for r in relational._GF_RADII:
        n_pairs = int((d2 <= r * r).sum())
        row = got[r]
        assert (row.n_a, row.n_b, row.n_pairs) == (n_a, n_b, n_pairs)
        assert abs(row.k_ab - round(area / (n_a * n_b) * n_pairs, 6)) < 1e-12


def test_bearing_rose_matches_brute_force(spark, sf_dir):
    """Octant counts, shares and the mean resultant length recomputed by
    walking each user's ordered fixes in Python."""
    import math

    from pyspark.sql import functions as F

    ev = relational._t(spark, sf_dir, "events").select(
        "user_id", "event_id", F.unix_millis(F.col("ts").cast("timestamp")).alias("t_ms")
    ).collect()

    def coords(r):
        bump = 2000 if r.event_id % 13 < 4 else 0
        return (
            (r.user_id % 120) * 1000 + bump + r.event_id % 7,
            (r.user_id % 300) * 1000 + bump + r.event_id % 5,
        )

    def octant(dy, dx):
        if dx > 0 and dy >= 0 and dy < dx:
            return 0
        if dx > 0 and dy >= dx:
            return 1
        if dy > 0 and dx <= 0 and dy > -dx:
            return 2
        if dy > 0 and dx < 0 and dy <= -dx:
            return 3
        if dx < 0 and dy <= 0 and -dy < -dx:
            return 4
        if dy < 0 and dx < 0 and -dy >= -dx:
            return 5
        if dy < 0 and dx >= 0 and dx < -dy:
            return 6
        return 7

    by_user = {}
    for r in ev:
        by_user.setdefault(r.user_id, []).append(r)
    want = {}
    stats = {}
    for uid, rows in by_user.items():
        rows.sort(key=lambda r: (r.t_ms, r.event_id))
        sux = suy = 0.0
        n_legs = 0
        for prev, cur in zip(rows, rows[1:]):
            py, px = coords(prev)
            cy, cx = coords(cur)
            dy, dx = cy - py, cx - px
            if dy == 0 and dx == 0:
                continue
            n_legs += 1
            ln = math.sqrt(dx * dx + dy * dy)
            sux += dx / ln
            suy += dy / ln
            k = (uid, octant(dy, dx))
            want[k] = want.get(k, 0) + 1
        if n_legs:
            stats[uid] = (n_legs, math.sqrt(sux * sux + suy * suy) / n_legs)
    got = relational.REGISTRY["bearing_rose"].fn(spark, sf_dir).collect()
    assert len(got) == len(want)
    for r in got:
        n_legs, rbar = stats[r.user_id]
        assert r.n == want[(r.user_id, r.octant)]
        assert abs(r.share - round(r.n / n_legs, 6)) < 1e-12
        assert abs(r.rbar - round(rbar, 6)) < 2e-6


def test_pit_fill_matches_relaxation(spark, sf_dir):
    """Fill levels recomputed with a dict-based fixed-round relaxation;
    also pins the invariants z_filled >= z and boundary cells unfilled."""
    cells = {
        (r.cy, r.cx): r.x for r in relational._cell_counts(spark, sf_dir).collect()
    }
    INF = relational._PF_INF

    def nbrs(c):
        return [
            (c[0] + oy, c[1] + ox)
            for oy in (-1, 0, 1)
            for ox in (-1, 0, 1)
            if (oy, ox) != (0, 0)
        ]

    nn = {c: sum(1 for q in nbrs(c) if q in cells) for c in cells}
    f = {c: (cells[c] if nn[c] < 8 else INF) for c in cells}
    for _ in range(relational._PF_ROUNDS):
        f = {
            c: (
                cells[c]
                if nn[c] < 8
                else max(cells[c], min(f[q] for q in nbrs(c) if q in f))
            )
            for c in cells
        }
    got = relational.REGISTRY["pit_fill"].fn(spark, sf_dir).collect()
    assert len(got) == len(cells)
    for r in got:
        fv = f[(r.cy, r.cx)]
        assert r.z == cells[(r.cy, r.cx)]
        if fv >= INF:
            assert r.z_filled is None and r.filled == 0
        else:
            assert r.z_filled == fv
            assert r.filled == (1 if fv > r.z else 0)
            assert r.z_filled >= r.z


def test_motion_vectors_matches_brute_force(spark, sf_dir):
    """Best displacement per block recomputed by enumerating all 25 shifts
    over dict rasters of the two epoch halves."""
    from pyspark.sql import functions as F

    ev = relational._t(spark, sf_dir, "events").select(
        "event_id", F.unix_millis(F.col("ts").cast("timestamp")).alias("t_ms")
    ).collect()
    t0 = min(r.t_ms for r in ev)
    z0, z1 = {}, {}
    for r in ev:
        cy = int(((r.event_id * 7919 % 2000) / 100.0) // relational._GI_CELL)
        cx = int((((r.event_id * 104729 % 2400) / 100.0 + 10.0) // relational._GI_CELL))
        half = 0 if (r.t_ms - t0) // 86400000 < relational._MV_SPLIT_DAY else 1
        (z0 if half == 0 else z1)[(cy, cx)] = (z0 if half == 0 else z1).get((cy, cx), 0) + 1
    B, S = relational._MV_BLK, relational._MV_SHIFT
    corr, mass = {}, {}
    for (cy, cx), x0 in z0.items():
        blk = (cy // B, cx // B)
        mass[blk] = mass.get(blk, 0) + x0
        for sy in range(-S, S + 1):
            for sx in range(-S, S + 1):
                x1 = z1.get((cy + sy, cx + sx))
                if x1:
                    k = (blk, sy, sx)
                    corr[k] = corr.get(k, 0) + x0 * x1
    best = {}
    for (blk, sy, sx), c in corr.items():
        key = (-c, abs(sy) + abs(sx), sy, sx)
        if blk not in best or key < best[blk][0]:
            best[blk] = (key, sy, sx, c)
    got = relational.REGISTRY["motion_vectors"].fn(spark, sf_dir).collect()
    assert len(got) == len(best)
    for r in got:
        _, sy, sx, c = best[(r.by, r.bx)]
        assert (r.best_sy, r.best_sx, r.corr) == (sy, sx, c)
        assert r.mass0 == mass[(r.by, r.bx)]


def test_auc_mannwhitney_matches_brute_force(spark, sf_dir):
    """u2 (twice the concordant count, ties half) recomputed by sorting
    both score samples and accumulating exact pair counts."""
    import pandas as pd

    ev = pd.read_parquet(f"{sf_dir}/events.parquet", columns=["event_type", "value"])
    ev = ev[ev.event_type.isin([relational._AUC_POS, relational._AUC_NEG])]
    ev = ev[ev.value.notna()]
    pos = sorted(ev[ev.event_type == relational._AUC_POS].value)
    neg = sorted(ev[ev.event_type == relational._AUC_NEG].value)
    u2 = 0
    for p in pos:
        import bisect

        below = bisect.bisect_left(neg, p)
        ties = bisect.bisect_right(neg, p) - below
        u2 += 2 * below + ties
    r = relational.REGISTRY["auc_mannwhitney"].fn(spark, sf_dir).collect()[0]
    assert (r.n_pos, r.n_neg) == (len(pos), len(neg))
    assert r.u2 == u2
    assert abs(r.auc - round(u2 / (2 * len(pos) * len(neg)), 6)) < 1e-12


def test_naive_bayes_lang_matches_brute_force(spark, sf_dir):
    """Add-1 NB scores and the argmax replicated with Python dicts."""
    import math

    docs = relational._t(spark, sf_dir, "documents").select(
        "doc_id", "lang", "text"
    ).collect()
    tc, cls_tot, cw, prior, vocab = {}, {}, {}, {}, set()
    for d in docs:
        cnt = {}
        for t in d.text.split(" "):
            if t:
                cnt[t] = cnt.get(t, 0) + 1
                vocab.add(t)
        tc[d.doc_id] = (d.lang, cnt)
        prior[d.lang] = prior.get(d.lang, 0) + 1
        for t, c in cnt.items():
            cls_tot[d.lang] = cls_tot.get(d.lang, 0) + c
            cw[(d.lang, t)] = cw.get((d.lang, t), 0) + c
    nd_tot, V = len(docs), len(vocab)
    got = {r.doc_id: r for r in
           relational.REGISTRY["naive_bayes_lang"].fn(spark, sf_dir).collect()}
    assert len(got) == len(docs)
    langs = sorted(prior)
    for did, (true_lang, cnt) in tc.items():
        best = None
        for c in langs:
            ll = math.log(prior[c] / nd_tot) + sum(
                k * (math.log(cw.get((c, t), 0) + 1) - math.log(cls_tot[c] + V))
                for t, k in cnt.items()
            )
            key = (-round(ll, 6), c)
            if best is None or key < best[0]:
                best = (key, c, ll)
        r = got[did]
        assert r.lang == true_lang
        assert r.pred_lang == best[1]
        assert abs(r.loglik - round(best[2], 6)) < 2e-6
        assert r.correct == (1 if best[1] == true_lang else 0)


def test_boxcount_dimension_matches_brute_force(spark, sf_dir):
    import math

    import pandas as pd

    ev = pd.read_parquet(f"{sf_dir}/events.parquet", columns=["event_id"])
    pts = {
        (int(e * 7919 % 2000), int(e * 104729 % 2400 + 1000))
        for e in ev.event_id
    }
    want = {
        s: len({(iy // s, ix // s) for iy, ix in pts})
        for s in relational._BC_SCALES
    }
    xs = [math.log(s) for s in want]
    ys = [math.log(n) for n in want.values()]
    n = len(xs)
    sx, sy = sum(xs), sum(ys)
    sxx = sum(x * x for x in xs)
    sxy = sum(x * y for x, y in zip(xs, ys))
    dim = -((n * sxy - sx * sy) / (n * sxx - sx * sx))
    rows = relational.REGISTRY["boxcount_dimension"].fn(spark, sf_dir).collect()
    assert {r.s: r.n_boxes for r in rows} == want
    for r in rows:
        assert abs(r.dim - round(dim, 6)) < 1e-5


def test_trend_surface_matches_lstsq(spark, sf_dir):
    import numpy as np

    cells = relational._cell_counts(spark, sf_dir).collect()
    A = np.array([[1.0, r.cy, r.cx] for r in cells])
    z = np.array([float(r.x) for r in cells])
    b, *_ = np.linalg.lstsq(A, z, rcond=None)
    pred = A @ b
    ss_res = float(((z - pred) ** 2).sum())
    ss_tot = float(((z - z.mean()) ** 2).sum())
    r = relational.REGISTRY["trend_surface"].fn(spark, sf_dir).collect()[0]
    assert r.n_cells == len(cells)
    assert abs(r.b0 - b[0]) < 1e-4
    assert abs(r.b1 - b[1]) < 1e-4
    assert abs(r.b2 - b[2]) < 1e-4
    assert abs(r.r2 - (1 - ss_res / ss_tot)) < 1e-4


def test_rect_union_area_matches_paint(spark, sf_dir):
    """Exact union area recomputed by painting the rectangles onto a
    numpy grid (coordinates are bounded integers)."""
    import numpy as np
    import pandas as pd

    o = pd.read_parquet(f"{sf_dir}/orders.parquet", columns=["o_orderkey"])
    ks = o.o_orderkey[o.o_orderkey % relational._RU_MOD == 0]
    grid = np.zeros((1100, 1100), dtype=bool)
    for k in ks:
        x0 = int(k * 13 % 1000)
        x1 = x0 + 1 + int(k % 50)
        y0 = int(k * 29 % 1000)
        y1 = y0 + 1 + int(k % 40)
        grid[x0:x1, y0:y1] = True
    r = relational.REGISTRY["rect_union_area"].fn(spark, sf_dir).collect()[0]
    assert r.n_rects == len(ks)
    assert r.area == int(grid.sum())


def test_decision_stump_matches_brute_force(spark, sf_dir):
    import pandas as pd

    li = pd.read_parquet(f"{sf_dir}/lineitem.parquet",
                         columns=["l_quantity", "l_returnflag"])
    by = {}
    for q, fl in zip(li.l_quantity, li.l_returnflag):
        p, t = by.get(q, (0, 0))
        by[q] = (p + (1 if fl == "R" else 0), t + 1)
    P = sum(p for p, _ in by.values())
    T = sum(t for _, t in by.values())
    best = None
    pl = tl = 0
    for q in sorted(by):
        p, t = by[q]
        pl, tl = pl + p, tl + t
        if tl >= T:
            continue
        pr, tr = P - pl, T - tl
        purity = (pl * pl + (tl - pl) ** 2) / tl + (pr * pr + (tr - pr) ** 2) / tr
        key = (-purity, q)
        if best is None or key < best[0]:
            best = (key, q, pl, tl, pr, tr)
    _, q, pl, tl, pr, tr = best
    r = relational.REGISTRY["decision_stump"].fn(spark, sf_dir).collect()[0]
    assert (r.threshold, r.n_left, r.n_right, r.pos_left, r.pos_right) == (
        q, tl, tr, pl, pr
    )
    gini = ((tl - (pl * pl + (tl - pl) ** 2) / tl)
            + (tr - (pr * pr + (tr - pr) ** 2) / tr)) / T
    assert abs(r.gini - round(gini, 6)) < 1e-12


def test_fdr_bh_matches_brute_force(spark, sf_dir):
    import math

    from filda_spark.functions import physics

    cells = {
        (r.cy, r.cx): r.x for r in relational._cell_counts(spark, sf_dir).collect()
    }
    n = len(cells)
    sx = sum(cells.values())
    sxx = sum(v * v for v in cells.values())
    mean = sx / n
    denom_var = math.sqrt(sxx / n - mean * mean)
    pv = {}
    for (cy, cx), _ in cells.items():
        wn = wx = 0
        for dy in (-1, 0, 1):
            for dx in (-1, 0, 1):
                q = (cy + dy, cx + dx)
                if q in cells:
                    wn += 1
                    wx += cells[q]
        z = (wx - mean * wn) / (denom_var * math.sqrt((n * wn - wn * wn) / (n - 1.0)))
        pv[(cy, cx)] = 1.0 - float(physics.normal_cdf_np(z))
    ranked = sorted(pv, key=lambda c: (pv[c], c))
    k = 0
    for i, c in enumerate(ranked, 1):
        if pv[c] <= i * relational._BH_Q / n:
            k = i
    got = {(r.cy, r.cx): r for r in
           relational.REGISTRY["fdr_bh"].fn(spark, sf_dir).collect()}
    assert len(got) == n
    for i, c in enumerate(ranked, 1):
        r = got[c]
        assert r.rnk == i
        assert abs(r.p_hot - round(pv[c], 8)) < 1e-10
        assert r.rejected == (1 if i <= k else 0)


def test_silhouette_simplified_matches_brute_force(spark, sf_dir):
    import math

    import pandas as pd

    ev = pd.read_parquet(f"{sf_dir}/events.parquet", columns=["event_id"])
    agg = {}
    for e in ev.event_id:
        py, px = int(e * 7919 % 2000), int(e * 104729 % 2400)
        ds = sorted(
            (math.sqrt((py - ky) ** 2 + (px - kx) ** 2), cid)
            for cid, ky, kx in relational._SIL_CENTROIDS
        )
        (a, cid), (b, _) = ds[0], ds[1]
        cur = agg.setdefault(cid, [0, 0.0, 0.0, 0.0])
        cur[0] += 1
        cur[1] += (b - a) / max(a, b)
        cur[2] += a
        cur[3] += b
    got = relational.REGISTRY["silhouette_simplified"].fn(spark, sf_dir).collect()
    assert len(got) == len(agg)
    for r in got:
        n, s, a, b = agg[r.cid]
        assert r.n == n
        assert abs(r.mean_sil - round(s / n, 6)) < 2e-6
        assert abs(r.mean_a - round(a / n, 6)) < 2e-6
        assert abs(r.mean_b - round(b / n, 6)) < 2e-6


def test_ar2_yule_walker_matches_brute_force(spark, sf_dir):
    ev = relational._t(spark, sf_dir, "events").select(
        "user_id", "event_id", "value",
        relational.F.unix_millis(
            relational.F.col("ts").cast("timestamp")
        ).alias("t_ms"),
    ).collect()
    series = {}
    for r in ev:
        series.setdefault(r.user_id, []).append((r.t_ms, r.event_id, r.value))
    got = {r.user_id: r for r in
           relational.REGISTRY["ar2_yule_walker"].fn(spark, sf_dir).collect()}
    n_checked = 0
    for uid, rows in series.items():
        rows.sort()
        v = [x[2] for x in rows]
        n = len(v)
        if n < relational._AR_MIN_N:
            assert uid not in got
            continue
        m = sum(v) / n
        c0 = sum((x - m) ** 2 for x in v)
        c1 = sum((v[t] - m) * (v[t - 1] - m) for t in range(1, n))
        c2 = sum((v[t] - m) * (v[t - 2] - m) for t in range(2, n))
        r1, r2 = c1 / c0, c2 / c0
        r = got[uid]
        assert r.n == n
        assert abs(r.phi1 - round(r1 * (1 - r2) / (1 - r1 * r1), 6)) < 2e-6
        assert abs(r.phi2 - round((r2 - r1 * r1) / (1 - r1 * r1), 6)) < 2e-6
        n_checked += 1
    assert n_checked == len(got)


def test_markov_stationary_matches_brute_force(spark, sf_dir):
    ev = relational._t(spark, sf_dir, "events").select(
        "user_id", "event_id", "event_type",
        relational.F.unix_millis(
            relational.F.col("ts").cast("timestamp")
        ).alias("t_ms"),
    ).collect()
    st = relational._MS_STATES
    idx = {s: i for i, s in enumerate(st)}
    seq = {}
    for r in ev:
        seq.setdefault(r.user_id, []).append((r.t_ms, r.event_id, r.event_type))
    n = [[0] * len(st) for _ in st]
    for rows in seq.values():
        rows.sort()
        for (_, _, a), (_, _, b) in zip(rows, rows[1:]):
            n[idx[a]][idx[b]] += 1
    t = [sum(row) for row in n]
    p = [[n[i][j] / t[i] for j in range(len(st))] for i in range(len(st))]
    v = [0.2] * len(st)
    for _ in range(relational._MS_ROUNDS):
        v = [
            sum(v[i] * p[i][j] for i in range(len(st)))
            for j in range(len(st))
        ]
    r = relational.REGISTRY["markov_stationary"].fn(spark, sf_dir).collect()[0]
    assert r.n_trans == sum(t)
    for j, s in enumerate(st):
        assert abs(getattr(r, f"pi_{s}") - round(v[j], 6)) < 1e-9
    assert abs(sum(v) - 1.0) < 1e-9


def test_ridge_cv_mse_matches_numpy(spark, sf_dir):
    """Per-fold coefficients and held-out MSE recomputed with numpy
    normal equations over explicitly materialized folds."""
    import hashlib

    import numpy as np
    import pandas as pd

    li = pd.read_parquet(
        f"{sf_dir}/lineitem.parquet",
        columns=["l_orderkey", "l_linenumber", "l_quantity", "l_discount",
                 "l_extendedprice"],
    )
    key = (li.l_orderkey * 8 + li.l_linenumber).astype("int64")
    fold = np.array([
        int(hashlib.md5(str(k).encode()).hexdigest()[:15], 16) % relational._RCV_K
        for k in key
    ])
    x1 = np.round(li.l_quantity * 100).astype("int64").to_numpy()
    x2 = np.round(li.l_discount * 100).astype("int64").to_numpy()
    y = np.round(li.l_extendedprice * 100).astype("int64").to_numpy()
    got = {r.fold: r for r in
           relational.REGISTRY["ridge_cv_mse"].fn(spark, sf_dir).collect()}
    assert len(got) == relational._RCV_K
    for f in range(relational._RCV_K):
        tr, te = fold != f, fold == f
        X = np.stack([np.ones(tr.sum()), x1[tr], x2[tr]], axis=1)
        lam = tr.sum() * relational._RIDGE_LAM
        P = np.diag([0.0, lam, lam])
        b = np.linalg.solve(X.T @ X + P, X.T @ y[tr])
        pred = b[0] + b[1] * x1[te] + b[2] * x2[te]
        mse = float(((y[te] - pred) ** 2).mean())
        r = got[f]
        assert (r.n_train, r.n_test) == (int(tr.sum()), int(te.sum()))
        assert abs(r.b0 - b[0]) < 1e-3
        assert abs(r.b1 - b[1]) < 1e-4
        assert abs(r.b2 - b[2]) < 1e-4
        assert abs(r.test_mse - mse) / mse < 1e-6


def test_calibration_bins_matches_brute_force(spark, sf_dir):
    import pandas as pd

    ev = pd.read_parquet(f"{sf_dir}/events.parquet", columns=["event_type", "value"])
    ev = ev[ev.event_type.isin([relational._AUC_POS, relational._AUC_NEG])]
    ev = ev[ev.value.notna()]
    agg = {}
    for t, v in zip(ev.event_type, ev.value):
        b = min(int(v // relational._CAL_BIN), relational._CAL_NBIN - 1)
        cur = agg.setdefault(b, [0, 0, 0.0])
        cur[0] += 1
        cur[1] += 1 if t == relational._AUC_POS else 0
        cur[2] += v / (relational._CAL_BIN * relational._CAL_NBIN)
    got = relational.REGISTRY["calibration_bins"].fn(spark, sf_dir).collect()
    assert len(got) == len(agg)
    for r in got:
        n, np_, ssc = agg[r.bin]
        assert (r.n, r.n_pos) == (n, np_)
        assert abs(r.mean_score - round(ssc / n, 6)) < 2e-6
        assert abs(r.pos_rate - round(np_ / n, 6)) < 1e-12


def test_psi_drift_matches_brute_force(spark, sf_dir):
    import math

    ev = relational._t(spark, sf_dir, "events").select(
        "value", relational.F.unix_millis(
            relational.F.col("ts").cast("timestamp")).alias("t_ms")
    ).collect()
    t0 = min(r.t_ms for r in ev)
    c = {}
    for r in ev:
        if r.value is None:
            continue
        b = min(int(r.value // relational._CAL_BIN), relational._CAL_NBIN - 1)
        half = 0 if (r.t_ms - t0) // 86400000 < relational._MV_SPLIT_DAY else 1
        cur = c.setdefault(b, [1, 1])  # add-1 smoothing baked in
        cur[half] += 1
    t0s = sum(v[0] for v in c.values())
    t1s = sum(v[1] for v in c.values())
    got = relational.REGISTRY["psi_drift"].fn(spark, sf_dir).collect()
    assert len(got) == len(c)
    psi_total = 0.0
    for r in got:
        n0, n1 = c[r.bin]
        p0, p1 = n0 / t0s, n1 / t1s
        assert (r.n0, r.n1) == (n0, n1)
        assert abs(r.psi_part - round((p1 - p0) * math.log(p1 / p0), 6)) < 1e-10
        psi_total += r.psi_part
    assert abs(psi_total) < 0.25  # same-ish distribution between halves


def test_small_cell_suppress_matches_brute_force(spark, sf_dir):
    cells = {
        (r.cy, r.cx): r.x for r in relational._cell_counts(spark, sf_dir).collect()
    }
    K = relational._SUP_K
    supp = {c: (1 if x < K else 0) for c, x in cells.items()}
    rows = {}
    for (cy, cx), s in supp.items():
        cur = rows.setdefault(cy, [0, 0])
        cur[0] += 1
        cur[1] += s
    for cy, (n_cells, n_supp) in rows.items():
        if n_supp == 1 and n_cells >= 2:
            cands = sorted(
                (cells[(cy, cx)], cx)
                for (ry, cx) in [c for c in cells if c[0] == cy]
                if supp[(cy, (ry, cx)[1])] == 0
                for ry in [cy]
            )
            # pick the smallest unsuppressed (x, cx)
            _, cx = cands[0]
            supp[(cy, cx)] = 2
    got = relational.REGISTRY["small_cell_suppress"].fn(spark, sf_dir).collect()
    assert len(got) == len(cells)
    for r in got:
        assert r.x == cells[(r.cy, r.cx)]
        assert r.suppressed == supp[(r.cy, r.cx)]


def test_block_bootstrap_var_matches_brute_force(spark, sf_dir):
    import hashlib
    import math

    cells = {
        (r.cy, r.cx): r.x for r in relational._cell_counts(spark, sf_dir).collect()
    }
    ms = []
    for b in range(relational._BB_REPS):
        tot = cnt = 0
        for (cy, cx), x in cells.items():
            h = int(hashlib.md5(f"{b}:{cy}:{cx}".encode()).hexdigest()[:15], 16)
            if h % 2 == 0:
                tot += x
                cnt += 1
        ms.append(tot / cnt)
    B = len(ms)
    sm = sum(ms)
    smm = sum(m * m for m in ms)
    var = (smm - sm * sm / B) / (B - 1)
    r = relational.REGISTRY["block_bootstrap_var"].fn(spark, sf_dir).collect()[0]
    assert r.b_reps == B
    assert abs(r.mean_of_means - round(sm / B, 6)) < 2e-6
    assert abs(r.var_est - round(var, 6)) < 2e-6
    assert abs(r.se - round(math.sqrt(var), 6)) < 2e-6


def test_percolation_clusters_matches_brute_force(spark, sf_dir):
    """Threshold, components (8-connected BFS) and sizes recomputed in
    Python over the cell dict."""
    cells = {
        (r.cy, r.cx): r.x for r in relational._cell_counts(spark, sf_dir).collect()
    }
    ranked = sorted(cells.items(), key=lambda kv: (kv[1], kv[0][0], kv[0][1]))
    nc = len(ranked)
    cut = int(nc * relational._PC_PCT)
    tau = min(x for _, x in ranked[cut:])
    occ = {c for c, x in cells.items() if x >= tau}
    comp = {}
    for start in occ:
        if start in comp:
            continue
        stack, seen = [start], {start}
        while stack:
            cy, cx = stack.pop()
            for dy in (-1, 0, 1):
                for dx in (-1, 0, 1):
                    q = (cy + dy, cx + dx)
                    if q in occ and q not in seen:
                        seen.add(q)
                        stack.append(q)
        lab = min(cy * 10000 + cx for cy, cx in seen)
        for c in seen:
            comp[c] = lab
    sizes = {}
    for c, l in comp.items():
        sizes[l] = sizes.get(l, 0) + 1
    got = relational.REGISTRY["percolation_clusters"].fn(spark, sf_dir).collect()
    assert len(got) == len(occ)
    for r in got:
        assert r.comp == comp[(r.cy, r.cx)]
        assert r.comp_size == sizes[r.comp]
        assert r.x == cells[(r.cy, r.cx)]


def test_local_maxima_nms_matches_brute_force(spark, sf_dir):
    """Suppressor counts recomputed with a blocked numpy pair sweep."""
    import numpy as np
    import pandas as pd

    ev = pd.read_parquet(f"{sf_dir}/events.parquet", columns=["event_id", "value"])
    ev = ev[ev.value.notna()]
    eid = ev.event_id.to_numpy().astype(np.int64)
    iy = eid * 7919 % 2000
    ix = eid * 104729 % 2400 + 1000
    s = np.round(ev.value.to_numpy() * 100).astype(np.int64)
    n = len(eid)
    r2 = relational._NMS_R ** 2
    n_sup = np.zeros(n, dtype=np.int64)
    for i0 in range(0, n, 2000):
        sl = slice(i0, min(i0 + 2000, n))
        d2 = (iy[sl, None] - iy[None, :]) ** 2 + (ix[sl, None] - ix[None, :]) ** 2
        dom = (s[None, :] > s[sl, None]) | (
            (s[None, :] == s[sl, None]) & (eid[None, :] < eid[sl, None])
        )
        near = (d2 <= r2) & dom & (eid[sl, None] != eid[None, :])
        n_sup[sl] = near.sum(axis=1)
    got = relational.REGISTRY["local_maxima_nms"].fn(spark, sf_dir).collect()
    assert len(got) == n
    want = dict(zip(eid.tolist(), n_sup.tolist()))
    for r in got:
        assert r.n_sup == want[r.event_id]
        assert r.kept == (1 if want[r.event_id] == 0 else 0)


def test_kaplan_meier_matches_brute_force(spark, sf_dir):
    import math

    ev = relational._t(spark, sf_dir, "events").select(
        "user_id", "event_type",
        relational.F.unix_millis(
            relational.F.col("ts").cast("timestamp")).alias("t_ms"),
    ).collect()
    users = {}
    for r in ev:
        u = users.setdefault(r.user_id, [None, None, None])
        u[0] = r.t_ms if u[0] is None else min(u[0], r.t_ms)
        u[2] = r.t_ms if u[2] is None else max(u[2], r.t_ms)
        if r.event_type == "purchase":
            u[1] = r.t_ms if u[1] is None else min(u[1], r.t_ms)
    byt = {}
    for t0, tp, tl in users.values():
        if tp is not None:
            t, obs = (tp - t0) // 86400000, 1
        else:
            t, obs = (tl - t0) // 86400000, 0
        cur = byt.setdefault(t, [0, 0])
        cur[obs ^ 1] += 0  # no-op to keep indices clear
        if obs:
            cur[0] += 1
        else:
            cur[1] += 1
    total = sum(d + c for d, c in byt.values())
    got = {r.t_days: r for r in
           relational.REGISTRY["kaplan_meier"].fn(spark, sf_dir).collect()}
    assert len(got) == len(byt)
    seen = 0
    surv = 1.0
    dead = False
    for t in sorted(byt):
        d, c = byt[t]
        n_risk = total - seen
        seen += d + c
        if d == n_risk:
            dead = True
        if not dead and 0 < d < n_risk:
            surv *= math.exp(math.log(1.0 - d / n_risk))
        r = got[t]
        assert (r.n_risk, r.d, r.c) == (n_risk, d, c)
        want = 0.0 if dead else surv
        assert abs(r.surv - round(want, 6)) < 2e-6


def test_entropy_rate_matches_brute_force(spark, sf_dir):
    import math

    ev = relational._t(spark, sf_dir, "events").select(
        "user_id", "event_id", "event_type",
        relational.F.unix_millis(
            relational.F.col("ts").cast("timestamp")).alias("t_ms"),
    ).collect()
    st = relational._MS_STATES
    idx = {s: i for i, s in enumerate(st)}
    seq = {}
    for r in ev:
        seq.setdefault(r.user_id, []).append((r.t_ms, r.event_id, r.event_type))
    n = [[0] * len(st) for _ in st]
    for rows in seq.values():
        rows.sort()
        for (_, _, a), (_, _, b) in zip(rows, rows[1:]):
            n[idx[a]][idx[b]] += 1
    t = [sum(row) for row in n]
    p = [[n[i][j] / t[i] for j in range(len(st))] for i in range(len(st))]
    v = [0.2] * len(st)
    for _ in range(relational._MS_ROUNDS):
        v = [sum(v[i] * p[i][j] for i in range(len(st))) for j in range(len(st))]
    h = [-sum(p[i][j] * math.log(p[i][j]) for j in range(len(st)) if p[i][j] > 0)
         for i in range(len(st))]
    rate = sum(v[i] * h[i] for i in range(len(st)))
    pi_h = -sum(x * math.log(x) for x in v if x > 0)
    r = relational.REGISTRY["entropy_rate"].fn(spark, sf_dir).collect()[0]
    assert r.n_trans == sum(t)
    assert abs(r.entropy_rate - round(rate, 6)) < 1e-9
    assert abs(r.entropy_stationary - round(pi_h, 6)) < 1e-9


def test_heaps_law_matches_brute_force(spark, sf_dir):
    import math

    docs = relational._t(spark, sf_dir, "documents").select("doc_id", "text").collect()
    docs.sort(key=lambda d: d.doc_id)
    seen = set()
    n_cum = v_cum = 0
    curve = []
    for d in docs:
        toks = [t for t in d.text.split(" ") if t]
        novel = len({t for t in toks} - seen)
        seen |= set(toks)
        n_cum += len(toks)
        v_cum += novel
        curve.append((n_cum, v_cum))
    xs = [math.log(a) for a, _ in curve]
    ys = [math.log(b) for _, b in curve]
    nn = len(xs)
    sx, sy = sum(xs), sum(ys)
    sxx = sum(x * x for x in xs)
    sxy = sum(x * y for x, y in zip(xs, ys))
    beta = (nn * sxy - sx * sy) / (nn * sxx - sx * sx)
    got = relational.REGISTRY["heaps_law"].fn(spark, sf_dir).collect()
    assert len(got) == len(docs) // relational._HL_CHECK
    for r in got:
        a, b = curve[r.r - 1]
        assert (r.n_cum, r.v_cum) == (a, b)
        assert abs(r.beta - round(beta, 6)) < 1e-5
        assert abs(r.ln_k - round((sy - beta * sx) / nn, 6)) < 1e-5


def test_kruskal_wallis_matches_brute_force(spark, sf_dir):
    """Rank sums with exact tied average ranks and the H statistic
    recomputed in Python."""
    import pandas as pd

    ev = pd.read_parquet(f"{sf_dir}/events.parquet", columns=["event_type", "value"])
    ev = ev[ev.value.notna()]
    cents = (ev.value * 100).round().astype("int64")
    cnt = {}
    for v in cents:
        cnt[v] = cnt.get(v, 0) + 1
    below, run = {}, 0
    for v in sorted(cnt):
        below[v] = run
        run += cnt[v]
    r2 = {}
    ng = {}
    for t, v in zip(ev.event_type, cents):
        r2[t] = r2.get(t, 0) + 2 * below[v] + cnt[v] + 1
        ng[t] = ng.get(t, 0) + 1
    N = len(cents)
    sr = sum(float(r2[t]) * r2[t] / ng[t] for t in relational._MS_STATES)
    h = 3.0 / (N * (N + 1.0)) * sr - 3.0 * (N + 1.0)
    ties = sum(c ** 3 - c for c in cnt.values())
    h_corr = h / (1.0 - ties / (float(N) ** 3 - N))
    got = {r.event_type: r for r in
           relational.REGISTRY["kruskal_wallis"].fn(spark, sf_dir).collect()}
    assert len(got) == len(ng)
    for t, r in got.items():
        assert (r.n_g, r.r2_g) == (ng[t], r2[t])
        assert abs(r.h_stat - round(h, 6)) < 1e-9
        assert abs(r.h_corr - round(h_corr, 6)) < 1e-9


def test_anova_f_matches_scipy_style(spark, sf_dir):
    import pandas as pd

    ev = pd.read_parquet(f"{sf_dir}/events.parquet", columns=["event_type", "value"])
    ev = ev[ev.value.notna()]
    cents = (ev.value * 100).round().astype("int64")
    groups = {t: cents[ev.event_type == t] for t in relational._MS_STATES}
    N = len(cents)
    k = len(groups)
    S = float(cents.sum())
    within = sum(float(g.sum()) ** 2 / len(g) for g in groups.values())
    ssb = within - S * S / N
    ssw = sum(float((g.astype("float64") ** 2).sum()) for g in groups.values()) - within
    f_stat = (ssb / (k - 1)) / (ssw / (N - k))
    r = relational.REGISTRY["anova_f"].fn(spark, sf_dir).collect()[0]
    assert (r.n, r.k) == (N, k)
    assert abs(r.ssb - ssb) / abs(ssb) < 1e-9
    assert abs(r.ssw - ssw) / ssw < 1e-12
    assert abs(r.f_stat - round(f_stat, 6)) < 1e-6


def test_chao1_richness_matches_brute_force(spark, sf_dir):
    docs = relational._t(spark, sf_dir, "documents").select("text").collect()
    cnt = {}
    for d in docs:
        for t in d.text.split(" "):
            if t:
                cnt[t] = cnt.get(t, 0) + 1
    f1 = sum(1 for c in cnt.values() if c == 1)
    f2 = sum(1 for c in cnt.values() if c == 2)
    n_tok = sum(cnt.values())
    r = relational.REGISTRY["chao1_richness"].fn(spark, sf_dir).collect()[0]
    assert (r.s_obs, r.f1, r.f2, r.n_tok) == (len(cnt), f1, f2, n_tok)
    assert abs(r.chao1 - round(len(cnt) + f1 * (f1 - 1) / (2.0 * (f2 + 1)), 6)) < 1e-9
    assert abs(r.coverage - round(1.0 - f1 / n_tok, 6)) < 1e-9


def test_jackknife_variance_matches_brute_force(spark, sf_dir):
    import math

    ev = relational._t(spark, sf_dir, "events").select("user_id", "value").collect()
    grp = {}
    for r in ev:
        if r.value is None:
            continue
        g = r.user_id % relational._JK_G
        c = int(round(r.value * 100))
        cur = grp.setdefault(g, [0, 0])
        cur[0] += 1
        cur[1] += c
    n = sum(v[0] for v in grp.values())
    s = sum(v[1] for v in grp.values())
    ms = [(s - si) / (n - ni) for g, (ni, si) in sorted(grp.items())]
    G = len(ms)
    sm = smm = 0.0
    for m in ms:
        sm += m
        smm += m * m
    var = max((G - 1.0) / G * (smm - sm * sm / G), 0.0)
    r = relational.REGISTRY["jackknife_variance"].fn(spark, sf_dir).collect()[0]
    assert (r.n_groups, r.n_obs) == (G, n)
    assert abs(r.theta_hat - round(s / n, 6)) < 1e-9
    assert abs(r.var_jack - round(var, 6)) < 2e-6
    assert abs(r.se_jack - round(math.sqrt(var), 6)) < 2e-6
    assert r.var_jack > 0  # non-vacuous grouping


def test_burrows_delta_matches_brute_force(spark, sf_dir):
    import math

    docs = relational._t(spark, sf_dir, "documents").select("source", "text").collect()
    cnt_all, per_src, tot_src = {}, {}, {}
    for d in docs:
        for t in d.text.split(" "):
            if t:
                cnt_all[t] = cnt_all.get(t, 0) + 1
                per_src[(d.source, t)] = per_src.get((d.source, t), 0) + 1
                tot_src[d.source] = tot_src.get(d.source, 0) + 1
    top = [t for t, _ in sorted(cnt_all.items(), key=lambda kv: (-kv[1], kv[0]))
           [: relational._BD_TOP]]
    sources = sorted(tot_src)
    rate = {
        (s, t): per_src.get((s, t), 0) * 1000.0 / tot_src[s]
        for s in sources for t in top
    }
    z = {}
    for t in top:
        vals = [rate[(s, t)] for s in sources]
        mu = sum(vals) / len(vals)
        sd = math.sqrt(sum((v - mu) ** 2 for v in vals) / len(vals))
        for s in sources:
            z[(s, t)] = (rate[(s, t)] - mu) / (sd if sd else 1.0)
    got = {(r.source_a, r.source_b): r.delta for r in
           relational.REGISTRY["burrows_delta"].fn(spark, sf_dir).collect()}
    assert len(got) == len(sources) * (len(sources) - 1) // 2
    for i, a in enumerate(sources):
        for b in sources[i + 1:]:
            want = sum(abs(z[(a, t)] - z[(b, t)]) for t in top) / relational._BD_TOP
            assert abs(got[(a, b)] - round(want, 6)) < 2e-6


def test_spearman_rho_matches_pandas(spark, sf_dir):
    """pandas average-method ranks + Pearson on ranks, independently of the
    distinct-cents rank-frame construction."""
    import pandas as pd

    li = pd.read_parquet(
        f"{sf_dir}/lineitem.parquet",
        columns=["l_returnflag", "l_quantity", "l_extendedprice"],
    )
    li["x"] = (li.l_quantity * 100).round().astype("int64")
    li["y"] = (li.l_extendedprice * 100).round().astype("int64")
    got = {r.l_returnflag: r for r in
           relational.REGISTRY["spearman_rho"].fn(spark, sf_dir).collect()}
    assert len(got) == li.l_returnflag.nunique()
    for g, sub in li.groupby("l_returnflag"):
        rx = sub.x.rank(method="average")
        ry = sub.y.rank(method="average")
        want = rx.corr(ry)  # Pearson of ranks == Spearman
        assert got[g].n == len(sub)
        assert abs(got[g].rho - want) < 1e-6


def test_kendall_tau_matches_dominance_count(spark, sf_dir):
    """Independent algorithm: 2-D histogram + 2-D prefix sums give the
    concordant/discordant dominance counts without any cell self-join."""
    import numpy as np
    import pandas as pd

    li = pd.read_parquet(f"{sf_dir}/lineitem.parquet",
                         columns=["l_quantity", "l_discount"])
    x = (li.l_quantity * 100).round().astype("int64")
    y = (li.l_discount * 100).round().astype("int64")
    xs, xi = np.unique(x, return_inverse=True)
    ys, yi = np.unique(y, return_inverse=True)
    h = np.zeros((len(xs), len(ys)), dtype=np.int64)
    np.add.at(h, (xi, yi), 1)
    # strictly-dominating prefix sums (exclusive in both axes)
    cum = h.cumsum(0).cumsum(1)
    below = np.zeros_like(h)
    below[1:, 1:] = cum[:-1, :-1]
    # strictly x-less, y-greater counts
    cum_rev = h[:, ::-1].cumsum(0).cumsum(1)[:, ::-1]
    above = np.zeros_like(h)
    above[1:, :-1] = cum_rev[:-1, 1:]
    conc = int((h * below).sum())
    disc = int((h * above).sum())
    n = len(x)
    tx = int(sum(c * (c - 1) for c in np.bincount(xi)))
    ty = int(sum(c * (c - 1) for c in np.bincount(yi)))
    want = 2.0 * (conc - disc) / np.sqrt(n * (n - 1) - tx) / np.sqrt(n * (n - 1) - ty)
    row = relational.REGISTRY["kendall_tau"].fn(spark, sf_dir).collect()[0]
    assert (row.n, row.conc, row.disc) == (n, conc, disc)
    assert abs(row.tau_b - round(want, 6)) < 1e-9


def test_levene_test_matches_brute_force(spark, sf_dir):
    import numpy as np
    import pandas as pd

    ev = pd.read_parquet(f"{sf_dir}/events.parquet", columns=["event_type", "value"])
    ev = ev[ev.value.notna()]
    cents = (ev.value * 100).round().astype("int64")
    z = {}
    for t in relational._MS_STATES:
        v = np.sort(cents[ev.event_type == t].to_numpy())
        m2 = int(v[(len(v) - 1) // 2]) + int(v[len(v) // 2])  # lo_mid + hi_mid
        z[t] = np.abs(2 * v - m2).astype("float64")
    k = len(z)
    N = sum(len(v) for v in z.values())
    gm = sum(v.sum() for v in z.values()) / N
    ssb = sum(len(v) * (v.mean() - gm) ** 2 for v in z.values())
    ssw = sum(((v - v.mean()) ** 2).sum() for v in z.values())
    want = (ssb / (k - 1)) / (ssw / (N - k))
    row = relational.REGISTRY["levene_test"].fn(spark, sf_dir).collect()[0]
    assert (row.n, row.k) == (N, k)
    assert abs(row.ssb_z - ssb) < max(1e-6 * ssb, 0.02)
    assert abs(row.ssw_z - ssw) < max(1e-9 * ssw, 0.02)
    assert abs(row.w_stat - want) < 1e-6


def test_cramers_v_matches_crosstab(spark, sf_dir):
    import numpy as np
    import pandas as pd

    od = pd.read_parquet(f"{sf_dir}/orders.parquet",
                         columns=["o_orderstatus", "o_orderpriority"])
    ct = pd.crosstab(od.o_orderstatus, od.o_orderpriority).to_numpy(dtype="float64")
    n = ct.sum()
    exp = ct.sum(1, keepdims=True) * ct.sum(0, keepdims=True) / n
    chi2 = ((ct - exp) ** 2 / exp).sum()
    r, c = ct.shape
    want_v = np.sqrt(chi2 / (n * min(r - 1, c - 1)))
    row = relational.REGISTRY["cramers_v"].fn(spark, sf_dir).collect()[0]
    assert (row.n, row.r, row.c) == (int(n), r, c)
    # engine chi2 uses fixed-point 1e-12 per-cell terms: abs err <= 7.5e-12*n
    assert abs(row.chi2 - chi2) < max(1e-7 * n, 1e-4)
    assert abs(row.cramers_v - want_v) < 1e-6


def test_cohen_kappa_matches_brute_force(spark, sf_dir):
    import pandas as pd

    ev = pd.read_parquet(f"{sf_dir}/events.parquet",
                         columns=["user_id", "ts", "event_id", "event_type"])
    ev = ev.sort_values(["user_id", "ts", "event_id"], kind="mergesort")
    prev = ev.groupby("user_id").event_type.shift(1)
    ok = prev.notna()
    a, b = prev[ok].to_numpy(), ev.event_type[ok].to_numpy()
    n = len(a)
    diag = int((a == b).sum())
    states = sorted(set(a) | set(b))
    rn = {s: int((a == s).sum()) for s in states}
    cn = {s: int((b == s).sum()) for s in states}
    pe_num = sum(rn[s] * cn[s] for s in states)
    kappa = (diag * n - pe_num) / (n * n - pe_num)
    row = relational.REGISTRY["cohen_kappa"].fn(spark, sf_dir).collect()[0]
    assert row.n_pairs == n
    assert abs(row.po - round(diag / n, 6)) < 1e-12
    assert abs(row.pe - round(pe_num / n / n, 6)) < 1e-12
    assert abs(row.kappa - round(kappa, 6)) < 1e-12


def test_diurnal_harmonics_matches_numpy_dft(spark, sf_dir):
    """Dense 24-bin histogram -> numpy cos/sin dot products."""
    import numpy as np
    import pandas as pd

    ev = pd.read_parquet(f"{sf_dir}/events.parquet", columns=["ts"])
    h = pd.to_datetime(ev.ts).dt.hour.to_numpy()
    n = np.bincount(h, minlength=24).astype("float64")
    got = {r.k: r for r in
           relational.REGISTRY["diurnal_harmonics"].fn(spark, sf_dir).collect()}
    assert sorted(got) == list(relational._DH_K)
    for k in relational._DH_K:
        ang = 2 * np.pi * k * np.arange(24) / 24
        c, s = float(n @ np.cos(ang)), float(n @ np.sin(ang))
        assert abs(got[k].c_k - c) < 1e-4
        assert abs(got[k].s_k - s) < 1e-4
        assert abs(got[k].power_n - (c * c + s * s) / n.sum()) < 5e-3


def test_pacf_durbin_matches_statsmodels_style(spark, sf_dir):
    """Durbin-Levinson re-derived in numpy from raw per-user ACF."""
    import numpy as np
    import pandas as pd

    ev = pd.read_parquet(f"{sf_dir}/events.parquet",
                         columns=["user_id", "ts", "event_id", "value"])
    ev = ev[ev.value.notna()].sort_values(["user_id", "ts", "event_id"],
                                          kind="mergesort")
    got = {r.user_id: r for r in
           relational.REGISTRY["pacf_durbin"].fn(spark, sf_dir).collect()}
    checked = 0
    for uid, sub in ev.groupby("user_id"):
        v = (sub.value * 100).round().astype("int64").to_numpy().astype("float64")
        nn = len(v)
        if nn < relational._ACF_MIN_N:
            assert uid not in got
            continue
        mu = v.mean()
        d = v - mu
        ss = float(d @ d)
        if ss == 0:
            assert uid not in got
            continue
        r = [float(d[k:] @ d[:-k] if k else d @ d) / ss for k in range(4)]
        phi1 = r[1]
        v1 = 1 - r[1] ** 2
        phi2 = (r[2] - r[1] * phi1) / v1
        a21 = phi1 - phi2 * phi1
        v2 = v1 * (1 - phi2 ** 2)
        phi3 = (r[3] - a21 * r[2] - phi2 * r[1]) / v2
        row = got[uid]
        assert row.n == nn
        assert abs(row.phi1 - phi1) < 1e-6
        assert abs(row.phi2 - phi2) < 1e-6
        assert abs(row.phi3 - phi3) < 1e-5
        checked += 1
    assert checked == len(got) > 0


def test_cross_correlation_matches_numpy(spark, sf_dir):
    import numpy as np
    import pandas as pd

    ev = pd.read_parquet(f"{sf_dir}/events.parquet", columns=["ts", "event_type"])
    ev = ev[ev.event_type.isin([relational._CCF_A, relational._CCF_B])]
    d = (pd.to_datetime(ev.ts).dt.normalize()
         - pd.to_datetime(ev.ts).dt.normalize().min()).dt.days.to_numpy()
    nd = int(d.max()) + 1
    a = np.bincount(d[ev.event_type == relational._CCF_A], minlength=nd).astype("float64")
    b = np.bincount(d[ev.event_type == relational._CCF_B], minlength=nd).astype("float64")
    av, bv = a - a.mean(), b - b.mean()
    da, db = float(av @ av), float(bv @ bv)
    got = {r.lag: r for r in
           relational.REGISTRY["cross_correlation"].fn(spark, sf_dir).collect()}
    assert sorted(got) == list(range(-relational._CCF_MAXLAG,
                                     relational._CCF_MAXLAG + 1))
    for k in got:
        if k >= 0:
            nm = float(av[: nd - k] @ bv[k:]) if k else float(av @ bv)
        else:
            nm = float(av[-k:] @ bv[: nd + k])
        want = nm / np.sqrt(da) / np.sqrt(db)
        assert got[k].n_overlap == nd - abs(k)
        assert abs(got[k].ccf - want) < 1e-6


def test_max_drawdown_matches_brute_force(spark, sf_dir):
    import pandas as pd

    ev = pd.read_parquet(f"{sf_dir}/events.parquet",
                         columns=["user_id", "ts", "event_id", "value"])
    ev = ev[ev.value.notna()].sort_values(["user_id", "ts", "event_id"],
                                          kind="mergesort")
    ev["cents"] = (ev.value * 100).round().astype("int64")
    got = {r.user_id: r for r in
           relational.REGISTRY["max_drawdown"].fn(spark, sf_dir).collect()}
    assert len(got) == ev.user_id.nunique()
    for uid, sub in ev.groupby("user_id"):
        cum = sub.cents.cumsum()
        peak = cum.cummax()
        row = got[uid]
        assert row.n_ev == len(sub)
        assert row.net_cents == int(sub.cents.sum())
        assert row.peak_cents == int(peak.max())
        assert row.max_drawdown_cents == int((peak - cum).max())


def test_nelson_aalen_matches_brute_force(spark, sf_dir):
    import pandas as pd

    ev = pd.read_parquet(f"{sf_dir}/events.parquet",
                         columns=["user_id", "ts", "event_type"])
    ev["t_ms"] = ev.ts.to_numpy().astype("datetime64[ms]").astype("int64")
    rows = []
    for uid, sub in ev.groupby("user_id"):
        t0 = sub.t_ms.min()
        purch = sub.t_ms[sub.event_type == "purchase"]
        if len(purch):
            rows.append(((purch.min() - t0) // 86400000, 1))
        else:
            rows.append(((sub.t_ms.max() - t0) // 86400000, 0))
    df = pd.DataFrame(rows, columns=["t", "obs"])
    byt = df.groupby("t").agg(d=("obs", "sum"), tot=("obs", "count")).sort_index()
    n_risk = len(df) - byt.tot.cumsum().shift(1, fill_value=0)
    hazard = (byt.d / n_risk).cumsum()
    got = {r.t_days: r for r in
           relational.REGISTRY["nelson_aalen"].fn(spark, sf_dir).collect()}
    want = byt[byt.d > 0]
    assert sorted(got) == sorted(want.index)
    for t in want.index:
        assert got[t].d == int(byt.d[t])
        assert got[t].n_risk == int(n_risk[t])
        assert abs(got[t].na_hat - hazard[t]) < 1e-6


def _toks_by(sf_dir, key):
    import pandas as pd
    import re

    docs = pd.read_parquet(f"{sf_dir}/documents.parquet", columns=[key, "text"])
    out = {}
    for k, t in zip(docs[key], docs.text):
        out.setdefault(k, []).extend(re.findall(r"\S+", t))
    return out


def test_yule_k_matches_brute_force(spark, sf_dir):
    got = {r.source: r for r in
           relational.REGISTRY["yule_k"].fn(spark, sf_dir).collect()}
    by = _toks_by(sf_dir, "source")
    assert sorted(got) == sorted(by)
    for src, toks in by.items():
        cnt = {}
        for t in toks:
            cnt[t] = cnt.get(t, 0) + 1
        n = len(toks)
        s2 = sum(c * c for c in cnt.values())
        row = got[src]
        assert (row.n_tok, row.n_types) == (n, len(cnt))
        assert abs(row.yule_k - 1e4 * (s2 - n) / (n * n)) < 1e-6


def test_simpson_diversity_matches_brute_force(spark, sf_dir):
    got = {r.source: r for r in
           relational.REGISTRY["simpson_diversity"].fn(spark, sf_dir).collect()}
    by = _toks_by(sf_dir, "source")
    for src, toks in by.items():
        cnt = {}
        for t in toks:
            cnt[t] = cnt.get(t, 0) + 1
        n = len(toks)
        s2 = sum(c * (c - 1) for c in cnt.values())
        want = 1.0 - s2 / (n * (n - 1))
        assert abs(got[src].simpson_d - round(want, 6)) < 1e-9


def test_good_turing_matches_brute_force(spark, sf_dir):
    import re
    import pandas as pd

    docs = pd.read_parquet(f"{sf_dir}/documents.parquet", columns=["text"])
    cnt = {}
    for t in docs.text:
        for w in re.findall(r"\S+", t):
            cnt[w] = cnt.get(w, 0) + 1
    spec = {}
    for c in cnt.values():
        spec[c] = spec.get(c, 0) + 1
    got = {r.r: r for r in
           relational.REGISTRY["good_turing"].fn(spark, sf_dir).collect()}
    assert sorted(got) == list(range(1, relational._GT_MAX_R + 1))
    for r in got:
        nr, nr1 = spec.get(r, 0), spec.get(r + 1, 0)
        assert (got[r].n_r, got[r].n_r1) == (nr, nr1)
        want = (r + 1) * nr1 / nr if nr else 0.0
        assert abs(got[r].r_star - round(want, 6)) < 1e-9


def _bigrams(sf_dir):
    import pandas as pd

    docs = pd.read_parquet(f"{sf_dir}/documents.parquet", columns=["text"])
    cb, cu = {}, {}
    for t in docs.text:
        a = t.split(" ")
        for w in a:
            cu[w] = cu.get(w, 0) + 1
        for w1, w2 in zip(a, a[1:]):
            cb[(w1, w2)] = cb.get((w1, w2), 0) + 1
    return cb, cu


def test_kneser_ney_bigram_matches_brute_force(spark, sf_dir):
    cb, _ = _bigrams(sf_dir)
    c1, tw, cont = {}, {}, {}
    for (w1, w2), c in cb.items():
        c1[w1] = c1.get(w1, 0) + c
        tw[w1] = tw.get(w1, 0) + 1
        cont[w2] = cont.get(w2, 0) + 1
    B = len(cb)
    D = relational._KN_D
    top = sorted(cb.items(), key=lambda kv: (-kv[1], kv[0]))[: relational._KN_TOP]
    got = {(r.w1, r.w2): r for r in
           relational.REGISTRY["kneser_ney_bigram"].fn(spark, sf_dir).collect()}
    assert set(got) == {k for k, _ in top}
    for (w1, w2), c in top:
        want = (c - D) / c1[w1] + D * tw[w1] / c1[w1] * (cont[w2] / B)
        assert got[(w1, w2)].c2 == c
        assert abs(got[(w1, w2)].p_kn - round(want, 6)) < 1e-9


def test_dice_collocations_matches_brute_force(spark, sf_dir):
    cb, cu = _bigrams(sf_dir)
    top = sorted(cb.items(), key=lambda kv: (-kv[1], kv[0]))[: relational._KN_TOP]
    got = {(r.w1, r.w2): r for r in
           relational.REGISTRY["dice_collocations"].fn(spark, sf_dir).collect()}
    assert set(got) == {k for k, _ in top}
    for (w1, w2), c in top:
        want = 2.0 * c / (cu[w1] + cu[w2])
        assert got[(w1, w2)].c2 == c
        assert abs(got[(w1, w2)].dice - round(want, 6)) < 1e-9


def _lc_graph(sf_dir):
    import pandas as pd

    li = pd.read_parquet(f"{sf_dir}/lineitem.parquet",
                         columns=["l_orderkey", "l_partkey"])
    a = (li.l_orderkey % relational._KC_N).to_numpy()
    b = (li.l_partkey % relational._KC_N).to_numpy()
    edges = {(min(x, y), max(x, y)) for x, y in zip(a, b) if x != y}
    adj = {}
    for u, v in edges:
        adj.setdefault(u, set()).add(v)
        adj.setdefault(v, set()).add(u)
    return adj


def _bfs(adj, src, rounds):
    dist = {src: 0}
    frontier = [src]
    for r in range(1, rounds + 1):
        nxt = []
        for u in frontier:
            for w in adj.get(u, ()):
                if w not in dist:
                    dist[w] = r
                    nxt.append(w)
        frontier = nxt
    return dist


def test_graph_diameter_matches_bfs(spark, sf_dir):
    adj = _lc_graph(sf_dir)
    deg_sorted = sorted(adj, key=lambda v: (-len(adj[v]), v))
    s1 = deg_sorted[0]
    d1 = _bfs(adj, s1, relational._DIAM_ROUNDS)
    ecc1 = max(d1.values())
    s2 = min(v for v, d in d1.items() if d == ecc1)
    d2 = _bfs(adj, s2, relational._DIAM_ROUNDS)
    ecc2 = max(d2.values())
    far2 = min(v for v, d in d2.items() if d == ecc2)
    row = relational.REGISTRY["graph_diameter"].fn(spark, sf_dir).collect()[0]
    assert (row.src1, row.ecc1, row.src2, row.ecc2, row.far2, row.n_reached) == (
        s1, ecc1, s2, ecc2, far2, len(d2))


def test_closeness_landmarks_matches_bfs(spark, sf_dir):
    adj = _lc_graph(sf_dir)
    lms = sorted(adj)[: relational._CLOSE_L]
    got = {r.landmark: r for r in
           relational.REGISTRY["closeness_landmarks"].fn(spark, sf_dir).collect()}
    assert sorted(got) == lms
    for lm in lms:
        d = _bfs(adj, lm, relational._CLOSE_ROUNDS)
        sum_d = sum(d.values())
        row = got[lm]
        assert (row.n_reached, row.sum_dist) == (len(d), sum_d)
        assert abs(row.closeness - round((len(d) - 1) / sum_d, 6)) < 1e-9


def test_ppr_seeds_matches_numpy(spark, sf_dir):
    import pandas as pd

    li = pd.read_parquet(f"{sf_dir}/lineitem.parquet",
                         columns=["l_orderkey", "l_partkey"])
    E = {(int(o % relational._PR_N), int(p % relational._PR_N))
         for o, p in zip(li.l_orderkey, li.l_partkey)}
    nodes = sorted({s for s, _ in E} | {d for _, d in E})
    seeds = set(nodes[: relational._PPR_SEEDS])
    outdeg = {}
    for s, _ in E:
        outdeg[s] = outdeg.get(s, 0) + 1
    base = relational._PPR_ALPHA / relational._PPR_SEEDS
    r = {v: (base if v in seeds else 0.0) for v in nodes}
    for _ in range(relational._PPR_ITERS):
        contrib = {}
        for s, d in E:
            contrib[d] = contrib.get(d, 0.0) + r[s] / outdeg[s]
        r = {v: (base if v in seeds else 0.0)
             + (1.0 - relational._PPR_ALPHA) * contrib.get(v, 0.0)
             for v in nodes}
    got = {row.node: row.ppr for row in
           relational.REGISTRY["ppr_seeds"].fn(spark, sf_dir).collect()}
    want = {v: p for v, p in r.items() if p > 0.0}
    assert set(got) == set(want)
    for v in want:
        assert abs(got[v] - want[v]) < 1e-5


def test_rayleigh_test_matches_brute_force(spark, sf_dir):
    import math

    import pandas as pd

    ev = pd.read_parquet(f"{sf_dir}/events.parquet",
                         columns=["user_id", "ts", "event_id"])
    ev["t_ms"] = ev.ts.to_numpy().astype("datetime64[ms]").astype("int64")
    ev["iy"] = (ev.user_id % 120) * 1000 + (ev.event_id % 13 < 4) * 2000 + ev.event_id % 7
    ev["ix"] = (ev.user_id % 300) * 1000 + (ev.event_id % 13 < 4) * 2000 + ev.event_id % 5
    ev = ev.sort_values(["user_id", "t_ms", "event_id"], kind="mergesort")
    got = {r.user_id: r for r in
           relational.REGISTRY["rayleigh_test"].fn(spark, sf_dir).collect()}
    for uid, sub in ev.groupby("user_id"):
        dys = sub.iy.diff().to_numpy()[1:]
        dxs = sub.ix.diff().to_numpy()[1:]
        sx = sy = n = 0
        for dx, dy in zip(dxs, dys):
            if dx == 0 and dy == 0:
                continue
            h = math.sqrt(float(dx * dx + dy * dy))
            sx += round(dx * 1e12 / h)
            sy += round(dy * 1e12 / h)
            n += 1
        rbar = math.sqrt(float(sx) * sx + float(sy) * sy) / (n * 1e12)
        row = got[uid]
        assert row.n_legs == n
        # python round() is half-even vs engine half-away: recompute from
        # the engine's integers is overkill — tolerance covers the <=1-unit
        # fixed-point difference
        assert abs(row.r_bar - rbar) < 1e-6
        assert abs(row.rayleigh_z - n * rbar * rbar) < 1e-4


def test_mcnemar_test_matches_brute_force(spark, sf_dir):
    import pandas as pd

    ev = pd.read_parquet(f"{sf_dir}/events.parquet",
                         columns=["user_id", "ts", "event_type"])
    ev["d"] = pd.to_datetime(ev.ts).dt.date
    ev["am"] = pd.to_datetime(ev.ts).dt.hour < 12
    g = ev.groupby(["user_id", "d"])
    h1 = g.apply(lambda s: int(((s.event_type == "purchase") & s.am).any()),
                 include_groups=False)
    h2 = g.apply(lambda s: int(((s.event_type == "purchase") & ~s.am).any()),
                 include_groups=False)
    b = int(((h1 == 1) & (h2 == 0)).sum())
    c = int(((h1 == 0) & (h2 == 1)).sum())
    row = relational.REGISTRY["mcnemar_test"].fn(spark, sf_dir).collect()[0]
    assert (row.n_pairs, row.b, row.c) == (len(h1), b, c)
    want = (abs(b - c) - 1) ** 2 / (b + c) if b + c else 0.0
    assert abs(row.chi2_mcnemar - round(want, 6)) < 1e-9


def test_solar_position_matches_numpy(spark, sf_dir):
    """Spencer/NOAA formulas re-derived with numpy trig."""
    import numpy as np
    import pandas as pd

    ev = pd.read_parquet(f"{sf_dir}/events.parquet", columns=["event_id", "ts"])
    eid = ev.event_id.to_numpy()
    lat = (eid * 7919 % 1200) / 10.0 - 60.0
    lon = (eid * 104729 % 3600) / 10.0 - 180.0
    ts = ev.ts.to_numpy().astype("datetime64[ms]").astype("int64")
    doy = (pd.to_datetime(ev.ts).dt.dayofyear).to_numpy()
    h = (ts % 86400000) / 3600000.0
    g = 2 * np.pi / 365.0 * (doy - 1 + (h - 12.0) / 24.0)
    decl = (0.006918 - 0.399912 * np.cos(g) + 0.070257 * np.sin(g)
            - 0.006758 * np.cos(2 * g) + 0.000907 * np.sin(2 * g)
            - 0.002697 * np.cos(3 * g) + 0.00148 * np.sin(3 * g))
    eqt = 229.18 * (0.000075 + 0.001868 * np.cos(g) - 0.032077 * np.sin(g)
                    - 0.014615 * np.cos(2 * g) - 0.040849 * np.sin(2 * g))
    ha = (h * 60.0 + eqt + 4.0 * lon) / 4.0 - 180.0
    cz = (np.sin(np.radians(lat)) * np.sin(decl)
          + np.cos(np.radians(lat)) * np.cos(decl) * np.cos(np.radians(ha)))
    want = dict(zip(eid, zip(decl, cz)))
    rows = relational.REGISTRY["solar_position"].fn(spark, sf_dir).collect()
    assert len(rows) == len(ev)
    for r in rows[:2000]:
        wd, wc = want[r.event_id]
        assert abs(r.decl - wd) < 1e-6
        assert abs(r.cos_zen - wc) < 1e-6
        assert r.is_day == int(wc > 0)


def test_geodesic_destination_roundtrip(spark, sf_dir):
    """Destination then haversine back-distance == forward distance."""
    import numpy as np
    import pandas as pd

    rows = relational.REGISTRY["geodesic_destination"].fn(spark, sf_dir).collect()
    ev = pd.read_parquet(f"{sf_dir}/events.parquet", columns=["event_id"])
    assert len(rows) == len(ev)
    R = relational._GD_R_KM
    for r in rows[:2000]:
        eid = r.event_id
        lat1 = (eid * 7919 % 1200) / 10.0 - 60.0
        lon1 = (eid * 104729 % 3600) / 10.0 - 180.0
        d_km = eid % 500
        p1, l1 = np.radians([lat1, lon1])
        p2, l2 = np.radians([r.lat2, r.lon2])
        hav = 2 * R * np.arcsin(np.sqrt(
            np.sin((p2 - p1) / 2) ** 2
            + np.cos(p1) * np.cos(p2) * np.sin((l2 - l1) / 2) ** 2))
        assert abs(hav - d_km) < 0.01  # km


def test_line_densify_matches_brute_force(spark, sf_dir):
    import math

    import pandas as pd

    ev = pd.read_parquet(f"{sf_dir}/events.parquet",
                         columns=["user_id", "ts", "event_id"])
    ev["t_ms"] = ev.ts.to_numpy().astype("datetime64[ms]").astype("int64")
    ev["iy"] = (ev.user_id % 120) * 1000 + (ev.event_id % 13 < 4) * 2000 + ev.event_id % 7
    ev["ix"] = (ev.user_id % 300) * 1000 + (ev.event_id % 13 < 4) * 2000 + ev.event_id % 5
    ev = ev.sort_values(["user_id", "t_ms", "event_id"], kind="mergesort")
    want = {}
    for uid, sub in ev.groupby("user_id"):
        xs, ys = sub.ix.to_numpy(), sub.iy.to_numpy()
        for s in range(1, len(xs)):
            dx, dy = int(xs[s] - xs[s - 1]), int(ys[s] - ys[s - 1])
            n = int(math.sqrt(dx * dx + dy * dy) // relational._LD_STEP)
            for i in range(1, n + 1):
                want[(uid, s + 1, i)] = (xs[s - 1] + i / (n + 1) * dx,
                                         ys[s - 1] + i / (n + 1) * dy)
    got = {(r.user_id, r.seq, r.i): (r.xi, r.yi) for r in
           relational.REGISTRY["line_densify"].fn(spark, sf_dir).collect()}
    assert set(got) == set(want)
    for k, (x, y) in want.items():
        assert abs(got[k][0] - x) < 1e-5 and abs(got[k][1] - y) < 1e-5


def test_tissot_sinusoidal_properties(spark, sf_dir):
    import numpy as np

    rows = relational.REGISTRY["tissot_sinusoidal"].fn(spark, sf_dir).collect()
    assert len(rows) == 13 * 18
    for r in rows:
        # equal-area projection: a*b == 1 everywhere
        assert abs(r.area_scale - 1.0) < 1e-5
        assert r.a >= 1.0 - 1e-9 >= 0 and r.b <= 1.0 + 1e-9
        if r.lat == 0:
            # equator: no distortion regardless of lon
            assert abs(r.a - 1.0) < 1e-6 and abs(r.omega_deg) < 1e-4
        # independent check: Jacobian singular values via numpy SVD
        ph, lm = np.radians(float(r.lat)), np.radians(float(r.lon))
        # Jacobian in the orthonormal frame: parallel column / cos(ph)
        J = np.array([[1.0, -lm * np.sin(ph)], [0.0, 1.0]])
        sv = np.linalg.svd(J, compute_uv=False)
        assert abs(r.a - sv[0]) < 1e-5 and abs(r.b - sv[1]) < 1e-5


def test_catmull_rom_smooth_matches_brute_force(spark, sf_dir):
    import pandas as pd

    ev = pd.read_parquet(f"{sf_dir}/events.parquet",
                         columns=["user_id", "ts", "event_id"])
    ev["t_ms"] = ev.ts.to_numpy().astype("datetime64[ms]").astype("int64")
    ev["iy"] = (ev.user_id % 120) * 1000 + (ev.event_id % 13 < 4) * 2000 + ev.event_id % 7
    ev["ix"] = (ev.user_id % 300) * 1000 + (ev.event_id % 13 < 4) * 2000 + ev.event_id % 5
    ev = ev.sort_values(["user_id", "t_ms", "event_id"], kind="mergesort")
    want = {}
    for uid, sub in ev.groupby("user_id"):
        xs, ys = sub.ix.to_numpy(), sub.iy.to_numpy()
        for s in range(1, len(xs) - 2):
            xs_mid = 0.0625 * (-float(xs[s - 1]) + 9 * xs[s] + 9 * xs[s + 1] - xs[s + 2])
            ys_mid = 0.0625 * (-float(ys[s - 1]) + 9 * ys[s] + 9 * ys[s + 1] - ys[s + 2])
            want[(uid, s + 1)] = (xs_mid, ys_mid)
    got = {(r.user_id, r.seq): (r.xs, r.ys) for r in
           relational.REGISTRY["catmull_rom_smooth"].fn(spark, sf_dir).collect()}
    assert set(got) == set(want)
    for k in want:
        assert abs(got[k][0] - want[k][0]) < 1e-9
        assert abs(got[k][1] - want[k][1]) < 1e-9


def test_roc_points_matches_brute_force(spark, sf_dir):
    import pandas as pd

    ev = pd.read_parquet(f"{sf_dir}/events.parquet", columns=["event_type", "value"])
    ev = ev[ev.value.notna()]
    sc = (ev.value * 100).round().astype("int64").clip(lower=0)
    pos = (ev.event_type == "purchase").to_numpy()
    P, N = int(pos.sum()), int((~pos).sum())
    got = {r.threshold: r for r in
           relational.REGISTRY["roc_points"].fn(spark, sf_dir).collect()}
    assert len(got) == relational._ROC_K
    for j in range(relational._ROC_K):
        t = j * relational._ROC_STEP
        tp = int((pos & (sc >= t)).sum())
        fp = int(((~pos) & (sc >= t)).sum())
        row = got[t]
        assert (row.tp, row.fp) == (tp, fp)
        assert abs(row.tpr - round(tp / P, 6)) < 1e-9
        assert abs(row.fpr - round(fp / N, 6)) < 1e-9


def test_lift_deciles_matches_brute_force(spark, sf_dir):
    import pandas as pd

    ev = pd.read_parquet(f"{sf_dir}/events.parquet",
                         columns=["event_id", "event_type", "value"])
    ev = ev[ev.value.notna()].copy()
    ev["sc"] = (ev.value * 100).round().astype("int64")
    ev["pos"] = (ev.event_type == "purchase").astype(int)
    ev = ev.sort_values(["sc", "event_id"], ascending=[False, True],
                        kind="mergesort").reset_index(drop=True)
    n = len(ev)
    base, rem = divmod(n, 10)
    sizes = [base + (1 if i < rem else 0) for i in range(10)]
    got = {r.decile: r for r in
           relational.REGISTRY["lift_deciles"].fn(spark, sf_dir).collect()}
    start, cum_n, cum_pos = 0, 0, 0
    tot_rate = ev.pos.sum() / n
    for d, sz in enumerate(sizes, start=1):
        chunk = ev.iloc[start:start + sz]
        start += sz
        np_ = int(chunk.pos.sum())
        cum_n += sz
        cum_pos += np_
        row = got[d]
        assert (row.n, row.n_pos) == (sz, np_)
        assert abs(row.rate - round(np_ / sz, 6)) < 1e-9
        assert abs(row.cum_lift - round((cum_pos / cum_n) / tot_rate, 6)) < 1e-9


def test_ndcg_at_k_matches_brute_force(spark, sf_dir):
    import hashlib
    import math

    import pandas as pd

    docs = pd.read_parquet(f"{sf_dir}/documents.parquet",
                           columns=["doc_id", "n_chars"])
    h = [int(hashlib.md5(str(i).encode()).hexdigest()[:15], 16)
         for i in docs.doc_id]
    rel = [min(3, c // 150) for c in docs.n_chars]
    k = relational._NDCG_K
    by_hash = [r for _, _, r in
               sorted(zip(h, docs.doc_id, rel), key=lambda t: (-t[0], t[1]))][:k]
    by_rel = sorted(rel, reverse=True)[:k]

    def dcg(rels):
        return sum(round((2 ** r - 1)
                         / (math.log(i + 2) / relational._NDCG_LN2) * 1e12)
                   for i, r in enumerate(rels)) / 1e12

    want_dcg, want_idcg = dcg(by_hash), dcg(by_rel)
    row = relational.REGISTRY["ndcg_at_k"].fn(spark, sf_dir).collect()[0]
    assert row.k == k
    assert abs(row.dcg - round(want_dcg, 6)) < 2e-6
    assert abs(row.idcg - round(want_idcg, 6)) < 2e-6
    assert abs(row.ndcg - want_dcg / want_idcg) < 1e-5


def test_langid_f1_matches_confusion(spark, sf_dir):
    """Cross-check against langid_confusion's own matrix."""
    import filda_spark.training  # noqa: F401  (registers langid_confusion)

    cm_rows = relational.REGISTRY["langid_confusion"].fn(spark, sf_dir).collect()
    tp, fp, fn = {}, {}, {}
    langs = set()
    for r in cm_rows:
        langs |= {r.lang_true, r.lang_pred}
        if r.lang_true == r.lang_pred:
            tp[r.lang_true] = tp.get(r.lang_true, 0) + r.n
        else:
            fp[r.lang_pred] = fp.get(r.lang_pred, 0) + r.n
            fn[r.lang_true] = fn.get(r.lang_true, 0) + r.n
    got = {r.lang: r for r in
           relational.REGISTRY["langid_f1"].fn(spark, sf_dir).collect()}
    assert set(got) == langs
    for lg in langs:
        t, p, n = tp.get(lg, 0), fp.get(lg, 0), fn.get(lg, 0)
        row = got[lg]
        assert (row.tp, row.fp, row.fn) == (t, p, n)
        prec = t / (t + p) if t + p else 0.0
        rec = t / (t + n) if t + n else 0.0
        f1 = 2 * t / (2 * t + p + n) if 2 * t + p + n else 0.0
        assert abs(row.precision_c - round(prec, 6)) < 1e-9
        assert abs(row.recall_c - round(rec, 6)) < 1e-9
        assert abs(row.f1 - round(f1, 6)) < 1e-9


def test_cohens_d_matches_numpy(spark, sf_dir):
    import numpy as np
    import pandas as pd

    ev = pd.read_parquet(f"{sf_dir}/events.parquet", columns=["event_type", "value"])
    ev = ev[ev.value.notna()]
    a = (ev.value[ev.event_type == "click"] * 100).round().to_numpy()
    b = (ev.value[ev.event_type == "purchase"] * 100).round().to_numpy()
    n1, n2 = len(a), len(b)
    sp = np.sqrt(((n1 - 1) * a.var(ddof=1) + (n2 - 1) * b.var(ddof=1))
                 / (n1 + n2 - 2))
    d = (a.mean() - b.mean()) / sp
    g = d * (1 - 3 / (4 * (n1 + n2) - 9))
    row = relational.REGISTRY["cohens_d"].fn(spark, sf_dir).collect()[0]
    assert (row.n1, row.n2) == (n1, n2)
    assert abs(row.d - d) < 1e-6
    assert abs(row.hedges_g - g) < 1e-6


def test_attribution_linear_matches_brute_force(spark, sf_dir):
    import pandas as pd

    ev = pd.read_parquet(f"{sf_dir}/events.parquet",
                         columns=["user_id", "event_id", "event_type", "ts"])
    ev["t_ms"] = ev.ts.to_numpy().astype("datetime64[ms]").astype("int64")
    credit, convs = {}, {}
    for uid, sub in ev.groupby("user_id"):
        purch = sub[sub.event_type == "purchase"]
        touch = sub[sub.event_type.isin(["click", "view"])]
        for _, p in purch.iterrows():
            sel = touch[(touch.t_ms < p.t_ms)
                        & (touch.t_ms >= p.t_ms - relational._ATT_WINDOW_MS)]
            if len(sel) == 0:
                continue
            n_t = len(sel)
            for ch in sel.event_type:
                credit[ch] = credit.get(ch, 0) + round(1e12 / n_t)
                convs.setdefault(ch, set()).add(p.event_id)
    got = {r.channel: r for r in
           relational.REGISTRY["attribution_linear"].fn(spark, sf_dir).collect()}
    assert set(got) == set(credit)
    for ch in credit:
        assert got[ch].n_conversions == len(convs[ch])
        assert abs(got[ch].credit - round(credit[ch] / 1e12, 6)) < 1e-9


def test_rfm_scores_matches_brute_force(spark, sf_dir):
    import pandas as pd

    ev = pd.read_parquet(f"{sf_dir}/events.parquet",
                         columns=["user_id", "event_type", "ts", "value"])
    ev = ev[(ev.event_type == "purchase") & ev.value.notna()].copy()
    ev["t_ms"] = ev.ts.to_numpy().astype("datetime64[ms]").astype("int64")
    ev["cents"] = (ev.value * 100).round().astype("int64")
    p = ev.groupby("user_id").agg(last_ms=("t_ms", "max"),
                                  n_purch=("t_ms", "count"),
                                  monetary=("cents", "sum"))

    def quintile(series):
        order = series.reset_index().sort_values(
            [series.name, "user_id"], kind="mergesort").user_id.tolist()
        n = len(order)
        base, rem = divmod(n, 5)
        out, start = {}, 0
        for q in range(1, 6):
            sz = base + (1 if q <= rem else 0)
            for u in order[start:start + sz]:
                out[u] = q
            start += sz
        return out

    rq = quintile(p.last_ms)
    fq = quintile(p.n_purch)
    mq = quintile(p.monetary)
    got = {r.user_id: r for r in
           relational.REGISTRY["rfm_scores"].fn(spark, sf_dir).collect()}
    assert set(got) == set(p.index)
    for u in p.index:
        row = got[u]
        assert (row.r_score, row.f_score, row.m_score) == (rq[u], fq[u], mq[u])
        assert row.rfm == 100 * rq[u] + 10 * fq[u] + mq[u]
        assert (row.last_ms, row.n_purch, row.monetary_cents) == (
            int(p.last_ms[u]), int(p.n_purch[u]), int(p.monetary[u]))


def test_page_hinkley_matches_brute_force(spark, sf_dir):
    import pandas as pd

    ev = pd.read_parquet(f"{sf_dir}/events.parquet", columns=["ts", "value"])
    ev = ev[ev.value.notna()].copy()
    ev["day"] = pd.to_datetime(ev.ts).dt.date
    ev["cents"] = (ev.value * 100).round().astype("int64")
    d = ev.groupby("day").cents.agg(["sum", "count"]).sort_index()
    xt = d["sum"] / d["count"]
    runmean = d["sum"].cumsum() / d["count"].cumsum()
    mt = (xt - runmean - relational._PH_DELTA).cumsum()
    ph = mt - mt.cummin()
    got = {r.day: r for r in
           relational.REGISTRY["page_hinkley"].fn(spark, sf_dir).collect()}
    assert sorted(got) == sorted(d.index)
    for day in d.index:
        row = got[day]
        assert abs(row.xt - xt[day]) < 1e-6
        assert abs(row.mt - mt[day]) < 1e-5
        assert abs(row.ph - ph[day]) < 1e-5
        assert row.alarm == int(ph[day] > relational._PH_LAMBDA)


def test_apriori_rules_matches_brute_force(spark, sf_dir):
    import pandas as pd

    li = pd.read_parquet(f"{sf_dir}/lineitem.parquet",
                         columns=["l_orderkey", "l_partkey"])
    op = {(o, p % 200) for o, p in zip(li.l_orderkey, li.l_partkey)}
    baskets = {}
    for o, it in op:
        baskets.setdefault(o, set()).add(it)
    n = len(baskets)
    m, pairs = {}, {}
    for o, items in baskets.items():
        s = sorted(items)
        for it in s:
            m[it] = m.get(it, 0) + 1
        for i, i1 in enumerate(s):
            for i2 in s[i + 1:]:
                pairs[(i1, i2)] = pairs.get((i1, i2), 0) + 1
    top = sorted(pairs.items(), key=lambda kv: (-kv[1], kv[0]))[: relational._AR_TOP]
    got = {(r.i1, r.i2): r for r in
           relational.REGISTRY["apriori_rules"].fn(spark, sf_dir).collect()}
    assert set(got) == {k for k, _ in top}
    for (i1, i2), c_ab in top:
        row = got[(i1, i2)]
        assert (row.c_ab, row.c1, row.c2) == (c_ab, m[i1], m[i2])
        assert abs(row.conf_12 - round(c_ab / m[i1], 6)) < 1e-9
        assert abs(row.conf_21 - round(c_ab / m[i2], 6)) < 1e-9
        assert abs(row.lift - round(c_ab * n / (m[i1] * m[i2]), 6)) < 1e-9
        assert abs(row.leverage - round(c_ab / n - m[i1] * m[i2] / n / n, 6)) < 1e-9


def test_qq_normal_points_matches_brute_force(spark, sf_dir):
    import math

    import numpy as np
    import pandas as pd

    ev = pd.read_parquet(f"{sf_dir}/events.parquet", columns=["value"])
    v = np.sort((ev.value.dropna() * 100).round().astype("int64").to_numpy())
    n = len(v)
    got = {r.j: r for r in
           relational.REGISTRY["qq_normal_points"].fn(spark, sf_dir).collect()}
    assert sorted(got) == list(range(1, relational._QQ_N))
    a, b = relational._QQ_A, relational._QQ_B
    mu, sd = v.mean(), v.std(ddof=1)
    for j in got:
        p = j / relational._QQ_N
        k = math.ceil(j * n / relational._QQ_N)
        q_emp = int(v[k - 1])  # type-1 quantile
        qq = p - 0.5
        r = qq * qq
        num = ((((a[0] * r + a[1]) * r + a[2]) * r + a[3]) * r + a[4]) * r + a[5]
        den = ((((b[0] * r + b[1]) * r + b[2]) * r + b[3]) * r + b[4]) * r + 1.0
        z = num * qq / den
        # sanity: Acklam probit within 1.2e-9 of scipy-grade inverse CDF
        row = got[j]
        assert row.q_emp == q_emp
        assert abs(row.z_norm - round(z, 6)) < 1e-9
        assert abs(row.z_emp - (q_emp - mu) / sd) < 1e-5


def test_trimmed_mean_matches_numpy(spark, sf_dir):
    import numpy as np
    import pandas as pd

    ev = pd.read_parquet(f"{sf_dir}/events.parquet", columns=["event_type", "value"])
    ev = ev[ev.value.notna()]
    got = {r.event_type: r for r in
           relational.REGISTRY["trimmed_mean"].fn(spark, sf_dir).collect()}
    for t, sub in ev.groupby("event_type"):
        v = np.sort((sub.value * 100).round().astype("int64").to_numpy())
        n = len(v)
        lo = n * relational._TRIM_PCT // 100
        kept = v[lo:n - lo]
        tm = kept.mean()
        wm = (kept.sum() + lo * v[lo] + lo * v[n - lo - 1]) / n
        row = got[t]
        assert (row.n, row.n_trimmed_each) == (n, lo)
        assert abs(row.trimmed_mean - round(tm, 6)) < 1e-6
        assert abs(row.winsorized_mean - round(wm, 6)) < 1e-6


def test_grubbs_test_matches_numpy(spark, sf_dir):
    import numpy as np
    import pandas as pd

    ev = pd.read_parquet(f"{sf_dir}/events.parquet", columns=["value"])
    v = (ev.value.dropna() * 100).round().astype("int64").to_numpy()
    mu, sd = v.mean(), v.std(ddof=1)
    g = np.abs(v - mu).max() / sd
    dev = np.abs(v * len(v) - v.sum())
    outlier = int(v[dev == dev.max()].min())
    row = relational.REGISTRY["grubbs_test"].fn(spark, sf_dir).collect()[0]
    assert row.n == len(v)
    assert row.outlier_cents == outlier
    assert abs(row.g_stat - g) < 1e-6


def test_wilcoxon_signed_rank_matches_scipy_style(spark, sf_dir):
    import numpy as np
    import pandas as pd

    ev = pd.read_parquet(f"{sf_dir}/events.parquet",
                         columns=["user_id", "ts", "value"])
    ev = ev[ev.value.notna()].copy()
    ev["day"] = pd.to_datetime(ev.ts).dt.date
    ev["am"] = pd.to_datetime(ev.ts).dt.hour < 12
    ev["cents"] = (ev.value * 100).round().astype("int64")
    g = ev.groupby(["user_id", "day"]).apply(
        lambda s: int(s.cents[s.am].sum() - s.cents[~s.am].sum()),
        include_groups=False)
    d = g[g != 0].to_numpy()
    ad = np.abs(d)
    order = np.argsort(ad, kind="stable")
    ranks = np.empty(len(d), dtype="float64")
    sorted_ad = ad[order]
    i = 0
    r2 = np.empty(len(d), dtype="int64")
    while i < len(d):
        jj = i
        while jj < len(d) and sorted_ad[jj] == sorted_ad[i]:
            jj += 1
        r2[order[i:jj]] = (i + 1) + jj  # 2*avg rank = (i+1) + jj
        i = jj
    w2p = int(r2[d > 0].sum())
    n = len(d)
    _, counts = np.unique(ad, return_counts=True)
    ties = int(sum(c ** 3 - c for c in counts))
    z = (2.0 * w2p - n * (n + 1)) * np.sqrt(3.0) / np.sqrt(
        2 * n * (n + 1) * (2 * n + 1) - ties)
    row = relational.REGISTRY["wilcoxon_signed_rank"].fn(spark, sf_dir).collect()[0]
    assert (row.n_pairs, row.w2_plus) == (n, w2p)
    assert abs(row.z - round(z, 6)) < 1e-9


def test_siegel_slopes_matches_brute_force(spark, sf_dir):
    import numpy as np
    import pandas as pd

    ev = pd.read_parquet(f"{sf_dir}/events.parquet", columns=["ts"])
    day = pd.to_datetime(ev.ts).dt.normalize()
    x = (day - day.min()).dt.days.to_numpy()
    xs, counts = np.unique(x, return_counts=True)

    def med(vals):
        v = np.sort(np.asarray(vals))
        n = len(v)
        return (v[(n - 1) // 2] + v[n // 2]) / 2.0

    mis = []
    for i, xi in enumerate(xs):
        slopes = [round((counts[j] - counts[i]) / (xs[j] - xi), 9)
                  for j in range(len(xs)) if j != i]
        mis.append(round(med(slopes), 9))
    want = round(med(mis), 6)
    row = relational.REGISTRY["siegel_slopes"].fn(spark, sf_dir).collect()[0]
    assert row.n_days == len(xs)
    assert abs(row.siegel_slope - want) < 1e-9


def test_textrank_scores_matches_numpy(spark, sf_dir):
    import pandas as pd

    docs = pd.read_parquet(f"{sf_dir}/documents.parquet", columns=["text"])
    cw, bi = {}, {}
    for t in docs.text:
        a = t.split(" ")
        for w in a:
            cw[w] = cw.get(w, 0) + 1
        for w1, w2 in zip(a, a[1:]):
            if (len(w1) >= relational._TR_MINLEN and len(w2) >= relational._TR_MINLEN
                    and w1 != w2):
                bi[(w1, w2)] = bi.get((w1, w2), 0) + 1
    keep = {w for w, c in cw.items() if c >= relational._TR_MINCNT}
    e = {}
    for (w1, w2), c in bi.items():
        if w1 in keep and w2 in keep:
            e[(w1, w2)] = e.get((w1, w2), 0) + c
            e[(w2, w1)] = e.get((w2, w1), 0) + c
    nodes = sorted({s for s, _ in e})
    deg = {}
    for (s, _), wt in e.items():
        deg[s] = deg.get(s, 0) + wt
    r = {w: 1.0 for w in nodes}
    d = relational._TR_DAMP
    for _ in range(relational._TR_ITERS):
        contrib = {}
        for (s, t), wt in e.items():
            contrib[t] = contrib.get(t, 0.0) + r[s] * wt / deg[s]
        r = {w: (1.0 - d) + d * contrib.get(w, 0.0) for w in nodes}
    got = {row.word: row.score for row in
           relational.REGISTRY["textrank_scores"].fn(spark, sf_dir).collect()}
    assert set(got) == set(nodes)
    for w in nodes:
        assert abs(got[w] - r[w]) < 1e-5


def test_spatial_thinning_invariants(spark, sf_dir):
    import pandas as pd

    ev = pd.read_parquet(f"{sf_dir}/events.parquet", columns=["event_id"])
    eid = ev.event_id.to_numpy()
    pts = {int(i): (int(i * 7919 % 2000), int(i * 104729 % 2400)) for i in eid}
    # brute-force replica of the id-ordered single-pass rule
    reps = {}
    for i, (iy, ix) in pts.items():
        key = (iy // 50, ix // 50)
        if key not in reps or i < reps[key]:
            reps[key] = i
    rep_list = [(i, pts[i]) for i in reps.values()]
    dropped = set()
    for i, (iy, ix) in rep_list:
        for j, (jy, jx) in rep_list:
            if i < j and (iy - jy) ** 2 + (ix - jx) ** 2 < relational._THIN_R2:
                dropped.add(j)
    want = {i for i, _ in rep_list} - dropped
    got = {r.event_id for r in
           relational.REGISTRY["spatial_thinning"].fn(spark, sf_dir).collect()}
    assert got == want


def test_hypsometric_curve_matches_numpy(spark, sf_dir):
    import numpy as np
    import pandas as pd

    ev = pd.read_parquet(f"{sf_dir}/events.parquet", columns=["event_id"])
    eid = ev.event_id.to_numpy()
    lat = (eid * 7919 % 2000) / 100.0
    lon = (eid * 104729 % 2400) / 100.0 + 10.0
    cy = np.floor(lat / relational._GI_CELL).astype("int64")
    cx = np.floor(lon / relational._GI_CELL).astype("int64")
    cells = pd.DataFrame({"cy": cy, "cx": cx}).groupby(["cy", "cx"]).size()
    x = cells.to_numpy()
    lo, hi, tot = int(x.min()), int(x.max()), len(x)
    got = {r.j: r for r in
           relational.REGISTRY["hypsometric_curve"].fn(spark, sf_dir).collect()}
    assert sorted(got) == list(range(relational._HYP_BINS + 1))
    for j in got:
        n_above = int((relational._HYP_BINS * (x - lo) >= j * (hi - lo)).sum())
        assert got[j].n_above == n_above
        assert abs(got[j].area_frac - round(n_above / tot, 6)) < 1e-9


def test_exp_fit_ks_matches_numpy(spark, sf_dir):
    import numpy as np
    import pandas as pd

    ev = pd.read_parquet(f"{sf_dir}/events.parquet",
                         columns=["user_id", "ts", "event_id"])
    ev["t_ms"] = ev.ts.to_numpy().astype("datetime64[ms]").astype("int64")
    ev = ev.sort_values(["user_id", "t_ms", "event_id"], kind="mergesort")
    g = ev.groupby("user_id").t_ms.diff().dropna()
    g = g[g > 0].astype("int64").to_numpy()
    n, sg = len(g), int(g.sum())
    lam = n / sg
    gs = np.sort(g)
    uniq, counts = np.unique(gs, return_counts=True)
    cum = np.cumsum(counts)
    below = cum - counts
    cdf = 1.0 - np.exp(-lam * uniq)
    ks = max(np.abs(cum / n - cdf).max(), np.abs(below / n - cdf).max())
    row = relational.REGISTRY["exp_fit_ks"].fn(spark, sf_dir).collect()[0]
    assert row.n_gaps == n
    assert abs(row.lambda_per_hour - round(n / sg * 3600000.0, 6)) < 1e-9
    assert abs(row.ks_stat - ks) < 1e-6


def test_cohort_ltv_matches_brute_force(spark, sf_dir):
    import pandas as pd

    ev = pd.read_parquet(f"{sf_dir}/events.parquet",
                         columns=["user_id", "event_type", "ts", "value"])
    ev["t_ms"] = ev.ts.to_numpy().astype("datetime64[ms]").astype("int64")
    ev["wk"] = ev.t_ms // 604800000
    ev["cents"] = (ev.value.fillna(0) * 100).round().astype("int64")
    first = ev.groupby("user_id").wk.min()
    ev["cw"] = ev.user_id.map(first)
    ev["age"] = ev.wk - ev.cw
    purch = ev[ev.event_type == "purchase"]
    got = {(r.cohort_week, r.age_wk): r for r in
           relational.REGISTRY["cohort_ltv"].fn(spark, sf_dir).collect()}
    n_users = first.value_counts()
    for (cwk, age), sub in ev.groupby(["cw", "age"]):
        p = purch[(purch.cw == cwk) & (purch.age == age)]
        row = got[(cwk, age)]
        assert row.n_users == int(n_users[cwk])
        assert row.sum_cents == int(p.cents.sum())
        assert row.purchasers == p.user_id.nunique()
    for cwk in first.unique():
        ages = sorted(a for c, a in got if c == cwk)
        cum = 0
        for a in ages:
            cum += got[(cwk, a)].sum_cents
            assert got[(cwk, a)].cum_cents == cum
            assert abs(got[(cwk, a)].ltv_cents
                       - round(cum / int(n_users[cwk]), 6)) < 1e-9


def test_partial_correlation_matches_numpy(spark, sf_dir):
    import numpy as np
    import pandas as pd

    li = pd.read_parquet(f"{sf_dir}/lineitem.parquet",
                         columns=["l_quantity", "l_extendedprice", "l_discount"])
    x = (li.l_quantity * 100).round().to_numpy()
    y = (li.l_extendedprice * 100).round().to_numpy()
    z = (li.l_discount * 100).round().to_numpy()
    rxy = np.corrcoef(x, y)[0, 1]
    rxz = np.corrcoef(x, z)[0, 1]
    ryz = np.corrcoef(y, z)[0, 1]
    want = (rxy - rxz * ryz) / np.sqrt(1 - rxz ** 2) / np.sqrt(1 - ryz ** 2)
    row = relational.REGISTRY["partial_correlation"].fn(spark, sf_dir).collect()[0]
    assert row.n == len(x)
    assert abs(row.r_xy - rxy) < 1e-6
    assert abs(row.r_xy_z - want) < 1e-6


def test_mahalanobis_outliers_matches_numpy(spark, sf_dir):
    import numpy as np
    import pandas as pd

    ev = pd.read_parquet(f"{sf_dir}/events.parquet", columns=["event_id"])
    eid = ev.event_id.to_numpy()
    pts = np.stack([(eid * 7919 % 2000), (eid * 104729 % 2400)], axis=1).astype("float64")
    mu = pts.mean(0)
    cov = np.cov(pts.T, ddof=1)
    inv = np.linalg.inv(cov)
    d = pts - mu
    md2 = np.einsum("ij,jk,ik->i", d, inv, d)
    want = {int(e): m for e, m in zip(eid, md2) if m > relational._MAHA_CHI2_95}
    got = {r.event_id: r.md2 for r in
           relational.REGISTRY["mahalanobis_outliers"].fn(spark, sf_dir).collect()}
    assert set(got) == set(want) != set()
    for e in want:
        assert abs(got[e] - want[e]) < 1e-4


def test_haar_energy_matches_pywt_style(spark, sf_dir):
    import numpy as np
    import pandas as pd

    ev = pd.read_parquet(f"{sf_dir}/events.parquet", columns=["ts"])
    day = pd.to_datetime(ev.ts).dt.normalize()
    t = (day - day.min()).dt.days.to_numpy()
    y = np.zeros(32, dtype="int64")
    np.add.at(y, t, 1)
    a = y.astype("float64")
    got = {r.level: r for r in
           relational.REGISTRY["haar_energy"].fn(spark, sf_dir).collect()}
    for lvl in range(1, relational._HAAR_LEVELS + 1):
        # classic cascade: approx/detail via pairwise sums/diffs / sqrt(2)
        det = (a[0::2] - a[1::2]) / np.sqrt(2.0)
        a = (a[0::2] + a[1::2]) / np.sqrt(2.0)
        energy = float((det ** 2).sum())
        row = got[lvl]
        assert row.n_coeffs == len(det)
        assert abs(row.energy - energy) < 1e-4


def test_label_centroids_matches_numpy(spark, sf_dir):
    import numpy as np
    import pandas as pd

    em = pd.read_parquet(f"{sf_dir}/embeddings.parquet")
    got = {r.label: r for r in
           relational.REGISTRY["label_centroids"].fn(spark, sf_dir).collect()}
    for lbl, sub in em.groupby("label"):
        V = np.stack(sub.embedding.to_numpy()).astype("float64")
        # engine centroid: fixed-point 1e-6 sums / n
        cfp = np.round(V * 1e6).sum(0) / (len(V) * 1e6)
        cosv = []
        for v in V:
            dvc = np.round(v * cfp * 1e9).sum() / 1e9
            dvv = np.round(v * v * 1e9).sum() / 1e9
            dcc = np.round(cfp * cfp * 1e9).sum() / 1e9
            cosv.append(round(dvc / np.sqrt(dvv) / np.sqrt(dcc) * 1e9) / 1e9)
        row = got[lbl]
        assert row.n_vecs == len(V)
        for j in range(4):
            assert abs(getattr(row, f"c{j}") - round(cfp[j], 6)) < 1e-9
        assert abs(row.mean_cos - round(sum(cosv) / len(cosv), 6)) < 1e-8


def test_turning_point_test_matches_brute_force(spark, sf_dir):
    import numpy as np
    import pandas as pd

    ev = pd.read_parquet(f"{sf_dir}/events.parquet", columns=["ts"])
    day = pd.to_datetime(ev.ts).dt.normalize()
    y = day.value_counts().sort_index().to_numpy()
    n = len(y)
    tcount = sum(1 for i in range(1, n - 1)
                 if (y[i] - y[i - 1]) * (y[i + 1] - y[i]) < 0)
    z = (tcount - 2 * (n - 2) / 3) / np.sqrt((16 * n - 29) / 90)
    row = relational.REGISTRY["turning_point_test"].fn(spark, sf_dir).collect()[0]
    assert (row.n_days, row.n_turning) == (n, tcount)
    assert abs(row.z - round(z, 6)) < 1e-9


def test_gumbel_fit_extremes_matches_numpy(spark, sf_dir):
    import math

    import numpy as np
    import pandas as pd

    ev = pd.read_parquet(f"{sf_dir}/events.parquet", columns=["ts", "value"])
    ev = ev[ev.value.notna()].copy()
    ev["day"] = pd.to_datetime(ev.ts).dt.date
    ev["cents"] = (ev.value * 100).round().astype("int64")
    mx = ev.groupby("day").cents.max().to_numpy().astype("float64")
    beta = mx.std(ddof=1) * math.sqrt(6) / math.pi
    mu = mx.mean() - relational._EULER_GAMMA * beta
    row = relational.REGISTRY["gumbel_fit_extremes"].fn(spark, sf_dir).collect()[0]
    assert row.n_days == len(mx)
    assert abs(row.mu - mu) < 1e-4
    assert abs(row.beta - beta) < 1e-4
    assert abs(row.return_level_10 - (mu - beta * math.log(-math.log(0.9)))) < 1e-3
    assert abs(row.return_level_100 - (mu - beta * math.log(-math.log(0.99)))) < 1e-3


def test_bradley_terry_matches_numpy(spark, sf_dir):
    import pandas as pd

    li = pd.read_parquet(f"{sf_dir}/lineitem.parquet",
                         columns=["l_orderkey", "l_partkey", "l_quantity"])
    li["item"] = li.l_partkey % relational._BT_N
    li["q"] = (li.l_quantity * 100).round().astype("int64")
    oi = li.groupby(["l_orderkey", "item"]).q.sum()
    n_ij, w_ij = {}, {}
    for o, sub in oi.groupby(level=0):
        items = [(i, q) for (_, i), q in sub.items()]
        for x in range(len(items)):
            for yy in range(x + 1, len(items)):
                (i, qi), (j, qj) = items[x], items[yy]
                if qi == qj:
                    continue
                a, b = min(i, j), max(i, j)
                wa = (qi if a == i else qj) > (qj if a == i else qi)
                n_ij[(a, b)] = n_ij.get((a, b), 0) + 1
                w_ij[(a, b)] = w_ij.get((a, b), 0) + (1 if wa else 0)
    pairs = {}
    for (a, b), n in n_ij.items():
        w = w_ij[(a, b)]
        pairs[(a, b)] = (n, w)
        pairs[(b, a)] = (n, n - w)
    wins = {}
    for (i, _), (n, w) in pairs.items():
        wins[i] = wins.get(i, 0) + w
    FP = relational._BT_FP
    p = {i: 1.0 for i in wins}
    for _ in range(relational._BT_ITERS):
        den = {}
        for (i, j), (n, _) in pairs.items():
            den[i] = den.get(i, 0) + round(n / (p[i] + p[j]) * FP)
        pr = {i: wins[i] / (den[i] / FP) for i in wins}
        tot = sum(round(v * FP) for v in pr.values())
        p = {i: pr[i] * relational._BT_N * FP / tot for i in pr}
    got = {r.item: r for r in
           relational.REGISTRY["bradley_terry"].fn(spark, sf_dir).collect()}
    assert set(got) == set(wins)
    for i in wins:
        assert got[i].w_total == wins[i]
        assert abs(got[i].strength - round(p[i], 6)) < 1e-6


def test_spectral_coherence_matches_numpy(spark, sf_dir):
    import numpy as np
    import pandas as pd

    ev = pd.read_parquet(f"{sf_dir}/events.parquet", columns=["ts", "event_type"])
    ev = ev[ev.event_type.isin(["click", "purchase"])].copy()
    ts = pd.to_datetime(ev.ts)
    ev["day"] = ts.dt.date
    ev["h"] = ts.dt.hour
    got = {r.k: r for r in
           relational.REGISTRY["spectral_coherence"].fn(spark, sf_dir).collect()}
    FP = relational._SC_FP
    for k in relational._DH_K:
        cosv = relational._DH_COS[k]
        sinv = relational._DH_SIN[k]
        cre = cim = sxx = syy = 0
        for _, sub in ev.groupby("day"):
            na = np.bincount(sub.h[sub.event_type == "click"], minlength=24)
            nb = np.bincount(sub.h[sub.event_type == "purchase"], minlength=24)
            xc = sum(round(float(na[h]) * cosv[h] * FP) for h in range(24))
            xs = sum(round(float(na[h]) * sinv[h] * FP) for h in range(24))
            yc = sum(round(float(nb[h]) * cosv[h] * FP) for h in range(24))
            ys = sum(round(float(nb[h]) * sinv[h] * FP) for h in range(24))
            cre += xc * yc + xs * ys
            cim += xs * yc - xc * ys
            sxx += xc * xc + xs * xs
            syy += yc * yc + ys * ys
        row = got[k]
        assert abs(row.coherence - round((cre * cre + cim * cim)
                                         / (float(sxx) * syy), 6)) < 1e-6
        assert abs(row.phase - round(np.arctan2(float(cim), float(cre)), 6)) < 1e-6
        assert 0.0 <= row.coherence <= 1.0 + 1e-9


def test_permutation_entropy_matches_brute_force(spark, sf_dir):
    import math

    import numpy as np
    import pandas as pd

    ev = pd.read_parquet(f"{sf_dir}/events.parquet", columns=["ts"])
    day = pd.to_datetime(ev.ts).dt.normalize()
    y = day.value_counts().sort_index().to_numpy()
    pats = {}
    for i in range(len(y) - 2):
        w = y[i:i + 3]
        order = np.argsort(w, kind="stable")  # stable == index tie-break
        rank = np.empty(3, dtype=int)
        rank[order] = np.arange(3)
        code = 100 * rank[0] + 10 * rank[1] + rank[2]
        pats[code] = pats.get(code, 0) + 1
    n = sum(pats.values())
    h = -sum(c / n * math.log(c / n) for c in pats.values())
    row = relational.REGISTRY["permutation_entropy"].fn(spark, sf_dir).collect()[0]
    assert row.n_windows == n
    assert abs(row.h - round(h, 6)) < 1e-6
    assert abs(row.h_norm - round(h / math.log(6), 6)) < 1e-6


def test_odds_ratio_ci_matches_brute_force(spark, sf_dir):
    import math

    import pandas as pd

    ev = pd.read_parquet(f"{sf_dir}/events.parquet", columns=["ts", "event_type"])
    wk = pd.to_datetime(ev.ts).dt.dayofweek >= 5  # pandas: 5=Sat, 6=Sun
    pos = ev.event_type == "purchase"
    a = int((wk & pos).sum())
    b = int((wk & ~pos).sum())
    c = int((~wk & pos).sum())
    d = int((~wk & ~pos).sum())
    orx = a * d / (b * c)
    se = math.sqrt(1 / a + 1 / b + 1 / c + 1 / d)
    row = relational.REGISTRY["odds_ratio_ci"].fn(spark, sf_dir).collect()[0]
    assert (row.a, row.b, row.c, row.d) == (a, b, c, d)
    assert abs(row.odds_ratio - round(orx, 6)) < 1e-9
    assert abs(row.ci_lo - math.exp(math.log(orx) - 1.96 * se)) < 1e-5
    assert abs(row.ci_hi - math.exp(math.log(orx) + 1.96 * se)) < 1e-5


def test_ground_track_physics(spark, sf_dir):
    """Orbit propagation sanity: |lat| <= 180 - incl, period recovery,
    plus a numpy re-derivation."""
    import numpy as np

    rows = relational.REGISTRY["ground_track"].fn(spark, sf_dir).collect()
    assert len(rows) == 1440
    got = {r.minute: r for r in rows}
    incl = relational._GT_INCL
    max_lat = np.degrees(np.arcsin(np.sin(incl)))
    t = np.arange(1440) * 60.0
    u = 2 * np.pi * t / relational._GT_PERIOD_S
    lat = np.degrees(np.arcsin(np.sin(incl) * np.sin(u)))
    lon0 = (np.degrees(np.arctan2(np.cos(incl) * np.sin(u), np.cos(u)))
            - np.degrees(relational._GT_OMEGA_E * t))
    lon = lon0 - 360.0 * np.floor((lon0 + 180.0) / 360.0)
    for m in range(0, 1440, 7):
        r = got[m]
        assert abs(r.lat) <= max_lat + 1e-6
        assert -180.0 - 1e-6 <= r.lon < 180.0 + 1e-6
        assert abs(r.lat - lat[m]) < 1e-5
        assert abs(r.lon - lon[m]) < 1e-5
        assert r.orbit == int(t[m] // relational._GT_PERIOD_S)


def test_swath_coverage_matches_numpy(spark, sf_dir):
    import numpy as np

    t = np.arange(1440) * 60.0
    incl = relational._GT_INCL
    u = 2 * np.pi * t / relational._GT_PERIOD_S
    phi = np.arcsin(np.sin(incl) * np.sin(u))
    lon0 = (np.degrees(np.arctan2(np.cos(incl) * np.sin(u), np.cos(u)))
            - np.degrees(relational._GT_OMEGA_E * t))
    lam = np.radians(lon0 - 360.0 * np.floor((lon0 + 180.0) / 360.0))
    orbit = (t // relational._GT_PERIOD_S).astype(int)
    got = {(r.cy, r.cx): r for r in
           relational.REGISTRY["swath_coverage"].fn(spark, sf_dir).collect()}
    rng = np.random.RandomState(0)
    for cy in rng.choice(np.arange(-18, 18), 6, replace=False):
        for cx in rng.choice(np.arange(-36, 36), 6, replace=False):
            cphi = np.radians(cy * relational._SW_CELL + relational._SW_CELL / 2.0)
            clam = np.radians(cx * relational._SW_CELL + relational._SW_CELL / 2.0)
            hav = 2 * 6371.0 * np.arcsin(np.sqrt(
                np.sin((cphi - phi) / 2) ** 2
                + np.cos(phi) * np.cos(cphi) * np.sin((clam - lam) / 2) ** 2))
            sel = hav < relational._SW_HALF_KM
            key = (int(cy), int(cx))
            if sel.any():
                assert got[key].n_pts == int(sel.sum())
                assert got[key].n_orbits == len(set(orbit[sel]))
            else:
                assert key not in got


def test_woe_iv_matches_brute_force(spark, sf_dir):
    import math

    import pandas as pd

    ev = pd.read_parquet(f"{sf_dir}/events.parquet",
                         columns=["event_id", "event_type", "value"])
    ev = ev[ev.value.notna()].copy()
    ev["sc"] = (ev.value * 100).round().astype("int64")
    ev["pos"] = (ev.event_type == "purchase").astype(int)
    ev = ev.sort_values(["sc", "event_id"], ascending=[False, True],
                        kind="mergesort").reset_index(drop=True)
    n = len(ev)
    base, rem = divmod(n, 10)
    got = {r.decile: r for r in
           relational.REGISTRY["woe_iv"].fn(spark, sf_dir).collect()}
    P = ev.pos.sum()
    N = n - P
    start = 0
    iv = 0.0
    woes = {}
    for dd in range(1, 11):
        sz = base + (1 if dd <= rem else 0)
        chunk = ev.iloc[start:start + sz]
        start += sz
        p_i, n_i = int(chunk.pos.sum()), sz - int(chunk.pos.sum())
        woes[dd] = math.log((p_i / P) / (n_i / N))
        iv += (p_i / P - n_i / N) * woes[dd]
    for dd in range(1, 11):
        assert abs(got[dd].woe - round(woes[dd], 6)) < 1e-9
        assert abs(got[dd].iv - round(iv, 6)) < 1e-6


def test_target_encoding_loo_matches_brute_force(spark, sf_dir):
    import pandas as pd

    ev = pd.read_parquet(f"{sf_dir}/events.parquet",
                         columns=["event_id", "user_id", "value"])
    ev = ev[ev.value.notna()].copy()
    ev["cat"] = ev.user_id % relational._TE_CATS
    ev["v"] = (ev.value * 100).round().astype("int64")
    g = ev.groupby("cat").v.agg(["sum", "count"])
    got = {r.event_id: r for r in
           relational.REGISTRY["target_encoding_loo"].fn(spark, sf_dir).collect()}
    want_n = int((ev.cat.map(g["count"]) > 1).sum())
    assert len(got) == want_n
    sample = ev.sample(n=500, random_state=0)
    for _, r in sample.iterrows():
        rcat = int(r["cat"])  # r.cat would hit pandas' categorical accessor
        sc, nc = int(g["sum"][rcat]), int(g["count"][rcat])
        if nc <= 1:
            assert r.event_id not in got
            continue
        want = (sc - r.v) / (nc - 1)
        assert abs(got[r.event_id].enc - round(want, 6)) < 1e-9
        assert got[r.event_id].cat == rcat


def test_embedding_drift_matches_numpy(spark, sf_dir):
    import numpy as np
    import pandas as pd

    em = pd.read_parquet(f"{sf_dir}/embeddings.parquet")
    V = np.stack(em.embedding.to_numpy()).astype("float64")
    half = (em.vec_id % 2).to_numpy()
    FP = relational._LC_FP
    ca = np.round(V[half == 0] * FP).sum(0) / (int((half == 0).sum()) * FP)
    cb = np.round(V[half == 1] * FP).sum(0) / (int((half == 1).sum()) * FP)
    fp9 = 1e9
    d2 = sum(round((a - b) * (a - b) * fp9) for a, b in zip(ca, cb)) / fp9
    dab = sum(round(a * b * fp9) for a, b in zip(ca, cb)) / fp9
    daa = sum(round(a * a * fp9) for a in ca) / fp9
    dbb = sum(round(b * b * fp9) for b in cb) / fp9
    row = relational.REGISTRY["embedding_drift"].fn(spark, sf_dir).collect()[0]
    assert (row.n_a, row.n_b) == (int((half == 0).sum()), int((half == 1).sum()))
    assert abs(row.l2_drift - round(np.sqrt(d2), 6)) < 1e-8
    assert abs(row.centroid_cos - round(dab / np.sqrt(daa) / np.sqrt(dbb), 6)) < 1e-8


def _weekly_counts(sf_dir, only_purchase=False):
    import pandas as pd

    ev = pd.read_parquet(f"{sf_dir}/events.parquet",
                         columns=["user_id", "ts", "event_type"])
    day0 = pd.to_datetime(ev.ts).dt.normalize().min()
    ev["wk"] = (pd.to_datetime(ev.ts).dt.normalize() - day0).dt.days // 7
    if only_purchase:
        ev = ev[ev.event_type == "purchase"]
    return ev[ev.wk < relational._CQ_WEEKS]


def _tied_r2(vals):
    return [2 + 2 * sum(1 for o in vals if o < v)
            + sum(1 for jj, o in enumerate(vals) if o == v and jj != i)
            for i, v in enumerate(vals)]


def test_friedman_test_matches_scipy_style(spark, sf_dir):
    import pandas as pd

    ev = pd.read_parquet(f"{sf_dir}/events.parquet",
                         columns=["user_id", "event_type"])
    st = relational._MS_STATES
    k = len(st)
    piv = ev.groupby(["user_id", "event_type"]).size().unstack(fill_value=0)
    R2 = [0] * k
    s_r2sq = 0
    n = len(piv)
    for _, row in piv.iterrows():
        vals = [int(row.get(t, 0)) for t in st]
        r2 = _tied_r2(vals)
        for i in range(k):
            R2[i] += r2[i]
            s_r2sq += r2[i] * r2[i]
    num = (k - 1) * (sum(r * r for r in R2) - n * n * k * (k + 1) ** 2)
    den = s_r2sq - n * k * (k + 1) ** 2
    row = relational.REGISTRY["friedman_test"].fn(spark, sf_dir).collect()[0]
    assert (row.n, row.k) == (n, k)
    assert abs(row.chi2_f - round(num / den, 6)) < 1e-9


def test_cochran_q_matches_brute_force(spark, sf_dir):
    ev = _weekly_counts(sf_dir, only_purchase=True)
    k = relational._CQ_WEEKS
    piv = ev.groupby(["user_id", "wk"]).size().unstack(fill_value=0)
    X = (piv.reindex(columns=range(k), fill_value=0) > 0).astype(int)
    G = X.sum(0).to_numpy()
    L = X.sum(1).to_numpy()
    T = int(L.sum())
    num = (k - 1) * (k * int((G * G).sum()) - T * T)
    den = k * T - int((L * L).sum())
    want = num / den if den > 0 else 0.0
    row = relational.REGISTRY["cochran_q"].fn(spark, sf_dir).collect()[0]
    assert (row.n, row.k, row.n_successes) == (len(X), k, T)
    assert abs(row.q_stat - round(want, 6)) < 1e-9


def test_page_trend_test_matches_brute_force(spark, sf_dir):
    import math

    ev = _weekly_counts(sf_dir)
    k = relational._CQ_WEEKS
    piv = ev.groupby(["user_id", "wk"]).size().unstack(fill_value=0).reindex(
        columns=range(k), fill_value=0)
    l2 = 0
    for _, row_ in piv.iterrows():
        r2 = _tied_r2([int(v) for v in row_])
        l2 += sum((w + 1) * r2[w] for w in range(k))
    n = len(piv)
    z = 3.0 * (2 * l2 - n * k * (k + 1) ** 2) / (
        k * (k + 1) * math.sqrt(n * (k - 1)))
    row = relational.REGISTRY["page_trend_test"].fn(spark, sf_dir).collect()[0]
    assert (row.n, row.k, row.l2_stat) == (n, k, l2)
    assert abs(row.z - round(z, 6)) < 1e-9


def test_rank_distance_matches_brute_force(spark, sf_dir):
    import pandas as pd

    li = pd.read_parquet(f"{sf_dir}/lineitem.parquet",
                         columns=["l_partkey", "l_quantity", "l_extendedprice"])
    li["item"] = li.l_partkey % relational._FR_ITEMS
    li["q"] = (li.l_quantity * 100).round().astype("int64")
    li["r"] = (li.l_extendedprice * 100).round().astype("int64")
    g = li.groupby("item")[["q", "r"]].sum()
    ra = {it: i + 1 for i, it in enumerate(
        sorted(g.index, key=lambda it: (-g.q[it], it)))}
    rb = {it: i + 1 for i, it in enumerate(
        sorted(g.index, key=lambda it: (-g.r[it], it)))}
    items = sorted(g.index)
    foot = sum(abs(ra[i] - rb[i]) for i in items)
    disc = sum(1 for x in range(len(items)) for y in range(x + 1, len(items))
               if (ra[items[x]] - ra[items[y]]) * (rb[items[x]] - rb[items[y]]) < 0)
    n = len(items)
    row = relational.REGISTRY["rank_distance"].fn(spark, sf_dir).collect()[0]
    assert (row.n, row.footrule, row.kendall_dist) == (n, foot, disc)
    assert abs(row.footrule_norm - round(foot / (n * n / 2), 6)) < 1e-9
    assert abs(row.kendall_norm - round(disc / (n * (n - 1) / 2), 6)) < 1e-9


def test_hhi_concentration_matches_brute_force(spark, sf_dir):
    import pandas as pd

    li = pd.read_parquet(f"{sf_dir}/lineitem.parquet",
                         columns=["l_suppkey", "l_extendedprice"])
    su = pd.read_parquet(f"{sf_dir}/supplier.parquet",
                         columns=["s_suppkey", "s_nationkey"])
    li = li.merge(su, left_on="l_suppkey", right_on="s_suppkey")
    li["rev"] = (li.l_extendedprice * 100).round().astype("int64")
    got = {r.nation: r for r in
           relational.REGISTRY["hhi_concentration"].fn(spark, sf_dir).collect()}
    for nat, sub in li.groupby("s_nationkey"):
        rev = sub.groupby("l_suppkey").rev.sum()
        tot = int(rev.sum())
        s2 = int((rev.astype(object) ** 2).sum())
        row = got[nat]
        assert row.n_suppliers == len(rev)
        assert abs(row.hhi - round(1e4 * s2 / (tot * tot), 6)) < 1e-6


def test_gpd_tail_fit_matches_numpy(spark, sf_dir):
    import math

    import numpy as np
    import pandas as pd

    ev = pd.read_parquet(f"{sf_dir}/events.parquet", columns=["value"])
    v = np.sort((ev.value.dropna() * 100).round().astype("int64").to_numpy())
    n = len(v)
    u = int(v[math.ceil(0.95 * n) - 1])  # type-1 p95
    y = (v[v > u] - u).astype("float64")
    m, s2 = y.mean(), y.var(ddof=1)
    xi = 0.5 * (1 - m * m / s2)
    beta = 0.5 * m * (m * m / s2 + 1)
    row = relational.REGISTRY["gpd_tail_fit"].fn(spark, sf_dir).collect()[0]
    assert (row.threshold_cents, row.n_exceed) == (u, len(y))
    assert abs(row.xi - xi) < 1e-6
    assert abs(row.beta - beta) < 1e-4


def test_topk_per_group_matches_brute_force(spark, sf_dir):
    import pandas as pd

    li = pd.read_parquet(f"{sf_dir}/lineitem.parquet",
                         columns=["l_returnflag", "l_linestatus", "l_partkey",
                                  "l_extendedprice"])
    li["rev"] = (li.l_extendedprice * 100).round().astype("int64")
    g = li.groupby(["l_returnflag", "l_linestatus", "l_partkey"]).rev.sum()
    got = {(r.l_returnflag, r.l_linestatus, r.rk): r for r in
           relational.REGISTRY["topk_per_group"].fn(spark, sf_dir).collect()}
    for (fl, st), sub in g.groupby(level=[0, 1]):
        top = sorted(((pk, rv) for (_, _, pk), rv in sub.items()),
                     key=lambda t: (-t[1], t[0]))[: relational._TKG_K]
        for rk, (pk, rv) in enumerate(top, start=1):
            row = got[(fl, st, rk)]
            assert (row.l_partkey, row.rev) == (pk, rv)


def test_median_polish_matches_brute_force(spark, sf_dir):
    import numpy as np
    import pandas as pd

    ev = pd.read_parquet(f"{sf_dir}/events.parquet",
                         columns=["event_type", "ts", "value"])
    ev = ev[ev.value.notna()].copy()
    day0 = pd.to_datetime(ev.ts).dt.normalize().min()
    ev["j"] = (pd.to_datetime(ev.ts).dt.normalize() - day0).dt.days // 7
    ev = ev[ev.j < relational._CQ_WEEKS]
    ev["cents"] = (ev.value * 100).round().astype("int64")
    tab = ev.groupby(["event_type", "j"]).cents.sum().unstack().astype("float64")
    resid = tab.to_numpy().copy()
    row_eff = np.zeros(resid.shape[0])
    col_eff = np.zeros(resid.shape[1])

    def med(a):  # lower+upper middle / 2, matching the threshold trick
        b = np.sort(a)
        return (b[(len(b) - 1) // 2] + b[len(b) // 2]) / 2.0

    for _ in range(relational._MP_ITERS):
        m = np.array([med(r) for r in resid])
        resid -= m[:, None]
        row_eff += m
        m = np.array([med(c) for c in resid.T])
        resid -= m[None, :]
        col_eff += m
    got = {(r.component, r.key): r.effect for r in
           relational.REGISTRY["median_polish"].fn(spark, sf_dir).collect()}
    for i, t in enumerate(tab.index):
        assert abs(got[("row", t)] - round(row_eff[i], 6)) < 1e-6
    for j, wk in enumerate(tab.columns):
        assert abs(got[("col", str(wk))] - round(col_eff[j], 6)) < 1e-6
    assert abs(got[("resid_abs_sum", "*")]
               - round(float(np.abs(resid).sum()), 6)) < 1e-3


def test_price_elasticity_matches_numpy(spark, sf_dir):
    import numpy as np
    import pandas as pd

    li = pd.read_parquet(f"{sf_dir}/lineitem.parquet",
                         columns=["l_partkey", "l_quantity", "l_extendedprice"])
    li = li[(li.l_extendedprice > 0) & (li.l_quantity > 0)].copy()
    li["bucket"] = li.l_partkey % relational._PE_BUCKETS
    FP = relational._PE_FP
    li["lp"] = np.round(np.log((li.l_extendedprice * 100).round()) * FP)
    li["lq"] = np.round(np.log((li.l_quantity * 100).round()) * FP)
    got = {r.bucket: r for r in
           relational.REGISTRY["price_elasticity"].fn(spark, sf_dir).collect()}
    for b, sub in li.groupby("bucket"):
        x, y = sub.lp.to_numpy(), sub.lq.to_numpy()
        n = len(x)
        slope = (n * (x * y).sum() - x.sum() * y.sum()) / (
            n * (x * x).sum() - x.sum() ** 2)
        assert got[b].n == n
        assert abs(got[b].elasticity - round(slope, 6)) < 2e-6


def test_vwap_twap_matches_brute_force(spark, sf_dir):
    import pandas as pd

    li = pd.read_parquet(f"{sf_dir}/lineitem.parquet",
                         columns=["l_shipdate", "l_quantity", "l_extendedprice"])
    li["day"] = pd.to_datetime(li.l_shipdate).dt.date
    li["q"] = li.l_quantity.round().astype("int64")
    li["p"] = (li.l_extendedprice * 100).round().astype("int64")
    got = {r.day: r for r in
           relational.REGISTRY["vwap_twap"].fn(spark, sf_dir).collect()}
    assert len(got) == li.day.nunique()
    sample = list(li.groupby("day"))[::50]
    for day, sub in sample:
        row = got[day]
        assert (row.n, row.vol) == (len(sub), int(sub.q.sum()))
        assert abs(row.vwap_cents
                   - round(float((sub.q * sub.p).sum()) / sub.q.sum(), 6)) < 1e-6
        assert abs(row.twap_cents - round(sub.p.mean(), 6)) < 1e-6


def test_solar_irradiance_daily_matches_numpy(spark, sf_dir):
    import numpy as np
    import pandas as pd

    ev = pd.read_parquet(f"{sf_dir}/events.parquet", columns=["ts"])
    d = int(pd.to_datetime(ev.ts).min().dayofyear)
    got = {r.lat: r for r in
           relational.REGISTRY["solar_irradiance_daily"].fn(spark, sf_dir).collect()}
    assert sorted(got) == list(range(-80, 90, 10))
    g = 2 * np.pi / 365.0 * (d - 1)
    decl = (0.006918 - 0.399912 * np.cos(g) + 0.070257 * np.sin(g)
            - 0.006758 * np.cos(2 * g) + 0.000907 * np.sin(2 * g)
            - 0.002697 * np.cos(3 * g) + 0.00148 * np.sin(3 * g))
    for latd in got:
        phi = np.radians(latd)
        ws = np.arccos(np.clip(-np.tan(phi) * np.tan(decl), -1, 1))
        H = (86400 / np.pi * relational._SI_S0
             * (np.cos(phi) * np.cos(decl) * np.sin(ws)
                + ws * np.sin(phi) * np.sin(decl)) / 1e6)
        row = got[latd]
        assert row.doy == d
        assert abs(row.decl_deg - np.degrees(decl)) < 1e-5
        assert abs(row.insolation_mj_m2 - H) < 1e-4
        assert row.insolation_mj_m2 >= -1e-9  # polar night floors at 0


def test_vocab_coverage_matches_brute_force(spark, sf_dir):
    import re

    import pandas as pd

    docs = pd.read_parquet(f"{sf_dir}/documents.parquet", columns=["text"])
    cnt = {}
    for t in docs.text:
        for w in re.findall(r"\S+", t):
            cnt[w] = cnt.get(w, 0) + 1
    ordered = sorted(cnt.items(), key=lambda kv: (-kv[1], kv[0]))
    total = sum(cnt.values())
    got = {r.k: r for r in
           relational.REGISTRY["vocab_coverage"].fn(spark, sf_dir).collect()}
    assert sorted(got) == sorted(relational._VC_KS)
    for k in got:
        cum = sum(c for _, c in ordered[:k])
        assert got[k].cum_tokens == cum
        assert abs(got[k].coverage - round(cum / total, 6)) < 1e-9


def test_dau_wau_stickiness_matches_brute_force(spark, sf_dir):
    import pandas as pd

    ev = pd.read_parquet(f"{sf_dir}/events.parquet", columns=["user_id", "ts"])
    day0 = pd.to_datetime(ev.ts).dt.normalize().min()
    ev["d"] = (pd.to_datetime(ev.ts).dt.normalize() - day0).dt.days
    ud = ev[["user_id", "d"]].drop_duplicates()
    got = {r.day_idx: r for r in
           relational.REGISTRY["dau_wau_stickiness"].fn(spark, sf_dir).collect()}
    for d in sorted(ud.d.unique()):
        dau = ud[ud.d == d].user_id.nunique()
        wau = ud[(ud.d >= d - 6) & (ud.d <= d)].user_id.nunique()
        row = got[d]
        assert (row.dau, row.wau) == (dau, wau)
        assert abs(row.stickiness - round(dau / wau, 6)) < 1e-9


def test_record_statistics_matches_brute_force(spark, sf_dir):
    import math

    import pandas as pd

    ev = pd.read_parquet(f"{sf_dir}/events.parquet", columns=["ts"])
    y = pd.to_datetime(ev.ts).dt.normalize().value_counts().sort_index().to_numpy()
    n = len(y)
    rec = sum(1 for i in range(n) if i == 0 or y[i] > y[:i].max())
    FP = relational._REC_FP
    h1 = sum(round(FP / k) for k in range(1, n + 1)) / FP
    h2 = sum(round(FP / (float(k) * k)) for k in range(1, n + 1)) / FP
    row = relational.REGISTRY["record_statistics"].fn(spark, sf_dir).collect()[0]
    assert (row.n, row.n_records) == (n, rec)
    assert abs(row.expected_records - round(h1, 6)) < 1e-9
    assert abs(row.variance_records - round(h1 - h2, 6)) < 1e-9
    assert abs(row.z - round((rec - h1) / math.sqrt(h1 - h2), 6)) < 1e-6


def test_conversion_lag_quantiles_matches_brute_force(spark, sf_dir):
    import math

    import pandas as pd

    ev = pd.read_parquet(f"{sf_dir}/events.parquet",
                         columns=["user_id", "ts", "event_type"])
    ev["t_ms"] = ev.ts.to_numpy().astype("datetime64[ms]").astype("int64")
    lags = []
    for uid, sub in ev.groupby("user_id"):
        tc = sub.t_ms[sub.event_type == "click"]
        tp = sub.t_ms[sub.event_type == "purchase"]
        if len(tc) and len(tp) and tp.min() >= tc.min():
            lags.append((tp.min() - tc.min()) // 60000)
    lags.sort()
    got = {r.pct: r for r in
           relational.REGISTRY["conversion_lag_quantiles"].fn(spark, sf_dir).collect()}
    assert sorted(got) == sorted(relational._CL_QS)
    for q in got:
        k = math.ceil(q * len(lags) / 100.0)
        assert got[q].lag_minutes == lags[k - 1]
        assert got[q].n_users == len(lags)


def test_l_moments_matches_numpy(spark, sf_dir):
    """Direct probability-weighted moments from the sorted sample."""
    import numpy as np
    import pandas as pd

    ev = pd.read_parquet(f"{sf_dir}/events.parquet", columns=["value"])
    x = np.sort((ev.value.dropna() * 100).round().astype("int64").to_numpy()).astype(
        "float64")
    n = len(x)
    i = np.arange(1, n + 1)
    b0 = x.mean()
    b1 = (x * (i - 1)).sum() / n / (n - 1)
    b2 = (x * (i - 1) * (i - 2)).sum() / n / ((n - 1) * (n - 2))
    b3 = (x * (i - 1) * (i - 2) * (i - 3)).sum() / n / ((n - 1) * (n - 2) * (n - 3))
    l1, l2 = b0, 2 * b1 - b0
    t3 = (6 * b2 - 6 * b1 + b0) / l2
    t4 = (20 * b3 - 30 * b2 + 12 * b1 - b0) / l2
    row = relational.REGISTRY["l_moments"].fn(spark, sf_dir).collect()[0]
    assert row.n == n
    assert abs(row.l1 - l1) < 1e-4
    assert abs(row.l2 - l2) < 1e-4
    assert abs(row.t3 - t3) < 1e-6
    assert abs(row.t4 - t4) < 1e-6


def test_line_sinuosity_matches_brute_force(spark, sf_dir):
    import math

    import pandas as pd

    ev = pd.read_parquet(f"{sf_dir}/events.parquet",
                         columns=["user_id", "ts", "event_id"])
    ev["t_ms"] = ev.ts.to_numpy().astype("datetime64[ms]").astype("int64")
    ev["iy"] = (ev.user_id % 120) * 1000 + (ev.event_id % 13 < 4) * 2000 + ev.event_id % 7
    ev["ix"] = (ev.user_id % 300) * 1000 + (ev.event_id % 13 < 4) * 2000 + ev.event_id % 5
    ev = ev.sort_values(["user_id", "t_ms", "event_id"], kind="mergesort")
    got = {r.user_id: r for r in
           relational.REGISTRY["line_sinuosity"].fn(spark, sf_dir).collect()}
    FP = relational._SIN_FP
    for uid, sub in ev.groupby("user_id"):
        xs, ys = sub.ix.to_numpy(), sub.iy.to_numpy()
        path_fp = sum(round(math.sqrt(float((xs[i] - xs[i - 1]) ** 2
                                            + (ys[i] - ys[i - 1]) ** 2)) * FP)
                      for i in range(1, len(xs)))
        disp = math.sqrt(float((xs[-1] - xs[0]) ** 2 + (ys[-1] - ys[0]) ** 2))
        row = got[uid]
        assert row.n_legs == len(xs) - 1
        assert abs(row.path_len - round(path_fp / FP, 6)) < 1e-9
        assert abs(row.net_disp - round(disp, 6)) < 1e-9
        want = path_fp / FP / disp if disp > 0 else 0.0
        assert abs(row.sinuosity - round(want, 6)) < 1e-9


def test_dup_rate_by_source_matches_brute_force(spark, sf_dir):
    import pandas as pd

    docs = pd.read_parquet(f"{sf_dir}/documents.parquet", columns=["source", "text"])
    got = {r.source: r for r in
           relational.REGISTRY["dup_rate_by_source"].fn(spark, sf_dir).collect()}
    for src_, sub in docs.groupby("source"):
        n, nd = len(sub), sub.text.nunique()
        row = got[src_]
        assert (row.n_docs, row.n_distinct, row.n_dup) == (n, nd, n - nd)
        assert abs(row.dup_rate - round((n - nd) / n, 6)) < 1e-9


def test_renyi_spectrum_matches_brute_force(spark, sf_dir):
    import math
    import re

    import pandas as pd

    docs = pd.read_parquet(f"{sf_dir}/documents.parquet", columns=["text"])
    cnt = {}
    for t in docs.text:
        for w in re.findall(r"\S+", t):
            cnt[w] = cnt.get(w, 0) + 1
    n = sum(cnt.values())
    c2 = sum(c * c for c in cnt.values())
    cmax = max(cnt.values())
    row = relational.REGISTRY["renyi_spectrum"].fn(spark, sf_dir).collect()[0]
    assert (row.n_tokens, row.types) == (n, len(cnt))
    assert abs(row.h0 - round(math.log(len(cnt)), 6)) < 1e-9
    assert abs(row.h2 - round(-math.log(c2 / n / n), 6)) < 1e-6
    assert abs(row.h_min - round(-math.log(cmax / n), 6)) < 1e-9
    # spectrum ordering: H0 >= H_shannon >= H2 >= H_min
    assert row.h0 >= row.h2 >= row.h_min


def test_weekday_anova_matches_numpy(spark, sf_dir):
    import numpy as np
    import pandas as pd

    ev = pd.read_parquet(f"{sf_dir}/events.parquet", columns=["ts"])
    day = pd.to_datetime(ev.ts).dt.normalize()
    y = day.value_counts().sort_index()
    dow = pd.to_datetime(y.index).dayofweek.to_numpy()  # 0 = Monday, matches
    vals = y.to_numpy().astype("float64")
    k = 7
    N = len(vals)
    groups = [vals[dow == w] for w in range(k)]
    gm = vals.mean()
    ssb = sum(len(g) * (g.mean() - gm) ** 2 for g in groups if len(g))
    ssw = sum(((g - g.mean()) ** 2).sum() for g in groups if len(g))
    f = (ssb / (k - 1)) / (ssw / (N - k))
    row = relational.REGISTRY["weekday_anova"].fn(spark, sf_dir).collect()[0]
    assert (row.n_days, row.k) == (N, k)
    assert abs(row.ssb - ssb) < max(1e-6 * abs(ssb), 0.02)
    assert abs(row.f_stat - f) < 1e-6


def _two_sample_cents(sf_dir):
    import numpy as np
    import pandas as pd

    ev = pd.read_parquet(f"{sf_dir}/events.parquet", columns=["event_type", "value"])
    ev = ev[ev.value.notna() & ev.event_type.isin(["click", "purchase"])]
    x = np.sort((ev.value[ev.event_type == "click"] * 100).round().astype("int64"))
    y = np.sort((ev.value[ev.event_type == "purchase"] * 100).round().astype("int64"))
    return x.to_numpy() if hasattr(x, "to_numpy") else x, \
        y.to_numpy() if hasattr(y, "to_numpy") else y


def test_cramer_von_mises_2s_matches_numpy(spark, sf_dir):
    import numpy as np

    x, y = _two_sample_cents(sf_dir)
    n1, n2 = len(x), len(y)
    pooled = np.unique(np.concatenate([x, y]))
    f1 = np.searchsorted(x, pooled, side="right")
    f2 = np.searchsorted(y, pooled, side="right")
    cnt = (np.searchsorted(x, pooled, side="right")
           - np.searchsorted(x, pooled, side="left")
           + np.searchsorted(y, pooled, side="right")
           - np.searchsorted(y, pooled, side="left"))
    d = f1.astype(object) * n2 - f2.astype(object) * n1
    num = int(sum(int(c) * int(dd) * int(dd) for c, dd in zip(cnt, d)))
    t = num / (n1 * n2 * (n1 + n2) ** 2)
    row = relational.REGISTRY["cramer_von_mises_2s"].fn(spark, sf_dir).collect()[0]
    assert (row.n1, row.n2) == (n1, n2)
    assert abs(row.cvm_t - round(t, 6)) < 1e-9


def test_anderson_darling_2s_matches_numpy(spark, sf_dir):
    import numpy as np

    x, y = _two_sample_cents(sf_dir)
    n1, n2 = len(x), len(y)
    N = n1 + n2
    pooled = np.unique(np.concatenate([x, y]))
    f1 = np.searchsorted(x, pooled, side="right")
    f2 = np.searchsorted(y, pooled, side="right")
    lo1 = np.searchsorted(x, pooled, side="left")
    lo2 = np.searchsorted(y, pooled, side="left")
    cnt = (f1 - lo1) + (f2 - lo2)
    FP = relational._AD_FP
    acc = 0
    for c, a, b in zip(cnt, f1, f2):
        h = a + b
        if h >= N:
            continue
        dnum = float(a * n2 - b * n1)
        term = c * dnum * dnum / (float(h) * (N - h)) / (float(n1) * n2)
        acc += round(term * FP)
    import math

    # the summed fixed-point terms ARE the two-sample A2 (r4 ADVICE fix:
    # no trailing /N); ~2.0 +- O(1) under H0, O(N) under strong separation
    want = acc / FP
    row = relational.REGISTRY["anderson_darling_2s"].fn(spark, sf_dir).collect()[0]
    assert (row.n1, row.n2) == (n1, n2)
    assert row.ad_a2 == math.floor(want * 1e6 + 0.5) / 1e6


def test_qte_deciles_matches_numpy(spark, sf_dir):
    import math

    x, y = _two_sample_cents(sf_dir)
    got = {r.pct: r for r in
           relational.REGISTRY["qte_deciles"].fn(spark, sf_dir).collect()}
    assert sorted(got) == sorted(relational._QTE_QS)
    for q in got:
        qc = int(x[math.ceil(q * len(x) / 100.0) - 1])
        qp = int(y[math.ceil(q * len(y) / 100.0) - 1])
        assert (got[q].q_click, got[q].q_purchase, got[q].qte_cents) == (
            qc, qp, qc - qp)


def test_logrank_test_matches_lifelines_style(spark, sf_dir):
    import pandas as pd

    ev = pd.read_parquet(f"{sf_dir}/events.parquet",
                         columns=["user_id", "ts", "event_type"])
    ev["t_ms"] = ev.ts.to_numpy().astype("datetime64[ms]").astype("int64")
    rows = []
    for uid, sub in ev.groupby("user_id"):
        t0 = sub.t_ms.min()
        purch = sub.t_ms[sub.event_type == "purchase"]
        if len(purch):
            rows.append((uid % 2, (purch.min() - t0) // 86400000, 1))
        else:
            rows.append((uid % 2, (sub.t_ms.max() - t0) // 86400000, 0))
    df = pd.DataFrame(rows, columns=["grp", "t", "ev"])
    times = sorted(df.t[df.ev == 1].unique())
    FP = relational._LR_FP
    o0 = 0
    e0_fp = 0
    v_fp = 0
    for t in times:
        at_risk = df[df.t >= t]
        r0 = int((at_risk.grp == 0).sum())
        r1 = int((at_risk.grp == 1).sum())
        d0 = int(((df.t == t) & (df.ev == 1) & (df.grp == 0)).sum())
        d1 = int(((df.t == t) & (df.ev == 1) & (df.grp == 1)).sum())
        d = d0 + d1
        if d == 0:
            continue
        o0 += d0
        e0_fp += round(d * r0 / (r0 + r1) * FP)
        if r0 + r1 > 1:
            v_fp += round(d * r0 * r1 * (r0 + r1 - d)
                          / ((r0 + r1) * (r0 + r1)) / (r0 + r1 - 1) * FP)
    z = (o0 - e0_fp / FP) / (v_fp / FP) ** 0.5
    row = relational.REGISTRY["logrank_test"].fn(spark, sf_dir).collect()[0]
    assert row.o0 == o0
    assert abs(row.e0 - round(e0_fp / FP, 6)) < 1e-9
    assert abs(row.z - round(z, 6)) < 1e-9


def test_mood_median_test_matches_brute_force(spark, sf_dir):
    import numpy as np
    import pandas as pd

    ev = pd.read_parquet(f"{sf_dir}/events.parquet", columns=["event_type", "value"])
    ev = ev[ev.value.notna()].copy()
    ev["v"] = (ev.value * 100).round().astype("int64")
    vs = np.sort(ev.v.to_numpy())
    m = int(vs[(len(vs) + 1) // 2 - 1])  # type-1 median (lower middle)
    ev["above"] = (ev.v > m).astype(int)
    tab = ev.groupby(["event_type", "above"]).size().unstack(fill_value=0)
    a = {t: int(tab.loc[t, 1]) for t in tab.index}
    b = {t: int(tab.loc[t, 0]) for t in tab.index}
    at, bt = sum(a.values()), sum(b.values())
    n = at + bt
    chi2 = sum((a[t] + b[t]) and
               (a[t] ** 2 / ((a[t] + b[t]) * at) + b[t] ** 2 / ((a[t] + b[t]) * bt))
               for t in tab.index)
    chi2 = (chi2 - 1.0) * n
    row = relational.REGISTRY["mood_median_test"].fn(spark, sf_dir).collect()[0]
    assert (row.n, row.k) == (n, len(tab.index))
    assert abs(row.chi2_mood - chi2) < 1e-4


def test_seasonal_mann_kendall_matches_brute_force(spark, sf_dir):
    import math

    import pandas as pd

    ev = pd.read_parquet(f"{sf_dir}/events.parquet", columns=["ts"])
    y = pd.to_datetime(ev.ts).dt.normalize().value_counts().sort_index()
    dow = pd.to_datetime(y.index).dayofweek.to_numpy()
    vals = y.to_numpy()
    s_total = 0
    v18 = 0
    from collections import Counter

    for w in range(7):
        g = vals[dow == w]
        n = len(g)
        s_total += sum((1 if g[j] > g[i] else -1 if g[j] < g[i] else 0)
                       for i in range(n) for j in range(i + 1, n))
        # Hirsch-Slack within-season tie correction (r4 ADVICE fix)
        tc = sum(t * (t - 1) * (2 * t + 5) for t in Counter(g.tolist()).values())
        v18 += n * (n - 1) * (2 * n + 5) - tc
    var_s = v18 / 18.0
    if s_total > 0:
        z = (s_total - 1) / math.sqrt(var_s)
    elif s_total < 0:
        z = (s_total + 1) / math.sqrt(var_s)
    else:
        z = 0.0
    row = relational.REGISTRY["seasonal_mann_kendall"].fn(spark, sf_dir).collect()[0]
    assert row.s_total == s_total
    assert row.var_s == math.floor(var_s * 1e6 + 0.5) / 1e6
    assert row.z == math.floor(z * 1e6 + 0.5) / 1e6


def test_chi2_residuals_matches_numpy(spark, sf_dir):
    import numpy as np
    import pandas as pd

    od = pd.read_parquet(f"{sf_dir}/orders.parquet",
                         columns=["o_orderstatus", "o_orderpriority"])
    tab = pd.crosstab(od.o_orderstatus, od.o_orderpriority)
    n = tab.to_numpy().sum()
    got = {(r.o_orderstatus, r.o_orderpriority): r for r in
           relational.REGISTRY["chi2_residuals"].fn(spark, sf_dir).collect()}
    for s in tab.index:
        for p in tab.columns:
            o = int(tab.loc[s, p])
            rt, ct = int(tab.loc[s].sum()), int(tab[p].sum())
            e = rt * ct / n
            res = (o - e) / np.sqrt(e * (1 - rt / n) * (1 - ct / n))
            row = got[(s, p)]
            assert row.o == o
            assert abs(row.expected - round(e, 6)) < 1e-6
            assert abs(row.std_residual - res) < 1e-5


def test_weighted_kappa_matches_brute_force(spark, sf_dir):
    import pandas as pd

    ev = pd.read_parquet(f"{sf_dir}/events.parquet",
                         columns=["user_id", "ts", "event_id", "event_type"])
    ev = ev.sort_values(["user_id", "ts", "event_id"], kind="mergesort")
    prev = ev.groupby("user_id").event_type.shift(1)
    ok = prev.notna()
    a, b = prev[ok].to_numpy(), ev.event_type[ok].to_numpy()
    st = sorted(relational._MS_STATES)
    idx = {t: i for i, t in enumerate(st)}
    k = len(st)
    n = len(a)
    wo = sum((k - 1 - abs(idx[x] - idx[y])) for x, y in zip(a, b))
    rn = {t: int((a == t).sum()) for t in st}
    cn = {t: int((b == t).sum()) for t in st}
    we = sum(rn[x] * cn[y] * (k - 1 - abs(idx[x] - idx[y]))
             for x in st for y in st)
    kappa_w = (wo * n - we) / (n * n * (k - 1) - we)
    row = relational.REGISTRY["weighted_kappa"].fn(spark, sf_dir).collect()[0]
    assert row.n_pairs == n
    assert abs(row.po_w - round(wo / (n * (k - 1)), 6)) < 1e-9
    assert abs(row.pe_w - round(we / (n * n * (k - 1)), 6)) < 1e-9
    assert abs(row.kappa_w - round(kappa_w, 6)) < 1e-9


def test_spectral_entropy_matches_numpy(spark, sf_dir):
    import math

    import numpy as np
    import pandas as pd

    ev = pd.read_parquet(f"{sf_dir}/events.parquet", columns=["ts"])
    h = pd.to_datetime(ev.ts).dt.hour.to_numpy()
    nb = np.bincount(h, minlength=24).astype("float64")
    ps = []
    for k in relational._DH_K:
        c = sum(nb[j] * relational._DH_COS[k][j] for j in range(24))
        s = sum(nb[j] * relational._DH_SIN[k][j] for j in range(24))
        ps.append(round((c * c + s * s) / 1000.0))
    tot = sum(ps)
    ent = -sum(p / tot * math.log(p / tot) for p in ps if p > 0)
    row = relational.REGISTRY["spectral_entropy"].fn(spark, sf_dir).collect()[0]
    for k, p in zip(relational._DH_K, ps):
        assert getattr(row, f"p{k}") == p
    assert abs(row.spectral_h - round(ent, 6)) < 1e-9
    assert abs(row.spectral_h_norm
               - round(ent / math.log(len(ps)), 6)) < 1e-9


def test_quantile_shape_matches_numpy(spark, sf_dir):
    import math

    import numpy as np
    import pandas as pd

    ev = pd.read_parquet(f"{sf_dir}/events.parquet", columns=["value"])
    v = np.sort((ev.value.dropna() * 100).round().astype("int64").to_numpy())
    n = len(v)
    e = {j: int(v[math.ceil(j * n / 8.0) - 1]) for j in range(1, 8)}
    bow = (e[2] + e[6] - 2 * e[4]) / (e[6] - e[2])
    moors = ((e[7] - e[5]) + (e[3] - e[1])) / (e[6] - e[2])
    row = relational.REGISTRY["quantile_shape"].fn(spark, sf_dir).collect()[0]
    assert (row.q1, row.median, row.q3) == (e[2], e[4], e[6])
    assert abs(row.bowley_skew - round(bow, 6)) < 1e-9
    assert abs(row.moors_kurtosis - round(moors, 6)) < 1e-9


def test_semdedup_prune_matches_numpy(spark, sf_dir):
    """Brute-force replica: assign each embedding to its argmax-cosine
    IVF centroid (ties to smallest id, NumPy mirror of the broadcast
    codebook), mark a vector pruned iff a smaller-id same-cluster vector
    is within tau, and compare kept flags + neighbor counts row for row.
    Also pins non-vacuity: the seeded near-dups must actually prune."""
    import numpy as np

    from filda_spark import training

    # the op runs over the AUGMENTED view (base + seeded near-dup copies);
    # pull the same frame through the Spark helper so the replica cannot
    # drift from the augmentation definition
    emb = (
        training._augmented_embeddings(
            relational._t(spark, sf_dir, "embeddings")
        )
        .orderBy("vec_id")
        .toPandas()
    )
    X = np.stack(emb.embedding.to_numpy()).astype(np.float64)
    ids = emb.vec_id.to_numpy()
    cents = X[np.argsort(ids)[: training.K_CENTROIDS]]
    Xi = X / np.linalg.norm(X, axis=1, keepdims=True)
    Ci = cents / np.linalg.norm(cents, axis=1, keepdims=True)
    score = Xi @ Ci.T
    # argmax with ties to the SMALLEST centroid id (engine order-by
    # score DESC, cent ASC)
    assign = np.argmax(np.round(score, 12), axis=1)
    want_kept, want_nsim = {}, {}
    for cid in range(training.K_CENTROIDS):
        members = ids[assign == cid]
        members.sort()
        M = Xi[np.isin(ids, members)]
        mids = ids[np.isin(ids, members)]
        order = np.argsort(mids)
        M, mids = M[order], mids[order]
        C = M @ M.T
        for i, v in enumerate(mids):
            close = [
                j
                for j in range(len(mids))
                if j != i and C[i, j] >= training._SD_TAU
            ]
            want_nsim[int(v)] = len(close)
            want_kept[int(v)] = not any(mids[j] < v for j in close)
    got = {
        r.vec_id: r
        for r in relational.REGISTRY["semdedup_prune"].fn(spark, sf_dir).collect()
    }
    assert len(got) == len(ids)
    mismatch_kept = [v for v in got if got[v].kept != want_kept[v]]
    mismatch_n = [v for v in got if got[v].n_sim != want_nsim[v]]
    # cosines on the tau boundary could flip between float32-normalized
    # numpy and the engine's double pipeline; the corpus seeds dups well
    # inside the boundary, so demand exact agreement
    assert not mismatch_kept, mismatch_kept[:5]
    assert not mismatch_n, mismatch_n[:5]
    # non-vacuity: seeded near-dups produce pruned rows
    assert sum(1 for v in got if not got[v].kept) >= 1


def test_quadkey_prefix_property(spark, sf_dir):
    """qk6 must equal the first six characters of qk12 for every row (the
    quadkey containment property), digits must be base-4, and the tile
    coords must round-trip from the digits."""
    rows = relational.REGISTRY["quadkey_encode"].fn(spark, sf_dir).collect()
    assert rows
    for r in rows[:2000]:
        assert len(r.qk12) == relational._QK_Z
        assert len(r.qk6) == relational._QK_PARENT_Z
        assert r.qk12[: relational._QK_PARENT_Z] == r.qk6
        tx = ty = 0
        for ch in r.qk12:
            d = int(ch)
            assert 0 <= d <= 3
            tx = (tx << 1) | (d & 1)
            ty = (ty << 1) | (d >> 1)
        assert (tx, ty) == (r.tx, r.ty)


def test_containment_dedup_matches_brute_force(spark, sf_dir):
    """Python replica over the same DF-capped word-bigram sets: directed
    containments and the direction tag must match per pair, and the op
    must be non-vacuous on the corpus's near-dup cliques."""
    from collections import Counter

    import pandas as pd

    from filda_spark import training

    docs = pd.read_parquet(f"{sf_dir}/documents.parquet", columns=["doc_id", "text"])
    gsets = {}
    df_count = Counter()
    for r in docs.itertuples():
        ws = r.text.split(" ")
        gs = {f"{a} {b}" for a, b in zip(ws, ws[1:])}
        gsets[r.doc_id] = gs
        for g in gs:
            df_count[g] += 1
    hot = {g for g, c in df_count.items() if c > training.GRAM_DF_CAP}
    gsets = {d: gs - hot for d, gs in gsets.items()}
    want = {}
    by_gram = {}
    for d, gs in gsets.items():
        for g in gs:
            by_gram.setdefault(g, []).append(d)
    pair_i = Counter()
    for g, ds in by_gram.items():
        ds = sorted(ds)
        for x in range(len(ds)):
            for y in range(x + 1, len(ds)):
                pair_i[(ds[x], ds[y])] += 1
    for (a, b), i in pair_i.items():
        na, nb = len(gsets[a]), len(gsets[b])
        if max(i / na, i / nb) >= training._CT_THRESH:
            want[(a, b)] = (i, na, nb)
    got = {
        (r.doc_a, r.doc_b): r
        for r in relational.REGISTRY["containment_dedup"].fn(spark, sf_dir).collect()
    }
    assert set(got) == set(want), (set(got) ^ set(want))
    assert got, "vacuous: no containment pairs on the seeded corpus"
    import math

    for (a, b), (i, na, nb) in want.items():
        r = got[(a, b)]
        assert (r.i, r.n_a, r.n_b) == (i, na, nb)
        assert r.containment_a == math.floor(i / na * 1e6 + 0.5) / 1e6
        assert r.containment_b == math.floor(i / nb * 1e6 + 0.5) / 1e6
        assert r.direction == ("a_in_b" if na <= nb else "b_in_a")


def test_substring_dup_coverage_matches_brute_force(spark, sf_dir):
    """Python replica of the Lee-et-al. coverage signal: every L-token
    window occurring in >= 2 documents marks its L positions covered;
    per-doc coverage counts and fractions must match exactly, and the
    seeded near-dup docs must show nonzero coverage (non-vacuity)."""
    import math
    from collections import defaultdict

    import pandas as pd

    from filda_spark import training

    L = training._SSD_L
    docs = pd.read_parquet(f"{sf_dir}/documents.parquet", columns=["doc_id", "text"])
    by_gram = defaultdict(set)
    toks = {}
    for r in docs.itertuples():
        ws = r.text.split(" ")
        toks[r.doc_id] = ws
        for p in range(len(ws) - L + 1):
            by_gram[" ".join(ws[p : p + L])].add(r.doc_id)
    rep = {g for g, ds in by_gram.items() if len(ds) >= 2}
    want = {}
    for d, ws in toks.items():
        cov = set()
        for p in range(len(ws) - L + 1):
            if " ".join(ws[p : p + L]) in rep:
                cov.update(range(p, p + L))
        want[d] = (len(ws), len(cov))
    got = {
        r.doc_id: r
        for r in relational.REGISTRY["substring_dup_coverage"]
        .fn(spark, sf_dir)
        .collect()
    }
    assert set(got) == set(want)
    for d, (n_tok, n_cov) in want.items():
        r = got[d]
        assert (r.n_tok, r.n_dup_tok) == (n_tok, n_cov), d
        assert r.dup_frac == math.floor(n_cov / n_tok * 1e6 + 0.5) / 1e6
    assert any(r.n_dup_tok > 0 for r in got.values()), "vacuous coverage"
