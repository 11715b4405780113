"""Distributed FILDA pipeline — the Spark-first composition of the granule
kernels (SURVEY.md §3.1 engine lifecycle):

  documents ⋈cogroup media  ──applyInPandas──►  detections
      │   (Day-granule pruning BEFORE decode; span-sequence invariant
      │    asserted inside the kernel; ancillary rasters broadcast)
      ▼
  detections ──broadcast joins──► land cover / peatland / flare PIP
      │          (sinusoidal + Plate-Carree cell equi-joins; polygon set
      │           broadcast, bbox-prefilter + ray-cast in an Arrow UDF)
      ▼
  kRing cell-neighborhood shuffle ──► kNN dominance dedup   (the ONE shuffle)
      ▼
  tiles (fire-density rollup)   +   masks (per-granule raster blobs)

Control crosses executor boundaries exactly at: the doc_id cogroup, the
dedup repartition by neighborhood cell, and the sinks — everything else is
map-side (broadcast joins stay local; AQE handles residual skew).

Scale notes (100 TB posture):
- `media` is bucketed/partitioned by doc_id so one granule decodes in one
  task with zero shuffle (test corpus: small parquet, the cogroup's own
  hash-partitioning provides the same co-location).
- ancillary rasters (NTL tiles, GEOS-FP, LUTs) are a Spark broadcast of
  numpy arrays — per-pixel gathers stay inside the Arrow batch instead of
  exploding pixels into a join (SURVEY.md §2.3).
- detection-level joins ARE real joins (broadcast hash) because detections
  are ~1e-5 of pixels; Catalyst prunes/pushes down around them.
- the dedup shuffle is keyed by a *parent* cell (level 14) sized so a k=1
  ring covers the dedup radius; hot cells (flares, cities) are handled by
  AQE skew splitting plus the salt column on the partitioner in runner.py.
"""

from __future__ import annotations

import json
import os
import time

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from filda_spark import grids, kernels, oracle, spatial
from filda_spark.functions import graph
from filda_spark.fixtures import unpack_media
from filda_spark.namelist import make_namelist

# dedup neighborhood: level-14 qcell (~0.011 deg lat edge). A k=1 ring
# covers DEDUP_EPS_DEG=0.008 in latitude everywhere; in LONGITUDE the
# cos-lat-corrected radius spans eps/cos(lat) raw degrees, so the ring's
# longitudinal half-width grows with latitude (grids.lon_ring_halfwidth) —
# a fixed k=1 ring would silently miss pairs above ~68.6 deg (valid input
# reaches 85 deg).
DEDUP_CELL_LEVEL = 14

_INT_COLS = {
    "FP_Line",
    "FP_Sample",
    "FP_Line_MOD",
    "FP_Sample_MOD",
    "FP_Status",
    "FP_confidence",
    "FP_WinSize",
    "FP_M13_WinSize",
    "FP_Power_QA",
    "FP_Num_Fire",
    "FP_Opt_Status",
    "FP_land_water_mask",
    "FP_SAA_flag",
    "FP_AdjCloud",
    "FP_AdjWater",
}

def _field(c: str) -> T.StructField:
    return T.StructField(
        c,
        T.StringType() if c == "doc_id" else T.IntegerType() if c in _INT_COLS else T.DoubleType(),
    )


DET_SCHEMA = T.StructType([_field(c) for c in oracle.DET_COLUMNS])

# the per-detection Planck fit runs as its own stage (see detect_detections)
FIT_COLS = ["FP_Fire_Temp", "FP_BG_Temp", "FP_Fire_Frac", "FP_Opt_Status"]
PRE_FIT_COLS = [c for c in oracle.DET_COLUMNS if c not in FIT_COLS]
PRE_FIT_SCHEMA = T.StructType([_field(c) for c in PRE_FIT_COLS])
# metrics variant (runner lineage): + the granule's measured kernel wall time
PRE_FIT_METRICS_SCHEMA = T.StructType(
    list(PRE_FIT_SCHEMA.fields) + [T.StructField("_detect_wall_s", T.DoubleType())]
)

MASK_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType()),
        T.StructField("mask_img", T.BinaryType()),
        T.StructField("mask_mod", T.BinaryType()),
        T.StructField("qa", T.BinaryType()),
        T.StructField("nrow", T.IntegerType()),
        T.StructField("ncol", T.IntegerType()),
    ]
)

HEADER_SCHEMA = T.StructType(
    [
        T.StructField("sat", T.StringType()),
        T.StructField("jdn", T.StringType()),
        T.StructField("overpass", T.StringType()),
        T.StructField("DayNightFlag", T.StringType()),
        T.StructField("n_scans", T.IntegerType()),
    ]
)


# ---------------------------------------------------------------------------
# Sources
# ---------------------------------------------------------------------------


def load_documents(spark: SparkSession, corpus_dir: str) -> DataFrame:
    return spark.read.parquet(f"{corpus_dir}/documents.parquet")


def load_media(spark: SparkSession, corpus_dir: str) -> DataFrame:
    return spark.read.parquet(f"{corpus_dir}/media.parquet")


# ---------------------------------------------------------------------------
# Bucketed media layout: the decode cogroup needs media co-located by
# doc_id. Without storage-side bucketing every batch SHUFFLES the full
# media payload (at production scale: re-writing ~the whole 100 TB table
# through shuffle disks per pass — the single largest avoidable I/O in the
# pipeline). With the table bucketed by doc_id the cogroup's big side is
# satisfied by the scan's hash partitioning and only the tiny documents
# side exchanges (verified: one Exchange in the executed plan, on docs).
# On a real deployment this is the Iceberg `bucket(N, doc_id)` partition
# transform + storage-partitioned joins; here it is Spark native bucketing
# re-registered per session via DDL over the written layout.
# ---------------------------------------------------------------------------

_BUCKETED_DIR = "media_bucketed"


def _media_buckets(n_docs: int) -> int:
    # mirror the decode stage's 4x-over-partitioning (hot-granule collision
    # avoidance, see _cogroup) with a floor for parallelism headroom
    return max(128, min(4 * n_docs, 8192))


def ensure_bucketed_media(spark: SparkSession, corpus_dir: str) -> str | None:
    """One-time rewrite of media.parquet into a Spark-bucketed layout
    (bucket count recorded in a sidecar so later sessions can re-register
    the exact DDL). Returns the layout path, or None when the corpus dir
    is not writable (read-only test data)."""
    path = f"{corpus_dir}/{_BUCKETED_DIR}"
    if os.path.exists(f"{path}/_SUCCESS") and os.path.exists(f"{path}/_NBUCKETS"):
        return path
    if not os.access(corpus_dir, os.W_OK):
        return None
    media = load_media(spark, corpus_dir)
    n_docs = load_documents(spark, corpus_dir).count()
    n_buckets = _media_buckets(n_docs)
    tbl = _bucket_table_name(path)
    spark.sql(f"DROP TABLE IF EXISTS {tbl}")
    (
        media.write.bucketBy(n_buckets, "doc_id")
        .sortBy("doc_id")
        .option("path", path)
        .mode("overwrite")
        .saveAsTable(tbl)
    )
    with open(f"{path}/_NBUCKETS", "w") as f:
        f.write(str(n_buckets))
    return path


def _bucket_table_name(path: str) -> str:
    import hashlib

    return f"filda_media_b_{hashlib.md5(path.encode()).hexdigest()[:10]}"


def bucketed_media(spark: SparkSession, corpus_dir: str) -> DataFrame | None:
    """The bucketed media table for this corpus, re-registered in the
    session catalog if needed; None if the layout hasn't been built."""
    path = f"{corpus_dir}/{_BUCKETED_DIR}"
    nb_file = f"{path}/_NBUCKETS"
    if not (os.path.exists(f"{path}/_SUCCESS") and os.path.exists(nb_file)):
        return None
    tbl = _bucket_table_name(path)
    if not spark.catalog.tableExists(tbl):
        with open(nb_file) as f:
            n_buckets = int(f.read().strip())
        schema = load_media(spark, corpus_dir).schema
        cols = ", ".join(f"`{f.name}` {f.dataType.simpleString()}" for f in schema)
        spark.sql(
            f"CREATE TABLE {tbl} ({cols}) USING PARQUET "
            f"CLUSTERED BY (doc_id) SORTED BY (doc_id) INTO {n_buckets} BUCKETS "
            f"LOCATION '{path}'"
        )
    return spark.table(tbl)


def night_documents(docs: DataFrame) -> DataFrame:
    """Day-granule short-circuit BEFORE decode (FILDA_main.py:60-61): the
    header is span 0's text payload; at scale DayNightFlag is an Iceberg
    partition column and this filter prunes at metadata level."""
    hdr = F.from_json(F.element_at("spans", 1).getField("text"), HEADER_SCHEMA)
    # malformed headers parse to null — keep them so the decode kernel fails
    # loudly on the span invariant instead of silently dropping the document
    return docs.withColumn("header", hdr).filter(
        ~F.col("header.DayNightFlag").eqNullSafe("Day")
    )


# ---------------------------------------------------------------------------
# Decode + detect (cogrouped applyInPandas, one granule per group)
# ---------------------------------------------------------------------------


# codec-level column pruning for the granule hot path: fire detection reads
# only the raw raster spans (a netcdf blob may CONTAIN rasters, so it stays);
# PNG/WAV/video spans are decoded only by the media queries that need them
DETECT_KINDS = frozenset({"raster", "netcdf"})


def _check_spans(doc_pdf: pd.DataFrame, media_pdf: pd.DataFrame) -> None:
    """Span-sequence invariant (input_hint): offsets strictly increasing,
    first two spans text, every media span's media_ref present exactly once
    in the media table, in span order."""
    spans = doc_pdf.iloc[0]["spans"]
    offs = [s["offset"] for s in spans]
    if offs != sorted(offs) or len(set(offs)) != len(offs):
        raise ValueError("span offsets not strictly increasing")
    if [s["kind"] for s in spans[:2]] != ["text", "text"]:
        raise ValueError("header/inventory text spans missing")
    media_refs = [s["media_ref"] for s in spans if s["kind"] == "media"]
    table_refs = media_pdf["media_ref"].tolist()
    if sorted(media_refs) != sorted(table_refs):
        raise ValueError("media spans do not match media table")


def make_detect_fn(anc_bc, nl: dict, with_metrics: bool = False):
    """Kernel factory: ancillary broadcast + namelist closure; returns the
    cogrouped applyInPandas function (documents-group, media-group) -> rows.

    with_metrics: append a ``_detect_wall_s`` column carrying the granule's
    measured decode+detect kernel wall time (north rule: per-partition
    lineage rows/sec must be TRUE per-granule timings, not batch averages).
    A granule with zero detections emits one sentinel row (FP_Line = -1,
    filtered out by the caller) so every granule still reports its timing."""
    cols = PRE_FIT_COLS + (["_detect_wall_s"] if with_metrics else [])

    def detect(doc_pdf: pd.DataFrame, media_pdf: pd.DataFrame) -> pd.DataFrame:
        if doc_pdf.empty or media_pdf.empty:
            return pd.DataFrame({c: pd.Series(dtype="object") for c in cols})
        t0 = time.perf_counter()
        _check_spans(doc_pdf, media_pdf)
        doc_id = doc_pdf.iloc[0]["doc_id"]
        media = unpack_media(media_pdf, kinds=DETECT_KINDS)
        res = oracle.detect_granule(doc_id, media, anc_bc.value, nl, fit=False, masks=False)
        out = oracle.detections_frame(doc_id, res["det"])[PRE_FIT_COLS]
        if not with_metrics:
            return out
        if out.empty:
            sentinel = {
                c: [-1 if c in _INT_COLS else np.nan] for c in PRE_FIT_COLS if c != "doc_id"
            }
            sentinel["doc_id"] = [doc_id]
            out = pd.DataFrame(sentinel)[PRE_FIT_COLS]
        out = out.copy()
        out["_detect_wall_s"] = time.perf_counter() - t0
        return out

    return detect


def _fit_stage(pdfs):
    """mapInPandas kernel: per-detection Planck-mixture fit over a balanced
    (round-robin) repartition of the detections — identical per-row math to
    kernels.planck_fit, free of granule-level skew."""
    for pdf in pdfs:
        if pdf.empty:
            yield pdf.reindex(columns=oracle.DET_COLUMNS)
            continue
        det = {"FP_line_img": pdf["FP_Line"].to_numpy()}
        for b in kernels.FIT_BANDS:
            det[f"FP_{b}_Rad"] = pdf[f"FP_{b}_Rad"].to_numpy()
        det = kernels.planck_fit(det)
        out = pdf.copy()
        out["FP_Fire_Temp"] = det["FP_Fire_Temp"]
        out["FP_BG_Temp"] = det["FP_BG_Temp"]
        out["FP_Fire_Frac"] = det["FP_Fire_Frac"]
        out["FP_Opt_Status"] = det["FP_Opt_Status"].astype(np.int32)
        yield out[oracle.DET_COLUMNS]


def make_masks_fn(anc_bc, nl: dict):
    def masks(doc_pdf: pd.DataFrame, media_pdf: pd.DataFrame) -> pd.DataFrame:
        if doc_pdf.empty or media_pdf.empty:
            return pd.DataFrame(
                dict(doc_id=[], mask_img=[], mask_mod=[], qa=[], nrow=[], ncol=[])
            )
        _check_spans(doc_pdf, media_pdf)
        doc_id = doc_pdf.iloc[0]["doc_id"]
        media = unpack_media(media_pdf, kinds=DETECT_KINDS)
        res = oracle.detect_granule(doc_id, media, anc_bc.value, nl, fit=False)
        mi = res["mask_img"]
        return pd.DataFrame(
            dict(
                doc_id=[doc_id],
                mask_img=[mi.tobytes()],
                mask_mod=[res["mask_mod"].tobytes()],
                qa=[res["qa"].tobytes()],
                nrow=[mi.shape[0]],
                ncol=[mi.shape[1]],
            )
        )

    return masks


def _cogroup(
    spark,
    corpus_dir: str,
    fn,
    schema,
    doc_filter: DataFrame | None = None,
    n_docs: int | None = None,
) -> DataFrame:
    docs = night_documents(load_documents(spark, corpus_dir)).select("doc_id", "spans")
    if doc_filter is not None:
        # resume/streaming frontier: prune BEFORE the cogroup so undone
        # granules never decode (a filter above the applyInPandas kernel
        # cannot be pushed through it by Catalyst — every granule would
        # decode and then be discarded). Broadcast semi-join, not a literal
        # IN list (the frontier is ~1e6 doc_ids/day at production scale).
        docs = docs.join(F.broadcast(doc_filter.select("doc_id")), "doc_id", "left_semi")
    media_b = bucketed_media(spark, corpus_dir)
    media = media_b if media_b is not None else load_media(spark, corpus_dir)
    # Day pruning propagates to media via a broadcast semi-join (metadata-only
    # partition pruning on a real Iceberg layout). A broadcast semi-join
    # preserves the streamed side's partitioning, so the bucketed layout's
    # co-location survives the pruning.
    media = media.join(F.broadcast(docs.select("doc_id")), "doc_id", "left_semi")
    # Granule-kernel cost varies ~10x between hot (fire-dense) and cold
    # granules while their *bytes* are identical, so AQE's size-based
    # coalescing would pack hot granules together and create stragglers.
    # Explicit repartition to ~one granule per task (a user-specified
    # partition count is never AQE-coalesced); the cogroup reuses this
    # hash partitioning, adding no extra exchange.
    # 4x over-partitioning: with ~n_docs partitions, hash collisions still
    # co-locate hot granules (balls-in-bins max load ~4); at 4x the
    # collision probability is negligible and empty partitions cost ~ms.
    # granule count sizes the decode stage; parquet metadata makes this a
    # cheap count, and `spark.filda.numDetectPartitions` overrides it where
    # even that is unwanted (e.g. Iceberg snapshot stats already know it)
    if media_b is not None:
        # bucketed layout: the media side's scan partitioning already
        # satisfies the cogroup's hash-clustered requirement — no explicit
        # repartition, no media shuffle; only the tiny docs side exchanges
        # (into the bucket count, aligned by EnsureRequirements). Bucket
        # count was sized 4x docs at build time (same collision argument
        # as below).
        return (
            docs.groupBy("doc_id")
            .cogroup(media.groupBy("doc_id"))
            .applyInPandas(fn, schema=schema)
        )
    n_override = int(spark.conf.get("spark.filda.numDetectPartitions", "0"))
    if n_override:
        n_parts = n_override
    else:
        if n_docs is None:
            n_docs = docs.count()
        n_parts = max(int(spark.conf.get("spark.sql.shuffle.partitions")), min(4 * n_docs, 8192))
    return (
        docs.repartition(n_parts, "doc_id")
        .groupBy("doc_id")
        .cogroup(media.repartition(n_parts, "doc_id").groupBy("doc_id"))
        .applyInPandas(fn, schema=schema)
    )


def detect_detections(
    spark: SparkSession,
    corpus_dir: str,
    nl: dict | None = None,
    doc_filter: DataFrame | None = None,
) -> DataFrame:
    from filda_spark.fixtures import load_ancillary

    nl = nl or make_namelist()
    anc_bc = spark.sparkContext.broadcast(load_ancillary(corpus_dir))
    pre = _cogroup(spark, corpus_dir, make_detect_fn(anc_bc, nl), PRE_FIT_SCHEMA, doc_filter)
    return fit_detections(spark, pre)


def detect_pre_metrics(
    spark: SparkSession,
    corpus_dir: str,
    nl: dict | None = None,
    doc_filter: DataFrame | None = None,
    n_docs: int | None = None,
) -> DataFrame:
    """Pre-fit detections + per-granule ``_detect_wall_s`` (see
    make_detect_fn(with_metrics=True)). The runner stages this, derives the
    lineage metrics, then feeds the real rows (FP_Line >= 0) to
    fit_detections. ``n_docs``, when the caller already counted the
    frontier (the runner always has), sizes the decode stage without a
    second count job."""
    from filda_spark.fixtures import load_ancillary

    nl = nl or make_namelist()
    anc_bc = spark.sparkContext.broadcast(load_ancillary(corpus_dir))
    return _cogroup(
        spark,
        corpus_dir,
        make_detect_fn(anc_bc, nl, with_metrics=True),
        PRE_FIT_METRICS_SCHEMA,
        doc_filter,
        n_docs=n_docs,
    )


def fit_detections(spark: SparkSession, pre: DataFrame) -> DataFrame:
    # fit stage: hot granules carry ~10x the detections, so the fit is
    # rebalanced round-robin across tasks instead of inheriting the
    # granule partitioning (per-row independent => order-free)
    n_parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    return pre.repartition(n_parts).mapInPandas(_fit_stage, schema=DET_SCHEMA)


def detect_masks(spark: SparkSession, corpus_dir: str, nl: dict | None = None) -> DataFrame:
    from filda_spark.fixtures import load_ancillary

    nl = nl or make_namelist()
    anc_bc = spark.sparkContext.broadcast(load_ancillary(corpus_dir))
    return _cogroup(spark, corpus_dir, make_masks_fn(anc_bc, nl), MASK_SCHEMA)


# ---------------------------------------------------------------------------
# Detection-level enrichment (broadcast joins + polygon PIP)
# ---------------------------------------------------------------------------


def _sinu_keys_udf():
    """Sinusoidal cell keys via the numpy projection (bit-parity with the
    oracle; the trig keeps this in an Arrow UDF rather than JVM exprs)."""

    @F.pandas_udf(
        T.StructType(
            [
                T.StructField("h", T.LongType()),
                T.StructField("v", T.LongType()),
                T.StructField("row", T.LongType()),
                T.StructField("col", T.LongType()),
            ]
        )
    )
    def sinu_keys(lat: pd.Series, lon: pd.Series) -> pd.DataFrame:
        h, v, r, c = grids.sinu_np(lat.to_numpy(), lon.to_numpy())
        return pd.DataFrame(dict(h=h, v=v, row=r, col=c))

    return sinu_keys


def make_pip_udf(polys_bc, id_key: str, flag: bool = True):
    """Point-in-polygon against a broadcast polygon set: STR R-tree built
    lazily ONCE per executor python worker from the broadcast (the north
    rule's broadcast polygon R-tree), then every Arrow batch descends the
    tree together — a granule-local batch prunes to its own subtrees
    (measured 39x over the linear polygon scan at 2e4 polygons). Flares
    and water bodies share it. ``flag=True`` returns 0/1 membership;
    ``flag=False`` returns the matched polygon's ``id_key`` (-1 outside)."""
    cache: dict = {}

    @F.pandas_udf(T.IntegerType())
    def pip_flag(lat: pd.Series, lon: pd.Series) -> pd.Series:
        if "tree" not in cache:
            cache["tree"] = spatial.build_strtree(polys_bc.value)
        fid = spatial.assign_polygons_strtree(
            lat.to_numpy(), lon.to_numpy(), cache["tree"], polys_bc.value, id_key
        )
        if flag:
            fid = (fid >= 0).astype(np.int32)
        return pd.Series(fid)

    return pip_flag


def _semi_reduced_left_join(
    small: DataFrame, big: DataFrame, keys: list[str], key_source: DataFrame | None = None
) -> DataFrame:
    """Left-join a tiny preserved side against a huge static table without
    shuffling or broadcasting the big side (semi-join reduction):

    1. broadcast the small side's key set into a left-semi filter on the big
       table — one map-side scan, no shuffle;
    2. the surviving rows are ~|small|, broadcast THEM for the left join.

    An outer join can't broadcast its preserved side, so the naive
    ``small.join(broadcast(big))`` would collect the full static table to
    the driver — this is the scale-correct plan for detections (~1e3-1e8
    rows/batch) against global cell rasters (~1e9+ rows).

    ``key_source``: optional cheaper plan carrying the same key values as
    ``small`` (e.g. the staged parquet ``small`` was chained from). The
    key-set broadcast is its own job, so computing it from the raw staged
    scan instead of the chained-join plan turns it into a column-pruned
    parquet read rather than a re-run of every upstream UDF/join."""
    key_set = (small if key_source is None else key_source).select(*keys).dropDuplicates(keys)
    reduced = big.join(F.broadcast(key_set), keys, "left_semi")
    return small.join(F.broadcast(reduced), keys, "left")


ENRICH_KEY_COLS = ("_h", "_v", "_row", "_col", "_ph", "_pv", "_py", "_px")


def enrich_keys(det: DataFrame) -> DataFrame:
    """Precompute the eight static-join key columns (sinusoidal land-cover
    keys + Plate-Carree peatland keys) so a caller that stages ``det`` to
    parquet before :func:`enrich` pays the sinusoidal pandas UDF exactly
    once: every subsequent key-set job inside enrich becomes a
    column-pruned parquet scan of 4 integer columns instead of a re-run of
    decode/fit/UDF lineage. Idempotent no-op if the keys already exist."""
    if "_h" in det.columns:
        return det
    sinu_keys = _sinu_keys_udf()
    det = det.withColumn("_sk", sinu_keys("FP_Latitude", "FP_Longitude"))
    det = det.withColumns(
        {"_h": F.col("_sk.h"), "_v": F.col("_sk.v"), "_row": F.col("_sk.row"), "_col": F.col("_sk.col")}
    ).drop("_sk")
    py, px = grids.pc_tile_yx(F.col("FP_Latitude"), F.col("FP_Longitude"), cells=240)
    ph, pv = grids.pc_tile_hv(F.col("FP_Latitude"), F.col("FP_Longitude"))
    return det.withColumns(
        {"_ph": ph.cast("long"), "_pv": pv.cast("long"), "_py": py.cast("long"), "_px": px.cast("long")}
    )


def enrich(spark: SparkSession, det: DataFrame, corpus_dir: str) -> DataFrame:
    """Land cover (sinusoidal equi-join, water override 17), peatland
    (Plate-Carree equi-join), gas-flare PIP, qcell/tile encodes."""
    lc = spark.read.parquet(f"{corpus_dir}/land_cover.parquet")
    peat = spark.read.parquet(f"{corpus_dir}/peatland.parquet")
    flares_pdf = pd.read_parquet(f"{corpus_dir}/gas_flare_polygons.parquet")
    polys = [
        dict(flare_id=int(r.flare_id), lat=list(r.lat), lon=list(r.lon))
        for r in flares_pdf.itertuples()
    ]
    polys_bc = spark.sparkContext.broadcast(polys)
    import os

    water_bc = None
    wp = f"{corpus_dir}/water_polygons.parquet"
    if os.path.exists(wp):
        water_pdf = pd.read_parquet(wp)
        water_bc = spark.sparkContext.broadcast(
            [
                dict(water_id=int(r.water_id), lat=list(r.lat), lon=list(r.lon))
                for r in water_pdf.itertuples()
            ]
        )

    # both key sets are derived from det AS STAGED (pre-join): when the
    # caller precomputed enrich_keys before staging, each key-set broadcast
    # job is a 4-int-column pruned parquet scan; chaining them off the
    # joined plan would re-evaluate the first broadcast join per key job
    det = enrich_keys(det)
    det0 = det
    lc = lc.withColumnsRenamed({"h": "_h", "v": "_v", "row": "_row", "col": "_col"})
    det = _semi_reduced_left_join(det, lc, ["_h", "_v", "_row", "_col"], key_source=det0)
    det = det.withColumn(
        "FP_Land_Type",
        F.when(F.col("FP_land_water_mask") != 1, F.lit(17))
        .otherwise(F.coalesce(F.col("lc_type").cast("int"), F.lit(0))),
    ).drop("lc_type", "_h", "_v", "_row", "_col")

    peat = peat.withColumnsRenamed({"h": "_ph", "v": "_pv", "y": "_py", "x": "_px"})
    det = _semi_reduced_left_join(det, peat, ["_ph", "_pv", "_py", "_px"], key_source=det0)
    det = (
        det.withColumn("FP_Peatland", F.coalesce(F.col("peat").cast("int"), F.lit(0)))
        .withColumn("FP_Peatfrac", F.coalesce(F.col("peat_frac"), F.lit(0.0)))
        .drop("peat", "peat_frac", "_ph", "_pv", "_py", "_px")
    )

    flare_flag = make_pip_udf(polys_bc, "flare_id")
    det = det.withColumn("FP_Gas_Flaring", flare_flag("FP_Latitude", "FP_Longitude"))
    if water_bc is not None:
        # vector land/water membership (north rule): must equal the raster
        # land_water_mask==0 semantics on fixtures (asserted in tests)
        water_flag = make_pip_udf(water_bc, "water_id")
        det = det.withColumn("FP_Water_PIP", water_flag("FP_Latitude", "FP_Longitude"))

    lat, lon = F.col("FP_Latitude"), F.col("FP_Longitude")
    from filda_spark import hex as hx

    det = det.withColumns(
        {
            "cell_r7": grids.cell_encode(lat, lon, grids.LEVEL_R7),
            "cell_r8": grids.cell_encode(lat, lon, grids.LEVEL_R8),
            "cell_r9": grids.cell_encode(lat, lon, grids.LEVEL_R9),
            # true-hex ids (aperture-7, filda_spark.hex): the north star's
            # "H3 cells (res 7-9)" alongside the qcell/S2 pair
            "hex_r7": hx.encode(lat, lon, hx.HEX_R7),
            "hex_r8": hx.encode(lat, lon, hx.HEX_R8),
            "hex_r9": hx.encode(lat, lon, hx.HEX_R9),
        }
    )
    det = det.withColumn("s2_token", _s2_token_udf()("FP_Latitude", "FP_Longitude"))
    det = det.withColumn("tile_id", grids.pc_tile_name(lat, lon))
    return det


def _s2_token_udf():
    """S2 level-14 token via the shared numpy implementation (Arrow UDF:
    the face/Hilbert bit walk has no JVM expression form)."""

    @F.pandas_udf(T.StringType())
    def s2_token(lat: pd.Series, lon: pd.Series) -> pd.Series:
        from filda_spark import s2, spatial

        return pd.Series(
            s2.token(s2.cell_id(lat.to_numpy(), lon.to_numpy(), spatial.S2_TOKEN_LEVEL))
        )

    return s2_token


# ---------------------------------------------------------------------------
# Cross-granule kNN dedup (cell-neighborhood shuffle join)
# ---------------------------------------------------------------------------

DEDUP_SALT_THRESHOLD = 5000


def dedup(
    det: DataFrame,
    eps: float = spatial.DEDUP_EPS_DEG,
    salt_threshold: int = DEDUP_SALT_THRESHOLD,
    n_salt: int = 8,
) -> DataFrame:
    """Same relation as spatial.knn_dedup_np, computed distributed:

    1. encode each detection to its level-14 qcell;
    2. duplicate the RIGHT side into its kRing (cell-neighborhood shuffle —
       explode(neighbors)); the ring's longitudinal half-width is
       latitude-aware (eps of corrected distance spans eps/cos(lat) raw
       longitude, i.e. several cells near the poles);
    3. equi-join on the cell key (no quadratic pair join), filter to
       different-granule pairs within eps with strictly higher priority;
    4. left join the dominators back: is_dup + dup_of.

    Priority: (FP_Power desc, NaN lowest, doc_id, FP_Line, FP_Sample) asc —
    ties impossible across granules.

    Hotspot salting: cells holding more than ``salt_threshold`` detections
    (persistent flares, city lights) are split ``n_salt`` ways — the LEFT
    side takes salt = hash(line, sample) % n_salt, the RIGHT side replicates
    across all salts for hot cells — so one hot cell's pair work spreads
    over n_salt tasks instead of one (AQE skew-join then handles residual
    imbalance). Cold cells pay nothing (salt 0, no replication)."""
    lat, lon = F.col("FP_Latitude"), F.col("FP_Longitude")
    pw = F.when(F.isnan("FP_Power") | F.col("FP_Power").isNull(), F.lit(float("-inf"))).otherwise(
        F.col("FP_Power")
    )
    base = det.withColumn("_cell", grids.cell_encode(lat, lon, DEDUP_CELL_LEVEL)).withColumn(
        "_negpw", -pw
    )
    hot = (
        base.groupBy("_cell")
        .count()
        .filter(F.col("count") > salt_threshold)
        .select(F.col("_cell").alias("cell"), F.lit(True).alias("_hot"))
    )
    left = base.select(
        F.col("doc_id").alias("a_doc"),
        F.col("FP_Line").alias("a_line"),
        F.col("FP_Sample").alias("a_sample"),
        F.col("FP_Latitude").alias("a_lat"),
        F.col("FP_Longitude").alias("a_lon"),
        F.col("_negpw").alias("a_negpw"),
        F.col("_cell").alias("cell"),
    )
    left = left.join(F.broadcast(hot), "cell", "left").withColumn(
        "salt",
        F.when(
            F.col("_hot"), F.pmod(F.hash("a_line", "a_sample"), F.lit(n_salt))
        ).otherwise(F.lit(0)),
    ).drop("_hot")
    # Pair-join parallelism must scale with the PAIR workload, not the input
    # bytes: a hot cell's quadratic candidate set is invisible to size-based
    # planning, so (a) when the right side broadcasts (small batches), the
    # join would otherwise inherit the left scan's 1-2 input splits and run
    # the whole hot cell single-threaded — salting changes nothing without
    # this; (b) at shuffle-join scale this exchange pre-aligns the join keys
    # and is reused. Explicit partition count: AQE's byte-based coalescing
    # would re-merge the salted partitions (same blindness).
    n_parts = int(det.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    left = left.repartition(n_parts, "cell", "salt")
    right = base.select(
        F.col("doc_id").alias("b_doc"),
        F.col("FP_Line").alias("b_line"),
        F.col("FP_Sample").alias("b_sample"),
        F.col("FP_Latitude").alias("b_lat"),
        F.col("FP_Longitude").alias("b_lon"),
        F.col("_negpw").alias("b_negpw"),
        F.explode(
            grids.cell_kring_dyn(
                F.col("_cell"),
                grids.lon_ring_halfwidth(F.col("FP_Latitude"), eps, DEDUP_CELL_LEVEL),
            )
        ).alias("cell"),
    )
    right = right.join(F.broadcast(hot), "cell", "left").withColumn(
        "salt",
        F.explode(
            F.when(F.col("_hot"), F.sequence(F.lit(0), F.lit(n_salt - 1))).otherwise(
                F.array(F.lit(0))
            )
        ),
    ).drop("_hot")
    dlat = F.col("b_lat") - F.col("a_lat")
    dlon = (F.col("b_lon") - F.col("a_lon")) * F.cos(F.radians(F.col("a_lat")))
    near = (dlat * dlat + dlon * dlon) <= F.lit(eps * eps)
    a_key = F.struct(F.col("a_negpw"), F.col("a_doc"), F.col("a_line"), F.col("a_sample"))
    b_key = F.struct(F.col("b_negpw"), F.col("b_doc"), F.col("b_line"), F.col("b_sample"))
    pairs = (
        left.join(right, ["cell", "salt"])
        .filter((F.col("a_doc") != F.col("b_doc")) & near & (b_key < a_key))
        .groupBy("a_doc", "a_line", "a_sample")
        .agg(
            F.min_by(
                F.concat_ws(":", "b_doc", "b_line", "b_sample"),
                b_key,
            ).alias("dup_of")
        )
    )
    out = det.join(
        pairs,
        (det.doc_id == pairs.a_doc)
        & (det.FP_Line == pairs.a_line)
        & (det.FP_Sample == pairs.a_sample),
        "left",
    ).drop("a_doc", "a_line", "a_sample")
    return out.withColumn("is_dup", F.col("dup_of").isNotNull()).withColumn(
        "dup_of", F.coalesce("dup_of", F.lit(""))
    )


# ---------------------------------------------------------------------------
# Tiles rollup (rasterize-back)
# ---------------------------------------------------------------------------


def mod_detections(det: DataFrame) -> DataFrame:
    """M-band (750 m) product: one row per (doc, M pixel), keep-FIRST in
    I-grid scan order — np.unique(..., return_index=True) semantics of
    FILDA.py:1905-1912. FP_Num_Fire already counts the I-band siblings."""
    from pyspark.sql import Window

    w = Window.partitionBy("doc_id", "FP_Line_MOD", "FP_Sample_MOD").orderBy(
        "FP_Line", "FP_Sample"
    )
    return (
        det.withColumn("_rn", F.row_number().over(w)).filter(F.col("_rn") == 1).drop("_rn")
    )


def tiles(det: DataFrame) -> DataFrame:
    return (
        det.filter(~F.col("is_dup"))
        .groupBy("tile_id", "cell_r7")
        .agg(
            F.count("*").alias("n_fires"),
            F.sum("FP_Power").alias("total_frp"),
            F.max("FP_Power").alias("max_frp"),
            F.sum((F.col("FP_confidence") == 9).cast("long")).alias("n_high_conf"),
        )
    )


_PERIM_MAX_ITERS = 128  # component-diameter bound (raises, never silent, beyond)


def perimeters(tiles_df: DataFrame) -> DataFrame:
    """Raster → vector: polygonize the fire-density raster into connected
    fire regions (the inverse of `tiles`' vector → raster rollup — together
    they close the north rule's "raster↔vector" pair).

    Burning r7 cells are nodes; 4-adjacency (E/W wrap in longitude, N/S
    clamped at the poles) gives edges; connected components are labeled by
    min-label propagation to the fixpoint (label = min cell id reachable),
    the same Pregel-style loop as `training.dup_components`. Per region it
    emits vector features: cell count, detection count, exact max FRP, the
    perimeter length in exposed cell edges (4 − #burning neighbours, summed
    — the rasterized boundary length), and the bounding-box ring as WKT.

    Scale: edges ≈ 4 × inhabited cells (~1e8 rows at global r7 — tiny next
    to detections); each of the O(log diameter) rounds is one equi-join
    shuffle + one groupBy + the pointer-doubling self-join, and fire fronts
    are compact so the diameter is small. No driver-side data: the loop
    compares a scalar label sum per round (functions.graph.fixpoint).
    Antimeridian-crossing regions get the raw min/max-x box (no wrap
    normalization) — deterministic, mirrored exactly in the oracle SQL.
    """
    n = 1 << grids.LEVEL_R7
    cells = tiles_df.groupBy("cell_r7").agg(
        F.sum("n_fires").alias("n_fires"),
        F.max("max_frp").alias("max_frp"),
    )
    x, y = grids.cell_xy(F.col("cell_r7"))
    cells = cells.select(
        F.col("cell_r7").alias("cell"), "n_fires", "max_frp",
        x.alias("x"), y.alias("y"),
    ).localCheckpoint()

    base = F.lit(grids.LEVEL_R7).cast("long") * F.lit(grids._LVL_SHIFT)
    east = base + F.col("y") * F.lit(grids._Y_SHIFT) + (F.col("x") + 1) % n
    west = base + F.col("y") * F.lit(grids._Y_SHIFT) + (F.col("x") - 1 + n) % n
    north = F.when(
        F.col("y") > 0, base + (F.col("y") - 1) * F.lit(grids._Y_SHIFT) + F.col("x")
    )
    south = F.when(
        F.col("y") < n - 1, base + (F.col("y") + 1) * F.lit(grids._Y_SHIFT) + F.col("x")
    )
    cand = cells.select(
        F.col("cell").alias("src"),
        F.explode(F.array_compact(F.array(east, west, north, south))).alias("dst"),
    )
    # keep only neighbours that are themselves burning: one equi-join on the
    # packed cell id (4 rows per cell; no spatial shuffle machinery needed)
    nodes = cells.select(F.col("cell").alias("dst"))
    edges = cand.join(nodes, "dst", "inner").localCheckpoint()

    deg = edges.groupBy("src").agg(F.count("*").alias("_deg"))
    labels = graph.min_label_components(
        cells.select("cell", F.col("cell").alias("component")).localCheckpoint(),
        edges,
        "cell",
        _PERIM_MAX_ITERS,
    )

    lab = cells.join(labels, "cell").join(deg, cells.cell == deg.src, "left")
    per_cell = lab.select(
        "component", "n_fires", "max_frp", "x", "y",
        (F.lit(4) - F.coalesce("_deg", F.lit(0))).alias("_exposed"),
    )
    agg = per_cell.groupBy("component").agg(
        F.count("*").alias("n_cells"),
        F.sum("n_fires").alias("n_fires"),
        F.max("max_frp").alias("max_frp"),
        F.sum("_exposed").alias("perimeter_edges"),
        F.min("x").alias("_x0"), F.max("x").alias("_x1"),
        F.min("y").alias("_y0"), F.max("y").alias("_y1"),
    )
    # bbox ring in lon/lat (cell outer edges). Coordinates are exact
    # BIGINT femto-degrees (360e15 and 180e15 both divide evenly by 2^15),
    # and the decimal text is built with integer arithmetic only —
    # float-to-string formatting differs between JVM and DuckDB, exact
    # integers do not. The long/long division below is safe to floor: the
    # residues of step·k mod 1e15 are multiples of gcd(step, 1e15) ≫ the
    # ≤32 ulp error of the int64→double conversion at 3.6e17.
    def _fixed15(p: Column) -> Column:
        a = F.abs(p)
        return F.concat(
            F.when(p < 0, F.lit("-")).otherwise(F.lit("")),
            F.floor(a / F.lit(10**15)).cast("long").cast("string"),
            F.lit("."),
            F.lpad((a % F.lit(10**15)).cast("string"), 15, "0"),
        )

    lon_step, lat_step = 360 * 10**15 // n, 180 * 10**15 // n
    lon_w = _fixed15(F.col("_x0") * F.lit(lon_step) - F.lit(180 * 10**15))
    lon_e = _fixed15((F.col("_x1") + 1) * F.lit(lon_step) - F.lit(180 * 10**15))
    lat_n = _fixed15(F.lit(90 * 10**15) - F.col("_y0") * F.lit(lat_step))
    lat_s = _fixed15(F.lit(90 * 10**15) - (F.col("_y1") + 1) * F.lit(lat_step))
    wkt = F.concat(
        F.lit("POLYGON(("),
        lon_w, F.lit(" "), lat_s, F.lit(", "),
        lon_e, F.lit(" "), lat_s, F.lit(", "),
        lon_e, F.lit(" "), lat_n, F.lit(", "),
        lon_w, F.lit(" "), lat_n, F.lit(", "),
        lon_w, F.lit(" "), lat_s,
        F.lit("))"),
    )
    return agg.select(
        "component", "n_cells", "n_fires", "max_frp", "perimeter_edges",
        wkt.alias("bbox_wkt"),
    )


# ---------------------------------------------------------------------------
# Full pipeline
# ---------------------------------------------------------------------------


def run(spark: SparkSession, corpus_dir: str, nl: dict | None = None) -> dict[str, DataFrame]:
    det = detect_detections(spark, corpus_dir, nl)
    det = enrich(spark, det, corpus_dir)
    det = dedup(det)
    return dict(detections=det, tiles=tiles(det))
