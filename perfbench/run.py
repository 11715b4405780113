"""Fire-engine benchmark: one closed-loop client on ``local[nproc]``.

    python3 perfbench/run.py --workload fire_ingest --seed 1 --seconds 5 --trace 0

Run from the repository root. The first run in a checkout builds every
input under ``perfbench/.work`` (granule corpus, oracle answers,
bucketed media layout); later runs reuse them. Each run sets
Spark up once (JVM boot, session, layout registration, Python workers),
runs the workload's passes for ``--seconds`` (at least one pass; one pass
of either workload outlasts the default), checks every output, stops
the JVM and prints one JSON result as its last line: end-to-end metrics
with ``--trace 0``, per-layer metrics from the span/status-store trace
with ``--trace 1``. ``--smoke`` swaps in the 8-granule test geometry and a
two-query mix. Workloads, metrics and the layer each metric belongs to
are described in ``perfbench/METRICS.md``.
"""

from __future__ import annotations

import argparse
import concurrent.futures
import fcntl
import json
import math
import multiprocessing
import os
import random
import shutil
import statistics
import sys
import time
import uuid

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
from host import RssSampler, cpu_stat, host_stamp, steal_pct, tree_cpu_s  # noqa: E402
from spans import Tracer  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD_VERSION = 2

# one generation of the corpus: four re-observation pairs, one Day granule,
# planted extra fires concentrated on the hot pair (fixtures.corpus_doc_params)
FIRE_GEOM = dict(n_docs=8, h_m=96, w_m=120, dyn_win_dim=31, extra_fires=60)
SMOKE_GEOM = dict(n_docs=8, h_m=64, w_m=80, dyn_win_dim=31, extra_fires=0)
BATCH_DOCS = 4
BBOX_READS = 2
STATE_KEY = ["doc_id", "FP_Line", "FP_Sample"]

MIX = {
    "iterative": ["watershed_basins"],
    "rank": ["auc_mannwhitney"],
    "spatial_join": ["knn_join"],
    "dedup": ["containment_dedup"],
    "media": ["media_features"],
}
SMOKE_MIX = {"rank": ["auc_mannwhitney"], "spatial_join": ["knn_join"]}
# runner phase split, in execution order (runner._mark keys)
PHASES = ["decode_detect", "fit", "enrich_append", "dedup_tiles", "manifest", "lineage_snapshot"]
# the fixed per-batch tail (ROADMAP item 2)
TAIL = ["dedup_tiles", "manifest", "lineage_snapshot"]
SPARK_COUNTS = ["jobs", "tasks", "task_time_s", "shuffle_write_bytes", "task_skew"]
WORKLOADS = ("fire_ingest", "registry_mix")


def per_layer_names() -> list[str]:
    names = [
        "session.start_s", "layout.register_s", "daemon.warmup_s",
        "trace.wall_s", "trace.collect_s", "error_rate",
        "fire.granules_per_hour", "fire.detections_per_sec", "frontier_s", "frontier.jobs",
    ]
    for op in ("bulk", "batch"):
        names += [f"{op}.wall_s", f"{op}.tail_frac", f"{op}.jobs", f"{op}.spill_bytes"]
        for ph in PHASES:
            names += [f"{op}.{ph}_s"] + [f"{op}.{ph}.{k}" for k in SPARK_COUNTS]
    names += [
        "udf.bytes_sent", "udf.bytes_returned", "udf.rows_returned",
        "bbox.p50_s", "bbox.rows_scanned_per_returned", "bbox.files_read", "bbox.jobs",
        "asof.p50_s", "asof.jobs", "registry.wall_s", "registry.query_geomean_s",
    ]
    for fam in MIX:
        names += [f"registry.{fam}_s", f"registry.{fam}.jobs"]
    return names + [f"query.{q}_s" for qs in MIX.values() for q in qs]


def geomean(xs: list[float]) -> float:
    return math.exp(sum(math.log(x) for x in xs) / len(xs))


class Config:
    """Where a run keeps its inputs and scratch, and what it runs."""

    def __init__(self, smoke: bool):
        self.work = os.path.join(HERE, ".work", "smoke" if smoke else "full")
        self.geom = SMOKE_GEOM if smoke else FIRE_GEOM
        self.mix = SMOKE_MIX if smoke else MIX
        self.cpus = len(os.sched_getaffinity(0))
        # verbatim copies of the four sf0.01 test tables (TESTDATA.md) the mix
        # reads; at sf0.01 media_features runs on TEST_GEOM, as in parity runs
        self.tables = os.path.join(HERE, "data", "sf0.01")

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)


def prepare_env(cfg: Config) -> None:
    """Point every scratch location of the engine, Spark and the JVM into
    the benchmark's own work directory. Must run before pyspark or
    filda_spark is imported (fire_queries reads FILDA_FIRE_CACHE at import)."""
    for d in ("tmp", "local", "corpus", "warehouse", "runs", "results"):
        os.makedirs(cfg.path(d), exist_ok=True)
    os.environ["TMPDIR"] = cfg.path("tmp")
    os.environ["FILDA_FIRE_CACHE"] = cfg.path("corpus")
    os.environ["SPARK_LOCAL_DIRS"] = cfg.path("local")
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "2g"
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    # no hsperfdata in /tmp; JVM temp files in the work dir
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-XX:-UsePerfData -Djava.io.tmpdir={cfg.path('tmp')} "
        + os.environ.get("JAVA_TOOL_OPTIONS", "")
    ).strip()
    sys.path.insert(0, ROOT)


def start_session(cfg: Config):
    from filda_spark.session import get_spark

    return get_spark(
        "perfbench",
        master=f"local[{cfg.cpus}]",
        shuffle_partitions=cfg.cpus,
        extra_conf={
            "spark.sql.warehouse.dir": cfg.path("warehouse"),
            "spark.ui.showConsoleProgress": "false",
        },
    )


def stop_jvm(spark) -> None:
    """Stop the session, then the JVM it runs in (and with it the Python
    worker daemon), and wait for the JVM to exit."""
    import subprocess

    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the gateway JVM exits on stdin EOF
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


# ---------------------------------------------------------------------------
# build: every input, once per checkout
# ---------------------------------------------------------------------------


def build(cfg: Config) -> None:
    marker = cfg.path("build.json")
    with open(cfg.path("build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if os.path.exists(marker):
            with open(marker) as f:
                if json.load(f).get("version") == BUILD_VERSION:
                    return
        t0 = time.perf_counter()
        from filda_spark import fire_queries

        # the media_features oracle answer is the slowest input (about two
        # minutes of NumPy): build it in a child process next to the rest
        mix = {q for qs in cfg.mix.values() for q in qs}
        ctx = multiprocessing.get_context("fork")
        with concurrent.futures.ProcessPoolExecutor(1, mp_context=ctx) as pool:
            media = pool.submit(fire_queries.ensure_fire_oracles) if "media_features" in mix else None
            _build_fire(cfg)
            _build_registry(cfg, media.result() if media else None)
        with open(marker, "w") as f:
            json.dump(dict(version=BUILD_VERSION, build_s=time.perf_counter() - t0), f)


def _build_registry(cfg: Config, fire_oracles: str | None) -> None:
    """Oracle answer of every mix query: the registry's DuckDB oracle over
    the same tables (relational.oracles(), the relational part of
    __spark_entry__.oracle_sql()), or for media_features the NumPy answer
    in ``fire_oracles``, the fire_queries.ensure_fire_oracles() directory its
    oracle statement reads. The rest of oracle_sql() materializes inputs the
    mix never reads."""
    import glob

    import duckdb

    import __spark_entry__  # noqa: F401  (registers the training-data queries)
    from filda_spark import relational

    oracles = relational.oracles()
    con = duckdb.connect()
    for p in glob.glob(f"{cfg.tables}/*.parquet"):
        t = os.path.basename(p)[: -len(".parquet")]
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    os.makedirs(cfg.path("oracle"), exist_ok=True)
    for qs in cfg.mix.values():
        for q in qs:
            if q == "media_features":
                sql = f"SELECT * FROM read_parquet('{fire_oracles}/media_features.parquet')"
            else:
                sql = oracles[q]
            con.execute(sql).fetchdf().to_parquet(cfg.path("oracle", f"{q}.parquet"))


def _build_fire(cfg: Config) -> None:
    """Granule corpus, its single-node NumPy oracle answer, and the bucketed
    media layout (a one-time table rewrite; sessions only re-register it)."""
    from filda_spark import fire_queries, fixtures, oracle, pipeline

    corpus = fire_queries.corpus_dir(cfg.geom)
    tmp = cfg.path("tmp", "oracle_corpus")
    try:
        c = fixtures.build_corpus(
            tmp,
            n_docs=cfg.geom["n_docs"],
            h_m=cfg.geom["h_m"],
            w_m=cfg.geom["w_m"],
            extra_fires=cfg.geom["extra_fires"],
        )
        res = oracle.run_corpus(c, fire_queries._nl(cfg.geom))
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    det = res["detections"]
    det[STATE_KEY + ["is_dup", "dup_of"]].to_parquet(cfg.path("expected_detections.parquet"))
    res["tiles"].to_parquet(cfg.path("expected_tiles.parquet"))
    spark = start_session(cfg)
    try:
        pipeline.ensure_bucketed_media(spark, corpus)
    finally:
        stop_jvm(spark)


# ---------------------------------------------------------------------------
# set-up
# ---------------------------------------------------------------------------


def warm_up(spark, cpus: int) -> None:
    """Start the Python worker daemon and one worker per core through an
    Arrow UDF, the boundary every engine kernel crosses."""
    df = spark.range(0, 64 * cpus, 1, cpus)
    df.mapInPandas(lambda it: (p for p in it), "id long").write.format("noop").mode(
        "overwrite"
    ).save()


def setup(cfg: Config, workload: str):
    """Boot the JVM and session, re-register the media layout (fire) and
    start the Python workers. Returns the session and the step timings."""
    from filda_spark import fire_queries, pipeline

    t0 = time.perf_counter()
    spark = start_session(cfg)
    t1 = time.perf_counter()
    if workload == "fire_ingest":
        pipeline.bucketed_media(spark, fire_queries.corpus_dir(cfg.geom))
    t2 = time.perf_counter()
    warm_up(spark, cfg.cpus)
    t3 = time.perf_counter()
    return spark, dict(session=t1 - t0, layout=t2 - t1, warmup=t3 - t2, total=t3 - t0)


# ---------------------------------------------------------------------------
# fire_ingest
# ---------------------------------------------------------------------------


def fire_plan(geom: dict, seed: int) -> dict:
    """Seeded inputs: which member of every re-observation pair (granule p
    and its re-observation p+4) is bulk-loaded and which arrives late, the
    arrival order of the late ones, and the read windows. The Day granule
    always sits on the bulk side (the runner prunes it before decode), so
    every seed bulk-loads and batches the same number of night granules."""
    from filda_spark.fixtures import corpus_doc_params

    rng = random.Random(seed)
    params = corpus_doc_params(geom["n_docs"], geom["extra_fires"])
    day = {p["doc_id"] for p in params if p["day"]}
    bulk, rest = [], []
    for k in range(0, len(params), 8):
        for p in range(4):
            a, b = params[k + p]["doc_id"], params[k + p + 4]["doc_id"]
            if a in day or (b not in day and rng.random() < 0.5):
                a, b = b, a
            bulk.append(b)
            rest.append(a)
    bulk = sorted(d for d in bulk if d not in day)
    rng.shuffle(rest)
    batches = [rest[i : i + BATCH_DOCS] for i in range(0, len(rest), BATCH_DOCS)]
    reads = []
    for _ in batches:
        boxes = []
        for _ in range(BBOX_READS):
            p = rng.choice(params)
            half = rng.uniform(0.5, 2.5)
            boxes.append((p["lat0"] - half, p["lat0"] + half, p["lon0"] - half, p["lon0"] + half))
        reads.append(dict(boxes=boxes, asof_back=rng.random()))
    night = sorted(p["doc_id"] for p in params if not p["day"])
    return dict(bulk=bulk, batches=batches, reads=reads, night=night)


def fire_pass(spark, tracer, cfg: Config, seed: int, out: str) -> dict:
    """Bulk-load the seeded half into an empty store, land the rest one
    micro-batch at a time with bbox and as-of reads after every commit,
    then resume over the whole corpus (must find nothing new). Every op
    is timed around one public runner call; outputs are kept for checks."""
    from filda_spark import fire_queries, runner

    corpus = fire_queries.corpus_dir(cfg.geom)
    nl = fire_queries._nl(cfg.geom)
    plan = fire_plan(cfg.geom, seed)
    ops: list[dict] = []
    committed: list[str] = []
    snaps: list[tuple[str, list[str]]] = []

    def land(kind: str, run_id: str, docs: list[str]) -> None:
        tm: dict = {}
        with tracer.span(kind, docs=len(docs)) as sp:
            t0 = time.perf_counter()
            todo = spark.createDataFrame([(d,) for d in docs], "doc_id string")
            called = time.time()
            runner.process_docs(spark, corpus, out, todo, nl, run_id, n_docs=len(docs), timings=tm)
            wall = time.perf_counter() - t0
        tracer.add_phases(sp, called, tm, PHASES)
        committed.extend(docs)
        snaps.append((run_id, list(committed)))
        ops.append(dict(kind=kind, wall=wall, timings=tm, span=sp["id"], docs=len(docs)))

    def read(kind: str, make, **what) -> None:
        with tracer.span(kind) as sp:
            t0 = time.perf_counter()
            pdf = make().toPandas()
            wall = time.perf_counter() - t0
        keys = set(zip(pdf.doc_id, pdf.FP_Line, pdf.FP_Sample))
        ops.append(dict(kind=kind, wall=wall, span=sp["id"], rows=len(pdf), keys=keys, **what))

    with tracer.span("fire_pass") as pass_span:
        cpu0 = tree_cpu_s()
        t_pass = time.perf_counter()
        land("bulk", "bulk", plan["bulk"])
        for i, (batch, rd) in enumerate(zip(plan["batches"], plan["reads"])):
            land("batch", f"batch{i}", batch)
            for box in rd["boxes"]:
                read("bbox", lambda b=box: runner.read_detections_bbox(spark, out, *b),
                     box=box, docs=set(committed))
            run_id, members = snaps[int(rd["asof_back"] * len(snaps))]
            read("asof", lambda r=run_id: runner.read_detections_as_of(spark, out, r),
                 docs=set(members))
        tm: dict = {}
        with tracer.span("resume") as sp:
            t0 = time.perf_counter()
            called = time.time()
            res = runner.run_incremental(spark, corpus, out, nl, timings=tm)
            wall = time.perf_counter() - t0
        tracer.add_phases(sp, called, tm, ["frontier"] + PHASES)
        ops.append(dict(kind="resume", wall=wall, timings=tm, span=sp["id"], new_docs=res["new_docs"]))
        pass_wall = time.perf_counter() - t_pass
        cpu = tree_cpu_s() - cpu0
    return dict(ops=ops, wall=pass_wall, cpu=cpu, span=pass_span["id"], plan=plan)


def check_fire(spark, cfg: Config, out: str, rec: dict) -> list[str]:
    """Output checks (outside every timer). The final store must equal the
    NumPy oracle's answer for the whole corpus: detection keys with their
    dedup verdicts, and the tiles. Every read must return exactly the store
    rows its bbox / snapshot selects; the resume must land nothing."""
    import numpy as np
    import pandas as pd

    from filda_spark import runner

    errors = []
    res = runner.read_results(spark, out)
    got = res["detections"].select(
        *STATE_KEY, "is_dup", "dup_of", "FP_Latitude", "FP_Longitude"
    ).toPandas()
    exp = pd.read_parquet(cfg.path("expected_detections.parquet"))
    cols = STATE_KEY + ["is_dup", "dup_of"]

    def canon(df):
        return df[cols].sort_values(STATE_KEY).reset_index(drop=True).astype(str)

    if len(got) != len(exp) or not canon(got).equals(canon(exp)):
        errors.append(f"store detections differ from the oracle ({len(got)} vs {len(exp)} rows)")
    rec["digest"] = str(pd.util.hash_pandas_object(canon(got), index=False).sum())
    tiles = res["tiles"].toPandas().sort_values(["tile_id", "cell_r7"]).reset_index(drop=True)
    et = pd.read_parquet(cfg.path("expected_tiles.parquet"))
    et = et.sort_values(["tile_id", "cell_r7"]).reset_index(drop=True)
    exact = ["tile_id", "cell_r7", "n_fires", "n_high_conf", "max_frp"]
    if len(tiles) != len(et) or not tiles[exact].astype(str).equals(et[exact].astype(str)) or not (
        np.allclose(tiles.total_frp, et.total_frp, rtol=1e-9, atol=0.0)
    ):
        errors.append("tiles differ from the oracle")
    snaps = runner.snapshots(out)
    rec["bulk_rows"] = next((s["rows"] for s in snaps if s["run_id"] == "bulk"), 0)
    if sum(s["docs"] for s in snaps) != len(rec["plan"]["night"]):
        errors.append("snapshot log does not hold every night granule once")
    keyed = got.assign(k=list(zip(got.doc_id, got.FP_Line, got.FP_Sample)))
    for op in rec["ops"]:
        if op["kind"] == "bbox":
            la0, la1, lo0, lo1 = op["box"]
            sel = keyed[
                keyed.doc_id.isin(op["docs"])
                & keyed.FP_Latitude.between(la0, la1)
                & keyed.FP_Longitude.between(lo0, lo1)
            ]
            op["ok"] = set(sel.k) == op["keys"] and len(sel) == op["rows"]
        elif op["kind"] == "asof":
            sel = keyed[keyed.doc_id.isin(op["docs"])]
            op["ok"] = set(sel.k) == op["keys"] and len(sel) == op["rows"]
        elif op["kind"] == "resume":
            op["ok"] = op["new_docs"] == 0
        else:  # bulk and batch built the store the checks above cover
            op["ok"] = not errors
        if not op["ok"] and op["kind"] not in ("bulk", "batch"):
            errors.append(f"{op['kind']} output check failed")
    rec["granules"] = int(got.doc_id.nunique())
    rec["detections"] = len(got)
    return errors


# ---------------------------------------------------------------------------
# registry_mix
# ---------------------------------------------------------------------------


def registry_order(mix: dict, seed: int) -> list[str]:
    names = [q for qs in mix.values() for q in qs]
    random.Random(seed).shuffle(names)
    return names


def _load_check_parity():
    import importlib.util

    spec = importlib.util.spec_from_file_location(
        "check_parity", os.path.join(ROOT, "scripts", "check_parity.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def registry_check_pass(spark, cfg: Config, order: list[str]) -> tuple[dict, dict]:
    """Untimed first pass: it takes the first-execution (planning, code
    generation, worker import) cost of every query, and each answer is
    collected and compared exactly with its oracle answer using
    scripts/check_parity.py's canonical form and value test. Returns
    ({query: passed}, {query: traceback} for queries that raised)."""
    import traceback

    import pandas as pd

    import __spark_entry__ as entry

    cp = _load_check_parity()
    qmap = entry.queries()
    ok, raised = {}, {}
    for q in order:
        try:
            got = cp.canon(qmap[q](spark, cfg.tables).toPandas())
        except Exception:  # a failing query is counted, the mix goes on
            raised[q] = traceback.format_exc(limit=3)
            ok[q] = False
            continue
        want = cp.canon(pd.read_parquet(cfg.path("oracle", f"{q}.parquet")))
        ok[q] = list(got.columns) == list(want.columns) and cp.values_equal(got, want)[0]
    return ok, raised


def registry_pass(spark, tracer, cfg: Config, order: list[str]) -> dict:
    """One timed pass over the mix, each query forced with the noop sink
    (the full physical plan runs, nothing is collected)."""
    import __spark_entry__ as entry

    qmap = entry.queries()
    times = {}
    with tracer.span("registry_pass") as pass_span:
        cpu0 = tree_cpu_s()
        t_pass = time.perf_counter()
        for q in order:
            with tracer.span(q, query=q):
                t0 = time.perf_counter()
                qmap[q](spark, cfg.tables).write.mode("overwrite").format("noop").save()
                times[q] = time.perf_counter() - t0
        wall = time.perf_counter() - t_pass
        cpu = tree_cpu_s() - cpu0
    return dict(times=times, wall=wall, cpu=cpu, span=pass_span["id"])


# ---------------------------------------------------------------------------
# metrics
# ---------------------------------------------------------------------------


def registry_per_query(passes: list[dict]) -> dict[str, float]:
    return {q: statistics.median(p["times"][q] for p in passes) for q in passes[0]["times"]}


def _span_counts(tracer, span_id: int, phase: str | None = None) -> dict:
    for s in tracer.spans:
        if (phase is None and s["id"] == span_id) or (
            phase is not None and s.get("parent") == span_id and s["name"] == phase
        ):
            return s
    return {}


def fire_layers(tracer, passes: list[dict], m: dict) -> None:
    p = passes[-1]
    ops = p["ops"]
    bulk = next(o for o in ops if o["kind"] == "bulk")
    batches = [o for o in ops if o["kind"] == "batch"]
    m["fire.granules_per_hour"] = bulk["docs"] * 3600.0 / bulk["wall"]
    m["fire.detections_per_sec"] = p.get("bulk_rows", 0) / bulk["wall"]
    for name, group in (("bulk", [bulk]), ("batch", batches)):
        def med(f):
            return statistics.median(f(o) for o in group)

        m[f"{name}.wall_s"] = med(lambda o: o["wall"])
        m[f"{name}.tail_frac"] = med(lambda o: sum(o["timings"].get(k, 0.0) for k in TAIL) / o["wall"])
        m[f"{name}.jobs"] = med(lambda o: _span_counts(tracer, o["span"]).get("spark", {}).get("jobs", 0))
        m[f"{name}.spill_bytes"] = med(
            lambda o: _span_counts(tracer, o["span"]).get("spark", {}).get("spill_bytes", 0)
        )
        for ph in PHASES:
            m[f"{name}.{ph}_s"] = med(lambda o: o["timings"].get(ph, 0.0))
            for k in SPARK_COUNTS:
                m[f"{name}.{ph}.{k}"] = med(
                    lambda o: _span_counts(tracer, o["span"], ph).get("spark", {}).get(k, 0)
                )
    resume = next(o for o in ops if o["kind"] == "resume")
    m["frontier_s"] = resume["timings"].get("frontier", 0.0)
    m["frontier.jobs"] = _span_counts(tracer, resume["span"]).get("spark", {}).get("jobs", 0)
    sql = _span_counts(tracer, bulk["span"]).get("sql", {})
    for k in ("udf.bytes_sent", "udf.bytes_returned", "udf.rows_returned"):
        m[k] = sql.get(k, 0.0)
    for kind in ("bbox", "asof"):
        reads = [o for o in ops if o["kind"] == kind]
        m[f"{kind}.p50_s"] = statistics.median(o["wall"] for o in reads)
        m[f"{kind}.jobs"] = statistics.median(
            _span_counts(tracer, o["span"]).get("spark", {}).get("jobs", 0) for o in reads
        )
    bbox = [o for o in ops if o["kind"] == "bbox"]
    scanned = sum(_span_counts(tracer, o["span"]).get("sql", {}).get("scan.rows", 0) for o in bbox)
    m["bbox.rows_scanned_per_returned"] = scanned / max(sum(o["rows"] for o in bbox), 1)
    m["bbox.files_read"] = statistics.median(
        _span_counts(tracer, o["span"]).get("sql", {}).get("scan.files", 0) for o in bbox
    )


def registry_layers(tracer, cfg: Config, passes: list[dict], m: dict) -> None:
    per_q = registry_per_query(passes)
    m["registry.wall_s"] = statistics.median(p["wall"] for p in passes)
    m["registry.query_geomean_s"] = geomean(list(per_q.values()))
    last = passes[-1]
    q_spans = {s["name"]: s for s in tracer.spans if s.get("parent") == last["span"]}
    for fam, qs in cfg.mix.items():
        m[f"registry.{fam}_s"] = sum(per_q.get(q, 0.0) for q in qs)
        m[f"registry.{fam}.jobs"] = sum(q_spans[q].get("spark", {}).get("jobs", 0) for q in qs)
    for q, t in per_q.items():
        m[f"query.{q}_s"] = t


# ---------------------------------------------------------------------------
# main
# ---------------------------------------------------------------------------


def run(args) -> dict:
    t_run = time.perf_counter()
    timeline = {}
    cfg = Config(args.smoke)
    prepare_env(cfg)
    build(cfg)
    timeline["build"] = time.perf_counter() - t_run
    stamp = host_stamp()
    s0 = cpu_stat()
    run_id = uuid.uuid4().hex[:8]
    run_dir = cfg.path("runs", f"{args.workload}-{args.seed}-{run_id}")
    tracer = Tracer(run_id, enabled=bool(args.trace))
    attempted = failed = 0
    notes: list[str] = []
    passes: list[dict] = []
    spark = None
    with RssSampler() as rss:
        try:
            timeline["stamp"] = time.perf_counter() - t_run
            spark, steps = setup(cfg, args.workload)
            timeline["setup"] = time.perf_counter() - t_run
            tracer.sc = spark.sparkContext
            t_end = time.perf_counter() + args.seconds
            if args.workload == "fire_ingest":
                while True:
                    out = os.path.join(run_dir, f"store{len(passes)}")
                    rec = fire_pass(spark, tracer, cfg, args.seed, out)
                    notes += check_fire(spark, cfg, out, rec)
                    attempted += len(rec["ops"])
                    failed += sum(not o["ok"] for o in rec["ops"])
                    shutil.rmtree(out, ignore_errors=True)
                    passes.append(rec)
                    if time.perf_counter() >= t_end:
                        break
            else:
                order = registry_order(cfg.mix, args.seed)
                ok, raised = registry_check_pass(spark, cfg, order)
                attempted += len(ok)
                failed += sum(not v for v in ok.values())
                notes += [f"{q} raised: {tb}" for q, tb in raised.items()]
                notes += [f"{q} differs from its oracle" for q, v in ok.items() if not v and q not in raised]
                # queries that raised are not timed
                order = [q for q in order if q not in raised]
                t_end = time.perf_counter() + args.seconds
                while order:
                    passes.append(registry_pass(spark, tracer, cfg, order))
                    if time.perf_counter() >= t_end:
                        break
            timeline["work"] = time.perf_counter() - t_run
            tracer.collect(spark)
        finally:
            if spark is not None:
                stop_jvm(spark)
            shutil.rmtree(run_dir, ignore_errors=True)
    timeline["teardown"] = time.perf_counter() - t_run
    steal = steal_pct(s0, cpu_stat())

    wall = statistics.median(p["wall"] for p in passes)
    e2e = {
        "setup_s": (steps["total"], "s"),
        "pass_wall_s": (wall, "s"),
        "cpu_s": (statistics.median(p["cpu"] for p in passes), "s"),
        "peak_rss_mb": (rss.peak_mb, "MB"),
    }
    layers = dict.fromkeys(per_layer_names(), 0.0)
    layers["session.start_s"] = steps["session"]
    layers["layout.register_s"] = steps["layout"]
    layers["daemon.warmup_s"] = steps["warmup"]
    layers["trace.wall_s"] = wall
    layers["trace.collect_s"] = tracer.collect_s
    layers["error_rate"] = failed / max(attempted, 1)
    if args.workload == "fire_ingest":
        fire_layers(tracer, passes, layers)
    else:
        registry_layers(tracer, cfg, passes, layers)
    report = dict(
        workload=args.workload,
        seed=args.seed,
        trace=args.trace,
        smoke=args.smoke,
        host=dict(stamp, steal_pct=steal, cpus_used=cfg.cpus),
        setup_steps=steps,
        timeline=timeline,
        passes=len(passes),
        notes=notes,
        end_to_end={k: v for k, (v, _) in e2e.items()},
        pass_wall_s=wall,
        per_layer=layers,
    )
    if args.workload == "fire_ingest":
        report["digest"] = passes[-1].get("digest")
        report["granules"] = passes[-1].get("granules")
        report["detections"] = passes[-1].get("detections")
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    tracer.dump(cfg.path("results", f"{name}.json"), report)
    units = dict(_layer_units())
    metrics = (
        {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
        if not args.trace
        else {k: {"value": v, "unit": units[k]} for k, v in layers.items()}
    )
    print(json.dumps(dict(host=report["host"], notes=notes, digest=report.get("digest"))))
    return {"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}


def _layer_units():
    for n in per_layer_names():
        if n.endswith("_s"):
            u = "s"
        elif n.endswith("bytes") or n.startswith("udf.bytes"):
            u = "B"
        elif n == "fire.granules_per_hour":
            u = "granules/h"
        elif n == "fire.detections_per_sec":
            u = "detections/s"
        elif n.endswith(("frac", "skew", "error_rate", "per_returned")):
            u = "ratio"
        else:
            u = "count"
        yield n, u


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true", help="test geometry and a two-query mix")
    args = ap.parse_args()
    missing = [p for p in ("__spark_entry__.py", "filda_spark/runner.py") if not os.path.exists(os.path.join(ROOT, p))]
    if missing:
        print(f"perfbench: engine sources not found next to perfbench/: {missing}", file=sys.stderr)
        return 2
    print(json.dumps(run(args)))
    return 0


if __name__ == "__main__":
    sys.exit(main())
