"""The two workloads: one untraced job each, and a traced pass that runs
the same work layer by layer.

A job is one closed-loop client request: the Spark driver runs one job
at a time and every output is forced through a ``noop`` sink. Each output
carries a row count and an order-insensitive ``xxhash64`` sum, observed in
the same pass. The flagship traced pass also runs the job entry point
with chunked, resumable stage writes (the lineage and sink layers).

The program is imported inside the functions, so a checkout without it
still generates inputs and reports each job as failed.
"""

from __future__ import annotations

import contextlib
import io
import json
import shutil
import time
from dataclasses import dataclass, field
from pathlib import Path

TILE_ZOOM = 12
# low enough that the densest cells of the spatial points are salted
PIP_SKEW_BOUND = 1_000
MATCH_RADIUS_M, MATCH_SIGMA_M = 150.0, 30.0
DEDUP_RADIUS_M = 2_000.0
RESUME_CHUNKS = 8
RESUME_DROPPED = (1, 6)  # labels chunks deleted before the resume


@dataclass
class JobResult:
    seconds: float
    rows: int
    outputs: dict[str, list] = field(default_factory=dict)  # name -> [rows, hash]
    problems: list[str] = field(default_factory=list)
    shuffle_bytes: int = 0
    peak_exec_mem: int = 0
    spark_jobs: int = 0


def _fp_exprs(df):
    from pyspark.sql import functions as F

    return [F.count(F.lit(1)).alias("rows"),
            F.sum(F.xxhash64(*[F.col(c) for c in df.columns]).cast("decimal(38,0)")).alias("hash")]


def fingerprint(df) -> list:
    """[rows, hash] of a frame, computed by an aggregation."""
    r = df.agg(*_fp_exprs(df)).first()
    return [int(r["rows"]), str(r["hash"] or 0)]


class Sink:
    """Forces frames through the ``noop`` sink with an observed fingerprint,
    and afterwards checks that the sink executed the whole plan."""

    def __init__(self, reader):
        self.reader = reader
        self._pending: list[tuple[str, object, object]] = []
        self._first_exec = 0

    def begin(self) -> None:
        self._pending = []
        self.reader.drain()
        self._first_exec = int(self.reader.sql.executionsCount())

    def noop(self, name: str, df) -> None:
        from pyspark.sql import Observation

        obs = Observation(f"fp.{name}.{time.monotonic_ns()}")
        observed = df.observe(obs, *_fp_exprs(df))
        observed.write.format("noop").mode("overwrite").save()
        self._pending.append((name, obs, observed))

    def finish(self, res: JobResult) -> None:
        """Collect fingerprints, then compare each noop execution's plan with
        the plan of the frame it was given: a sink that pruned columns or
        operators (as ``.count()`` does) shows a much smaller plan."""
        sql = self.reader.sql
        self.reader.drain()
        n = int(sql.executionsCount())
        plans = []
        if n > self._first_exec:
            execs = sql.executionsList(self._first_exec, n - self._first_exec)
            plans = [execs.apply(i).physicalPlanDescription() for i in range(execs.size())]
        measured = [len(p) for p in plans if "NoopWrite" in p]
        for i, (name, obs, observed) in enumerate(self._pending):
            got = obs.get
            res.outputs[name] = [int(got["rows"]), str(got["hash"] or 0)]
            res.rows += int(got["rows"])
            want = len(observed._jdf.queryExecution().executedPlan().toString())
            if i >= len(measured):
                res.problems.append(f"{name}: no noop execution found")
            elif measured[i] < want:
                res.problems.append(f"{name}: noop plan {measured[i]} chars < result plan {want} chars")


def _read(spark, inputs: Path, table: str):
    return spark.read.parquet(str(inputs / f"{table}.parquet"))


# -- flagship --------------------------------------------------------------

def flagship_frame(spark, inputs: Path):
    from osmgraft.operators.tiles import assign_tiles
    from osmgraft.plans.pipeline import label_pipeline

    docs, blobs = _read(spark, inputs, "documents"), _read(spark, inputs, "blobs")
    return assign_tiles(label_pipeline(spark, docs, blobs), z=TILE_ZOOM)


def flagship_job(spark, sink: Sink, inputs: Path) -> None:
    sink.noop("labels", flagship_frame(spark, inputs))


# -- spatial ---------------------------------------------------------------

def spatial_frames(spark, inputs: Path) -> dict:
    """Built one at a time, since dedup_labels runs a driver action while
    planning."""
    from osmgraft.operators.knn import dedup_labels
    from osmgraft.operators.matching import match_candidates
    from osmgraft.operators.overlay import poly_intersects_join
    from osmgraft.operators.pip import pip_join

    r = lambda t: _read(spark, inputs, t)  # noqa: E731
    return {
        "pip": lambda: pip_join(r("points"), r("polygons"), strategy="partitioned", skew_max_rows=PIP_SKEW_BOUND),
        "overlay": lambda: poly_intersects_join(r("landuse"), r("polygons"), "lid", "poly_id"),
        "match": lambda: match_candidates(r("fixes"), r("segments"), radius_m=MATCH_RADIUS_M, sigma_m=MATCH_SIGMA_M),
        "knn": lambda: dedup_labels(r("labels"), radius_m=DEDUP_RADIUS_M),
    }


def spatial_job(spark, sink: Sink, inputs: Path) -> None:
    for name, build in spatial_frames(spark, inputs).items():
        sink.noop(name, build())


def run_job(name: str, spark, reader, sink: Sink, group: str, inputs: Path) -> JobResult:
    """One untraced job under its own job group."""
    spark.sparkContext.setJobGroup(group, group)
    res = JobResult(0.0, 0)
    sink.begin()
    t0 = time.perf_counter()
    (flagship_job if name == "flagship" else spatial_job)(spark, sink, inputs)
    res.seconds = time.perf_counter() - t0
    sink.finish(res)
    st = reader.group(group)
    res.shuffle_bytes, res.peak_exec_mem, res.spark_jobs = st["shuffle_bytes"], st["peak_exec_mem"], st["spark_jobs"]
    return res


# -- traced passes ---------------------------------------------------------

class Stager:
    """Writes each layer's output to parquet, so the next layer reads it."""

    def __init__(self, spark, root: Path):
        self.spark = spark
        self.root = root

    def put(self, name: str, df) -> int:
        path = str(self.root / name)
        df.write.mode("overwrite").parquet(path)
        return self.spark.read.parquet(path).count()

    def get(self, name: str):
        return self.spark.read.parquet(str(self.root / name))


def trace_pipeline_plan(tr, spark, inputs: Path) -> dict:
    """Driver analysis, optimisation and physical planning of the lazy
    part of the flagship (``extract_pois``: decode, classify, areas and
    their union), forced via executedPlan() before anything runs.
    ``label_pipeline`` itself executes eagerly up to the rank checkpoint
    while it is built, so its own plan would hide that work."""
    from osmgraft.plans.pipeline import extract_pois

    with tr.span("pipeline"):
        t0 = time.perf_counter()
        df = extract_pois(spark, _read(spark, inputs, "documents"), _read(spark, inputs, "blobs"))
        plan = df._jdf.queryExecution().executedPlan().toString()
        plan_s = time.perf_counter() - t0
    return {"pipeline.plan_s": plan_s, "pipeline.plan_chars": len(plan)}


def trace_flagship(tr, st: Stager, spark, sink: Sink, inputs: Path) -> tuple[dict, JobResult]:
    """decode -> classify -> areas -> labels -> rank -> tiles, each layer
    reading the previous layer's staged output. The composition mirrors
    ``label_pipeline``; the tiles output must equal the untraced job's."""
    import pyspark.sql.functions as F
    from osmgraft.functions.labels import attach_label_ball
    from osmgraft.functions.names import label_name_expr, population_expr
    from osmgraft.operators.rank import global_rank
    from osmgraft.operators.tiles import assign_tiles
    from osmgraft.plans.pipeline import admitted_area_pois, admitted_node_pois, levels_df
    from osmgraft.sources.config import default_config
    from osmgraft.sources.decode import DecodedFrames, decode_documents

    cfg = default_config()
    m = {}
    with tr.span("decode"):
        frames = decode_documents(_read(spark, inputs, "documents"), _read(spark, inputs, "blobs"))
        m["decode.rows_out"] = st.put("node_pois", frames.node_pois) + st.put("rel_packed", frames.rel_packed)
    with tr.span("classify"):
        nodes_in = st.get("node_pois").count()
        admitted = st.put("nodes", admitted_node_pois(st.get("node_pois"), cfg, levels_df(spark, cfg)))
    m["classify.admit_ratio"] = admitted / nodes_in if nodes_in else 0.0
    with tr.span("areas"):
        frames = DecodedFrames(None, None, None, None, None, rel_packed=st.get("rel_packed"))
        m["areas.rows_out"] = st.put("areas", admitted_area_pois(frames, cfg, levels_df(spark, cfg)))
    with tr.span("labels"):
        cols = ["osm_id", "kind", "lat", "lon", "tags", "level_id", "name", "level_name", "factor", "icon"]
        pois = st.get("nodes").select(*cols).unionByName(st.get("areas").select(*cols))
        labeled = attach_label_ball(
            pois.withColumn("population", population_expr(F.col("tags"))).withColumn(
                "label_src", label_name_expr(F.col("tags"))),
            cfg, name_col="label_src")
        slim = labeled.select("lat", "lon", "level_id", "population", "osm_id", "label", "radius",
                              F.col("factor").cast("double").alias("factor"))
        m["labels.rows"] = st.put("labeled", slim)
    with tr.span("rank"):
        st.put("ranked", global_rank(st.get("labeled")).select(
            "lat", "lon", "level_id", "rank", "radius", "osm_id", "label", "factor"))
    res = JobResult(0.0, 0)
    with tr.span("tiles"):
        sink.begin()
        sink.noop("labels", assign_tiles(st.get("ranked"), z=TILE_ZOOM))
    sink.finish(res)
    return m, res


def trace_spatial(tr, spark, sink: Sink, inputs: Path) -> JobResult:
    res = JobResult(0.0, 0)
    sink.begin()
    for name, build in spatial_frames(spark, inputs).items():
        with tr.span(name):
            sink.noop(name, build())
    sink.finish(res)
    return res


# Catalyst folds the refine predicates into the cell equi-join; with these
# rules off they stay above it, so the join's output rows are the candidates.
NO_PUSHDOWN = ("org.apache.spark.sql.catalyst.optimizer.PushDownPredicates,"
               "org.apache.spark.sql.catalyst.optimizer.PushPredicateThroughJoin")


def trace_candidates(tr, spark, inputs: Path) -> None:
    spark.conf.set("spark.sql.optimizer.excludedRules", NO_PUSHDOWN)
    try:
        for name, build in spatial_frames(spark, inputs).items():
            with tr.span(f"cand.{name}"):
                build().write.format("noop").mode("overwrite").save()
    finally:
        spark.conf.unset("spark.sql.optimizer.excludedRules")


# -- resume cycle (flagship trace) ------------------------------------------

def _job_main(args: list[str]) -> None:
    from osmgraft.job import main

    with contextlib.redirect_stdout(io.StringIO()):  # the job prints its own JSON line
        main(args)


def resume_args(inputs: Path, work: Path) -> list[str]:
    return ["--docs", str(inputs / "documents.parquet"), "--blobs", str(inputs / "blobs.parquet"),
            "--out", str(work / "resume_out"), "--stage-dir", str(work / "resume_stages"),
            "--resume-chunks", str(RESUME_CHUNKS), "--tile-zoom", str(TILE_ZOOM)]


def drop_chunks(work: Path) -> None:
    for i in RESUME_DROPPED:
        shutil.rmtree(work / "resume_stages" / "labels" / f"chunk-{i:05d}")


def chunks_reused(work: Path) -> int:
    meta = json.loads((work / "resume_stages" / "labels" / "_lineage.json").read_text())
    return sum(1 for c in meta["chunks"] if c.get("resumed"))


def trace_resume(tr, spark, inputs: Path, work: Path, labels_fp: list) -> tuple[dict, list[str]]:
    """Fresh chunked run of the job entry point, delete two labels chunks,
    resume. Both runs must write the untraced job's labels (the sink adds
    only the tile columns, which assign_tiles also adds there)."""
    args = resume_args(inputs, work)
    with tr.span("lineage.write"):
        _job_main(args)
    fresh = fingerprint(spark.read.parquet(str(work / "resume_out")))
    drop_chunks(work)
    with tr.span("lineage.resume"):
        _job_main(args + ["--resume"])
    resumed = fingerprint(spark.read.parquet(str(work / "resume_out")))
    problems = []
    if fresh != labels_fp:
        problems.append(f"job output {fresh} != flagship labels {labels_fp}")
    if resumed != fresh:
        problems.append(f"resumed output {resumed} != fresh output {fresh}")
    reused = chunks_reused(work)
    if reused != RESUME_CHUNKS - len(RESUME_DROPPED):
        problems.append(f"{reused} labels chunks reused, expected {RESUME_CHUNKS - len(RESUME_DROPPED)}")
    write, resume = tr.get("lineage.write"), tr.get("lineage.resume")
    write_s, resume_s = write.end - write.start, resume.end - resume.start
    return {
        "lineage.write_s": write_s,
        "lineage.resume_s": resume_s,
        "lineage.resume_ratio": resume_s / write_s,
        "lineage.mb_written": _dir_mb(work / "resume_stages"),
        "lineage.chunks_reused": reused,
        "sink.mb_written": _dir_mb(work / "resume_out"),
    }, problems


def _dir_mb(path: Path) -> float:
    return sum(p.stat().st_size for p in path.rglob("*") if p.is_file()) / 2**20
