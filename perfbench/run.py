"""osmgraft benchmark: one command, two workloads, outputs checked.

    python3 perfbench/run.py --workload flagship --seed 1 --seconds 20 --trace 0

Run from the root of a checkout. Inputs are generated from ``--seed`` (and
cached per seed under ``.perfbench/inputs``), a Spark session with pinned
settings is started, one cold job is run (set-up), then warm jobs run one
at a time for ``--seconds``. The last stdout line is the result:
``{"correct", "attempted", "failed", "metrics"}``; with ``--trace 0`` the
metrics are the end-to-end ones, with ``--trace 1`` the per-layer ones
from a separate traced pass. A fuller record of the run goes to
``.perfbench/results/``.

Exit status is non-zero, with no result line, when no job could run (for
example when the ``osmgraft`` package is missing); stderr then reports
every attempted job as failed.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
import traceback
from pathlib import Path

BENCH = Path(__file__).resolve().parent
sys.path.insert(0, str(BENCH))

import gen  # noqa: E402
from stats import median, read_steal_s, timing_summary  # noqa: E402

MB = 2**20
MAX_CONSECUTIVE_FAILURES = 3
TRACE_WARM_JOBS = 2
# jobs after the cold one that are checked but not measured: flagship jobs
# keep getting faster for two more jobs (JIT, Python workers), spatial
# jobs are flat after one
WARMUP_JOBS = {"flagship": 2, "spatial": 1}

# name -> unit; a layer that a workload does not run reads 0
PER_LAYER = {
    "pipeline.plan_s": "s", "pipeline.plan_chars": "chars", "pipeline.spark_jobs": "count",
    "decode.busy_s": "s", "decode.rows_out": "count", "decode.blob_mb_in": "MB", "decode.shuffle_mb": "MB",
    "classify.busy_s": "s", "classify.admit_ratio": "ratio",
    "areas.busy_s": "s", "areas.rows_out": "count", "areas.shuffle_mb": "MB",
    "labels.udf_s": "s", "labels.rows": "count",
    "rank.busy_s": "s", "rank.shuffle_mb": "MB", "rank.spill_mb": "MB",
    "tiles.busy_s": "s",
    "pip.busy_s": "s", "pip.candidates": "count", "pip.hits": "count", "pip.refine_ratio": "ratio",
    "pip.shuffle_mb": "MB", "pip.task_max_over_median": "ratio",
    "skew.hot_cells": "count",
    "overlay.busy_s": "s", "overlay.candidates": "count", "overlay.pairs": "count", "overlay.shuffle_mb": "MB",
    "match.busy_s": "s", "match.candidates": "count", "match.shuffle_mb": "MB",
    "knn.busy_s": "s", "knn.candidate_pairs": "count", "knn.suppressed": "count", "knn.shuffle_mb": "MB",
    "knn.task_max_over_median": "ratio",
    "lineage.write_s": "s", "lineage.resume_s": "s", "lineage.resume_ratio": "ratio",
    "lineage.spark_jobs": "count", "lineage.mb_written": "MB", "lineage.chunks_reused": "count",
    "sink.busy_s": "s", "sink.mb_written": "MB",
    "run.shuffle_mb": "MB", "run.spark_jobs": "count", "trace.overhead_s": "s", "trace.self_s": "s",
}
END_TO_END = {"rows_per_s": "rows/s", "setup_s": "s", "peak_rss_mb": "MB", "shuffle_mb": "MB", "exec_mem_mb": "MB"}

# spans that together redo one untraced job, per workload
TRACED_PASS = {
    "flagship": ("decode", "classify", "areas", "labels", "rank", "tiles"),
    "spatial": ("pip", "overlay", "match", "knn"),
}


def _cell_join(n) -> bool:
    """The cover/probe cell equi-join of a spatial operator."""
    return "Join" in n.name and "Inner" in n.desc and "_cell" in n.desc


def _hot_cell_filter(n) -> bool:
    """The skew rail's hot-cell filter: cells with more rows than the bound."""
    from workloads import PIP_SKEW_BOUND

    return n.name == "Filter" and "_n#" in n.desc and f"> {PIP_SKEW_BOUND})" in n.desc


class Reference:
    """Expected fingerprints per (workload, seed): committed in
    expected.json for the seeds recorded there, else recorded by the first
    run of a seed next to its cached inputs."""

    def __init__(self, workload: str, seed: int, inputs: Path):
        self.local = inputs / "expected.json"
        committed = json.loads((BENCH / "expected.json").read_text())
        self.value = None
        if committed.get("generator") == gen.generator_hash():
            self.value = committed.get(workload, {}).get(str(seed))
        if self.value is None and self.local.exists():
            self.value = json.loads(self.local.read_text())

    def check(self, outputs: dict) -> list[str]:
        if self.value is None:
            self.value = outputs
            self.local.write_text(json.dumps(outputs, sort_keys=True))
            return []
        return [f"{k}: got {outputs.get(k)}, expected {v}" for k, v in self.value.items() if outputs.get(k) != v]


def fail(reason: str, attempted: int, record: dict) -> None:
    record.update({"correct": False, "attempted": attempted, "failed": attempted, "error": reason})
    print(json.dumps({k: record[k] for k in ("correct", "attempted", "failed", "error")}), file=sys.stderr)
    sys.exit(3)


def main(argv: list[str] | None = None) -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=("flagship", "spatial"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    t_start = time.perf_counter()
    repo = BENCH.parent
    work_root = repo / ".perfbench"
    t_gen = time.perf_counter()
    inputs = gen.ensure_inputs(work_root / "inputs", args.workload, args.seed)
    record: dict = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds, "trace": args.trace,
                    "generator": gen.generator_hash(), "gen_s": time.perf_counter() - t_gen}

    work = work_root / f"run-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    try:
        import sparkenv

        sparkenv.prepare_env(repo, work)
        sys.path.insert(0, str(repo))
        try:
            import osmgraft  # noqa: F401
        except ImportError as e:
            fail(f"program not importable: {e}", 1, record)
        record["host"] = sparkenv.host_info()
        result = run(args, inputs, work, record)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    record["wall_s"] = time.perf_counter() - t_start
    out_dir = work_root / "results"
    out_dir.mkdir(parents=True, exist_ok=True)
    (out_dir / f"{args.workload}-{args.seed}-t{args.trace}-{os.getpid()}.json").write_text(json.dumps(record, indent=1))
    print(json.dumps(result))


def run(args, inputs: Path, work: Path, record: dict) -> dict:
    import sparkenv
    import workloads as wl

    t_setup = time.perf_counter()
    steal_run0 = read_steal_s()
    spark = sparkenv.start_session(work, event_log=work / "eventlog" if args.trace else None)
    try:
        reader = sparkenv.StatusReader(spark)
        sink = wl.Sink(reader)
        ref = Reference(args.workload, args.seed, inputs)
        jobs: list[dict] = []

        def one(group: str) -> wl.JobResult | None:
            s0 = read_steal_s()
            try:
                res = wl.run_job(args.workload, spark, reader, sink, group, inputs)
            except Exception:  # a failing job is counted, the run goes on
                traceback.print_exc()
                jobs.append({"group": group, "failed": True, "steal_s": read_steal_s() - s0})
                return None
            res.problems += ref.check(res.outputs)
            jobs.append({"group": group, "failed": bool(res.problems), "seconds": res.seconds, "rows": res.rows,
                         "shuffle_bytes": res.shuffle_bytes, "peak_exec_mem": res.peak_exec_mem,
                         "spark_jobs": res.spark_jobs, "outputs": res.outputs, "problems": res.problems,
                         "steal_s": read_steal_s() - s0})
            for p in res.problems:
                print(f"check failed [{group}]: {p}", file=sys.stderr)
            return res

        cold = one("cold")
        setup_s = time.perf_counter() - t_setup
        record["setup_s"] = setup_s
        if cold is None:
            fail("cold job raised", 1, record)
        for i in range(WARMUP_JOBS[args.workload]):
            one(f"warmup{i}")

        warm: list[wl.JobResult] = []
        failures = 0
        t_end = time.perf_counter() + args.seconds

        def more() -> bool:
            """Traced runs need only a baseline for trace.overhead_s; untraced
            runs start a job only if it should end within --seconds."""
            if args.trace:
                return len(warm) < TRACE_WARM_JOBS
            return not warm or time.perf_counter() + warm[-1].seconds <= t_end

        with sparkenv.RssSampler() as rss:
            while more():
                res = one(f"warm{len(jobs)}")
                if res is None or res.problems:
                    failures += 1
                    if failures >= MAX_CONSECUTIVE_FAILURES:
                        break
                    continue
                failures = 0
                warm.append(res)
        record["jobs"] = jobs
        record["steal_run_s"] = read_steal_s() - steal_run0
        if not warm:
            fail("no warm job succeeded", len(jobs), record)
        job_s = [r.seconds for r in warm]
        record["job_s"] = timing_summary(job_s)
        failed = sum(1 for j in jobs if j["failed"])

        if args.trace:
            metrics, problems = traced(args.workload, spark, sink, inputs, work, median(job_s), warm, ref, record)
            failed += 1 if problems else 0
            attempted, units = len(jobs) + 1, PER_LAYER
        else:
            metrics = {
                "rows_per_s": median([r.rows / r.seconds for r in warm]),
                "setup_s": setup_s,
                "peak_rss_mb": rss.peak / MB,
                "shuffle_mb": median([r.shuffle_bytes for r in warm]) / MB,
                "exec_mem_mb": median([r.peak_exec_mem for r in warm]) / MB,
            }
            attempted, units = len(jobs), END_TO_END
        record["metrics"] = metrics
        return {"correct": failed == 0, "attempted": attempted, "failed": failed,
                "metrics": {k: {"value": float(metrics[k]), "unit": u} for k, u in units.items()}}
    finally:
        sparkenv.shutdown(spark)


def traced(workload: str, spark, sink, inputs: Path, work: Path, untraced_s: float,
           warm: list, ref: Reference, record: dict) -> tuple[dict, list[str]]:
    """The traced pass; per-layer metrics are read from the event log once
    the session has stopped."""
    import spans as tr_mod
    import workloads as wl

    m: dict[str, float] = dict.fromkeys(PER_LAYER, 0.0)
    tracer = tr_mod.Tracer(spark, f"{workload}-{record['seed']}")
    stager = wl.Stager(spark, work / "stage")
    with tracer.span("trace"):
        if workload == "flagship":
            m.update(wl.trace_pipeline_plan(tracer, spark, inputs))
            extra, res = wl.trace_flagship(tracer, stager, spark, sink, inputs)
            lineage, resume_problems = wl.trace_resume(tracer, spark, inputs, work, res.outputs["labels"])
            extra.update(lineage)
        else:
            extra, res, resume_problems = {}, wl.trace_spatial(tracer, spark, sink, inputs), []
            wl.trace_candidates(tracer, spark, inputs)
    m.update(extra)
    problems = res.problems + ref.check(res.outputs) + resume_problems
    for p in problems:
        print(f"check failed [trace]: {p}", file=sys.stderr)

    spark.stop()
    log = tr_mod.EventLog.load(tr_mod.find_event_log(work / "eventlog"))
    g = lambda name: tracer.get(name).group  # noqa: E731
    for layer in TRACED_PASS[workload]:
        s = log.summary(g(layer))
        m[f"{layer}.busy_s" if layer != "labels" else "labels.udf_s"] = s["busy_s"]
        if f"{layer}.shuffle_mb" in m:
            m[f"{layer}.shuffle_mb"] = s["shuffle_mb"]
    if workload == "flagship":
        m["pipeline.spark_jobs"] = median([r.spark_jobs for r in warm])
        m["rank.spill_mb"] = log.summary(g("rank"))["spill_mb"]
        m["decode.blob_mb_in"] = log.node_metric(
            g("decode"), lambda n: n.name.startswith("Scan") and "blobs.parquet" in n.desc, "size of files read") / MB
        m["lineage.spark_jobs"] = log.summary(g("lineage.resume"))["spark_jobs"]
        out = str(work / "resume_out")
        m["sink.busy_s"] = log.busy_where(
            g("lineage.write"), lambda plan: "InsertIntoHadoopFsRelationCommand" in plan and out in plan)
    else:
        cand = {k: log.node_metric(g(f"cand.{k}"), _cell_join) for k in TRACED_PASS["spatial"]}
        hits = res.outputs["pip"][0]
        m.update({
            "pip.candidates": cand["pip"], "pip.hits": hits,
            "pip.refine_ratio": hits / cand["pip"] if cand["pip"] else 0.0,
            "pip.task_max_over_median": log.task_max_over_median(g("pip"), _cell_join),
            "skew.hot_cells": log.node_metric(g("pip"), _hot_cell_filter, agg=max),
            "overlay.candidates": cand["overlay"], "overlay.pairs": res.outputs["overlay"][0],
            "match.candidates": cand["match"],
            "knn.candidate_pairs": cand["knn"], "knn.suppressed": gen.num_rows(inputs / "labels.parquet") - res.outputs["knn"][0],
            "knn.task_max_over_median": log.task_max_over_median(g("knn"), _cell_join),
        })
    spans = [s for s in tracer.spans if s.name != "trace"]
    m["run.shuffle_mb"] = sum(log.summary(s.group)["shuffle_mb"] for s in spans)
    m["run.spark_jobs"] = sum(log.summary(s.group)["spark_jobs"] for s in spans)
    traced_s = sum(tracer.get(n).end - tracer.get(n).start for n in TRACED_PASS[workload])
    m["trace.overhead_s"] = traced_s - untraced_s
    m["trace.self_s"] = tracer.self_s("trace")
    record["spans"] = tracer.to_json()
    return m, problems


if __name__ == "__main__":
    main()
