"""Benchmark for `cli run` (run_extraction) and `cli corpus`
(build_training_examples + writes) on the host it runs on.

    python3 perfbench/run.py --workload extract_mixed --seed 1 --seconds 5 --trace 0

Run from the repository root. The last stdout line is one JSON object
``{"correct", "attempted", "failed", "metrics"}``; the line before it is
the full report (settings, every pass, quartiles). ``--trace 0`` measures
the end-to-end metrics with tracing off; ``--trace 1`` is the separate
traced run that yields the per-layer metrics. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import statistics
import sys
import tempfile
import time
import traceback
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
WORK = ROOT / ".perfbench"

# size = rows (turns or documents) staged for the job; at the extract size
# the extraction stage outweighs each of the fixed per-job costs (64-bucket
# write, lineage read-back, commit) on extract_mixed
WORKLOADS = {
    "extract_mixed": {"job": "extract", "size": 40000},
    "extract_chat": {"job": "extract", "size": 40000},
    "corpus_build": {"job": "corpus", "size": 2000},
}
# get_spark's 16g default does not fit a 15 GiB host shared with others
DRIVER_MEMORY = "1g"
KERNEL_SAMPLE = 2000  # payloads timed in-process for the kernel layer
# the host-speed reference's time on this 4-vCPU host when it runs at full
# speed; end-to-end times are reported as if the reference took this long
REF_NOMINAL_S = 0.25
KERNEL_KINDS = ("html", "markdown", "plain", "pdfish", "other")

END_TO_END = {
    "rows_per_s": "1/s", "setup_s": "s", "peak_rss_mb": "MB",
    "error_row_ratio": "ratio",
}
PER_LAYER = {
    "session.start_s": "s", "session.warmup_s": "s",
    "kernel.turns_per_s": "1/s", "kernel.sniff_us": "us",
    **{f"kernel.{k}_us": "us" for k in KERNEL_KINDS},
    "kernel.html_share": "ratio",
    **{f"kernel.n_{k}": "count" for k in KERNEL_KINDS},
    "extract.stage_s": "s", "extract.arrow_share": "ratio",
    "pipeline.scan_s": "s", "pipeline.input_mb": "MB",
    "pipeline.post_extract_s": "s", "pipeline.shuffle_write_mb": "MB",
    "pipeline.written_mb": "MB", "pipeline.written_per_input": "ratio",
    "pipeline.task_skew": "ratio", "pipeline.gc_s": "s",
    "pipeline.lineage_s": "s", "checkpoint.commit_s": "s",
    "corpus.base_s": "s", "corpus.exact_dedup_s": "s",
    "corpus.near_dup_s": "s", "corpus.examples_s": "s",
    "corpus.write_s": "s", "corpus.extract_share": "ratio",
    "corpus.shuffle_write_mb": "MB",
    "trace.overhead_ratio": "ratio", "trace.local1_rows_per_s": "1/s",
    "trace.scaling_eff_1_4": "ratio",
}
# may read 0 on a short pass, when no task met a collection
MAY_BE_ZERO = {"pipeline.gc_s"}


def applicable(workload: str) -> set[str]:
    """The per-layer metrics that have a meaning on ``workload``; the
    others read 0."""
    names = set(PER_LAYER)
    if WORKLOADS[workload]["job"] == "extract":
        names -= {n for n in names if n.startswith("corpus.")}
    else:
        names -= {"pipeline.lineage_s", "checkpoint.commit_s",
                  "trace.local1_rows_per_s", "trace.scaling_eff_1_4"}
    if workload == "extract_chat":  # no html payloads are staged
        names -= {"kernel.html_us", "kernel.n_html", "kernel.html_share"}
    return names


# ---------------------------------------------------------------------------
# host fit and session lifetime
# ---------------------------------------------------------------------------

def fit_host() -> dict:
    """Environment for the driver JVM and its Python workers, set before
    the first session starts. Returned as-is into the report."""
    for d in ("spark-local", "tmp", "warehouse"):
        (WORK / d).mkdir(parents=True, exist_ok=True)
    path = os.environ.get("PYTHONPATH")
    settings = {
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_DRIVER_MEMORY": DRIVER_MEMORY,
        "SPARK_LOCAL_DIRS": str(WORK / "spark-local"),
        "TMPDIR": str(WORK / "tmp"),
        # workers import docling_api_spark from any cwd
        "PYTHONPATH": str(ROOT) + (os.pathsep + path if path else ""),
        "PYSPARK_PYTHON": sys.executable,
        # every JVM (the launcher's too) keeps its scratch in the checkout
        "JAVA_TOOL_OPTIONS": f"-XX:-UsePerfData -Djava.io.tmpdir={WORK / 'tmp'}",
    }
    os.environ.update(settings)
    tempfile.tempdir = None  # re-read TMPDIR
    sys.path.insert(0, str(ROOT))
    return settings


def session_conf(event_log: Path | None) -> dict:
    conf = {
        "spark.sql.warehouse.dir": str(WORK / "warehouse"),
        "spark.eventLog.enabled": "false",
    }
    if event_log is not None:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": event_log.as_uri(),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return conf


def start_session(master: str | None = None, event_log: Path | None = None):
    """get_spark as the CLI calls it (master from SPARK_GRAFT_CPUS)."""
    from docling_api_spark.session import get_spark

    return get_spark(app_name="perfbench", master=master,
                     extra_conf=session_conf(event_log))


def jvm_pid() -> int:
    from pyspark import SparkContext

    return SparkContext._gateway.proc.pid


def shutdown_jvm() -> None:
    """Stop the session, then end the driver JVM (it exits on stdin EOF)
    and wait for it; its Python workers are stopped with the context."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = gateway.proc
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except Exception:
        proc.kill()
        proc.wait()
        raise


def fresh_dir(name: str) -> str:
    path = WORK / "out" / name
    shutil.rmtree(path, ignore_errors=True)
    path.mkdir(parents=True)
    return str(path)


def dir_bytes(path: str) -> int:
    return sum(f.stat().st_size for f in Path(path).rglob("*.parquet"))


# ---------------------------------------------------------------------------
# one timed pass
# ---------------------------------------------------------------------------

def timed_pass(spark, job, name: str, tracer, check: bool = True) -> dict:
    """Run the job once into a fresh directory, sample the process tree's
    RSS while it runs, then check its outputs (untimed) unless ``check``
    is off. Any exception or failed check marks the pass failed."""
    from probes import RssSampler

    out = fresh_dir(name)
    rec: dict = {"ok": False}
    t0 = time.perf_counter()
    try:
        with RssSampler(jvm_pid()) as rss:
            res = job.run(spark, out, tracer)
        rec.update(wall_s=res["wall"], rows=res["rows"],
                   rows_per_s=res["rows"] / res["wall"],
                   peak_rss_mb=rss.peak / 1e6, res=res)
        if check:
            t1 = time.perf_counter()
            rec["error_rows"] = job.check(spark, out, res)
            rec["check_s"] = time.perf_counter() - t1
        rec["ok"] = True
    except Exception as e:  # a failed run is counted, not fatal
        traceback.print_exc(file=sys.stderr)
        rec["error"] = f"{type(e).__name__}: {e}"
    rec.setdefault("wall_s", time.perf_counter() - t0)
    return rec


def quartiles(values: list[float]) -> list[float]:
    if len(values) < 2:
        return [values[0]] * 3
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return [q1, q2, q3]


# ---------------------------------------------------------------------------
# end-to-end run (tracing off)
# ---------------------------------------------------------------------------

def end_to_end(args, job) -> tuple[list, dict | None, dict]:
    """Set up, then timed passes. The shared host's speed drifts by a
    third within minutes, so the reference task is timed before set-up,
    before the timed passes and after them, and set-up time and
    throughput are reported at the speed where it takes REF_NOMINAL_S
    (raw figures in the report)."""
    from probes import HostSpeed, Tracer

    off = Tracer("e2e", enabled=False)
    host = HostSpeed(int(os.environ["SPARK_GRAFT_CPUS"]))
    try:
        host.sample()
        t0 = time.perf_counter()
        spark = start_session()
        start_s = time.perf_counter() - t0
        t0 = time.perf_counter()
        job.run(spark, fresh_dir("warmup"), off)  # the untimed first pass
        warmup_s = time.perf_counter() - t0

        passes: list[dict] = []
        measured = 0.0
        host.sample()
        while measured < args.seconds or not passes:
            passes.append(timed_pass(spark, job, "pass", off))
            measured += passes[-1]["wall_s"]
        host.sample()
    finally:
        host.close()
    rounds = len(host.samples) // 3
    setup_ref = statistics.median(host.samples[:2 * rounds])
    pass_ref = statistics.median(host.samples[rounds:])
    detail = {
        "session.start_s": start_s, "session.warmup_s": warmup_s,
        "host_ref_samples": host.samples,
        "host_ref_setup_s": setup_ref, "host_ref_passes_s": pass_ref,
    }
    ok = [p for p in passes if p["ok"]]
    for p in ok[1:]:
        if p["error_rows"] != ok[0]["error_rows"]:
            p["ok"] = False
            p["error"] = "error-row count differs between passes"
    ok = [p for p in ok if p["ok"]]
    if not ok:
        return passes, None, detail
    # rows completed per second over all timed job wall of the run
    rows_per_s = sum(p["rows"] for p in ok) / sum(p["wall_s"] for p in ok)
    detail.update(
        rows_per_s_raw=rows_per_s, setup_s_raw=start_s + warmup_s,
        rows_per_s_raw_quartiles=quartiles([p["rows_per_s"] for p in ok]))
    metrics = {
        "rows_per_s": rows_per_s * pass_ref / REF_NOMINAL_S,
        "setup_s": (start_s + warmup_s) * REF_NOMINAL_S / setup_ref,
        "peak_rss_mb": max(p["peak_rss_mb"] for p in ok),
        "error_row_ratio": ok[0]["error_rows"] / ok[0]["rows"],
    }
    return passes, metrics, detail


# ---------------------------------------------------------------------------
# traced run (per-layer metrics)
# ---------------------------------------------------------------------------

def kernel_layer(texts: list, seed: int) -> dict:
    """In-process kernel timings on a seeded sample of the staged payloads,
    grouped by the payload_kind extract_one returns."""
    from docling_api_spark.extraction.kernel import (
        extract_flat,
        extract_one,
        sniff_kind,
    )

    sample = random.Random(f"perfbench-kernel:{seed}").sample(
        texts, min(KERNEL_SAMPLE, len(texts)))
    clock = time.perf_counter
    t0 = clock()
    extract_flat(sample)
    flat_s = clock() - t0
    sniff_s = 0.0
    spent = dict.fromkeys(KERNEL_KINDS, 0.0)
    count = dict.fromkeys(KERNEL_KINDS, 0)
    for text in sample:
        t0 = clock()
        sniff_kind(text)
        t1 = clock()
        kind = extract_one(text)["payload_kind"]
        t2 = clock()
        sniff_s += t1 - t0
        kind = kind if kind in spent else "other"
        spent[kind] += t2 - t1
        count[kind] += 1
    m = {"kernel.turns_per_s": len(sample) / flat_s,
         "kernel.sniff_us": sniff_s / len(sample) * 1e6,
         "kernel.html_share": spent["html"] / sum(spent.values())}
    for k in KERNEL_KINDS:
        m[f"kernel.{k}_us"] = spent[k] / count[k] * 1e6 if count[k] else 0.0
        m[f"kernel.n_{k}"] = count[k]
    return m


def extract_layer(spark, job, tracer) -> dict:
    """Scan + extract_text_column to a noop sink, once plain and once under
    the Python UDF profiler (for the Arrow-side share of the UDF)."""
    from docling_api_spark.operators.extract import extract_text_column
    from probes import cumulative_seconds

    def noop_extract(df):
        (extract_text_column(df, keep_cols=job.keep_cols)
         .write.format("noop").mode("overwrite").save())

    with tracer.span("pipeline.scan") as scan:
        job.read(spark).write.format("noop").mode("overwrite").save()
    with tracer.span("extract.stage") as stage_span:
        noop_extract(job.read(spark))
    dump = fresh_dir("udf-profile")
    with tracer.span("extract.profiled"):
        spark.conf.set("spark.sql.pyspark.udf.profiler", "perf")
        try:
            noop_extract(job.read(spark))
        finally:
            spark.conf.unset("spark.sql.pyspark.udf.profiler")
        spark.profile.dump(dump, type="perf")
        spark.profile.clear(type="perf")
    run_s = cumulative_seconds(dump, "run", "extract.py")
    flat_s = cumulative_seconds(dump, "extract_flat", "kernel.py")
    return {"pipeline.scan_s": scan.seconds,
            "pipeline.input_mb": dir_bytes(job.input) / 1e6,
            "extract.stage_s": stage_span.seconds,
            "extract.arrow_share": (run_s - flat_s) / run_s if run_s else 0.0}


def pipeline_layer(log: dict, res: dict, m: dict) -> tuple[dict, list, list]:
    """Event-log metrics of the traced job (shared by both job shapes),
    plus the job's Spark jobs and tasks."""
    from probes import jobs_within, task_skew

    jobs, tasks = jobs_within(log, *res["spans"]["job"])
    written = sum(t["output_b"] for t in tasks) / 1e6
    return {
        "pipeline.post_extract_s": res["wall"] - m["extract.stage_s"],
        "pipeline.shuffle_write_mb":
            sum(t["shuffle_write_b"] for t in tasks) / 1e6,
        "pipeline.written_mb": written,
        "pipeline.written_per_input": written / m["pipeline.input_mb"],
        "pipeline.task_skew": task_skew(tasks),
        "pipeline.gc_s": sum(t["gc_s"] for t in tasks),
    }, jobs, tasks


def extract_job_layers(log: dict, res: dict, m: dict) -> dict:
    out, jobs, tasks = pipeline_layer(log, res, m)
    records = {}
    for t in tasks:
        records[t["stage"]] = records.get(t["stage"], 0) + t["records_out"]
    data_stage = max(records, key=records.get)
    write_job = next(j for j in jobs if data_stage in j["stages"])
    last_end = max(j["end"] for j in jobs)
    out["pipeline.lineage_s"] = last_end - write_job["end"]
    out["checkpoint.commit_s"] = res["spans"]["job"][1] - last_end
    return out


def corpus_job_layers(log: dict, res: dict, m: dict) -> dict:
    """Split build_training_examples at its eager localCheckpoints, found
    by stage name in the event log: the first two are the extracted base
    and the exact-dedup keepers, the last before the funnel's collect is
    the near-dup/decontam verdict table, and the rest is examples."""
    out, jobs, tasks = pipeline_layer(log, res, m)
    b0, b1 = res["spans"]["build"]
    build = [j for j in jobs if j["start"] <= b1 + 0.01]
    ckpt = [j for j in build
            if any(n.startswith("localCheckpoint") for n in j["stage_names"])]
    funnel = next(j for j in build if any(
        n.startswith("collect") and "corpus_pipeline.py" in n
        for n in j["stage_names"]))
    verdicts = [j for j in ckpt if j["start"] < funnel["start"]][-1]
    base_end, keep_end = ckpt[0]["end"], ckpt[1]["end"]
    out.update({
        "corpus.base_s": base_end - b0,
        "corpus.exact_dedup_s": keep_end - base_end,
        "corpus.near_dup_s": verdicts["end"] - keep_end,
        "corpus.examples_s": b1 - verdicts["end"],
        "corpus.write_s": res["spans"]["write"][1] - res["spans"]["write"][0],
        "corpus.extract_share": m["extract.stage_s"] / (b1 - b0),
        "corpus.shuffle_write_mb": out["pipeline.shuffle_write_mb"],
    })
    return out


def prime(spark, job) -> None:
    """Fork a new context's Python workers and import the kernel: a noop
    extraction of a few rows."""
    from docling_api_spark.operators.extract import extract_text_column

    (extract_text_column(job.read(spark).limit(200), keep_cols=job.keep_cols)
     .write.format("noop").mode("overwrite").save())


def traced(args, job, kind: str) -> tuple[list, dict, dict]:
    from probes import Tracer, read_event_log

    tracer = Tracer(f"{args.workload}-s{args.seed}", enabled=True)
    log_dir = Path(fresh_dir(f"eventlog-{args.workload}"))
    m: dict = dict.fromkeys(PER_LAYER, 0.0)  # 0 = not applicable here
    passes: list[dict] = []
    with tracer.span("traced_run"):
        with tracer.span("session.start") as s:
            spark = start_session(event_log=log_dir)
        with tracer.span("session.warmup") as w:
            job.run(spark, fresh_dir("warmup"), tracer)
        m["session.start_s"], m["session.warmup_s"] = s.seconds, w.seconds
        with tracer.span("kernel"):
            m.update(kernel_layer(job.texts(), args.seed))
        m.update(extract_layer(spark, job, tracer))
        passes.append(timed_pass(spark, job, "traced", tracer))
        spark.stop()  # closes the event log
        detail = {}
        if passes[0]["ok"]:
            log = read_event_log(str(log_dir))
            layers = extract_job_layers if kind == "extract" else corpus_job_layers
            try:
                m.update(layers(log, passes[0]["res"], m))
            except (StopIteration, IndexError, ValueError) as e:
                # the job's Spark plan no longer has the expected shape: the
                # traced pass yields no layer metrics, so it counts as failed
                detail["layer_error"] = f"{type(e).__name__}: {e}"
                passes[0].update(ok=False, error=detail["layer_error"])

        # the same job untraced (no event log), same JVM, new workers
        with tracer.span("untraced"):
            spark = start_session()
            prime(spark, job)
            # timing only: the traced pass checked this job's output
            passes.append(timed_pass(spark, job, "untraced", tracer,
                                     check=False))
        if passes[0]["ok"] and passes[1]["ok"]:
            m["trace.overhead_ratio"] = passes[0]["wall_s"] / passes[1]["wall_s"]
        if kind == "extract":
            with tracer.span("local1"):
                spark.stop()
                spark = start_session(master="local[1]")
                prime(spark, job)
                passes.append(timed_pass(spark, job, "local1", tracer,
                                         check=False))
            if passes[1]["ok"] and passes[2]["ok"]:
                cores = int(os.environ["SPARK_GRAFT_CPUS"])
                m["trace.local1_rows_per_s"] = passes[2]["rows_per_s"]
                m["trace.scaling_eff_1_4"] = (
                    passes[1]["rows_per_s"] / (cores * passes[2]["rows_per_s"]))
    zero = sorted(n for n in applicable(args.workload) - MAY_BE_ZERO
                  if not m[n])
    if zero and passes[0]["ok"]:
        passes[0].update(ok=False, error=f"layer metrics read 0: {zero}")
    trace_dir = WORK / "traces"
    trace_dir.mkdir(parents=True, exist_ok=True)
    trace_path = trace_dir / f"{args.workload}-s{args.seed}.json"
    tracer.write(str(trace_path))
    return passes, m, {"trace_file": str(trace_path), **detail}


# ---------------------------------------------------------------------------

def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True,
                   help="timed passes repeat until this much job wall")
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--size", type=int, default=None,
                   help="override the workload's staged rows (self-test)")
    args = p.parse_args(argv)

    if not (ROOT / "docling_api_spark" / "__init__.py").is_file():
        print(f"perfbench: no docling_api_spark package under {ROOT}; run "
              "from a checkout of the repository", file=sys.stderr)
        return 2
    wl = WORKLOADS[args.workload]
    settings = fit_host()
    import inputs
    import jobs

    paths = inputs.stage(str(WORK / "inputs"), args.workload, args.seed,
                         args.size or wl["size"])
    job = jobs.JOBS[wl["job"]](paths, args.seed)

    try:
        if args.trace:
            passes, metrics, detail = traced(args, job, wl["job"])
            units = PER_LAYER
        else:
            passes, metrics, detail = end_to_end(args, job)
            units = END_TO_END
    finally:
        shutdown_jvm()

    failed = sum(not p["ok"] for p in passes)
    for p in passes:
        p.pop("res", None)
    report = {
        "workload": args.workload, "seed": args.seed,
        "seconds": args.seconds, "trace": args.trace,
        "rows": job.n_rows,
        "settings": {**settings, "spark_conf": session_conf(None)},
        "failed_run_ratio": failed / len(passes),
        "passes": passes, **detail,
    }
    print(json.dumps(report, sort_keys=True))
    print(json.dumps({
        "correct": failed == 0, "attempted": len(passes), "failed": failed,
        # no figures when every timed pass failed
        "metrics": {k: {"value": metrics[k] if metrics else None, "unit": u}
                    for k, u in units.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
