"""The repository's benchmark: one workload per invocation.

    python3 perfbench/run.py --workload crawl_polite --seed 1 --seconds 12 --trace 0

Run from any directory; the repository root is the parent of this file's
directory. Spark runs on ``local[N]`` with N = the CPUs this process may
use, a 2 GB driver heap and one driver process; every scratch file
(Spark local dirs, JVM and Python temp files, generated tables) lives in
``.perfbench_work/`` under the repository root and is removed on exit.

The last line of standard output is one JSON object::

    {"correct": bool, "attempted": int, "failed": int,
     "metrics": {name: {"value": float, "unit": str}}}

With ``--trace 0`` the metrics are the end-to-end ones (Spark UI off);
with ``--trace 1`` they are the per-layer ones from a run with spans
installed and the Spark UI on. Host facts (CPUs, load average, CPU
steal during the run) go to standard error. See README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time

T_START = time.perf_counter()
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ("crawl_polite", "corpus_queries")
DRIVER_MEM = "2g"

# Wall times per operation are not among them: on a shared host, CPU
# steal epochs moved the median wave wall of ten-seed sets by a quartile
# spread of 0.18-0.26, against 0.07-0.10 for CPU seconds per wave. Walls
# are printed for every operation in the "# host" line and reported by
# traced runs (op.wall_p50_s).
END_TO_END_UNITS = {
    "setup_s": "s",
    "op_cpu_s": "s",
    "peak_rss_mb": "MB",
}

# (layer span name, metrics) of the crawl wave loop, per measured wave
CRAWL_LAYERS = {
    "frontier.politeness_rank": ("s", "jobs"),
    "frontier.robots": ("s",),
    "seq.dense_index": ("s", "jobs", "task_s"),
    "urls.with_url_norm": ("s",),
    "commit.local_checkpoint": ("s",),
}
SPARK_FIELDS = (
    "jobs", "stages", "skipped_stages", "tasks", "task_s", "gc_s",
    "shuffle_read_mb", "shuffle_write_mb", "spill_mb", "sched_wait_s", "driver_s",
)


def _unit(field: str) -> str:
    if field.endswith("_mb"):
        return "MB"
    if field == "s" or field.endswith("_s"):
        return "s"
    return "count"


def per_layer_units() -> dict[str, str]:
    """Every per-layer metric name with its unit. Both workloads report
    all of them, 0 for a layer the workload does not run (README.md has
    the metric -> layer -> workload table)."""
    from perfbench.corpus_queries import ARROW_QUERIES, HEADLINE

    units = {"op.count": "count", "op.wall_p50_s": "s", "trace.overhead_s": "s"}
    units.update({f"spark.{f}": _unit(f) for f in SPARK_FIELDS})
    units["crawl.wave.self_s"] = "s"
    for layer, fields in CRAWL_LAYERS.items():
        units.update({f"{layer}.{f}": _unit(f) for f in fields})
    units.update({
        "commit.jobs_per_wave": "count",
        "urls.arrow_rows": "count",
        "fetch.ok_ratio": "ratio",
        "fetch.spans_per_url": "ratio",
        "sink.write.s": "s",
        "sink.manifest.s": "s",
        "sink.resume_load.s": "s",
        "sink.bytes_per_wave": "bytes",
        "sink.files_per_wave": "count",
        "bloom.test_insert.s": "s",
        "bloom.task_s": "s",
        "bloom.arrow_rows": "count",
        "bloom.shard_mb": "MB",
    })
    for q in HEADLINE:
        units[f"query.{q}.s"] = "s"
        units[f"query.{q}.task_s"] = "s"
        units[f"query.{q}.shuffle_mb"] = "MB"
    for q in ARROW_QUERIES:
        units[f"query.{q}.arrow_rows"] = "count"
    return units


def _isolate(work: str) -> None:
    """Point every scratch location at ``work`` and put the repository on
    the Python workers' path (they import tbbid_scrapy_spark by name)."""
    for sub in ("tmp", "local"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_GRAFT_LOCAL_DIR"] = os.path.join(work, "local")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR
    sys.path.insert(0, ROOT)


def _start_spark(work: str, n: int, trace: bool):
    from tbbid_scrapy_spark.session import get_spark

    return get_spark(
        app_name="perfbench", cpus=n, shuffle_partitions=n,
        extra_conf={
            "spark.ui.enabled": "true" if trace else "false",
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData",
        },
    )


def _stop_spark(spark) -> None:
    """Stop the session, then end the JVM (it exits when its stdin
    closes) and wait for it; its Python workers exit with it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def end_to_end(raw: dict, session_s: float, peak_rss_mb: float) -> dict[str, float]:
    from perfbench import stats

    return {
        "setup_s": session_s + raw["setup_fixture_s"] + raw["warmup_s"],
        "op_cpu_s": stats.median(raw["op_cpus"]),
        "peak_rss_mb": peak_rss_mb,
    }


def _in(spans_, jobs, t0, t1):
    """Spans inside [t0, t1] and jobs submitted in it (the REST API
    truncates submission times to whole milliseconds)."""
    from perfbench import spans

    return (
        [s for s in spans_ if s.t0 >= t0 and s.t1 <= t1],
        [j for j in jobs if t0 - spans.SLACK_S <= j["submit"] <= t1 + spans.SLACK_S],
    )


def traced_layers(workload: str, raw: dict, tracer, sc) -> dict[str, float]:
    """Per-layer metrics of a traced run, per measured operation (a wave
    or a query) unless the name says otherwise."""
    from perfbench import corpus_queries, spans, stats

    ops = raw["ops"]
    out = dict.fromkeys(per_layer_units(), 0.0)
    if workload == "crawl_polite":
        for w in ops:
            tracer.add_span("crawl.wave", w["t0"], w["t1"], sid=w["group"])
        roots = [w["group"] for w in ops]
    else:
        roots = [o["span"] for o in ops]
    all_jobs = spans.job_records(spans.fetch_rest(sc))
    win, jobs = _in(tracer.spans, all_jobs, min(o["t0"] for o in ops), max(o["t1"] for o in ops))
    n = len(ops)
    per_root = spans.rollup(jobs, win, roots)
    out["op.count"] = float(n)
    out["op.wall_p50_s"] = stats.median(raw["op_walls"])
    for f in SPARK_FIELDS:
        out[f"spark.{f}"] = sum(r[f] for r in per_root.values()) / n
    # the tracer's own bookkeeping (py4j calls included): its mean cost
    # per recorded span times the spans an operation records
    out["trace.overhead_s"] = tracer.overhead_s / max(1, len(tracer.spans)) * len(win) / n
    if workload == "corpus_queries":
        for q in corpus_queries.HEADLINE:
            mine = [o for o in ops if o["name"] == q]
            rs = [per_root[o["span"]] for o in mine]
            out[f"query.{q}.s"] = stats.median([o["wall_s"] for o in mine])
            out[f"query.{q}.task_s"] = sum(r["task_s"] for r in rs) / len(rs)
            out[f"query.{q}.shuffle_mb"] = sum(r["shuffle_write_mb"] for r in rs) / len(rs)
            if q in corpus_queries.ARROW_QUERIES:
                out[f"query.{q}.arrow_rows"] = sum(r["arrow_rows"] for r in rs) / len(rs)
        return out

    from perfbench import crawl_polite

    layers = spans.layer_totals(jobs, win, [*CRAWL_LAYERS, "crawl.wave"])
    for layer, fields in CRAWL_LAYERS.items():
        for f in fields:
            out[f"{layer}.{f}"] = layers[layer][f] / n
    out["crawl.wave.self_s"] = layers["crawl.wave"]["s"] / n
    out["commit.jobs_per_wave"] = layers["commit.local_checkpoint"]["jobs"] / n
    out["urls.arrow_rows"] = sum(j["udf_rows"] for j in jobs) / n
    out.update(crawl_polite.fetch_ratios(raw["state"], ops))

    probe = raw["probe"]
    win, jobs = _in(tracer.spans, all_jobs, probe["t0"], probe["t1"])
    layers = spans.layer_totals(jobs, win, ["sink.write", "sink.manifest", "bloom.test_insert"])
    commits, waves = probe["commits"], probe["waves"]
    out["sink.write.s"] = layers["sink.write"]["s"] / commits
    out["sink.manifest.s"] = layers["sink.manifest"]["s"] / commits
    out["sink.resume_load.s"] = sum(s.t1 - s.t0 for s in win if s.name == "sink.resume_load")
    out["sink.bytes_per_wave"] = probe["bytes"] / commits
    out["sink.files_per_wave"] = probe["files"] / commits
    out["bloom.test_insert.s"] = layers["bloom.test_insert"]["s"] / waves
    # jobs whose SQL execution ran the bloom filter's pandas cogroup
    out["bloom.task_s"] = sum(j["task_s"] for j in jobs if j["cogroup_rows"]) / waves
    out["bloom.arrow_rows"] = sum(j["cogroup_rows"] for j in jobs) / waves
    out["bloom.shard_mb"] = probe["shard_mb"]
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "tbbid_scrapy_spark", "__init__.py")):
        print(f"perfbench: no tbbid_scrapy_spark package under {ROOT}", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench_work", f"run-{os.getpid()}")
    _isolate(work)
    from perfbench import stats

    la0, steal0 = os.getloadavg()[0], stats.cpu_steal_s()
    spark = tracer = None
    try:
        t0 = time.perf_counter()
        spark = _start_spark(work, stats.nproc(), bool(args.trace))
        session_s = time.perf_counter() - t0
        if args.trace:
            from perfbench.spans import Tracer

            tracer = Tracer(spark.sparkContext)
        if args.workload == "crawl_polite":
            from perfbench import crawl_polite

            if tracer is not None:
                crawl_polite.install_spans(tracer, type(spark.range(1)))
            raw = crawl_polite.run(spark, args.seed, args.seconds, tracer)
            if tracer is not None:
                tracer.unwrap()
                probe = crawl_polite.durable_probe(
                    spark, raw["fixture"], tracer, os.path.join(work, "durable")
                )
                raw["probe"] = probe
                raw["attempted"] += 1
                raw["failed"] += 0 if probe["correct"] else 1
                raw["correct"] = raw["correct"] and probe["correct"]
        else:
            from perfbench import corpus_queries

            raw = corpus_queries.run(spark, args.seed, args.seconds, work, tracer)
        if tracer is not None:
            values = traced_layers(args.workload, raw, tracer, spark.sparkContext)
            units = per_layer_units()
        else:
            values = end_to_end(raw, session_s, stats.tree_peak_rss_mb())
            units = END_TO_END_UNITS
    finally:
        t_stop = time.perf_counter()
        if spark is not None:
            _stop_spark(spark)
        stop_s = time.perf_counter() - t_stop
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass  # another run still uses it
    host = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "nproc": stats.nproc(), "driver_mem": DRIVER_MEM,
        "loadavg_1m": [la0, os.getloadavg()[0]],
        "steal_s": stats.cpu_steal_s() - steal0,
        "session_s": session_s,
        "setup_fixture_s": raw["setup_fixture_s"],
        "warmup_s": raw["warmup_s"],
        "op_walls": raw["op_walls"],
        "op_cpus": raw["op_cpus"],
        "work_items": raw["work_items"],
        "check_s": raw.get("check_s"),
        "stop_s": stop_s,
        "total_s": time.perf_counter() - T_START,
    }
    print("# host " + json.dumps(host), file=sys.stderr)
    result = {
        "correct": bool(raw["correct"]),
        "attempted": int(raw["attempted"]),
        "failed": int(raw["failed"]),
        "metrics": {k: {"value": float(v), "unit": units[k]} for k, v in values.items()},
    }
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
