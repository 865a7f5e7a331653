#!/usr/bin/env python3
"""Benchmark entry point: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload daily_small --seed 1 --seconds 1 --trace 0

Run it from the root of a source checkout; the program is imported from
there and everything the run writes goes under ``.perfbench/`` in that
root. The load is a closed loop: one process, one caller that waits for
each pipeline day, view or operator before starting the next. Spark runs
``local[<cores available to the process>]`` with the program's own
session defaults (``session.get_spark``).

Workloads (see BENCHMARK.json for why each exists):

- ``daily_small``: day 1 and one incremental day of ~400 generated
  postings through ``run_full_pipeline`` on a fresh lake, then the 8
  warehouse views over the result.
- ``corpus_ops``: ``ngram_jaccard_pairs`` (dedup), ``bpe_encode`` (BPE)
  and ``pq_encode`` (similarity) over generated ``documents`` (5,000
  rows) and ``embeddings`` (2,000 rows).

Each run is a fresh Spark application, and the measured work is its first
pass, as a scheduled daily batch pays it. ``--seconds`` is a minimum: the
unit of work repeats on fresh state until that much time has passed.

With ``--trace 0`` the result carries the end-to-end metrics; with
``--trace 1`` the same run is traced (``spans.py``) and the result carries
the per-layer metrics, and the spans go to ``.perfbench/out/``. The outputs
are checked on every run; any failed check makes ``correct`` false.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback
from contextlib import nullcontext

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import checks  # noqa: E402
import corpus  # noqa: E402
import gen  # noqa: E402
import spans  # noqa: E402

END_TO_END = {"total_s": "s", "setup_s": "s"}
PREP_REPEATS = 3  # setup_s takes the median of this many input preparations
DAILY_ROWS = 400
BACKFILL_ROWS = 100_000
DOCS, EMBEDDINGS = 5000, 2000
WARM_SCALE = 0.5  # corpus warm-up inputs, relative to the measured ones
VIEWS = [
    "vw_current_jobs", "vw_job_locations", "vw_monthly_jobs", "vw_monthly_jobs_sets",
    "vw_top_companies", "vw_top_locations", "vw_job_salary_filter", "vw_top10_hn",
]
WAREHOUSE = [
    "raw_jobs", "staging_jobs", "dim_job", "dim_company", "dim_location", "dim_date",
    "fact_job_posting_daily", "fact_job_location_bridge",
]


class Run:
    """State of one benchmark run: session, scratch dirs, checks, spans."""

    def __init__(self, args, root: str):
        self.args = args
        self.seed = args.seed
        self.scale = args.scale
        self.work = os.path.join(root, ".perfbench", f"work-{os.getpid()}")
        self.out = os.path.join(root, ".perfbench", "out")
        self.spark = None
        self.rec: spans.Recorder | None = None
        self.attempted = 0
        self.failures: list[str] = []
        self.summary: dict[str, object] = {}
        self.raw_bytes = 0
        self.extra: dict[str, object] = {}

    def check(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failures.append(what)

    def span(self, name: str, layer: str):
        return self.rec.span(name, layer) if self.rec else nullcontext()

    def installed(self):
        return self.rec.install(on_write=_account_write) if self.rec else nullcontext()

    def ledger(self, digests: dict) -> None:
        key = f"{self.args.workload}-s{self.seed}-x{self.scale:g}.json"
        bad = checks.ledger_compare(os.path.join(self.out, "digests", key), digests)
        self.attempted += len(digests)
        self.failures += [f"digest differs from an earlier run: {b}" for b in bad]


def _account_write(span, path: str) -> None:
    span.attrs["bytes"], span.attrs["files"] = checks.disk_usage(path, data_only=True)


def _scaled(n: int, scale: float) -> int:
    return max(20, int(n * scale))


# -- daily_small ------------------------------------------------------------
def daily_prepare(run: Run, dest: str, rows_per_day: int = DAILY_ROWS):
    """Day 1 and one incremental day of generated postings."""
    g = gen.PostingGenerator(run.seed)
    days = []
    for i in range(2):
        run_ts, rows = g.day(_scaled(rows_per_day, run.scale))
        path = os.path.join(dest, f"day{i}")
        gen.write_batch(rows, path, run.tz)
        days.append((run_ts, path, len(rows)))
    return days, g.model


def daily_unit(run: Run, state, k: int) -> float:
    from jobinsight_data_pipeline_spark.plans import views
    from jobinsight_data_pipeline_spark.plans.pipeline import run_full_pipeline
    from jobinsight_data_pipeline_spark.sources.lake import ParquetLake

    days, model = state
    spark = run.spark
    lake = ParquetLake(os.path.join(run.work, f"lake{k}"))
    day_walls, view_walls, digests = [], {}, {}
    t_unit = time.perf_counter()
    with run.installed():
        for i, (run_ts, path, _) in enumerate(days):
            t0 = time.perf_counter()
            with run.span(f"pipeline.day{i + 1}", "pipeline"):
                report = run_full_pipeline(lake, spark, spark.read.parquet(path), run_ts)
            day_walls.append(time.perf_counter() - t0)
            run.check(bool(report["staging"]["passed"]), f"day {i + 1}: staging integrity")
            run.check(bool(report["dwh"]["passed"]), f"day {i + 1}: warehouse validation {report['dwh'].get('critical_failures')}")
            if run.rec:
                run.extra.setdefault("lake_by_day", []).append(
                    {t: checks.disk_usage(os.path.join(lake.root, t)) for t in WAREHOUSE}
                )
        run_date = days[-1][0].date()
        with run.span("register_dwh_views", "views"):
            views.register_dwh_views(spark, *(lake.read(spark, t) for t in WAREHOUSE[2:]))
        for name in VIEWS:
            fn = getattr(views, name)
            args = (spark, run_date) if name in ("vw_job_salary_filter", "vw_top10_hn") else (spark,)
            t0 = time.perf_counter()
            with run.span(f"views.{name}", "views"):
                digests[f"view:{name}"] = checks.digest_sink(fn(*args))
            view_walls[name] = time.perf_counter() - t0
    wall = time.perf_counter() - t_unit

    # output checks, outside the timed unit
    frames = {t: lake.read(spark, t) for t in WAREHOUSE}
    frames["dim_job_current"] = frames["dim_job"].filter("is_current")
    frames["fact_grains"] = frames["fact_job_posting_daily"].select("job_sk", "date_id").distinct()
    got = checks.digest_tables(frames)
    run.check(got["dim_job_current"][0] == model.current_dim_job,
              f"current dim_job rows {got['dim_job_current'][0]} != {model.current_dim_job}")
    run.check(got["fact_job_posting_daily"][0] == model.fact_rows,
              f"fact rows {got['fact_job_posting_daily'][0]} != {model.fact_rows}")
    run.check(got["fact_grains"][0] == got["fact_job_posting_daily"][0], "fact grain is not unique")
    run.check(got["raw_jobs"][0] == model.raw_rows, f"raw rows {got['raw_jobs'][0]} != {model.raw_rows}")
    run.check(got["staging_jobs"][0] == got["raw_jobs"][0], "staging rows != raw rows")
    run.ledger({**{f"table:{t}": got[t] for t in WAREHOUSE}, **digests})

    run.raw_bytes = sum(checks.disk_usage(p, data_only=True)[0] for _, p, _ in days)
    run.summary.update(
        day1_s=day_walls[0],
        incr_day_s=statistics.median(day_walls[1:]) if len(day_walls) > 1 else None,
        view_p50_s=statistics.median(view_walls.values()),
        view_samples=len(view_walls),
        lake_mb=checks.disk_usage(lake.root)[0] / 2**20,
        rows_per_s=sum(n for *_, n in days) / sum(day_walls),
        **{f"view.{k}_s": v for k, v in view_walls.items()},
    )
    return wall


# -- corpus_ops -------------------------------------------------------------
def corpus_prepare(run: Run, dest: str):
    n_docs, n_emb = _scaled(DOCS, run.scale), _scaled(EMBEDDINGS, run.scale)
    pairs = corpus.write_inputs(run.seed, n_docs, n_emb, dest)
    corpus.write_inputs(run.seed + 1, *(_scaled(n, WARM_SCALE) for n in (n_docs, n_emb)),
                        os.path.join(dest, "warm"))
    return dest, n_docs, n_emb, pairs


def corpus_pass(run: Run, dest: str, traced: bool):
    """Each operator through the digest sink: (walls, digests)."""
    docs = run.spark.read.parquet(os.path.join(dest, "documents"))
    emb = run.spark.read.parquet(os.path.join(dest, "embeddings"))
    walls, digests = {}, {}
    for name, (layer, fn) in corpus.operators(docs, emb).items():
        t0 = time.perf_counter()
        with run.span(name, layer) if traced else nullcontext():
            digests[f"op:{name}"] = checks.digest_sink(fn())
        walls[name] = time.perf_counter() - t0
    return walls, digests


def corpus_warm(run: Run, state) -> None:
    corpus_pass(run, os.path.join(state[0], "warm"), traced=False)


def corpus_unit(run: Run, state, k: int) -> float:
    dest, n_docs, n_emb, pairs = state
    t_unit = time.perf_counter()
    walls, digests = corpus_pass(run, dest, traced=True)
    wall = time.perf_counter() - t_unit

    rows = {name[3:]: d[0] for name, d in digests.items()}
    run.check(rows["bpe_encode"] == n_docs, f"bpe_encode rows {rows['bpe_encode']} != {n_docs}")
    run.check(rows["pq_encode"] == n_emb, f"pq_encode rows {rows['pq_encode']} != {n_emb}")
    run.check(rows["ngram_jaccard_pairs"] == pairs,
              f"ngram_jaccard_pairs: {rows['ngram_jaccard_pairs']} pairs != {pairs} planted duplicates")
    run.ledger(digests)
    run.summary.update(corpus_s=wall, **{f"op.{k}_s": v for k, v in walls.items()})
    return wall


def backfill_prepare(run: Run, dest: str):
    return daily_prepare(run, dest, BACKFILL_ROWS)


# name -> (prepare inputs, measured unit, warm-up pass or None).
# backfill_large is not in BENCHMARK.json: one run takes several minutes,
# more than the benchmark's time budget allows; run it by hand.
WORKLOADS = {
    "daily_small": (daily_prepare, daily_unit, None),
    "backfill_large": (backfill_prepare, daily_unit, None),
    "corpus_ops": (corpus_prepare, corpus_unit, corpus_warm),
}


# -- process plumbing -------------------------------------------------------
def _cores() -> int:
    return len(os.sched_getaffinity(0))


def _isolate(work: str) -> None:
    """Keep Spark's, the JVM's and Python's scratch files inside ``work``."""
    for sub in ("spark", "tmp"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # -XX:-UsePerfData: the JVM would otherwise keep its perf-counter file
    # in the system temp dir, whatever java.io.tmpdir says
    java_opts = f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData"
    os.environ["JAVA_TOOL_OPTIONS"] = f"{os.environ.get('JAVA_TOOL_OPTIONS', '')} {java_opts}".strip()
    os.environ["SPARK_GRAFT_CPUS"] = str(_cores())
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)


def _peak_rss_mb(pids: list[int]) -> float:
    """Sum of the processes' peak resident set sizes (VmHWM), in MiB."""
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        total += int(line.split()[1])
        except FileNotFoundError:
            pass
    return total / 1024


def _stop_spark(spark) -> None:
    """Stop the session, then the gateway JVM, and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway server exits on stdin EOF
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def execute(args, root: str) -> dict:
    run = Run(args, root)
    prepare, unit, warm = WORKLOADS[args.workload]
    _isolate(run.work)
    try:
        t0 = time.perf_counter()
        from jobinsight_data_pipeline_spark.session import DEFAULT_TZ, get_spark

        spark = get_spark(app_name=f"perfbench-{args.workload}")
        t1 = time.perf_counter()
        run.spark, run.tz = spark, DEFAULT_TZ
        if args.trace:
            run.rec = spans.Recorder(spark)
            run.rec.spans.append(spans.Span("get_spark", "session", None, t0, t1))
        with run.span("session.first_job", "session"):
            spark.range(1).count()
        session_s = time.perf_counter() - t0

        preps = []
        for r in range(PREP_REPEATS):
            tp = time.perf_counter()
            state = prepare(run, os.path.join(run.work, "inputs", f"rep{r}"))
            preps.append(time.perf_counter() - tp)
        setup_s = session_s + statistics.median(preps)
        if warm is not None:
            tw = time.perf_counter()
            warm(run, state)
            setup_s += time.perf_counter() - tw

        walls, k, t_measure = [], 0, time.perf_counter()
        while not walls or time.perf_counter() - t_measure < args.seconds:
            walls.append(unit(run, state, k))
            k += 1
        total_s = statistics.median(walls)

        if run.rec:
            stage = run.rec.stage_metrics()
            metrics = spans.layer_metrics(run.rec.spans, stage, _cores(), run.raw_bytes)
            metrics["trace.wall_s"] = total_s
            run.rec.dump(
                os.path.join(run.out, f"trace-{args.workload}-s{args.seed}.json"),
                {"metrics": metrics, "stage": stage, **run.extra},
            )
            units = {m: _unit(m) for m in metrics}
        else:
            metrics = {"total_s": total_s, "setup_s": setup_s}
            units = END_TO_END
        from pyspark import SparkContext

        run.summary["peak_rss_mb"] = _peak_rss_mb([SparkContext._gateway.proc.pid, os.getpid()])
        run.summary.update(units=len(walls), setup_s=setup_s, total_s=total_s)
    finally:
        if run.spark is not None:
            _stop_spark(run.spark)
        shutil.rmtree(run.work, ignore_errors=True)
    failed = len(run.failures)
    run.summary["fail_ratio"] = failed / max(run.attempted, 1)
    for f in run.failures:
        print(f"FAILED CHECK: {f}", file=sys.stderr)
    return {
        "summary": run.summary,
        "result": {
            "correct": failed == 0,
            "attempted": max(run.attempted, 1),
            "failed": failed,
            "metrics": {m: {"value": v, "unit": units[m]} for m, v in metrics.items()},
        },
    }


def _unit(metric: str) -> str:
    measure = metric.rsplit(".", 1)[-1]
    if measure.endswith("_s"):
        return "s"
    if measure.endswith("_mb"):
        return "MB"
    return {"driver_share": "ratio", "write_amp": "ratio"}.get(measure, "count")


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=1.0,
                    help="input size multiplier (smoke tests use a small one)")
    args = ap.parse_args(argv)
    root = os.getcwd()
    sys.path.insert(0, root)
    try:
        import jobinsight_data_pipeline_spark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: cannot import the program from {root}: {exc}", file=sys.stderr)
        return 2
    try:
        out = execute(args, root)
    except Exception:
        traceback.print_exc()
        return 1
    s = out["summary"]
    print("perfbench " + args.workload + f" seed={args.seed} " + " ".join(
        f"{k}={v:.4g}" if isinstance(v, float) else f"{k}={v}" for k, v in s.items()
    ))
    print(json.dumps(out["result"]))
    return 0


if __name__ == "__main__":
    sys.exit(main())
