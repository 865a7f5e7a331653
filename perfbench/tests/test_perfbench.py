"""Tests of the benchmark itself: generators, span arithmetic, digests and
a small smoke run of each workload.

    python -m pytest perfbench/tests -q

The smoke runs start their own Spark applications (about a minute each);
deselect them with ``-m "not smoke"`` for the fast loop.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import shutil
import subprocess
import sys

import pytest

BENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)
sys.path.insert(0, ROOT)

import corpus  # noqa: E402
import gen  # noqa: E402
import spans  # noqa: E402


# -- generators -------------------------------------------------------------
def _days(seed: int, n: int = 120, days: int = 3):
    g = gen.PostingGenerator(seed)
    return [g.day(n) for _ in range(days)], g.model


def test_postings_are_deterministic_per_seed():
    a, ma = _days(5)
    b, mb = _days(5)
    c, _ = _days(6)
    assert a == b
    assert (ma.current_dim_job, ma.fact_rows, ma.raw_rows) == (mb.current_dim_job, mb.fact_rows, mb.raw_rows)
    assert a != c


def test_postings_cover_the_fixture_scenarios():
    batches, model = _days(7, n=400, days=2)
    rows = [r for _, day in batches for r in day]
    salaries = {r[5] for r in rows}
    assert {"Thoả thuận", "0.0 - 0.0 triệu", "", None} <= salaries
    assert any(s and "USD" in s for s in salaries) and any(s and "Từ" in s for s in salaries)
    locations = [r[7] for r in rows]
    assert any(loc and "&" in loc for loc in locations)
    assert any(loc and "│" in loc for loc in locations)
    assert None in locations
    assert any(r[8] and "<br/>" in r[8] for r in rows)
    for run_ts, day in batches:
        ids = [r[0] for r in day]
        assert len(ids) > len(set(ids)), "no intra-batch duplicate key"
        assert any(r[14] < run_ts - dt.timedelta(days=gen.LOOKBACK_DAYS) for r in day)
        assert any(r[3] is None and r[5] is None and r[6] is None for r in day)
    # the second day is mostly recrawls, some of them changed
    day1_ids = {r[0] for r in batches[0][1]}
    recrawled = [r for r in batches[1][1] if r[0] in day1_ids]
    assert 0.6 < len(recrawled) / len(batches[1][1]) < 0.8
    assert any(r[6] and r[6][-1].startswith("v") for r in recrawled)
    assert model.fact_rows > model.current_dim_job > 0


def test_batch_parquet_round_trips(tmp_path):
    import pyarrow.parquet as pq

    (run_ts, rows), = _days(3, n=50, days=1)[0]
    gen.write_batch(rows, str(tmp_path / "b"), "Asia/Ho_Chi_Minh")
    table = pq.read_table(str(tmp_path / "b"))
    assert table.column_names == gen.RAW_COLUMNS
    assert table.num_rows == len(rows)
    assert str(table.schema.field("crawled_at").type) == "timestamp[us, tz=UTC]"


def test_corpus_inputs_are_deterministic_per_seed():
    assert corpus.documents(3, 300) == corpus.documents(3, 300)
    assert corpus.documents(3, 300) != corpus.documents(4, 300)
    assert corpus.embeddings(3, 50) == corpus.embeddings(3, 50)
    texts = [r[1] for r in corpus.documents(3, 2000)]
    assert len(set(texts)) < len(texts), "no exact duplicates to find"


def test_planted_pairs_match_brute_force_jaccard():
    rows = corpus.documents(5, 600)
    grams = []
    for r in rows:
        w = r[1].split()
        grams.append({tuple(w[i:i + 3]) for i in range(len(w) - 2)})
    brute = sum(
        len(a & b) >= 0.5 * len(a | b)
        for i, a in enumerate(grams) for b in grams[i + 1:]
    )
    assert brute == corpus.planted_pairs(rows) > 0


# -- span arithmetic --------------------------------------------------------
def _span(name, layer, parent, start, end, **attrs):
    return spans.Span(name, layer, parent, start, end, group=f"g{name}", attrs=attrs)


def test_self_time_subtracts_children():
    tree = [
        _span("root", "pipeline", None, 0.0, 10.0),
        _span("a", "dimensions", 0, 1.0, 4.0),
        _span("a1", "dimensions", 1, 2.0, 3.0),
        _span("b", "lake", 0, 5.0, 9.0),
    ]
    selfs = spans.self_times(tree)
    assert selfs == pytest.approx([3.0, 2.0, 1.0, 4.0])
    # children's self times stay within the parent's span
    assert selfs[1] + selfs[2] <= tree[1].dur
    assert sum(selfs) == pytest.approx(tree[0].dur)


def test_self_time_clips_overlapping_and_overhanging_children():
    tree = [
        _span("p", "x", None, 0.0, 10.0),
        _span("c1", "x", 0, 2.0, 6.0),
        _span("c2", "x", 0, 4.0, 8.0),  # overlaps c1
        _span("c3", "x", 0, 9.0, 12.0),  # runs past the parent's end
    ]
    assert spans.self_times(tree)[0] == pytest.approx(10.0 - 6.0 - 1.0)


def test_layer_metrics_attribute_output_writes():
    tree = [
        _span("day", "pipeline", None, 0.0, 10.0),
        _span("build_dim_job", "dimensions", 0, 1.0, 2.0),
        _span("lake.write:dim_job", "lake", 0, 2.0, 5.0, table="dim_job", bytes=2**20, files=2),
        _span("validate_warehouse", "validation", 0, 6.0, 9.0),
    ]
    stage = {
        "gbuild_dim_job": {"jobs": 1, "tasks": 1, "exec_run_s": 0.5, "exec_cpu_s": 0.4, "shuffle_write_b": 0, "spill_b": 0},
        "glake.write:dim_job": {"jobs": 2, "tasks": 8, "exec_run_s": 8.0, "exec_cpu_s": 6.0, "shuffle_write_b": 2**20, "spill_b": 0},
    }
    m = spans.layer_metrics(tree, stage, cores=4, raw_bytes=2**19)
    assert m["dimensions.wall_s"] == pytest.approx(4.0)  # own call + its output write
    assert m["dimensions.self_s"] == pytest.approx(1.0)  # own call only
    assert m["dimensions.jobs"] == 3 and m["dimensions.tasks"] == 9
    assert m["dimensions.driver_share"] == pytest.approx(1 - 8.5 / (4 * 4.0))
    assert m["lake.wall_s"] == pytest.approx(3.0) and m["lake.jobs"] == 2
    assert m["lake.write_amp"] == pytest.approx(2.0)
    assert m["lake.files_written"] == 2
    assert m["validation.jobs"] == 0 and m["dedup.wall_s"] == 0
    names = {f"{layer}.{k}" for layer in spans.LAYERS for k in spans.MEASURES}
    assert names | {f"lake.{k}" for k in spans.LAKE_MEASURES} == set(m)


def test_benchmark_json_lists_every_metric():
    import run

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert {m["name"] for m in spec["end_to_end"]} == set(run.END_TO_END)
    assert {w["name"] for w in spec["workloads"]} <= set(run.WORKLOADS)
    per_layer = {m["name"] for m in spec["per_layer"]}
    assert {f"{layer}.{k}" for layer in spans.LAYERS for k in spans.MEASURES} <= per_layer
    assert "trace.wall_s" in per_layer


# -- digests (needs Spark) --------------------------------------------------
@pytest.fixture(scope="module")
def spark():
    from jobinsight_data_pipeline_spark.session import get_spark

    return get_spark(app_name="perfbench-tests")


def test_digest_ignores_order_and_partitioning(spark, tmp_path):
    import checks

    df = spark.createDataFrame(
        [(i, f"r{i}", [i, i + 1], dt.date(2025, 6, 1 + i % 5)) for i in range(200)],
        "id long, s string, a array<int>, d date",
    )
    base = checks.digest_sink(df)
    assert base[0] == 200
    assert checks.digest_sink(df.repartition(7).orderBy("s")) == base
    assert checks.digest_sink(df.filter("id != 3")) != base
    both = checks.digest_tables({"x": df, "y": df.limit(10)})
    assert both["x"] == base and both["y"][0] == 10

    ledger = str(tmp_path / "ledger.json")
    assert checks.ledger_compare(ledger, {"x": base}) == []
    assert checks.ledger_compare(ledger, {"x": base}) == []
    assert checks.ledger_compare(ledger, {"x": (base[0], base[1] ^ 1)}) == ["x"]


# -- end to end -------------------------------------------------------------
def _bench(cwd, *args, timeout=400):
    # the Spark fixture puts the repo on PYTHONPATH; the benchmark must
    # find the program from its working directory alone
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    return subprocess.run(
        [sys.executable, os.path.join(cwd, "perfbench", "run.py"), *args],
        cwd=cwd, capture_output=True, text=True, timeout=timeout, env=env,
    )


@pytest.mark.smoke
@pytest.mark.parametrize("workload", ["daily_small", "corpus_ops"])
def test_smoke_run_traced_then_untraced(workload):
    import run

    args = ["--workload", workload, "--seed", "9", "--seconds", "0", "--scale", "0.05"]
    traced = _bench(ROOT, *args, "--trace", "1")
    assert traced.returncode == 0, traced.stderr[-3000:]
    t = json.loads(traced.stdout.strip().splitlines()[-1])
    assert t["correct"] and t["failed"] == 0 and t["attempted"] > 0
    assert "trace.wall_s" in t["metrics"] and "lake.write_amp" in t["metrics"]
    with open(os.path.join(ROOT, ".perfbench", "out", f"trace-{workload}-s9.json")) as fh:
        dumped = json.load(fh)["spans"]
    for s in dumped:
        assert -1e-9 <= s["self"] <= s["end"] - s["start"] + 1e-9
    # the second run of the seed is checked against the first's digests
    plain = _bench(ROOT, *args, "--trace", "0")
    assert plain.returncode == 0, plain.stderr[-3000:]
    p = json.loads(plain.stdout.strip().splitlines()[-1])
    assert p["correct"], plain.stderr[-3000:]
    assert set(p["metrics"]) == set(run.END_TO_END)
    assert all(m["value"] > 0 for m in p["metrics"].values())


def test_fails_without_the_program(tmp_path):
    shutil.copytree(BENCH, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    r = _bench(str(tmp_path), "--workload", "daily_small", "--seed", "1", "--seconds", "1", "--trace", "0", timeout=120)
    assert r.returncode != 0
    assert r.stdout.strip() == ""
