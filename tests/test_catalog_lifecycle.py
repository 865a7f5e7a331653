"""Lifecycle helpers of the query catalog: `session_memo` (in-memory
build-once per Spark application) and `gate_asset` (on-disk build-once
behind an atomically written done-sentinel).

Both key on ``sparkContext.applicationId`` only, so plain stub objects
stand in for a SparkSession and no JVM is started here.
"""

from __future__ import annotations

import ast
import os
import pathlib
from types import SimpleNamespace
from unittest import mock

import pytest
from pyspark.sql import DataFrame

from jobinsight_data_pipeline_spark.catalog import gate_asset, session_memo

CATALOG_DIR = pathlib.Path(__file__).resolve().parents[1] / (
    "jobinsight_data_pipeline_spark/catalog"
)


def _session(app_id: str) -> SimpleNamespace:
    return SimpleNamespace(sparkContext=SimpleNamespace(applicationId=app_id))


class _Counter:
    def __init__(self, make=lambda n: n):
        self.calls = 0
        self.make = make

    def __call__(self):
        self.calls += 1
        return self.make(self.calls)


def test_session_memo_builds_once_per_name_app_and_sf_dir():
    spark = _session("app-memo-1")
    build = _Counter()
    assert session_memo(spark, "t_once", "/sf/a", build) == 1
    assert session_memo(spark, "t_once", "/sf/a", build) == 1
    assert build.calls == 1
    # another sf_dir is another generation
    assert session_memo(spark, "t_once", "/sf/b", build) == 2
    # names never share values
    other = _Counter(lambda n: f"other-{n}")
    assert session_memo(spark, "t_once_other", "/sf/b", other) == "other-1"
    assert session_memo(spark, "t_once", "/sf/b", build) == 2
    assert build.calls == 2


def test_session_memo_never_crosses_application_ids():
    # the SAME Python object under a new application (a stopped and
    # re-created session can even reuse the old object's id()) must not
    # see the old application's value
    spark = _session("app-memo-2a")
    build = _Counter(lambda n: f"built-{n}")
    assert session_memo(spark, "t_app", "/sf/a", build) == "built-1"
    spark.sparkContext.applicationId = "app-memo-2b"
    assert session_memo(spark, "t_app", "/sf/a", build) == "built-2"
    assert session_memo(spark, "t_app", "/sf/a", build) == "built-2"
    assert build.calls == 2


def test_session_memo_unpersists_the_evicted_generation():
    spark = _session("app-memo-3")
    old = [mock.Mock(spec=DataFrame), mock.Mock(spec=DataFrame)]
    single = mock.Mock(spec=DataFrame)
    session_memo(spark, "t_evict", "/sf/a", lambda: old)
    session_memo(spark, "t_evict_single", "/sf/a", lambda: single)
    for df in old:
        df.unpersist.assert_not_called()

    fresh = session_memo(spark, "t_evict", "/sf/b", lambda: ["not a frame"])
    assert fresh == ["not a frame"]
    for df in old:
        df.unpersist.assert_called_once()
    single.unpersist.assert_not_called()  # other names keep their value

    session_memo(spark, "t_evict_single", "/sf/b", lambda: 0)
    single.unpersist.assert_called_once()


def test_session_memo_tolerates_frames_of_a_stopped_session():
    spark = _session("app-memo-4")
    dead = mock.Mock(spec=DataFrame)
    dead.unpersist.side_effect = RuntimeError("session stopped")
    session_memo(spark, "t_dead", "/sf/a", lambda: (dead,))
    assert session_memo(spark, "t_dead", "/sf/b", lambda: 7) == 7


def test_gate_asset_builds_once_and_writes_the_sentinel():
    spark = _session("app-gate-1")
    calls = []

    def build(base: str) -> None:
        calls.append(base)
        with open(os.path.join(base, "payload"), "w") as fh:
            fh.write("rows")

    base = gate_asset(spark, "/sf/a", "lifecycle-once-", build)
    assert gate_asset(spark, "/sf/a", "lifecycle-once-", build) == base
    assert calls == [base]
    assert sorted(os.listdir(base)) == ["_gate_done", "payload"]
    # another application or sf_dir gets its own directory and build
    other = gate_asset(_session("app-gate-1b"), "/sf/a", "lifecycle-once-", build)
    again = gate_asset(spark, "/sf/b", "lifecycle-once-", build)
    assert len({base, other, again}) == 3
    assert calls == [base, other, again]


def test_gate_asset_failed_build_leaves_no_sentinel_and_rebuilds_clean():
    spark = _session("app-gate-2")

    def failing(base: str) -> None:
        with open(os.path.join(base, "partial"), "w") as fh:
            fh.write("half-written")
        raise RuntimeError("build died")

    with pytest.raises(RuntimeError, match="build died"):
        gate_asset(spark, "/sf/a", "lifecycle-fail-", failing)

    seen = []

    def build(base: str) -> None:
        seen.append(sorted(os.listdir(base)))

    base = gate_asset(spark, "/sf/a", "lifecycle-fail-", build)
    assert seen == [[]]  # the partial output was cleared first
    assert os.listdir(base) == ["_gate_done"]
    gate_asset(spark, "/sf/a", "lifecycle-fail-", build)
    assert len(seen) == 1


def _module_level_empty_dicts(tree: ast.Module) -> list[str]:
    out = []
    for node in tree.body:
        if isinstance(node, ast.Assign):
            targets, value = node.targets, node.value
        elif isinstance(node, ast.AnnAssign):
            targets, value = [node.target], node.value
        else:
            continue
        if isinstance(value, ast.Dict) and not value.keys:
            out += [t.id for t in targets if isinstance(t, ast.Name)]
    return out


def test_catalog_modules_use_the_lifecycle_helpers():
    """Build-once plumbing lives in catalog/__init__.py only: no
    hand-rolled done-sentinels, no memo keyed on ``id(spark)``, and no
    module-level memo dict in the gate modules."""
    offenders = []
    for path in sorted(CATALOG_DIR.glob("*.py")):
        if path.name == "__init__.py":
            continue
        src = path.read_text()
        if '"_gate_done"' in src:
            offenders.append(f"{path.name}: _gate_done sentinel")
        if "id(spark)" in src:
            offenders.append(f"{path.name}: id(spark) key")
        for name in _module_level_empty_dicts(ast.parse(src)):
            offenders.append(f"{path.name}: module-level dict {name}")
    assert not offenders, offenders
