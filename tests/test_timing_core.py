"""bench.py's timing core (``measure`` / ``duckdb_times``), the tools
built on it, and the streaming micro-bench source dirs it times."""

from __future__ import annotations

import importlib.util
import os
import types
from pathlib import Path

import pytest

import bench

REPO = Path(__file__).resolve().parent.parent
PROBE = "timing_core_probe"


def _fake_clock(monkeypatch) -> list[float]:
    """Swap bench's clock for one that only ``run`` advances."""
    now = [0.0]
    monkeypatch.setattr(bench, "time", types.SimpleNamespace(perf_counter=lambda: now[0]))
    return now


def test_measure_warm_pass_then_min_of_measured_passes(spark, monkeypatch):
    now = _fake_clock(monkeypatch)
    # per name: warm run, then three measured runs
    scripted = {"word_count": [9.0, 3.0, 2.0, 5.0], "dedup_exact": [7.0, 1.0, 4.0, 6.0]}
    calls: list[str] = []
    cached_on_entry: list[bool | None] = []

    def run(name: str) -> None:
        calls.append(name)
        # a lazily cached temp view left by the previous run must be gone
        # before every measured run, and only then
        exists = spark.catalog.tableExists(PROBE)
        cached_on_entry.append(spark.catalog.isCached(PROBE) if exists else None)
        spark.range(1).createOrReplaceTempView(PROBE)
        spark.catalog.cacheTable(PROBE)
        now[0] += scripted[name][sum(c == name for c in calls) - 1]

    try:
        got = bench.measure(spark, ["word_count", "dedup_exact"], passes=3, run=run)
    finally:
        spark.catalog.clearCache()
        spark.catalog.dropTempView(PROBE)

    assert calls == ["word_count", "dedup_exact"] * 4
    assert got == {"word_count": 2.0, "dedup_exact": 1.0}
    assert cached_on_entry == [None, True] + [False] * 6


def test_measure_passes_one_is_warm_plus_one(spark, monkeypatch):
    _fake_clock(monkeypatch)
    calls: list[str] = []
    got = bench.measure(spark, ["word_count"], passes=1, run=calls.append)
    assert calls == ["word_count", "word_count"]
    assert got == {"word_count": 0.0}


def test_measure_rejects_unregistered_name_before_any_spark_work():
    class NoSpark:
        def __getattr__(self, attr):
            raise AssertionError(f"touched the session: {attr}")

    calls: list[str] = []
    with pytest.raises(ValueError, match="no_such_query"):
        bench.measure(NoSpark(), ["word_count", "no_such_query"], run=calls.append)
    assert calls == []


def test_duckdb_times_reads_parquet_files_and_part_file_dirs(tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(pa.table({"x": [1, 2, 3]}), tmp_path / "single.parquet")
    parts = tmp_path / "parted.parquet"
    parts.mkdir()
    for i in range(2):
        pq.write_table(pa.table({"y": [10 * i, 10 * i + 1]}), parts / f"part-{i:05d}.parquet")
    (parts / "_SUCCESS").write_text("")
    (tmp_path / "_DONE").write_text("ok")

    got = bench.duckdb_times(
        str(tmp_path),
        {"a": "SELECT sum(x) FROM single", "b": "SELECT count(*) FROM parted"},
    )
    assert set(got) == {"a", "b"}
    assert all(v >= 0 for v in got.values())


@pytest.mark.parametrize(
    "path", sorted((REPO / "tools").glob("*.py")), ids=lambda p: p.name
)
def test_tool_imports_and_has_main(path, monkeypatch):
    """Import only (no Spark): catches a tool whose imports broke when
    its timing loop moved into bench.py."""
    monkeypatch.setattr("sys.argv", [str(path)])
    spec = importlib.util.spec_from_file_location(f"tool_{path.stem}", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    assert callable(mod.main)


def test_microbench_sources_reused_then_removed(monkeypatch, tmp_path):
    from spark_streaming_kafka_spark.streaming import microbench

    monkeypatch.setattr(microbench, "_PREPARED", {})
    builds: list[str] = []

    def build(d: str) -> None:
        builds.append(d)
        Path(d, "batch_000.parquet").write_bytes(b"")

    first = microbench._prep("k", str(tmp_path), build)
    assert microbench._prep("k", str(tmp_path), build) == first
    assert builds == [first]
    microbench._remove_prepared()
    assert not os.path.exists(first)


def _load_tool(name: str):
    path = REPO / "tools" / f"{name}.py"
    spec = importlib.util.spec_from_file_location(f"tool_{name}", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_stage_profile_lists_build_stages_apart():
    """An iterative query's build runs jobs: its table row reports those
    stages and their executor time in ``build_stages``, and a job-free
    build reads ``0 (0.00 s)``; the cpu column covers both phases."""
    sp = _load_tool("stage_profile")

    def stage(i: int, ms: int) -> dict:
        return {"stageId": i, "executorRunTime": ms, "numCompleteTasks": 1}

    prof = {
        "dedup_clusters": (2.9, 0.5, [stage(1, 1500), stage(2, 750)], [stage(3, 250)]),
        "word_count": (0.1, 0.4, [], [stage(4, 1000)]),
    }
    lines = sp.markdown_table(prof, ["dedup_clusters", "word_count"], cores=4)
    rows = {ln.split(" | ")[0].lstrip("| "): ln for ln in lines if ln.startswith("| ")}
    assert rows["query"].split(" | ")[2] == "build_stages"
    assert rows["dedup_clusters"] == "| dedup_clusters | 2.900 | 2 (2.25 s) | 0.500 | 2.50 | 0.625 |"
    assert rows["word_count"] == "| word_count | 0.100 | 0 (0.00 s) | 0.400 | 1.00 | 0.250 |"
    assert rows["**total**"].split(" | ")[2] == "**2**"
