"""PSI drift monitor (operators/drift.py) — known-value and edge cases.

(Value parity vs DuckDB for the registered query is the oracle gate's
job; here we pin the math and the degenerate inputs.)
"""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from spark_streaming_kafka_spark.operators.drift import psi_report


def _docs(spark, cats):
    return spark.createDataFrame([(c,) for c in cats], "cat string")


def test_psi_known_value(spark):
    # ref 3:1, cur 1:3 → PSI = 2 · 0.5·ln(3) = ln(3)
    ref = _docs(spark, ["a", "a", "a", "b"])
    cur = _docs(spark, ["a", "b", "b", "b"])
    row = psi_report(ref, cur, [("cat", F.col("cat"))]).first()
    assert row["ref_rows"] == 4 and row["cur_rows"] == 4
    assert row["n_bins"] == 2
    assert abs(row["psi"] - round(math.log(3.0), 6)) < 1e-9


def test_psi_identical_snapshots_zero(spark):
    ref = _docs(spark, ["a", "a", "b", "c"])
    row = psi_report(ref, ref, [("cat", F.col("cat"))]).first()
    assert row["psi"] == 0.0


def test_psi_novel_and_vanished_bins_finite(spark):
    """A bin present on only one side hits the eps floor — finite,
    large, and sided symmetrically."""
    ref = _docs(spark, ["a", "a"])
    cur = _docs(spark, ["b", "b"])
    row = psi_report(ref, cur, [("cat", F.col("cat"))]).first()
    assert row["n_bins"] == 2
    # each side: (1 - eps)·ln(1/eps) ≈ 13.815; two bins ≈ 27.63
    assert 27.0 < row["psi"] < 28.0


def test_psi_null_bins_align(spark):
    """NULL bin values on both sides land in the same sentinel bin —
    the full-outer join must not split them (NULL keys never match)."""
    ref = _docs(spark, ["a", None, None])
    cur = _docs(spark, ["a", None, None])
    row = psi_report(ref, cur, [("cat", F.col("cat"))]).first()
    assert row["n_bins"] == 2
    assert row["psi"] == 0.0


def test_psi_multi_feature_single_scan(spark):
    """Adding features adds bins, not passes: both features compute in
    one Generate per snapshot and PSI is reported per feature."""
    df = spark.createDataFrame(
        [("a", 1), ("a", 100), ("b", 1), ("b", 100)], "cat string, n long"
    )
    out = psi_report(
        df, df, [("cat", F.col("cat")), ("n_bin", F.floor(F.col("n") / 50.0))]
    )
    rows = {r["feature"]: r for r in out.collect()}
    assert set(rows) == {"cat", "n_bin"}
    assert all(r["psi"] == 0.0 for r in rows.values())
    plan = (
        out._jdf.queryExecution()
        .executedPlan()
        .toString()
        .split("== Initial Plan ==")[0]
    )
    # linear lineage: one Generate (and one scan) per snapshot, never a
    # duplicated bin-count subtree for the totals
    assert plan.count("Generate") <= 2
    assert plan.count("Scan ExistingRDD") <= 2


# --- streaming twin (streaming/drift.py) ------------------------------

def test_streaming_drift_parity_with_batch(spark):
    """The foreachBatch monitor must report EXACTLY what the batch
    operator reports on the same data (it reuses psi_from_counts, so
    this pins the wiring, incl. the cached reference)."""
    from spark_streaming_kafka_spark.operators.drift import psi_report
    from spark_streaming_kafka_spark.streaming.drift import (
        drift_monitor_sink,
        reference_counts,
    )

    ref = _docs(spark, ["a"] * 6 + ["b"] * 2)
    batch1 = _docs(spark, ["a", "b", "b", "b"])
    batch2 = _docs(spark, ["a", "a", "a", "b"])
    feats = [("cat", F.col("cat"))]
    rc = reference_counts(ref, feats)

    seen = {}
    sink = drift_monitor_sink(rc, feats, lambda bid, rows: seen.update({bid: rows}))
    sink(batch1, 0)
    sink(batch2, 1)

    for bid, batch in [(0, batch1), (1, batch2)]:
        expected = psi_report(ref, batch, feats).collect()
        assert [r.asDict() for r in seen[bid]] == [r.asDict() for r in expected]
    rc.unpersist()


def test_streaming_drift_skips_trivial_batches(spark):
    from spark_streaming_kafka_spark.streaming.drift import (
        drift_monitor_sink,
        reference_counts,
    )

    ref = _docs(spark, ["a", "b"])
    feats = [("cat", F.col("cat"))]
    rc = reference_counts(ref, feats)
    calls = []
    sink = drift_monitor_sink(rc, feats, lambda bid, rows: calls.append(bid), min_rows=3)
    sink(_docs(spark, ["a"]), 0)          # 1 row < min_rows: skipped
    sink(_docs(spark, ["a", "b", "a"]), 1)
    assert calls == [1]
    rc.unpersist()


def test_streaming_drift_live_stream_smoke(spark, tmp_path):
    """End-to-end on a real stream: rate source → foreachBatch monitor
    emits at least one report with the expected shape."""
    import time

    from spark_streaming_kafka_spark.streaming.drift import (
        drift_monitor_sink,
        reference_counts,
    )

    ref = spark.range(100).select((F.col("id") % 7).alias("mod7"))
    feats = [("mod7", F.col("mod7"))]
    rc = reference_counts(ref, feats)
    reports = []
    stream = (
        spark.readStream.format("rate").option("rowsPerSecond", "200").load()
        .select((F.col("value") % 7).alias("mod7"))
    )
    q = stream.writeStream.foreachBatch(
        drift_monitor_sink(rc, feats, lambda bid, rows: reports.append(rows), min_rows=5)
    ).option("checkpointLocation", str(tmp_path / "ckpt")).start()
    try:
        deadline = time.time() + 30
        while not reports and time.time() < deadline:
            time.sleep(0.5)
    finally:
        q.stop()
    rc.unpersist()
    assert reports, "no drift report emitted within 30s"
    row = reports[0][0]
    assert row["feature"] == "mod7" and row["ref_rows"] == 100
    assert row["psi"] is not None


# --- streaming incremental dedup (streaming/manifest_dedup.py) --------

def test_streaming_incremental_dedup_two_tiers(spark, tmp_path):
    """Across micro-batches: tier 1 drops exact manifest hits, tier 2
    drops near-dups of manifest signatures, kept rows grow BOTH
    manifests, and a rebuilt sink (fresh manifest read — the restart
    path) keeps deduplicating against everything previously kept."""
    from spark_streaming_kafka_spark.streaming.manifest_dedup import (
        incremental_dedup_sink,
    )

    base = (
        "alpha bravo charlie delta echo foxtrot golf hotel india juliet "
        "kilo lima mike november oscar papa quebec romeo sierra tango"
    )
    other = (
        "one two three four five six seven eight nine ten eleven twelve "
        "thirteen fourteen fifteen sixteen seventeen eighteen nineteen twenty"
    )
    hp, sp = str(tmp_path / "hashes"), str(tmp_path / "sigs")
    kept_ids: dict[int, set] = {}
    sink = incremental_dedup_sink(
        spark, hp, sp,
        lambda df, bid: kept_ids.update({bid: {r["doc_id"] for r in df.collect()}}),
    )

    b0 = spark.createDataFrame([(1, base), (2, other)], "doc_id long, text string")
    sink(b0, 0)
    assert kept_ids[0] == {1, 2}

    b1 = spark.createDataFrame(
        [
            (10, base),                               # exact dup of kept 1 → tier 1
            (11, base.replace("tango", "whiskey")),   # near dup of kept 1 → tier 2
            (12, "completely novel words that overlap with nothing else at all here"),
        ],
        "doc_id long, text string",
    )
    sink(b1, 1)
    assert kept_ids[1] == {12}

    # restart: a brand-new sink instance must see the grown manifests
    sink2 = incremental_dedup_sink(
        spark, hp, sp,
        lambda df, bid: kept_ids.update({bid: {r["doc_id"] for r in df.collect()}}),
    )
    b2 = spark.createDataFrame(
        [(20, other.replace("twenty", "thirty")), (21, base)],  # near dup of 2; exact dup of 1
        "doc_id long, text string",
    )
    sink2(b2, 2)
    assert kept_ids[2] == set()


def test_streaming_incremental_dedup_replay_is_idempotent(spark, tmp_path):
    """Crash-replay of a micro-batch (same batch id delivered twice —
    the foreachBatch at-least-once contract): the replay must NOT see
    its failed attempt's manifest partition as history (which would
    drop every row and lose the batch), and must not double-grow the
    manifests."""
    from spark_streaming_kafka_spark.streaming.manifest_dedup import (
        incremental_dedup_sink,
    )

    hp, sp = str(tmp_path / "hashes"), str(tmp_path / "sigs")
    kept: list[tuple[int, frozenset]] = []
    sink = incremental_dedup_sink(
        spark, hp, sp,
        lambda df, bid: kept.append((bid, frozenset(r["doc_id"] for r in df.collect()))),
    )
    b = spark.createDataFrame(
        [(1, "alpha bravo charlie delta echo foxtrot golf hotel india juliet")],
        "doc_id long, text string",
    )
    sink(b, 0)
    sink(b, 0)  # replay of the SAME batch id
    assert kept == [(0, frozenset({1})), (0, frozenset({1}))]
    hashes = spark.read.parquet(hp)
    assert hashes.count() == 1  # not double-grown
    assert spark.read.parquet(sp).count() == 1


def test_streaming_incremental_dedup_corrupt_manifest_aborts(spark, tmp_path):
    """A genuinely unreadable manifest (corrupt parquet — storage fault,
    not first-batch-missing) must ABORT the batch, not fail open: a
    silent empty-manifest fallback would disable dedup history and let
    duplicates flow downstream and into the manifests permanently."""
    import os

    from spark_streaming_kafka_spark.streaming.manifest_dedup import (
        incremental_dedup_sink,
    )

    hp, sp = str(tmp_path / "hashes"), str(tmp_path / "sigs")
    os.makedirs(hp)
    with open(os.path.join(hp, "part-00000.parquet"), "wb") as f:
        f.write(b"definitely not a parquet footer" * 8)
    sink = incremental_dedup_sink(spark, hp, sp, lambda df, bid: df.collect())
    b = spark.createDataFrame([(1, "alpha bravo")], "doc_id long, text string")
    with pytest.raises(Exception, match="[Pp]arquet"):
        sink(b, 1)


def _dedup_batch_files(tmp_path):
    """Two single-file parquet batches (file scans, as a stream's
    source delivers them): batch 1 repeats one batch-0 text exactly and
    one nearly, next to texts of its own."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    words = [f"w{i}" for i in range(400)]

    def text(seed):
        return " ".join(words[(seed * 37 + j * 11) % 400] for j in range(30))

    b0 = [(i, text(i)) for i in range(12)] + [(12, text(3))]
    b1 = (
        [(100 + i, text(50 + i)) for i in range(12)]
        + [(200, text(5)), (201, text(7).rsplit(" ", 1)[0] + " zz")]
    )
    paths = []
    for n, rows in enumerate((b0, b1)):
        path = str(tmp_path / f"batch{n}.parquet")
        pq.write_table(
            pa.table({
                "doc_id": pa.array([r[0] for r in rows], pa.int64()),
                "text": pa.array([r[1] for r in rows], pa.string()),
            }),
            path,
        )
        paths.append(path)
    return paths


def test_streaming_incremental_dedup_batch_cost(spark, tmp_path):
    """A micro-batch costs its own work: batch 1 signs its documents in
    exactly ONE MinHash (MapInPandas) pass, shared by the band join and
    the signature manifest's growth; batch 0 reads no Python-made
    DataFrame (a missing manifest is known from the read); and batch
    1's job count stays within a bound just over this code's (15 on
    local[4] with on_kept's collect; the sink that signed twice and
    probed for emptiness took 33)."""
    import json
    import urllib.request

    from spark_streaming_kafka_spark.streaming.manifest_dedup import (
        incremental_dedup_sink,
    )

    sc = spark.sparkContext
    paths = _dedup_batch_files(tmp_path)
    kept: dict[int, set] = {}
    sink = incremental_dedup_sink(
        spark, str(tmp_path / "hashes"), str(tmp_path / "sigs"),
        lambda df, bid: kept.update({bid: {r["doc_id"] for r in df.collect()}}),
    )
    groups = {}
    for n, path in enumerate(paths):
        group = f"dedup-cost-{tmp_path.name}-{n}"
        sc.setJobGroup(group, group)
        try:
            sink(spark.read.parquet(path), n)
        finally:
            sc.setJobGroup(None, None)
        groups[n] = set(sc.statusTracker().getJobIdsForGroup(group))
    assert kept[0] == set(range(12))  # doc 12 repeats doc 3's text
    assert 200 not in kept[1] and 201 not in kept[1]
    assert set(range(100, 112)) <= kept[1]

    sc._jsc.sc().listenerBus().waitUntilEmpty()
    base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"
    with urllib.request.urlopen(
        base + "/sql?details=true&planDescription=true&offset=0&length=100000",
        timeout=60,
    ) as r:
        executions = json.loads(r.read().decode())

    def runs(n):
        return [
            ex for ex in executions
            if groups[n] & set(ex.get("successJobIds", []) + ex.get("failedJobIds", []))
        ]

    def signing_passes(n):
        # a MapInPandas node that produced rows ran; a cached one read
        # back later shows zero
        return sum(
            1
            for ex in runs(n)
            for node in ex["nodes"]
            if node["nodeName"] == "MapInPandas"
            and any(
                m["name"] == "number of output rows" and m["value"].strip() not in ("", "0")
                for m in node["metrics"]
            )
        )

    assert signing_passes(1) == 1
    assert signing_passes(0) == 1
    assert not any("applySchemaToPythonRDD" in ex["planDescription"] for ex in runs(0))
    assert len(groups[1]) <= 16, len(groups[1])


def test_streaming_incremental_dedup_empty_and_all_seen_batches(spark, tmp_path):
    """An empty batch calls nothing and writes nothing; a batch whose
    every text is already in the manifest still reports its (empty)
    kept set and grows no manifest partition."""
    import os

    from spark_streaming_kafka_spark.streaming.manifest_dedup import (
        incremental_dedup_sink,
    )

    hp, sp = str(tmp_path / "hashes"), str(tmp_path / "sigs")
    calls: list[tuple[int, int]] = []
    sink = incremental_dedup_sink(
        spark, hp, sp, lambda df, bid: calls.append((bid, df.count()))
    )
    schema = "doc_id long, text string"
    sink(spark.createDataFrame([], schema), 0)
    assert calls == [] and not os.path.exists(hp) and not os.path.exists(sp)

    text = "alpha bravo charlie delta echo foxtrot golf hotel india juliet"
    sink(spark.createDataFrame([(1, text)], schema), 1)
    sink(spark.createDataFrame([(2, text), (3, text)], schema), 2)
    assert calls == [(1, 1), (2, 0)]
    for path in (hp, sp):
        parts = [n for n in os.listdir(path) if not n.startswith((".", "_"))]
        assert parts == ["batch_id=1"], (path, parts)


def test_mean_shift_changepoint_hand_values(spark):
    """r9: the CUSUM statistic peaks at the true level shift; ties and
    single-point keys behave by contract."""
    from datetime import datetime

    from spark_streaming_kafka_spark.operators.drift import (
        mean_shift_changepoint,
    )

    t = lambda s: datetime(2024, 1, 1, 0, 0, s)
    rows = (
        # key 'a': clean level shift 10,10,10 -> 20,20,20 after s=3
        [(i, "a", t(i), 10.0) for i in range(1, 4)]
        + [(i, "a", t(i), 20.0) for i in range(4, 7)]
        # key 'b': constant series — stat 0 everywhere, earliest wins
        + [(i, "b", t(i), 5.0) for i in range(1, 4)]
        # key 'c': single point — no interior split, no row
        + [(99, "c", t(1), 1.0)]
    )
    df = spark.createDataFrame(rows, "event_id long, k string, ts timestamp, v double")
    out = {
        r["k"]: r
        for r in mean_shift_changepoint(df, ["k"], "ts", "v", "event_id").collect()
    }
    assert set(out) == {"a", "b"}
    # split after the third point (ts s=3): i=3, n=6,
    # stat = sqrt(3*3/6)*|10-20| = sqrt(1.5)*10
    a = out["a"]
    assert a["n"] == 6
    assert a["change_ts_ms"] == int(t(3).timestamp() * 1000)
    assert a["stat"] == round((1.5 ** 0.5) * 10, 6)
    # constant series: all stats 0 -> earliest split by tiebreak
    assert out["b"]["stat"] == 0.0
    assert out["b"]["change_ts_ms"] == int(t(1).timestamp() * 1000)


def test_mutual_information_hand_values(spark):
    """r9: MI = 0 for independent columns; MI = H for identical ones."""
    import math

    from spark_streaming_kafka_spark.operators.drift import mutual_information

    # perfectly dependent: y == x, two symbols 50/50 -> mi = h = ln 2
    dep = spark.createDataFrame(
        [("a", "a")] * 4 + [("b", "b")] * 4, "x string, y string"
    )
    r = mutual_information(dep, "x", "y").collect()[0]
    assert r["n"] == 8
    assert r["mi"] == r["h_x"] == r["h_y"] == round(math.log(2), 6)
    # independent: every (x, y) cell equal -> mi = 0
    ind = spark.createDataFrame(
        [(x, y) for x in "ab" for y in "cd" for _ in range(3)],
        "x string, y string",
    )
    r2 = mutual_information(ind, "x", "y").collect()[0]
    assert r2["mi"] == 0.0 and r2["h_x"] == round(math.log(2), 6)
    # nulls drop
    withnull = spark.createDataFrame(
        [("a", "c"), ("a", None), (None, "d")], "x string, y string"
    )
    assert mutual_information(withnull, "x", "y").collect()[0]["n"] == 1
