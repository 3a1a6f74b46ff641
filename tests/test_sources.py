"""Source/sink tests: JSONL round-trip + corrupt capture, layout-aware
dataset writes (partition dirs, pruning, file-size caps), skew stats, and
incremental partial-aggregate maintenance."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from sql_data_warehouse_analytics_project_spark.operators.aggregates import (
    key_skew_stats,
)
from sql_data_warehouse_analytics_project_spark.plans import incremental
from sql_data_warehouse_analytics_project_spark.sources import manifest
from sql_data_warehouse_analytics_project_spark.sources.readers import read_jsonl
from sql_data_warehouse_analytics_project_spark.sources.writers import (
    read_dataset,
    write_dataset,
    write_jsonl,
    write_partitioned_slice,
)


# ---------------------------------------------------------------------------
# JSONL
# ---------------------------------------------------------------------------


def test_jsonl_roundtrip_preserves_tricky_strings(spark, tmp_path):
    rows = [
        Row(doc_id=1, text="plain"),
        Row(doc_id=2, text='embedded "quotes" and \\ backslash'),
        Row(doc_id=3, text="new\nline and tab\t"),
        Row(doc_id=4, text="unicode: héllo 世界 🚀"),
        Row(doc_id=5, text=None),
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    path = str(tmp_path / "docs")
    write_jsonl(df, path, num_files=1)
    back = read_jsonl(spark, path, schema="doc_id BIGINT, text STRING")
    collected = back.collect()
    got = {r.doc_id: r.text for r in collected}
    assert got == {r.doc_id: r.text for r in rows}
    # counted client-side: Spark refuses queries whose referenced columns
    # are ONLY the internal corrupt-record column
    assert sum(r["_corrupt_record"] is not None for r in collected) == 0


def test_jsonl_corrupt_lines_are_captured_not_fatal(spark, tmp_path):
    p = tmp_path / "corpus.jsonl"
    p.write_text(
        '{"doc_id": 1, "text": "ok"}\n'
        "this is not json at all\n"
        '{"doc_id": 3, "text": "also ok"}\n'
        '{"doc_id": "not-a-number", "text": "type clash"}\n'
    )
    back = read_jsonl(spark, str(p), schema="doc_id BIGINT, text STRING")
    rows = back.collect()
    assert len(rows) == 4  # nothing dropped, nothing fatal
    corrupt = [r for r in rows if r["_corrupt_record"] is not None]
    assert len(corrupt) == 2
    ok = {r.doc_id: r.text for r in rows if r["_corrupt_record"] is None}
    assert ok == {1: "ok", 3: "also ok"}


# ---------------------------------------------------------------------------
# Dataset writer layout
# ---------------------------------------------------------------------------


def test_write_dataset_partition_layout_and_pruning(spark, tmp_path):
    df = spark.createDataFrame(
        [(i, i % 3, f"r{i}") for i in range(300)], "id long, part int, s string"
    )
    path = str(tmp_path / "ds")
    write_dataset(df, path, partition_by=["part"], sort_by=["id"])
    gen = manifest.resolve(path)
    dirs = sorted(d for d in os.listdir(gen) if d.startswith("part="))
    assert dirs == ["part=0", "part=1", "part=2"]
    # repartition-before-write => one task owns each partition value => a
    # single data file per directory, not one per input task
    for d in dirs:
        files = [f for f in os.listdir(os.path.join(gen, d)) if f.endswith(".parquet")]
        assert len(files) == 1
    back = read_dataset(spark, path)
    assert back.count() == 300
    assert {r.part for r in back.select("part").distinct().collect()} == {0, 1, 2}
    # partition pruning must reach the scan
    plan = back.filter(F.col("part") == 1)._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(part" in plan
    # read-back equality (partition column round-trips through dir names)
    got = sorted((r.id, r.part, r.s) for r in back.collect())
    assert got == sorted((i, i % 3, f"r{i}") for i in range(300))


def test_write_dataset_max_records_per_file_caps_file_size(spark, tmp_path):
    df = spark.createDataFrame([(i,) for i in range(1000)], "id long").coalesce(1)
    path = str(tmp_path / "capped")
    write_dataset(df, path, max_records_per_file=250)
    files = [f for f in os.listdir(manifest.resolve(path)) if f.endswith(".parquet")]
    assert len(files) == 4  # 1000 rows / 250 cap
    assert read_dataset(spark, path).count() == 1000


# ---------------------------------------------------------------------------
# Skew stats
# ---------------------------------------------------------------------------


def test_key_skew_stats_values(spark):
    # key 7 -> 61 rows (60 extra + 1 from the range), keys 0..9 -> 1 each;
    # 10 distinct keys, 70 rows, mean 7, max 61
    data = [(7,)] * 60 + [(k,) for k in range(10)]
    df = spark.createDataFrame(data, "k int")
    out = key_skew_stats(df, ["k"], top_n=3).collect()
    assert [r.k for r in out] == [7, 0, 1]  # count desc, then key asc tiebreak
    top = out[0]
    assert top.n_rows == 61
    assert top.n_distinct_keys == 10
    assert top.share == round(61 / 70, 6)
    assert top.skew_ratio == round(61 / 7.0, 4)


# ---------------------------------------------------------------------------
# Incremental partial aggregates
# ---------------------------------------------------------------------------


@pytest.fixture()
def sales(spark):
    rows = [
        (1, 10.0), (1, 20.0), (1, 5.0),
        (2, 100.0), (2, -3.0),
        (3, 42.0),
    ]
    return spark.createDataFrame(rows, "k int, v double")


def _measures():
    # built lazily: F.lit needs an active SparkContext, absent at import time
    return {
        "n": ("count", F.lit(1)),
        "total": ("sum", "v"),
        "mean": ("avg", "v"),
        "lo": ("min", "v"),
        "hi": ("max", "v"),
    }


def _final_map(df):
    return {
        r.k: (r.n, r.total, r.mean, r.lo, r.hi)
        for r in df.collect()
    }


def test_incremental_refresh_equals_full_recompute(spark, sales):
    m = _measures()
    full = incremental.finalize(
        incremental.partial_aggs(sales, ["k"], m), ["k"], m
    )
    # split rows arbitrarily (by value sign/odd positions) incl. a key (3)
    # absent from one slice entirely
    old = sales.filter(F.col("v") >= 10)
    delta = sales.filter(F.col("v") < 10)
    state = incremental.partial_aggs(old, ["k"], m)
    merged = incremental.incremental_refresh(state, delta, ["k"], m)
    got = incremental.finalize(merged, ["k"], m)
    assert _final_map(got) == _final_map(full)


def test_incremental_multiway_merge_and_empty_slice(spark, sales):
    m = _measures()
    full = incremental.finalize(
        incremental.partial_aggs(sales, ["k"], m), ["k"], m
    )
    parts = [
        incremental.partial_aggs(sales.filter(F.col("k") == k), ["k"], m)
        for k in (1, 2, 3, 4)  # k=4 slice is empty
    ]
    merged = incremental.merge_partials(["k"], *parts)
    got = incremental.finalize(merged, ["k"], m)
    assert _final_map(got) == _final_map(full)


def test_merge_partials_rejects_non_state_columns(spark, sales):
    with pytest.raises(ValueError, match="not a partial-state column"):
        incremental.merge_partials(["k"], sales)


# ---------------------------------------------------------------------------
# Z-order layout key
# ---------------------------------------------------------------------------


def test_zorder_key_matches_known_morton_codes(spark):
    from sql_data_warehouse_analytics_project_spark.sources.writers import zorder_key

    # classic 2-bit Morton curve: (x,y) -> interleave(x bits even, y bits odd)
    expected = {
        (0, 0): 0, (1, 0): 1, (0, 1): 2, (1, 1): 3,
        (2, 0): 4, (3, 0): 5, (2, 1): 6, (3, 1): 7,
        (0, 2): 8, (2, 2): 12, (3, 3): 15,
    }
    df = spark.createDataFrame([(x, y) for x, y in expected], "x int, y int")
    got = {
        (r.x, r.y): r.z
        for r in df.select("x", "y", zorder_key(["x", "y"], bits=2).alias("z")).collect()
    }
    assert got == expected


def test_zorder_sort_clusters_both_dimensions(spark, tmp_path):
    from sql_data_warehouse_analytics_project_spark.sources.writers import (
        write_dataset,
        zorder_key,
    )

    # 32x32 grid; write sorted by z-key in 8 capped files; each file's
    # bounding box must cover far less than the full domain on BOTH dims
    # (a single-column sort leaves the other dimension's range at 100%)
    df = spark.createDataFrame(
        [(x, y) for x in range(32) for y in range(32)], "x int, y int"
    ).withColumn("z", zorder_key(["x", "y"], bits=5))
    path = str(tmp_path / "zds")
    write_dataset(
        df.repartition(1).sortWithinPartitions("z"),
        path,
        max_records_per_file=128,
    )
    import os

    from sql_data_warehouse_analytics_project_spark.sources import manifest

    spans = []
    gen = manifest.resolve(path)
    for f in os.listdir(gen):
        if not f.endswith(".parquet"):
            continue
        part = spark.read.parquet(os.path.join(gen, f))
        r = part.agg(
            F.min("x"), F.max("x"), F.min("y"), F.max("y")
        ).collect()[0]
        spans.append(((r[1] - r[0] + 1) / 32.0, (r[3] - r[2] + 1) / 32.0))
    assert len(spans) == 8
    # every 128-row z-chunk is a 16x8 or 8x16 rectangle of the 32x32 grid
    for sx, sy in spans:
        assert sx <= 0.5 and sy <= 0.5


def test_incremental_hll_merge_equals_from_scratch_sketch(spark):
    """HLL state property: union of slice sketches estimates exactly what
    one sketch over all rows estimates (sketch union is order-insensitive),
    and at small cardinality the estimate is the true distinct count."""
    m = {"d": ("approx_distinct", "v")}
    df = spark.createDataFrame(
        [(i % 3, (i * 7) % 50) for i in range(500)], "k int, v int"
    )
    full = incremental.finalize(
        incremental.partial_aggs(df, ["k"], m), ["k"], m
    )
    slices = [
        incremental.partial_aggs(df.filter(F.col("v") % 4 == r), ["k"], m)
        for r in range(4)
    ]
    merged = incremental.finalize(
        incremental.merge_partials(["k"], *slices), ["k"], m
    )
    full_map = {r.k: r.d for r in full.collect()}
    merged_map = {r.k: r.d for r in merged.collect()}
    assert merged_map == full_map
    exact = {
        r.k: r.n
        for r in df.groupBy("k").agg(F.count_distinct("v").alias("n")).collect()
    }
    assert full_map == exact  # HLL is exact at this cardinality


def test_incremental_stddev_merge_matches_full(spark, sales):
    m = {"sd": ("stddev", "v"), "n": ("count", "v")}
    full = incremental.finalize(
        incremental.partial_aggs(sales, ["k"], m), ["k"], m
    )
    merged = incremental.finalize(
        incremental.merge_partials(
            ["k"],
            incremental.partial_aggs(sales.filter(F.col("v") >= 10), ["k"], m),
            incremental.partial_aggs(sales.filter(F.col("v") < 10), ["k"], m),
        ),
        ["k"],
        m,
    )
    ref = {
        r.k: r.sd
        for r in sales.groupBy("k").agg(F.stddev("v").alias("sd")).collect()
    }
    for got in (full, merged):
        gm = {r.k: r.sd for r in got.collect()}
        assert set(gm) == set(ref)
        for k in ref:
            if ref[k] is None:
                assert gm[k] is None  # single-row group -> NULL, like stddev_samp
            else:
                assert abs(gm[k] - ref[k]) < 1e-9


def _tiny_files(spark, path, n, parts, files_per_part):
    """A partitioned dataset of many tiny files, the way streaming sinks
    leave one: every ``part=<p>`` directory is written as its own slice."""
    df = spark.range(0, n).withColumn("part", (F.col("id") % parts).cast("int"))
    for p in range(parts):
        write_partitioned_slice(
            df.filter(F.col("part") == p).drop("part").repartition(files_per_part),
            f"{path}/part={p}",
        )


def test_compact_dataset_small_files(spark, tmp_path):
    """Compaction folds a many-tiny-files dataset into one file per
    partition directory with identical rows via the generation-manifest
    commit: the compacted copy lands in a new generation, ONE atomic
    manifest replace publishes it, the partition layout is kept without
    being named, and each publish deletes what neither it nor the
    previous manifest references."""
    from sql_data_warehouse_analytics_project_spark.sources.writers import (
        compact_dataset,
        dataset_file_stats,
    )

    path = str(tmp_path / "ds")
    _tiny_files(spark, path, 10000, 3, 64)  # 64 tiny files per partition value
    before = dataset_file_stats(path)
    assert before["n_files"] >= 100 and before["small_file_ratio"] == 1.0

    res = compact_dataset(
        spark, path, sort_by=["id"], target_bytes_per_file=128 * 1024 * 1024,
    )
    after = res["after"]
    assert after["n_files"] <= 6  # one-ish file per partition dir
    assert manifest.read_manifest(path)["current"] == res["generation"]
    back = read_dataset(spark, path)
    assert back.count() == 10000
    assert sorted(r.part for r in back.select("part").distinct().collect()) == [0, 1, 2]
    assert back.agg(F.sum("id")).collect()[0][0] == sum(range(10000))
    # partition dirs survived inside the published generation
    assert sorted(
        d for d in os.listdir(manifest.resolve(path)) if d.startswith("part=")
    ) == ["part=0", "part=1", "part=2"]
    # the root holds only the manifest and the generations
    assert sorted(os.listdir(path)) == ["_MANIFEST.json", "_generations"]

    # a second compaction publishes a NEW generation atomically; the one
    # it supersedes stays on disk (readers drain) until the next publish
    g1 = manifest.read_manifest(path)["current"]
    compact_dataset(spark, path, sort_by=["id"])
    m2 = manifest.read_manifest(path)
    assert m2["current"] != g1
    assert os.path.isdir(manifest.generation_dir(path, g1))
    compact_dataset(spark, path, sort_by=["id"])
    m3 = manifest.read_manifest(path)
    assert sorted(os.listdir(f"{path}/_generations")) == [m2["current"], m3["current"]]
    assert read_dataset(spark, path).count() == 10000

    # crash safety: a failing read must not touch the live data
    stats_live = dataset_file_stats(path)
    with pytest.raises(Exception):
        compact_dataset(spark, path + "_missing")
    assert dataset_file_stats(path) == stats_live


def test_compaction_keeps_sink_slices_readable(spark, tmp_path):
    """A default compaction keeps a sink's ``cp=``/``batch_id=`` layout,
    so a replayed batch overwrites its own slice and a new batch lands
    beside the compacted ones: every batch's rows read exactly once."""
    from sql_data_warehouse_analytics_project_spark.sources.writers import (
        compact_dataset,
    )

    path = str(tmp_path / "sink")

    def batch(b):
        write_partitioned_slice(
            spark.createDataFrame([(b * 10 + i,) for i in range(3)], "v long"),
            f"{path}/cp=default/batch_id={b}",
        )

    batch(0)
    batch(1)
    compact_dataset(spark, path)
    batch(1)  # replay
    batch(2)
    got = sorted(
        (r.batch_id, r.v) for r in read_dataset(spark, path).collect()
    )
    assert got == [(b, b * 10 + i) for b in range(3) for i in range(3)]


def test_unmanaged_root_is_refused(spark, tmp_path):
    """A root holding data but no manifest raises, naming the path and
    the fix; an absent root, or one holding only ``_`` entries (a crashed
    first write), resolves to itself so its read fails as a missing
    dataset's does."""
    absent = str(tmp_path / "absent")
    assert manifest.resolve(absent) == absent
    crashed = tmp_path / "crashed"
    (crashed / "_generations" / "g000001").mkdir(parents=True)
    assert manifest.resolve(str(crashed)) == str(crashed)

    plain = str(tmp_path / "plain")
    spark.range(3).write.parquet(plain)
    for call in (
        lambda: manifest.resolve(plain),
        lambda: read_dataset(spark, plain),
        lambda: write_dataset(spark.range(1), plain),
        lambda: write_partitioned_slice(spark.range(1), f"{plain}/b=1"),
    ):
        with pytest.raises(RuntimeError, match="delete it and rerun"):
            call()
    assert spark.read.parquet(plain).count() == 3  # nothing was written


def test_compact_dataset_concurrent_reader_never_sees_mixed_state(spark, tmp_path):
    """The round-8 verdict's done-criterion: a reader loop running DURING
    repeated compactions always sees a complete generation — exact row
    count and checksum every time, no missing/mixed directory window.
    Each publish keeps the generation it supersedes, so a reader resolved
    before it finishes its scan."""
    import threading

    from sql_data_warehouse_analytics_project_spark.sources.writers import (
        compact_dataset,
    )

    path = str(tmp_path / "hotds")
    n, total = 5000, sum(range(5000))
    _tiny_files(spark, path, n, 4, 16)

    stop = threading.Event()
    failures: list[str] = []

    def reader():
        while not stop.is_set():
            got = read_dataset(spark, path).agg(
                F.count(F.lit(1)).alias("n"), F.sum("id").alias("s")
            ).collect()[0]
            if (got["n"], got["s"]) != (n, total):
                failures.append(f"saw n={got['n']} s={got['s']}")
                return

    t = threading.Thread(target=reader)
    t.start()
    try:
        for _ in range(4):
            compact_dataset(spark, path, sort_by=["id"])
    finally:
        stop.set()
        t.join(timeout=120)
    assert not failures, failures
