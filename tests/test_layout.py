"""Physical-layout operators: compaction really merges files, range
clustering really narrows per-file stats (the thing parquet skipping
prunes on), and the Z-order key really bounds EVERY dimension per file."""

from __future__ import annotations

import glob
import os
import sys

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from integration_octadeskoctadesk_data_pipeline_useuniformes_spark.sinks.layout import (
    cluster_by_zorder,
    cluster_for_skipping,
    compact_small_files,
    zorder_key,
)


def _parquet_files(path: str) -> list[str]:
    return sorted(glob.glob(os.path.join(path, "*.parquet")))


def test_compact_small_files(spark, tmp_path):
    path = str(tmp_path / "frag")
    df = spark.range(0, 10_000).withColumn("v", F.col("id") * 2)
    df.repartition(37).write.parquet(path)
    assert len(_parquet_files(path)) == 37
    n_files = compact_small_files(spark, path, target_rows_per_file=2_500)
    assert n_files == 4
    assert len(_parquet_files(path)) == 4
    back = spark.read.parquet(path)
    assert back.count() == 10_000
    assert back.agg(F.sum("v")).first()[0] == 2 * sum(range(10_000))


def test_cluster_for_skipping_narrows_file_stats(spark, tmp_path):
    path = str(tmp_path / "clustered")
    li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    cluster_for_skipping(li, ["l_orderkey"], num_files=8).write.parquet(path)
    files = _parquet_files(path)
    assert len(files) >= 6  # range partitioner may merge tiny edge ranges
    spans, bounds = [], []
    for f in files:
        md = pq.read_metadata(f)
        lo = min(
            md.row_group(i).column(0).statistics.min for i in range(md.num_row_groups)
        )
        hi = max(
            md.row_group(i).column(0).statistics.max for i in range(md.num_row_groups)
        )
        spans.append(hi - lo)
        bounds.append((lo, hi))
    total = max(h for _, h in bounds) - min(l for l, _ in bounds)
    # each file covers a narrow, near-disjoint slice → a range predicate
    # on l_orderkey prunes to ~1/n of the files via footer stats alone
    assert sum(spans) <= total * 1.25, (spans, total)


def test_zorder_key_exact_morton():
    from pyspark.sql import SparkSession

    spark = SparkSession.getActiveSession() or SparkSession.builder.getOrCreate()
    # x=5 (101b), y=3 (011b), 3 bits, x at even positions, y at odd:
    # pos0=x0=1, pos1=y0=1, pos2=x1=0, pos3=y1=1, pos4=x2=1, pos5=y2=0 → 27
    row = (
        spark.range(1)
        .select(zorder_key([F.lit(5), F.lit(3)], bits=3).alias("z"))
        .first()
    )
    assert row["z"] == 27
    # clamping: negative → 0, overflow → all-ones
    row = (
        spark.range(1)
        .select(
            zorder_key([F.lit(-7), F.lit(99)], bits=3).alias("z"),
        )
        .first()
    )
    # x=0, y=7 (111b) → odd positions 1,3,5 → 2+8+32 = 42
    assert row["z"] == 42


def test_cluster_by_zorder_bounds_every_dimension(spark):
    # 64×64 grid → 16 files. Lexicographic sort would give 4-column
    # stripes (y spans the full 64 in every file); Z-order must bound
    # BOTH dims to ~16-wide blocks per file.
    rows = [(x, y) for x in range(64) for y in range(64)]
    df = spark.createDataFrame(rows, "x int, y int")
    z = cluster_by_zorder(df, ["x", "y"], num_files=16, bits=6)
    boxes = (
        z.withColumn("pid", F.spark_partition_id())
        .groupBy("pid")
        .agg(
            (F.max("x") - F.min("x")).alias("xs"),
            (F.max("y") - F.min("y")).alias("ys"),
        )
        .collect()
    )
    assert len(boxes) >= 8
    for b in boxes:
        assert b["xs"] <= 24, boxes
        assert b["ys"] <= 24, boxes


def test_bucketed_join_has_no_exchange(spark, tmp_path):
    """Two tables bucketed by the join key on the same bucket count must
    join with NO shuffle and NO per-query sort — the write-once
    co-location that makes repeated fact-to-fact joins affordable."""
    from integration_octadeskoctadesk_data_pipeline_useuniformes_spark.sinks.layout import (
        write_bucketed,
    )

    spark.sql(f"CREATE DATABASE IF NOT EXISTS bktdb LOCATION '{tmp_path}/wh'")
    old_thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        # force the join strategy decision onto bucketing, not broadcast
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        o = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
        li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
        write_bucketed(o, "bktdb.orders_b", "o_orderkey", 4)
        write_bucketed(li, "bktdb.lineitem_b", "l_orderkey", 4)
        j = spark.table("bktdb.lineitem_b").join(
            spark.table("bktdb.orders_b"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        tree = (
            spark._jvm.PythonSQLUtils.explainString(
                j._jdf.queryExecution(), "formatted"
            ).split("\n\n", 1)[0]
        )
        assert "SortMergeJoin" in tree, tree
        assert "Exchange" not in tree, tree
        assert j.count() == li.count()  # inner join, every line has its order
        # bonus: groupBy on the bucket key also skips its exchange
        agg_tree = (
            spark._jvm.PythonSQLUtils.explainString(
                spark.table("bktdb.lineitem_b")
                .groupBy("l_orderkey")
                .count()
                ._jdf.queryExecution(),
                "formatted",
            ).split("\n\n", 1)[0]
        )
        assert "Exchange" not in agg_tree, agg_tree
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_thresh)
        spark.sql("DROP DATABASE IF EXISTS bktdb CASCADE")


def test_versioned_sink_time_travel_and_change_feed(spark, tmp_path):
    """Time travel: every version reads exactly its committed state,
    even after later appends/replaces; the change feed between two
    versions classifies insert/delete/update with pre+post images."""
    from integration_octadeskoctadesk_data_pipeline_useuniformes_spark.sinks.versioned import (
        changes_between,
        commit_append,
        commit_replace,
        latest_version,
        read_version,
    )

    path = str(tmp_path / "tbl")
    v0 = commit_append(
        spark.createDataFrame(
            [("1", "Aberto"), ("2", "Aberto")], "n_ticket string, status string"
        ),
        path,
    )
    v1 = commit_append(
        spark.createDataFrame([("3", "Pendente")], "n_ticket string, status string"),
        path,
    )
    # merge-style rewrite: ticket 2 resolved, ticket 3 deleted, 4 added
    v2 = commit_replace(
        spark.createDataFrame(
            [("1", "Aberto"), ("2", "Resolvido"), ("4", "Aberto")],
            "n_ticket string, status string",
        ),
        path,
    )
    assert (v0, v1, v2) == (0, 1, 2) and latest_version(path) == 2

    def snap(v):
        return {
            (r.n_ticket, r.status) for r in read_version(spark, path, v).collect()
        }

    assert snap(0) == {("1", "Aberto"), ("2", "Aberto")}
    assert snap(1) == {("1", "Aberto"), ("2", "Aberto"), ("3", "Pendente")}
    assert snap(2) == {("1", "Aberto"), ("2", "Resolvido"), ("4", "Aberto")}

    feed = {
        (r.n_ticket, r._change_type, r.status)
        for r in changes_between(spark, path, "n_ticket", 1, 2).collect()
    }
    assert feed == {
        ("4", "insert", "Aberto"),
        ("3", "delete", "Pendente"),
        ("2", "update_pre", "Aberto"),
        ("2", "update_post", "Resolvido"),
    }  # ticket 1 unchanged -> absent


def test_change_feed_applies_to_reconstruct_snapshot(spark, tmp_path):
    """The CDC contract: old snapshot + change feed == new snapshot
    (apply = drop deletes & update_pre keys, add inserts &
    update_post). Proves the feed is complete and minimal."""
    from integration_octadeskoctadesk_data_pipeline_useuniformes_spark.sinks.versioned import (
        changes_between,
        commit_append,
        commit_replace,
        read_version,
    )
    from pyspark.sql import functions as F

    path = str(tmp_path / "tbl")
    commit_append(
        spark.createDataFrame(
            [("1", "a"), ("2", "b"), ("3", "c")], "k string, v string"
        ),
        path,
    )
    commit_replace(
        spark.createDataFrame(
            [("1", "a"), ("2", "B"), ("4", "d")], "k string, v string"
        ),
        path,
    )
    feed = changes_between(spark, path, "k", 0, 1)
    removed = feed.filter(
        F.col("_change_type").isin("delete", "update_pre")
    ).select("k")
    added = feed.filter(
        F.col("_change_type").isin("insert", "update_post")
    ).drop("_change_type")
    reconstructed = (
        read_version(spark, path, 0).join(removed, "k", "left_anti").unionByName(added)
    )
    assert {(r.k, r.v) for r in reconstructed.collect()} == {
        (r.k, r.v) for r in read_version(spark, path, 1).collect()
    }


def test_vacuum_keeps_retained_versions_readable(spark, tmp_path):
    """vacuum removes only files no retained manifest references: the
    latest snapshot still reads exactly, expired versions are gone, and
    shared files survive."""
    import os

    from integration_octadeskoctadesk_data_pipeline_useuniformes_spark.sinks.versioned import (
        commit_append,
        commit_replace,
        read_version,
        vacuum,
    )

    path = str(tmp_path / "tbl")
    commit_append(spark.createDataFrame([("1", "a")], "k string, v string"), path)
    commit_append(spark.createDataFrame([("2", "b")], "k string, v string"), path)
    commit_replace(spark.createDataFrame([("9", "z")], "k string, v string"), path)

    deleted = vacuum(path, retain_last=1)
    assert deleted, "v0/v1-only files should have been removed"
    assert {(r.k, r.v) for r in read_version(spark, path).collect()} == {("9", "z")}
    assert not os.path.exists(os.path.join(path, "_v0.json"))
    # v0/v1 data files are gone from disk
    for f in deleted:
        assert not os.path.exists(os.path.join(path, f))


def test_compact_rewrites_files_preserves_rows_and_history(spark, tmp_path):
    """OPTIMIZE analogue (r7): compaction rewrites the current snapshot
    into target_files even files as a NEW version with identical rows —
    the change feed across the compaction is empty, older versions
    still time-travel to their own file sets, and vacuum afterwards
    reclaims the pre-compaction small files."""
    import os

    from integration_octadeskoctadesk_data_pipeline_useuniformes_spark.sinks.versioned import (
        _files_of,
        changes_between,
        commit_append,
        compact,
        latest_version,
        read_version,
        vacuum,
    )

    path = str(tmp_path / "tbl")
    # two multi-file appends -> small-file buildup
    commit_append(
        spark.createDataFrame([(i, f"a{i}") for i in range(8)], "k long, v string")
        .repartition(4),
        path,
    )
    commit_append(
        spark.createDataFrame([(i, f"a{i}") for i in range(8, 12)], "k long, v string")
        .repartition(3),
        path,
    )
    pre = latest_version(path)
    pre_rows = {(r.k, r.v) for r in read_version(spark, path).collect()}
    assert len(_files_of(path, pre)) == 7

    post = compact(spark, path, target_files=2)
    assert post == pre + 1
    assert len(_files_of(path, post)) == 2
    assert {(r.k, r.v) for r in read_version(spark, path).collect()} == pre_rows
    # no row changed: the CDC diff across the compaction is empty
    assert changes_between(spark, path, "k", pre, post).count() == 0
    # older versions still read their own files
    assert read_version(spark, path, 0).count() == 8

    deleted = vacuum(path, retain_last=1)
    assert deleted, "pre-compaction small files should be reclaimed"
    for f in deleted:
        assert not os.path.exists(os.path.join(path, f))
    assert {(r.k, r.v) for r in read_version(spark, path).collect()} == pre_rows


def test_compact_merges_concurrent_append(spark, tmp_path):
    """The r7-ADVICE compact race: an append that lands between
    compaction's snapshot and its publish must SURVIVE — the compacted
    manifest carries the appended files forward (Delta OPTIMIZE's
    append-wins conflict rule), never republishing the stale base set."""
    from integration_octadeskoctadesk_data_pipeline_useuniformes_spark.sinks.versioned import (
        _files_of,
        _publish_replace_from,
        _write_files,
        commit_append,
        latest_version,
        read_version,
    )

    path = str(tmp_path / "tbl")
    commit_append(
        spark.createDataFrame([(i, f"a{i}") for i in range(8)], "k long, v string")
        .repartition(4),
        path,
    )
    base = latest_version(path)
    # compaction reads the snapshot and stages its rewrite...
    rewritten = _write_files(read_version(spark, path, base).repartition(1), path)
    # ...a concurrent streaming writer appends mid-compaction...
    commit_append(
        spark.createDataFrame([(100, "late")], "k long, v string"), path
    )
    # ...and the compaction's publish merges the appended files in
    post = _publish_replace_from(path, rewritten, base)
    assert post == base + 2
    got = {(r.k, r.v) for r in read_version(spark, path, post).collect()}
    assert got == {(i, f"a{i}") for i in range(8)} | {(100, "late")}, (
        "the concurrent append's rows must survive compaction"
    )
    # the compacted version references the rewrite + the appended files only
    assert len(_files_of(path, post)) < len(_files_of(path, base)) + 2


def test_compact_aborts_on_concurrent_replace(spark, tmp_path):
    """A non-append commit (replace/merge) landing mid-compaction means
    rows the rewrite read may no longer exist — the publish must abort
    with ConcurrentReplaceError, not resurrect them."""
    import pytest

    from integration_octadeskoctadesk_data_pipeline_useuniformes_spark.sinks.versioned import (
        ConcurrentReplaceError,
        _publish_replace_from,
        _write_files,
        commit_append,
        commit_replace,
        latest_version,
        read_version,
    )

    path = str(tmp_path / "tbl")
    commit_append(
        spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string"), path
    )
    base = latest_version(path)
    rewritten = _write_files(read_version(spark, path, base).repartition(1), path)
    # a merge/overwrite lands mid-compaction: row k=2 is deleted
    commit_replace(spark.createDataFrame([(1, "a")], "k long, v string"), path)
    with pytest.raises(ConcurrentReplaceError):
        _publish_replace_from(path, rewritten, base)
    # the replace's state is untouched
    assert {r.k for r in read_version(spark, path).collect()} == {1}


def test_compact_empty_table_raises_clear_error(spark, tmp_path):
    """compact() on an uninitialized table: a clear ValueError, not an
    opaque FileNotFoundError on _v-1.json (r7 ADVICE)."""
    import pytest

    from integration_octadeskoctadesk_data_pipeline_useuniformes_spark.sinks.versioned import compact

    with pytest.raises(ValueError, match="no committed versions"):
        compact(spark, str(tmp_path / "nothing"))


def test_versioned_manifest_schema_pins_mixed_schema_reads(spark, tmp_path):
    """Schema-on-manifest: a column added mid-life reads as NULL for
    pre-evolution files on EVERY read — not the footer-sampling lottery
    (plain spark.read.parquet samples one footer and nondeterministically
    drops the new column). Type conflicts are rejected at commit."""
    import pytest

    from integration_octadeskoctadesk_data_pipeline_useuniformes_spark.sinks.versioned import (
        commit_append,
        read_version,
    )

    path = str(tmp_path / "tbl")
    commit_append(spark.createDataFrame([(1, "a")], "k long, v string"), path)
    commit_append(
        spark.createDataFrame([(2, "b", "extra")], "k long, v string, note string"), path
    )
    snap = read_version(spark, path)
    assert snap.columns == ["k", "v", "note"], "evolved column must always be visible"
    rows = {r.k: r.note for r in snap.collect()}
    assert rows == {1: None, 2: "extra"}, "pre-evolution rows read the new column as NULL"
    # old snapshot keeps its own (pre-evolution) schema
    assert read_version(spark, path, 0).columns == ["k", "v"]

    with pytest.raises(ValueError, match="schema conflict"):
        commit_append(spark.createDataFrame([(3, 9)], "k long, v long"), path)


def test_versioned_rejected_append_leaves_no_orphan_files(spark, tmp_path):
    """A schema-conflict abort must reclaim its staged data files:
    nothing references them (the manifest was never published), so
    vacuum would never sweep them and the table dir would leak one
    table-sized staging per rejected append (ADVICE r8)."""
    import os

    import pytest

    from integration_octadeskoctadesk_data_pipeline_useuniformes_spark.sinks.versioned import (
        _files_of,
        commit_append,
        latest_version,
        read_version,
    )

    path = str(tmp_path / "tbl")
    commit_append(spark.createDataFrame([(1, "a")], "k long, v string"), path)
    with pytest.raises(ValueError, match="schema conflict"):
        commit_append(spark.createDataFrame([(2, 9)], "k long, v long"), path)

    assert latest_version(path) == 0, "rejected append must publish nothing"
    on_disk = {f for f in os.listdir(path) if f.endswith(".parquet")}
    assert on_disk == set(_files_of(path, 0)), "staged files of the rejected append must be reclaimed"
    assert read_version(spark, path).count() == 1


def test_versioned_legacy_manifest_append_keeps_merge_schema(spark, tmp_path):
    """Appending onto a LEGACY (pre-schema-era) manifest must not pin
    the append's schema: columns living only in the carried-forward
    legacy files would silently vanish from every later read. The new
    version refuses to pin (schema=None) and stays on the mergeSchema
    fallback (ADVICE r8)."""
    import json
    import os

    from integration_octadeskoctadesk_data_pipeline_useuniformes_spark.sinks.versioned import (
        commit_append,
        read_version,
    )

    path = str(tmp_path / "tbl")
    commit_append(
        spark.createDataFrame([(1, "a", "legacy-only")], "k long, v string, note string"),
        path,
    )
    # simulate a pre-schema-era manifest
    mpath = os.path.join(path, "_v0.json")
    with open(mpath) as fh:
        m = json.load(fh)
    m["schema"] = None
    with open(mpath, "w") as fh:
        json.dump(m, fh)

    # append with a NARROWER schema (no `note`)
    commit_append(spark.createDataFrame([(2, "b")], "k long, v string"), path)
    with open(os.path.join(path, "_v1.json")) as fh:
        m1 = json.load(fh)
    assert m1["schema"] is None, "legacy carry-forward must not pin the append's schema"
    snap = read_version(spark, path)
    assert "note" in snap.columns, "legacy-only column must stay visible"
    assert {r.k: r.note for r in snap.collect()} == {1: "legacy-only", 2: None}


def test_ivm_fixture_sink_built_once_per_sf_dir(spark):
    """The IVM query's fixture sink is deterministic per sf_dir, so
    repeat invocations (plan test, value test, sweeps) must reuse ONE
    build instead of accumulating temp dirs + atexit entries and doing
    Spark write work at every catalog build (ADVICE r8)."""
    import os

    from integration_octadeskoctadesk_data_pipeline_useuniformes_spark.plans import queries_scale as QS

    sf = "/root/testdata/sf0.001"
    first = QS._ivm_fixture_sink(spark, sf)
    second = QS._ivm_fixture_sink(spark, sf)
    assert first == second
    assert os.path.isdir(first[0]) and os.path.isdir(first[1])


def test_versioned_key_probe_prunes_history_files(spark, tmp_path):
    """VERDICT r8 #2: a key probe over a multi-commit sink must plan a
    scan of a STRICT SUBSET of the history's files (stats + blooms),
    while still returning every row whose key is probed (no false
    negatives by construction)."""
    from integration_octadeskoctadesk_data_pipeline_useuniformes_spark.sinks.versioned import (
        _files_of,
        commit_append,
        latest_version,
        read_version_for_keys,
    )

    path = str(tmp_path / "tbl")
    for base in (0, 1000, 2000):
        df = spark.createDataFrame(
            [(base + i, f"fp-{base + i}") for i in range(20)], "k long, fp string"
        )
        commit_append(df.coalesce(1), path, bloom_keys=["fp", "k"])

    all_files = set(_files_of(path, latest_version(path)))
    probe = read_version_for_keys(spark, path, "fp", ["fp-1003", "fp-1007"])
    scanned = {f.rsplit("/", 1)[-1] for f in probe.inputFiles()}
    assert scanned < all_files, "probe must scan a strict subset of history files"
    got = {r.fp for r in probe.filter(probe.fp.isin("fp-1003", "fp-1007")).collect()}
    assert got == {"fp-1003", "fp-1007"}, "every probed key's row must be present"

    # same via the int key's min/max zones alone (disjoint ranges)
    probe_k = read_version_for_keys(spark, path, "k", [2001])
    assert len(probe_k.inputFiles()) == 1
    assert probe_k.filter("k = 2001").count() == 1

    # a key in NO commit prunes everything (bloom miss on all entries)
    none = read_version_for_keys(spark, path, "fp", ["fp-absent"])
    assert none.count() == 0 and none.columns == ["k", "fp"]


def test_versioned_read_version_prune_predicate_skips_files(spark, tmp_path):
    """VERDICT r8 #3: data skipping on the batch read path — a
    selective range predicate plans a scan of only the files whose
    min/max zones intersect it; the result is a sound SUPERSET of the
    matching rows (caller still filters)."""
    from integration_octadeskoctadesk_data_pipeline_useuniformes_spark.sinks.versioned import (
        _files_of,
        commit_append,
        latest_version,
        read_version,
    )

    path = str(tmp_path / "tbl")
    for day in (1, 2, 3):
        df = spark.createDataFrame(
            [(day * 100 + i, f"2024-01-0{day}") for i in range(10)],
            "id long, day string",
        )
        commit_append(df.coalesce(1), path)

    all_files = set(_files_of(path, latest_version(path)))
    snap = read_version(spark, path, prune={"day": {"lo": "2024-01-02", "hi": "2024-01-02"}})
    scanned = {f.rsplit("/", 1)[-1] for f in snap.inputFiles()}
    assert scanned < all_files and len(scanned) == 1
    assert snap.filter("day = '2024-01-02'").count() == 10

    # files with no stats (legacy manifest) are always kept — sound
    import json
    import os

    # materialize the RESOLVED manifest (the stored form may be an
    # incremental record) and strip its stats to the legacy shape
    from integration_octadeskoctadesk_data_pipeline_useuniformes_spark.sinks.versioned import _manifest_of

    v = latest_version(path)
    m = _manifest_of(path, v)
    mpath = os.path.join(path, f"_v{v}.json")
    m["file_stats"] = {}
    m["blooms"] = []
    with open(mpath, "w") as fh:
        json.dump(m, fh)
    legacy = read_version(spark, path, prune={"day": {"values": ["2024-01-02"]}})
    assert {f.rsplit("/", 1)[-1] for f in legacy.inputFiles()} == all_files


def test_versioned_compact_preserves_pruning_soundness(spark, tmp_path):
    """Compaction rewrites rows into fresh (un-bloomed) files; old
    bloom entries anchored to retired files must not prune the
    rewritten data — the rewritten files are always scanned until the
    next keyed commit."""
    from integration_octadeskoctadesk_data_pipeline_useuniformes_spark.sinks.versioned import (
        commit_append,
        compact,
        read_version_for_keys,
    )

    path = str(tmp_path / "tbl")
    for base in (0, 1000):
        commit_append(
            spark.createDataFrame(
                [(base + i, f"fp-{base + i}") for i in range(5)], "k long, fp string"
            ).coalesce(1),
            path,
            bloom_keys=["fp"],
        )
    compact(spark, path, target_files=1)
    probe = read_version_for_keys(spark, path, "fp", ["fp-3", "fp-1004"])
    got = {r.fp for r in probe.collect() if r.fp in ("fp-3", "fp-1004")}
    assert got == {"fp-3", "fp-1004"}


def test_changes_between_key_prune_scopes_and_skips(spark, tmp_path):
    """Key-scoped change feed: the pruned feed equals the full feed
    restricted to the key predicate, and BOTH snapshot scans are
    data-skipped (strict inputFiles subset)."""
    from integration_octadeskoctadesk_data_pipeline_useuniformes_spark.sinks.versioned import (
        changes_between,
        commit_append,
        commit_replace,
        read_version,
    )

    path = str(tmp_path / "tbl")
    # v0: two key ranges in separate files (bloom-keyed commits)
    commit_append(
        spark.createDataFrame([(i, "a") for i in range(10)], "k long, v string").coalesce(1),
        path,
        bloom_keys=["k"],
    )
    commit_append(
        spark.createDataFrame([(100 + i, "b") for i in range(10)], "k long, v string").coalesce(1),
        path,
        bloom_keys=["k"],
    )
    # v2: replace — update k=3, delete k=105, insert k=200; clustered by
    # key range so v2's zones can prune too
    state = [(i, "a") for i in range(10) if True]
    state[3] = (3, "a2")
    state += [(100 + i, "b") for i in range(10) if i != 5] + [(200, "c")]
    commit_replace(
        spark.createDataFrame(state, "k long, v string").repartitionByRange(3, "k"),
        path,
        bloom_keys=["k"],
    )

    full = changes_between(spark, path, "k", 1, 2)
    scoped = changes_between(spark, path, "k", 1, 2, key_prune={"lo": 0, "hi": 50})
    want = {(r.k, r._change_type) for r in full.collect() if 0 <= r.k <= 50}
    got = {(r.k, r._change_type) for r in scoped.collect()}
    assert got == want and got == {(3, "update_pre"), (3, "update_post")}

    full_files = set(read_version(spark, path, 1).inputFiles()) | set(
        read_version(spark, path, 2).inputFiles()
    )
    scoped_files = set()
    for df in (scoped,):
        scoped_files |= set(df.inputFiles())
    assert scoped_files < full_files, (len(scoped_files), len(full_files))


def test_versioned_bloom_keys_reject_unrenderable_types(spark, tmp_path):
    """A bloom key whose Spark string-cast differs from Python's str()
    (boolean: 'true' vs 'True') would prune files that DO contain the
    key — reject loudly at commit time instead."""
    import pytest

    from integration_octadeskoctadesk_data_pipeline_useuniformes_spark.sinks.versioned import (
        commit_append,
    )

    path = str(tmp_path / "tbl")
    df = spark.createDataFrame([(1, True, 1.5)], "k long, flag boolean, v double")
    with pytest.raises(ValueError, match="bloom key 'flag' has type boolean"):
        commit_append(df, path, bloom_keys=["flag"])
    with pytest.raises(ValueError, match="bloom key 'v' has type double"):
        commit_append(df, path, bloom_keys=["v"])
    commit_append(df, path, bloom_keys=["k"])  # int keys fine


def test_versioned_metadata_count_answers_without_scan(spark, tmp_path):
    """Metadata-only count(*): exact from manifest stats (no Spark job),
    None on legacy manifests (caller scans), and composable with
    pruning when the predicate aligns with the commit layout."""
    import json
    import os

    from integration_octadeskoctadesk_data_pipeline_useuniformes_spark.sinks.versioned import (
        commit_append,
        latest_version,
        metadata_count,
        read_version,
    )

    path = str(tmp_path / "tbl")
    for day, n in (("d1", 7), ("d2", 11)):
        commit_append(
            spark.createDataFrame([(i, day) for i in range(n)], "id long, day string"),
            path,
        )
    assert metadata_count(path) == 18
    assert metadata_count(path, version=0) == 7
    assert metadata_count(path, prune={"day": {"values": ["d2"]}}) == 11
    assert metadata_count(path) == read_version(spark, path).count()

    # legacy manifest (stats stripped) → None, never a wrong number;
    # strip the RESOLVED form (the stored one may be incremental)
    from integration_octadeskoctadesk_data_pipeline_useuniformes_spark.sinks.versioned import _manifest_of

    v = latest_version(path)
    m = _manifest_of(path, v)
    m["file_stats"] = {}
    with open(os.path.join(path, f"_v{v}.json"), "w") as fh:
        json.dump(m, fh)
    assert metadata_count(path) is None


def test_versioned_clustered_compaction_restores_skipping(spark, tmp_path):
    """OPTIMIZE-with-clustering: after many interleaved commits, plain
    compaction would shuffle the keys together and degrade pruning to
    scan-everything; cluster_by re-lays the rewrite with near-disjoint
    zones and bloom_keys re-indexes the rewritten files, so pruned
    probes stay selective across maintenance."""
    from integration_octadeskoctadesk_data_pipeline_useuniformes_spark.sinks.versioned import (
        _files_of,
        commit_append,
        compact,
        latest_version,
        read_version,
        read_version_for_keys,
    )

    path = str(tmp_path / "tbl")
    # interleaved keys per commit: per-commit zones are USELESS (every
    # commit spans the whole key range)
    for c in range(3):
        commit_append(
            spark.createDataFrame(
                [(c + 10 * i, f"p{c + 10 * i}") for i in range(12)], "k long, fp string"
            ).coalesce(1),
            path,
            bloom_keys=["fp"],
        )
    v = compact(spark, path, target_files=4, cluster_by=["k"], bloom_keys=["fp"])
    all_files = set(_files_of(path, v))
    assert len(all_files) >= 3

    # range prune: only the file(s) whose zone holds the low keys
    lo = read_version(spark, path, prune={"k": {"lo": 0, "hi": 5}})
    assert 0 < len(lo.inputFiles()) < len(all_files)
    assert lo.filter("k <= 5").count() == 3  # keys 0,1,2

    # bloom re-index: an absent key prunes EVERYTHING (fresh entries
    # cover the rewritten files)
    none = read_version_for_keys(spark, path, "fp", ["absent"])
    assert none.count() == 0 and len(none.inputFiles()) == 0

    # rows intact
    assert read_version(spark, path, v).count() == 36
    assert latest_version(path) == v


# ---------------------------------------------------------------------------
# Incremental (delta) manifests: commit cost is O(batch), not O(table)
# ---------------------------------------------------------------------------


def test_delta_manifest_commit_is_batch_grain(spark, tmp_path):
    """An append to an existing table stores an incremental record —
    add-lists only, verified-by-reconstruction at commit time — so the
    manifest JSON written per commit scales with the BATCH, never the
    table: a 1M-file table's small append must not re-serialize every
    path, zone and bloom lane (Delta's _delta_log + checkpoint split)."""
    import json

    from integration_octadeskoctadesk_data_pipeline_useuniformes_spark.sinks.versioned import (
        _manifest_of,
        _raw_manifest,
        commit_append,
        read_version,
        read_version_for_keys,
    )

    path = str(tmp_path / "tbl")
    mk = lambda lo, hi: spark.range(lo, hi).selectExpr(
        "id", "concat('k', id) AS fp"
    ).coalesce(2)
    commit_append(mk(0, 10), path, bloom_keys=["fp"])
    commit_append(mk(10, 20), path, bloom_keys=["fp"])
    commit_append(mk(20, 30), path, bloom_keys=["fp"])

    raw0, raw1, raw2 = (_raw_manifest(path, v) for v in (0, 1, 2))
    assert "delta_of" not in raw0, "first commit is the chain's checkpoint"
    assert raw1["delta_of"] == 0 and raw2["delta_of"] == 1
    assert "files" not in raw2 and "file_stats" not in raw2

    # batch grain, literally: v2's record never mentions v0/v1's files
    v0_files = set(_manifest_of(path, 0)["files"])
    raw2_text = json.dumps(raw2)
    assert not any(f in raw2_text for f in v0_files)
    assert len(raw2["add_files"]) == 2 and raw2["remove_files"] == []

    # readers see the resolved view: rows, stats and blooms all carry
    m2 = _manifest_of(path, 2)
    assert len(m2["files"]) == 6 and len(m2["file_stats"]) == 6
    assert len(m2["blooms"]) == 3
    assert read_version(spark, path, 2).count() == 30
    assert read_version(spark, path, 0).count() == 10
    probe = read_version_for_keys(spark, path, "fp", ["k5"])
    assert probe.filter("fp = 'k5'").count() == 1
    assert len(probe.inputFiles()) < 6, "zone/bloom pruning rides resolution"


def test_delta_manifest_checkpoint_interval_bounds_chains(spark, tmp_path):
    """Chains cap at _CHECKPOINT_EVERY links: the Nth delta in a row
    becomes a full checkpoint, so resolving any version reads a bounded
    number of manifests regardless of table age."""
    from integration_octadeskoctadesk_data_pipeline_useuniformes_spark.sinks import versioned

    path = str(tmp_path / "tbl")
    old = versioned._CHECKPOINT_EVERY
    versioned._CHECKPOINT_EVERY = 3
    try:
        for i in range(7):
            versioned.commit_append(
                spark.range(i * 5, i * 5 + 5).selectExpr("id").coalesce(1), path
            )
    finally:
        versioned._CHECKPOINT_EVERY = old
    shapes = [
        versioned._raw_manifest(path, v).get("chain", "full")
        for v in versioned._manifests(path)
    ]
    assert shapes == ["full", 1, 2, "full", 1, 2, "full"], shapes
    assert versioned.read_version(spark, path, 6).count() == 35
    assert versioned.read_version(spark, path, 2).count() == 15


def test_delta_manifest_resolution_stable_under_materialization(spark, tmp_path):
    """Rewriting ANY stored delta record as its resolved full form
    changes nothing for any version — the invariant vacuum's chain-head
    materialization rides, checked here for every position in the
    chain and across a copy-on-write MERGE + DELETE history."""
    import json

    from integration_octadeskoctadesk_data_pipeline_useuniformes_spark.sinks import versioned

    path = str(tmp_path / "tbl")
    mk = lambda lo, hi: spark.range(lo, hi).selectExpr(
        "id", "concat('k', id) AS fp"
    ).coalesce(2)
    versioned.commit_append(mk(0, 10), path, bloom_keys=["fp"])
    versioned.commit_append(mk(10, 20), path, bloom_keys=["fp"])
    versioned.commit_merge(
        spark,
        path,
        spark.createDataFrame([(5, "K5")], "id long, fp string"),
        key="id",
    )
    versioned.commit_delete(spark, path, condition="id >= 18", prune={"id": {"lo": 18}})

    versions = versioned._manifests(path)
    before = {v: versioned._manifest_of(path, v) for v in versions}
    for v in versions:  # materialize one position at a time, oldest first
        with open(os.path.join(path, f"_v{v}.json"), "w") as fh:
            json.dump(before[v], fh)
        after = {u: versioned._manifest_of(path, u) for u in versions}
        assert after == before, f"materializing v{v} changed a resolved view"
    assert versioned.read_version(spark, path, versions[-1]).count() == 18


def test_vacuum_materializes_retained_chain_head(spark, tmp_path):
    """Vacuum drops expired manifests a retained delta may resolve
    through — the oldest retained record is checkpointed first, so
    every retained chain stays self-contained and readable."""
    from integration_octadeskoctadesk_data_pipeline_useuniformes_spark.sinks import versioned

    path = str(tmp_path / "tbl")
    for i in range(5):
        versioned.commit_append(
            spark.range(i * 10, i * 10 + 10).selectExpr("id").coalesce(1), path
        )
    assert "delta_of" in versioned._raw_manifest(path, 3)
    versioned.vacuum(path, retain_last=2)
    assert versioned._manifests(path) == [3, 4]
    assert "delta_of" not in versioned._raw_manifest(path, 3), "chain head checkpointed"
    assert versioned.read_version(spark, path, 3).count() == 40
    assert versioned.read_version(spark, path, 4).count() == 50
    # the still-delta newest resolves through the materialized head
    assert "delta_of" in versioned._raw_manifest(path, 4)


def test_table_history_records_every_operation(spark, tmp_path):
    """DESCRIBE HISTORY: one audit row per commit, newest first, with
    the operation name + parameters and a commit timestamp; audit
    metadata never enters the resolved state (two tables with the same
    commits resolve identically whatever their clocks say); vacuum's
    chain-head materialization carries the audit row."""
    from integration_octadeskoctadesk_data_pipeline_useuniformes_spark.sinks import versioned

    path = str(tmp_path / "tbl")
    mk = lambda lo, hi: spark.range(lo, hi).selectExpr(
        "id", "concat('k', id) AS k"
    ).coalesce(1)
    versioned.commit_append(mk(0, 10), path)
    versioned.commit_merge(
        spark,
        path,
        spark.createDataFrame([(5, "K5")], "id long, k string"),
        key="id",
    )
    versioned.commit_delete(spark, path, condition="id >= 8", prune={"id": {"lo": 8}})
    versioned.restore(path, 0)

    hist = versioned.table_history(path)
    assert [(h["version"], h["operation"]) for h in hist] == [
        (3, "RESTORE"),
        (2, "DELETE"),
        (1, "MERGE"),
        (0, "APPEND"),
    ]
    assert hist[0]["restored_version"] == 0
    assert hist[1]["condition"] == "id >= 8"
    assert hist[2]["key"] == "id"
    assert all("ts" in h for h in hist)
    # audit is metadata only: the resolved manifest never carries it
    assert all("op" not in versioned._manifest_of(path, v) for v in range(4))

    # vacuum: expired rows drop, the materialized chain head keeps its row
    versioned.commit_append(mk(20, 23), path)
    versioned.vacuum(path, retain_last=2)
    assert [(h["version"], h["operation"]) for h in versioned.table_history(path)] == [
        (4, "APPEND"),
        (3, "RESTORE"),
    ]
    assert versioned.read_version(spark, path).count() == 13


# ---------------------------------------------------------------------------
# Deletion vectors: row-level deletes without rewriting data files
# ---------------------------------------------------------------------------


def test_deletion_vector_delete_touches_no_data_file(spark, tmp_path):
    """commit_delete(deletion_vectors=True) records the matching rows'
    (file, row-index) identities in a small vector file and leaves the
    data files byte-identical — at 100 TB, deleting a handful of rows
    from a gigabyte file must not rewrite it. The read path hides the
    rows; time travel, CDF and the metadata-only count stay exact."""
    from integration_octadeskoctadesk_data_pipeline_useuniformes_spark.sinks import versioned

    path = str(tmp_path / "tbl")
    mk = lambda lo, hi: spark.range(lo, hi).selectExpr(
        "id", "concat('k', id) AS k"
    ).coalesce(1)
    versioned.commit_append(mk(0, 10), path)
    versioned.commit_append(mk(10, 20), path)
    files_before = versioned._files_of(path, 1)

    v = versioned.commit_delete(
        spark,
        path,
        condition="id % 7 = 0",
        deletion_vectors=True,
    )
    assert versioned._files_of(path, v) == files_before, "zero data files rewritten"
    m = versioned._manifest_of(path, v)
    assert sum(e["rows"] for e in m["dv"].values()) == 3  # 0, 7, 14

    ids = {r.id for r in versioned.read_version(spark, path, v).collect()}
    assert ids == set(range(20)) - {0, 7, 14}
    assert versioned.read_version(spark, path, 1).count() == 20, "time travel intact"
    assert versioned.metadata_count(path, v) == 17, "metadata count stays exact"
    assert versioned.metadata_minmax(path, "id", v) is None, "extremes refuse"

    feed = versioned.changes_between(spark, path, "id", 1, v)
    assert {(r.id, r._change_type) for r in feed.collect()} == {
        (0, "delete"),
        (7, "delete"),
        (14, "delete"),
    }
    # appended-files fast path refuses across the vector commit
    assert versioned.read_appended(spark, path, 1, v) is None


def test_deletion_vectors_accumulate_and_never_double_delete(spark, tmp_path):
    """A second vector delete on the same file EXTENDS the vector
    (cumulative), matching only still-live rows — per-file counts stay
    exact; re-deleting an already-deleted row is a committed-nothing
    no-op. MERGE over vectored files never resurrects hidden rows, and
    OPTIMIZE materializes the vectors (files rewritten, vectors
    cleared, metadata MIN/MAX answering again)."""
    from integration_octadeskoctadesk_data_pipeline_useuniformes_spark.sinks import versioned

    path = str(tmp_path / "tbl")
    versioned.commit_append(
        spark.range(0, 20).selectExpr("id", "concat('k', id) AS k").coalesce(1), path
    )
    versioned.commit_delete(spark, path, condition="id < 3", deletion_vectors=True)
    v2 = versioned.commit_delete(
        spark, path, condition="id < 5", deletion_vectors=True
    )
    m = versioned._manifest_of(path, v2)
    (entry,) = m["dv"].values()
    assert entry["rows"] == 5 and len(entry["files"]) == 2, "cumulative vectors"
    assert versioned.metadata_count(path, v2) == 15

    # already-deleted rows never match again → no-op
    v3 = versioned.commit_delete(spark, path, condition="id < 5", deletion_vectors=True)
    assert v3 == v2

    # insert_unmatched=False: a vector-deleted key is NOT a match (the
    # row is gone), so the update neither resurrects the old row nor
    # inserts the new one
    versioned.commit_merge(
        spark,
        path,
        spark.createDataFrame([(7, "K7"), (2, "GHOST")], "id long, k string"),
        key="id",
        insert_unmatched=False,
    )
    snap = versioned.read_version(spark, path)
    assert snap.filter("id = 2").count() == 0, "merge must not resurrect"
    assert snap.filter("k = 'K7'").count() == 1
    assert snap.count() == 15

    v5 = versioned.compact(spark, path, target_files=1)
    m5 = versioned._manifest_of(path, v5)
    assert m5["dv"] == {}, "OPTIMIZE materializes vectors"
    assert versioned.read_version(spark, path, v5).count() == 15
    assert versioned.metadata_minmax(path, "id", v5) == (5, 19)


def test_deletion_vector_files_survive_vacuum_with_their_manifests(spark, tmp_path):
    """Vector files are referenced state: vacuum keeps them while any
    retained manifest needs them and reclaims them with their expired
    manifests; RESTORE refuses when a needed vector was vacuumed."""
    from integration_octadeskoctadesk_data_pipeline_useuniformes_spark.sinks import versioned

    path = str(tmp_path / "tbl")
    versioned.commit_append(
        spark.range(0, 10).selectExpr("id").coalesce(1), path
    )
    v1 = versioned.commit_delete(spark, path, condition="id = 4", deletion_vectors=True)
    (vec_entry,) = versioned._manifest_of(path, v1)["dv"].values()
    vec_file = vec_entry["files"][0]
    versioned.commit_append(spark.range(10, 13).selectExpr("id").coalesce(1), path)

    versioned.vacuum(path, retain_last=2)  # v1, v2 retained — vector still needed
    assert os.path.exists(os.path.join(path, vec_file))
    assert {r.id for r in versioned.read_version(spark, path).collect()} == (
        set(range(13)) - {4}
    )

    # materialize, then expire the vectored manifests: the vector dies
    versioned.compact(spark, path, target_files=1)
    versioned.vacuum(path, retain_last=1)
    assert not os.path.exists(os.path.join(path, vec_file))
    assert versioned.read_version(spark, path).count() == 12


def test_deletion_vector_merge_appends_updates_without_rewrites(spark, tmp_path):
    """commit_merge(deletion_vectors=True): matched old rows are
    vectored out (every base file carried name-identical), updated
    rows + inserts land in appended files — a CDC batch touching a few
    rows of a big file costs those rows, not the file. CDF still shows
    exact update_pre/update_post + inserts; a second vector merge
    vectors the previously-appended file."""
    from integration_octadeskoctadesk_data_pipeline_useuniformes_spark.sinks import versioned

    path = str(tmp_path / "tbl")
    mk = lambda lo, hi: spark.range(lo, hi).selectExpr(
        "id", "concat('k', id) AS k"
    ).coalesce(1)
    versioned.commit_append(mk(0, 10), path)
    versioned.commit_append(mk(10, 20), path)
    base_files = versioned._files_of(path, 1)

    upd = spark.createDataFrame(
        [(5, "K5"), (15, "K15"), (99, "NEW")], "id long, k string"
    )
    v2 = versioned.commit_merge(spark, path, upd, key="id", deletion_vectors=True)
    assert set(base_files) <= set(versioned._files_of(path, v2)), "base files carried"
    m2 = versioned._manifest_of(path, v2)
    assert sum(e["rows"] for e in m2["dv"].values()) == 2, "matched rows vectored"

    rows = {r.id: r.k for r in versioned.read_version(spark, path, v2).collect()}
    assert len(rows) == 21 and rows[5] == "K5" and rows[15] == "K15" and rows[99] == "NEW"
    feed = versioned.changes_between(spark, path, "id", 1, v2)
    kinds = {(r.id, r._change_type) for r in feed.collect()}
    assert kinds == {
        (5, "update_pre"),
        (5, "update_post"),
        (15, "update_pre"),
        (15, "update_post"),
        (99, "insert"),
    }
    # vector merge over a vector-merged key: the appended file vectors
    v3 = versioned.commit_merge(
        spark,
        path,
        spark.createDataFrame([(5, "Z5")], "id long, k string"),
        key="id",
        deletion_vectors=True,
    )
    rows3 = {r.id: r.k for r in versioned.read_version(spark, path, v3).collect()}
    assert rows3[5] == "Z5" and len(rows3) == 21


def _injected(*_a, **_kw):
    raise RuntimeError("injected fault")


def _boom_frame(spark):
    # fails at EXECUTION (inside the write job), not at plan time
    return spark.range(20, 30).select(
        F.when(F.col("id") == 25, F.raise_error(F.lit("injected fault")))
        .otherwise(F.col("id"))
        .alias("id"),
        F.concat(F.lit("k"), F.col("id")).alias("k"),
    ).coalesce(1)


# op name -> (module attribute to break or None, call(spark, versioned, path))
_FAULTS = {
    "commit_append-claim": (
        "_claim_slot",
        lambda spark, V, path: V.commit_append(spark.range(1).selectExpr("id", "'x' AS k"), path),
    ),
    "commit_replace-claim": (
        "_claim_slot",
        lambda spark, V, path: V.commit_replace(spark.range(1).selectExpr("id", "'x' AS k"), path),
    ),
    # seven write workers (more than the test session's cores), one
    # failing: its siblings' files, staged concurrently, go too
    "commit_appends-worker": (
        None,
        lambda spark, V, path: V.commit_appends(
            [
                spark.range(lo, lo + 10).selectExpr("id", "concat('k', id) AS k").coalesce(1)
                for lo in (30, 40, 50)
            ]
            + [_boom_frame(spark)]
            + [
                spark.range(lo, lo + 10).selectExpr("id", "concat('k', id) AS k").coalesce(1)
                for lo in (60, 70, 80)
            ],
            path,
        ),
    ),
    "commit_replace_from-publish": (
        "_publish_replace_from",
        lambda spark, V, path: V.commit_replace_from(
            spark.range(1).selectExpr("id", "'x' AS k"), path, V.latest_version(path)
        ),
    ),
    "compact-publish": (
        "_publish_replace_from",
        lambda spark, V, path: V.compact(spark, path),
    ),
    "commit_merge-publish": (
        "_publish_replace_from",
        lambda spark, V, path: V.commit_merge(
            spark, path, spark.createDataFrame([(5, "K5"), (99, "NEW")], "id long, k string"), key="id"
        ),
    ),
    "commit_merge_dv-publish": (
        "_publish_replace_from",
        lambda spark, V, path: V.commit_merge(
            spark,
            path,
            spark.createDataFrame([(5, "K5"), (99, "NEW")], "id long, k string"),
            key="id",
            deletion_vectors=True,
        ),
    ),
    "commit_delete-publish": (
        "_publish_replace_from",
        lambda spark, V, path: V.commit_delete(spark, path, "id % 7 = 0"),
    ),
    "commit_delete_dv-publish": (
        "_publish_replace_from",
        lambda spark, V, path: V.commit_delete(
            spark, path, "id % 7 = 0", deletion_vectors=True
        ),
    ),
}


@pytest.mark.parametrize("case", sorted(_FAULTS))
def test_versioned_failed_commit_leaves_only_committed_files(spark, tmp_path, monkeypatch, case):
    """Fault matrix over every versioned write path: an op that fails
    at any point — a write job dying mid-batch, the slot claim, the
    publish — leaves the table at its last committed version, with the
    directory holding ONLY the manifests plus the data and vector files
    the latest manifest references: no staged part file, no vector
    file, no ``.commit-*`` dir. Nothing else would ever reclaim them
    (vacuum sweeps only files expired manifests reference)."""
    from integration_octadeskoctadesk_data_pipeline_useuniformes_spark.sinks import versioned

    path = str(tmp_path / "tbl")
    mk = lambda lo, hi: spark.range(lo, hi).selectExpr(
        "id", "concat('k', id) AS k"
    ).coalesce(1)
    versioned.commit_append(mk(0, 10), path)
    versioned.commit_append(mk(10, 20), path)
    # an existing vector, so the table's state references a vector file
    # and the DV paths subtract it before matching
    versioned.commit_delete(spark, path, "id % 9 = 4", deletion_vectors=True)
    before = versioned.latest_version(path)

    attr, op = _FAULTS[case]
    if attr is not None:
        monkeypatch.setattr(versioned, attr, _injected)
    switch = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)  # interleave the staging threads finely
    try:
        with pytest.raises(Exception, match="injected fault"):
            op(spark, versioned, path)
    finally:
        sys.setswitchinterval(switch)
    monkeypatch.undo()

    assert versioned.latest_version(path) == before, "a failed op publishes nothing"
    m = versioned._manifest_of(path, before)
    referenced = set(m["files"]) | {
        p for e in (m.get("dv") or {}).values() for p in e["files"]
    }
    manifests = {f"_v{v}.json" for v in versioned._manifests(path)}
    on_disk = set(os.listdir(path))
    assert on_disk == referenced | manifests, (on_disk - referenced - manifests, referenced - on_disk)
    ids = {r.id for r in versioned.read_version(spark, path).collect()}
    assert ids == set(range(20)) - {4, 13}
