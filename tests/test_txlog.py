"""Transaction-log table format: ACID commits, time travel, data
skipping, compaction, schema evolution, optimistic concurrency."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from data_engineering_spark.sources.txlog import ConcurrentWriteError, LakeTable


def _r(spark, lo, hi, tag="a"):
    return spark.range(lo, hi).select(
        F.col("id"), F.lit(tag).alias("tag"), (F.col("id") * 2).alias("val")
    )


@pytest.fixture()
def table(spark, tmp_path):
    t = LakeTable(spark, str(tmp_path / "tbl"))
    t.create(_r(spark, 0, 100).coalesce(1))
    return t


def test_create_append_time_travel(spark, table):
    assert table.latest_version() == 0
    table.append(_r(spark, 100, 200, "b").coalesce(1))
    table.append(_r(spark, 200, 300, "c").coalesce(1))
    assert table.scan().count() == 300
    assert table.scan(version=0).count() == 100
    assert table.scan(version=1).count() == 200
    # snapshot content, not just counts
    assert table.scan(version=1).agg(F.max("id")).first()[0] == 199


def test_overwrite_keeps_history(spark, table):
    table.overwrite(_r(spark, 0, 10, "z").coalesce(1))
    assert table.scan().count() == 10
    assert table.scan(version=0).count() == 100
    h = table.history()
    assert h[-1]["n_remove"] >= 1 and h[-1]["n_add"] >= 1


def test_data_skipping_prunes_files(spark, table):
    table.append(_r(spark, 100, 200, "b").coalesce(1))
    table.append(_r(spark, 200, 300, "c").coalesce(1))
    kept, total = table.pruned_files([("id", ">=", 250)])
    assert total == 3 and kept == 1
    kept2, _ = table.pruned_files([("id", ">=", 100), ("id", "<", 150)])
    assert kept2 == 1
    # pruning must never change results
    got = sorted(r.id for r in table.scan(filters=[("id", ">=", 250)]).collect())
    assert got == list(range(250, 300))
    # equality op prunes to the single covering file
    kept3, _ = table.pruned_files([("id", "=", 150)])
    assert kept3 == 1


def test_string_and_filter_semantics(spark, table):
    table.append(_r(spark, 100, 200, "b").coalesce(1))
    # tag='a' only in file 1; tag='b' only in file 2
    kept, total = table.pruned_files([("tag", "=", "b")])
    assert (kept, total) == (1, 2)
    assert table.scan(filters=[("tag", "=", "b")]).count() == 100


def test_compact_single_commit(spark, table, jobs_of):
    """Compaction coalesces the live set in one commit: one write job of
    one stage (no Exchange), at most ``target_partitions`` files."""
    for lo in (100, 200, 300):
        table.append(_r(spark, lo, lo + 100).coalesce(1))
    pre_version = table.latest_version()
    assert len(table.files()) == 4
    _, jobs = jobs_of(lambda: table.compact(target_partitions=1))
    assert len(jobs) == 1, jobs
    assert spark.sparkContext._jsc.sc().statusStore().job(jobs[0]).stageIds().size() == 1
    assert len(table.files()) == 1
    assert table.scan().count() == 400
    table.compact(target_partitions=8)  # one live file: no more than one
    assert len(table.files()) == 1
    # history intact: pre-compaction snapshot still resolves to 4 files
    assert len(table.files(version=pre_version)) == 4
    assert table.scan(version=pre_version).count() == 400


def test_schema_evolution_add_column(spark, table):
    extra = _r(spark, 100, 110, "b").withColumn("extra", F.lit(7)).coalesce(1)
    table.append(extra)
    out = table.scan()
    assert "extra" in out.columns
    # old files read the new column as null
    assert out.filter(F.col("extra").isNull()).count() == 100
    assert out.filter(F.col("extra") == 7).count() == 10
    # type change is rejected
    bad = _r(spark, 0, 1).withColumn("val", F.lit("nope"))
    with pytest.raises(TypeError):
        table.append(bad.coalesce(1))


def test_optimistic_concurrency(spark, table, tmp_path):
    writer2 = LakeTable(spark, str(tmp_path / "tbl"))
    # writer1 snapshots, then writer2 commits first — writer1's commit
    # for the same version number must LOSE, not silently clobber
    snap = table._snapshot()
    writer2.append(_r(spark, 100, 110).coalesce(1))
    actions = [{"remove": {"path": p}} for p in snap.files] + table._stage(
        _r(spark, 0, 5).coalesce(1)
    )
    assert not table._try_commit(snap.version + 1, actions)
    # writer2's data is intact despite the attempted overwrite
    assert table.scan().count() == 110
    # append retries past version collisions transparently
    v = table.append(_r(spark, 300, 310).coalesce(1))
    assert v == table.latest_version()
    assert table.scan().count() == 120


def test_vacuum_drops_old_versions(spark, table):
    table.overwrite(_r(spark, 0, 10).coalesce(1))
    removed = table.vacuum(retain_versions=1)
    assert removed  # the create-time file is gone
    assert table.scan().count() == 10
    with pytest.raises(Exception):
        table.scan(version=0).collect()


def test_txn_append_idempotent(spark, table):
    v1 = table.append(_r(spark, 100, 110).coalesce(1), txn=("app1", 0))
    n_files = len(table.files())
    # replay of the same (app, batch): no new version, no new files
    v2 = table.append(_r(spark, 100, 110).coalesce(1), txn=("app1", 0))
    assert v2 == v1 == table.latest_version()
    assert len(table.files()) == n_files
    assert table.scan().count() == 110
    # a DIFFERENT app with the same batch number is not deduplicated
    table.append(_r(spark, 200, 205).coalesce(1), txn=("app2", 0))
    assert table.scan().count() == 115
    # and the next batch of app1 goes through
    table.append(_r(spark, 300, 305).coalesce(1), txn=("app1", 1))
    assert table.scan().count() == 120
    # no orphaned parquet files from the skipped replay
    on_disk = [f for f in os.listdir(table.path) if f.endswith(".parquet")]
    assert sorted(on_disk) == sorted(table.files())


def test_txn_overwrite_idempotent(spark, table):
    v1 = table.overwrite(_r(spark, 0, 10).coalesce(1), txn=("job", 5))
    v2 = table.overwrite(_r(spark, 50, 90).coalesce(1), txn=("job", 5))
    assert v1 == v2
    assert table.scan().count() == 10  # replay did not clobber


def test_txn_survives_checkpoint(spark, tmp_path):
    t = LakeTable(spark, str(tmp_path / "txncp"), checkpoint_every=2)
    t.create(_r(spark, 0, 10).coalesce(1))
    for b in range(4):
        t.append(_r(spark, 100 + b * 10, 110 + b * 10).coalesce(1), txn=("s", b))
    # marker for batch 3 is only reachable through the checkpoint replay
    v = t.append(_r(spark, 900, 910).coalesce(1), txn=("s", 3))
    assert v == t.latest_version()
    assert t.scan().count() == 50


def test_checkpoint_replay(spark, tmp_path):
    t = LakeTable(spark, str(tmp_path / "cp"), checkpoint_every=3)
    t.create(_r(spark, 0, 10).coalesce(1))
    for i in range(1, 7):
        t.append(_r(spark, i * 10, i * 10 + 10).coalesce(1))
    assert any(f.startswith("checkpoint-") for f in os.listdir(t.log_dir))
    assert t.scan().count() == 70
    assert t.scan(version=2).count() == 30  # below the checkpoint


def test_delete_where_rewrites_only_candidates(spark, table):
    table.append(_r(spark, 100, 200, "b").coalesce(1))
    table.append(_r(spark, 200, 300, "c").coalesce(1))
    before = set(table.files())
    # sargable prune: only the middle file can contain id 100..149
    table.delete_where("id >= 100 AND id < 150", prune_filters=[("id", ">=", 100), ("id", "<", 150)])
    after = set(table.files())
    # files 1 and 3 kept their identity; file 2 was rewritten
    assert len(before & after) == 2
    assert table.scan().count() == 250
    assert table.scan().filter("id >= 100 and id < 150").count() == 0
    # no-candidate delete is a no-op commit-wise
    v = table.latest_version()
    assert table.delete_where("id > 99999", prune_filters=[("id", ">", 99999)]) == v


def test_update_where(spark, table):
    table.update_where("id < 10", {"val": "val + 1000"})
    rows = {r.id: r.val for r in table.scan().collect()}
    assert rows[5] == 5 * 2 + 1000
    assert rows[50] == 100  # untouched row keeps val = id * 2


def test_update_where_preserves_logged_column_types(spark, table):
    """An UPDATE expression whose natural type widens the column (long *
    1.1 → double) must be cast back to the logged type — otherwise the
    rewritten files' parquet type drifts from the schema every later
    read enforces."""
    table.update_where("id < 10", {"val": "val * 1.1"})
    out = table.scan()
    assert dict(out.dtypes)["val"] == "bigint"
    # values readable end-to-end after the rewrite (truncating SQL cast)
    got = {r.id: r.val for r in out.filter("id < 3").collect()}
    assert got == {0: 0, 1: 2, 2: 4}  # val*1.1 truncated back to long
    with pytest.raises(KeyError, match="not in table schema"):
        table.update_where("id < 10", {"nope": "1"})


def test_restore_old_version(spark, table):
    table.append(_r(spark, 100, 200, "b").coalesce(1))
    table.overwrite(_r(spark, 0, 5).coalesce(1))
    table.restore(0)
    assert table.scan().count() == 100
    assert {r.tag for r in table.scan().select("tag").distinct().collect()} == {"a"}
    # restored table keeps working normally
    table.append(_r(spark, 500, 510, "z").coalesce(1))
    assert table.scan().count() == 110


def _pdf(spark, days, tag="a"):
    rows = [(d, i, tag) for d in days for i in range(10)]
    return spark.createDataFrame(rows, "day string, n long, tag string")


def test_partitioned_roundtrip_and_pruning(spark, tmp_path):
    t = LakeTable(spark, str(tmp_path / "ptbl"))
    t.create(_pdf(spark, ["2024-01-01", "2024-01-02", "2024-01-03"]),
             partition_by=["day"])
    out = t.scan()
    assert set(out.columns) == {"day", "n", "tag"}
    assert out.count() == 30
    assert out.filter("day = '2024-01-02'").count() == 10
    # partition pruning is EXACT (value match, not min/max)
    kept, total = t.pruned_files([("day", "=", "2024-01-02")])
    assert kept < total
    got = t.scan(filters=[("day", ">=", "2024-01-02")]).count()
    assert got == 20


def test_replace_partitions_is_idempotent_swap(spark, tmp_path):
    t = LakeTable(spark, str(tmp_path / "ps"))
    t.create(_pdf(spark, ["2024-01-01", "2024-01-02"]), partition_by=["day"])
    untouched_before = {
        p for p, st in t.files().items()
        if st.get("partition", {}).get("day") == "2024-01-01"
    }
    # reload day 2 with different content (5 rows instead of 10)
    reload2 = _pdf(spark, ["2024-01-02"], tag="z").filter("n < 5")
    t.replace_partitions(reload2, ["day"])
    out = t.scan()
    assert out.filter("day = '2024-01-01'").count() == 10  # untouched
    assert out.filter("day = '2024-01-02'").count() == 5
    assert {r.tag for r in out.filter("day = '2024-01-02'").collect()} == {"z"}
    # untouched partition kept file identity; old version still reads
    untouched_after = {
        p for p, st in t.files().items()
        if st.get("partition", {}).get("day") == "2024-01-01"
    }
    assert untouched_before == untouched_after
    assert t.scan(version=0).filter("day = '2024-01-02'").count() == 10
    # re-running the same load replaces, not duplicates
    t.replace_partitions(reload2, ["day"])
    assert t.scan().filter("day = '2024-01-02'").count() == 5


def test_replace_partitions_caps_partition_cardinality(spark, tmp_path, monkeypatch):
    """A runaway high-cardinality partition_by must fail loudly instead
    of collecting millions of tuples to the driver."""
    t = LakeTable(spark, str(tmp_path / "cap"))
    t.create(_pdf(spark, ["2024-01-01"]), partition_by=["day"])
    monkeypatch.setattr(LakeTable, "MAX_PARTITIONS_PER_COMMIT", 3)
    wide = spark.range(10).selectExpr(
        "cast(id as string) as day", "id as n", "'t' as tag"
    )
    with pytest.raises(ValueError, match="distinct partition tuples"):
        t.replace_partitions(wide, ["day"])


def test_partition_values_needing_escaping_roundtrip(spark, tmp_path):
    """Hive dir names URL-escape ``:`` and space and spell null as
    __HIVE_DEFAULT_PARTITION__ — add-actions must store the UNESCAPED
    value so pruning, replace_partitions matching, and literal
    re-attachment all agree with what user filters contain."""
    days = ["2024-01-01 00:00:00", "ts:a b", None]
    t = LakeTable(spark, str(tmp_path / "esc"))
    t.create(_pdf(spark, days), partition_by=["day"])

    out = t.scan()
    assert out.count() == 30
    # re-attached literals are unescaped, not %-encoded dir segments
    assert {r["day"] for r in out.select("day").distinct().collect()} == set(days)
    # '=' pruning must keep the matching file (wrong-representation
    # compare used to prune the live file -> 0 rows)
    assert t.scan(filters=[("day", "=", "ts:a b")]).count() == 10
    kept, total = t.pruned_files([("day", "=", "ts:a b")])
    assert kept < total
    # null partition never prunes away and survives the roundtrip
    assert out.filter(F.col("day").isNull()).count() == 10

    # replace_partitions must MATCH escaped-value partitions (used to
    # miss -> silent duplicates)
    reload_esc = _pdf(spark, ["ts:a b"], tag="z").filter("n < 5")
    t.replace_partitions(reload_esc, ["day"])
    got = t.scan().filter("day = 'ts:a b'")
    assert got.count() == 5
    assert {r.tag for r in got.collect()} == {"z"}
    # and the null partition replaces, not duplicates, too
    reload_null = _pdf(spark, [None], tag="z").filter("n < 3")
    t.replace_partitions(reload_null, ["day"])
    assert t.scan().filter(F.col("day").isNull()).count() == 3
    assert t.scan().count() == 10 + 5 + 3


def test_dml_preserves_partition_metadata(spark, tmp_path):
    t = LakeTable(spark, str(tmp_path / "pdml"))
    t.create(_pdf(spark, ["2024-01-01", "2024-01-02"]), partition_by=["day"])
    t.delete_where("n >= 5")
    assert t.scan().count() == 10
    # rewritten files still carry partition tuples → exact pruning works
    kept, total = t.pruned_files([("day", "=", "2024-01-01")])
    assert kept < total
    assert all("partition" in st for st in t.files().values())
    assert t.scan(filters=[("day", "=", "2024-01-02")]).count() == 5


def test_random_op_sequences_match_model_and_time_travel(spark, tmp_path):
    """Model-based check over the whole DML surface: seeded random
    sequences of append / delete_where / update_where /
    replace_partitions must leave scan() equal to a dict-replay model at
    EVERY step, and every committed version must time-travel back to
    exactly the model state it was committed with."""
    import random

    schema = "id long, val long, day string"
    for seed in (1, 7):
        rng = random.Random(seed)
        t = LakeTable(spark, str(tmp_path / f"rnd{seed}"))
        rows = [(i, rng.randint(0, 50), str(rng.randint(0, 3))) for i in range(20)]
        t.create(spark.createDataFrame(rows, schema), partition_by=["day"])
        model = {i: (v, d) for i, v, d in rows}
        by_version = {t.latest_version(): dict(model)}
        for step in range(8):
            op = rng.choice(["append", "delete", "update", "replace"])
            if op == "append":
                new = [
                    (100 + step * 10 + j, rng.randint(0, 50), str(rng.randint(0, 3)))
                    for j in range(5)
                ]
                t.append(spark.createDataFrame(new, schema), partition_by=["day"])
                model.update({i: (v, d) for i, v, d in new})
            elif op == "delete":
                cut = rng.randint(0, 50)
                t.delete_where(f"val < {cut}")
                model = {i: vd for i, vd in model.items() if not vd[0] < cut}
            elif op == "update":
                cut = rng.randint(0, 50)
                t.update_where(f"val >= {cut}", {"val": "val + 1"})
                model = {
                    i: (v + 1 if v >= cut else v, d) for i, (v, d) in model.items()
                }
            else:
                day = str(rng.randint(0, 3))
                new = [(200 + step * 10 + j, rng.randint(0, 50), day) for j in range(3)]
                t.replace_partitions(spark.createDataFrame(new, schema), ["day"])
                model = {i: vd for i, vd in model.items() if vd[1] != day}
                model.update({i: (v, d) for i, v, d in new})
            by_version[t.latest_version()] = dict(model)
            got = {r.id: (r.val, r.day) for r in t.scan().collect()}
            assert got == model, (seed, step, op)
        for v, m in by_version.items():
            got = {r.id: (r.val, r.day) for r in t.scan(version=v).collect()}
            assert got == m, (seed, v)


# --------------------------------------------------------------- r10 review


def test_replace_partitions_matches_bool_and_float_partition_values(spark, tmp_path):
    """r10 review: victims were matched via Python str(value) against
    Spark's Hive dir-name rendering, which disagree for booleans
    ('True' vs 'true') and scientific-notation floats — so a 'replaced'
    partition silently kept BOTH old and new files. The incoming set
    now comes from the staged add-actions (same rendering as stored)."""
    t = LakeTable(spark, str(tmp_path / "boolpart"))
    df0 = spark.createDataFrame(
        [(1, True, "old"), (2, False, "old")], "id long, flag boolean, tag string"
    )
    t.create(df0, partition_by=["flag"])
    df1 = spark.createDataFrame([(3, True, "new")], "id long, flag boolean, tag string")
    t.replace_partitions(df1, ["flag"])
    rows = {(r.id, r.flag, r.tag) for r in t.scan().collect()}
    # flag=True partition fully replaced; flag=False untouched
    assert rows == {(3, True, "new"), (2, False, "old")}, rows


def test_scan_filter_on_numeric_partition_column_loses_no_rows(spark, tmp_path):
    """r10 review: partition-value pruning compared strings while the
    Spark filter compares typed values — scan(('n', '>', '9')) pruned
    the n=10 file lexicographically ('10' <= '9') and silently lost its
    rows. Partition pruning now applies only to string-SCHEMA columns."""
    t = LakeTable(spark, str(tmp_path / "intpart"))
    df = spark.createDataFrame(
        [(i, n) for n in (1, 9, 10) for i in range(3)], "id long, n int"
    )
    t.create(df, partition_by=["n"])
    got = {r.n for r in t.scan(filters=[("n", ">", "9")]).collect()}
    assert got == {10}, got
    # equality with a non-canonical string form must not wrongly prune
    kept, total = t.pruned_files([("n", "=", "09")])
    assert kept == total  # no pruning claims on a non-string column
    # string-typed partitions still prune exactly
    t2 = LakeTable(spark, str(tmp_path / "strpart"))
    t2.create(
        spark.createDataFrame([(1, "a"), (2, "b")], "id long, k string"),
        partition_by=["k"],
    )
    kept2, total2 = t2.pruned_files([("k", "=", "a")])
    assert kept2 < total2


def test_create_modes_follow_dataframewriter_semantics(spark, tmp_path):
    """r10 review: create(mode='ignore'/'append') routed to a FULL
    overwrite, destroying the table for callers using Spark-conventional
    modes. Now: ignore = no-op, append = append, unknown mode raises."""
    t = LakeTable(spark, str(tmp_path / "modes"))
    t.create(_r(spark, 0, 10).coalesce(1))
    v = t.create(_r(spark, 10, 20, "b").coalesce(1), mode="ignore")
    assert v == 0 and t.scan().count() == 10  # untouched
    v = t.create(_r(spark, 10, 20, "b").coalesce(1), mode="append")
    assert v == 1 and t.scan().count() == 20
    with pytest.raises(ValueError, match="unknown mode"):
        t.create(_r(spark, 0, 1).coalesce(1), mode="overwrte")
    v = t.create(_r(spark, 0, 5, "c").coalesce(1), mode="overwrite")
    assert v == 2 and t.scan().count() == 5


def test_vacuum_rejects_zero_retention(spark, table):
    """r10 review: vacuum(retain_versions=0) built an empty keep-set and
    physically deleted every LIVE data file of the current version."""
    with pytest.raises(ValueError, match="retain_versions"):
        table.vacuum(retain_versions=0)
    # the guard didn't break the normal path
    table.overwrite(_r(spark, 0, 10, "b").coalesce(1))
    removed = table.vacuum(retain_versions=1)
    assert removed and table.scan().count() == 10


def test_commit_loser_leaves_no_partial_or_tmp_files(spark, table):
    """r10 review: the commit payload now publishes atomically (tmp +
    hard link), so a lost race leaves neither a truncated version file
    nor a stray tmp — and the winner's file is always complete JSON."""
    import json

    v = table.latest_version() + 1
    assert table._try_commit(v, [{"txn": {"app": "x", "version": 1}}])
    assert not table._try_commit(v, [{"txn": {"app": "y", "version": 1}}])
    with open(table._version_path(v)) as fh:
        payload = json.load(fh)  # complete, parseable
    assert payload["version"] == v
    stray = [f for f in os.listdir(table.log_dir) if f.startswith(".commit-")]
    assert stray == []


def test_replace_partitions_applies_append_schema_discipline(spark, tmp_path):
    """r10 review: replace_partitions committed files without schema
    merge or type check. New columns must widen the logged schema (old
    files read them as null); type changes must be rejected."""
    t = LakeTable(spark, str(tmp_path / "drift"))
    t.create(
        spark.createDataFrame([(1, "d1", 5)], "id long, day string, v long"),
        partition_by=["day"],
    )
    widened = spark.createDataFrame(
        [(2, "d2", 6, "x")], "id long, day string, v long, extra string"
    )
    t.replace_partitions(widened, ["day"])
    rows = {(r.id, r.day, r.v, r.extra) for r in t.scan().collect()}
    assert rows == {(1, "d1", 5, None), (2, "d2", 6, "x")}, rows
    retyped = spark.createDataFrame([(3, "d3", 7.5)], "id long, day string, v double")
    with pytest.raises(TypeError, match="changes type"):
        t.replace_partitions(retyped, ["day"])


def test_file_stats_statless_row_group_poisons_column_bounds(monkeypatch, spark):
    """r10 review: a row group with DATA but no usable stats must drop
    the column from file-level bounds (under-covered bounds let
    _maybe_skip prune files that hold matching rows); an all-null
    statless group is safe and only adds to the null count."""
    from types import SimpleNamespace as NS

    import pyarrow.parquet as pq

    from data_engineering_spark.sources import txlog

    def fake_group(cols, rows):
        return NS(
            num_columns=len(cols),
            num_rows=rows,
            column=lambda ci, _c=cols: NS(
                path_in_schema=_c[ci][0], statistics=_c[ci][1]
            ),
        )

    st = lambda mn, mx, nulls=0: NS(  # noqa: E731
        has_min_max=True, min=mn, max=mx, null_count=nulls
    )
    groups = [
        fake_group([("s", st("a", "b")), ("ok", st(1, 5))], rows=10),
        # s: statless group WITH data → poisoned; ok: all-null → kept
        fake_group(
            [("s", None), ("ok", NS(has_min_max=False, null_count=10))], rows=10
        ),
    ]
    md = NS(num_row_groups=2, num_rows=20, row_group=lambda i: groups[i])
    monkeypatch.setattr(pq, "ParquetFile", lambda path: NS(metadata=md))
    stats = txlog._file_stats("ignored")["columns"]
    assert "s" not in stats
    assert stats["ok"] == {"min": 1, "max": 5, "nulls": 10}


def test_overwrite_expected_version_gates_lost_update(spark, table, tmp_path):
    """The read-modify-write window (r12 streaming review): a caller that
    scanned version v and derived its overwrite from it must FAIL if
    another writer landed in between — overwrite's own fresh snapshot
    would otherwise remove the concurrent commit's files and replace
    them with data derived from the stale read (lost update, no error)."""
    writer2 = LakeTable(spark, str(tmp_path / "tbl"))
    v = table.latest_version()
    derived = table.scan(version=v).filter("id < 50")
    writer2.append(_r(spark, 100, 110).coalesce(1))  # concurrent commit
    with pytest.raises(ConcurrentWriteError, match="read snapshot"):
        table.overwrite(derived, expected_version=v)
    # the concurrent writer's rows survived
    assert table.scan().count() == 110
    # retry after re-read succeeds
    v2 = table.latest_version()
    table.overwrite(table.scan(version=v2).filter("id < 50"), expected_version=v2)
    assert table.scan().count() == 50
    # idempotent replay: a txn whose first attempt committed no-ops
    # cleanly even though the version gate is stale
    v3 = table.latest_version()
    table.overwrite(_r(spark, 0, 5).coalesce(1), txn=("app", 7), expected_version=v3)
    assert (
        table.overwrite(_r(spark, 0, 5).coalesce(1), txn=("app", 7), expected_version=v3)
        == table.latest_version()
    )


def test_cdc_upsert_sink_version_gated(spark, tmp_path):
    """cdc_upsert_sink pins its scan version and passes it through —
    end-to-end: one batch applies; a replay of the same batch_id no-ops."""
    from data_engineering_spark.streaming.streams import cdc_upsert_sink

    t = LakeTable(spark, str(tmp_path / "cdc_tbl"))
    t.create(spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string"))
    sink = cdc_upsert_sink(t, ["k"], app_id="cdcapp")
    batch = spark.createDataFrame(
        [(2, "B", "U", 1), (3, "c", "I", 2), (1, None, "D", 3)],
        "k long, v string, op string, seq long",
    )
    sink(batch, 0)
    assert {r.k: r.v for r in t.scan().collect()} == {2: "B", 3: "c"}
    sink(batch, 0)  # replay no-ops via the txn marker
    assert t.scan().count() == 2


def test_compact_preserves_partition_layout(spark, tmp_path):
    """Compaction must keep every file's partition tuple in the log —
    the unpartitioned re-stage stripped them, so a later
    replace_partitions could not match victims inside compacted files
    and the 'replaced' partition kept BOTH old and new rows (r12 txlog
    re-pass)."""
    t = LakeTable(spark, str(tmp_path / "pt"))
    df = spark.createDataFrame(
        [(1, "d1", "old"), (2, "d1", "old"), (3, "d2", "keep")],
        "id long, day string, v string",
    )
    t.create(df, partition_by=["day"])
    t.compact(target_partitions=1)
    assert all("partition" in st for st in t.files().values())
    newer = spark.createDataFrame([(9, "d1", "new")], "id long, day string, v string")
    t.replace_partitions(newer, ["day"])
    got = {(r.id, r.v) for r in t.scan().collect()}
    assert got == {(9, "new"), (3, "keep")}  # no duplicate d1 rows


def test_restore_to_vacuumed_version_raises(spark, tmp_path):
    """Restoring a version whose files were vacuumed must raise up
    front, not commit a live set whose files are gone (r12 txlog
    re-pass)."""
    t = LakeTable(spark, str(tmp_path / "rv"))
    t.create(_r(spark, 0, 10).coalesce(1))
    t.overwrite(_r(spark, 100, 110).coalesce(1))
    t.overwrite(_r(spark, 200, 210).coalesce(1))
    t.vacuum(retain_versions=1)
    with pytest.raises(FileNotFoundError, match="not .*restorable|no longer"):
        t.restore(0)
    # a retained version still restores, with partition-free adds intact
    v = t.restore(t.latest_version())
    assert v == t.latest_version() and t.scan().count() == 10


def test_version_changes_prunes_shared_files_and_matches_full_diff(spark, tmp_path):
    """The CDF path must (a) emit exactly the full-scan diff's change
    set and (b) never scan files shared by both snapshots — at real
    churn rates that pruning is the difference between reading the
    rewritten fraction and reading the table twice."""
    t = LakeTable(spark, str(tmp_path / "cdf"))
    df = spark.range(0, 400).select(
        F.col("id"), (F.col("id") % 7).cast("double").alias("v")
    )
    t.create(df.repartitionByRange(8, "id"))
    # touch a narrow key range: only 1-2 of the 8 files rewrite
    t.update_where("id >= 0 AND id < 30", {"v": "v + 100.0"},
                   prune_filters=[("id", "<", 30)])
    t.delete_where("id >= 390", prune_filters=[("id", ">=", 390)])
    changes = t.version_changes(0, None, ["id"], ["v"])
    got = {(r.id, r.change) for r in changes.collect()}
    expect = {(i, "changed") for i in range(30)} | {(i, "removed") for i in range(390, 400)}
    assert got == expect
    # pruning observability: most of the 8 base files are shared
    stats = t.last_cdf_files
    assert stats["shared_pruned"] >= 5, stats
    assert stats["old_scanned"] <= 3 and stats["new_scanned"] <= 3, stats
    # a key whose values are all NULL still counts present (marker
    # literals, not nullable value columns)
    t2 = LakeTable(spark, str(tmp_path / "cdf2"))
    t2.create(spark.createDataFrame([(1, None)], "id long, v double").coalesce(1))
    t2.delete_where("id = 1")
    rows = t2.version_changes(0, None, ["id"], ["v"]).collect()
    assert len(rows) == 1 and rows[0].change == "removed" and rows[0].old_v is None


def test_optimize_zorder_improves_pruning_atomically(spark, tmp_path):
    """OPTIMIZE ZORDER BY: one commit re-clusters the live set so file
    stats prune on BOTH z-ordered columns; old versions still time-
    travel; partitioned tables are rejected (the compact() partition-
    stripping hazard, prevented rather than repeated)."""
    t = LakeTable(spark, str(tmp_path / "zopt"))
    # interleaved layout: every file spans the full range of both cols,
    # so pre-OPTIMIZE stats prune nothing
    df = spark.range(0, 4000).select(
        F.col("id"),
        (F.col("id") % 100).cast("double").alias("x"),
        ((F.col("id") * 7) % 100).cast("double").alias("y"),
    )
    t.create(df.repartition(8))
    kept_before_x, total = t.pruned_files([("x", "<", 10.0)])
    v = t.optimize_zorder(["x", "y"], target_files=8)
    kept_x, total_x = t.pruned_files([("x", "<", 10.0)])
    kept_y, total_y = t.pruned_files([("y", ">=", 90.0)])
    assert kept_before_x == total  # nothing pruned pre-OPTIMIZE
    assert kept_x < total_x and kept_y < total_y  # both columns prune now
    # row set unchanged, atomically; time travel intact
    assert t.scan().count() == 4000
    assert t.scan(version=v - 1).count() == 4000
    assert {r.id for r in t.scan(filters=[("x", "<", 1.0)]).collect()} == {
        r.id for r in t.scan(version=v - 1, filters=[("x", "<", 1.0)]).collect()
    }
    # partitioned tables refuse a global z-order
    tp = LakeTable(spark, str(tmp_path / "zopt_p"))
    tp.create(
        spark.createDataFrame([(1, "a", 1.0), (2, "b", 2.0)], "id long, day string, v double"),
        partition_by=["day"],
    )
    with pytest.raises(ValueError, match="hive-partitioned"):
        tp.optimize_zorder(["v"])


def test_compact_rejects_mixed_partition_layouts(spark, tmp_path):
    """A partitioned create followed by an UNPARTITIONED append leaves
    two partition key sets in the live files; compacting that silently
    flattened the layout (partition_by fell back to None), stripping
    every partition tuple — the replace_partitions duplicate-row hazard
    again (r12 advice). compact() must refuse loudly, mirroring
    optimize_zorder."""
    t = LakeTable(spark, str(tmp_path / "mix"))
    t.create(
        spark.createDataFrame([(1, "d1", "a"), (2, "d2", "b")],
                              "id long, day string, v string"),
        partition_by=["day"],
    )
    # append WITHOUT the partition layout → second key set in the log
    t.append(spark.createDataFrame([(3, "d1", "c")],
                                   "id long, day string, v string"))
    with pytest.raises(ValueError, match="differing partition key sets"):
        t.compact()
    # uniformly-partitioned and uniformly-unpartitioned tables still compact
    tp = LakeTable(spark, str(tmp_path / "uni"))
    tp.create(spark.range(10).coalesce(2))
    tp.append(spark.range(10, 20).coalesce(2))
    tp.compact()
    assert tp.scan().count() == 20


def test_version_changes_across_widened_schema(spark, tmp_path):
    """CDF over a version range in which the schema WIDENED: default
    value_cols come from the new schema, and the old side projects the
    new column as a typed NULL instead of raising AnalysisException
    (r12 advice). A pre-widening key that gains a value is 'changed'
    with old_<col> NULL; keys in files shared by both snapshots stay
    pruned (their new column reads NULL on both sides)."""
    t = LakeTable(spark, str(tmp_path / "widen"))
    t.create(
        spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string").coalesce(1)
    )
    # widened append: new column w arrives with new rows only
    t.append(
        spark.createDataFrame([(3, "c", 7.5)], "id long, v string, w double").coalesce(1)
    )
    ch = t.version_changes(0, None, ["id"])
    got = {r.id: (r.change, r.old_w, r.new_w) for r in ch.collect()}
    # ids 1,2 live in a shared file → pruned, no change rows
    assert got == {3: ("added", None, 7.5)}
    # a REWRITE after widening surfaces old_w as NULL for changed keys
    t.update_where("id = 1", {"v": "'A'"})
    ch2 = t.version_changes(0, None, ["id"])
    got2 = {r.id: (r.change, r.old_w, r.new_w) for r in ch2.collect()}
    assert got2[1] == ("changed", None, None) and got2[3][0] == "added"
    # value col in neither schema, and a key col absent from one side, raise
    with pytest.raises(ValueError, match="neither snapshot"):
        t.version_changes(0, None, ["id"], ["nope"])
    with pytest.raises(ValueError, match="key column"):
        t.version_changes(0, None, ["w", "id"])  # w absent from v0


def test_rewrite_where_preserves_mixed_partition_layouts(spark, tmp_path):
    """delete_where/update_where on a MIXED-layout live set must re-stage
    each layout group with its own partition key set — the old single
    partition_by fallback flattened every candidate to unpartitioned,
    silently stripping partition tuples (the compact() hazard, r13 txlog
    re-pass)."""
    t = LakeTable(spark, str(tmp_path / "mixrw"))
    t.create(
        spark.createDataFrame(
            [(1, "d1", 10.0), (2, "d2", 20.0)], "id long, day string, v double"
        ),
        partition_by=["day"],
    )
    t.append(
        spark.createDataFrame([(3, "d1", 30.0)], "id long, day string, v double")
    )  # unpartitioned file → second layout group
    t.update_where("v >= 10.0", {"v": "v + 1.0"})  # touches every file
    # each rewritten file keeps its own layout
    layouts = {tuple(sorted(st.get("partition", {}))) for st in t.files().values()}
    assert layouts == {(), ("day",)}, layouts
    assert {(r.id, r.v) for r in t.scan().collect()} == {
        (1, 11.0), (2, 21.0), (3, 31.0)
    }
    # partitioned group still replaceable without duplicates
    t.delete_where("id = 3")  # clears the unpartitioned group
    layouts = {tuple(sorted(st.get("partition", {}))) for st in t.files().values()}
    assert layouts == {("day",)}, layouts
    t.replace_partitions(
        spark.createDataFrame([(9, "d1", 99.0)], "id long, day string, v double"),
        ["day"],
    )
    assert {(r.id, r.v) for r in t.scan().collect()} == {(9, 99.0), (2, 21.0)}


def test_dv_delete_basic_and_cumulative(spark, tmp_path):
    """Merge-on-read DELETE: positions commit to the log, no data file
    moves; vectors accumulate across commits; time travel sees the
    pre-delete rows; filters/pruned scans compose."""
    t = LakeTable(spark, str(tmp_path / "dv"))
    t.create(spark.range(0, 100).select(F.col("id"), (F.col("id") % 10).alias("m")).coalesce(2))
    files_before = set(t.files())
    v1 = t.delete_where_dv("id < 5")
    assert set(t.files()) == files_before  # no rewrite
    assert t.scan().count() == 95
    assert {r.id for r in t.scan(filters=[("id", "<", 7)]).collect()} == {5, 6}
    # cumulative second DV on the same files
    t.delete_where_dv("m = 9")
    assert t.scan().count() == 85
    dvs = t.deletion_vectors()
    assert sum(len(v) for v in dvs.values()) == 15
    assert all(v == sorted(v) for v in dvs.values())
    # time travel: v0 full, v1 sees only the first delete
    assert t.scan(version=0).count() == 100
    assert t.scan(version=v1).count() == 95
    # no-match predicate commits nothing
    v = t.latest_version()
    assert t.delete_where_dv("id = -1") == v


def test_dv_full_file_coverage_removes_file(spark, tmp_path):
    """A DV covering every row of a file removes the file from the live
    set instead of carrying a fully-dead vector."""
    t = LakeTable(spark, str(tmp_path / "dvfull"))
    t.create(spark.range(0, 10).coalesce(1))
    t.append(spark.range(10, 20).coalesce(1))
    t.delete_where_dv("id >= 10")
    assert t.scan().count() == 10
    assert len(t.files()) == 1 and not t.deletion_vectors()


def test_dv_sparse_cap_raises(spark, tmp_path):
    t = LakeTable(spark, str(tmp_path / "dvcap"))
    t.create(spark.range(0, 50).coalesce(1))
    with pytest.raises(ValueError, match="sparse"):
        t.delete_where_dv("id >= 0", max_rows_per_commit=10)


def test_dv_interacts_with_rewrite_compact_restore_cdf(spark, tmp_path):
    """DV-aware composition: copy-on-write DML and compaction read
    through the vectors and clear them; restore re-establishes the
    target version's vectors; CDF treats a same-path file with a
    changed DV as rewritten (NOT prunable) and emits the removals."""
    t = LakeTable(spark, str(tmp_path / "dvmix"))
    t.create(
        spark.range(0, 40).select(F.col("id"), (F.col("id") * 2).alias("v")).coalesce(2)
    )
    v_dv = t.delete_where_dv("id IN (1, 3, 5)")
    # CDF across the DV commit: rows removed, shared files NOT pruned away
    ch = {(r.id, r.change) for r in t.version_changes(0, None, ["id"]).collect()}
    assert ch == {(1, "removed"), (3, "removed"), (5, "removed")}
    # copy-on-write update reads DV-aware and clears vectors on rewrite
    t.update_where("id = 7", {"v": "999"})
    assert not t.deletion_vectors()
    got = {r.id: r.v for r in t.scan().collect()}
    assert got[7] == 999 and 1 not in got and len(got) == 37
    # restore back to the DV version resurrects vectors, not deleted rows
    t.restore(v_dv)
    assert t.scan().count() == 37
    assert sum(len(v) for v in t.deletion_vectors().values()) == 3
    # compact materializes DVs away
    t.compact()
    assert not t.deletion_vectors() and t.scan().count() == 37
    assert {r.id for r in t.scan().collect()} == set(range(40)) - {1, 3, 5}


def test_dv_on_partitioned_table(spark, tmp_path):
    """DVs compose with hive-partitioned layouts: the position read and
    the partition-value re-attach share the basename join machinery."""
    t = LakeTable(spark, str(tmp_path / "dvpart"))
    t.create(
        spark.createDataFrame(
            [(i, "d1" if i < 5 else "d2", float(i)) for i in range(10)],
            "id long, day string, v double",
        ),
        partition_by=["day"],
    )
    t.delete_where_dv("id IN (2, 7)")
    got = {(r.id, r.day) for r in t.scan().collect()}
    assert len(got) == 8 and (2, "d1") not in got and (7, "d2") not in got
    # partition pruning still composes with the DV read
    assert {r.id for r in t.scan(filters=[("day", "=", "d1")]).collect()} == {0, 1, 3, 4}


def test_dv_survives_checkpoint_replay(spark, tmp_path):
    """Vectors round-trip through log checkpoints: a reader whose replay
    starts at a checkpoint must see the same DV state as a full replay."""
    t = LakeTable(spark, str(tmp_path / "dvcp"), checkpoint_every=3)
    t.create(spark.range(0, 30).coalesce(1))
    t.delete_where_dv("id = 0")   # v1
    t.delete_where_dv("id = 1")   # v2
    t.append(spark.range(30, 31).coalesce(1))  # v3 → checkpoint written
    t.delete_where_dv("id = 2")   # v4
    assert os.path.exists(os.path.join(str(tmp_path / "dvcp"), "_txlog", "checkpoint-3.json"))
    fresh = LakeTable(spark, str(tmp_path / "dvcp"))
    assert fresh.scan().count() == 28
    assert sum(len(v) for v in fresh.deletion_vectors().values()) == 3
