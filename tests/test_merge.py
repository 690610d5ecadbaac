"""Keyed mutation operators: MERGE, CDC apply, SCD2."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from data_engineering_spark.operators.merge import apply_cdc, merge_upsert, scd2_apply


def test_merge_update_insert_passthrough(spark):
    tgt = spark.createDataFrame([(1, "a", 10), (2, "b", 20)], ["k", "name", "v"])
    src = spark.createDataFrame([(2, "B", 99), (3, "c", 30)], ["k", "name", "v"])
    out = {r.k: (r.name, r.v) for r in merge_upsert(tgt, src, ["k"]).collect()}
    assert out == {1: ("a", 10), 2: ("B", 99), 3: ("c", 30)}


def test_merge_null_payload_still_updates(spark):
    # a source row whose payload is entirely NULL must still overwrite
    # (the presence flag, not the payload, decides matched-ness)
    tgt = spark.createDataFrame([(1, "a")], ["k", "name"])
    src = spark.createDataFrame([(1, None)], "k long, name string")
    out = merge_upsert(tgt, src, ["k"]).collect()
    assert out[0].name is None


def test_merge_rejects_column_mismatch(spark):
    tgt = spark.createDataFrame([(1, "a")], ["k", "name"])
    src = spark.createDataFrame([(1, "a", 2)], ["k", "name", "extra"])
    with pytest.raises(ValueError):
        merge_upsert(tgt, src, ["k"])


def test_merge_rejects_duplicate_source_keys(spark):
    """A non-unique source key would silently fan out matched target
    rows — the plan-embedded guard must fail the job instead."""
    from pyspark.errors import PySparkException

    tgt = spark.createDataFrame([(1, "a")], ["k", "name"])
    src = spark.createDataFrame([(1, "x"), (1, "y"), (2, "z")], ["k", "name"])
    with pytest.raises(PySparkException, match="multiple source rows"):
        merge_upsert(tgt, src, ["k"]).collect()
    # opt-out for callers who accept last-write-wins nondeterminism
    assert merge_upsert(tgt, src, ["k"], validate_source_keys=False).count() == 3


def test_merge_null_source_keys_insert_without_tripping_guard(spark):
    """Null-key source rows never match any target row (the join equality
    is null-unsafe), so two of them legally insert two rows — the
    duplicate-key guard must not fire on them."""
    tgt = spark.createDataFrame([(1, "a")], "k long, name string")
    src = spark.createDataFrame([(None, "x"), (None, "y"), (2, "b")], "k long, name string")
    out = merge_upsert(tgt, src, ["k"]).collect()
    assert len(out) == 4
    assert sorted(r.name for r in out) == ["a", "b", "x", "y"]
    # ...but duplicate NON-null keys still fail loudly
    from pyspark.errors import PySparkException

    dup = spark.createDataFrame([(None, "x"), (2, "b"), (2, "c")], "k long, name string")
    with pytest.raises(PySparkException, match="multiple source rows"):
        merge_upsert(tgt, dup, ["k"]).collect()


def test_cdc_latest_wins_and_delete(spark):
    tgt = spark.createDataFrame([(1, 10), (2, 20), (3, 30)], ["k", "v"])
    ch = spark.createDataFrame(
        [
            (1, 1, "U", 11),
            (1, 2, "U", 12),  # latest for k=1
            (2, 5, "D", 0),
            (2, 4, "U", 99),  # older than the delete → delete wins
            (4, 1, "I", 40),
        ],
        ["k", "seq", "op", "v"],
    )
    out = {r.k: r.v for r in apply_cdc(tgt, ch, ["k"]).collect()}
    assert out == {1: 12, 3: 30, 4: 40}


def test_scd2_close_open_and_idempotency(spark):
    dim = spark.createDataFrame(
        [(1, "gold", "2020-01-01", "9999-12-31", True),
         (2, "silver", "2020-01-01", "9999-12-31", True)],
        ["k", "tier", "valid_from", "valid_to", "is_current"],
    ).select(
        "k", "tier",
        F.col("valid_from").cast("date"),
        F.col("valid_to").cast("date"),
        "is_current",
    )
    upd = spark.createDataFrame([(1, "platinum"), (2, "silver"), (3, "bronze")], ["k", "tier"])
    out1 = scd2_apply(dim, upd, "k", ["tier"], "2024-06-01")
    rows = {(r.k, r.is_current): r for r in out1.collect()}
    assert rows[(1, False)].tier == "gold"  # closed
    assert str(rows[(1, False)].valid_to) == "2024-06-01"
    assert rows[(1, True)].tier == "platinum"  # opened
    assert rows[(2, True)].tier == "silver"  # unchanged → untouched
    assert str(rows[(2, True)].valid_from) == "2020-01-01"
    assert rows[(3, True)].tier == "bronze"  # brand-new key
    assert len(rows) == 4
    # re-applying the same batch is a no-op (current rows already match)
    out2 = scd2_apply(out1, upd, "k", ["tier"], "2024-07-01")
    assert sorted(map(tuple, out2.collect())) == sorted(map(tuple, out1.collect()))


def test_merge_guard_survives_empty_payload(spark):
    """Key-only membership tables (keys == all columns) have an EMPTY
    payload, so no select references the source side — Catalyst used to
    prune the __present__ column and the raise_error guard with it,
    silently dropping the promised loud duplicate failure (r11
    warehouse review #3). The filter anchor keeps it referenced."""
    from pyspark.errors import PySparkException

    tgt = spark.createDataFrame([(1,), (2,)], "k long")
    dup = spark.createDataFrame([(3,), (3,)], "k long")
    with pytest.raises(PySparkException, match="multiple source rows"):
        merge_upsert(tgt, dup, ["k"]).collect()
    ok = spark.createDataFrame([(2,), (3,)], "k long")
    assert sorted(r.k for r in merge_upsert(tgt, ok, ["k"]).collect()) == [1, 2, 3]


def test_cdc_rejects_null_and_unknown_ops(spark):
    """Three-valued logic made a NULL-op row vanish from BOTH the
    upsert and delete branches — the latest change for a key silently
    lost (r11 warehouse review #4). Malformed feeds must raise."""
    from pyspark.errors import PySparkException

    tgt = spark.createDataFrame([(1, "a")], "k long, v string")
    null_op = spark.createDataFrame(
        [(1, "b", None, 2)], "k long, v string, op string, seq long"
    )
    with pytest.raises(PySparkException, match="invalid op"):
        apply_cdc(tgt, null_op, ["k"]).collect()
    bad_op = spark.createDataFrame(
        [(1, "b", "X", 2)], "k long, v string, op string, seq long"
    )
    with pytest.raises(PySparkException, match="invalid op"):
        apply_cdc(tgt, bad_op, ["k"]).collect()


def _dim(spark, rows):
    return spark.createDataFrame(
        rows, "k long, attr string, valid_from date, valid_to date, is_current boolean"
    )


def test_scd2_rejects_duplicate_update_keys(spark):
    """Duplicate keys in one batch would open multiple simultaneous
    is_current rows — corruption that survives forever in the history
    (r11 warehouse review #1)."""
    import datetime as dt

    from pyspark.errors import PySparkException

    dim = _dim(spark, [(1, "a", dt.date(2024, 1, 1), dt.date(9999, 12, 31), True)])
    dup = spark.createDataFrame([(1, "x"), (1, "y")], "k long, attr string")
    with pytest.raises(PySparkException, match="multiple update rows"):
        scd2_apply(dim, dup, "k", ["attr"], "2024-06-01").collect()
    # opt-out mirrors merge_upsert's
    assert (
        scd2_apply(dim, dup, "k", ["attr"], "2024-06-01",
                   validate_update_keys=False).count() > 0
    )


def test_scd2_null_valid_from_is_not_brand_new(spark):
    """A current row with a legitimately NULL valid_from must still be
    MATCHED (closed on change) — the old `c.valid_from IS NULL`
    no-match sentinel misclassified it as brand-new, leaving the old
    row open next to a second current row (r11 warehouse review #2)."""
    import datetime as dt

    dim = _dim(spark, [(1, "a", None, dt.date(9999, 12, 31), True)])
    upd = spark.createDataFrame([(1, "CHANGED")], "k long, attr string")
    out = scd2_apply(dim, upd, "k", ["attr"], "2024-06-01").collect()
    current = [r for r in out if r.is_current]
    closed = [r for r in out if not r.is_current]
    assert len(current) == 1 and current[0].attr == "CHANGED"
    assert len(closed) == 1 and closed[0].attr == "a"
    assert closed[0].valid_to == dt.date(2024, 6, 1)


def test_scd2_plans_exactly_one_updates_join(spark):
    """The docstring's one-shuffle claim, pinned: the old four-branch
    union re-embedded the updates x dim join subtree per branch (3-4
    scans+shuffles per action — r11 warehouse review #5); the explode
    row-generator form plans exactly ONE join."""
    import datetime as dt

    dim = _dim(
        spark,
        [
            (1, "a", dt.date(2024, 1, 1), dt.date(9999, 12, 31), True),
            (1, "old", dt.date(2023, 1, 1), dt.date(2024, 1, 1), False),
            (2, "b", dt.date(2024, 1, 1), dt.date(9999, 12, 31), True),
        ],
    )
    upd = spark.createDataFrame([(1, "A2"), (3, "c")], "k long, attr string")
    out = scd2_apply(dim, upd, "k", ["attr"], "2024-06-01")
    plan = out._jdf.queryExecution().executedPlan().toString()
    n_joins = sum(plan.count(j) for j in ("SortMergeJoin", "BroadcastHashJoin",
                                          "ShuffledHashJoin", "BroadcastNestedLoop"))
    assert n_joins == 1, plan
    # and the semantics still hold end to end
    rows = out.collect()
    cur = {r.k: r.attr for r in rows if r.is_current}
    assert cur == {1: "A2", 2: "b", 3: "c"}
    hist_k1 = sorted((r.attr, str(r.valid_to)) for r in rows if r.k == 1 and not r.is_current)
    assert hist_k1 == [("a", "2024-06-01"), ("old", "2024-01-01")]


def test_scd2_null_is_current_rows_survive_as_history(spark):
    """A dim row with NULL is_current used to land in NEITHER the
    current nor the history frame (three-valued logic) and silently
    vanish from the output (r12 end-of-round review). It classifies as
    not-current: preserved untouched, never closed or replaced."""
    import datetime as dt

    dim = _dim(
        spark,
        [
            (1, "a", dt.date(2024, 1, 1), dt.date(9999, 12, 31), True),
            (2, "limbo", dt.date(2024, 1, 1), dt.date(9999, 12, 31), None),
        ],
    )
    upd = spark.createDataFrame([(1, "A2"), (2, "B2")], "k long, attr string")
    out = scd2_apply(dim, upd, "k", ["attr"], "2024-06-01").collect()
    limbo = [r for r in out if r.k == 2 and r.attr == "limbo"]
    assert len(limbo) == 1 and limbo[0].is_current is None  # untouched
    # the update for key 2 found no CURRENT row → inserts as brand-new
    assert any(r.k == 2 and r.attr == "B2" and r.is_current for r in out)


def _apply_cdc_four_step(target, changes, keys, op_col="op", seq_col="seq"):
    """The former ``apply_cdc``, kept as the reference: a latest-wins
    window, an upsert and a delete branch, a left-anti of the target
    against the deletes, then ``merge_upsert`` (with its duplicate-key
    guard)."""
    from pyspark.sql import Window

    payload = [c for c in target.columns if c not in keys]
    w = Window.partitionBy(*keys).orderBy(F.col(seq_col).desc(), F.col(op_col).desc())
    latest = (
        changes.withColumn("__rn__", F.row_number().over(w))
        .filter(F.col("__rn__") == 1)
        .drop("__rn__")
    )
    upserts = latest.filter(F.col(op_col) != "D").select(*keys, *payload)
    deletes = latest.filter(F.col(op_col) == "D").select(*keys)
    survived = target.join(deletes, on=keys, how="left_anti")
    return merge_upsert(survived, upserts, keys)


@pytest.mark.parametrize("ansi", [True, False])
def test_apply_cdc_one_join_matches_four_step_reference(spark, ansi):
    """Randomized feeds over a two-column key: NULL key parts, NULL
    ``seq``, deletes and updates of absent keys, duplicate target keys
    and all-NULL payloads. ``seq`` values are unique and each key has
    at most one NULL-``seq`` change, so latest-wins is total and both
    forms must give the same multiset of rows."""
    import random
    from collections import Counter

    rng = random.Random(1019 + ansi)
    keyspace = [(k1, k2) for k1 in (None, 1, 2, 3) for k2 in (None, "x")]
    absent = [(7, "x"), (8, None)]
    payloads = [(None, None), (1, None), (None, "p"), (2, "q")]
    t_schema = "k1 long, k2 string, a long, b string"
    c_schema = "k1 long, k2 string, seq long, op string, a long, b string"
    prev = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", str(ansi).lower())
    try:
        for _ in range(6):
            tgt = [(*rng.choice(keyspace), *rng.choice(payloads)) for _ in range(rng.randint(0, 10))]
            seqs = iter(rng.sample(range(1000), 16))
            null_seq_keys = set()
            feed = []
            for _ in range(rng.randint(0, 14)):
                key = rng.choice(keyspace + absent)
                seq = next(seqs)
                if key not in null_seq_keys and rng.random() < 0.2:
                    null_seq_keys.add(key)
                    seq = None
                feed.append((*key, seq, rng.choice("IUD"), *rng.choice(payloads)))
            t = spark.createDataFrame(tgt, t_schema)
            ch = spark.createDataFrame(feed, c_schema)
            keys = ["k1", "k2"]
            got = Counter(map(tuple, apply_cdc(t, ch, keys).collect()))
            want = Counter(map(tuple, _apply_cdc_four_step(t, ch, keys).collect()))
            assert got == want, (tgt, feed)
    finally:
        spark.conf.set("spark.sql.ansi.enabled", prev)
