"""Keyed mutation operators: MERGE (upsert), CDC apply, SCD2 history.

The reference mutates warehouse tables with delete-then-append
(``AWS_GLUE_ETL.py:124-132`` preactions delete, ``BkupRs.py:272-280``
per-date delete + append) — which only works when the "key" is a whole
partition. These operators are the row-keyed generalization, expressed
as joins so Catalyst plans them distributed:

- ``merge_upsert`` — SQL MERGE semantics (update matched, insert
  unmatched) via a single full-outer join on the key.
- ``apply_cdc`` — collapse a Debezium-shaped change feed (op ∈
  I/U/D + sequence column) to the latest op per key, then apply it to
  the target in one full-outer join that drops the deleted keys: the
  batch form of Structured Streaming's foreachBatch CDC sink.
- ``scd2_apply`` — slowly-changing-dimension type 2: close changed
  rows, insert new versions, keep history queryable by validity range.

Scale: each is one key-partitioned shuffle (the join); at warehouse
scale the target should be bucketed on the key (sources/writers.py:
bucketize) so only the (usually tiny) change set moves. Rewriting the
whole target per batch is what the transaction log's file-replace
commits (sources/txlog.py) amortize on real storage.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = ["merge_upsert", "apply_cdc", "scd2_apply"]


def merge_upsert(
    target: DataFrame,
    source: DataFrame,
    keys: list[str],
    validate_source_keys: bool = True,
) -> DataFrame:
    """MERGE: rows matched on ``keys`` take ALL non-key columns from
    ``source``; unmatched target rows pass through; unmatched source
    rows are inserted. Column sets must match (the SQL MERGE contract
    for UPDATE SET * / INSERT *).

    SQL MERGE requires a UNIQUE source key — a duplicate would silently
    fan out every matched target row. ``validate_source_keys`` embeds a
    ``raise_error`` guard in the plan (a window count over the same key
    partitioning the join shuffles on anyway — no extra job, no
    collect), so a non-unique source fails loudly with the offending
    key instead of multiplying rows. Pre-collapse intentional multi-row
    feeds first (``apply_cdc`` latest-wins does exactly that)."""
    if set(target.columns) != set(source.columns):
        raise ValueError(
            f"column mismatch: target {sorted(target.columns)} "
            f"vs source {sorted(source.columns)}"
        )
    payload = [c for c in target.columns if c not in keys]
    # presence flag survives all-null source payloads; when validating,
    # the flag itself carries the duplicate-key guard — keys stay
    # untouched attributes, so the guard window's hash partitioning on
    # the keys is REUSED by the merge join (no extra Exchange; asserted
    # by the m1 shuffle budget)
    present: F.Column = F.lit(True)
    if validate_source_keys:
        from pyspark.sql import Window

        n_src = F.count(F.lit(1)).over(Window.partitionBy(*keys))
        # A row with any null key can never match a target row (the join
        # equality is null-unsafe), so each one legally inserts — but the
        # window groups null keys together, which would trip the guard.
        # Exempt them: only all-non-null keys can fan out.
        keys_joinable = F.lit(True)
        for k in keys:
            keys_joinable = keys_joinable & F.col(k).isNotNull()
        present = F.when(
            keys_joinable & (n_src > 1),
            F.raise_error(
                F.concat(
                    F.lit("merge_upsert: multiple source rows for key ("),
                    F.concat_ws(", ", *[F.col(k).cast("string") for k in keys]),
                    F.lit(
                        ") — MERGE needs a unique source key; "
                        "collapse the feed first (see apply_cdc)"
                    ),
                )
            ).cast("boolean"),
        ).otherwise(F.lit(True))
    s = source.withColumn("__present__", present).alias("s")
    joined = target.alias("t").join(s, on=keys, how="full_outer")
    # ANCHOR the guard in a Filter that always passes (null __present__ =
    # unmatched target row): with an empty payload (keys == all columns —
    # key-only membership tables) the select below references no source
    # column, and Catalyst would PRUNE __present__ together with the
    # raise_error guard inside it — the promised loud duplicate failure
    # silently disappearing (r11 warehouse review #3). The filter keeps
    # the guard referenced on every plan; pushdown may move it below the
    # join onto the source side, which evaluates it even earlier.
    joined = joined.filter(
        F.col("s.__present__").isNull() | F.col("s.__present__")
    )
    # key columns are coalesced by the USING join; payload picks source
    # whenever the source row exists (update and insert in one pass;
    # null __present__ → unmatched target row → otherwise branch)
    out = joined.select(
        *keys,
        *[
            F.when(F.col("s.__present__"), F.col(f"s.{c}"))
            .otherwise(F.col(f"t.{c}"))
            .alias(c)
            for c in payload
        ],
    )
    return out.select(*target.columns)


def apply_cdc(
    target: DataFrame,
    changes: DataFrame,
    keys: list[str],
    op_col: str = "op",
    seq_col: str = "seq",
) -> DataFrame:
    """Apply a change feed: per key, only the LATEST change wins —
    ordered by ``seq_col`` descending, ties broken by ``op_col``
    descending for determinism. 'D' deletes the key, 'I'/'U' upsert the
    row. The feed's payload columns must match the target's.

    This is the batch twin of a streaming CDC sink: run it per
    micro-batch over foreachBatch with the same semantics.

    Shape: a latest-wins window collapses the feed to one row per key,
    keeping its op; ONE full-outer join with the target follows, rows
    whose op is 'D' drop out, and the payload comes from the feed
    wherever an op is present. The window's key partitioning feeds the
    join, so the plan shuffles the feed and the target once each.

    A malformed op (NULL or outside I/U/D) raises instead of vanishing:
    the join reads a NULL op as "no change for this key", so the latest
    change for a key could silently disappear (r11 warehouse review #4).

    Determinism contract (r13 cycle-2 note): latest-wins is total only
    when ``(keys, seq_col, op_col)`` is unique in the feed — two changes
    sharing key+seq+op but differing in payload tie in the window and
    the survivor is engine-/run-dependent (every CDC consumer shares
    this; real feeds carry a unique per-key sequence). No duplicate-key
    guard can catch it: latest-wins has already collapsed the feed to
    one row per key."""
    from pyspark.sql import Window

    payload = [c for c in target.columns if c not in keys]
    op_ok = F.col(op_col).isin("I", "U", "D")
    changes = changes.filter(
        F.when(
            op_ok.isNull() | ~op_ok,
            F.raise_error(
                F.concat(
                    F.lit(f"apply_cdc: invalid {op_col} "),
                    F.coalesce(F.col(op_col).cast("string"), F.lit("NULL")),
                    F.lit(" — the change feed must carry op IN ('I','U','D')"),
                )
            ).cast("boolean"),
        ).otherwise(F.lit(True))
    )
    w = Window.partitionBy(*keys).orderBy(F.col(seq_col).desc(), F.col(op_col).desc())
    latest = (
        changes.withColumn("__rn__", F.row_number().over(w))
        .filter(F.col("__rn__") == 1)
        .select(*keys, F.col(op_col).alias("__op__"), *payload)
        .alias("s")
    )
    # one row per key on the feed side, so the join cannot fan out and
    # needs no duplicate-key guard (merge_upsert's); the window's key
    # partitioning and order are reused by the join
    op = F.col("s.__op__")
    joined = target.alias("t").join(latest, on=keys, how="full_outer")
    out = joined.filter(~op.eqNullSafe("D")).select(
        *keys,
        *[
            F.when(op.isNotNull(), F.col(f"s.{c}")).otherwise(F.col(f"t.{c}")).alias(c)
            for c in payload
        ],
    )
    return out.select(*target.columns)


def scd2_apply(
    dim: DataFrame,
    updates: DataFrame,
    key: str,
    tracked: list[str],
    batch_date: str,
    open_end: str = "9999-12-31",
    validate_update_keys: bool = True,
) -> DataFrame:
    """SCD type 2: ``dim`` carries (key, attributes, valid_from,
    valid_to, is_current). For each update row whose tracked attributes
    differ from the key's CURRENT dim row, the current row closes
    (valid_to = batch_date, is_current = false) and a new current row
    opens (valid_from = batch_date). Unchanged keys and historical rows
    pass through untouched; brand-new keys insert as current.

    ONE full-outer join on the key generates every output class as a
    per-row array-of-struct explode — close+open for changed keys, the
    untouched current row, the brand-new insert — so the updates⋈dim
    subtree plans exactly once (the r11 warehouse review #5: the old
    four-branch union re-embedded the join per branch, scanning and
    shuffling both inputs 3-4x per action while the docstring claimed
    one shuffle). History rows never join (filtered by is_current).

    Match detection uses a presence FLAG, never a nullable data column:
    the old ``c.valid_from IS NULL`` sentinel misclassified a current
    row whose valid_from is legitimately NULL as brand-new — old row
    never closed, a second simultaneous current row inserted, the
    dimension silently corrupted (r11 warehouse review #2).

    ``validate_update_keys`` embeds merge_upsert's raise_error guard: a
    batch carrying the same key twice would open two simultaneous
    current rows — corruption that survives FOREVER in the history
    (r11 warehouse review #1). The guard window partitions on the same
    key the join shuffles on (no extra Exchange); collapse intentional
    multi-row feeds first (apply_cdc latest-wins)."""
    attrs = [c for c in updates.columns if c != key]
    cols = dim.columns
    # NULL is_current classifies as NOT current (history pass-through):
    # plain `filter(is_current)` + `filter(~is_current)` both exclude
    # NULL under three-valued logic, so such a row landed in NEITHER
    # frame and silently VANISHED from the output — rows deleted from
    # the dimension with no error (r12 end-of-round review, the same
    # NULL-hole class as the valid_from sentinel). A row whose
    # currency is unknown must never be closed or replaced, but it must
    # also never be dropped.
    cur = dim.filter(F.col("is_current").eqNullSafe(F.lit(True)))
    hist = dim.filter(~F.col("is_current").eqNullSafe(F.lit(True)))

    u_flag: F.Column = F.lit(True)
    if validate_update_keys:
        from pyspark.sql import Window

        n_upd = F.count(F.lit(1)).over(Window.partitionBy(key))
        u_flag = F.when(
            F.col(key).isNotNull() & (n_upd > 1),
            F.raise_error(
                F.concat(
                    F.lit("scd2_apply: multiple update rows for key "),
                    F.col(key).cast("string"),
                    F.lit(
                        " — duplicate keys in one batch would open "
                        "multiple simultaneous is_current rows; collapse "
                        "the feed first (see apply_cdc)"
                    ),
                )
            ).cast("boolean"),
        ).otherwise(F.lit(True))

    u = updates.withColumn("__u__", u_flag).alias("u")
    c = cur.withColumn("__c__", F.lit(True)).alias("c")
    j = u.join(c, on=key, how="full_outer")

    diff = F.lit(False)
    for t in tracked:
        diff = diff | ~(F.col(f"u.{t}").eqNullSafe(F.col(f"c.{t}")))

    def _row(fields: dict[str, F.Column]) -> F.Column:
        return F.struct(*[fields[name].alias(name) for name in cols if name != key])

    cur_row = _row({name: F.col(f"c.{name}") for name in cols})
    closed_row = _row(
        {
            **{name: F.col(f"c.{name}") for name in cols},
            "valid_to": F.lit(batch_date).cast("date"),
            "is_current": F.lit(False),
        }
    )
    opened_row = _row(
        {
            **{a: F.col(f"u.{a}") for a in attrs},
            "valid_from": F.lit(batch_date).cast("date"),
            "valid_to": F.lit(open_end).cast("date"),
            "is_current": F.lit(True),
        }
    )
    # __u__ evaluates the duplicate-key guard on every row with an
    # update side; __c__ is the presence flag (finding #2)
    u_present = F.col("u.__u__").isNotNull() & F.col("u.__u__")
    c_present = F.col("c.__c__").isNotNull()
    out_rows = (
        F.when(u_present & c_present & diff, F.array(closed_row, opened_row))
        .when(u_present & c_present, F.array(cur_row))
        .when(u_present, F.array(opened_row))  # brand-new key
        .otherwise(F.array(cur_row))  # current row without an update
    )
    exploded = j.select(F.col(key), F.explode(out_rows).alias("__r__")).select(
        key, "__r__.*"
    )
    return hist.select(cols).unionByName(exploded.select(cols))
