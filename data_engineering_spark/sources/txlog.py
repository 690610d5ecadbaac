"""Transaction-log table format: ACID batch writes over plain parquet.

A minimal lakehouse layout in the spirit of the *public* Delta Lake
design (Armbrust et al., "Delta Lake: High-Performance ACID Table
Storage over Cloud Object Stores", VLDB 2020) and the Apache Iceberg
spec — implemented from scratch against the local filesystem. It
generalizes the reference's write patterns (S11 truncate-and-load,
S12 idempotent partition append, S13 overwrite — ``AWS_GLUE_ETL.py:
124-132``, ``BkupRs.py:272-280``) from "directory swap" semantics to a
real commit log:

- **Atomic commits.** One JSON file per commit under ``_txlog/``,
  created with ``O_CREAT|O_EXCL`` — two writers racing for version N
  cannot both win. (On S3-like stores that lack atomic
  create-if-absent you'd swap this for a coordination service or a
  conditional-put — the Delta paper's LogStore; everything else here
  is object-store-ready since data files are immutable and renamed
  once.)
- **Snapshot isolation & time travel.** Readers resolve a version's
  live file set from the log only — a reader at version N is
  untouched by concurrent appends, and ``scan(version=k)`` reproduces
  any historical state until ``vacuum`` physically drops its files.
- **File-level data skipping.** Each add-action records per-column
  min/max/null-count harvested from the parquet footers (pyarrow,
  no data scan). ``scan(filters=...)`` prunes whole files before
  Spark ever lists them — the log is the coarse index, parquet
  row-group stats remain the fine one. At 100 TB this is the
  difference between listing 10⁶ objects per query and reading a few
  KB of log.
- **Log checkpoints.** Every ``checkpoint_every`` commits the full
  live-file set is snapshotted to ``checkpoint-N.json`` so readers
  replay O(recent) commits, not the whole history.
- **Compaction.** ``compact()`` rewrites small files into large ones
  in a single remove+add commit — readers at older versions are
  unaffected; the file-count pathology of streaming/micro-batch
  ingest is repaired without a write outage.

Concurrency contract: ``append`` retries on version collision (a
blind add conflicts with nothing). ``overwrite`` / ``compact`` raise
``ConcurrentWriteError`` if the table advanced past their snapshot —
the caller re-reads and retries (optimistic concurrency, as in the
Delta paper §3.2).
"""

from __future__ import annotations

import json
import os
import shutil
import uuid
from dataclasses import dataclass, field
from datetime import date, datetime
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from ..session import local_frame

__all__ = ["LakeTable", "ConcurrentWriteError"]

_LOG_DIR = "_txlog"


class ConcurrentWriteError(RuntimeError):
    """The table advanced past this writer's snapshot; re-read and retry."""


def _jsonable(v: Any) -> Any:
    """Parquet-footer stat → JSON-storable scalar. ISO strings for
    temporal types keep range comparisons lexicographically correct."""
    if isinstance(v, (datetime, date)):
        return v.isoformat()
    if isinstance(v, bytes):
        return None
    if isinstance(v, (int, float, str, bool)) or v is None:
        return v
    return str(v)


def _file_stats(path: str) -> dict[str, Any]:
    """Harvest per-column min/max/null-count from the parquet footer —
    metadata only, the data pages are never read."""
    import pyarrow.parquet as pq

    md = pq.ParquetFile(path).metadata
    stats: dict[str, dict[str, Any]] = {}
    # A row group with DATA but no usable min/max for a column poisons
    # that column's file-level bounds: keeping bounds gathered from the
    # OTHER groups would under-cover the file and _maybe_skip could
    # prune a file that holds matching rows (silent row loss — review
    # finding r10). Only an all-null statless group is safe to ignore.
    poisoned: set[str] = set()
    pending_nulls: dict[str, int] = {}
    for rg in range(md.num_row_groups):
        g = md.row_group(rg)
        for ci in range(g.num_columns):
            col = g.column(ci)
            s = col.statistics
            name = col.path_in_schema
            if "." in name:
                continue  # nested leaves: never tracked, never pruned on
            lo = _jsonable(s.min) if s is not None and s.has_min_max else None
            hi = _jsonable(s.max) if s is not None and s.has_min_max else None
            if lo is None or hi is None:
                all_null = (
                    s is not None
                    and s.null_count is not None
                    and s.null_count == g.num_rows
                )
                if all_null:
                    pending_nulls[name] = pending_nulls.get(name, 0) + s.null_count
                else:
                    poisoned.add(name)
                continue
            cur = stats.setdefault(name, {"min": lo, "max": hi, "nulls": 0})
            cur["nulls"] += pending_nulls.pop(name, 0)
            if type(lo) is type(cur["min"]):
                cur["min"] = min(cur["min"], lo)
                cur["max"] = max(cur["max"], hi)
            else:
                # heterogeneous stat types across row groups: bounds can't
                # be widened safely, so drop the column (never skip wrongly)
                poisoned.add(name)
            cur["nulls"] += s.null_count or 0
    for name, n in pending_nulls.items():  # all-null-only columns
        if name in stats:
            stats[name]["nulls"] += n
    stats = {k: v for k, v in stats.items() if k not in poisoned}
    return {"rows": md.num_rows, "columns": stats}


def _maybe_skip(
    stats: dict[str, Any],
    filters: list[tuple[str, str, Any]],
    string_part_cols: set[str] | None = None,
) -> bool:
    """True if the file provably contains no row matching ALL filters.
    Unknown columns / missing stats / type mismatches never skip —
    pruning is an optimization, correctness comes from the Spark
    filter applied on top. Partition values (exact, not min/max)
    prune first; stat ranges second.

    Partition-value pruning compares STRINGS (the log stores the dir
    segment), so it is only sound when the Spark filter on top also
    compares strings — i.e. when the column's SCHEMA type is string
    (``string_part_cols``, computed by the caller from the snapshot).
    On a numeric partition column, Spark casts and compares typed
    values ('10' > '9' true) while the string compare disagrees
    ('10' <= '9'), and '1.50' = 1.5 matches typed but not as strings —
    pruning there would silently drop matching files (review finding
    r10). Callers that cannot supply the schema pass None and get NO
    partition pruning (stat-range pruning is unaffected: footer stats
    are typed)."""
    cols = stats.get("columns", {})
    part = stats.get("partition", {})
    for name, op, value in filters:
        pv = part.get(name)
        if (
            pv is not None
            and isinstance(value, str)
            and string_part_cols is not None
            and name in string_part_cols
        ):
            # partition values are strings (dir-name encoding); string
            # compares are exact for =, lexicographic for ranges (ISO
            # dates / zero-padded keys — the standard partition shapes)
            if (
                (op in ("=", "==") and pv != value)
                or (op == ">" and pv <= value)
                or (op == ">=" and pv < value)
                or (op == "<" and pv >= value)
                or (op == "<=" and pv > value)
            ):
                return True
        st = cols.get(name)
        if st is None:
            continue
        lo, hi, value = st["min"], st["max"], _jsonable(value)
        if not isinstance(value, type(lo)) and not (
            isinstance(value, (int, float)) and isinstance(lo, (int, float))
        ):
            continue
        if (
            (op in (">", ">=") and (hi < value or (op == ">" and hi == value)))
            or (op in ("<", "<=") and (lo > value or (op == "<" and lo == value)))
            or (op in ("=", "==") and not (lo <= value <= hi))
        ):
            return True
    return False


@dataclass
class _Snapshot:
    version: int = -1
    files: dict[str, dict[str, Any]] = field(default_factory=dict)  # path → stats
    schema_json: str | None = None
    txns: dict[str, int] = field(default_factory=dict)  # app_id → last version
    dvs: dict[str, list[int]] = field(default_factory=dict)  # path → deleted row positions


class LakeTable:
    """A transaction-logged parquet table rooted at ``path``."""

    # Upper bound on distinct partition tuples a single replace_partitions
    # commit may carry (guards the driver-side distinct collect).
    MAX_PARTITIONS_PER_COMMIT = 100_000

    def __init__(self, spark: SparkSession, path: str, checkpoint_every: int = 10):
        self.spark = spark
        self.path = path
        self.log_dir = os.path.join(path, _LOG_DIR)
        self.checkpoint_every = checkpoint_every

    # ------------------------------------------------------------------ log

    def _version_path(self, v: int) -> str:
        return os.path.join(self.log_dir, f"{v:020d}.json")

    def latest_version(self) -> int:
        if not os.path.isdir(self.log_dir):
            return -1
        vs = [
            int(f[:-5])
            for f in os.listdir(self.log_dir)
            if f.endswith(".json") and not f.startswith("checkpoint-")
        ]
        return max(vs, default=-1)

    def _snapshot(self, version: int | None = None) -> _Snapshot:
        latest = self.latest_version()
        if version is None:
            version = latest
        if version < 0 or version > latest:
            raise ValueError(f"version {version} does not exist (latest={latest})")
        snap = _Snapshot()
        start = 0
        # newest checkpoint at or below the requested version
        if os.path.isdir(self.log_dir):
            cps = sorted(
                int(f[len("checkpoint-"):-5])
                for f in os.listdir(self.log_dir)
                if f.startswith("checkpoint-") and f.endswith(".json")
            )
            cps = [c for c in cps if c <= version]
            if cps:
                with open(os.path.join(self.log_dir, f"checkpoint-{cps[-1]}.json")) as fh:
                    cp = json.load(fh)
                snap.files = cp["files"]
                snap.schema_json = cp.get("schema")
                snap.txns = cp.get("txns", {})
                snap.dvs = cp.get("dvs", {})
                start = cps[-1] + 1
        for v in range(start, version + 1):
            with open(self._version_path(v)) as fh:
                commit = json.load(fh)
            for action in commit["actions"]:
                if "add" in action:
                    a = action["add"]
                    entry = dict(a["stats"])
                    if "partition" in a:
                        entry["partition"] = a["partition"]
                    snap.files[a["path"]] = entry
                    snap.dvs.pop(a["path"], None)  # new file identity: no DV
                elif "remove" in action:
                    snap.files.pop(action["remove"]["path"], None)
                    snap.dvs.pop(action["remove"]["path"], None)
                elif "dv" in action:
                    # deletion vector: REPLACES the file's deleted-position
                    # set (writers commit the cumulative union, so replay
                    # is order-free within one file's history)
                    d = action["dv"]
                    snap.dvs[d["path"]] = d["rows"]
                elif "meta" in action:
                    snap.schema_json = action["meta"]["schema"]
                elif "txn" in action:
                    t = action["txn"]
                    snap.txns[t["app"]] = max(
                        snap.txns.get(t["app"], -1), t["version"]
                    )
        snap.version = version
        return snap

    @staticmethod
    def _string_cols(snap: _Snapshot) -> set[str]:
        """String-typed column names — the columns partition-value
        pruning is sound for (see _maybe_skip)."""
        if not snap.schema_json:
            return set()
        return {
            f.name
            for f in T.StructType.fromJson(json.loads(snap.schema_json)).fields
            if isinstance(f.dataType, T.StringType)
        }

    def _try_commit(self, version: int, actions: list[dict[str, Any]]) -> bool:
        os.makedirs(self.log_dir, exist_ok=True)
        payload = json.dumps({"version": version, "actions": actions}, indent=0)
        # Atomic publish: write the full payload to a tmp file, then
        # claim the version slot with hard-link (fails iff the slot is
        # taken — same mutual exclusion as O_EXCL). Writing the payload
        # AFTER winning an O_EXCL open left a window where a crash or
        # ENOSPC mid-write bricked the log forever: a truncated N.json
        # counts as latest_version but every snapshot read raises, and
        # no retry can reclaim the slot (review finding r10).
        tmp = os.path.join(self.log_dir, f".commit-{uuid.uuid4().hex}")
        with open(tmp, "w") as fh:
            fh.write(payload)
            fh.flush()
            os.fsync(fh.fileno())
        try:
            os.link(tmp, self._version_path(version))
        except FileExistsError:
            return False
        finally:
            os.unlink(tmp)
        if version > 0 and version % self.checkpoint_every == 0:
            snap = self._snapshot(version)
            cp = {
                "files": snap.files,
                "schema": snap.schema_json,
                "txns": snap.txns,
                "dvs": snap.dvs,
            }
            tmp = os.path.join(self.log_dir, f".cp-{uuid.uuid4().hex}")
            with open(tmp, "w") as fh:
                json.dump(cp, fh)
                fh.flush()
                os.fsync(fh.fileno())  # same durability bar as commits: a
                # power loss after the rename must not publish a truncated
                # checkpoint — _snapshot would raise on every later read
            os.replace(tmp, os.path.join(self.log_dir, f"checkpoint-{version}.json"))
        return True

    # ----------------------------------------------------------------- write

    def _stage(
        self, df: DataFrame, partition_by: list[str] | None = None
    ) -> list[dict[str, Any]]:
        """Write df's parquet files into the table dir under unique names
        (immutable once placed) and return their add-actions.

        With ``partition_by`` the write physically splits by partition
        value (ONE Spark job regardless of value count); each staged
        file records its partition tuple in the add-action, the
        log-level replacement for Hive directory layout. Partition
        columns are not stored in the file bodies — ``_df_for``
        re-attaches them as literals at read time.

        Hive-layout caveat (inherited from Spark itself): an EMPTY
        STRING partition value is written to the same
        ``__HIVE_DEFAULT_PARTITION__`` directory as null, so it is
        stored — and re-attached at read time — as null. Don't
        partition on a column that distinguishes '' from null."""
        from urllib.parse import unquote

        tmp = os.path.join(self.path, f"_staged-{uuid.uuid4().hex}")
        writer = df.write.mode("overwrite")
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.parquet(tmp)
        adds = []
        for dirpath, _dirs, files in sorted(os.walk(tmp)):
            rel = os.path.relpath(dirpath, tmp)
            # Add-actions store partition values UNESCAPED (Hive dir names
            # URL-escape specials and spell null __HIVE_DEFAULT_PARTITION__)
            # so every comparison site — replace_partitions victim match,
            # _maybe_skip pruning, _df_for literal re-attach — works in the
            # one representation user filters arrive in. Storing the raw
            # dir segment silently broke both: victims never matched
            # (duplicate rows) and '=' pruning dropped live files.
            part_vals: dict[str, str | None] = {}
            if rel != ".":
                for seg in rel.split(os.sep):
                    k, _, v = seg.partition("=")
                    part_vals[k] = None if v == "__HIVE_DEFAULT_PARTITION__" else unquote(v)
            for f in sorted(files):
                if not f.endswith(".parquet"):
                    continue
                name = f"part-{uuid.uuid4().hex}.parquet"
                os.replace(os.path.join(dirpath, f), os.path.join(self.path, name))
                add = {"path": name, "stats": _file_stats(os.path.join(self.path, name))}
                if add["stats"]["rows"] == 0:
                    # zero-row part files (an empty write, or a rewrite
                    # that deleted a whole group) are dead log weight:
                    # every snapshot would carry and every scan would
                    # list a file that can never contribute a row
                    os.remove(os.path.join(self.path, name))
                    continue
                if part_vals:
                    add["partition"] = part_vals
                adds.append({"add": add})
        shutil.rmtree(tmp)
        return adds

    def create(
        self,
        df: DataFrame,
        mode: str = "error",
        partition_by: list[str] | None = None,
    ) -> int:
        if mode not in ("error", "overwrite", "ignore", "append"):
            raise ValueError(
                f"create: unknown mode {mode!r} "
                "(error | overwrite | ignore | append)"
            )
        if self.latest_version() >= 0:
            # Spark DataFrameWriter semantics: 'ignore' is a no-op and
            # 'append' appends — routing every non-error mode to a full
            # overwrite silently destroyed existing tables for callers
            # using the conventional modes (review finding r10).
            if mode == "error":
                raise FileExistsError(f"table exists at {self.path}")
            if mode == "ignore":
                return self.latest_version()
            if mode == "append":
                return self.append(df, partition_by=partition_by)
            return self.overwrite(df, partition_by=partition_by)
        os.makedirs(self.path, exist_ok=True)
        actions = [{"meta": {"schema": df.schema.json()}}] + self._stage(
            df, partition_by
        )
        if not self._try_commit(0, actions):
            raise ConcurrentWriteError("table created concurrently")
        return 0

    def append(
        self,
        df: DataFrame,
        max_retries: int = 20,
        txn: tuple[str, int] | None = None,
        partition_by: list[str] | None = None,
    ) -> int:
        """Blind append: conflicts with nothing, so collisions on the
        version number just re-target the next slot. New columns in
        ``df`` widen the logged schema (add-column evolution); older
        files read the new column as null. Type changes are rejected.

        ``txn=(app_id, txn_version)`` makes the append **idempotent per
        application stream** (the Delta paper's txn action): if a commit
        from ``app_id`` with ``txn_version`` ≥ this one is already in the
        log, the append is a no-op — exactly what a replayed streaming
        micro-batch needs (see ``lake_streaming_sink``). The check is
        re-evaluated inside the optimistic-commit loop, so two racing
        replays cannot both land."""
        staged = False
        adds: list[dict[str, Any]] = []
        for _ in range(max_retries):
            v = self.latest_version() + 1
            if v == 0:
                raise FileNotFoundError(f"no table at {self.path}; create() first")
            snap = self._snapshot(v - 1)
            if txn is not None and snap.txns.get(txn[0], -1) >= txn[1]:
                for a in adds:  # staged before we saw the duplicate: undo
                    os.remove(os.path.join(self.path, a["add"]["path"]))
                return snap.version
            if not staged:
                adds = self._stage(df, partition_by)
                staged = True
            actions: list[dict[str, Any]] = list(adds)
            if txn is not None:
                actions.append({"txn": {"app": txn[0], "version": txn[1]}})
            merged = self._merge_schema(snap, df)
            if merged is not None:
                actions = [{"meta": {"schema": merged}}] + actions
            if self._try_commit(v, actions):
                return v
        raise ConcurrentWriteError("append lost the commit race repeatedly")

    @staticmethod
    def _merge_schema(snap: _Snapshot, df: DataFrame) -> str | None:
        """Widened schema json if ``df`` adds columns, None if unchanged."""
        current = T.StructType.fromJson(json.loads(snap.schema_json))
        by_name = {f.name: f for f in current.fields}
        new_fields = []
        for f in df.schema.fields:
            old = by_name.get(f.name)
            if old is None:
                new_fields.append(f)
            elif old.dataType != f.dataType:
                raise TypeError(
                    f"append changes type of {f.name}: "
                    f"{old.dataType.simpleString()} → {f.dataType.simpleString()}"
                )
        if not new_fields:
            return None
        return T.StructType(current.fields + new_fields).json()

    def overwrite(
        self,
        df: DataFrame,
        txn: tuple[str, int] | None = None,
        partition_by: list[str] | None = None,
        expected_version: int | None = None,
    ) -> int:
        """Replace the table contents. Fails (cleanly, staged files
        orphaned for vacuum) if the table advanced past our snapshot.
        ``txn`` has append()'s idempotency semantics: a duplicate
        (app_id, txn_version) makes this a no-op — the marker rides in
        the SAME commit as the data, so replays are all-or-nothing.

        ``expected_version`` closes the READ-MODIFY-WRITE window: a
        caller that scanned version v and derived ``df`` from it passes
        v, and the overwrite raises if the table has advanced — without
        it, this method's own fresh snapshot would happily REMOVE a
        concurrent writer's just-committed files and replace them with
        data derived from the older read (lost update, no error; the
        r12 streaming review's finding against cdc_upsert_sink). The
        txn no-op check still consults the LATEST snapshot, so an
        idempotent replay whose first attempt already committed returns
        cleanly instead of tripping the version gate."""
        snap = self._snapshot()
        if txn is not None and snap.txns.get(txn[0], -1) >= txn[1]:
            return snap.version
        if expected_version is not None and snap.version != expected_version:
            raise ConcurrentWriteError(
                f"table advanced to v{snap.version} past the read snapshot "
                f"v{expected_version}; re-read and retry"
            )
        actions = (
            [{"meta": {"schema": df.schema.json()}}]
            + [{"remove": {"path": p}} for p in snap.files]
            + self._stage(df, partition_by)
        )
        if txn is not None:
            actions.append({"txn": {"app": txn[0], "version": txn[1]}})
        if not self._try_commit(snap.version + 1, actions):
            raise ConcurrentWriteError(
                f"table advanced past v{snap.version}; re-read and retry"
            )
        return snap.version + 1

    def replace_partitions(self, df: DataFrame, partition_by: list[str]) -> int:
        """Dynamic partition overwrite at the LOG level (the reference's
        S12 ``delete where bkup_dt='{d}'`` + append, made atomic): files
        whose partition tuple appears in ``df`` are removed, the new
        data lands partitioned, untouched partitions keep their files —
        and unlike directory-swap, readers see the swap as one commit
        and old versions still time-travel. The incoming partition set
        is read off the staged add-actions (bounded by the partitions
        in the BATCH — a daily load carries a handful of dates), so the
        victim match uses Spark's own dir-name value rendering on both
        sides. A guard caps it at ``MAX_PARTITIONS_PER_COMMIT`` tuples —
        a high-cardinality ``partition_by`` (e.g. a raw id column) is
        almost certainly a mis-chosen layout; fail loudly instead."""
        # Stage FIRST and derive the incoming partition tuples from the
        # staged add-actions: those carry Spark's own Hive dir-name
        # rendering — the SAME representation the stored victims use. A
        # separate collect rendered values with Python str(), which
        # disagrees with Spark for booleans ('True' vs 'true') and
        # scientific-notation floats ('1e-07' vs '1.0E-7'), so victims
        # never matched and "replaced" partitions silently kept both old
        # and new files (review finding r10). Bonus: one less corpus
        # scan — staging was always needed anyway.
        adds = self._stage(df, partition_by)
        incoming = {
            tuple(sorted(a["add"]["partition"].items()))
            for a in adds
            if a["add"].get("partition")
        }
        cap = self.MAX_PARTITIONS_PER_COMMIT
        if len(incoming) > cap:
            for a in adds:  # undo the stage before failing
                os.remove(os.path.join(self.path, a["add"]["path"]))
            raise ValueError(
                f"replace_partitions: batch carries more than {cap} distinct "
                f"partition tuples for {partition_by} — this is almost "
                "certainly a mis-chosen partition column (cardinality too "
                "high for a partition layout); pick a coarser key or raise "
                "MAX_PARTITIONS_PER_COMMIT explicitly"
            )
        snap = self._snapshot()
        # same schema discipline as append: new columns widen the logged
        # schema, type changes are rejected — a drifted daily batch must
        # not land files the enforced read schema contradicts
        merged = self._merge_schema(snap, df)
        victims = [
            p
            for p, st in snap.files.items()
            if "partition" in st
            and tuple(sorted(st["partition"].items())) in incoming
        ]
        actions = (
            ([{"meta": {"schema": merged}}] if merged is not None else [])
            + [{"remove": {"path": p}} for p in victims]
            + adds
        )
        if not self._try_commit(snap.version + 1, actions):
            raise ConcurrentWriteError(
                f"table advanced past v{snap.version}; re-read and retry"
            )
        return snap.version + 1

    def compact(self, target_partitions: int = 1) -> int:
        """Rewrite the current live set into ``target_partitions`` files
        (per partition value on a partitioned table) in one remove+add
        commit. Old versions still time-travel.

        The partition LAYOUT survives compaction (the _rewrite_where
        pattern): re-staging unpartitioned silently stripped every
        file's partition tuple from the log, so a later
        replace_partitions could no longer match its victims inside the
        compacted files — the "replaced" partition kept both old and
        new rows (r12 txlog re-pass; the duplicate-row class the r10
        victim-rendering fix closed for a different cause)."""
        snap = self._snapshot()
        if not snap.files:
            return snap.version
        live = self._df_for(snap)
        part_key_sets = {
            tuple(sorted(snap.files[p].get("partition", {}))) for p in snap.files
        }
        if len(part_key_sets) > 1:
            # a mixed layout (e.g. partitioned create + unpartitioned
            # append) must not silently flatten: re-staging with
            # partition_by=None strips every partition tuple from the
            # log, re-opening the replace_partitions duplicate-row
            # hazard this method's docstring claims closed (r12 advice).
            # Mirrors optimize_zorder's loud rejection.
            raise ValueError(
                "compact: live files carry differing partition key sets "
                f"{sorted(part_key_sets)} — compacting would strip "
                "partition tuples; re-stage each layout group separately "
                "(replace_partitions per layout) before compacting"
            )
        partition_by = list(next(iter(part_key_sets))) or None
        actions = [{"remove": {"path": p}} for p in snap.files] + self._stage(
            live.repartition(target_partitions), partition_by
        )
        if not self._try_commit(snap.version + 1, actions):
            raise ConcurrentWriteError(
                f"table advanced past v{snap.version}; re-read and retry"
            )
        return snap.version + 1

    def optimize_zorder(
        self,
        cols: list[str],
        target_files: int = 8,
        bits: int = 12,
        method: str = "approx",
    ) -> int:
        """OPTIMIZE ZORDER BY (Delta's layout rewrite): re-cluster the
        live set on the Morton key of ``cols`` into ``target_files``
        contiguous z-ranges, committed as ONE remove+add — readers see
        the re-layout atomically and old versions still time-travel
        (data files are immutable; only the live set changes). After
        the rewrite, the per-file min/max stats the log harvests prune
        on EVERY z-ordered column (operators/zorder.py describes the
        geometry; tests assert the prune improvement on a post-OPTIMIZE
        scan).

        Hive-partitioned tables are REJECTED rather than silently
        flattened: z-ordering across partition boundaries would strip
        the partition tuples from the log — the replace_partitions
        duplicate-row hazard compact() just closed. Partitioning and
        global z-order are alternative layouts; z-order within
        partitions is a per-partition rewrite (run per partition via
        replace_partitions if needed)."""
        from ..operators.zorder import zorder_layout

        snap = self._snapshot()
        if not snap.files:
            return snap.version
        if any("partition" in st for st in snap.files.values()):
            raise ValueError(
                "optimize_zorder: table is hive-partitioned — a global "
                "z-order would strip partition tuples from the log "
                "(replace_partitions victims would stop matching); "
                "z-order within partitions instead"
            )
        live = self._df_for(snap)
        clustered = zorder_layout(
            live, cols, num_files=target_files, bits=bits, method=method
        )
        actions = [{"remove": {"path": p}} for p in snap.files] + self._stage(
            clustered
        )
        if not self._try_commit(snap.version + 1, actions):
            raise ConcurrentWriteError(
                f"table advanced past v{snap.version}; re-read and retry"
            )
        return snap.version + 1

    def delete_where(
        self,
        condition: str,
        prune_filters: list[tuple[str, str, Any]] | None = None,
    ) -> int:
        """File-rewrite DELETE: only files that might contain matching
        rows (``prune_filters`` against the log stats — pass the
        sargable part of the predicate) are rewritten without their
        matching rows; every other file is untouched and keeps its
        identity in the log. One remove+add commit; old versions still
        time-travel. This is how row-level DML works on immutable
        storage — the rewrite set, not the table, is the write cost."""
        return self._rewrite_where(condition, prune_filters, update_set=None)

    def delete_where_dv(
        self,
        condition: str,
        prune_filters: list[tuple[str, str, Any]] | None = None,
        max_rows_per_commit: int = 1_000_000,
    ) -> int:
        """Merge-on-read DELETE via deletion vectors (Delta's DV design,
        public docs/spec): instead of rewriting every candidate file
        without its matching rows (``delete_where``'s copy-on-write),
        commit the matching ROW POSITIONS per file — one log action, no
        data movement. At 100 TB this is the difference between a
        GDPR-style 0.001% delete costing a full file-rewrite pass and
        costing one commit; readers pay a broadcast anti-join only on
        files that carry DVs (see ``_df_for``).

        Semantics: DVs accumulate (the committed vector is the union of
        the file's current DV and the new hits); a file whose vector
        would cover EVERY row is removed from the live set outright —
        the log never carries fully-dead files. Old versions still
        time-travel (the DV rides the log, data files are immutable),
        and ``compact()``/``optimize_zorder``/copy-on-write DML
        naturally materialize DVs away: they read DV-aware and the
        rewritten files start vector-free.

        ``max_rows_per_commit`` bounds the driver transfer — positions
        are collected to build the vector, which is the right shape for
        SPARSE deletes only. A predicate matching more rows than the
        cap raises with a pointer to ``delete_where``: a dense delete
        should rewrite files, not build a DV rivaling the data."""
        from pyspark.sql import functions as F

        snap = self._snapshot()
        if not snap.files:
            return snap.version
        scols = self._string_cols(snap)
        candidates = sorted(
            p
            for p in snap.files
            if not (
                prune_filters and _maybe_skip(snap.files[p], prune_filters, scols)
            )
        )
        if not candidates:
            return snap.version
        live = self._df_for(snap, candidates, with_location=True)
        hits = live.filter(F.expr(condition)).select("__file__", "__pos__")
        rows = hits.limit(max_rows_per_commit + 1).collect()
        if len(rows) > max_rows_per_commit:
            raise ValueError(
                f"delete_where_dv: predicate matches more than "
                f"{max_rows_per_commit} rows — deletion vectors are for "
                "sparse deletes; use delete_where (copy-on-write rewrite) "
                "or raise max_rows_per_commit explicitly"
            )
        per_file: dict[str, set[int]] = {}
        for r in rows:
            per_file.setdefault(r["__file__"], set()).add(int(r["__pos__"]))
        if not per_file:
            return snap.version
        actions: list[dict[str, Any]] = []
        for p in sorted(per_file):
            merged = sorted(set(snap.dvs.get(p, [])) | per_file[p])
            if len(merged) >= snap.files[p]["rows"]:
                actions.append({"remove": {"path": p}})
            else:
                actions.append({"dv": {"path": p, "rows": merged}})
        if not self._try_commit(snap.version + 1, actions):
            raise ConcurrentWriteError(
                f"table advanced past v{snap.version}; re-read and retry"
            )
        return snap.version + 1

    def update_where(
        self,
        condition: str,
        update_set: dict[str, str],
        prune_filters: list[tuple[str, str, Any]] | None = None,
    ) -> int:
        """File-rewrite UPDATE: candidate files are rewritten with
        ``update_set`` (col → SQL expression) applied to rows matching
        ``condition``; non-candidates never move."""
        return self._rewrite_where(condition, prune_filters, update_set)

    def _rewrite_where(
        self,
        condition: str,
        prune_filters: list[tuple[str, str, Any]] | None,
        update_set: dict[str, str] | None,
    ) -> int:
        from pyspark.sql import functions as F

        snap = self._snapshot()
        scols = self._string_cols(snap)
        candidates = sorted(
            p
            for p in snap.files
            if not (
                prune_filters and _maybe_skip(snap.files[p], prune_filters, scols)
            )
        )
        if not candidates:
            return snap.version
        cond = F.expr(condition)
        logged = {
            f.name: f.dataType
            for f in T.StructType.fromJson(json.loads(snap.schema_json)).fields
        }
        if update_set is not None:
            # SQL UPDATE casts the SET expression to the column's declared
            # type. Without the cast, an expression like v * 1.1 on a long
            # column writes DOUBLE-typed files while the log schema still
            # says long — and every later schema-enforced read of those
            # files breaks. Unknown columns are rejected for the same
            # reason (withColumn would append one the schema doesn't have).
            unknown = sorted(set(update_set) - set(logged))
            if unknown:
                raise KeyError(
                    f"update_where: columns {unknown} not in table schema "
                    f"{sorted(logged)}"
                )

        def _apply(touched: DataFrame) -> DataFrame:
            if update_set is None:
                return touched.filter(~cond)
            out = touched
            for col, expr in update_set.items():
                out = out.withColumn(
                    col,
                    F.when(cond, F.expr(expr).cast(logged[col])).otherwise(
                        F.col(col)
                    ),
                )
            return out

        # Preserve partition metadata PER LAYOUT GROUP: candidates are
        # rewritten and re-staged with their own partition key set, so a
        # mixed-layout live set (partitioned create + unpartitioned
        # append) keeps every file's layout — the single-partition_by
        # fallback silently flattened the minority group, stripping its
        # partition tuples from the log (the compact()/optimize_zorder
        # hazard, r13 txlog re-pass). Almost always one group = one
        # Spark write, exactly the old plan.
        groups: dict[tuple, list[str]] = {}
        for p in candidates:
            key = tuple(sorted(snap.files[p].get("partition", {})))
            groups.setdefault(key, []).append(p)
        adds: list[dict[str, Any]] = []
        for keys, files in sorted(groups.items()):
            adds += self._stage(_apply(self._df_for(snap, files)), list(keys) or None)
        actions = [{"remove": {"path": p}} for p in candidates] + adds
        if not self._try_commit(snap.version + 1, actions):
            raise ConcurrentWriteError(
                f"table advanced past v{snap.version}; re-read and retry"
            )
        return snap.version + 1

    def restore(self, version: int) -> int:
        """RESTORE: make an old snapshot current again via one commit
        (remove the live set, re-add the target version's files — data
        never moves, only log pointers).

        Raises BEFORE committing when any target file was vacuumed:
        the commit itself cannot know, so an unchecked restore to a
        vacuumed version produced a live set whose files are gone —
        every subsequent scan failing with path-not-found on a
        'successfully restored' table (r12 txlog re-pass). The check is
        check-then-commit (TOCTOU): a vacuum running CONCURRENTLY in the
        window between the existence scan and ``_try_commit`` can still
        strand the restored live set — acceptable under this log's
        single-writer local-filesystem design (vacuum is a maintenance
        op the single writer runs, never alongside a restore), and the
        ``os.path.exists`` probe is driver-local by the same design; a
        remote table dir would need a filesystem-API probe instead
        (r12 advice, documented rather than locked). Add-actions
        are re-emitted in the canonical shape (partition tuple as a
        sibling of stats, not nested inside it — the nested form only
        round-tripped by accident of dict(stats) copying it along)."""
        target = self._snapshot(version)
        missing = sorted(
            p
            for p in target.files
            if not os.path.exists(os.path.join(self.path, p))
        )
        if missing:
            raise FileNotFoundError(
                f"restore: {len(missing)} data file(s) of v{version} no longer "
                f"exist (vacuumed) — e.g. {missing[:3]}; that version is not "
                "restorable"
            )
        snap = self._snapshot()
        adds = []
        for p, s in sorted(target.files.items()):
            add = {"path": p, "stats": {k: v for k, v in s.items() if k != "partition"}}
            if "partition" in s:
                add["partition"] = s["partition"]
            adds.append({"add": add})
        actions = (
            [{"meta": {"schema": target.schema_json}}]
            + [{"remove": {"path": p}} for p in snap.files]
            + adds
            # the add replay clears DVs (new file identity), so the
            # target version's vectors are re-emitted AFTER the adds —
            # without this, a restore would resurrect DV-deleted rows
            + [
                {"dv": {"path": p, "rows": v}}
                for p, v in sorted(target.dvs.items())
                if p in target.files
            ]
        )
        if not self._try_commit(snap.version + 1, actions):
            raise ConcurrentWriteError(
                f"table advanced past v{snap.version}; re-read and retry"
            )
        return snap.version + 1

    # ------------------------------------------------------------------ read

    def _df_for(
        self,
        snap: _Snapshot,
        paths: list[str] | None = None,
        with_location: bool = False,
    ) -> DataFrame:
        """Build the DataFrame for a set of logged files.

        Partitioned files don't carry their partition columns in the
        body, so values are re-attached from the log. Grouping is by
        partition KEY SET (almost always one group), with the values
        joined in from a broadcast (file → partition values) lookup on
        ``input_file_name()`` — NOT one scan per partition VALUE: a
        1000-partition table would otherwise plan a 1000-way union whose
        analysis alone dwarfs the query. The lookup is file-count-sized,
        the same thing the log already holds in memory.

        DELETION VECTORS are always applied: a file carrying a DV reads
        through a broadcast left-anti join on (file basename, parquet
        ``_metadata.row_index``) against its deleted-position set, so
        merge-on-read deletes cost only the files that HAVE deletions —
        clean files scan exactly as before (no per-row location columns,
        no join). ``with_location=True`` additionally keeps
        ``(__file__, __pos__)`` on every row — the hook DV writers use
        to turn a predicate into positions (metadata columns must be
        bound at the scan, before any join, which is why this lives
        here and not in a caller)."""
        from pyspark.sql import functions as F

        sel = sorted(snap.files) if paths is None else paths
        schema = T.StructType.fromJson(json.loads(snap.schema_json))
        loc_fields = [
            T.StructField("__file__", T.StringType(), True),
            T.StructField("__pos__", T.LongType(), True),
        ]
        if not sel:
            out_schema = (
                T.StructType(schema.fields + loc_fields) if with_location else schema
            )
            return local_frame(self.spark, [], out_schema)
        groups: dict[tuple, list[str]] = {}
        for p in sel:
            part = snap.files[p].get("partition", {})
            groups.setdefault(tuple(sorted(part)), []).append(p)
        types = {f.name: f.dataType for f in schema.fields}
        cols = [f.name for f in schema.fields]
        out_cols = cols + (["__file__", "__pos__"] if with_location else [])
        outs = []
        for keys, files in sorted(groups.items()):
            # The data side joins on the BASENAME of input_file_name(), so
            # the lookups (partition values AND deletion vectors) key on
            # basenames too — and basenames must be unique or the joins
            # would silently duplicate/drop rows. _stage guarantees uuid
            # names; fail loudly if that invariant ever breaks.
            basenames = [os.path.basename(p) for p in files]
            if len(set(basenames)) != len(basenames):
                raise RuntimeError(
                    "txlog: duplicate data-file basenames in one snapshot "
                    "group — the partition-value/DV recovery joins require "
                    "unique basenames (see _stage)"
                )

            def _read(flist: list[str], needs_loc: bool, keys=keys) -> DataFrame:
                full = [os.path.join(self.path, p) for p in flist]
                body = (
                    schema
                    if not keys
                    else T.StructType([f for f in schema.fields if f.name not in keys])
                )
                df = self.spark.read.schema(body).parquet(*full)
                if needs_loc or keys:
                    df = df.withColumn(
                        "__file__",
                        F.element_at(F.split(F.input_file_name(), "/"), -1),
                    )
                if needs_loc:
                    # parquet row index: stable position within the file,
                    # the identity DV positions are recorded against
                    df = df.withColumn("__pos__", F.col("_metadata.row_index"))
                if keys:
                    lk_schema = T.StructType(
                        [T.StructField("__file__", T.StringType(), False)]
                        + [T.StructField(k, T.StringType(), True) for k in keys]
                    )
                    lk = local_frame(
                        self.spark,
                        [
                            tuple(
                                [os.path.basename(p)]
                                + [snap.files[p]["partition"].get(k) for k in keys]
                            )
                            for p in flist
                        ],
                        lk_schema,
                    )
                    df = df.join(F.broadcast(lk), "__file__")
                    for k in keys:
                        # add-actions store unescaped values; null is stored
                        # as JSON null (see _stage), so no sentinel decoding
                        df = df.withColumn(k, F.col(k).cast(types[k]))
                want = cols + (["__file__", "__pos__"] if needs_loc else [])
                return df.select(*want)

            dv_files = [p for p in files if snap.dvs.get(p)]
            clean = [p for p in files if not snap.dvs.get(p)]
            if clean:
                outs.append(_read(clean, with_location))
            if dv_files:
                pairs = [
                    (os.path.basename(p), int(pos))
                    for p in dv_files
                    for pos in snap.dvs[p]
                ]
                dv_lk = local_frame(
                    self.spark,
                    pairs,
                    T.StructType(
                        [
                            T.StructField("__file__", T.StringType(), False),
                            T.StructField("__pos__", T.LongType(), False),
                        ]
                    ),
                )
                d = _read(dv_files, True).join(
                    F.broadcast(dv_lk), ["__file__", "__pos__"], "left_anti"
                )
                outs.append(d.select(*out_cols))
        out = outs[0]
        for o in outs[1:]:
            out = out.unionByName(o)
        return out

    def scan(
        self,
        version: int | None = None,
        filters: list[tuple[str, str, Any]] | None = None,
    ) -> DataFrame:
        """Read a snapshot. ``filters`` [(col, op, value), ...] (ANDed;
        ops: = == < <= > >=) prune files via log stats AND are applied
        as real Spark filters — pruning never changes results, only IO."""
        snap = self._snapshot(version)
        paths = sorted(snap.files)
        if filters:
            scols = self._string_cols(snap)
            paths = [
                p for p in paths if not _maybe_skip(snap.files[p], filters, scols)
            ]
        df = self._df_for(snap, paths)
        from pyspark.sql import functions as F

        for name, op, value in filters or []:
            c = F.col(name)
            df = df.filter(
                {
                    "=": c == value,
                    "==": c == value,
                    "<": c < value,
                    "<=": c <= value,
                    ">": c > value,
                    ">=": c >= value,
                }[op]
            )
        return df

    def version_changes(
        self,
        v_old: int,
        v_new: int | None,
        key_cols: list[str],
        value_cols: list[str] | None = None,
    ) -> DataFrame:
        """Row-level change feed between two versions (Delta's
        ``table_changes``) with FILE-IDENTITY pruning — the 100 TB shape
        ``lake_snapshot_diff``'s docstring promises: a file present in
        BOTH snapshots holds bit-identical rows on both sides, so it
        cannot contribute a change; only files rewritten, added, or
        removed between the versions are scanned. At a daily churn of
        0.1% of files, the diff reads ~0.2% of the table instead of 2×
        all of it. Sound under the diff's own key contract (``key_cols``
        unique per version): a key whose row lives in a shared file is
        identical on both sides AND cannot appear in any other file, so
        dropping shared files never drops a change.

        Emits one row per key that differs: (keys..., change ∈
        added|removed|changed, old_<v>/new_<v> per value column). Keys
        equal on both sides drop out. The file sets the scan touched are
        recorded on the instance (``last_cdf_files``) for pruning
        observability/tests."""
        from pyspark.sql import functions as F

        s0 = self._snapshot(v_old)
        s1 = self._snapshot(v_new)
        # a file present in BOTH snapshots is only prunable when its
        # deletion vector is ALSO unchanged — same path + different DV
        # means different live rows (merge-on-read deletes)
        shared = {
            p
            for p in s0.files.keys() & s1.files.keys()
            if s0.dvs.get(p) == s1.dvs.get(p)
        }
        old_paths = [p for p in sorted(s0.files) if p not in shared]
        new_paths = [p for p in sorted(s1.files) if p not in shared]
        self.last_cdf_files = {
            "old_scanned": len(old_paths),
            "new_scanned": len(new_paths),
            "shared_pruned": len(shared),
        }
        new_schema = T.StructType.fromJson(json.loads(s1.schema_json))
        old_schema = T.StructType.fromJson(json.loads(s0.schema_json))
        if value_cols is None:
            value_cols = [f.name for f in new_schema.fields if f.name not in key_cols]
        # Schema evolution across the version range (r12 advice): a
        # column appended-in after v_old exists only in the new schema —
        # selecting it from the old snapshot raised AnalysisException.
        # The CDF semantics of a widened column are "old side is NULL"
        # (every pre-widening row gains the column as NULL), so a side
        # that lacks a value column projects a typed NULL literal,
        # sourcing the type from whichever schema carries the column.
        # Keys must exist on BOTH sides — a key column missing from one
        # schema would silently join every row of that side on NULL.
        types = {f.name: f.dataType for f in new_schema.fields}
        for f in old_schema.fields:
            types.setdefault(f.name, f.dataType)
        for side_name, fields in (("v_old", old_schema), ("v_new", new_schema)):
            missing_keys = [k for k in key_cols if k not in {f.name for f in fields}]
            if missing_keys:
                raise ValueError(
                    f"version_changes: key column(s) {missing_keys} absent from "
                    f"{side_name}'s schema — a change feed needs keys stable "
                    "across the version range"
                )
        unknown = [c for c in value_cols if c not in types]
        if unknown:
            raise ValueError(
                f"version_changes: value column(s) {unknown} exist in neither "
                "snapshot's schema"
            )

        def _side(snap_schema: T.StructType, df: DataFrame, prefix: str) -> DataFrame:
            have = {f.name for f in snap_schema.fields}
            proj = [
                (F.col(c) if c in have else F.lit(None).cast(types[c])).alias(
                    f"{prefix}{c}"
                )
                for c in value_cols
            ]
            return df.select(*key_cols, *proj)

        old = _side(old_schema, self._df_for(s0, old_paths), "old_")
        new = _side(new_schema, self._df_for(s1, new_paths), "new_")
        # presence via marker literals, never a nullable value column
        # (the scd2 sentinel lesson — an old row whose every value is
        # legitimately NULL must still count as present)
        old = old.withColumn("__o__", F.lit(True))
        new = new.withColumn("__n__", F.lit(True))
        joined = old.join(new, on=key_cols, how="full_outer")
        old_present = F.col("__o__").isNotNull()
        new_present = F.col("__n__").isNotNull()
        differs = F.lit(False)
        for c in value_cols:
            differs = differs | ~F.col(f"old_{c}").eqNullSafe(F.col(f"new_{c}"))
        change = (
            F.when(old_present & ~new_present, F.lit("removed"))
            .when(~old_present & new_present, F.lit("added"))
            .when(differs, F.lit("changed"))
        )
        return (
            joined.withColumn("change", change)
            .filter(F.col("change").isNotNull())
            .select(
                *key_cols,
                "change",
                *[f"old_{c}" for c in value_cols],
                *[f"new_{c}" for c in value_cols],
            )
        )

    def files(self, version: int | None = None) -> dict[str, dict[str, Any]]:
        return dict(self._snapshot(version).files)

    def deletion_vectors(self, version: int | None = None) -> dict[str, list[int]]:
        """path → sorted deleted row positions (merge-on-read state) —
        the observability hook DV tests assert on."""
        return {p: list(v) for p, v in self._snapshot(version).dvs.items()}

    def pruned_files(
        self, filters: list[tuple[str, str, Any]], version: int | None = None
    ) -> tuple[int, int]:
        """(kept, total) file counts for a filter — the data-skipping
        observability hook (and what the tests assert on)."""
        snap = self._snapshot(version)
        scols = self._string_cols(snap)
        kept = [
            p for p in snap.files if not _maybe_skip(snap.files[p], filters, scols)
        ]
        return len(kept), len(snap.files)

    def history(self) -> list[dict[str, Any]]:
        out = []
        for v in range(self.latest_version() + 1):
            with open(self._version_path(v)) as fh:
                commit = json.load(fh)
            kinds = [next(iter(a)) for a in commit["actions"]]
            out.append(
                {
                    "version": v,
                    "n_add": kinds.count("add"),
                    "n_remove": kinds.count("remove"),
                    "n_dv": kinds.count("dv"),
                    "schema_change": "meta" in kinds,
                }
            )
        return out

    # ---------------------------------------------------------------- vacuum

    def vacuum(self, retain_versions: int = 1) -> list[str]:
        """Physically delete data files unreachable from the newest
        ``retain_versions`` snapshots (plus staged orphans). Time travel
        to older versions stops working — same contract as Delta's
        VACUUM, versioned by count instead of wall-clock. Run it only
        while no writer is mid-stage: staged-but-uncommitted dirs are
        treated as orphans (Delta has the same caveat, bounded there by
        the retention clock)."""
        if retain_versions < 1:
            # retain_versions=0 would build an empty keep-set and delete
            # every LIVE file of the current version (review finding r10)
            raise ValueError(
                f"vacuum: retain_versions must be >= 1, got {retain_versions}"
            )
        latest = self.latest_version()
        keep: set[str] = set()
        for v in range(max(0, latest - retain_versions + 1), latest + 1):
            keep.update(self._snapshot(v).files)
        removed = []
        for entry in sorted(os.listdir(self.path)):
            full = os.path.join(self.path, entry)
            if entry.startswith("_staged-") and os.path.isdir(full):
                shutil.rmtree(full)
                removed.append(entry)
            elif entry.endswith(".parquet") and entry not in keep:
                os.remove(full)
                removed.append(entry)
        return removed
