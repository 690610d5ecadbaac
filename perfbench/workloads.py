"""The benchmark's workloads.

Each workload writes its inputs from the seed (``inputs``), builds the
Spark-side state its operations start from and warms the JVM
(``warmup``), runs its timed operations ``op(0..n-1)``, and afterwards
checks what the timed phase produced against a DuckDB recomputation
(``check``). Operations call the package's public functions only; the
tracer wraps them in spans when the run is traced.
"""

from __future__ import annotations

import glob
import os
from datetime import datetime

import duckdb
import numpy as np
import pandas as pd
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from tools.check_correctness import compare

from . import gen


def _dir_bytes(path: str) -> int:
    """Bytes of the parquet data files under ``path``."""
    files = glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True)
    return sum(os.path.getsize(f) for f in files)


class Workload:
    """Shared plumbing: seeded generator, input accounting, tracer."""

    name = ""
    # Duration of one operation on a 4-vCPU host; the number of timed
    # operations is ``--seconds`` divided by it (at least one), so every
    # commit runs the same operations on the same inputs.
    nominal_op_s: float

    def __init__(self, spark, work: str, seed: int, tracer):
        self.spark = spark
        self.work = work
        self.tracer = tracer
        self.rng = np.random.default_rng([seed, sum(map(ord, self.name))])
        self.input_rows = 0
        self.input_bytes = 0

    def n_ops(self, seconds: float) -> int:
        return max(1, round(seconds / self.nominal_op_s))

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def write_input(self, table, path: str) -> str:
        gen.write(table, path)
        self.input_rows += table.num_rows
        self.input_bytes += os.path.getsize(path)
        return path

    def layer_metrics(self) -> dict[str, float]:
        return {}


def _cdc_apply(state: pd.DataFrame, changes: pd.DataFrame, key: str) -> pd.DataFrame:
    """Reference CDC semantics: per key the latest change by (seq, op)
    wins; 'D' removes the key, 'I'/'U' replace the row."""
    latest = changes.sort_values(["seq", "op"]).groupby(key).tail(1)
    cols = list(state.columns)
    keep = state[~state[key].isin(latest[key])]
    ups = latest[latest.op != "D"][cols]
    return pd.concat([keep, ups], ignore_index=True)


# --------------------------------------------------------------------------
# warehouse_daily
# --------------------------------------------------------------------------


class WarehouseDaily(Workload):
    """One batch day of the paper's DAG per operation: land the day's
    order and customer deltas into transaction-logged tables, export the
    snapshots to the landing zone (t0), run ``run_daily`` (t1 SQL, t2
    partition overwrite, retention prune, weekly serving index), compact
    the order log on weekly days, and serve the day's reads (t5): the
    customer change feed since yesterday and one natural-language
    question, both collected to the driver."""

    name = "warehouse_daily"
    nominal_op_s = 16.0
    # Customer changes per batch day. The reference data has no change
    # stream, so this rate is the load model's, not a measured figure.
    CHANGES_PER_DAY = 10
    KEEP_DAYS = 1
    FIRST_DAY = datetime(2024, 1, 8)  # a Monday: the first day runs the weekly tasks too

    def inputs(self, n_days: int) -> None:
        rng = self.rng
        self.src = self.path("src")
        self.wh = self.path("warehouse")
        tables = {name: gen.sample(name) for name in gen.TABLES}
        for name, t in tables.items():
            self.write_input(t, os.path.join(self.src, f"{name}.parquet"))
        self.base_orders = tables["orders"].to_pandas()
        self.base_customers = tables["customer"].to_pandas()
        live = self.base_customers.c_custkey.to_numpy()
        next_order = gen.next_key(tables["orders"], "o_orderkey")
        next_cust = gen.next_key(tables["customer"], "c_custkey")
        seq = 0
        self.days = []
        for d in range(n_days):
            date = gen.day_date(self.FIRST_DAY, d)
            o = gen.day_orders(rng, tables["orders"], date, next_order)
            next_order += o.num_rows
            c = gen.customer_changes(rng, tables["customer"], live, next_cust, self.CHANGES_PER_DAY, seq)
            seq += c.num_rows
            cdf = c.to_pandas()
            added = set(cdf.c_custkey[cdf.op == "I"])
            next_cust += len(added)
            live = np.array(sorted((set(live) - set(cdf.c_custkey[cdf.op == "D"])) | added))
            self.days.append(
                {
                    "date": date,
                    "question": _nl_question(rng, self.base_orders),
                    "weekly": datetime.strptime(date, "%Y%m%d").weekday() == 0,
                    "orders": self.write_input(o, self.path("deltas", date, "orders.parquet")),
                    "customers": self.write_input(c, self.path("deltas", date, "customers.parquet")),
                }
            )

    def warmup(self) -> None:
        """Create the two transaction-logged source tables."""
        from data_engineering_spark.sources.txlog import LakeTable
        from data_engineering_spark.streaming.streams import cdc_upsert_sink

        self.orders_lake = LakeTable(self.spark, self.path("lake", "orders"))
        self.customer_lake = LakeTable(self.spark, self.path("lake", "customer"))
        self.orders_lake.create(self.spark.read.parquet(os.path.join(self.src, "orders.parquet")))
        self.customer_lake.create(self.spark.read.parquet(os.path.join(self.src, "customer.parquet")))
        self.cdc_sink = cdc_upsert_sink(self.customer_lake, ["c_custkey"], app_id="perfbench-cdc")
        self.records = []
        self.done = 0

    def op(self, d: int) -> None:
        from data_engineering_spark.functions.nl2sql import run_nl
        from data_engineering_spark.pipeline.daily import run_daily
        from data_engineering_spark.sources.writers import truncate_and_load

        day = self.days[d]
        read = self.spark.read.parquet
        self.orders_lake.append(read(day["orders"]))
        with self.tracer.span("streaming.sink"):
            self.cdc_sink(read(day["customers"]), d)
        # t0: land the current snapshots where the DAG's t1 reads them
        truncate_and_load(self.orders_lake.scan(), os.path.join(self.src, "orders.parquet"))
        truncate_and_load(self.customer_lake.scan(), os.path.join(self.src, "customer.parquet"))
        self.records += run_daily(
            self.spark, self.src, self.wh, day["date"], weekly=day["weekly"], keep_days=self.KEEP_DAYS
        )
        if day["weekly"]:
            self.orders_lake.compact()
        # t5: the day's reads
        v = self.customer_lake.latest_version()
        with self.tracer.span("queries.construct"):
            feed = self.customer_lake.version_changes(v - 1, v, ["c_custkey"])
        with self.tracer.span("queries.execute"):
            day["feed"] = feed.toPandas()
        with self.tracer.span("queries.construct"):
            answer = run_nl(self.spark, self.src, day["question"])
        with self.tracer.span("queries.execute"):
            day["answer"] = answer.toPandas()
        self.done = d + 1

    def _lake_frame(self, lake) -> pd.DataFrame:
        files = [os.path.join(lake.path, p) for p in sorted(lake.files())]
        return pq.ParquetDataset(files).read().to_pandas()

    def check(self) -> list[str]:
        from data_engineering_spark.functions.nl2sql import compile_nl

        bad = []
        con = duckdb.connect()
        audit = con.execute(
            f"SELECT job_nm, success_yn FROM read_parquet('{self.wh}/audit_log/*.parquet')"
        ).fetchdf()
        expected = sum(4 if day["weekly"] else 3 for day in self.days[: self.done])
        if len(audit) != expected or (audit.success_yn != "Y").any() or len(self.records) != expected:
            bad.append(f"audit: {len(audit)} rows (expected {expected}), failed {list(audit.job_nm[audit.success_yn != 'Y'])}")
        orders = self.base_orders
        customers = self.base_customers
        snapshots = {}
        schemas = {"orders": list(orders.columns)}
        for day in self.days[: self.done]:
            orders = pd.concat([orders, pq.read_table(day["orders"]).to_pandas()], ignore_index=True)
            before = customers
            customers = _cdc_apply(customers, pq.read_table(day["customers"]).to_pandas(), "c_custkey")
            snapshots[day["date"]] = (orders, customers)
            verdict = compare("feed", day["feed"], _change_feed(before, customers, "c_custkey"), exact=True)
            if verdict != "OK":
                bad.append(f"change feed {day['date']}: {verdict}")
            con.register("orders", orders)
            want = con.execute(compile_nl(day["question"], schemas)).fetchdf()
            verdict = compare(day["question"], day["answer"], want, exact=True)
            if verdict != "OK":
                bad.append(f"nl {day['date']} {day['question']!r}: {verdict}")
        for lake, want in ((self.orders_lake, orders), (self.customer_lake, customers)):
            verdict = compare(lake.path, self._lake_frame(lake), want, exact=True)
            if verdict != "OK":
                bad.append(f"{os.path.basename(lake.path)} lake: {verdict}")
        mart = con.execute(
            f"SELECT * FROM read_parquet('{self.wh}/t2_cust_mart/*/*.parquet', "
            "hive_partitioning = true, hive_types = {'bkup_dt': VARCHAR})"
        ).fetchdf()
        kept = sorted(mart.bkup_dt.unique())
        last = self.days[self.done - 1]["date"]
        cutoff = (datetime.strptime(last, "%Y%m%d") - pd.Timedelta(days=self.KEEP_DAYS)).strftime("%Y%m%d")
        want_dates = [d for d in snapshots if d >= cutoff]
        if kept != want_dates:
            bad.append(f"mart partitions {kept} != {want_dates}")
        nation = pq.read_table(os.path.join(self.src, "nation.parquet")).to_pandas()
        for date in want_dates:
            o, c = snapshots[date]
            con.register("o", o)
            con.register("c", c)
            con.register("n", nation)
            want = con.execute(
                f"""SELECT '{date}' AS bkup_dt, o_custkey, c_name, n_name, n_orders,
                           total_spend, last_order_dt
                    FROM (SELECT o_custkey, count(*) AS n_orders,
                                 round(sum(o_totalprice), 2) AS total_spend,
                                 strftime(max(o_orderdate), '%Y%m%d') AS last_order_dt
                          FROM o GROUP BY o_custkey) t
                    JOIN c ON t.o_custkey = c.c_custkey
                    JOIN n ON c.c_nationkey = n.n_nationkey"""
            ).fetchdf()
            got = mart[mart.bkup_dt == date].reset_index(drop=True)[list(want.columns)]
            verdict = compare(date, got, want)
            if verdict != "OK":
                bad.append(f"mart {date}: {verdict}")
        return bad

    def layer_metrics(self) -> dict[str, float]:
        return _lake_metrics([self.orders_lake, self.customer_lake], self.records)


def _lake_metrics(lakes, records) -> dict[str, float]:
    """Log and storage figures of transaction-logged tables, plus the
    audit rows the run wrote."""
    versions = live = 0
    live_bytes = all_bytes = 0
    for lake in lakes:
        versions += lake.latest_version() + 1
        files = lake.files()
        live += len(files)
        live_bytes += sum(os.path.getsize(os.path.join(lake.path, p)) for p in files)
        all_bytes += sum(
            os.path.getsize(os.path.join(root, f)) for root, _, fs in os.walk(lake.path) for f in fs
        )
    return {
        "sources.txlog.versions": versions,
        "sources.txlog.live_files": live,
        "sources.txlog.bytes_per_user_byte": all_bytes / live_bytes if live_bytes else 0.0,
        "pipeline.audit_writes": len(records),
        "pipeline.audit_failed": sum(r.success_yn != "Y" for r in records),
    }


def _nl_question(rng: np.random.Generator, orders: pd.DataFrame) -> str:
    """A seeded question over ``orders`` whose answer is exact (counts,
    min/max): the NL front end's daily request. Its constants are the
    price and status of a seeded reference order."""
    row = orders.iloc[int(rng.integers(0, len(orders)))]
    price, status = int(row.o_totalprice), row.o_orderstatus
    return [
        f"count rows in orders where o_totalprice > {price}",
        f"max o_totalprice in orders where o_orderstatus = {status}",
        f"count distinct o_custkey by o_orderstatus in orders where o_totalprice > {price}",
        f"count o_orderkey by o_custkey in orders where o_totalprice > {price} having at least 2 top 10",
    ][int(rng.integers(0, 4))]


def _change_feed(old: pd.DataFrame, new: pd.DataFrame, key: str) -> pd.DataFrame:
    """Reference ``LakeTable.version_changes``: one row per key added,
    removed or changed between two snapshots, with old_/new_ values."""
    vals = [c for c in old.columns if c != key]
    m = old.merge(new, on=key, how="outer", suffixes=("_o", "_n"), indicator=True)
    differs = np.zeros(len(m), dtype=bool)
    for c in vals:
        same = m[f"{c}_o"].eq(m[f"{c}_n"]) | (m[f"{c}_o"].isna() & m[f"{c}_n"].isna())
        differs |= ~same.to_numpy()
    m["change"] = np.where(
        m._merge == "left_only",
        "removed",
        np.where(m._merge == "right_only", "added", np.where(differs, "changed", None)),
    )
    m = m[m.change.notna()]
    out = {key: m[key], "change": m.change}
    for prefix, side in (("old_", "_o"), ("new_", "_n")):
        for c in vals:
            col = m[c + side]
            if col.dtype == object:  # Spark returns None, not NaN, for a missing string
                col = col.astype(object).where(col.notna(), None)
            out[prefix + c] = col
    return pd.DataFrame(out).reset_index(drop=True)


# --------------------------------------------------------------------------
# llm_curation
# --------------------------------------------------------------------------

CHAIN = [
    "operators.curation.pii_redact",
    "operators.curation.repetition_stats",
    "operators.dedup.exact_dedup",
    "operators.dedup.minhash_near_dedup",
    "operators.curation.ngram_decontaminate",
    "operators.classify.classifier_margins",
    "operators.similarity.cosine_topk",
]


class LlmCuration(Workload):
    """One document shard (and its embeddings) per operation through a
    fixed curation chain; every step writes its output, as a staged
    curation job does. The curated shard then feeds the incremental
    MinHash sink, whose corpus index grows over the run."""

    name = "llm_curation"
    nominal_op_s = 30.0
    DOCS_PER_SHARD = 2000
    TRAIN_DOCS = 300

    def inputs(self, n_shards: int) -> None:
        """Shards are disjoint runs of a seeded permutation of the
        reference corpus (a new permutation once it is used up), with
        embeddings in the reference's ratio to documents; the classifier's
        training set is a seeded sample of the same corpus."""
        docs, vecs = gen.sample("documents"), gen.sample("embeddings")
        n_vecs = round(self.DOCS_PER_SHARD * vecs.num_rows / docs.num_rows)
        order = np.empty(0, dtype=np.int64)
        self.shards = []
        for i in range(n_shards):
            if len(order) < self.DOCS_PER_SHARD:
                order = np.concatenate([order, self.rng.permutation(docs.num_rows)])
            rows, order = order[: self.DOCS_PER_SHARD], order[self.DOCS_PER_SHARD :]
            d = self.path("shards", str(i))
            self.write_input(gen.doc_shard(docs, rows, i * self.DOCS_PER_SHARD), os.path.join(d, "documents.parquet"))
            self.write_input(gen.vec_shard(self.rng, vecs, n_vecs), os.path.join(d, "embeddings.parquet"))
            self.shards.append(d)
        self.train_dir = self.path("train")
        train = gen.doc_shard(docs, self.rng.choice(docs.num_rows, self.TRAIN_DOCS, replace=False), 10**9)
        self.write_input(train, os.path.join(self.train_dir, "documents.parquet"))

    def warmup(self) -> None:
        """Train the classifier the chain scores with, and open the
        streaming sink."""
        from data_engineering_spark.catalog import load_table
        from data_engineering_spark.operators.classify import train_perceptron
        from data_engineering_spark.streaming.incremental_dedup import incremental_minhash_sink

        train = load_table(self.spark, self.train_dir, "documents")
        self.weights, _ = train_perceptron(
            train, F.when(F.col("lang") == "en", 1).otherwise(-1), iterations=3, buckets=64
        )
        self.index = self.path("stream", "index")
        self.sink = incremental_minhash_sink(
            self.index, self.path("stream", "store"), self.path("stream", "pairs")
        )
        self.last = None

    def op(self, i: int) -> None:
        from data_engineering_spark.catalog import load_table
        from data_engineering_spark.operators.classify import classifier_margins
        from data_engineering_spark.operators.curation import (
            ngram_decontaminate,
            pii_redact,
            repetition_stats,
        )
        from data_engineering_spark.operators.dedup import exact_dedup, minhash_near_dedup
        from data_engineering_spark.operators.similarity import cosine_topk

        shard = self.shards[i]
        out = self.path("out", str(i))
        read = self.spark.read.parquet

        def step(name, df, sub):
            with self.tracer.span(name):
                df.write.mode("overwrite").parquet(os.path.join(out, sub))
            return read(os.path.join(out, sub))

        docs = load_table(self.spark, shard, "documents")
        pii = step(CHAIN[0], pii_redact(docs), "pii")
        text = pii.select("doc_id", F.col("clean_text").alias("text"))
        rep = step(CHAIN[1], repetition_stats(text), "rep")
        kept = step(CHAIN[1], text.join(rep.filter("keep").select("doc_id"), "doc_id"), "kept")
        exact = step(CHAIN[2], exact_dedup(kept), "exact")
        unique = kept.join(exact.select("doc_id"), "doc_id")
        near = step(CHAIN[3], minhash_near_dedup(unique), "near")
        survivors = unique.join(near.select(F.col("id_b").alias("doc_id")), "doc_id", "left_anti")
        decon = step(
            CHAIN[4],
            ngram_decontaminate(
                survivors.filter(F.col("doc_id") % 10 != 0), survivors.filter(F.col("doc_id") % 10 == 0), n=8
            ),
            "decon",
        )
        clean = survivors.join(decon.filter(~F.col("contaminated")).select("doc_id"), "doc_id")
        step(CHAIN[5], classifier_margins(clean, self.weights, buckets=64), "margins")
        emb = load_table(self.spark, shard, "embeddings")
        # every embedding of the shard queries its five nearest neighbours
        step(CHAIN[6], cosine_topk(emb, emb, k=5), "topk")
        with self.tracer.span("streaming.sink"):
            self.sink(clean, i)
        self.last = (shard, out)

    def check(self) -> list[str]:
        """The last timed shard: every chain step with an oracle twin
        in the registry is recomputed by DuckDB from the step's input
        files and hash-compared with what the step wrote."""
        import __spark_entry__ as entry

        oracle = entry.oracle_sql()
        shard, out = self.last
        con = duckdb.connect()

        def pq_glob(sub):
            return f"read_parquet('{os.path.join(out, sub)}/*.parquet')"

        def run(view_sql: str, view: str, name: str) -> pd.DataFrame:
            con.execute(f"CREATE OR REPLACE VIEW {view} AS {view_sql}")
            return con.execute(oracle[name]).fetchdf()

        def got(sub, where="TRUE"):
            return con.execute(f"SELECT * FROM {pq_glob(sub)} WHERE {where}").fetchdf()

        checks = [
            ("curate_quality_repetition", "documents",
             f"SELECT doc_id, clean_text AS text FROM {pq_glob('pii')}", "rep", "TRUE"),
            ("dedup_exact", "documents", f"SELECT * FROM {pq_glob('kept')}", "exact", "TRUE"),
            ("curate_decontaminate", "documents",
             f"""SELECT k.* FROM {pq_glob('kept')} k JOIN {pq_glob('exact')} e USING (doc_id)
                 WHERE k.doc_id NOT IN (SELECT id_b FROM {pq_glob('near')})""", "decon", "TRUE"),
            # the oracle twin answers the first ten queries
            ("sim_cosine_topk", "embeddings",
             f"SELECT * FROM read_parquet('{shard}/embeddings.parquet')", "topk", "query_id < 10"),
        ]
        bad = []
        for name, view, sql, sub, where in checks:
            verdict = compare(name, got(sub, where), run(sql, view, name), exact=True)
            if verdict != "OK":
                bad.append(f"{name}: {verdict}")
        want_w = run(f"SELECT * FROM read_parquet('{self.train_dir}/documents.parquet')", "documents",
                     "nlp_train_quality_classifier")
        got_w = pd.DataFrame(self.weights, columns=["bucket", "weight"]).astype("int64")
        verdict = compare("train_perceptron", got_w, want_w, exact=True)
        if verdict != "OK":
            bad.append(f"nlp_train_quality_classifier: {verdict}")
        # pii_redact's twin plants its PII itself, so it runs on the shard
        spark_pii = entry.queries()["curate_pii_redact"](self.spark, shard).toPandas()
        verdict = compare("curate_pii_redact", spark_pii,
                          run(f"SELECT * FROM read_parquet('{shard}/documents.parquet')", "documents",
                              "curate_pii_redact"), exact=True)
        if verdict != "OK":
            bad.append(f"curate_pii_redact: {verdict}")
        pairs = got("near")
        if len(pairs) and (pairs.jaccard < 0.6).any():
            bad.append("minhash_near_dedup: pair below the 0.6 threshold")
        return bad

    def layer_metrics(self) -> dict[str, float]:
        return {"streaming.index_mb": _dir_bytes(self.index) / 2**20}


WORKLOADS = {w.name: w for w in (WarehouseDaily, LlmCuration)}
