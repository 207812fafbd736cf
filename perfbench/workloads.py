"""The four benchmark workloads.

Each workload is a closed loop with one client: ``iterate`` runs one
iteration and returns only after every call in it has completed. The
calls go through the engine's public functions, each wrapped in a tracer
span named ``<layer>.<call>`` (a no-op when the run is untraced). Output
checks live in ``check`` and run after the timed loop.
"""

from __future__ import annotations

import contextlib
import os
import sys
import time
from dataclasses import dataclass, field

import numpy as np

import gen

PKG = "databricks_feature_store_poc_spark"

# Registry queries per workload. Fixed lists, so that two seeds run the
# same work; the seed permutes their order in every iteration.
#
# SQL_QUERIES: one query from each module that holds the registry's
# tpch_/agg_/join_/win_ queries, chosen by a measured pass over all 74 of
# them (warm wall, builder call + noop, local[4], generated sf0.01): the
# query at the module's lower median wall. The pass: median 0.22 s per
# query on the generated tables and on the reference sf0.01 tables alike,
# per-query wall ratio generated/reference 0.86-1.09 between quartiles,
# rank correlation 0.92. One exception: operators.bloom's lower median,
# agg_countmin_sketch, asserts a probabilistic bound (estimate within
# true + 2N/width) as always true, and that fails on some seeds' data
# (seed 109 at sf0.01); a benchmark seed must not decide whether a run
# is correct, so the module's other query, agg_bloom_filter, stands in.
SQL_QUERIES = (
    "agg_collect_set",         # functions.scalar (1 query)
    "win_session_paths",       # operators.analytics (12)
    "agg_bloom_filter",        # operators.bloom (2)
    "join_entity_resolution",  # operators.entity (1)
    "join_inner_hash",         # operators.relational (41)
    "join_salted_skew",        # operators.skew (1)
    "tpch_q17",                # operators.tpch (16)
)
# Memo-using curation queries, one per memo kind: the shingle index
# (dedup), image fingerprints (multimodal) and the ANN index
# (similarity). Memo misses are what separate the cold workload from the
# warm one.
LLM_QUERIES = ("dedup_ngram_jaccard", "dedup_image_dhash", "sim_ann_lsh")
# The registry modules those queries live in: the per-layer metric names.
REGISTRY_LAYERS = (
    "functions.scalar", "operators.analytics", "operators.bloom", "operators.entity",
    "operators.relational", "operators.skew", "operators.tpch",
    "llm.dedup", "llm.multimodal", "llm.similarity",
)

# fs_lifecycle input sizes: small enough that a run holds four timed
# iterations, and no step takes more than about a third of one
# (train_gbt is the largest).
FS_SIZES = gen.FsSizes(customers=10_000, products=500, spine=50_000,
                       inference=10_000, new_keys=500)
FS_GETS = 20_000
FS_HIT_SHARE = 0.8
FS_ZIPF_S = 1.1
SCORE_THRESHOLD = 300.0
REGISTRY_SF = 0.01


def module_layer(fn) -> str:
    """``databricks_feature_store_poc_spark.operators.tpch`` -> ``operators.tpch``."""
    return fn.__module__.removeprefix(PKG + ".")


@dataclass
class Ctx:
    spark: object
    tracer: object
    seed: int
    work: str


@dataclass
class IterResult:
    wall_s: float
    query_walls: list[float] = field(default_factory=list)
    attempted: int = 0
    failed: int = 0
    extra: dict = field(default_factory=dict)


def release_checkpoints(ctx: Ctx) -> None:
    """``cacheutil.release_checkpoints``, spanned; the span records the count."""
    from databricks_feature_store_poc_spark import cacheutil

    with ctx.tracer.span("cacheutil.release_checkpoints") as sp:
        n = cacheutil.release_checkpoints(ctx.spark)
        if sp is not None:
            sp.attrs["released"] = n


class SpendThreshold:
    """Registered scoring model: pure Python, so ``score_batch`` can apply
    it inside its pandas UDF on the executors."""

    def __init__(self, threshold: float):
        self.threshold = threshold

    def predict(self, feats):
        return (feats.iloc[:, 0].fillna(0.0) > self.threshold).astype(float)


class RegistryWorkload:
    """Registry queries, builder call + noop action, seeded order.

    ``warm`` queries read the base path in every iteration, so their
    path-keyed memos hit after the first; ``cold`` queries read a new
    view of the same files in every iteration, so theirs always miss."""

    def __init__(self, warm: tuple[str, ...], cold: tuple[str, ...], min_iters: int):
        self.cold = cold
        self.queries = warm + cold
        self.min_iters = min_iters  # the JIT keeps warming through the first few
        self.views: list[str] = []
        self.executed: dict[str, int] = {}
        self.errors: dict[str, int] = {}
        self.outputs: dict[str, tuple[list, list]] = {}  # warm-up (columns, rows)

    def prepare(self, ctx: Ctx, data_dir: str) -> None:
        from databricks_feature_store_poc_spark.registry import load_all_queries

        load_all_queries()
        gen.write_testdata(data_dir, REGISTRY_SF, ctx.seed)
        self.base = data_dir
        self.rng = np.random.default_rng(ctx.seed)

    def warm_up(self, ctx: Ctx) -> IterResult:
        """First action of a new session, then the warm-up iteration. The
        warm-up collects every query's output for ``check``: the first read
        of each path, so the cold queries' outputs are those of the
        all-miss path."""
        from databricks_feature_store_poc_spark.sources.catalog import load_table

        load_table(ctx.spark, self.base, "region").count()
        return self.iterate(ctx, 0, keep_outputs=True)

    def _new_view(self, ctx: Ctx) -> str:
        """A path-distinct view of the same files: a directory of symlinks.
        Every session memo is keyed by path, so a fresh view misses all of
        them while the query outputs stay byte-identical."""
        view = os.path.join(ctx.work, "views", f"sf_v{len(self.views)}")
        os.makedirs(view)
        for f in os.listdir(self.base):
            os.symlink(os.path.join(self.base, f), os.path.join(view, f))
        self.views.append(view)
        return view

    def iterate(self, ctx: Ctx, it: int, keep_outputs: bool = False) -> IterResult:
        from databricks_feature_store_poc_spark.registry import QUERIES

        view = self._new_view(ctx) if self.cold else None
        order = [self.queries[i] for i in self.rng.permutation(len(self.queries))]
        res = IterResult(0.0)
        t_iter = time.perf_counter()
        for name in order:
            fn = QUERIES[name]
            layer = module_layer(fn)
            res.attempted += 1
            self.executed[name] = self.executed.get(name, 0) + 1
            path = view if name in self.cold else self.base
            t0 = time.perf_counter()
            try:
                with ctx.tracer.span(f"{layer}.build", query=name):
                    df = fn(ctx.spark, path)
                with ctx.tracer.span(f"{layer}.exec", query=name):
                    if keep_outputs:
                        self.outputs[name] = (df.columns, [tuple(r) for r in df.collect()])
                    else:
                        df.write.format("noop").mode("overwrite").save()
                res.query_walls.append(time.perf_counter() - t0)
            except Exception as e:  # recorded as a failed op; the loop goes on
                res.failed += 1
                self.errors[name] = self.errors.get(name, 0) + 1
                _log(f"{name} failed: {type(e).__name__}: {e}")
            release_checkpoints(ctx)
        res.wall_s = time.perf_counter() - t_iter
        return res

    def check(self, ctx: Ctx) -> int:
        """Compare each query's warm-up output with its DuckDB oracle on the
        base files, as ``tests/harness.compare`` does (row count, column
        names, order-insensitive value hash; rows > 0 where a query has no
        oracle). Returns the failed-op count: every run of a query whose
        output is wrong counts."""
        import harness
        from databricks_feature_store_poc_spark.registry import ORACLES

        failed = sum(self.errors.values())
        con = harness.duckdb_conn(self.base)
        for name, runs in self.executed.items():
            if name in self.errors:
                continue
            cols, rows = self.outputs[name]
            if name in ORACLES:
                rel = con.sql(ORACLES[name])
                duck_cols, duck_rows = list(rel.columns), rel.fetchall()
                ok = (len(rows) == len(duck_rows) and sorted(cols) == sorted(duck_cols)
                      and harness.value_hash(rows, cols)
                      == harness.value_hash(duck_rows, duck_cols))
            else:
                ok = len(rows) > 0
            if not ok:
                _log(f"check {name}: output differs from its oracle")
                failed += runs
        con.close()
        return failed


class FsLifecycle:
    """The reference pipeline: CSV -> two keyed feature tables -> merge ->
    training set -> GBT -> registry -> batch score -> online sync + gets."""

    min_iters = 3
    T_CUST = "pb_customer_features"
    T_PROD = "pb_product_features"
    MODEL = "pb.purchase_model"

    def prepare(self, ctx: Ctx, data_dir: str) -> None:
        self.inp = gen.write_fs_csvs(data_dir, FS_SIZES, ctx.seed)
        self.rng = np.random.default_rng(ctx.seed)
        self.last: dict = {}
        self.gets: list[tuple[list, list]] = []  # (keys, values) of every iteration

    def warm_up(self, ctx: Ctx) -> IterResult:
        """First action of a new session, then the warm-up iteration."""
        from databricks_feature_store_poc_spark.sources.csv import read_csv_inferred

        read_csv_inferred(ctx.spark, self.inp.products_csv).count()
        return self.iterate(ctx, 0)

    def _get_keys(self) -> list[tuple]:
        """Zipf-skewed hot keys for hits, never-written keys for misses."""
        n_live = self.inp.n_customers + self.inp.n_new_keys
        n_hit = int(FS_GETS * FS_HIT_SHARE)
        ranks = np.arange(1, n_live + 1, dtype=np.float64)
        p = ranks ** -FS_ZIPF_S
        hot = self.rng.permutation(n_live) + 1
        hits = hot[self.rng.choice(n_live, n_hit, p=p / p.sum())]
        misses = self.rng.integers(3 * n_live, 4 * n_live, FS_GETS - n_hit)
        keys = np.concatenate([hits, misses])
        self.rng.shuffle(keys)
        return [(int(k),) for k in keys]

    def iterate(self, ctx: Ctx, it: int) -> IterResult:
        from databricks_feature_store_poc_spark.featurestore.lookup import (
            FeatureLookup,
            create_training_set,
        )
        from databricks_feature_store_poc_spark.featurestore.merge import merge_into_table
        from databricks_feature_store_poc_spark.featurestore.mlpath import (
            ModelRegistry,
            score_batch,
            train_gbt,
        )
        from databricks_feature_store_poc_spark.featurestore.online import (
            OnlineStoreSync,
            SqliteKV,
        )
        from databricks_feature_store_poc_spark.featurestore.store import FeatureStore
        from databricks_feature_store_poc_spark.sources.csv import read_csv_inferred

        spark, tr, inp = ctx.spark, ctx.tracer, self.inp
        keys = self._get_keys()
        kv_path = os.path.join(ctx.work, "kv", f"online_{it}.sqlite")
        os.makedirs(os.path.dirname(kv_path), exist_ok=True)
        res = IterResult(0.0)
        t_iter = time.perf_counter()

        @contextlib.contextmanager
        def step(name):
            res.attempted += 1
            with tr.span(name):
                yield

        def read(path):
            with step("sources.read_csv"):
                return read_csv_inferred(spark, path)

        cust = read(inp.customers_csv)
        prod = read(inp.products_csv)
        labels = read(inp.labels_csv)
        inference = read(inp.inference_csv)
        updates = read(inp.updates_csv)

        fs = FeatureStore(spark, meta_dir=os.path.join(ctx.work, "fs_meta"))
        with step("store.create_table"):
            fs.create_table(self.T_CUST, ["customer_id"], cust)
        with step("store.create_table"):
            fs.create_table(self.T_PROD, ["product_id"], prod)
        with step("merge.merge_into_table"):
            merge_into_table(spark, self.T_CUST, updates, ["customer_id"])
        # The merge consumed its localCheckpoint barrier; free the blocks
        # the way the engine's harnesses do after the consuming action.
        release_checkpoints(ctx)

        t0 = time.perf_counter()
        res.attempted += 1  # the training-set query: build + action
        with tr.span("lookup.create_training_set"):
            ts = create_training_set(
                spark, labels,
                [
                    FeatureLookup.of(self.T_CUST, ["total_purchase_7d", "total_purchase_30d"],
                                     "customer_id"),
                    FeatureLookup.of(self.T_PROD, ["category"], "product_id"),
                ],
                label="purchased",
                exclude_columns=["customer_id", "product_id"],
            )
            train = ts.load_df()
        with tr.span("lookup.load_df_exec"):
            train.write.format("noop").mode("overwrite").save()
        res.query_walls.append(time.perf_counter() - t0)

        features = ["on_sales", "total_purchase_7d", "total_purchase_30d", "category"]
        fit_df = train.na.fill(
            {"total_purchase_7d": 0.0, "total_purchase_30d": 0.0, "category": "UNKNOWN"}
        ).withColumn("purchased", train["purchased"].cast("double"))
        with step("mlpath.train_gbt"):
            model = train_gbt(fit_df, features, "purchased", max_iter=1)
        reg = ModelRegistry(os.path.join(ctx.work, "registry"))
        with step("mlpath.register"):
            reg.register(self.MODEL, SpendThreshold(SCORE_THRESHOLD), training_set=ts,
                         params={"gbt_trees": len(model.stages[-1].trees)})
        with step("mlpath.score_batch"):
            scored = score_batch(
                spark, reg.artifact_dir(self.MODEL), inference,
                resolve_table=spark.table, predict_cols=["total_purchase_30d"],
            )
            scored.write.format("noop").mode("overwrite").save()

        sync = OnlineStoreSync(SqliteKV(kv_path), ["customer_id"])
        with step("online.full_sync"):
            sync.full_sync(cust)
        with step("online.delta_sync"):
            sync.delta_sync(cust, fs.read_table(self.T_CUST))

        reader = SqliteKV(kv_path)  # a fresh serving connection
        got, laps = [], []
        with tr.span("online.get"):
            for k in keys:
                t = time.perf_counter_ns()
                got.append(reader.get(k))
                laps.append(time.perf_counter_ns() - t)
        res.wall_s = time.perf_counter() - t_iter
        res.attempted += len(keys)
        res.extra = {
            "get_ns": laps,
            "keys_written": reader.stats()["n_writes"],
            "stored_bytes_ratio": self._stored_bytes_ratio(ctx),
        }
        self.last = {"ts": train, "scored": scored}
        self.gets.append((keys, got))
        prev = os.path.join(ctx.work, "kv", f"online_{it - 1}.sqlite")
        for suffix in ("", "-wal", "-shm"):
            if os.path.exists(prev + suffix):
                os.remove(prev + suffix)
        return res

    def _stored_bytes_ratio(self, ctx: Ctx) -> float:
        warehouse = os.path.join(ctx.work, "warehouse")
        stored = sum(_dir_bytes(os.path.join(warehouse, t)) for t in (self.T_CUST, self.T_PROD))
        csv = sum(os.path.getsize(p) for p in (self.inp.customers_csv, self.inp.products_csv))
        return stored / csv

    def check(self, ctx: Ctx) -> int:
        """Invariants of the outputs; returns failed ops.

        Every iteration rebuilds the same tables from the same inputs, so
        the final tables are what each iteration served from: the online
        gets of every iteration are checked against them. The Spark-side
        invariants are checked on the last iteration's outputs."""
        from pyspark.sql import functions as F

        spark, inp, last = ctx.spark, self.inp, self.last
        table = spark.table(self.T_CUST)
        n_rows = table.count()
        checks = {
            "pk_unique": table.select("customer_id").distinct().count() == n_rows,
            "merge_rows": n_rows == inp.n_customers + inp.n_new_keys,
            "training_rows": last["ts"].count() == inp.n_spine,
            "scored_rows": last["scored"].count() == inp.n_inference,
            "scores": last["scored"].filter(
                F.col("prediction") != F.when(
                    F.coalesce("total_purchase_30d", F.lit(0.0)) > SCORE_THRESHOLD, 1.0
                ).otherwise(0.0)
            ).count() == 0,
        }
        failed = sum(not ok for ok in checks.values())
        for name, ok in checks.items():
            if not ok:
                _log(f"fs_lifecycle check {name} failed")
        rows = {
            (r["customer_id"],): {"total_purchase_7d": r["total_purchase_7d"],
                                  "total_purchase_30d": r["total_purchase_30d"]}
            for r in table.collect()
        }
        bad_gets = sum(rows.get(k) != v for keys, got in self.gets for k, v in zip(keys, got))
        if bad_gets:
            _log(f"fs_lifecycle: {bad_gets} online gets differ from the table")
        return failed + bad_gets


def _dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total


def _log(msg: str) -> None:
    print(f"# {msg}", file=sys.stderr, flush=True)


def percentile(values: list[float], q: float) -> float:
    """Nearest-rank percentile of a non-empty sample."""
    xs = sorted(values)
    return xs[min(len(xs) - 1, int(q * len(xs)))]


WORKLOADS = {
    "fs_lifecycle": FsLifecycle,
    "registry_mix": lambda: RegistryWorkload(SQL_QUERIES, LLM_QUERIES, min_iters=2),
    "sql_analytics": lambda: RegistryWorkload(SQL_QUERIES, (), min_iters=8),
    "llm_curate_cold": lambda: RegistryWorkload((), LLM_QUERIES, min_iters=8),
    "llm_requery_warm": lambda: RegistryWorkload(LLM_QUERIES, (), min_iters=8),
}
