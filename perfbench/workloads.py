"""The benchmark's three workloads.

Each workload is a closed loop driven by one client: it issues its next op
only when the previous one has returned. An op is one timed call sequence
into the engine's public API; a pass is one seed-permuted round of ops.

- ``olap_mix``: scan / join / aggregate / window / temporal / streaming
  registry queries. Planning, scans and small shuffles dominate.
- ``corpus_text``: document and embedding queries, where plan construction
  in the Python client (py4j round trips) dominates and array/explode
  shuffles do the rest.
- ``recsys_pipeline``: the paper's protocol. One ingest op per pass (index,
  write, read back, split), then a small ALS grid, one cell op per
  configuration (fit, recommend top-500, score).
"""

from __future__ import annotations

import contextlib
import os
import random
import shutil
from dataclasses import dataclass, field

from . import datagen, oracle

OLAP_MIX = (
    "q01_top_parts", "q02_pricing_summary", "q06_join_chain_revenue",
    "q13_rank_suppliers", "q14_topk_per_brand", "q21_daily_rollup",
    "q22_hourly_window", "q24_sessionize", "q28_running_total",
    "q42_range_join", "q43_grouping_sets", "q49_asof_join",
    "q51_interactions_table", "q52_ranking_metrics",
    "q67_distribution_ranks", "q62_streaming_hourly", "q63_stateful_stream",
)
CORPUS_TEXT = (
    "q33_lang_id", "q34_text_quality", "q40_ann_cosine_topk",
    "q56_minhash_pairs", "q58_ivf_topk", "q64_neardup_corpus",
    "q150_bm25_retrieval", "q153_span_dedup_rewrite", "q154_bpe_merges",
    "q162_trigram_backoff_nll",
)

#: The engine module that does a query's characteristic work.
MODULE_OF = {
    "q01_top_parts": "operators.relational",
    "q06_join_chain_revenue": "operators.relational",
    "q13_rank_suppliers": "operators.relational",
    "q14_topk_per_brand": "operators.relational",
    "q02_pricing_summary": "operators.aggregates",
    "q21_daily_rollup": "operators.aggregates",
    "q22_hourly_window": "operators.aggregates",
    "q43_grouping_sets": "operators.aggregates",
    "q51_interactions_table": "operators.aggregates",
    "q24_sessionize": "operators.temporal",
    "q28_running_total": "operators.temporal",
    "q42_range_join": "operators.temporal",
    "q49_asof_join": "operators.temporal",
    "q52_ranking_metrics": "ml.metrics",
    "q67_distribution_ranks": "operators.ranks",
    "q62_streaming_hourly": "streaming.events",
    "q63_stateful_stream": "streaming.events",
    "q33_lang_id": "functions.text",
    "q34_text_quality": "functions.text",
    "q150_bm25_retrieval": "functions.text",
    "q162_trigram_backoff_nll": "functions.text",
    "q40_ann_cosine_topk": "operators.similarity",
    "q58_ivf_topk": "operators.similarity",
    "q56_minhash_pairs": "operators.dedup",
    "q64_neardup_corpus": "operators.dedup",
    "q153_span_dedup_rewrite": "operators.dedup",
    "q154_bpe_merges": "functions.subword",
}
MODULES = tuple(sorted(set(MODULE_OF.values())))

#: ALS grid, rank × regParam × alpha as in the reference's second sweep.
RANKS, REGS, ALPHAS = (10, 40), (0.05,), (1.0, 12.5)
GRID = {f"cell:r{r}-reg{g}-a{a}": (r, g, a)
        for r in RANKS for g in REGS for a in ALPHAS}
ALS_ITERS = 5
TOP_K = 500


def op_order(names, seed: int, pass_idx: int) -> list:
    """The ops of one pass in a seed-determined order."""
    return random.Random(f"{seed}:{pass_idx}").sample(list(names), len(names))


@dataclass
class Op:
    key: str                  # query name, "ingest" or a GRID key
    pass_idx: int
    traced: bool
    latency: float = 0.0
    collect_s: float = 0.0    # reading counters after a traced op
    error: str | None = None  # raised, or set by the checker
    result: object = None     # what the checker needs
    counters: dict = field(default_factory=dict)

    @property
    def ok(self) -> bool:
        return self.error is None


class Engine:
    """The session plus what the benchmark wraps around it."""

    def __init__(self, spark, data_dir: str, work_dir: str, cores: int):
        from .trace import Tracer

        self.spark = spark
        self.data_dir = data_dir
        self.work_dir = work_dir
        self.cores = cores
        self.tracer = Tracer(False)
        self.py4j = None      # trace.Py4jCounter while tracing
        self.counters = None  # trace.SparkCounters while tracing

    def span(self, name: str):
        return self.tracer.span(name)

    @contextlib.contextmanager
    def uncounted(self):
        """Keep the benchmark's own JVM calls out of the py4j count."""
        if self.py4j is None:
            yield
            return
        saved, self.py4j.active = self.py4j.active, False
        try:
            yield
        finally:
            self.py4j.active = saved


def _duck_views(data_dir: str):
    import duckdb

    con = duckdb.connect()
    for t in datagen.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{data_dir}/{t}.parquet')")
    return con


class QueryWorkload:
    """Registry queries: an op builds the query and collects its result."""

    def __init__(self, engine: Engine, names, seed: int):
        from ds_ga1004_bigdata_project_spark.queries import REGISTRY

        self.engine, self.names, self.seed = engine, names, seed
        self.registry = REGISTRY

    def pass_ops(self, pass_idx: int) -> list[str]:
        return op_order(self.names, self.seed, pass_idx)

    def run(self, key: str, pass_idx: int) -> object:
        e = self.engine
        with e.span("queries.build"):
            df = self.registry[key].build(e.spark, e.data_dir)
        with e.span("queries.exec"):
            pdf = df.toPandas()
        e.spark.catalog.clearCache()
        return pdf

    def check(self, ops: list[Op], scale: float) -> None:
        con = _duck_views(self.engine.data_dir)
        expected: dict[str, object] = {}
        for op in ops:
            if op.ok:
                if op.key not in expected:
                    q = self.registry[op.key]
                    expected[op.key] = (
                        oracle.canon(con.execute(q.oracle).df()) if q.oracle
                        else rows_only_count(op.key, scale))
                op.error = result_error(op.result, expected[op.key])
            op.result = None
        con.close()

    def close(self) -> None:
        pass


def result_error(got, want) -> str | None:
    """``want`` is a canonical oracle frame, or a row count for rows-only
    queries."""
    if isinstance(want, int):
        return None if len(got) == want else f"rows {len(got)} != {want}"
    return oracle.frame_mismatch(oracle.canon(got), want)


def rows_only_count(name: str, scale: float) -> int:
    """Row counts the generated tables imply for queries without a SQL twin."""
    if name == "q56_minhash_pairs":   # exactly the planted near-dup pairs
        return datagen.n_planted_dups(scale)
    if name == "q58_ivf_topk":        # top-5 for each query vector
        return datagen.QUERY_VECTORS * 5
    if name == "q64_neardup_corpus":  # one summary row per language
        return len(datagen.LANGS)
    raise KeyError(f"{name} has neither a DuckDB twin nor a row-count rule")


@dataclass
class _PassState:
    path: str
    train: object
    val: object
    val_users: object
    truth: object


class RecsysWorkload:
    """Ingest once per pass, then one op per ALS grid cell."""

    def __init__(self, engine: Engine, seed: int):
        self.engine, self.seed = engine, seed
        self.passes: dict[int, _PassState] = {}

    def pass_ops(self, pass_idx: int) -> list[str]:
        return ["ingest"] + op_order(GRID, self.seed, pass_idx)

    def run(self, key: str, pass_idx: int) -> object:
        if key == "ingest":
            return self._ingest(pass_idx)
        return self._cell(*GRID[key], self.passes[pass_idx])

    def _ingest(self, pass_idx: int) -> dict:
        from pyspark.sql import functions as F

        from ds_ga1004_bigdata_project_spark.ml import als as A
        from ds_ga1004_bigdata_project_spark.ml import indexing as I
        from ds_ga1004_bigdata_project_spark.ml import protocol as P
        from ds_ga1004_bigdata_project_spark.operators.relational import persisted
        from ds_ga1004_bigdata_project_spark.sources.catalog import (
            Catalog, write_parquet)

        e = self.engine
        forced = e.tracer.enabled  # lazy layers run inside their span
        with e.span("sources.load"):
            cat = Catalog(e.spark, e.data_dir)
            inter = A.interactions_from_orders(cat.lineitem, cat.orders)
        with e.span("ml.indexing.fit"):
            users = I.fit_sql_indexer(inter, "user_id", "user_idx")
            items = I.fit_sql_indexer(inter, "item_id", "item_idx")
            if forced:
                users, items = persisted(users), persisted(items)
                users.count(), items.count()
        path = os.path.join(e.work_dir, "ingest", f"pass{pass_idx}")
        with e.span("sources.write"):
            indexed = I.transform_sql_indexer(
                I.transform_sql_indexer(inter, users, "user_id"),
                items, "item_id")
            write_parquet(indexed.select(
                F.col("user_idx").alias("user_id"),
                F.col("item_idx").alias("item_id"), "count"), path)
        if forced:
            users.unpersist(), items.unpersist()
        with e.span("sources.read"):
            back = e.spark.read.parquet(path)
            if forced:
                back.count()
        with e.span("ml.protocol.split"):
            splits = P.holdout_splits(back, seed=self.seed * 1000 + pass_idx)
            st = _PassState(path, persisted(splits.train),
                            persisted(splits.validation), None, None)
            st.val_users = persisted(st.val.select("user_id").distinct())
            st.truth = persisted(A.ground_truth_lists(st.val))
            for df in (st.train, st.val, st.val_users, st.truth):
                df.count()
        self.passes[pass_idx] = st
        return None

    def _cell(self, rank: int, reg: float, alpha: float,
              st: _PassState) -> dict:
        from ds_ga1004_bigdata_project_spark.ml import als as A
        from ds_ga1004_bigdata_project_spark.ml import metrics as M
        from ds_ga1004_bigdata_project_spark.operators.relational import persisted

        e = self.engine
        cfg = A.ALSConfig(rank=rank, reg_param=reg, alpha=alpha,
                          max_iter=ALS_ITERS, seed=self.seed,
                          num_blocks=e.cores)
        fit_jobs = None
        with e.span("ml.als.fit"):
            if e.counters is not None:
                with e.uncounted():
                    j0 = e.counters.next_job()
            model = A.train_als(st.train, cfg)
            if e.counters is not None:
                with e.uncounted():
                    fit_jobs = e.counters.next_job() - j0
        with e.span("ml.als.recommend"):
            recs = persisted(A.recommend_topk(model, st.val_users, TOP_K))
            recs_pdf = recs.toPandas()
        with e.span("ml.metrics.ranking"):
            ranking = M.ranking_metrics(recs, st.truth, TOP_K).collect()[0]
        with e.span("ml.metrics.rmse"):
            err = M.rmse(model.transform(st.val), "count", "prediction") \
                .collect()[0]
        recs.unpersist()
        return {"model": model, "recs": recs_pdf, "fit_jobs": fit_jobs,
                "metrics": {**ranking.asDict(), "rmse": err["rmse"]}}

    def check(self, ops: list[Op], scale: float) -> None:
        """Ingest: the written parquet matches DuckDB's own indexing of the
        source tables (row count and checksum). Cells: metrics recomputed in
        numpy from the collected recommendations, truth and predictions."""
        con = _duck_views(self.engine.data_dir)
        want = con.execute(INGEST_CHECKSUM.format(src=f"({EXPECTED_INGEST})")) \
            .fetchone()
        truth_by_pass: dict[int, dict] = {}
        for op in ops:
            if not op.ok:
                continue
            st = self.passes[op.pass_idx]
            if op.key == "ingest":
                got = con.execute(INGEST_CHECKSUM.format(
                    src=f"read_parquet('{st.path}/*.parquet')")).fetchone()
                if got != want:
                    op.error = f"written (rows, checksum) {got} != {want}"
                continue
            if op.pass_idx not in truth_by_pass:
                tp = st.truth.toPandas()
                truth_by_pass[op.pass_idx] = dict(
                    zip(tp["user"].tolist(), tp["truth_items"].map(list)))
            res = op.result
            preds = res["model"].transform(st.val) \
                .select("count", "prediction").toPandas()
            op.error = cell_error(res["metrics"], res["recs"],
                                  truth_by_pass[op.pass_idx], preds)
            op.result = {"fit_jobs": res["fit_jobs"]}
        con.close()

    def close(self) -> None:
        for st in self.passes.values():
            for df in (st.train, st.val, st.val_users, st.truth):
                df.unpersist()
        shutil.rmtree(os.path.join(self.engine.work_dir, "ingest"),
                      ignore_errors=True)


#: DuckDB's own (user, item, count) table, indexed the way the engine's
#: SQL indexer specifies: dense codes by frequency desc, then key asc.
EXPECTED_INGEST = """
    WITH inter AS (
        SELECT o.o_custkey AS u, l.l_partkey AS i,
               CAST(sum(l.l_quantity) AS FLOAT) AS c
        FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        GROUP BY 1, 2),
    uf AS (SELECT u, dense_rank() OVER (ORDER BY count(*) DESC, u) - 1 AS ui
           FROM inter GROUP BY u),
    itf AS (SELECT i, dense_rank() OVER (ORDER BY count(*) DESC, i) - 1 AS ii
            FROM inter GROUP BY i)
    SELECT uf.ui AS user_id, itf.ii AS item_id, inter.c AS count
    FROM inter JOIN uf USING (u) JOIN itf USING (i)"""

INGEST_CHECKSUM = """
    SELECT count(*), sum(hash(CAST(user_id AS BIGINT), CAST(item_id AS BIGINT),
                              CAST(count AS DOUBLE)))
    FROM {src}"""


def cell_error(metrics: dict, recs, truth: dict, preds) -> str | None:
    """Check one grid cell: every validation user got ``TOP_K`` distinct
    items, and the engine's metrics equal the numpy recomputation."""
    rec_lists = dict(zip(recs["user"].tolist(), recs["pred_items"].map(list)))
    if len(rec_lists) != len(truth):
        return f"recommendations for {len(rec_lists)} users, truth for {len(truth)}"
    for user, items in rec_lists.items():
        if len(set(items)) != TOP_K:
            return f"user {user}: {len(set(items))} distinct of {len(items)} recs"
    ref = oracle.ranking_metrics(rec_lists, truth, TOP_K)
    ref["rmse"] = oracle.rmse(preds["count"].to_numpy(),
                              preds["prediction"].to_numpy())
    return oracle.metrics_mismatch(metrics, ref)
