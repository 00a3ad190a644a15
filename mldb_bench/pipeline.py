"""batch_pipeline: the reference's reddit benchmark chain plus the
LLM-data operators; one full pipeline warms the session, the next is
timed.

A pipeline over the seeded corpus runs, through public functions:
quality filter (corpus.repetition_signals), near-duplicate pairs and
groups (dedup.minhash_near_duplicates, dedup.connected_components),
tokenize through the SQL dialect (MldbContext.query), svd.train over
the top-VOCAB_CUT columns, kmeans.train (k=20) and tsne.train over the
column embeddings, IVF top-k over the row embeddings
(similarity.ivf_topk), and transpose (operators.transpose_cells) to
per-token document counts. Small outputs are collected inside the
iteration; they are checked after the timed window.
"""

from __future__ import annotations

import inspect
import math
import os
import re
import time
from collections import Counter

import gen

N_DOCS = 5_000  # sf0.1's document count
VOCAB_SIZE = 20_000
VOCAB_CUT = 1_000
SVD_K = 50
KMEANS_K = 20
TSNE_ROWS = 400
IVF_QUERIES = 32
TOP_K = 10
RECALL_FLOOR = 0.9  # planted near-duplicates that must be grouped
IVF_RECALL_FLOOR = 0.25  # IVF top-10 overlap with exact top-10; chance is ~0.005
STAGES = (
    ("corpus.repetition_signals_s", "stage.repetition_signals"),
    ("dedup.minhash_s", "stage.minhash"),
    ("dedup.components_s", "stage.components"),
    ("ml.svd_train_s", "stage.svd"),
    ("ml.kmeans_train_s", "stage.kmeans"),
    ("ml.tsne_train_s", "stage.tsne"),
    ("similarity.ivf_topk_s", "stage.ivf_topk"),
    ("operators.transpose_s", "stage.transpose"),
)


def _finite(rows) -> bool:
    return all(math.isfinite(x) for r in rows for x in r)


class BatchPipeline:
    name = "batch_pipeline"
    # traced-untraced-traced pipelines, so warm-up drift cancels out of
    # the tracing overhead
    trace_plan = [(True, 1.0), (False, 1.0), (True, 1.0)]

    def __init__(self, seed: int, out_dir: str, tracer):
        self.seed = seed
        self.tracer = tracer
        self.input_path = os.path.join(out_dir, f"corpus-{seed}.parquet")
        self.outputs: list[dict] = []
        self.facts: dict = {}
        self.spark = None

    def prepare(self) -> None:
        info = gen.write_corpus(self.input_path, self.seed, N_DOCS, VOCAB_SIZE)
        self.planted = info.pop("planted")
        self.facts["corpus"] = {**info, "planted": len(self.planted), "vocab_cut": VOCAB_CUT,
                                "svd_k": SVD_K, "kmeans_k": KMEANS_K, "ivf_queries": IVF_QUERIES}

    def setup(self, spark) -> None:
        from mldb_spark.catalog import load

        self.spark = spark
        self.docs = load(spark, os.path.dirname(self.input_path), os.path.basename(self.input_path)[:-len(".parquet")])

    def _iteration(self, docs) -> dict:
        from pyspark.sql import functions as F

        from mldb_spark import caching, corpus, dedup, similarity
        from mldb_spark.dialect import MldbContext
        from mldb_spark.ml import procedures
        from mldb_spark.ml.registry import FunctionRegistry
        from mldb_spark.operators import relational

        spark = self.spark
        tr = self.tracer
        out: dict = {}
        t0 = time.perf_counter()

        with tr.span("stage.repetition_signals", group=True):
            sig = corpus.repetition_signals(docs)
            passed = {r[0] for r in sig.filter("passes").select("doc_id").collect()}
        with tr.span("stage.minhash", group=True):
            pairs = caching.persist_tracked(
                dedup.minhash_near_duplicates(docs).select(F.col("id_a").alias("a"), F.col("id_b").alias("b"))
            )
            out["pairs"] = pairs.count()
        with tr.span("stage.components", group=True):
            comp = {r[0]: r[1] for r in dedup.connected_components(pairs).collect()}
        keep = sorted(d for d in passed if comp.get(d, d) == d)
        out["passed"], out["keep"], out["comp"] = passed, keep, comp

        with tr.span("stage.tokenize", group=True):
            ctx = MldbContext(spark)
            kept = docs.join(spark.createDataFrame([(k,) for k in keep], "doc_id long"), "doc_id")
            ctx.register("corpus_kept", kept.select(
                "doc_id",
                F.concat_ws(",", F.col("doc_id").cast("string"), F.translate("text", " ", ",")).alias("lineText"),
            ))
            bag = ctx.query("SELECT doc_id, tokenize(lineText, {offset: 1, value: 1}) AS bag FROM corpus_kept")
            cells = caching.persist_tracked(
                bag.select("doc_id", F.explode("bag").alias("column", "value"))
                .select("doc_id", "column", F.col("value").cast("double").alias("value"))
            )
            out["cells"] = cells.count()
        with tr.span("stage.svd", group=True):
            vocab = (
                cells.groupBy("column").agg(F.count(F.lit(1)).alias("df"))
                .orderBy(F.desc("df"), F.asc("column")).limit(VOCAB_CUT).select("column")
            )
            pruned = cells.join(F.broadcast(vocab), "column")
            reg = FunctionRegistry()
            row_emb, col_emb, _sv = procedures.svd_train(pruned, row_col="doc_id", k=SVD_K, registry=reg)
            col_emb = caching.persist_tracked(col_emb)
            row_emb = caching.persist_tracked(row_emb)
            out["row_emb"] = {r[0]: r[1] for r in row_emb.collect()}
            out["n_terms"] = col_emb.count()
        with tr.span("stage.kmeans", group=True):
            _model, centroids = procedures.kmeans_train(col_emb, "embedding", k=KMEANS_K, registry=reg)
            out["centroids"] = [r["centroid"] for r in centroids.collect()]
        with tr.span("stage.tsne", group=True):
            coords = procedures.tsne_train(col_emb, "embedding", id_col="column",
                                           max_rows=TSNE_ROWS, n_iter=250, seed=self.seed)
            out["tsne"] = [(r["x"], r["y"]) for r in coords.collect()]
        with tr.span("stage.ivf_topk", group=True):
            vecs = row_emb.select(F.col("doc_id").alias("vec_id"), "embedding")
            queries = vecs.orderBy("vec_id").limit(IVF_QUERIES).select(
                F.col("vec_id").alias("query_id"), "embedding")
            top = similarity.ivf_topk(vecs, queries, k=TOP_K, seed=self.seed).collect()
            out["ivf"] = {}
            for r in top:
                out["ivf"].setdefault(r["query_id"], set()).add(r["vec_id"])
        with tr.span("stage.transpose", group=True):
            tcells = relational.transpose_cells(
                cells.select(F.col("doc_id").cast("string").alias("row"), "column", "value"))
            out["counts"] = {r[0]: r[1] for r in tcells.groupBy("row").count().collect()}
        with tr.span("stage.release"):
            out["released"] = caching.release_cached()
        out["wall"] = time.perf_counter() - t0
        return out

    def warmup(self) -> None:
        """One full pipeline over the same corpus: first-use
        compilation and the JVM heap's growth are paid in set-up, not in
        the timed pipeline. Its outputs are checked with the others."""
        it = self._iteration(self.docs)
        it["traced"] = False
        self.outputs.append(it)

    def window(self, seconds: float, traced: bool) -> list[dict]:
        """One full pipeline: its length is set by the work, so
        `seconds` does not apply."""
        it = self._iteration(self.docs)
        it["traced"] = traced
        self.outputs.append(it)
        return [{"wall": it["wall"], "n": 1}]

    def install_trace(self, tracer) -> None:
        from mldb_spark import caching, corpus, dedup, similarity
        from mldb_spark.ml import procedures
        from mldb_spark.operators import relational

        tracer.patch(corpus, "repetition_signals", "corpus.repetition_signals")
        tracer.patch(dedup, "minhash_near_duplicates", "dedup.minhash_near_duplicates")
        tracer.patch(dedup, "connected_components", "dedup.connected_components")
        tracer.patch(procedures, "svd_train", "ml.svd_train")
        tracer.patch(procedures, "kmeans_train", "ml.kmeans_train")
        tracer.patch(procedures, "tsne_train", "ml.tsne_train")
        tracer.patch(similarity, "ivf_topk", "similarity.ivf_topk")
        tracer.patch(relational, "transpose_cells", "operators.transpose_cells")
        tracer.patch(caching, "release_cached", "caching.release_cached")

    # ------------------------------------------------------------ checks

    def _quality_model(self, texts: dict[int, str]) -> set[int]:
        """corpus.repetition_signals' pass rule, recomputed in Python."""
        ok = set()
        split = re.compile("[^a-z0-9]+")
        for d, text in texts.items():
            toks = [t for t in split.split(text.lower()) if t]
            n = len(toks)
            if not n:
                continue
            mwl = round(len("".join(toks)) / n, 4)
            lines = text.split("\n")
            fdl = round(1.0 - len(set(lines)) / len(lines), 4)
            ftw = round(max(Counter(toks).values()) / n, 4)
            if 50 <= n <= 100_000 and 2 <= mwl <= 10 and fdl <= 0.30 and ftw <= 0.20:
                ok.add(d)
        return ok

    def _ivf_recall(self, it: dict) -> float:
        """IVF top-k against brute_force_topk over the same row
        embeddings (outside the timed window)."""
        from mldb_spark.similarity import brute_force_topk

        rows = sorted(it["row_emb"].items())
        vecs = self.spark.createDataFrame(rows, "vec_id long, embedding array<double>")
        q = vecs.orderBy("vec_id").limit(IVF_QUERIES).withColumnRenamed("vec_id", "query_id")
        exact: dict[int, set] = {}
        for r in brute_force_topk(vecs, q, k=TOP_K).collect():
            exact.setdefault(r["query_id"], set()).add(r["vec_id"])
        hits = sum(len(exact[qid] & it["ivf"].get(qid, set())) for qid in exact)
        return hits / max(sum(len(v) for v in exact.values()), 1)

    def validate(self) -> tuple[int, int, dict]:
        import duckdb

        con = duckdb.connect()
        texts = dict(con.execute(f"SELECT doc_id, text FROM read_parquet('{self.input_path}')").fetchall())
        quality = self._quality_model(texts)
        failed_checks: dict[str, int] = {}
        attempted = failed = 0
        truth: dict[tuple, dict] = {}
        recalls = []
        for it in self.outputs:
            keep = tuple(it["keep"])
            if keep not in truth:
                con.execute("CREATE OR REPLACE TEMP TABLE kept AS SELECT unnest(?::BIGINT[]) AS doc_id", [list(keep)])
                truth[keep] = dict(con.execute(
                    "SELECT tok, count(DISTINCT doc_id) FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok "
                    f"FROM read_parquet('{self.input_path}') WHERE doc_id IN (SELECT doc_id FROM kept)) GROUP BY tok"
                ).fetchall())
            comp = it["comp"]
            found = sum(1 for a, b in self.planted if comp.get(a, a) == comp.get(b, b))
            recalls.append(found / max(len(self.planted), 1))
            n_terms = min(VOCAB_CUT, len(truth[keep]))
            checks = {
                "quality_filter": it["passed"] == quality,
                "column_counts": it["counts"] == truth[keep],
                "dedup_recall": recalls[-1] >= RECALL_FLOOR,
                "svd_shape": it["n_terms"] == n_terms and all(len(v) == SVD_K for v in it["row_emb"].values())
                and _finite(it["row_emb"].values()),
                "kmeans": len(it["centroids"]) == KMEANS_K and _finite(it["centroids"]),
                "tsne": len(it["tsne"]) == min(TSNE_ROWS, n_terms) and _finite(it["tsne"]),
            }
            for k, ok in checks.items():
                attempted += 1
                if not ok:
                    failed += 1
                    failed_checks[k] = failed_checks.get(k, 0) + 1
        last = self.outputs[-1]
        ivf_recall = self._ivf_recall(last)
        attempted += 1
        if ivf_recall < IVF_RECALL_FLOOR:
            failed += 1
            failed_checks["ivf_recall"] = 1
        self.facts["code_paths"] = self._code_paths(con, last)
        con.close()
        self.recall = recalls[-1]
        self.ivf_recall = ivf_recall
        return attempted, failed, {
            "failed_checks": failed_checks,
            "iterations": len(self.outputs),
            "dedup_recall": recalls[-1],
            "ivf_recall_at_10": ivf_recall,
        }

    def _code_paths(self, con, it: dict) -> dict:
        """Size facts that select a code path, against the program's
        own thresholds, for the last iteration."""
        from mldb_spark import dedup
        from mldb_spark.ml import procedures

        def default(fn, arg):
            return inspect.signature(fn).parameters[arg].default

        per_doc = con.execute(
            "WITH toks AS (SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS tok "
            f"FROM read_parquet('{self.input_path}') WHERE doc_id IN (SELECT doc_id FROM kept)), "
            "vocab AS (SELECT tok FROM toks GROUP BY tok ORDER BY count(*) DESC, tok LIMIT ?) "
            "SELECT count(*) AS t FROM toks WHERE tok IN (SELECT tok FROM vocab) GROUP BY doc_id",
            [VOCAB_CUT],
        ).fetchall()
        n_cells = sum(t for (t,) in per_doc)
        pairs_sq = sum(t * t for (t,) in per_doc)
        cap_cols = default(procedures.svd_train, "gram_local_cap")
        km_cut = default(procedures.kmeans_train, "local_cutoff")
        cc_cut = default(dedup.connected_components, "driver_cutoff")
        gram_local = (it["n_terms"] <= cap_cols and n_cells <= procedures._LOCAL_GRAM_CELLS_CAP
                      and pairs_sq <= procedures._LOCAL_GRAM_PAIRS_CAP)
        return {
            "svd": {"n_cols": it["n_terms"], "gram_local_cap": cap_cols, "n_cells": n_cells,
                    "cells_cap": procedures._LOCAL_GRAM_CELLS_CAP, "pairs": pairs_sq,
                    "pairs_cap": procedures._LOCAL_GRAM_PAIRS_CAP,
                    "path": "gram_local" if gram_local else
                    ("gram_distributed" if it["n_terms"] <= cap_cols else "mllib_svd")},
            "connected_components": {"pairs": it["pairs"], "driver_cutoff": cc_cut,
                                     "path": "driver" if 0 < it["pairs"] <= cc_cut else "distributed"},
            "kmeans_terms": {"rows": it["n_terms"], "local_cutoff": km_cut,
                             "path": "local" if it["n_terms"] <= km_cut else "mllib"},
            "kmeans_ivf_cells": {"rows": len(it["row_emb"]), "local_cutoff": km_cut,
                                 "path": "local" if len(it["row_emb"]) <= km_cut else "mllib"},
        }

    # ------------------------------------------------------------ metrics

    def end_to_end(self, windows: list[dict]) -> dict:
        walls = [w["wall"] for w in windows]
        from common import median

        p = median(walls)
        return {
            "latency_p50_ms": p * 1e3,
            "throughput_per_s": N_DOCS / p,
            "detail": {"pipeline_s": round(p, 4), "iterations": len(walls), "docs_per_s": round(N_DOCS / p, 2)},
        }

    @staticmethod
    def traced_units(windows: list[dict]) -> int:
        return len(windows)

    def per_layer(self, tracer, groups: dict) -> dict:
        out = {}
        for metric, span in STAGES:
            xs = tracer.by_name(span, "window")
            out[metric] = (sum(s.dur for s in xs) / max(len(xs), 1), len(xs))
        traced = [it for it in self.outputs if it["traced"]]
        out["dedup.pairs"] = (sum(it["pairs"] for it in traced) / max(len(traced), 1), len(traced))
        out["dedup.recall"] = (self.recall, 1)
        out["similarity.recall_at_10"] = (self.ivf_recall, IVF_QUERIES)
        out["caching.persists_released"] = (
            sum(it["released"] for it in traced) / max(len(traced), 1), len(traced))
        return out

    def close(self) -> None:
        pass
