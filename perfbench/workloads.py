"""The two batch workloads, composed from the engine's public layer
functions. Every call into a layer goes through ``Tracer.call`` so the
traced run can key Spark's metrics to it.

One iteration of a workload is: the batch ``job`` (timed; the first one
in a session is ``cold_job_s``), a closed loop of single-client
``search`` requests against what the job published, and the
``increments`` that fold newly landed input (each timed from landing to
commit: ``freshness_s``). ``reset`` wipes the run's output and state
trees between iterations, outside every timed span.

Layout under the run's work directory: ``in/`` holds landed copies of
inputs (the raw lake, landed tranches), ``out/`` every output, state and
checkpoint tree the engine writes; only ``out/`` counts for write_amp.
"""

from __future__ import annotations

import os
import shutil
import time

import numpy as np
import pyarrow.parquet as papq

from gen import DELTA_DAY, DIM, N_TRANCHES

PQ_DSUB, PQ_K = 8, 16  # the registry's PQ index shape (its oracle's constants)
N_QUERIES = 12  # ADC requests draw their query vector from vec_id < N_QUERIES
KNN_K, KNN_BUDGET = 5, 200  # the registry's maintenance shape
JACCARD_USEFUL = 0.7  # ≈ (1/bands)^(1/rows) for 4 bands x 4 rows: the LSH S-curve midpoint

# the refined columns the registry's pipeline_refined oracle emits
_FEATS = [
    "value_diff",
    "lag_1_value_diff", "lag_2_value_diff", "lag_3_value_diff", "lag_5_value_diff",
    "rolling_mean_3_value_diff", "volatility_3_value_diff",
    "rolling_mean_5_value_diff", "volatility_5_value_diff",
]


def tree_bytes(root: str) -> int:
    size = 0
    for d, _, names in os.walk(root):
        size += sum(os.path.getsize(os.path.join(d, n)) for n in names)
    return size


def _data_files(root: str) -> int:
    return sum(
        not n.startswith((".", "_")) for _, _, names in os.walk(root) for n in names
    )


def _pandas(rows, cols):
    import pandas as pd

    return pd.DataFrame([tuple(r) for r in rows], columns=cols)


class Workload:
    name = ""
    searches_per_iter = 0
    warmup_searches = 0  # untimed requests before the first timed one in a session

    def __init__(self, spark, tracer, inputs: str, manifest: dict, work: str, seed: int):
        self.spark, self.t = spark, tracer
        self.inputs, self.manifest, self.work = inputs, manifest, work
        self.rng = np.random.default_rng(seed + 7919)
        self.search_log: list[tuple[int, list]] = []  # (request key, collected rows)
        self.extra_written = 0  # bytes written then removed inside an iteration
        self.perturb = False  # fault injection: drop one row of every observed output

    def digest(self, pdf) -> str:
        from oracle import digest

        return digest(pdf.iloc[:-1] if self.perturb else pdf)

    def input_rows(self) -> int:
        """Rows one job reads: the base of rows_per_s."""
        return self.manifest["rows"]

    def input_bytes(self) -> int:
        """Bytes one iteration lands: the base of write_amp."""
        return self.manifest["bytes"]

    def src(self, *parts: str) -> str:
        return os.path.join(self.inputs, *parts)

    def land(self, *parts: str) -> str:
        return os.path.join(self.work, "in", *parts)

    def out(self, *parts: str) -> str:
        return os.path.join(self.work, "out", *parts)

    def reset(self) -> None:
        shutil.rmtree(self.work, ignore_errors=True)
        os.makedirs(self.land())
        os.makedirs(self.out())
        self.extra_written = 0

    def before_searches(self) -> None:
        """Load what the search service keeps in memory (untimed per request)."""

    def written_bytes(self) -> int:
        """Bytes the engine wrote during this iteration."""
        return tree_bytes(self.out()) + self.extra_written

    # ---- layer calls with their traced counts ----

    def _read(self, fn, path: str):
        df = self.t.call("sources.readers", fn, self.spark, path)
        if self.t.enabled:
            self.t.count("sources.readers", "files", _data_files(path) if os.path.isdir(path) else 1)
        return df

    def _write(self, df, path: str, partition_by=()) -> None:
        from etl_aws_spark.sources import writers

        self.t.call("sources.writers", writers.write_parquet_partitioned, df, path, list(partition_by))
        if self.t.enabled:
            self.t.count("sources.writers", "files", _data_files(path))
            self.t.count("sources.writers", "mb", tree_bytes(path) / 1e6)


class LakeRelease(Workload):
    """The nightly batch: the reference's raw → refined → predicted lake
    job on a seeded quote lake, then the corpus release.

    Lake: ``plans.refined.refined_pipeline`` over 2024-01-05..25, written
    with ``write_refined`` (dynamic partition overwrite), an AR(1)
    predicted layer from ``ml.models``, and ``operators.aggregates``
    describes of the refined tree. Corpus: the re-delivered shard lands,
    then Gopher rules → exact dedup → MinHash-LSH edges → connected
    components → cluster-keyed split → released corpus and per-source
    report. Searches are per-ticker scans of the refined tree; the
    increment lands the 2024-01-25 partition and refreshes that date."""

    name = "lake_release"
    searches_per_iter = 14
    warmup_searches = 2
    WINDOW = ("2024-01-05", "2024-01-25")
    LOOKBACK_START = "2024-01-15"

    def input_bytes(self) -> int:
        day = self.manifest["quotes"].get("delta_bytes", 0)
        return self.manifest["bytes"] + day

    def reset(self) -> None:
        super().reset()
        shutil.copytree(self.src("quotes", "raw"), self.land("raw"))

    def job(self) -> None:
        self._lake()
        self._corpus()

    def _refined(self, raw, dim, start: str, end: str):
        from pyspark.sql import functions as F

        from etl_aws_spark.plans import refined

        out, _, _ = self.t.call(
            "plans.refined",
            refined.refined_pipeline,
            raw,
            dim,
            ts_col="ts",
            key_col="user_id",
            value_col="value",
            order_tail=["ts", "event_id"],
            raw_join_key=F.col("user_id") % 25,
            dim_join_key=F.col("n_nationkey").cast("bigint"),
            dim_cols=["n_name"],
            date_start=start,
            date_end=end,
        )
        return out

    def _lake(self) -> None:
        from etl_aws_spark.ml import models
        from etl_aws_spark.operators import aggregates
        from etl_aws_spark.plans import refined
        from etl_aws_spark.sources import readers

        raw = self._read(readers.read_parquet_partitioned, self.land("raw"))
        dim = self._read(readers.read_parquet, self.src("quotes", "nation.parquet"))
        out = self._refined(raw, dim, *self.WINDOW)
        self.t.call("plans.refined", refined.write_refined, out, self.out("refined"), "date", "user_id")
        tree = self._read(readers.read_parquet_partitioned, self.out("refined"))
        pred = self.t.call(
            "ml.models", models.ar1_forecast_closed_form, tree, "value", "user_id", ["date", "ts"], 5
        )
        self._write(pred, self.out("predicted"), ["step"])
        desc = self.t.call("operators.aggregates", aggregates.describe_percentiles, tree, "value_diff")
        nulls = self.t.call("operators.aggregates", aggregates.null_counts, tree, ["n_name", "value_diff"])
        desc.collect()
        nulls.collect()

    def _corpus(self) -> None:
        from pyspark.sql import functions as F

        from etl_aws_spark.operators import graph
        from etl_aws_spark.sources import readers
        from etl_aws_spark.text import _dialect as D
        from etl_aws_spark.text import curation, dedup

        shutil.copytree(self.src("corpus", "shard"), self.land("shard"))
        docs = self._read(readers.read_parquet, self.src("corpus", "documents.parquet"))
        shard = self._read(readers.read_parquet, self.land("shard"))
        raw = docs.unionByName(shard)
        gs = self.t.call("text.curation", curation.gopher_rules, raw, "text")
        gs = gs.filter(F.col("keep")).select("doc_id", "text", "source")
        es = self.t.call("text.dedup", dedup.exact_dedup, gs, "doc_id", "text")
        es = es.filter(F.col("is_dup") == 0).select("doc_id", "text", "source").localCheckpoint(eager=True)
        edges = self.t.call("text.dedup", dedup.minhash_band_edges, es, "doc_id", "text", max_bucket=50)
        if self.t.enabled:
            self.edges, self.survivors = edges, es
        cc = self.t.call(
            "operators.graph",
            graph.connected_components,
            es.select("doc_id").distinct(),
            edges,
            id_col="doc_id",
            edges_subset_of_vertices=True,
        )
        spl = cc.select(
            "doc_id",
            "component_id",
            (F.md5(F.concat(F.lit("csplit:"), F.col("component_id").cast("string"))) < F.lit("2"))
            .cast("int")
            .alias("is_test"),
        )
        self._write(es.join(spl, "doc_id"), self.out("released"), ["is_test"])
        rel = self._read(readers.read_parquet_partitioned, self.out("released"))
        toks = D.tokens("text", D.SPARK)
        report = (
            rel.select("source", "component_id", "is_test", F.expr(f"size({toks})").cast("long").alias("nt"))
            .groupBy("source", "is_test")
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_docs"),
                F.countDistinct("component_id").cast("long").alias("n_clusters"),
                F.sum("nt").cast("long").alias("n_tokens"),
            )
        )
        self.report = report.toPandas()

    def search(self) -> None:
        """One per-ticker scan of the refined tree (date-partitioned, rows
        sorted by ticker within files, so row-group stats prune)."""
        from pyspark.sql import functions as F

        from etl_aws_spark.sources import readers

        tk = int(self.rng.integers(0, self.manifest["quotes"]["tickers"]))
        tree = self._read(readers.read_parquet_partitioned, self.out("refined"))
        with self.t.span("sources.readers", "ticker_scan"):  # the pruned scan itself
            rows = (
                tree.filter(F.col("user_id") == tk)
                .select(
                    "user_id",
                    F.col("date").cast("timestamp").alias("date"),
                    (F.round("value_diff", 4) + F.lit(0.0)).alias("value_diff"),
                    (F.round("rolling_mean_5_value_diff", 4) + F.lit(0.0)).alias("rolling_mean_5_value_diff"),
                )
                .collect()
            )
        self.search_log.append((tk, rows))

    def increment(self) -> float:
        """Land the 2024-01-25 partition and refresh only that date: the
        daily run, with a 10-day lookback for the lag/rolling frames."""
        from pyspark.sql import functions as F

        from etl_aws_spark.plans import refined
        from etl_aws_spark.sources import readers

        d = DELTA_DAY
        part = f"ano={d.year}/mes={d.month}/dia={d.day}"
        t0 = time.perf_counter()
        shutil.copytree(self.src("quotes", "delta", part), self.land("raw", part), dirs_exist_ok=True)
        raw = self._read(readers.read_parquet_partitioned, self.land("raw"))
        dim = self._read(readers.read_parquet, self.src("quotes", "nation.parquet"))
        day = self._refined(raw, dim, self.LOOKBACK_START, d.isoformat())
        day = day.filter(F.col("date") == F.lit(d.isoformat()).cast("date"))
        self.t.call("plans.refined", refined.write_refined, day, self.out("refined"), "date", "user_id")
        return time.perf_counter() - t0

    def increments(self) -> list[float]:
        return [self.increment()]

    def observe(self) -> dict:
        """Digests of the published outputs, in the oracles' shape."""
        from pyspark.sql import functions as F

        tree = self.spark.read.parquet(self.out("refined"))
        rnd = lambda c, n=4: (F.round(c, n) + F.lit(0.0)).alias(c)  # noqa: E731
        refined = tree.select(
            "user_id", F.col("date").cast("timestamp").alias("date"), "n_name", "dayofweek", "month",
            *[rnd(c, 6) for c in ("day_sin", "day_cos", "month_sin", "month_cos")],
            *[rnd(c) for c in _FEATS],
        )
        return {"refined": self.digest(refined.toPandas()), "report": self.digest(self.report)}

    def search_digests(self) -> list[tuple[str, str]]:
        cols = ["user_id", "date", "value_diff", "rolling_mean_5_value_diff"]
        return [(str(k), self.digest(_pandas(rows, cols))) for k, rows in self.search_log]

    def trace_counts(self) -> None:
        """Traced-run counts that need a separate pass: the share of LSH
        candidate pairs whose exact token-set Jaccard reaches the S-curve
        midpoint (computed outside every span)."""
        from pyspark.sql import functions as F

        from etl_aws_spark.text import _dialect as D

        sets = self.survivors.select("doc_id", F.expr(D.distinct_tokens("text", D.SPARK)).alias("s"))
        a = sets.select(F.col("doc_id").alias("src"), F.col("s").alias("a"))
        b = sets.select(F.col("doc_id").alias("dst"), F.col("s").alias("b"))
        j = self.edges.join(a, "src").join(b, "dst").select(
            (F.size(F.array_intersect("a", "b")) / F.size(F.array_union("a", "b"))).alias("j")
        )
        row = j.agg(F.count(F.lit(1)).alias("n"), F.sum((F.col("j") >= JACCARD_USEFUL).cast("long")).alias("u")).first()
        self.t.count("text.dedup", "candidate_pairs", row["n"])
        self.t.count("text.dedup", "useful_ratio", (row["u"] or 0) / max(row["n"], 1))


class VectorIndex(Workload):
    """(a) The job builds a persisted PQ index (codebook and codes written
    as parquet); (b) single-client ADC searches, one query vector per
    request, against the persisted codes; (c) maintenance: the v0 kNN
    state from the base corpus, then the delta tranches land one by one
    and each is folded by a maintenance pass, then the state is compacted."""

    name = "vector_index"
    searches_per_iter = 10
    warmup_searches = 3

    def __init__(self, *a, **kw):
        super().__init__(*a, **kw)
        self.labels = {
            name: np.bincount(
                papq.read_table(self.src(*name.split("/")), columns=["label"])["label"].to_numpy(),
                minlength=8,
            )
            for name in ["base.parquet"] + [f"tranches/t{t}.parquet" for t in range(N_TRANCHES)]
        }

    def job(self) -> None:
        from pyspark.sql import functions as F

        from etl_aws_spark.similarity import pq
        from etl_aws_spark.sources import readers

        emb = self._read(readers.read_parquet, self.src("embeddings.parquet"))
        parts, cb = self.t.call(
            "similarity.pq", pq.train_codebook, emb, "vec_id", "embedding", d_sub=PQ_DSUB, k=PQ_K, iters=1
        )
        self._write(cb, self.out("index", "codebook"))
        cb_rest = self._read(readers.read_parquet, self.out("index", "codebook"))
        codes = self.t.call("similarity.pq", pq.assign_codes, parts, cb_rest)
        self._write(codes.select("_id", "sub", "code"), self.out("index", "codes"))
        self.queries = emb.select("vec_id", "embedding").filter(F.col("vec_id") < N_QUERIES)

    def before_searches(self) -> None:
        """The search service loads the persisted index once: codes and
        codebook read from parquet and cached in executor memory."""
        from etl_aws_spark.sources import readers

        self.index = []
        for part in ("codes", "codebook"):
            df = self._read(readers.read_parquet, self.out("index", part)).cache()
            df.count()
            self.index.append(df)

    def search(self) -> None:
        """One ADC request: a single query vector against the persisted
        codes, top 10."""
        from pyspark.sql import functions as F

        from etl_aws_spark.similarity import pq

        qid = int(self.rng.integers(0, N_QUERIES))
        q = self.queries.filter(F.col("vec_id") == qid)
        res = self.t.call(
            "similarity.pq", pq.adc_search, *self.index, q, "vec_id", "embedding", d_sub=PQ_DSUB, topk=10
        )
        rows = res.select(
            "query_id", "neighbor_id",
            (F.round(F.col("adc_dist"), 6) + F.lit(0.0)).alias("adc_dist"),
            F.col("rank").cast("int").alias("rank"),
        ).collect()
        self.search_log.append((qid, rows))

    def increments(self) -> list[float]:
        """The maintenance phase: v0 state from the base corpus, then each
        tranche lands and is folded (timed from landing), then compaction."""
        from etl_aws_spark.sources import readers
        from etl_aws_spark.streaming import maintenance as mt

        for df in self.index:
            df.unpersist()
        base = self._read(readers.read_parquet, self.src("base.parquet"))
        self.t.call(
            "streaming.maintenance", mt.init_state, self.spark, base, self.out("state"), DIM,
            k=KNN_K, budget=KNN_BUDGET,
        )
        if self.t.enabled:
            n = self.labels["base.parquet"]
            self.t.count("similarity.knn", "pairs_scored", int((n * np.minimum(n, KNN_BUDGET)).sum()))
        lats = []
        os.makedirs(self.land("landing"))
        seen = self.labels["base.parquet"].copy()
        pool = np.minimum(seen, KNN_BUDGET)
        for t in range(N_TRANCHES):
            name = f"t{t}.parquet"
            t0 = time.perf_counter()
            shutil.copy(self.src("tranches", name), self.land("landing", name))
            self.t.call(
                "streaming.maintenance", mt.run_maintenance_pass, self.spark, None, self.land("landing"),
                self.out("state"), self.out("ckpt"), DIM, k=KNN_K, budget=KNN_BUDGET,
            )
            lats.append(time.perf_counter() - t0)
            b = self.labels[f"tranches/{name}"]
            if self.t.enabled:
                # old rows score the batch; batch rows score pool-so-far + batch
                self.t.count("similarity.knn", "pairs_scored", int((seen * b + b * (pool + b)).sum()))
            seen, pool = seen + b, pool + b
        self.extra_written += tree_bytes(self.out("state"))  # versions compaction removes
        self.t.call("streaming.maintenance", mt.compact_state, self.spark, self.out("state"))
        return lats

    def observe(self) -> dict:
        from etl_aws_spark.streaming import maintenance as mt

        return {"state": self.digest(mt.read_final_topk(self.spark, self.out("state"), k=KNN_K).toPandas())}

    def search_digests(self) -> list[tuple[str, str]]:
        cols = ["query_id", "neighbor_id", "adc_dist", "rank"]
        return [(str(k), self.digest(_pandas(rows, cols))) for k, rows in self.search_log]

    def trace_counts(self) -> None:
        """recall@10 of the ADC results against exact L2 top-10
        (``pq.brute_l2_topk``), over the queries searched this iteration."""
        from etl_aws_spark.similarity import pq

        qids = sorted({k for k, _ in self.search_log})
        exact = pq.brute_l2_topk(
            self.spark.read.parquet(self.src("embeddings.parquet")),
            self.queries.filter(self.queries.vec_id.isin(qids)),
            "vec_id", "embedding", DIM, 10,
        ).select("query_id", "neighbor_id").collect()
        truth = {(r[0], r[1]) for r in exact}
        got = {(r[0], r[1]) for _, rows in self.search_log for r in rows}
        self.t.count("similarity.pq", "recall_at_10", len(truth & got) / max(len(truth), 1))


WORKLOADS = {w.name: w for w in (LakeRelease, VectorIndex)}
