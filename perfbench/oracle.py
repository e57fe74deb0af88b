"""Expected outputs from DuckDB over the same generated inputs, and the
order-insensitive value hash both sides are compared with.

The SQL is the engine registry's own oracle for the matching composition
(``pipeline_refined``, ``pipeline_corpus_release``,
``similarity_pq_index_adc_search``, ``streaming_knn_index_maintenance``),
run against the generated tables under the fixture names. Expected values
are computed once per (seed, size) and cached beside the inputs, outside
every timed span.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pandas as pd

from gen import DELTA_DAY


def _canon(pdf: pd.DataFrame) -> pd.DataFrame:
    pdf = pdf[sorted(pdf.columns)].copy()
    for c in pdf.columns:
        s = pdf[c]
        if pd.api.types.is_datetime64_any_dtype(s):
            if getattr(s.dt, "tz", None) is not None:
                s = s.dt.tz_localize(None)
            s = s.astype("datetime64[us]").astype("int64")
        elif pd.api.types.is_bool_dtype(s) or pd.api.types.is_integer_dtype(s):
            s = s.astype("int64")
        elif pd.api.types.is_float_dtype(s):
            s = s.astype("float64") + 0.0  # +0.0 folds -0.0 into 0.0
        else:
            s = s.astype(str)
        pdf[c] = s
    return pdf


def row_hashes(pdf: pd.DataFrame) -> np.ndarray:
    return pd.util.hash_pandas_object(_canon(pdf), index=False).to_numpy(np.uint64)


def _fmt(n: int, h: int) -> str:
    return f"{n}:{h:016x}"


def digest(pdf: pd.DataFrame) -> str:
    """``<rows>:<sum of per-row hashes mod 2^64>`` — equal for equal
    multisets of rows, whatever their order."""
    return _fmt(len(pdf), int(row_hashes(pdf).sum(dtype=np.uint64)))


def digest_by(pdf: pd.DataFrame, key: str) -> dict[str, str]:
    """Per-key digests of ``pdf`` (keys as strings, for JSON); equal to
    ``digest`` of each key's rows."""
    h = row_hashes(pdf)
    keys = pdf[key].to_numpy()
    order = np.argsort(keys, kind="stable")
    keys, h = keys[order], h[order]
    starts = np.flatnonzero(np.r_[True, keys[1:] != keys[:-1]])
    sums = np.add.reduceat(h, starts) if len(h) else h
    counts = np.diff(np.r_[starts, len(keys)])
    return {str(int(k)): _fmt(int(c), int(s)) for k, c, s in zip(keys[starts], counts, sums)}


def _registry_sql(name: str) -> str:
    from etl_aws_spark.registry import REGISTRY
    from etl_aws_spark.suite import q_pipeline, q_similarity, q_streaming, q_text  # noqa: F401

    return REGISTRY[name].oracle


def _con():
    import duckdb

    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    con.execute("SET enable_progress_bar = false")
    return con


def _refined(inputs: str) -> dict:
    con = _con()
    parts = [os.path.join(inputs, t, "ano=*/mes=*/dia=*/*.parquet") for t in ("raw", "delta")]
    con.execute(f"CREATE VIEW events AS SELECT * FROM read_parquet({parts!r}, hive_partitioning = false)")
    con.execute(f"CREATE VIEW nation AS SELECT * FROM read_parquet('{inputs}/nation.parquet')")
    ref = con.execute(_registry_sql("pipeline_refined")).df()
    before = ref[ref["date"] < pd.Timestamp(DELTA_DAY)]
    cols = ["user_id", "date", "value_diff", "rolling_mean_5_value_diff"]
    return {"refined": digest(ref), "search": digest_by(before[cols], "user_id")}


def _components(vertices: np.ndarray, edges: np.ndarray) -> pd.DataFrame:
    """Connected components by union-find: (doc_id, cid = min id)."""
    parent = {int(v): int(v) for v in vertices}

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(int(a)), find(int(b))
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return pd.DataFrame({"doc_id": list(parent), "cid": [find(v) for v in parent]})


def _corpus(inputs: str) -> dict:
    """The registry's corpus-release oracle with its recursive-CTE closure
    (``verts``/``sym``/``reach``/``cc``, minutes of DuckDB time even at a
    few thousand docs) replaced by a union-find over the same ``edges``
    CTE; every other stage is the registry SQL verbatim."""
    con = _con()
    con.execute(f"CREATE TABLE documents AS SELECT * FROM read_parquet('{inputs}/documents.parquet')")
    sql = _registry_sql("pipeline_corpus_release")
    # a physical hint only: evaluate the survivor set once per query
    sql = sql.replace("corpus AS (", "corpus AS MATERIALIZED (", 1)
    i, j = sql.find("verts AS ("), sql.find("spl AS (")
    if i < 0 or j < i:
        raise RuntimeError("registry corpus oracle changed shape: closure CTEs not found")
    head = sql[:i].rstrip().rstrip(",")
    edges = con.execute(head + " SELECT src, dst FROM edges").fetchnumpy()
    verts = con.execute(head + " SELECT doc_id FROM corpus").fetchnumpy()["doc_id"]
    cc = _components(verts, zip(edges["src"], edges["dst"]))
    con.register("cc", cc)
    report = con.execute(sql[:i] + sql[j:]).df()
    return {"report": digest(report)}


def _vectors(inputs: str, n_queries: int) -> dict:
    con = _con()
    con.execute(f"CREATE TABLE embeddings AS SELECT * FROM read_parquet('{inputs}/embeddings.parquet')")
    sql = _registry_sql("similarity_pq_index_adc_search")
    probe = "FROM pparts WHERE id < 5"
    if sql.count(probe) != 1:
        raise RuntimeError("registry ADC oracle changed shape: query predicate not found")
    adc = con.execute(sql.replace(probe, f"FROM pparts WHERE id < {n_queries}")).df()
    topk = con.execute(_registry_sql("streaming_knn_index_maintenance")).df()
    return {"search": digest_by(adc, "query_id"), "state": digest(topk)}


def expected(workload: str, inputs: str) -> dict:
    """Expected digests for ``workload`` over ``inputs`` (cached)."""
    path = os.path.join(inputs, "_EXPECTED.json")
    if os.path.exists(path):
        with open(path) as f:
            return json.load(f)
    if workload == "lake_release":
        out = {**_refined(os.path.join(inputs, "quotes")), **_corpus(os.path.join(inputs, "corpus"))}
    else:
        from workloads import N_QUERIES

        out = _vectors(inputs, N_QUERIES)
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(out, f)
    os.replace(tmp, path)
    return out
