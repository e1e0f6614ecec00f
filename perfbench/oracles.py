"""Expected outputs: BM25 goldens from the repo's pure-Python oracle, and
DuckDB results of the contract's ``oracle_sql()`` compared by value hash."""

from __future__ import annotations

import json
import math
import os
import re
from contextlib import contextmanager

import numpy as np
import pandas as pd

TOP_K = 10


@contextmanager
def _shared_oracle_index(docs: dict[int, str], analyzer: str):
    """Serve one prebuilt oracle index to every ``oracle_topk`` call.

    ``oracle_topk`` rebuilds its index on every call, and quantizes each
    posting's length through a one-element numpy call. Both are pure
    functions of their inputs, so the index is built once and the
    quantization is read from a table computed by the same function;
    the scoring loop itself runs unchanged.
    """
    from elasticsearch_spark.oracle import bm25_oracle

    built = bm25_oracle.build_oracle_index(docs, analyzer)
    lengths = np.array(sorted(set(built[1].values())), dtype=np.int64)
    table = dict(zip(lengths.tolist(), bm25_oracle.quantize_dl(lengths).tolist()))
    # the oracle quantizes one length at a time and only reads the result
    single = {n: np.array([q], dtype=np.int64) for n, q in table.items()}
    orig_build, orig_quant = bm25_oracle.build_oracle_index, bm25_oracle.quantize_dl

    def build(d, a="standard"):
        return built if (d is docs and a == analyzer) else orig_build(d, a)

    def quant(a):
        if len(a) == 1:
            return single[int(a[0])]
        return np.array([table[int(x)] for x in a], dtype=np.int64)

    bm25_oracle.build_oracle_index, bm25_oracle.quantize_dl = build, quant
    try:
        yield bm25_oracle.oracle_topk
    finally:
        bm25_oracle.build_oracle_index, bm25_oracle.quantize_dl = orig_build, orig_quant


def bm25_goldens(docs_path: str, queries: list[str], out_path: str) -> None:
    """Top-10 [(doc_id, score)] per query over the (doc_id, content) Parquet."""
    import pyarrow.parquet as pq

    tbl = pq.read_table(docs_path)
    docs = dict(zip(tbl["doc_id"].to_pylist(), tbl["content"].to_pylist()))
    with _shared_oracle_index(docs, "code") as oracle_topk:
        out = [[list(h) for h in oracle_topk(docs, q, k=TOP_K, analyzer="code")]
               for q in queries]
    with open(out_path + ".tmp", "w") as f:
        json.dump(out, f)
    os.replace(out_path + ".tmp", out_path)


def topk_matches(got: list[tuple[int, float]], want: list[list]) -> bool:
    """Same doc_id sequence, scores equal within 1e-9 (the repo's rank-parity rule)."""
    return len(got) == len(want) and all(
        g[0] == w[0] and math.isclose(g[1], w[1], rel_tol=1e-9, abs_tol=1e-9)
        for g, w in zip(got, want))


# ---------------------------------------------------------------- contract

def canon_hash(df: pd.DataFrame) -> tuple[int, list[str], str]:
    """Row count, sorted columns and order-insensitive value hash, as the
    repo's DuckDB correctness gate computes them."""
    from tools.check_oracle import canon

    return canon(df)[:3]


def _row_keys(df: pd.DataFrame) -> list[str]:
    """One key per row, with every column canonicalized as ``canon`` does."""
    from tools.check_oracle import canon

    return [canon(df.iloc[[j]])[2] for j in range(len(df))]


def without_limits(sql: str) -> str:
    """The same query with every LIMIT removed, so each top-k part returns
    its whole ranking."""
    return re.sub(r"\bLIMIT\s+\d+\b", "", sql, flags=re.IGNORECASE)


def ties_at_cut_equal(got: pd.DataFrame, want: pd.DataFrame,
                      ranking: pd.DataFrame) -> bool:
    """Top-k frames (``doc_id``, ``score`` and per-doc columns, grouped by
    ``query_id`` when present) that differ only among rows tied at a group's
    lowest score.

    The contract's SQL twins order by the score rounded for output, then by
    doc_id; the engine orders by the exact score. Two docs whose scores round
    to the same value at the k-th place can then be cut differently, and
    either is a valid k-th row. Every row above the cut must match exactly,
    and every row the engine keeps at the cut, with all its columns, must be
    among the rows at that score in ``ranking``: the SQL twin's result with
    its LIMITs removed.
    """
    if not (sorted(got.columns) == sorted(want.columns) == sorted(ranking.columns)
            and len(got) == len(want)):
        return False
    if not {"doc_id", "score"} <= set(got.columns):
        return False
    key = ["query_id"] if "query_id" in got.columns else []

    def groups(f: pd.DataFrame) -> dict:
        return dict(tuple(f.groupby(key))) if key else {(): f}

    g_all, w_all, r_all = groups(got), groups(want), groups(ranking)
    if g_all.keys() != w_all.keys():
        return False
    for k, w in w_all.items():
        g, r = g_all[k], r_all.get(k, ranking.iloc[:0])
        cut = w["score"].min()
        if len(g) != len(w) or g["score"].min() != cut:
            return False
        if sorted(_row_keys(g[g["score"] > cut])) != sorted(_row_keys(w[w["score"] > cut])):
            return False
        at_cut = _row_keys(g[g["score"] == cut])
        if len(set(at_cut)) != len(at_cut) or not set(at_cut) <= set(
                _row_keys(r[r["score"] == cut])):
            return False
    return True


def rows_frame(rows: list, fields: list[str]) -> pd.DataFrame:
    return pd.DataFrame.from_records([tuple(r) for r in rows], columns=fields)


def duckdb_results(sf_dir: str, sql: dict[str, str]) -> dict[str, pd.DataFrame]:
    """{name: result frame} of each DuckDB query over the same tables."""
    import duckdb

    con = duckdb.connect()
    try:
        for t in ("documents", "orders", "lineitem", "embeddings"):
            p = os.path.join(sf_dir, f"{t}.parquet")
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
        return {name: con.execute(q).df() for name, q in sql.items()}
    finally:
        con.close()


if __name__ == "__main__":
    # Run in its own process: the oracle index is large, and it must not
    # count in the benchmark process's peak memory.
    import sys

    docs_path, queries_path, out_path = sys.argv[1:4]
    with open(queries_path) as f:
        bm25_goldens(docs_path, json.load(f), out_path)
