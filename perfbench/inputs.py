"""Seeded inputs the benchmark owns: the code corpus, its query set and
the contract tables.

Nothing here imports the program under test, so a change to the program
cannot change what the benchmark feeds it. Every generator is a pure
function of the workload seed; ``code_inputs`` and ``contract_inputs`` write
the results once per seed as Parquet/JSON and later runs reuse them.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

# ---------------------------------------------------------------- code corpus
# Same shape as the engine's input table (repo, path, commit, lang, content):
# Zipf repo sizes, per-language keywords (ultra-high df), camelCase and
# snake_case identifiers drawn Zipf from a seeded vocabulary, heavy-tailed
# document lengths so BM25 length normalisation matters.

LANGS = ("java", "python", "go", "js", "c", "rust", "md")
LANG_WEIGHTS = np.array([0.22, 0.22, 0.12, 0.16, 0.10, 0.08, 0.10])
LANG_EXT = ("java", "py", "go", "js", "c", "rs", "md")
KEYWORDS = (
    "public class void static final import return new private extends",
    "def return import class if else for while lambda yield",
    "func return import package var struct interface defer go chan",
    "function return import const let var class async await export",
    "int void return include struct static char const sizeof typedef",
    "fn return use pub struct impl let mut match trait",
    "the a and of to in for with code example",
)
_HEADS = ("get set make build parse read write find merge sort scan index "
          "query score fetch load store").split()
_TAILS = ("Buffer Index Query Token Term Doc Score Block Stats Cache Reader "
          "Writer Config Handler Stream").split()
_SNAKE = "buf idx tok term doc score block stat cache read write cfg node list map".split()
# separators between tokens: plain, call parens, string literal, comment
_SEPS = (" ", " ( ", " ); ", ' "lit{}" ', " // note ")
_SEP_P = np.array([0.80, 0.08, 0.08, 0.02, 0.02])

VOCAB_SIZE = 2000
ZIPF_S = 1.1


def _vocab(rng: np.random.Generator) -> list[str]:
    """Distinct identifiers, ordered by Zipf rank (rank 0 most frequent)."""
    out: list[str] = []
    seen: set[str] = set()
    while len(out) < VOCAB_SIZE:
        style = len(out) % 3
        n = int(rng.integers(0, 1000))
        if style == 0:
            w = f"{rng.choice(_HEADS)}{rng.choice(_TAILS)}{n}"
        elif style == 1:
            w = f"{rng.choice(_SNAKE)}_{rng.choice(_SNAKE)}_{n}"
        else:
            w = f"{rng.choice(_HEADS)}{rng.choice(_SNAKE).capitalize()}{n}"
        if w not in seen:
            seen.add(w)
            out.append(w)
    return out


def code_corpus(seed: int, n_docs: int) -> tuple[pd.DataFrame, list[str]]:
    """Returns (corpus, vocabulary by Zipf rank)."""
    rng = np.random.default_rng([seed, 1])
    vocab = _vocab(rng)
    zipf_p = 1.0 / np.arange(1, VOCAB_SIZE + 1) ** ZIPF_S
    zipf_p /= zipf_p.sum()
    lang = rng.choice(len(LANGS), size=n_docs, p=LANG_WEIGHTS)
    n_tok = 10 + np.minimum((rng.pareto(1.5, n_docs) * 50).astype(np.int64), 990)
    starts = np.concatenate([[0], np.cumsum(n_tok)])
    total = int(starts[-1])
    doc_of = np.repeat(np.arange(n_docs), n_tok)
    is_kw = rng.random(total) < 1.0 / 3.0
    kw_pick = rng.integers(0, 10, size=total)
    id_pick = rng.choice(VOCAB_SIZE, size=total, p=zipf_p)
    kw_table = [k.split() for k in KEYWORDS]
    # token ids: identifiers 0..V-1, keyword j of lang l at V + 10*l + j
    tok = np.where(is_kw, VOCAB_SIZE + 10 * lang[doc_of] + kw_pick, id_pick)
    sep = rng.choice(len(_SEPS), size=total, p=_SEP_P)
    lit = rng.integers(0, 97, size=total)
    words = np.array(vocab + [w for ks in kw_table for w in ks], dtype=object)
    seps = np.array(_SEPS, dtype=object)
    pieces = words[tok] + seps[sep]
    lit_rows = np.flatnonzero(sep == 3)
    pieces[lit_rows] = [words[tok[i]] + _SEPS[3].format(lit[i]) for i in lit_rows]
    content = ["".join(pieces[starts[i]:starts[i + 1]]).strip() for i in range(n_docs)]

    org = rng.zipf(1.5, n_docs) % 20
    proj = rng.zipf(1.3, n_docs) % 50
    depth = rng.integers(1, 4, size=n_docs)
    dirs = rng.integers(0, VOCAB_SIZE, size=(n_docs, 3))
    fname = rng.integers(0, VOCAB_SIZE, size=n_docs)
    commit = rng.bytes(20 * n_docs)
    low = [v.lower() for v in vocab]
    return pd.DataFrame({
        "repo": [f"org{o}/proj{p}" for o, p in zip(org, proj)],
        "path": [
            "/".join(["src", *(low[j] for j in dirs[i, :depth[i]]),
                      f"{vocab[fname[i]]}.{LANG_EXT[lang[i]]}"])
            for i in range(n_docs)
        ],
        "commit": [commit[20 * i:20 * i + 20].hex() for i in range(n_docs)],
        "lang": [LANGS[i] for i in lang],
        "content": content,
    }), vocab


# ---------------------------------------------------------------- query set
# OR queries of 1-5 words from df buckets: ultra-high keywords, mid-rank and
# rare identifiers, and words that never occur. The code analyzer splits an
# identifier into sub-tokens, so a word usually becomes several terms.
# Query i always has the same length and bucket pattern, and identifiers are
# picked by Zipf rank, so every seed asks for the same amount of work; the
# seed only changes which identifier holds each rank and the zero-hit words.

_ULTRA = ("import", "return", "class", "static", "struct")
N_QUERIES = 20
_PATTERN = "umrzumrmumr"  # bucket of word j of query i: _PATTERN[(i + j) % 11]


def query_set(seed: int, vocab: list[str]) -> list[str]:
    rng = np.random.default_rng([seed, 2])
    out = []
    for i in range(N_QUERIES):
        words = []
        for j in range(1 + i % 5):
            b, k = _PATTERN[(i + j) % len(_PATTERN)], 7 * i + 3 * j
            if b == "u":
                words.append(_ULTRA[k % len(_ULTRA)])
            elif b == "m":
                words.append(vocab[10 + k % 190])
            elif b == "r":
                words.append(vocab[1200 + k % 800])
            else:
                words.append("zq" + rng.bytes(5).hex())
        out.append(" ".join(words))
    return out


# ---------------------------------------------------------------- contract tables
# The tables the 13 headline queries read (documents, orders, lineitem,
# embeddings), with the shapes and value ranges of the contract's testdata.

_DOC_WORDS = ("spark window merge table column vector stream value data small "
              "join filter big group hash customer sort order slow line part "
              "fast row the agg key query a scan batch").split()
_DOC_LANGS = ("en", "zh", "es", "fr", "de")
_DOC_LANG_P = np.array([0.41, 0.15, 0.15, 0.15, 0.14])
_PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")


def _days(rng, lo: str, hi: str, n: int) -> np.ndarray:
    a, b = np.datetime64(lo, "D"), np.datetime64(hi, "D")
    d = a + rng.integers(0, int((b - a).astype(int)) + 1, size=n)
    return d.astype("datetime64[us]")


def contract_docs(sf: float) -> int:
    return int(50_000 * sf)


def contract_tables(seed: int, sf: float) -> dict[str, pd.DataFrame]:
    rng = np.random.default_rng([seed, 3])
    n_docs, n_orders = contract_docs(sf), int(1_500_000 * sf)
    n_items, n_vecs = 4 * n_orders, int(20_000 * sf)

    n_words = rng.integers(10, 101, size=n_docs)
    words = np.array(_DOC_WORDS, dtype=object)[
        rng.integers(0, len(_DOC_WORDS), size=int(n_words.sum()))]
    cuts = np.concatenate([[0], np.cumsum(n_words)])
    text = [" ".join(words[cuts[i]:cuts[i + 1]]) for i in range(n_docs)]
    # a few near-duplicates so the dedup query has pairs to find
    for i in rng.choice(n_docs, size=max(1, n_docs // 50), replace=False):
        j = int(rng.integers(0, n_docs))
        text[i] = text[j] + " dup"
    documents = pd.DataFrame({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": text,
        "lang": np.array(_DOC_LANGS, dtype=object)[
            rng.choice(len(_DOC_LANGS), size=n_docs, p=_DOC_LANG_P)],
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(t) for t in text], dtype=np.int64),
    })
    orders = pd.DataFrame({
        "o_orderkey": np.arange(n_orders, dtype=np.int64),
        "o_custkey": rng.integers(0, max(1, n_orders // 10), size=n_orders),
        "o_orderstatus": np.array(list("FOP"), dtype=object)[
            rng.integers(0, 3, size=n_orders)],
        "o_totalprice": rng.integers(100_000, 50_000_000, size=n_orders) / 100.0,
        "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", n_orders),
        "o_orderpriority": np.array(_PRIORITIES, dtype=object)[
            rng.integers(0, 5, size=n_orders)],
    })
    lineitem = pd.DataFrame({
        "l_orderkey": rng.integers(0, n_orders, size=n_items),
        "l_partkey": rng.integers(0, max(1, n_items // 30), size=n_items),
        "l_suppkey": rng.integers(0, 1000, size=n_items),
        "l_linenumber": rng.integers(1, 8, size=n_items).astype(np.int32),
        "l_quantity": rng.integers(1, 51, size=n_items).astype(np.float64),
        "l_extendedprice": rng.integers(90_000, 10_500_000, size=n_items) / 100.0,
        "l_discount": rng.integers(0, 11, size=n_items) / 100.0,
        "l_tax": rng.integers(0, 9, size=n_items) / 100.0,
        "l_returnflag": np.array(list("ANR"), dtype=object)[
            rng.integers(0, 3, size=n_items)],
        "l_linestatus": np.array(list("FO"), dtype=object)[
            rng.integers(0, 2, size=n_items)],
        "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", n_items),
    })
    vecs = rng.standard_normal((n_vecs, 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    embeddings = pd.DataFrame({
        "vec_id": np.arange(n_vecs, dtype=np.int64),
        "embedding": list(vecs),
        "label": rng.integers(0, 10, size=n_vecs).astype(np.int32),
    })
    return {"documents": documents, "orders": orders,
            "lineitem": lineitem, "embeddings": embeddings}


# ---------------------------------------------------------------- caching

def _write_parquet(df: pd.DataFrame, path: str) -> None:
    tmp = path + ".tmp"
    pq.write_table(pa.Table.from_pandas(df, preserve_index=False), tmp)
    os.replace(tmp, path)


def code_inputs(seed_dir: str, seed: int, n_docs: int) -> tuple[str, list[str]]:
    """Corpus Parquet path and query set for ``seed``, generated once."""
    os.makedirs(seed_dir, exist_ok=True)
    corpus_path = os.path.join(seed_dir, f"code_{n_docs}.parquet")
    queries_path = os.path.join(seed_dir, f"queries_{n_docs}.json")
    if not (os.path.exists(corpus_path) and os.path.exists(queries_path)):
        corpus, vocab = code_corpus(seed, n_docs)
        queries = query_set(seed, vocab)
        _write_parquet(corpus, corpus_path)
        with open(queries_path + ".tmp", "w") as f:
            json.dump(queries, f)
        os.replace(queries_path + ".tmp", queries_path)
    with open(queries_path) as f:
        return corpus_path, json.load(f)


def contract_inputs(seed_dir: str, seed: int, sf: float) -> str:
    """Directory of contract tables for ``seed``, generated once."""
    out = os.path.join(seed_dir, f"contract_sf{sf}")
    if not os.path.exists(os.path.join(out, "_SUCCESS")):
        os.makedirs(out, exist_ok=True)
        for name, df in contract_tables(seed, sf).items():
            _write_parquet(df, os.path.join(out, f"{name}.parquet"))
        open(os.path.join(out, "_SUCCESS"), "w").close()
    return out


if __name__ == "__main__":
    # Generation runs in its own process, so the benchmark process has the
    # same memory footprint whether or not the cache was warm.
    import sys

    kind, seed_dir, seed, size = sys.argv[1:5]
    if kind == "code":
        code_inputs(seed_dir, int(seed), int(size))
    else:
        contract_inputs(seed_dir, int(seed), float(size))
