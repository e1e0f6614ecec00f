"""The workloads. Each is closed loop with one client: the next operation
starts when the previous one has returned and been checked.

``msearch_code``       one ``match_topk_batch`` of the whole query set per operation.
``contract_headline``  one headline query of ``__spark_entry__.queries()`` per
                       operation, in whole passes over the 13 names.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import time
import traceback
from contextlib import contextmanager

import pyarrow.parquet as pq

from perfbench import inputs, oracles
from perfbench.observe import mean, median

CODE_DOCS = 12_000
CONTRACT_SF = 0.02
ID_COLS = ["repo", "path", "commit"]

# bench.py's HEADLINE list, in its order
HEADLINE = (
    "match_or", "match_and", "match_phrase", "match_k50", "msearch_batch",
    "bool_match_filter", "agg_terms_metrics", "agg_date_histogram",
    "agg_histogram", "agg_top_hits", "dedup_minhash_lsh", "ann_cosine_batch",
    "text_fingerprint",
)

SPARK_FIELDS = ("jobs", "stages", "tasks", "executor_run_ms", "executor_cpu_ms",
                "gc_ms", "input_bytes", "shuffle_read_bytes", "shuffle_write_bytes")


def in_subprocess(module: str, *args) -> None:
    """``python -m perfbench.<module> args...`` from the checkout root."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    subprocess.run([sys.executable, "-m", f"perfbench.{module}", *map(str, args)],
                   cwd=root, check=True)


def store_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, files in os.walk(path) for f in files)


class Workload:
    """Shared plumbing: setup timing, the measured loop and per-op records.

    A subclass implements ``setup()``, ``run_op(i, traced)`` (the timed call,
    returning (items, output, record)) and ``check(i, output)``.
    """

    pass_len = 1  # the measured window ends on a multiple of this many ops
    min_passes = 2  # whole passes the measured window holds at least
    warm_ops = 1  # cold operations run (and checked) as part of set-up

    def __init__(self, bench) -> None:
        self.b = bench
        self.layers: dict[str, float] = {}
        self.op_walls: list[float] = []          # untraced ops, seconds
        self.op_ids: list[int] = []              # their operation numbers
        self.traced_walls: list[float] = []
        self.records: list[dict] = []            # traced ops
        self.items = 0
        self.busy_s = 0.0
        self.attempted = 0
        self.failed = 0
        self.bytes_per_doc: list[float] = []
        self.notes: dict[str, int] = {}  # printed with the results

    @property
    def spark(self):
        return self.b.spark

    def _one(self, i: int, traced: bool, measured: bool) -> None:
        """One timed operation, then its check (untimed)."""
        b = self.b
        self.attempted += 1
        if traced:
            b.read_prune_stats()  # drop counters left by untraced ops
        t0 = time.perf_counter()
        try:
            items, output, rec = self.run_op(i, traced)
            wall = time.perf_counter() - t0
            ok = self.check(i, output)
        except Exception:  # noqa: BLE001 - any failure counts against the run
            b.log(f"op {i} failed:\n{traceback.format_exc()}")
            ok, items, rec, wall = False, 0, None, time.perf_counter() - t0
        b.rss.sample()
        if measured and not traced:
            self.busy_s += wall  # a failed op's time counts, its items do not
        if not ok:
            self.failed += 1
        elif measured and traced:
            rec["wall_ms"] = 1000.0 * wall
            self.records.append(rec)
            self.traced_walls.append(wall)
        elif measured:
            self.items += items
            self.op_walls.append(wall)
            self.op_ids.append(i)

    def measure(self, seconds: float, trace: bool) -> None:
        """Run ops until ``seconds`` have passed, in ``min_passes`` whole
        passes at least, so that the amount of work measured does not depend
        on the host's speed. A traced run alternates traced and untraced ops,
        which gives the in-run tracing overhead. It runs two passes at least,
        so that with an odd pass length every op of a pass is traced once and
        untraced once."""
        deadline = time.perf_counter() + seconds
        need = max(self.min_passes, 2) if trace else self.min_passes
        i = 0
        while True:
            self._one(self.warm_ops + i, trace and i % 2 == 0, True)
            i += 1
            if i % self.pass_len:
                continue
            passes = i // self.pass_len
            if time.perf_counter() >= deadline and passes >= need:
                break

    def warm(self) -> None:
        for i in range(self.warm_ops):
            self._one(i, False, False)

    def prepare_checks(self) -> None:
        """Compute expected outputs; runs outside every timed window."""

    # ------------------------------------------------------------ reporting
    def end_to_end(self) -> dict[str, float]:
        return {
            "op_p50_ms": 1000.0 * median(self.op_walls),
            "items_per_s": self.items / self.busy_s if self.busy_s else 0.0,
            "index_bytes_per_doc": median(self.bytes_per_doc),
        }

    def spark_layers(self) -> dict[str, float]:
        recs = self.records
        out = {f"spark.{k}": (median if k.endswith("_ms") else mean)(
            r["spark"][k] for r in recs) for k in SPARK_FIELDS}
        cores = self.b.cores
        out["spark.core_busy_ratio"] = median(
            r["spark"]["executor_run_ms"] / (r["wall_ms"] * cores) for r in recs)
        return out

    def overhead(self) -> float:
        if not (self.traced_walls and self.op_walls):
            return 0.0
        return median(self.traced_walls) / median(self.op_walls) - 1.0

    def add_index_space(self, idx) -> None:
        from elasticsearch_spark.index.builder import disk_usage, index_stats

        with self.b.span("index.disk_usage", -1):
            du = disk_usage(idx)
        with self.b.span("index.index_stats", -1):
            st = index_stats(idx)
        fields = du["fields"].values()
        self.layers["index.store_bytes"] = du["store_size_bytes"]
        for k in ("doc_ids_bytes", "tfs_bytes", "norms_bytes", "positions_bytes",
                  "blocks", "postings"):
            self.layers[f"index.{k}"] = sum(f[k] for f in fields)
        self.layers["index.distinct_terms"] = st["totals"]["distinct_terms"]

    @staticmethod
    def build_phases(metas: list[dict], build_ms: list[float]) -> dict[str, float]:
        """Build wall time, and build_index's own phase times from index_meta."""
        out = {"index.build_ms": median(build_ms)}
        for phase in ("tokenize_encode_write", "global_stats"):
            out[f"index.{phase}_ms"] = median(m["phase_ms"][phase] for m in metas)
        return out


# ---------------------------------------------------------------- msearch_code

class MsearchCode(Workload):
    # a batch's time varies by about 10% from one batch to the next
    min_passes = 8

    def make_inputs(self) -> None:
        in_subprocess("inputs", "code", self.b.seed_dir, self.b.seed, CODE_DOCS)

    def setup(self) -> None:
        from elasticsearch_spark.index.builder import build_index, index_meta, load_index

        b = self.b
        path, self.queries = inputs.code_inputs(b.seed_dir, b.seed, CODE_DOCS)
        corpus = self.spark.read.parquet(path).cache()
        n = corpus.count()
        if n != CODE_DOCS:
            raise RuntimeError(f"corpus has {n} rows, expected {CODE_DOCS}")
        t0 = time.perf_counter()
        with b.span("index.build_index", -1):
            idx = build_index(
                corpus, os.path.join(b.run_dir, "index"), fields={"content": "code"},
                num_partitions=self.spark.sparkContext.defaultParallelism,
                id_cols=ID_COLS, input_snapshot=f"perfbench-{b.seed}")
        self.layers.update(self.build_phases(
            [index_meta(idx.path)], [1000.0 * (time.perf_counter() - t0)]))
        self.bytes_per_doc.append(store_bytes(idx.path) / CODE_DOCS)
        self.idx = load_index(self.spark, idx.path)
        self.corpus = corpus  # unpersisted once the goldens exist

    def prepare_checks(self) -> None:
        # The goldens come from the program's own oracle and analyzer, so
        # they are computed again in every run, never cached across commits.
        b = self.b
        docs = os.path.join(b.run_dir, "docs.parquet")
        path = os.path.join(b.run_dir, "goldens.json")
        _write_docs_by_id(self.corpus, docs)
        in_subprocess("oracles", docs, os.path.join(b.seed_dir, f"queries_{CODE_DOCS}.json"), path)
        with open(path) as f:
            self.goldens = json.load(f)
        self.corpus.unpersist()
        if b.trace:
            self.add_index_space(self.idx)

    def run_op(self, i: int, traced: bool):
        from elasticsearch_spark.analysis import analyze
        from elasticsearch_spark.search.executor import match_topk_batch

        b = self.b
        rec: dict = {}
        t0 = time.perf_counter()
        with b.span("analysis.analyze", i, traced):
            term_lists = [[t for t, _ in analyze(q, "code")] for q in self.queries]
        rec["analysis_ms"] = 1000.0 * (time.perf_counter() - t0) / len(self.queries)
        with b.op_span("search.match_topk_batch", i, traced, rec, "plan"):
            df = match_topk_batch(self.idx, "content", term_lists, k=oracles.TOP_K)
        with b.op_span("search.collect", i, traced, rec, "exec"):
            rows = df.collect()
        if traced:
            rec["blocks"] = b.read_prune_stats()
        return len(self.queries), rows, rec

    def check(self, i: int, rows) -> bool:
        got: dict[int, list] = {}
        for r in rows:
            got.setdefault(r["query_id"], []).append((r["doc_id"], r["score"]))
        bad = [q for q, want in enumerate(self.goldens)
               if not oracles.topk_matches(got.get(q, []), want)]
        if bad:
            self.b.log(f"batch {i}: {len(bad)} queries differ from the oracle, "
                       f"first {self.queries[bad[0]]!r}")
        return not bad

    def end_to_end(self) -> dict[str, float]:
        self.b.log("ms per batch: " + json.dumps([round(1000.0 * w) for w in self.op_walls]))
        return super().end_to_end()

    def per_layer(self) -> dict[str, float]:
        recs = self.records
        out = self.spark_layers()
        out["analysis.query_ms"] = median(r["analysis_ms"] for r in recs)
        out["search.plan_ms"] = median(r["plan_ms"] for r in recs)
        out["search.plan_jobs"] = mean(r["plan_jobs"] for r in recs)
        out["search.execute_ms"] = median(r["exec_ms"] for r in recs)
        total = mean(r["blocks"]["blocks"] for r in recs)
        decoded = mean(r["blocks"]["decoded"] for r in recs)
        out["search.blocks_total"] = total
        out["search.blocks_decoded"] = decoded
        out["search.decoded_ratio"] = decoded / total if total else 0.0
        return out


def _write_docs_by_id(corpus, path: str) -> None:
    """(doc_id, content) Parquet, with doc_id the id the builder assigns from
    ``id_cols``: Spark's xxhash64 over the natural key."""
    from pyspark.sql import functions as F

    tbl = corpus.select(F.xxhash64(*ID_COLS).alias("doc_id"), "content").toArrow()
    if len(set(tbl["doc_id"].to_pylist())) != tbl.num_rows:
        raise RuntimeError("doc_id collision in the code corpus")
    pq.write_table(tbl, path)


# ---------------------------------------------------------------- contract_headline

class ContractHeadline(Workload):
    pass_len = len(HEADLINE)
    # Two passes run in set-up. The first pass after the doc-index build took
    # about twice as long as a steady one, the second about 17% longer and
    # the third about 5%, with nearly every query slower (JVM JIT, code
    # generation, Python workers); from the fourth pass on, pass times stayed
    # within 1% of each other.
    warm_ops = 2 * len(HEADLINE)
    # After the warm-up, a single pass read as steady across runs as the
    # median of two (host speed, not the pass, sets the spread), so the
    # time goes to the second warm-up pass instead.
    min_passes = 1

    def make_inputs(self) -> None:
        in_subprocess("inputs", "contract", self.b.seed_dir, self.b.seed, CONTRACT_SF)

    def setup(self) -> None:
        import __spark_entry__ as entry

        b = self.b
        tables = inputs.contract_inputs(b.seed_dir, b.seed, CONTRACT_SF)
        # A fresh directory per run: the contract caches its doc index under
        # a name derived from the table directory, and that cache must not
        # serve an index built by another commit.
        self.sf_dir = os.path.join(b.run_dir, "tables")
        os.makedirs(self.sf_dir)
        for name in os.listdir(tables):
            if name.endswith(".parquet"):
                _link_or_copy(os.path.join(tables, name), os.path.join(self.sf_dir, name))
        self.queries = entry.queries()
        t0 = time.perf_counter()
        with b.span("contract.doc_index", -1):
            idx = entry._doc_index(self.spark, self.sf_dir)
        build_ms = 1000.0 * (time.perf_counter() - t0)
        b.cleanup.append(idx.path)
        from elasticsearch_spark.index.builder import index_meta

        self.layers.update(self.build_phases([index_meta(idx.path)], [build_ms]))
        self.bytes_per_doc.append(store_bytes(idx.path) / inputs.contract_docs(CONTRACT_SF))
        self.idx = idx

    def prepare_checks(self) -> None:
        import __spark_entry__ as entry

        self.sql = entry.oracle_sql()
        self.expected = oracles.duckdb_results(
            self.sf_dir, {n: self.sql[n] for n in HEADLINE if n in self.sql})
        self.rows_only: dict[str, tuple] = {}
        self.notes["ties_at_cut_accepted"] = 0
        if self.b.trace:
            self.add_index_space(self.idx)

    def run_op(self, i: int, traced: bool):
        b = self.b
        name = HEADLINE[i % len(HEADLINE)]
        rec: dict = {"name": name}
        with b.op_span(f"contract.{name}", i, traced, rec, "plan"):
            df = self.queries[name](self.spark, self.sf_dir)
        if not traced:
            rows = df.collect()
        else:
            with b.op_span("contract.collect", i, traced, rec, "exec"), \
                    self._timed_row_build(i) as row_build_s:
                rows = df.collect()
            rec["row_build_ms"] = 1000.0 * sum(row_build_s)
            rec["blocks"] = b.read_prune_stats()
        return 1, (name, rows, df), rec

    @contextmanager
    def _timed_row_build(self, i: int):
        """Time ``arrow_collect.rows_from_arrow``, the module attribute that
        the program's ``collect()`` calls, while the block runs. Yields the
        list the call times (seconds) are appended to."""
        from elasticsearch_spark import arrow_collect

        real, times = arrow_collect.rows_from_arrow, []

        def timed(*args, **kwargs):
            t0 = time.perf_counter()
            try:
                with self.b.span("arrow_collect.rows_from_arrow", i):
                    return real(*args, **kwargs)
            finally:
                times.append(time.perf_counter() - t0)

        arrow_collect.rows_from_arrow = timed
        try:
            yield times
        finally:
            arrow_collect.rows_from_arrow = real

    def check(self, i: int, output) -> bool:
        name, rows, df = output
        frame = oracles.rows_frame(rows, df.schema.fieldNames())
        got = oracles.canon_hash(frame)
        if name not in self.expected:
            # no SQL twin (seeded hashing): rows-only, and stable across passes
            want = self.rows_only.setdefault(name, got)
            ok = got[0] > 0 and got == want
        else:
            want = oracles.canon_hash(self.expected[name])
            ok = got == want
            if not ok and self._ties_at_cut(name, frame):
                self.b.log(f"{name}: equal to the oracle except rows tied at the cut")
                self.notes["ties_at_cut_accepted"] += 1
                ok = True
        if not ok:
            self.b.log(f"{name}: rows/cols/hash {got} != expected {want}")
        return ok

    def _ties_at_cut(self, name: str, frame) -> bool:
        ranking = oracles.duckdb_results(
            self.sf_dir, {name: oracles.without_limits(self.sql[name])})[name]
        return oracles.ties_at_cut_equal(frame, self.expected[name], ranking)

    def end_to_end(self) -> dict[str, float]:
        # An operation here is a pass over the 13 queries, timed with each
        # query at its median over the passes. The median of 13 different
        # queries would jump between queries from run to run.
        out = super().end_to_end()
        by_name: dict[str, list[float]] = {}
        for i, wall in zip(self.op_ids, self.op_walls):
            by_name.setdefault(HEADLINE[i % len(HEADLINE)], []).append(wall)
        if not by_name:  # every op failed; the run reports correct = false
            return out
        self.b.log("ms per query and pass: " + json.dumps(
            {n: [round(1000.0 * w) for w in ws] for n, ws in by_name.items()}))
        pass_s = sum(median(w) for w in by_name.values())
        out["op_p50_ms"] = 1000.0 * pass_s
        out["items_per_s"] = len(by_name) / pass_s
        return out

    def per_layer(self) -> dict[str, float]:
        recs = self.records
        out = self.spark_layers()
        for name in HEADLINE:
            mine = [r for r in recs if r["name"] == name]
            out[f"contract.{name}.plan_ms"] = median(r["plan_ms"] for r in mine)
            out[f"contract.{name}.plan_jobs"] = mean(r["plan_jobs"] for r in mine)
            out[f"contract.{name}.execute_ms"] = median(r["exec_ms"] for r in mine)
        # the Arrow fetch: collect's wall time minus the Spark jobs it ran
        # and the row build
        out["collect.arrow_fetch_ms"] = median(
            max(r["exec_ms"] - r["spark_exec"]["job_ms"] - r["row_build_ms"], 0.0)
            for r in recs)
        out["collect.row_build_ms"] = median(r["row_build_ms"] for r in recs)
        total = sum(r["blocks"]["blocks"] for r in recs) / max(len(recs), 1)
        decoded = sum(r["blocks"]["decoded"] for r in recs) / max(len(recs), 1)
        out["search.blocks_total"] = total
        out["search.blocks_decoded"] = decoded
        out["search.decoded_ratio"] = decoded / total if total else 0.0
        return out


def _link_or_copy(src: str, dst: str) -> None:
    try:
        os.link(src, dst)
    except OSError:
        shutil.copy2(src, dst)


WORKLOADS = {
    "msearch_code": MsearchCode,
    "contract_headline": ContractHeadline,
}
