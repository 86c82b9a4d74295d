"""``corpus_curation``: passes over registered LLM-corpus ``QUERIES``,
each pass a seeded permutation of the items, with held caches cleared
at each pass start so held-index builds count as work.

Every op calls the query function and collects its result on the
driver; the result is then checked, outside the timed region, against
the item's DuckDB oracle from ``queries.ORACLES`` (row count, columns
and an order-insensitive value hash, as ``tools/verify_local.py``
compares them). Items without an oracle are checked against an
invariant their docstring promises (``_pca_check``).
"""

from __future__ import annotations

import importlib.util
import os
import random

from perfbench.harness import fixture_dir

# LLM-corpus items, one or more per north-star family: dedup
# (semantic_dedup_pca), similarity (cosine_topk_np, pq_full_rerank),
# multimodal (media_dedup) and text (bm25_topk, pii_redaction).
# semantic_dedup, dedup_clusters and quality_ensemble are left out to
# fit the run budget; semantic_dedup's oracle still anchors the
# semantic_dedup_pca check.
CORPUS = [
    "semantic_dedup_pca",
    "cosine_topk_np",
    "pq_full_rerank",
    "media_dedup",
    "bm25_topk",
    "pii_redaction",
]
# Each pass runs every item this many times: one call per item gives too
# few samples for a steady median at sub-second item times.
# semantic_dedup_pca (8-10 s, always a pass's slowest item) runs once, for
# run budget: a second call would not move the median.
REPEATS = 2
ONCE = {"semantic_dedup_pca"}

# held builders in queries.py, traced as the `cache` layer
SHARED_BUILDS = ["shared_jaccard_pairs", "shared_bpe_train", "shared_ann_index", "shared_pq_index"]
CLEARS = ["clear_pair_cache", "clear_bpe_cache", "clear_ann_index_cache", "clear_pq_index_cache"]


def _verify_local():
    """canon/value_hash from tools/verify_local.py, loaded by path."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    spec = importlib.util.spec_from_file_location(
        "verify_local", os.path.join(root, "tools", "verify_local.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


# semantic_dedup_pca's pair recall at sf0.01: 219 of the 271 exact pairs
# (0.808; deterministic, its k-means is seeded). tests/test_pca.py pins
# 0.81 at the larger fixture.
PCA_RECALL_FLOOR = 0.808
PCA_THRESHOLD = 0.35  # the cosine both semantic_dedup paths keep a pair at


def _components(oracle_pdf) -> dict[int, int]:
    """vec_id -> keep_id of the exact semantic-dedup clusters."""
    out = {}
    for keep, members in zip(oracle_pdf["keep_id"], oracle_pdf["members"]):
        for m in str(members).split(","):
            out[int(m)] = int(keep)
    return out


def _exact_pairs(embeddings_file: str) -> set[tuple[int, int]]:
    """(a, b), a < b, of every embedding pair with full-dimension cosine
    >= PCA_THRESHOLD: brute force, as tests/test_pca.py measures recall."""
    import numpy as np
    import pyarrow.parquet as pq

    t = pq.read_table(embeddings_file, columns=["vec_id", "embedding"]).to_pydict()
    x = np.array(t["embedding"], dtype=np.float64)
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    ids = np.array(t["vec_id"])
    iu, ju = np.triu_indices(len(ids), k=1)
    hit = (x @ x.T)[iu, ju] >= PCA_THRESHOLD
    return {(min(a, b), max(a, b)) for a, b in zip(ids[iu[hit]].tolist(), ids[ju[hit]].tolist())}


def _pca_check(pdf, want) -> bool:
    """semantic_dedup_pca's docstring promises exact precision and recall
    limited only by the k-means partition.

    Precision: every pair it keeps has full-dimension cosine >= 0.35, so
    its clusters are connected components of a subgraph of the exact
    pair graph. Each returned cluster must therefore lie inside one
    cluster of the semantic_dedup oracle, with keep_id its smallest
    member and n_members its size.

    Recall: of the exact pairs, the share that are co-members of one
    returned cluster must reach PCA_RECALL_FLOOR, so a result with fewer
    or smaller clusters fails."""
    exact, pairs = want
    got = set()
    for keep, n, members in zip(pdf["keep_id"], pdf["n_members"], pdf["members"]):
        ids = sorted(int(m) for m in str(members).split(","))
        if len(ids) != n or ids[0] != keep:
            return False
        if len({exact.get(i) for i in ids}) != 1 or exact.get(ids[0]) is None:
            return False
        got.update((a, b) for i, a in enumerate(ids) for b in ids[i + 1 :])
    return len(pairs & got) >= PCA_RECALL_FLOOR * len(pairs)


class CorpusCuration:
    sf = "sf0.01"
    session_sf = sf  # the session warm-up reads this fixture
    tables = ["documents", "embeddings"]

    def __init__(self, seed: int, dirs, tracer, trace: bool) -> None:
        from data_pipeline_bigquery_to_sftp_server_spark import queries

        self.q = queries
        self.seed = seed
        self.dirs = dirs
        self.tr = tracer
        self.trace = trace
        self.sf_dir = fixture_dir(self.sf)
        self.expected: dict[str, object] = {}
        self.passes = 0
        self.sizes = {"sf": self.sf, "items": len(CORPUS), "repeats": REPEATS,
                      "once": sorted(ONCE), "tables": {}}
        if trace:
            self._trace_cache_layer()

    def _trace_cache_layer(self) -> None:
        """Wrap the held-state entry points so their calls record `cache`
        spans. Queries look these names up at call time, so rebinding
        the module attributes reaches every caller."""
        from data_pipeline_bigquery_to_sftp_server_spark import cache

        def traced(fn):
            def wrapper(*a, **k):
                with self.tr.span("cache"):
                    return fn(*a, **k)

            return wrapper

        for name in SHARED_BUILDS:
            setattr(self.q, name, traced(getattr(self.q, name)))
        cache.persist_tracked = traced(cache.persist_tracked)

    # ------------------------------------------------------------ set-up

    def load(self, spark) -> None:
        from data_pipeline_bigquery_to_sftp_server_spark.catalog import load_table

        for t in self.tables:
            load_table(spark, self.sf_dir, t)

    def setup(self, spark, i: int) -> None:
        """Nothing beyond the catalog: queries build what they need."""

    def release(self, spark) -> None:
        self.clear_held()

    def clear_held(self) -> None:
        from data_pipeline_bigquery_to_sftp_server_spark import cache

        cache.clear_operator_caches()
        for name in CLEARS:
            getattr(self.q, name)()

    def prepare(self, spark) -> None:
        """Oracle results, computed once per run with DuckDB, and table
        sizes for the payload."""
        import duckdb
        import pyarrow.parquet as pq

        from data_pipeline_bigquery_to_sftp_server_spark.catalog import TABLES

        vl = _verify_local()
        self.canon_hash = vl.value_hash
        con = duckdb.connect()
        for t in TABLES:
            f = os.path.join(self.sf_dir, f"{t}.parquet")
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{f}')")
        for t in self.tables:
            f = os.path.join(self.sf_dir, f"{t}.parquet")
            self.sizes["tables"][t] = pq.ParquetFile(f).metadata.num_rows
        for name in CORPUS:
            if name in self.q.ORACLES:
                pdf = con.sql(self.q.ORACLES[name]).df()
                self.expected[name] = (len(pdf), sorted(pdf.columns), vl.value_hash(pdf))
        # semantic_dedup_pca has no oracle: _pca_check reads the
        # semantic_dedup oracle's clusters and the exact pair set
        exact = _components(con.sql(self.q.ORACLES["semantic_dedup"]).df())
        pairs = _exact_pairs(os.path.join(self.sf_dir, "embeddings.parquet"))
        self.expected["semantic_dedup_pca"] = (exact, pairs)
        con.close()

    def warm(self, spark) -> None:
        """One untimed call of each item before timing, so per-process
        costs (plan compilation, JIT, first use of an operator in each
        Python worker) are not charged to whichever item a permutation
        puts first. semantic_dedup_pca is left out for run budget: it
        takes 8-10 s, and as every pass's slowest item its first-call
        cost never moves the median."""
        for name in CORPUS:
            if name != "semantic_dedup_pca":
                self.q.QUERIES[name](spark, self.sf_dir).toPandas()

    # -------------------------------------------------------------- loop

    def check(self, name: str, pdf) -> bool:
        want = self.expected[name]
        if name == "semantic_dedup_pca":
            return _pca_check(pdf, want)
        n, cols, h = want
        return len(pdf) == n and sorted(pdf.columns) == cols and self.canon_hash(pdf) == h

    def run(self, spark, rec, seconds: float) -> float:
        from perfbench.harness import held_bytes, run_passes

        def one_pass():
            self.passes += 1
            order = [n for n in CORPUS for _ in range(1 if n in ONCE else REPEATS)]
            random.Random(f"{self.seed}:{self.passes}").shuffle(order)
            with self.tr.span("cache"):
                self.clear_held()
            for name in order:
                try:
                    with rec.op("query", name) as o:
                        with self.tr.span("queries"):
                            df = self.q.QUERIES[name](spark, self.sf_dir)
                        with self.tr.span("spark"):
                            pdf = df.toPandas()
                except Exception as e:  # an item that raises is a failed op; the pass goes on
                    o["detail"] = repr(e)[:500]
                    continue
                o["ok"] = self.check(name, pdf)
                if self.trace:
                    o["counters"]["cache.held_bytes"] = held_bytes(spark)

        return run_passes(seconds, one_pass)

    def finish(self, spark, rec) -> None:
        """Every result was checked as it came back."""

    def e2e(self, rec, loop_s: float) -> dict[str, tuple[float, str]]:
        return {"passes": (self.passes, "count")}

    def read_ops(self, rec) -> list[dict]:
        return rec.of("query")
