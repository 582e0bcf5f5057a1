"""``corpus_dedup``: the LLM-data dedup pass over a generated corpus.

Batch pass: ``quality_score`` -> ``dedup_exact_normalized`` ->
``dedup_canonical`` (MinHash-LSH -> ``connected_components`` -> quality
pick) -> ``kmeans_clusters`` (semantic leg) -> the ``char_ngram_jaccard``
registry function over the generated fixture dir.  Incremental pass:
``near_dup_index_stage`` + ``streaming_near_dup_drain_staged`` for the
arriving crawl slice.  Every stage's output is consumed inside the
timed region.
"""

from __future__ import annotations

import os
import shutil
import time

import pyarrow as pa
import pyarrow.parquet as pq

from perfbench import gen, stats
from perfbench.common import Ctx

N_BASE = 900
N_EXACT = 75
N_NEAR = 75
N_BOILER = 150
#: LSH bucket cap: the boilerplate templates overflow it, which sends
#: their buckets down the salted sub-join path
MAX_BUCKET = 40
THRESHOLD = 0.6
KMEANS_K = 8
KMEANS_ITERS = 3
#: planted near-dups sit near Jaccard 0.8; 4 bands x 3 rows find such a
#: pair with probability ~0.93, so recall below this is a defect
MIN_NEAR_RECALL = 0.8
#: micro-batches the arriving crawl slice drains in
CRAWL_SLICES = 2


def write_fixture(c: gen.Corpus, root: str) -> None:
    """The corpus as fixture-shaped ``documents`` / ``embeddings`` files."""
    os.makedirs(root, exist_ok=True)
    pq.write_table(
        pa.Table.from_pandas(c.docs, preserve_index=False),
        os.path.join(root, "documents.parquet"),
    )
    pq.write_table(
        pa.Table.from_pandas(c.embeddings, preserve_index=False),
        os.path.join(root, "embeddings.parquet"),
    )


def batch_pass(ctx: Ctx, fixture: str) -> dict:
    """Returns each stage's materialized result."""
    from datalakehouse_spark.io import load_table
    from datalakehouse_spark.operators import dedup as D
    from datalakehouse_spark.operators.similarity import kmeans_clusters
    from datalakehouse_spark.operators.textstats import quality_score
    from datalakehouse_spark.registry import REGISTRY, _load_extensions

    _load_extensions()
    tr, spark = ctx.tracer, ctx.spark
    docs = load_table(spark, fixture, "documents")
    emb = load_table(spark, fixture, "embeddings")
    out = {}
    with tr.span("textstats.quality_score"):
        q = quality_score(docs).agg({"quality_score": "sum"}).collect()
        out["quality_sum"] = q[0][0]
    with tr.span("dedup.exact_normalized"):
        out["exact_kept"] = [
            r[0] for r in D.dedup_exact_normalized(docs).select("doc_id").collect()
        ]
    with tr.span("dedup.canonical"):
        out["canonical"] = [tuple(r) for r in D.dedup_canonical(
            docs, threshold=THRESHOLD, max_bucket_size=MAX_BUCKET
        ).select("cluster", "keep_id", "n_docs").collect()]
    with tr.span("similarity.kmeans"):
        assign, _centroids = kmeans_clusters(emb, k=KMEANS_K, iters=KMEANS_ITERS)
        out["kmeans"] = sorted(
            (r[0], r[1]) for r in assign.groupBy("cluster").count().collect()
        )
    with tr.span("registry.char_ngram_jaccard"):
        out["char_ngram"] = [
            tuple(r) for r in REGISTRY["char_ngram_jaccard"].fn(spark, fixture).collect()
        ]
    return out


def incremental_pass(
    ctx: Ctx, fixture: str, n_hist: int, root: str, n_slices: int = CRAWL_SLICES
) -> list:
    from pyspark.sql import functions as F

    from datalakehouse_spark.io import load_table
    from datalakehouse_spark.operators import dedup as D

    tr = ctx.tracer
    if os.path.isdir(root):
        shutil.rmtree(root)
    docs = load_table(ctx.spark, fixture, "documents")
    pred = F.col("doc_id") >= F.lit(n_hist)
    with tr.span("dedup.index_stage"):
        hist, src = D.near_dup_index_stage(ctx.spark, docs, root, pred, n_slices=n_slices)
    with tr.span("dedup.drain"):
        res = D.streaming_near_dup_drain_staged(ctx.spark, hist, src, root + "/drain")
        return [tuple(r) for r in res.collect()]


def inc_root(ctx: Ctx) -> str:
    """Where the timed incremental pass stages and drains."""
    return ctx.path("corpus_dedup", "inc")


class CorpusDedup:
    def __init__(self, ctx: Ctx) -> None:
        self.ctx = ctx

    def generate(self) -> None:
        ctx = self.ctx
        self.corpus = gen.corpus(ctx.seed, N_BASE, N_EXACT, N_NEAR, N_BOILER)
        self.fixture = ctx.path("corpus_dedup", "fixture")
        if os.path.isdir(self.fixture):
            shutil.rmtree(self.fixture)
        write_fixture(self.corpus, self.fixture)

    def warmup(self) -> None:
        """One batch and one incremental pass over the corpus, run side by
        side (they share no tables).  A smaller corpus leaves the JIT
        still compiling the paths the timed passes take at full size."""
        from concurrent.futures import ThreadPoolExecutor

        from datalakehouse_spark.registry import _load_extensions

        _load_extensions()
        ctx = self.ctx
        with ThreadPoolExecutor(max_workers=2) as pool:
            futs = [
                pool.submit(batch_pass, ctx, self.fixture),
                pool.submit(
                    incremental_pass, ctx, self.fixture, self.corpus.n_hist,
                    ctx.path("corpus_dedup", "warm_inc"),
                ),
            ]
            for f in futs:
                f.result()

    def timed(self, seconds: float) -> dict:
        """Alternates batch and incremental passes while another pair
        fits in ``seconds`` (at least one pair)."""
        ctx = self.ctx
        batch_s, inc_s = [], []
        t_start = time.perf_counter()
        while not batch_s or (
            time.perf_counter() - t_start + batch_s[-1] + inc_s[-1] <= seconds
        ):
            a = time.perf_counter()
            self.batch = batch_pass(ctx, self.fixture)
            b = time.perf_counter()
            self.inc = incremental_pass(
                ctx, self.fixture, self.corpus.n_hist, inc_root(ctx)
            )
            c = time.perf_counter()
            batch_s.append(b - a)
            inc_s.append(c - b)
        ctx.attempted += 2 * len(batch_s)
        t_end = time.perf_counter()
        return {
            "window": (t_start, t_end),
            "wall_s": t_end - t_start,
            "batch_s": batch_s,
            "inc_s": inc_s,
        }

    def end_to_end(self, res: dict) -> dict:
        return {
            "latency_ms": 1000.0 * stats.median(res["batch_s"]),
            "freshness_p50_s": stats.median(res["inc_s"]),
        }

    def report_lines(self, res: dict) -> list[str]:
        c = self.corpus
        return [
            f"input: {len(c.docs)} docs ({len(c.exact_pairs)} exact dups, {len(c.near_pairs)} "
            f"near dups, {len(c.boilerplate_ids)} boilerplate), arriving slice "
            f"{len(c.docs) - c.n_hist}",
            stats.fmt_summary("dedup_s", "s", res["batch_s"]),
            stats.fmt_summary("crawl_ingest_s", "s", res["inc_s"]),
            f"near_dup_recall = {self.near_recall:.4f} ratio",
        ]

    def trace_targets(self) -> list:
        from datalakehouse_spark.operators import dedup as D

        return [
            (D, "near_dup_pairs", "dedup.near_dup_pairs"),
            (D, "connected_components", "dedup.connected_components"),
        ]

    def trace_extras(self, res: dict) -> None:
        """Candidate and verified pair counts, counted after the traced
        pass so the counting jobs stay out of its timings."""
        from datalakehouse_spark.io import load_table
        from datalakehouse_spark.operators import dedup as D

        docs = load_table(self.ctx.spark, self.fixture, "documents")
        self.candidates = D.lsh_candidate_pairs(docs, max_bucket_size=MAX_BUCKET).count()
        self.verified = D.near_dup_pairs(
            docs, threshold=THRESHOLD, max_bucket_size=MAX_BUCKET
        ).count()

    def layer_extras(self, res: dict) -> dict:
        n = int((self.corpus.docs["doc_id"] % 25 == 0).sum())
        # the drain reads one staged file per trigger; its file source has
        # no row offsets, and numInputRows counts each scan of the batch
        src = os.path.join(inc_root(self.ctx), "src")
        staged = [
            pq.ParquetFile(os.path.join(src, f)).metadata.num_rows
            for f in os.listdir(src)
            if f.endswith(".parquet")
        ]
        return {
            "streaming.rows_per_trigger": stats.median(staged),
            "dedup.candidate_pairs": float(self.candidates),
            "dedup.verify_yield": self.verified / max(self.candidates, 1),
            "registry.char_ngram_yield": len(self.batch["char_ngram"]) / max(n * (n - 1) / 2, 1),
        }

    def check(self) -> None:
        from datalakehouse_spark.oracle_check import _norm_rows, duckdb_connection
        from datalakehouse_spark.registry import REGISTRY

        ctx, c, b = self.ctx, self.corpus, self.batch
        kept = set(b["exact_kept"])
        groups: dict[int, set[int]] = {}
        for keep, copy in c.exact_pairs:
            groups.setdefault(keep, {keep}).add(copy)
        bad = [g for g in groups.values() if len(g & kept) != 1]
        ctx.check("dedup.exact_removed", not bad, f"{len(bad)} planted groups kept != 1 doc")

        keep_ids = {k for _cl, k, _n in b["canonical"]}
        found = sum(1 for a, v, _j in c.near_pairs if not (a in keep_ids and v in keep_ids))
        recall = found / max(len(c.near_pairs), 1)
        ctx.check("dedup.near_recall", recall >= MIN_NEAR_RECALL, f"recall={recall:.3f}")
        self.near_recall = recall

        con = duckdb_connection(self.fixture)
        cur = con.execute(REGISTRY["char_ngram_jaccard"].sql)
        cols = [d[0] for d in cur.description]
        want = _norm_rows(cols, cur.fetchall())
        con.close()
        got = _norm_rows(["id_a", "id_b", "jaccard"], b["char_ngram"])
        ctx.check("dedup.char_ngram_vs_oracle", got == want, f"spark={len(got)} oracle={len(want)}")

        expect = self.one_shot_accounting()
        ctx.check("dedup.drain_vs_one_shot", expect == self.inc, f"{expect} != {self.inc}")

    def one_shot_accounting(self) -> list[tuple]:
        """The drain's per-source totals computed in one pass over the
        corpus's LSH buckets: an arriving doc is a corpus dup if any of
        its buckets is a historical doc's, else a batch dup if any is an
        earlier-arriving (smaller id) doc's."""
        from datalakehouse_spark.io import load_table
        from datalakehouse_spark.operators import dedup as D

        c = self.corpus
        docs = load_table(self.ctx.spark, self.fixture, "documents")
        rows = D.lsh_band_buckets(D.minhash_signatures_df(docs)).collect()
        buckets: dict[int, set] = {}
        for r in rows:
            buckets.setdefault(r["doc_id"], set()).add((r["band"], r["key"]))
        hist = set()
        for i in range(c.n_hist):
            hist |= buckets.get(i, set())
        seen: set = set()
        acc: dict[str, list[int]] = {}
        for i in range(c.n_hist, len(c.docs)):
            b = buckets.get(i, set())
            a = acc.setdefault(c.docs["source"].iat[i], [0, 0, 0, 0])
            a[0] += 1
            if b & hist:
                a[1] += 1
            elif b & seen:
                a[2] += 1
            else:
                a[3] += 1
            seen |= b
        return [(s, *v) for s, v in sorted(acc.items())]
