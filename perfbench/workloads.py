"""The three workloads: input, one timed pass, and the correctness checks.

Each workload runs its pass first untimed on a quarter-size replica of
its input (same generator, same seed), checked exactly against
``dxa_pagerank_spark.oracle`` -- the warm-up, paid in ``setup_s`` -- then
timed on the full-size input, each pass followed by cheap full-size
checks.

Every library call goes through ``Run.call``: it is counted, timed into
the pass record and, in traced passes, wrapped in a span.
"""

from __future__ import annotations

import os
import statistics
import tempfile

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

import inputs
from dxa_pagerank_spark import oracle
from dxa_pagerank_spark.operators.components import connected_components
from dxa_pagerank_spark.operators.labelprop import label_propagation
from dxa_pagerank_spark.operators.pagerank import pagerank
from dxa_pagerank_spark.operators.pagerank_csr import pagerank_csr
from dxa_pagerank_spark.operators.triangles import triangle_count
from dxa_pagerank_spark.plans.checkpoint import CheckpointManager
from dxa_pagerank_spark.plans.tableio import make_tableio
from dxa_pagerank_spark.sources.pages import enrich_pages, pages_to_edges

RANK_RTOL = 1e-6  # "allclose 1e-6", relative: ranks are ~1/N << 1e-6
RANK_ATOL = 1e-12
DAMPING = 0.85  # the operators' default
PAGE_COLUMNS = ("url", "warc_ts", "html", "text", "lang")


def sum_bound(res) -> float:
    """How far from 1 the ranks of a fixed-round (unconverged) run may
    sum: the distance to the fixpoint, which sums to 1, is at most
    d/(1-d) times the last L1 step (the convergence certificate)."""
    return DAMPING / (1.0 - DAMPING) * res.errors[-1]


def cached(df: DataFrame) -> DataFrame:
    """Materialize a lazy result inside the caller's timed call."""
    df = df.persist(StorageLevel.MEMORY_AND_DISK)
    df.count()
    return df


def materialized(res):
    """PageRankResult with its ranks cached (the user-visible output)."""
    res.ranks = cached(res.ranks)
    return res


def rank_vector(res, n: int) -> np.ndarray:
    pdf = res.ranks.toPandas()
    v = np.full(n, np.nan)
    v[pdf["id"].to_numpy(np.int64)] = pdf["rank"].to_numpy()
    return v


def rounds_ms(pr_results) -> list[int]:
    """Per-round times of df PageRank calls (all steady: the warm-up has
    already run every plan shape once)."""
    return [ms for r in pr_results for ms in r.round_ms]


def simple_undirected(src: np.ndarray, dst: np.ndarray):
    """The undirected simple graph the community operators work on."""
    keep = src != dst
    a, b = np.minimum(src[keep], dst[keep]), np.maximum(src[keep], dst[keep])
    pairs = np.unique(np.stack([a, b], axis=1), axis=0)
    return pairs[:, 0], pairs[:, 1]


class TimedCheckpoints:
    """Delegates to a CheckpointManager; each save/latest is a call."""

    def __init__(self, inner: CheckpointManager, run, rec) -> None:
        self._inner, self._run, self._rec = inner, run, rec

    def save(self, ranks, **kw) -> None:
        self._run.call(
            self._rec, "plans.checkpoint.save",
            lambda: self._inner.save(ranks, **kw), layer="plans.checkpoint",
        )

    def latest(self, spark):
        return self._run.call(
            self._rec, "plans.checkpoint.latest",
            lambda: self._inner.latest(spark), layer="plans.checkpoint",
        )


class Workload:
    name = ""
    why = ""

    def make_input(self, run, full: bool):
        raise NotImplementedError

    def run_pass(self, run, inp, rec) -> None:
        raise NotImplementedError

    def check(self, run, inp, rec, full: bool) -> tuple:
        """Check one pass's outputs; return what must repeat across passes."""
        raise NotImplementedError

    def throughput(self, inp, recs) -> dict[str, float]:
        """Rates from the untraced timed passes: edges and vertices (the
        pages of a web graph) per median df PageRank round."""
        round_s = statistics.median(rounds_ms([res for rec in recs for res in rec["pr"]])) / 1e3
        return {
            "superstep_edges_per_s": recs[0]["pr"][0].num_edges / round_s,
            "pages_per_s": recs[0]["pr"][0].num_vertices / round_s,
        }

    @staticmethod
    def release(rec) -> None:
        """Drop a pass's cached outputs. Needed before the next pass too:
        Spark would otherwise serve an identical plan from this cache."""
        for df in rec.pop("cached", []):
            df.unpersist()

    # shared checks ---------------------------------------------------

    @staticmethod
    def check_ranks(run, label, res, n, src, dst, rounds, ref=None) -> None:
        got = rank_vector(res, n)
        want = oracle.pagerank_oracle(n, src, dst, threshold=0.0, max_rounds=rounds).ranks
        run.check(f"{label}: rounds == {rounds}", res.rounds == rounds, res.rounds)
        run.check(
            f"{label}: ranks allclose oracle",
            bool(np.allclose(got, want, rtol=RANK_RTOL, atol=RANK_ATOL)),
            float(np.nanmax(np.abs(got - want))),
        )
        run.check(f"{label}: ranks sum to 1", abs(float(got.sum()) - 1.0) <= sum_bound(res), float(got.sum()))
        if ref is not None:
            run.check(
                f"{label}: ranks allclose {ref[0]}",
                bool(np.allclose(got, ref[1], rtol=RANK_RTOL, atol=RANK_ATOL)),
                float(np.nanmax(np.abs(got - ref[1]))),
            )


# ---------------------------------------------------------------------

class PagerankUniform(Workload):
    """df PageRank with durable checkpoints, a resumed call, and the CSR
    kernel, on the reference generator's law (no hubs)."""

    name = "pagerank-uniform"
    why = "shuffle-join superstep and checkpoint save/resume on a hub-free graph; skew code stays idle"
    n_full, n_replica = 20_000, 5_000
    # first call: rounds 1-3, checkpoint at 3; resumed call: rounds 4-5
    first_rounds, rounds, ckpt_interval = 3, 5, 3

    def make_input(self, run, full):
        n = self.n_full if full else self.n_replica
        edges, src, dst, stats = inputs.uniform_graph(run.spark, n, run.seed, run.cores)
        return {"n": n, "edges": edges, "src": src, "dst": dst, "stats": stats}

    def run_pass(self, run, inp, rec):
        spark, n, edges = run.spark, inp["n"], inp["edges"]
        cm = TimedCheckpoints(CheckpointManager(run.ws.ckpt), run, rec)  # fresh run id
        common = dict(num_vertices=n, threshold=0.0, checkpoint_manager=cm,
                      checkpoint_interval=self.ckpt_interval)
        first = run.call(rec, "operators.pagerank", lambda: materialized(
            pagerank(spark, edges, max_rounds=self.first_rounds, **common)))
        resumed = run.call(rec, "operators.pagerank", lambda: materialized(
            pagerank(spark, edges, max_rounds=self.rounds, resume=True, **common)))
        # broadcast exchange: the shm exchange keeps its rank vectors in
        # /dev/shm, outside the run's private directories
        csr = run.call(rec, "operators.pagerank_csr", lambda: pagerank_csr(
            spark, edges, n, threshold=0.0, max_rounds=self.rounds, exchange="broadcast"))
        rec["pr"] += [first, resumed]
        rec["csr"].append(csr)
        rec["cached"] += [first.ranks, resumed.ranks]

    def check(self, run, inp, rec, full):
        n, src, dst = inp["n"], inp["src"], inp["dst"]
        tag = "full" if full else "replica"
        first, resumed = rec["pr"]
        csr = rec["csr"][0]
        run.check(f"{tag}: edges == generator", resumed.num_edges == len(src) == csr.num_edges,
                  (resumed.num_edges, len(src), csr.num_edges))
        run.check(f"{tag}: checkpoint saves", len(rec["plans.checkpoint.save"]) == 1,
                  len(rec["plans.checkpoint.save"]))
        run.check(f"{tag}: resumed at the last checkpoint",
                  resumed.errors[: self.first_rounds] == first.errors, None)
        csr_v = rank_vector(csr, n)
        self.check_ranks(run, f"{tag} df", resumed, n, src, dst, self.rounds, ("csr", csr_v))
        self.check_ranks(run, f"{tag} csr", csr, n, src, dst, self.rounds)
        return tuple(resumed.errors)


# ---------------------------------------------------------------------

class RmatSkew(Workload):
    """Components, label propagation, triangles and a hub-salted df
    PageRank on a power-law R-MAT graph."""

    name = "rmat-skew"
    why = "power-law hubs: components, label propagation and triangles run only here, plus the salted df superstep on skewed input"
    scale_full, scale_replica = 13, 11
    lpa_rounds, pr_rounds = 2, 4
    hub_salt = 4
    # hubs: out-degree >= 16x the mean (RMAT_EDGE_FACTOR); present at both scales
    hub_threshold = 16 * inputs.RMAT_EDGE_FACTOR

    def make_input(self, run, full):
        scale = self.scale_full if full else self.scale_replica
        edges, src, dst, stats = inputs.rmat_graph(run.spark, scale, run.seed, run.cores)
        hubs = int((np.bincount(src) >= self.hub_threshold).sum())
        inputs.require(hubs > 0, "no hub reaches the salting threshold", stats)
        stats["hubs"] = hubs
        return {"n": 1 << scale, "edges": edges, "src": src, "dst": dst, "stats": stats}

    def run_pass(self, run, inp, rec):
        spark, n, edges = run.spark, inp["n"], inp["edges"]
        st: dict = {}
        comps = run.call(rec, "operators.components", lambda: cached(
            connected_components(spark, edges, num_vertices=n, stats=st)))
        labels = run.call(rec, "operators.labelprop", lambda: cached(
            label_propagation(spark, edges, num_vertices=n, max_rounds=self.lpa_rounds)))
        tri = run.call(rec, "operators.triangles",
                       lambda: triangle_count(spark, edges))
        pr = run.call(rec, "operators.pagerank", lambda: materialized(
            pagerank(spark, edges, num_vertices=n, threshold=0.0, max_rounds=self.pr_rounds,
                     hub_salt=self.hub_salt, hub_threshold=self.hub_threshold)))
        rec["components_rounds"].append(st.get("rounds", 0))
        rec["triangles"].append(tri)
        rec["comps"].append(comps)
        rec["labels"].append(labels)
        rec["pr"].append(pr)
        rec["cached"] += [comps, labels, pr.ranks]

    @staticmethod
    def _vector(df, n, col):
        pdf = df.toPandas()
        v = np.full(n, -1, dtype=np.int64)
        v[pdf["id"].to_numpy(np.int64)] = pdf[col].to_numpy(np.int64)
        return v

    def check(self, run, inp, rec, full):
        n, src, dst = inp["n"], inp["src"], inp["dst"]
        tag = "full" if full else "replica"
        if "want_cc" not in inp:
            inp["want_cc"] = oracle.connected_components_oracle(n, src, dst)
        pr = rec["pr"][0]
        run.check(f"{tag}: edges == edge factor * 2^scale",
                  pr.num_edges == len(src) == inputs.RMAT_EDGE_FACTOR * n, pr.num_edges)
        run.check(f"{tag}: components == oracle",
                  bool(np.array_equal(self._vector(rec["comps"][0], n, "component"), inp["want_cc"])),
                  None)
        self.check_ranks(run, f"{tag} salted df", pr, n, src, dst, self.pr_rounds)
        labels = self._vector(rec["labels"][0], n, "label")
        if not full:
            a, b = simple_undirected(src, dst)
            want_lp = oracle.label_propagation_oracle(n, a, b, max_rounds=self.lpa_rounds)
            run.check(f"{tag}: labels == oracle", bool(np.array_equal(labels, want_lp)), None)
            want_tri = oracle.triangle_count_oracle(n, src, dst)
            run.check(f"{tag}: triangles == oracle", rec["triangles"][0] == want_tri,
                      (rec["triangles"][0], want_tri))
        return (rec["triangles"][0], rec["components_rounds"][0], labels.tobytes())


# ---------------------------------------------------------------------

class CrawlIngest(Workload):
    """HTML -> text and links through the Python/Arrow UDFs, table
    writes, then a short df PageRank over the written link table."""

    name = "crawl-ingest"
    why = "HTML parsing in Python/Arrow UDFs and Parquet table writes; its df supersteps run on 64-bit hashed ids"
    pages_full, pages_replica = 3_000, 750
    pr_rounds = 4

    def make_input(self, run, full):
        n = self.pages_full if full else self.pages_replica
        pages, stats = inputs.crawl_input(run.spark, n, run.seed, run.cores)
        return {"n": n, "pages": pages, "stats": stats}

    def run_pass(self, run, inp, rec):
        spark = run.spark
        pages = inp["pages"].select(*PAGE_COLUMNS)

        def source(name, fn):
            return run.call(rec, f"sources.pages.{name}", fn, layer="sources.pages")

        def table(name, fn):
            return run.call(rec, f"plans.tableio.{name}", fn, layer="plans.tableio")

        text = source("enrich_pages", lambda: cached(enrich_pages(pages).select("url", "text")))
        edges = source("pages_to_edges", lambda: cached(pages_to_edges(pages)))
        rec["edges_out"].append(edges.count())
        root = tempfile.mkdtemp(dir=run.ws.tables)
        io = make_tableio(spark, root)
        table("write", lambda: io.append(edges, "edges"))
        table("write", lambda: io.append(text, "page_text"))
        rec["bytes_written"].append(sum(
            os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(root) for f in fs))
        stored = table("read", lambda: io.read(spark, "edges"))
        rec["edges_read"].append(table("read", stored.count))
        rec["text_read"].append(table("read", lambda: io.read(spark, "page_text").count()))
        pr = run.call(rec, "operators.pagerank", lambda: materialized(
            pagerank(spark, stored, threshold=0.0, max_rounds=self.pr_rounds)))
        rec["pr"].append(pr)
        rec["text"].append(text)
        rec["edges"].append(edges)
        rec["cached"] += [text, edges, pr.ranks]

    def check(self, run, inp, rec, full):
        tag = "full" if full else "replica"
        pages, want = inp["pages"], inp["stats"]["expected_edges"]
        closed_text = pages.select("url", F.col("expected_text").alias("text"))
        edges, text, pr = rec["edges"][0], rec["text"][0], rec["pr"][0]
        run.check(f"{tag}: edges == closed form", rec["edges_out"][0] == want, (rec["edges_out"][0], want))
        run.check(f"{tag}: edge table read back", rec["edges_read"][0] == want, rec["edges_read"][0])
        run.check(f"{tag}: text table read back", rec["text_read"][0] == inp["n"], rec["text_read"][0])
        diff = text.exceptAll(closed_text).count() + closed_text.exceptAll(text).count()
        run.check(f"{tag}: text byte-identical to closed form", diff == 0, diff)
        if not full:
            expect = inputs.expected_edges(pages)
            diff = edges.exceptAll(expect).count() + expect.exceptAll(edges).count()
            run.check(f"{tag}: edge multiset == closed form", diff == 0, diff)
        # ranks over the hashed-id graph, against the oracle on dense ids
        src_h, dst_h = inputs.to_numpy(edges)
        ids, dense = np.unique(np.concatenate([src_h, dst_h]), return_inverse=True)
        m = len(src_h)
        pdf = pr.ranks.toPandas()
        got = np.full(len(ids), np.nan)
        got[np.searchsorted(ids, pdf["id"].to_numpy(np.int64))] = pdf["rank"].to_numpy()
        ref = oracle.pagerank_oracle(len(ids), dense[:m], dense[m:], threshold=0.0,
                                     max_rounds=self.pr_rounds).ranks
        run.check(f"{tag} df: ranks allclose oracle",
                  len(pdf) == len(ids) and bool(np.allclose(got, ref, rtol=RANK_RTOL, atol=RANK_ATOL)),
                  float(np.nanmax(np.abs(got - ref))))
        run.check(f"{tag} df: ranks sum to 1", abs(float(got.sum()) - 1.0) <= sum_bound(pr), float(got.sum()))
        return (rec["edges_out"][0], tuple(pr.errors))

    def throughput(self, inp, recs):
        """pages_per_s here: pages / wall time of the two extraction calls."""
        extract = statistics.median(
            sum(rec["sources.pages.enrich_pages"]) + sum(rec["sources.pages.pages_to_edges"])
            for rec in recs
        )
        return super().throughput(inp, recs) | {"pages_per_s": inp["n"] / extract}


WORKLOADS = {w.name: w for w in (PagerankUniform(), RmatSkew(), CrawlIngest())}
