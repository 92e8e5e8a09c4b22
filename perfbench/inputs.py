"""Seeded benchmark inputs and the sanity checks that make a degenerate
generator fail loudly.

* uniform graph: ``datagen.fast_synthetic_edges`` (the reference
  generator's law: exponential in-degree, uniform endpoints, deduped,
  no self-loops), built in NumPy and shipped to Spark.
* R-MAT graph: ``datagen.rmat_edges_df`` with the ``xxhash64`` draw,
  built inside the JVM. (The default ``portable`` draw collapses at
  benchmark scales: scale 17 gives 744 distinct edges out of 524,288.)
* crawl pages: Common-Crawl-style ``(url, warc_ts, html, text, lang)``
  rows built inside the JVM from the seed. Every page carries the
  closed form of what extraction must return: its visible text and its
  http(s) links, so the engine's HTML parsing is checked byte for byte.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from dxa_pagerank_spark import datagen

UNIFORM_MEAN_INDEG = 6
RMAT_EDGE_FACTOR = 8


class InputCheckError(AssertionError):
    """A generated input is degenerate; the run cannot be trusted."""


def require(ok: bool, what: str, stats: dict) -> None:
    if not ok:
        raise InputCheckError(f"input check failed: {what}; stats={stats}")


# -- graphs ------------------------------------------------------------

def uniform_graph(spark: SparkSession, n: int, seed: int, partitions: int):
    """-> (cached edges df, src, dst, stats)."""
    src, dst = datagen.fast_synthetic_edges(n, UNIFORM_MEAN_INDEG, seed)
    edges = (
        datagen.edges_to_spark(spark, src, dst, partitions=partitions)
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    rows = edges.count()
    stats = edge_stats(src, dst) | {"universe": n}
    require(rows == len(src) > 0, "spark rows != generated rows", stats)
    require(stats["distinct_edges"] == rows, "duplicate edges", stats)
    require(stats["self_loops"] == 0, "self-loops", stats)
    require(stats["vertices"] >= 0.9 * n, "too few vertices touched", stats)
    # exponential in-degree with mean 6: the largest of n draws is about
    # 6 ln n; a hub far beyond that means the law is broken
    require(
        stats["max_in_degree"] <= 4 * UNIFORM_MEAN_INDEG * np.log(n),
        "in-degree tail too heavy for the uniform law",
        stats,
    )
    return edges, src, dst, stats


def edge_stats(src: np.ndarray, dst: np.ndarray) -> dict:
    """Row, distinct-edge and vertex counts, max in/out degree."""
    _, out_deg = np.unique(src, return_counts=True)
    _, in_deg = np.unique(dst, return_counts=True)
    return {
        "rows": int(len(src)),
        "distinct_edges": int(len(np.unique(np.stack([src, dst], axis=1), axis=0))),
        "self_loops": int((src == dst).sum()),
        "vertices": int(len(np.unique(np.concatenate([src, dst])))),
        "max_out_degree": int(out_deg.max(initial=0)),
        "max_in_degree": int(in_deg.max(initial=0)),
    }


def rmat_graph(spark: SparkSession, scale: int, seed: int, partitions: int):
    """-> (cached edges df, src, dst, stats). 2^scale vertex universe,
    RMAT_EDGE_FACTOR * 2^scale generated edges (duplicates kept)."""
    n = 1 << scale
    m = RMAT_EDGE_FACTOR * n
    edges = datagen.rmat_edges_df(
        spark, scale, m, seed=seed, hash_fn="xxhash64", num_partitions=partitions
    ).persist(StorageLevel.MEMORY_AND_DISK)
    src, dst = to_numpy(edges)  # also fills the cache
    stats = edge_stats(src, dst) | {"universe": n}
    require(stats["rows"] == m, "row count != edge factor * 2^scale", stats)
    # the portable draw keeps ~0.1% distinct at these scales; xxhash64
    # keeps >95%, small replicas ~80% (natural R-MAT collisions)
    require(stats["distinct_edges"] >= 0.5 * m, "R-MAT draw collapsed", stats)
    require(
        stats["max_out_degree"] >= 16 * RMAT_EDGE_FACTOR,
        "no heavy tail (max out-degree vs mean)",
        stats,
    )
    return edges, src, dst, stats


def to_numpy(edges: DataFrame) -> tuple[np.ndarray, np.ndarray]:
    pdf = edges.select("src", "dst").toPandas()
    return pdf["src"].to_numpy(np.int64), pdf["dst"].to_numpy(np.int64)


# -- crawl pages -------------------------------------------------------

ANCHOR_MIN, ANCHOR_SPAN = 20, 21  # 20..40 anchors per page
WORDS_PER_PARAGRAPH = 12
N_HOSTS = 97
LANGS = ("en", "de", "fr")

# anchor kinds, drawn per anchor from 0..9
_REL_ROOT = (0, 1)  # href "/p/<t>"            -> same host
_REL_PATH = (2,)  # href "p<t>.html"          -> same host, same dir
_ABS = (3, 4, 5)  # href "<url(t)>"
_FRAG = (6, 7, 8)  # href "<url(t)>#s<j>"    -> fragment stripped
_MAILTO = 9  # href "mailto:..."         -> dropped


def _host(c):
    return F.concat(F.lit("https://h"), (c % N_HOSTS).cast("string"), F.lit(".example"))


def _url(c):
    return F.concat(_host(c), F.lit("/p/"), c.cast("string"))


def _draw(seed: int, *cols):
    return F.xxhash64(F.lit(seed), *cols)


def crawl_pages(spark: SparkSession, n: int, seed: int, partitions: int) -> DataFrame:
    """n pages with columns url, warc_ts, html, text (empty), lang, plus
    the closed forms ``expected_text`` and ``n_links`` (http(s) anchors).
    Not cached."""
    i = F.col("id")
    k = F.lit(ANCHOR_MIN) + F.pmod(_draw(seed, i, F.lit(-1)), F.lit(ANCHOR_SPAN))
    lang = F.element_at(F.array(*[F.lit(x) for x in LANGS]), (i % len(LANGS) + 1).cast("int"))

    def anchor(j):
        t = F.pmod(_draw(seed, i, j), F.lit(n))
        kind = F.pmod(_draw(seed, i, j, F.lit(7)), F.lit(10))
        ts = t.cast("string")
        href = (
            F.when(kind.isin(*_REL_ROOT), F.concat(F.lit("/p/"), ts))
            .when(kind.isin(*_REL_PATH), F.concat(F.lit("p"), ts, F.lit(".html")))
            .when(kind.isin(*_ABS), _url(t))
            .when(kind.isin(*_FRAG), F.concat(_url(t), F.lit("#s"), j.cast("string")))
            .otherwise(F.concat(F.lit("mailto:u"), ts, F.lit("@example.org")))
        )
        resolved = (
            F.when(kind.isin(*_REL_ROOT), F.concat(_host(i), F.lit("/p/"), ts))
            .when(kind.isin(*_REL_PATH), F.concat(_host(i), F.lit("/p/p"), ts, F.lit(".html")))
            .when(kind != F.lit(_MAILTO), _url(t))
        )
        atext = F.when(kind == F.lit(_MAILTO), F.concat(F.lit("mail "), ts)).otherwise(
            F.concat(F.lit("link "), j.cast("string"), F.lit(" to "), ts)
        )
        words = F.array_join(
            F.transform(
                F.sequence(F.lit(0), F.lit(WORDS_PER_PARAGRAPH - 1)),
                lambda w: F.concat(
                    F.lit("w"), F.pmod(_draw(seed, i, j, w), F.lit(5000)).cast("string")
                ),
            ),
            " ",
        )
        return F.struct(
            href.alias("href"),
            resolved.alias("resolved"),
            atext.alias("atext"),
            words.alias("words"),
        )

    si = i.cast("string")
    # computed once in the first projection, referenced by name after it
    anchors, lang_c = F.col("anchors"), F.col("lang")
    head = F.concat(
        F.lit("<!DOCTYPE html>\n<html><head><title>Page "), si, F.lit("</title>\n"),
        F.lit("<style>body{margin:0} .c"), (i % 7).cast("string"), F.lit("{color:#333}</style>\n"),
        F.lit("<script>var page="), si, F.lit(";var links="), k.cast("string"), F.lit(";</script>\n"),
        F.lit("<!-- generated page "), si, F.lit(" -->\n</head><body><h1>Heading "), si,
        F.lit(" lang "), lang_c, F.lit("</h1>\n"),
    )
    body = F.array_join(
        F.transform(
            anchors,
            lambda a: F.concat(
                F.lit("<p>"), a["words"], F.lit('</p>\n<a href="'), a["href"],
                F.lit('">'), a["atext"], F.lit("</a>\n"),
            ),
        ),
        "",
    )
    text_nodes = F.concat(
        F.array(F.concat(F.lit("Page "), si), F.concat(F.lit("Heading "), si, F.lit(" lang "), lang_c)),
        F.flatten(F.transform(anchors, lambda a: F.array(a["words"], a["atext"]))),
    )
    return (
        spark.range(0, n, 1, partitions)
        .select(
            i,
            lang.alias("lang"),
            F.transform(F.sequence(F.lit(0), (k - 1).cast("int")), anchor).alias("anchors"),
        )
        .select(
            _url(i).alias("url"),
            F.timestamp_seconds(F.lit(1767225600) + i).alias("warc_ts"),
            F.encode(F.concat(head, body, F.lit("</body></html>\n")), "UTF-8").alias("html"),
            F.lit("").alias("text"),
            "lang",
            F.array_join(text_nodes, "\n").alias("expected_text"),
            F.size(F.filter(anchors, lambda a: a["resolved"].isNotNull())).alias("n_links"),
            "anchors",
        )
    )


def expected_edges(pages: DataFrame) -> DataFrame:
    """Closed-form edges(src, dst) of the crawl pages: xxhash64 of the
    page url and of every resolved http(s) anchor, duplicates kept."""
    return (
        pages.select("url", F.explode("anchors").alias("a"))
        .filter(F.col("a.resolved").isNotNull())
        .select(F.xxhash64("url").alias("src"), F.xxhash64("a.resolved").alias("dst"))
    )


def crawl_input(spark: SparkSession, n: int, seed: int, partitions: int):
    """-> (cached pages df with the closed forms, stats)."""
    pages = crawl_pages(spark, n, seed, partitions).persist(StorageLevel.MEMORY_AND_DISK)
    row = pages.agg(
        F.count(F.lit(1)).alias("pages"),
        F.sum(F.length("html")).alias("html_bytes"),
        F.sum("n_links").alias("links"),
        F.sum(F.size("anchors")).alias("anchors"),
    ).collect()[0]
    stats = {
        "pages": int(row["pages"]),
        "html_mb": round(int(row["html_bytes"]) / 2**20, 2),
        "anchors": int(row["anchors"]),
        "expected_edges": int(row["links"]),
    } | {f"edge_{k}": v for k, v in edge_stats(*to_numpy(expected_edges(pages))).items()}
    require(stats["pages"] == n, "page count", stats)
    require(stats["html_mb"] * 2**20 >= 2000 * n, "pages smaller than 2 KB", stats)
    require(stats["expected_edges"] >= ANCHOR_MIN * 0.8 * n, "too few links", stats)
    require(stats["edge_rows"] == stats["expected_edges"], "closed-form edge count", stats)
    return pages, stats
