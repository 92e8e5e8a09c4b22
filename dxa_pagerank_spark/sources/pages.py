"""pages -> text -> links -> edges: the web-scale ingestion pipeline.

Replaces the reference's edge-list file scan
(ReadLumpInEdgeListTask.java:41-140) with derivation from
Common-Crawl-style pages (BASELINE.json north_star): extract anchors,
hash urls to 64-bit vertex ids, emit edges(src, dst).

Id modes:
  * ``xxhash64`` (default, the 100-TB path): vertex id = xxhash64(url),
    a JVM-side built-in — no global dictionary, no shuffle to assign
    ids, collision probability ~n^2/2^64 (≈5e-7 at 10^9 urls).
    Link targets outside the crawl become dangling vertices, exactly
    like uncrawled pages in a real web graph.
  * ``join``: ids come from a caller-provided (url, id) mapping;
    links to unknown urls are dropped. Used by fixtures where ids must
    equal page indices.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.linkextract import extract_anchors_udf, extract_links_udf
from ..functions.textextract import extract_text_udf


def extract_page_links(pages: DataFrame) -> DataFrame:
    """pages(url, html, ...) -> (url, pos, link) one row per anchor,
    document order preserved via pos (duplicates kept)."""
    # The UDF sits inside posexplode so each page is parsed once: exploding
    # an aliased UDF column lets Catalyst infer size() > 0 from the
    # generator and push it below the projection, copying the UDF.
    links = extract_links_udf()(F.col("html"), F.col("url"))
    return pages.select("url", F.posexplode(links).alias("pos", "link"))


def pages_to_edges(
    pages: DataFrame,
    id_mode: str = "xxhash64",
    url_ids: DataFrame | None = None,
    restrict_to_corpus: bool = False,
) -> DataFrame:
    """-> edges(src, dst) derived from anchor links."""
    links = extract_page_links(pages)
    if id_mode == "xxhash64":
        edges = links.select(
            F.xxhash64("url").alias("src"), F.xxhash64("link").alias("dst")
        )
        if restrict_to_corpus:
            corpus = pages.select(F.xxhash64("url").alias("dst")).distinct()
            edges = edges.join(corpus, "dst", "left_semi")
        return edges.select("src", "dst")
    if id_mode == "join":
        if url_ids is None:
            raise ValueError("id_mode='join' requires url_ids(url, id)")
        src_ids = url_ids.select(
            F.col("url").alias("u_src"), F.col("id").alias("src")
        )
        dst_ids = url_ids.select(
            F.col("url").alias("u_dst"), F.col("id").alias("dst")
        )
        return (
            links.join(src_ids, links.url == F.col("u_src"))
            .join(dst_ids, links.link == F.col("u_dst"))
            .select("src", "dst")
        )
    raise ValueError(f"unknown id_mode {id_mode!r}")


def page_anchors(pages: DataFrame) -> DataFrame:
    """pages(url, html, ...) -> (url, pos, link, text): one row per
    http(s) anchor with its anchor text, document order via pos,
    duplicates kept. Anchor text is the classic incoming-link relevance
    signal — aggregated per *target* it describes pages the crawl may
    not even contain (the web-scale path groups by xxhash64(link), so
    the 100-TB shuffle carries (8B id, short text) rows only)."""
    anchors = extract_anchors_udf()(F.col("html"), F.col("url"))  # see above
    exploded = pages.select("url", F.posexplode(anchors).alias("pos", "a"))
    return exploded.select("url", "pos", "a.link", "a.text")


def enrich_pages(pages: DataFrame) -> DataFrame:
    """Recompute the text column from html via the frozen extraction UDF
    (byte-identical per url to the pure-Python oracle — input_hint).
    A filter on ``text`` copies the UDF into the filter and parses every
    page again: materialise (cache, checkpoint or write) before filtering."""
    return pages.withColumn("text", extract_text_udf()(F.col("html")))


def page_vertices(pages: DataFrame) -> DataFrame:
    """pages -> vertices(id) in xxhash64 id space."""
    return pages.select(F.xxhash64("url").alias("id")).distinct()
