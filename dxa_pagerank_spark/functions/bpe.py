"""Byte-pair-encoding tokenizer: distributed training + application.
[north_rule extension — no reference counterpart; the tokenizer leg of
the LLM-pipeline suite (token_counts/packing count whitespace tokens;
this learns subword units)]

BPE (Sennrich et al. 2016, arXiv:1508.07909): repeatedly merge the
corpus's most frequent adjacent symbol pair. Both phases here are pure
JVM column programs — no Python in the data path:

* **Symbolization** encodes a word as ``\\x1f c1 \\x1f c2 ...`` (a
  marker byte BEFORE each symbol, never after). A merge (x, y) is then
  the literal string replace ``\\x1f x \\x1f y -> \\x1f x y``, and
  because every symbol occurrence is preceded by exactly one marker
  and symbols never contain the marker, the replace matches exactly
  symbol-boundary-aligned pairs. Leading-marker (not surrounding-
  delimiter) encoding is what makes consecutive occurrences merge the
  way list-greedy BPE does: ``·a·b·a·b -> ·ab·ab`` in ONE replace-all
  pass (a space-delimited encoding shares the boundary space between
  matches and drops every second occurrence).
* **Training round** = one pair-count aggregate over the current
  symbolization (explode adjacent pairs, map-side combine) + a 1-row
  argmax collect (count desc, then lexicographic — deterministic), then
  the corpus symbolization advances by that one literal replace. R
  merges cost R aggregate jobs over (word, count) — the distinct-word
  table, NOT the corpus: identical words collapse with multiplicity
  first, the classic BPE-training trick.
* **Application** of a trained merge list is a pure projection: a
  chain of R literal replaces + one split — whole-stage-codegen'd,
  shuffle-free, exactly how a 100-TB corpus wants its tokenizer.

Greedy semantics note: like the reference implementations, application
applies merges in learned order, each as ONE leftmost-nonoverlapping
replace-all pass; within a run of the same pair this equals list-greedy
merging. The SQL oracle replays training and application with the same
replace semantics (DuckDB replace() is also leftmost-nonoverlapping).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.superstep import release

MARK = "\x1f"


def _word_table(
    docs: DataFrame, text_col: str = "text"
) -> DataFrame:
    """-> (word, cnt): corpus word multiset, whitespace tokenization
    (same as the rest of the text suite)."""
    return (
        docs.select(
            F.explode(
                F.filter(F.split(F.col(text_col), " "), lambda t: t != "")
            ).alias("word")
        )
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def _symbolize(word_col):
    """'hello' -> '\\x1fh\\x1fe\\x1fl\\x1fl\\x1fo' (marker BEFORE each
    char)."""
    return F.concat(
        F.lit(MARK),
        F.array_join(F.split(F.col(word_col) if isinstance(word_col, str) else word_col, ""), MARK),
    )


def _symbols(sym_col):
    """Symbolized string -> array of symbols (drop the empty head)."""
    return F.filter(F.split(sym_col, MARK), lambda s: s != "")


def train_bpe(
    docs: DataFrame,
    n_merges: int = 8,
    text_col: str = "text",
) -> list[tuple[str, str, int]]:
    """Learn `n_merges` BPE merges from the corpus.
    -> [(x, y, pair_count)] in learned order. Argmax tie-break: count
    desc, then (x, y) lexicographic — fully deterministic."""
    words = _word_table(docs, text_col).select(
        _symbolize("word").alias("s"), "cnt"
    )
    words = words.persist()
    words.count()
    merges: list[tuple[str, str, int]] = []
    try:
        for _ in range(int(n_merges)):
            syms = _symbols(F.col("s"))
            pairs = words.select(
                "cnt",
                F.explode(
                    F.zip_with(
                        F.slice(syms, 1, F.size(syms) - 1),
                        F.slice(syms, 2, F.size(syms) - 1),
                        lambda x, y: F.struct(x.alias("x"), y.alias("y")),
                    )
                ).alias("p"),
            ).filter(F.col("p.y").isNotNull())
            top = (
                pairs.groupBy("p.x", "p.y")
                .agg(F.sum("cnt").alias("n"))
                .orderBy(F.col("n").desc(), F.col("x").asc(), F.col("y").asc())
                .limit(1)
                .collect()
            )
            if not top or top[0]["n"] is None:
                break
            x, y, n = top[0]["x"], top[0]["y"], int(top[0]["n"])
            merges.append((x, y, n))
            old = words
            words = words.select(
                F.replace(
                    F.col("s"), F.lit(MARK + x + MARK + y), F.lit(MARK + x + y)
                ).alias("s"),
                "cnt",
            ).localCheckpoint(eager=True)
            release(old)
    finally:
        release(words)
    return merges


def apply_bpe(
    docs: DataFrame,
    merges: list[tuple[str, str, int]] | list[tuple[str, str]],
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """-> (id, token): one row per BPE token occurrence, in-document
    duplicates preserved. Pure projection + one explode — the merge
    chain is literal replaces, shuffle-free until any downstream agg."""
    word = F.explode(
        F.filter(F.split(F.col(text_col), " "), lambda t: t != "")
    ).alias("word")
    out = docs.select(F.col(id_col).alias("id"), word)
    sym = _symbolize("word")
    for m in merges:
        x, y = m[0], m[1]
        sym = F.replace(sym, F.lit(MARK + x + MARK + y), F.lit(MARK + x + y))
    return out.select(
        "id", F.explode(_symbols(sym)).alias("token")
    )


def bpe_token_frequencies(
    docs: DataFrame,
    merges,
    text_col: str = "text",
    top: int = 30,
) -> DataFrame:
    """-> (token, n): corpus frequency of each BPE token under the
    given merges, top `top` by (n desc, token asc)."""
    toks = apply_bpe(docs, merges, text_col=text_col)
    return (
        toks.groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), F.col("token").asc())
        .limit(int(top))
    )
