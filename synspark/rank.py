"""Score-shaping query surfaces: ES ``collapse``, ``top_hits``,
``function_score``, ``constant_score`` and ``boosting`` — everything
that re-ranks or re-groups a scored match set rather than changing
what matches.

These are the ES request-body features a reference deployment layers
ON TOP of the synonym analyzer (the plugin itself leaves scoring to
the host, reference: src/main/java/.../NGramSynonymTokenizer.java
tokenizes only; SynonymPluginTest.java:106-168 exercises host search
responses). All of them consume ``query.score_matches`` — the exact
score-all frame — because each needs to see every match (the best doc
per collapse key, the per-bucket top hits, the rescored order) and ES
likewise disables early termination when these features are present.

Scale shapes (100 TB):
- score-all decodes ONLY the query terms' postings (O(Σ df)), then one
  partial-agg hash shuffle bounded by |matches|;
- collapse / top_hits add ONE window per bucket key, and Catalyst's
  WindowGroupLimit pushes the rank ≤ n cut MAP-SIDE (a Partial limit
  runs before the key exchange, verified in .explain("formatted")), so
  the shuffle carries at most n rows per key per input partition —
  never the full match set;
- function_score joins the (doc_id, field) projection of the docmap
  (column-pruned parquet scan) and keeps the combine expression in
  whole-stage codegen;
- the final cut is always TakeOrderedAndProject (per-partition k-heap
  + driver merge of n_partitions·k rows), never a full sort.

Ranking ties are broken on ROUND(score, 6) then doc_id ASC — the same
cross-engine ULP guard every other surface in this repo uses.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .index_store import IndexStore
from .query import _field_values, match_ids, score_matches, top_k
from .synonyms import SynonymDict
from .tokenizer import TokenizerConfig

__all__ = ["search_collapsed", "top_hits_agg", "function_score",
           "constant_score", "boosting"]


def _scored(spark, store, text, mode, syn, cfg, groups, plan,
            doc_where) -> DataFrame:
    """score_matches with the rounded tie-break column attached."""
    return (score_matches(spark, store, text, mode, syn, cfg,
                          groups=groups, plan=plan, doc_where=doc_where)
            .withColumn("score_r", F.round("score", 6)))


def search_collapsed(spark: SparkSession, store: IndexStore,
                     field: str, text: str = "", mode: str = "and",
                     syn: SynonymDict | None = None,
                     cfg: TokenizerConfig | None = None,
                     groups: list[list[str]] | None = None,
                     plan=None, k: int = 10,
                     doc_where: str | None = None) -> DataFrame:
    """ES ``collapse``: the top-k hits keeping only the BEST-scoring
    doc per ``field`` value (one result per repo/site/author — the
    search-result-dedup idiom). Returns ``(doc_id, <field>, score_r)``
    ordered by score_r DESC, doc_id ASC.

    Per-key best via a rank-1 window over (field) partitions ordered
    (score_r DESC, doc_id ASC) — ES's collapse tiebreak is shard doc
    order; ours is the deterministic doc_id. The window shuffles on
    the collapse key once; cardinality after it is |distinct keys|,
    so the final top-k cut is tiny."""
    scored = _scored(spark, store, text, mode, syn, cfg, groups, plan,
                     doc_where)
    vals = _field_values(spark, store, field)
    w = Window.partitionBy(field).orderBy(F.desc("score_r"),
                                          F.asc("doc_id"))
    return top_k(scored.join(vals, "doc_id")
                 .withColumn("_rn", F.row_number().over(w))
                 .filter(F.col("_rn") == 1)
                 .select("doc_id", field, "score_r"),
                 k, store.meta().n_docs,
                 F.desc("score_r"), F.asc("doc_id"))


def top_hits_agg(spark: SparkSession, store: IndexStore, field: str,
                 text: str = "", mode: str = "and",
                 syn: SynonymDict | None = None,
                 cfg: TokenizerConfig | None = None,
                 groups: list[list[str]] | None = None,
                 plan=None, n_buckets: int = 10, n_hits: int = 3,
                 doc_where: str | None = None) -> DataFrame:
    """ES ``terms`` aggregation with a ``top_hits`` sub-aggregation:
    for the ``n_buckets`` largest buckets of ``field`` over the match
    set, the ``n_hits`` best-scoring docs each. Returns
    ``(<field>, doc_count, rank, doc_id, score_r)`` ordered ES-style
    (bucket doc_count DESC / key ASC, then rank).

    One window computes both the per-bucket rank and the bucket size
    (count over the same partition) — a single shuffle on the bucket
    key; rank ≤ n_hits truncates before the bucket top-k cut."""
    scored = _scored(spark, store, text, mode, syn, cfg, groups, plan,
                     doc_where)
    vals = _field_values(spark, store, field)
    part = Window.partitionBy(field)
    w = part.orderBy(F.desc("score_r"), F.asc("doc_id"))
    hits = (scored.join(vals, "doc_id")
            .withColumn("rank", F.row_number().over(w))
            .withColumn("doc_count", F.count("*").over(part))
            .filter(F.col("rank") <= n_hits))
    buckets = top_k(hits.select(field, "doc_count").distinct(),
                    n_buckets, store.meta().n_docs,
                    F.desc("doc_count"), F.asc(field))
    return (hits.join(F.broadcast(buckets.select(field)), field)
            .select(field, F.col("doc_count").cast("long"),
                    "rank", "doc_id", "score_r")
            .orderBy(F.desc("doc_count"), F.asc(field), F.asc("rank")))


_MODIFIERS = {
    "none": lambda c: c,
    "log1p": lambda c: F.log10(c + F.lit(1.0)),
    "ln1p": lambda c: F.log(c + F.lit(1.0)),
    "sqrt": F.sqrt,
}

_BOOST_MODES = {
    "multiply": lambda s, fv: s * fv,
    "sum": lambda s, fv: s + fv,
    "replace": lambda s, fv: fv,
}


def function_score(spark: SparkSession, store: IndexStore, text: str,
                   field: str, factor: float = 1.0,
                   modifier: str = "none",
                   boost_mode: str = "multiply",
                   missing: float = 1.0,
                   mode: str = "and", k: int = 10,
                   syn: SynonymDict | None = None,
                   cfg: TokenizerConfig | None = None,
                   groups: list[list[str]] | None = None,
                   plan=None,
                   doc_where: str | None = None) -> DataFrame:
    """ES ``function_score`` with a ``field_value_factor`` function:
    ``fv = modifier(factor * field)`` combined with the query score by
    ``boost_mode`` (multiply / sum / replace). The canonical
    popularity/recency boost — rank by relevance × log(views).
    Returns the top-k ``(doc_id, score_r)`` on the COMBINED score.

    The combine is a pure codegen expression over the score-all frame
    joined to the column-pruned (doc_id, field) docmap projection;
    docs with NULL field get ``missing`` (ES's missing param)."""
    if modifier not in _MODIFIERS:
        raise ValueError(f"modifier {modifier!r}; have "
                         f"{sorted(_MODIFIERS)}")
    if boost_mode not in _BOOST_MODES:
        raise ValueError(f"boost_mode {boost_mode!r}; have "
                         f"{sorted(_BOOST_MODES)}")
    scored = score_matches(spark, store, text, mode, syn, cfg,
                           groups=groups, plan=plan,
                           doc_where=doc_where)
    vals = _field_values(spark, store, field)
    fv = _MODIFIERS[modifier](
        F.lit(float(factor))
        * F.coalesce(F.col(field).cast("double"),
                     F.lit(float(missing))))
    combined = _BOOST_MODES[boost_mode](F.col("score"), fv)
    return top_k(scored.join(vals, "doc_id", "left")
                 .withColumn("score_r", F.round(combined, 6))
                 .select("doc_id", "score_r"),
                 k, store.meta().n_docs,
                 F.desc("score_r"), F.asc("doc_id"))


def constant_score(spark: SparkSession, store: IndexStore,
                   text: str = "", mode: str = "and",
                   boost: float = 1.0, k: int = 10,
                   syn: SynonymDict | None = None,
                   cfg: TokenizerConfig | None = None,
                   groups: list[list[str]] | None = None,
                   min_should_match: int | None = None,
                   plan=None,
                   doc_where: str | None = None) -> DataFrame:
    """ES ``constant_score``: every matching doc scores exactly
    ``boost`` — filter-context matching with a flat score, the cheap
    path when relevance is irrelevant (existence checks, faceting
    feeds). Rides ``match_ids`` (shard-local set algebra + block
    skips, NO tf/dl decode, no scoring at all) — strictly cheaper than
    any scored query. Top-k is doc_id ASC (ES returns arbitrary order
    on ties; ours is deterministic)."""
    ids = match_ids(spark, store, text, mode, syn=syn, cfg=cfg,
                    groups=groups, min_should_match=min_should_match,
                    plan=plan, doc_where=doc_where)
    return (top_k(ids.withColumn("score_r", F.lit(float(boost))),
                  k, store.meta().n_docs, F.asc("doc_id"))
            .select("doc_id", "score_r"))


def boosting(spark: SparkSession, store: IndexStore,
             positive: str, negative: str,
             negative_boost: float = 0.5,
             mode: str = "and", negative_mode: str = "and",
             k: int = 10,
             syn: SynonymDict | None = None,
             cfg: TokenizerConfig | None = None,
             doc_where: str | None = None) -> DataFrame:
    """ES ``boosting`` query: docs matching ``positive`` rank by BM25,
    but any that ALSO match ``negative`` have their score multiplied
    by ``negative_boost`` — demotion without exclusion (the classic
    "apple -fruit" steering). Returns top-k ``(doc_id, score_r)``.

    The negative set is a ``match_ids`` frame (no scoring decode) and
    the demotion is one left-join flag + codegen multiply — the
    negative query's cost is its own postings scan, never a second
    scoring pass."""
    scored = score_matches(spark, store, positive, mode, syn, cfg,
                           doc_where=doc_where)
    neg = (match_ids(spark, store, negative, negative_mode, syn=syn,
                     cfg=cfg)
           .withColumn("_neg", F.lit(True)))
    return top_k(scored.join(neg, "doc_id", "left")
                 .withColumn(
                     "score_r",
                     F.round(F.when(F.col("_neg"),
                                    F.col("score")
                                    * F.lit(float(negative_boost)))
                             .otherwise(F.col("score")), 6))
                 .select("doc_id", "score_r"),
                 k, store.meta().n_docs,
                 F.desc("score_r"), F.asc("doc_id"))
