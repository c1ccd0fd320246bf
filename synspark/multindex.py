"""Cross-index search (ES multi-index / alias queries).

Every ES deployment of the reference analyzer queries ALIASES spanning
several indices (time-sliced logs, per-tenant shards): one request
fans out to each index and the per-index top-k lists merge into one
ranked answer. Two public scoring contracts exist (ES
``search_type``):

- ``query_then_fetch`` (ES default): each index scores with its own
  LOCAL statistics (idf/avgdl from that index alone), then results
  merge by score. Cheap — no extra round-trip — but the same doc text
  can score differently depending on which index holds it.
- ``dfs_query_then_fetch``: a distributed-frequency pre-phase sums
  df/doc counts across indices, every index then scores with the
  COMBINED stats. Scores are exactly what one merged index would
  produce — the property this module's oracle exploits: a corpus
  split across two stores, searched with dfs=True, must rank
  identically to one whole-corpus index.

Spark shape: the per-index executions are the engine's existing
shard-parallel WAND jobs (no new worker code); the dfs pre-phase is a
termstats lookup per store (bounded by query-term count, memoized per
build); the merge is a union + global top-k — the only cross-index
data movement is k rows per index.

Requires every store to share the analyzer config and BM25
parameters (ES likewise assumes compatible mappings under an alias;
mixed-analyzer aliases produce undefined rankings there too).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .index_store import IndexStore
from .query import (QueryPlan, _apply_msm, _wand_topk, analyze_query, idf,
                    top_k)
from .synonyms import SynonymDict
from .tokenizer import TokenizerConfig


def _check_compatible(metas) -> None:
    base = metas[0]
    for m in metas[1:]:
        if m.cfg != base.cfg or (m.k1, m.b) != (base.k1, base.b):
            raise ValueError(
                "cross-index search requires identical analyzer "
                "config and BM25 parameters across stores "
                f"(got {m.cfg}/{m.k1}/{m.b} vs "
                f"{base.cfg}/{base.k1}/{base.b})")


def plan_dfs(spark: SparkSession, stores: list[IndexStore],
             text: str, syn: SynonymDict | None = None,
             cfg: TokenizerConfig | None = None,
             groups: list[list[str]] | None = None) -> QueryPlan:
    """The dfs_query_then_fetch pre-phase: one QueryPlan whose
    statistics are the UNION of all stores — n = Σ live docs, per-term
    df = Σ dfs, avgdl = token-weighted mean. Feeding this plan to each
    store's WAND run makes per-index scores globally comparable (and
    equal to a single merged index's scores)."""
    metas = [s.meta() for s in stores]
    _check_compatible(metas)
    cfg = cfg or TokenizerConfig(**metas[0].cfg)
    if groups is None:
        groups = analyze_query(text, cfg, syn)
    terms = sorted({t for g in groups for t in g})
    n_eff = 0
    tok_total = 0.0
    dfs: dict[str, int] = {t: 0 for t in terms}
    for s, m in zip(stores, metas):
        live = m.n_docs - m.n_purged
        n_eff += live
        tok_total += m.avgdl * live
        for t, d in s.term_dfs(spark, terms,
                               build_id=m.build_id).items():
            dfs[t] += d
    avgdl = tok_total / n_eff if n_eff else 0.0
    idfs = [idf(n_eff, max((dfs.get(t, 0) for t in g), default=0))
            for g in groups]
    return QueryPlan(groups=groups, idfs=idfs, n_docs=n_eff,
                     avgdl=avgdl, k1=metas[0].k1, b=metas[0].b)


def search_indices(spark: SparkSession,
                   stores: dict[str, IndexStore] | list[IndexStore],
                   text: str, k: int = 10, mode: str = "and",
                   dfs: bool = True,
                   syn: SynonymDict | None = None,
                   cfg: TokenizerConfig | None = None,
                   groups: list[list[str]] | None = None,
                   min_should_match: int | None = None,
                   doc_where: str | None = None,
                   indices_boost: dict | None = None) -> DataFrame:
    """BM25 top-k across several indices → ``(index, doc_id, score)``,
    score DESC (ties: index ASC, doc_id ASC). ``dfs=True`` is ES
    dfs_query_then_fetch (combined stats — see plan_dfs);
    ``dfs=False`` is the query_then_fetch default (per-index local
    stats, each index plans independently).

    ``indices_boost`` is the ES top-level ``indices_boost`` map
    ({index_name: factor}): each index's scores multiply by its
    factor BEFORE the merge (tier recent indexes above archives in
    one alias query). Applied to the k-row per-index outputs — the
    per-index WAND runs stay boost-free, so their pruning bounds are
    untouched and per-index top-k membership is boost-invariant
    (a positive scalar preserves order within one index).

    Scale shape: N independent shard-parallel WAND jobs (each pruned
    by its own index's block-max metadata — dfs only changes the
    scoring constants, not the pruning structure) + a union of N·k
    rows + one global top-k."""
    if isinstance(stores, dict):
        named = list(stores.items())
    else:
        named = [(f"idx{i}", s) for i, s in enumerate(stores)]
    if not named:
        raise ValueError("search_indices needs at least one store")
    unknown = set(indices_boost or {}) - {n for n, _s in named}
    if unknown:
        # ES rejects indices_boost entries naming no index; silently
        # dropping a typo'd boost would un-tier the alias
        raise ValueError(f"indices_boost names unknown indices: "
                         f"{sorted(unknown)}")
    metas = {name: s.meta() for name, s in named}
    if dfs:
        shared = plan_dfs(spark, [s for _n, s in named], text, syn,
                          cfg, groups)
        shared = _apply_msm(shared, mode, min_should_match)
    parts = []
    for name, s in named:
        if dfs:
            plan = shared
        else:
            from .query import plan_query
            plan = _apply_msm(
                plan_query(spark, s, text, syn, cfg, groups), mode,
                min_should_match)
        if not plan.groups:
            continue
        topk = _wand_topk(spark, s, metas[name], plan, k, mode,
                          False, None, doc_where)
        boost = float((indices_boost or {}).get(name, 1.0))
        if boost <= 0:
            raise ValueError("indices_boost factors must be > 0")
        parts.append(topk.select(
            F.lit(name).alias("index"), "doc_id",
            (F.col("score") * boost).alias("score")))
    if not parts:
        return spark.createDataFrame(
            [], "index string, doc_id long, score double")
    u = parts[0]
    for p in parts[1:]:
        u = u.unionByName(p)
    return top_k(u, k, sum(m.n_docs for m in metas.values()),
                 F.desc("score"), F.asc("index"), F.asc("doc_id"))
