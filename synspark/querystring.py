"""ES ``query_string`` / Kibana search-bar mini-DSL, compiled onto the
bool/WAND engine.

The reference plugin feeds analyzers into Elasticsearch, whose users
reach them through the Lucene query-string syntax (the default
``q=`` of ``_search`` and the Kibana bar). This module implements the
FLAT subset of that grammar — the part users actually type — and
compiles it to one :class:`synspark.query.QueryPlan` bool query plus
doc-id gates, all served by the existing shard-parallel block-max
WAND (`synspark/query.py`). Reference anchor: the plugin's own README
demos query_string bodies against the ngram_synonym analyzer
(reference README.md:60-114); the grammar itself is public Lucene
``QueryParser`` syntax.

Grammar (whitespace-separated clauses; no parentheses / AND / OR /
NOT keywords — use ``+`` / ``-`` and ``default_operator``):

- ``tok``        bare clause — occur from ``default_operator``
                 ("or" → should, "and" → must); multi-word text is
                 analyzed into per-position groups, each its own
                 clause (exactly an ES ``match`` clause);
- ``+tok``       must, ``-tok`` must_not;
- ``"a b"``      phrase (``"a b"~N`` with slop N). POSITIVE phrases
                 are REQUIRED: the clause both gates (adjacency
                 verified per shard, MultiPhraseQuery semantics) and
                 scores (BM25 over its per-position groups — the same
                 contract as ``search(phrase=True)``). ``-"a b"``
                 excludes phrase-matching docs. Deviation from
                 Lucene, documented: an optional (should) phrase
                 under default_operator=or is promoted to must —
                 optional-phrase scoring needs per-clause positional
                 scorers the flat plan doesn't carry;
- ``tok*``       prefix query — dictionary expansion capped at
                 ``max_expansions`` (top-df first, the Lucene
                 top_terms rewrite), served as ONE blended group:
                 idf of the max-df expansion, tf summed over
                 expansions (SynonymQuery / blended rewrite shape);
- ``tok~`` / ``tok~N``  fuzzy (AUTO / N edits), same blended-group
                 rewrite as prefix;
- ``tok^2.5`` / ``"a b"^2`` / ``tok*^3``  clause boost (> 0);
- ``field:val``  metadata filter on a docmap column (repo, path,
                 commit, lang, ...): FILTER context — gates, never
                 scores, never touches idf/avgdl (exactly the ES
                 filter-vs-query split). ``-field:val`` negates.
                 ``field:val*`` is a prefix (LIKE) filter;
                 ``field:"a b"`` quotes the value. Unknown fields
                 raise (strict mappings);
- ``\\x``        escapes any character in bare tokens and phrases.

Scale shape: term/prefix/fuzzy clauses ride the WAND plan unchanged
(expansion caps bound the driver's term strings). Each positive
phrase resolves its matching ids DISTRIBUTED (`match_ids` — per-shard
adjacency, ids never transit the driver beyond the broadcast-size
check) and joins the doc-values allowlist path: broadcast when small,
executor-to-executor cogroup when not (`query._route_ids`); negative
phrases merge into the liveDocs mask the same way. Metadata
predicates push down into the docmap parquet scan.
"""

from __future__ import annotations

import re
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .index_store import IndexStore
from .multiterm import fuzzy_terms
from .query import (_wand_topk, analyze_query, match_ids, plan_bool,
                    prefix_terms, top_k)
from .synonyms import SynonymDict
from .tokenizer import TokenizerConfig

META_FIELDS = ("repo", "path", "commit", "lang")


@dataclass
class QSClause:
    """One parsed query_string clause."""
    occur: str | None          # '+' must, '-' must_not, None → default
    kind: str                  # term | phrase | prefix | fuzzy | meta
    text: str                  # clause text (unescaped)
    boost: float = 1.0
    slop: int = 0              # phrase only
    fuzziness: int | None = None   # fuzzy only; None = ES AUTO
    field: str = ""            # meta only
    meta_prefix: bool = False  # meta only: trailing-* LIKE filter


_TOKEN_RE = re.compile(r"""
    \s*
    (?P<occur>[+-])?
    (?:(?P<field>[A-Za-z_][A-Za-z0-9_.]*):)?
    (?:
        "(?P<phrase>(?:[^"\\]|\\.)*)"
        (?:~(?P<slop>\d+))?
      |
        (?P<term>(?:[^\s"\\^~+-]|\\.)(?:[^\s"\\^~]|\\.)*)
        (?:~(?P<fuzz>\d*))?
    )
    (?:\^(?P<boost>\d+(?:\.\d+)?))?
    (?=\s|$)
""", re.X)


def _unescape(s: str) -> str:
    return re.sub(r"\\(.)", r"\1", s)


def parse_query_string(qs: str,
                       metadata_fields=META_FIELDS) -> list[QSClause]:
    """Parse the flat query_string grammar into clauses. Raises
    ``ValueError`` on syntax errors (unterminated quote, stray
    operator, empty clause, unknown field) — ES query_string is
    strict the same way."""
    out: list[QSClause] = []
    pos = 0
    qs = qs.strip()
    while pos < len(qs):
        m = _TOKEN_RE.match(qs, pos)
        if m is None:
            raise ValueError(
                f"query_string syntax error at offset {pos}: "
                f"{qs[pos:pos + 20]!r}")
        pos = m.end()
        occur = {"+": "must", "-": "must_not",
                 None: None}[m.group("occur")]
        boost = float(m.group("boost")) if m.group("boost") else 1.0
        if boost <= 0:
            raise ValueError("clause boost must be > 0")
        fld = m.group("field") or ""
        if m.group("phrase") is not None:
            text = _unescape(m.group("phrase"))
            if not text.strip():
                raise ValueError("empty phrase")
            if fld:
                out.append(QSClause(occur, "meta", text, boost,
                                    field=fld))
            else:
                out.append(QSClause(occur, "phrase", text, boost,
                                    slop=int(m.group("slop") or 0)))
            continue
        raw = m.group("term")
        fuzz = m.group("fuzz")
        if fld:
            if fuzz is not None:
                raise ValueError("fuzzy metadata filters are not "
                                 "supported (field:value~N)")
            mp = raw.endswith("*") and not raw.endswith("\\*")
            out.append(QSClause(occur, "meta",
                                _unescape(raw[:-1] if mp else raw),
                                boost, field=fld, meta_prefix=mp))
            continue
        if fuzz is not None:
            term = _unescape(raw)
            out.append(QSClause(occur, "fuzzy", term, boost,
                                fuzziness=(int(fuzz) if fuzz else
                                           None)))
        elif raw.endswith("*") and not raw.endswith("\\*"):
            stem = _unescape(raw[:-1])
            if not stem:
                raise ValueError("bare '*' is match_all — unbounded; "
                                 "give a prefix stem")
            if "*" in stem:
                raise ValueError("only trailing-* prefix patterns "
                                 "are supported; use search_wildcard "
                                 "for general wildcards")
            out.append(QSClause(occur, "prefix", stem, boost))
        else:
            out.append(QSClause(occur, "term", _unescape(raw), boost))
    for c in out:
        if c.kind == "meta" and c.field not in metadata_fields:
            raise ValueError(f"unknown metadata field {c.field!r}; "
                             f"known: {sorted(metadata_fields)}")
    return out


def _sql_quote(v: str) -> str:
    """Spark SQL string literal: Spark's literal parser treats
    backslash as an escape, so both it and the quote must be doubled
    for the value to round-trip."""
    return "'" + v.replace("\\", "\\\\").replace("'", r"\'") + "'"


def _meta_pred(c: QSClause) -> str:
    """One metadata clause → a Spark SQL predicate over docmap
    columns (pushes down into the docmap parquet scan)."""
    if c.meta_prefix:
        like = c.text.replace("\\", "\\\\").replace("%", r"\%") \
                     .replace("_", r"\_")
        p = f"{c.field} LIKE {_sql_quote(like + '%')}"
    else:
        p = f"{c.field} = {_sql_quote(c.text)}"
    return f"NOT ({p})" if c.occur == "must_not" else p


def compile_query_string(spark: SparkSession, store: IndexStore,
                         qs: str, default_operator: str = "or",
                         max_expansions: int = 50,
                         syn: SynonymDict | None = None,
                         cfg: TokenizerConfig | None = None,
                         doc_where: str | None = None,
                         keep_optional_phrases: bool = False):
    """Parse + compile to ``(plan, doc_where, allow_df, exclude_df)``
    — or ``None`` when an empty required expansion proves the query
    matches nothing (a must prefix/fuzzy with no dictionary terms).

    Round 6: slop-0 phrases no longer spawn separate ``match_ids``
    jobs. Every clause pre-analyzes to its per-position groups on the
    driver, the plan records each phrase's contiguous group slice in
    ``plan.phrase_runs``, and the WAND workers verify adjacency inside
    the ONE grouped-map pass (VERDICT r05 task #2 — the Lucene
    SloppyPhraseMatcher-in-the-scorer shape). Scores and result sets
    are identical: the same groups fold in the same order, and the
    in-worker token-graph walk is the same frontier ``phrase=True``
    runs. Sloppy phrases (slop > 0) keep the distributed id-set gate.

    ``keep_optional_phrases=True`` (optional-phrase mode): bare
    phrases under default_operator='or' are NOT promoted to must.
    Slop-0 optional phrases become 's' runs — scored in-worker only
    when their adjacency verifies — and the return grows a 5th element
    ``[(text, boost, slop)]`` holding ONLY the sloppy leftovers (plus
    the 6th, the must_not clause list for the exhaustive fallback).
    When any phrase needs the exhaustive path, NO phrase becomes a run
    (the score-all scorer cannot gate runs), preserving the legacy
    compose-of-passes execution."""
    if default_operator not in ("or", "and"):
        raise ValueError("default_operator must be 'or' or 'and'")
    bare = "must" if default_operator == "and" else "should"
    clauses = parse_query_string(qs)
    if not clauses:
        raise ValueError("empty query_string")
    meta_cfg = cfg or TokenizerConfig(**store.meta().cfg)
    # runs are representable only when the plan reaches _wand_shard;
    # a sloppy OPTIONAL phrase forces the exhaustive score-all path,
    # whose scorer ignores phrase_runs — so then every phrase stays on
    # the legacy gating (match_ids / opt list)
    use_runs = not (keep_optional_phrases and
                    any(c.kind == "phrase" and c.slop > 0 and
                        (c.occur or bare) == "should"
                        for c in clauses))
    must, should, must_not = [], [], []
    bucket = {"must": must, "should": should, "must_not": must_not}
    # phrase runs per bucket: (offset, n_groups) into that bucket's
    # pre-expanded group list
    runs_in = {"must": [], "should": [], "must_not": []}
    preds: list[str] = []
    allow_df: DataFrame | None = None
    exclude_df: DataFrame | None = None
    opt_phrases: list[tuple[str, float, int]] = []
    dropped_scoring = 0   # positive clauses whose expansion was empty
    for c in clauses:
        occur = c.occur or bare
        if c.kind == "meta":
            # filter context, whatever the operator (a should-meta
            # term would score 0 in ES anyway for practical purposes;
            # strictness documented in the module docstring)
            preds.append(_meta_pred(c))
            continue
        if c.kind == "phrase":
            optional = keep_optional_phrases and occur == "should"
            if use_runs and c.slop == 0:
                pgroups = analyze_query(c.text, meta_cfg, syn)
                dest = occur if optional or occur == "must_not" \
                    else "must"          # non-optional positive: promote
                if not pgroups:
                    if dest == "must":
                        return None      # required phrase matches nothing
                    if optional:
                        dropped_scoring += 1
                    continue             # vacuous must_not / optional
                runs_in[dest].append((len(bucket[dest]), len(pgroups)))
                bucket[dest].extend((g, c.boost) for g in pgroups)
                continue
            if optional:
                opt_phrases.append((c.text, c.boost, c.slop))
                continue
            ids = match_ids(spark, store, c.text, mode="and",
                            phrase=True, syn=syn, cfg=cfg,
                            slop=c.slop)
            if occur == "must_not":
                exclude_df = ids if exclude_df is None else \
                    exclude_df.unionByName(ids)
            else:
                allow_df = ids if allow_df is None else \
                    allow_df.join(ids, "doc_id", "semi")
                must.extend((g, c.boost)
                            for g in analyze_query(c.text, meta_cfg,
                                                   syn))
            continue
        if c.kind == "prefix":
            terms = prefix_terms(spark, store, c.text, max_expansions)
        elif c.kind == "fuzzy":
            terms = [t for t, _d in
                     fuzzy_terms(spark, store, c.text, c.fuzziness,
                                 max_expansions=max_expansions)]
        else:
            bucket[occur].extend(
                (g, c.boost)
                for g in analyze_query(c.text, meta_cfg, syn))
            continue
        if not terms:
            if occur == "must":
                return None            # required clause matches nothing
            if occur == "should":
                dropped_scoring += 1   # vacuous optional clause
            continue                   # vacuous should / must_not
        bucket[occur].append((terms, c.boost))
    has_srun = bool(runs_in["should"])
    if not (must or should or opt_phrases):
        if dropped_scoring:
            # the user DID give scoring clauses — they just expand to
            # nothing ('zzzz*' with no matching dictionary term). ES
            # returns 0 hits, not an error
            return None
        raise ValueError(
            "query_string needs at least one scoring clause (pure "
            "must_not / filter queries have no ranking signal — ES "
            "gives every doc score 0; use match_ids for those)")
    plan = plan_bool(spark, store, must or None, should or None,
                     must_not or None, syn=syn, cfg=cfg) \
        if (must or should) else None
    if plan is not None:
        # bucket-local run offsets -> global group indices (plan_bool
        # orders groups must, should, must_not)
        runs = [(off, n) for off, n in runs_in["must"]]
        runs += [(len(must) + off, n) for off, n in runs_in["should"]]
        runs += [(len(must) + len(should) + off, n)
                 for off, n in runs_in["must_not"]]
        plan.phrase_runs = runs or None
    # a must_not-phrase-only query has no plan; its exclusion set was
    # routed via match_ids above only when use_runs was off — with
    # runs on and no plan we cannot gate, but that state is impossible
    # here: runs imply groups, groups imply a plan unless the run was
    # must_not-only and the query had no scoring clause, which raised.
    where = " AND ".join(f"({p})" for p in preds) if preds else None
    if doc_where is not None:
        where = f"({doc_where})" if where is None \
            else f"{where} AND ({doc_where})"
    if keep_optional_phrases:
        return (plan, where, allow_df, exclude_df, opt_phrases,
                [g for g, _b in must_not])
    return plan, where, allow_df, exclude_df


def query_string(spark: SparkSession, store: IndexStore, qs: str,
                 k: int = 10, default_operator: str = "or",
                 max_expansions: int = 50,
                 syn: SynonymDict | None = None,
                 cfg: TokenizerConfig | None = None,
                 doc_where: str | None = None,
                 after: tuple | None = None,
                 optional_phrases: bool = False) -> DataFrame:
    """Ranked BM25 top-k for a query_string (grammar in the module
    docstring). ``doc_where`` ANDs an extra metadata predicate onto
    any ``field:value`` clauses; ``after=(score, doc_id)`` is
    search_after pagination, same contract as ``search``.

    ``optional_phrases=True`` removes the documented deviation: bare
    phrases under default_operator='or' stay OPTIONAL — a doc can
    rank on its other clauses alone, and an adjacency-verified phrase
    adds its gram scores on top (true Lucene OR semantics). This runs
    on the exhaustive score-all path (WAND can't bound a
    per-clause-positional disjunction), so reach for it the way you
    reach for aggregations: correctness over latency. Default msm
    semantics only; ``after`` is unsupported there."""
    if optional_phrases:
        if after is not None:
            raise ValueError("after-pagination is not supported with "
                             "optional_phrases=True")
        compiled = compile_query_string(
            spark, store, qs, default_operator, max_expansions, syn,
            cfg, doc_where, keep_optional_phrases=True)
        empty = spark.createDataFrame([], "doc_id long, score double")
        if compiled is None:
            return empty
        plan, where, allow_df, exclude_df, phrases, not_clauses = \
            compiled
        if not phrases:
            # every phrase is a slop-0 run: ONE WAND pass, the workers
            # gate/score each phrase slice in place (round 6; was the
            # exhaustive score-all path for every optional phrase)
            if plan is None:
                return empty
            return _wand_topk(spark, store, store.meta(), plan, k,
                              "or", False, None, where, allow_df,
                              exclude_df)
        return _query_string_exhaustive(
            spark, store, k, compiled, syn, cfg)
    compiled = compile_query_string(spark, store, qs,
                                    default_operator, max_expansions,
                                    syn, cfg, doc_where)
    if compiled is None:
        return spark.createDataFrame([], "doc_id long, score double")
    plan, where, allow_df, exclude_df = compiled
    meta = store.meta()
    return _wand_topk(spark, store, meta, plan, k, "or", False,
                      after, where, allow_df, exclude_df)


def _query_string_exhaustive(spark: SparkSession, store: IndexStore,
                             k: int, compiled, syn, cfg) -> DataFrame:
    """Optional-phrase execution for SLOPPY optional phrases (slop-0
    ones ride the WAND workers as runs — see ``query_string``): score
    the non-phrase plan and each should-phrase's gram plan with the
    declarative score-all scorer, gate each phrase side by its
    adjacency id set, and fold the sides in FIXED clause order via
    outer joins (deterministic float summation). Must/filter gates
    keep docs restricted to the base side's survivors; must_not
    (terms and phrases) excludes globally."""
    from .query import analyze_query, match_ids, plan_query, \
        score_matches
    from .tokenizer import TokenizerConfig
    empty = spark.createDataFrame([], "doc_id long, score double")
    plan, where, allow_df, exclude_df, phrases, not_clauses = compiled
    meta = store.meta()
    cfg = cfg or TokenizerConfig(**meta.cfg)

    sides: list[DataFrame] = []
    if plan is not None:
        sides.append(
            score_matches(spark, store, "", plan=plan,
                          doc_where=where).select("doc_id", "score"))
    for text, boost, slop in phrases:
        pplan = plan_query(spark, store, text, syn, cfg)
        if not pplan.groups:
            continue
        pplan.idfs = [x * float(boost) for x in pplan.idfs]
        ids = match_ids(spark, store, text, mode="and", phrase=True,
                        syn=syn, cfg=cfg, slop=slop)
        ps = score_matches(spark, store, "", plan=pplan,
                           doc_where=where).select("doc_id", "score")
        sides.append(ps.join(ids, "doc_id", "semi"))
    if not sides:
        return empty

    has_must = plan is not None and any(kk in "mf" for kk in
                                        (plan.kinds or []))
    tot = sides[0].withColumnRenamed("score", "s0")
    for i, s in enumerate(sides[1:], 1):
        tot = tot.join(s.withColumnRenamed("score", f"s{i}"),
                       "doc_id", "left" if has_must else "full")
    score = F.lit(0.0)
    for i in range(len(sides)):
        score = score + F.coalesce(F.col(f"s{i}"), F.lit(0.0))
    tot = tot.select("doc_id", score.alias("score"))

    # must_not exclusion applies to the phrase sides too (the base
    # plan already gates its own side; double exclusion is harmless)
    nx: list[list[str]] = []
    for cl in not_clauses:
        body = cl[0] if isinstance(cl, tuple) else cl
        if isinstance(body, str):
            nx.extend(analyze_query(body, cfg, syn))
        else:                          # pre-expanded group
            nx.append(list(body))
    if nx:
        xids = match_ids(spark, store, groups=nx, mode="or")
        tot = tot.join(xids, "doc_id", "anti")
    if exclude_df is not None:
        tot = tot.join(exclude_df.select("doc_id").distinct(),
                       "doc_id", "anti")
    if allow_df is not None:
        tot = tot.join(allow_df.select("doc_id").distinct(),
                       "doc_id", "semi")
    return top_k(tot, k, store.meta().n_docs)
