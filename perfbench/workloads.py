"""The benchmark workloads: ingest and query.

Each workload has a ``setup`` (repeated to time it), an untimed
``warmup``, a ``round`` the measured loop repeats a fixed number of times
(``rounds`` in ``SIZES``), and a ``check`` that compares the outputs
against the in-repo oracles. Every engine call goes through
``Workload.call``, which times it under its own Spark job group and
counts an exception as a failed operation.
"""

from __future__ import annotations

import shutil
import statistics
import time
from collections import defaultdict

import numpy as np

from synspark.deletes import delete_docs
from synspark.index_store import IndexStore, append_to_index, build_index
from synspark.query import (analyze_query, score_naive, search,
                            search_batch, search_bool, terms_agg)
from synspark.querystring import query_string
from synspark.rank import search_collapsed
from synspark.synonyms import SynonymDict
from synspark.tokenizer import TokenizerConfig

import datagen

CFG = TokenizerConfig(n=2, expand=True, ignore_case=True)
SYN = SynonymDict.parse(datagen.SYNONYMS)

# sizes per scale; "small" is what the smoke test runs. The measured loop
# runs exactly ``rounds`` rounds, whatever the clock says, so a faster
# engine is measured on the same work as a slower one
SIZES = {
    "default": {
        "ingest": {"docs": 1000, "append_docs": 200, "delete_ids": 20,
                   "rounds": 3},
        "query": {"docs": 1500, "queries_per_batch": 16, "rounds": 11},
    },
    "small": {
        "ingest": {"docs": 400, "append_docs": 50, "delete_ids": 5,
                   "rounds": 2},
        "query": {"docs": 400, "queries_per_batch": 4, "rounds": 11},
    },
}


def rows(df) -> list[tuple[int, float]]:
    """Ranked (doc_id, score) with scores rounded as the parity tests do."""
    return [(int(r["doc_id"]), round(float(r["score"]), 9))
            for r in df.collect()]


def median(xs):
    return statistics.median(xs) if xs else float("nan")


def tail(xs) -> tuple[float, float] | None:
    """(percentile, value) of the highest percentile that still has at
    least 10 samples above it; None unless that percentile is above the
    median (22 samples or more)."""
    n = len(xs)
    if n < 22:
        return None
    s = sorted(xs)
    return 100.0 * (n - 11) / (n - 1), s[n - 11]


class Workload:
    name = ""
    item_unit = "items"

    def __init__(self, spark, seed: int, scale: str, tracer, outcomes,
                 work_dir):
        self.spark = spark
        self.seed = seed
        self.size = SIZES[scale][self.name]
        self.rounds = self.size["rounds"]
        self.tracer = tracer
        self.out = outcomes
        self.work = work_dir
        self.lat = defaultdict(list)     # call class -> seconds
        self.corrupt = False             # self-test: falsify one output

    def call(self, cls: str, layer: str, fn):
        """Time one engine call; returns (result, wall seconds). ``cls`` is
        the request class the call's own time is reported under, ``layer``
        the module the call enters (the span name). The wall time also
        covers what tracing adds to the call (the span and its
        statusTracker queries), so a traced round is slower than an
        untraced one by the tracer's cost."""
        t = time.perf_counter()
        res, dt, _ = self.tracer.timed(
            layer, lambda: self.out.attempt(fn))
        wall = time.perf_counter() - t
        self.lat[cls].append(dt)
        return res, wall

    def fresh_dir(self, name: str) -> str:
        p = self.work / name
        shutil.rmtree(p, ignore_errors=True)
        return str(p)

    def start(self) -> int:
        """Open the measured phase; returns items already done."""
        return 0

    def check(self):
        """Oracle checks that run after the measured loop."""

    def class_p50(self, cls: str, name: str) -> tuple:
        return (name, median(self.lat[cls]), "s", len(self.lat[cls]))


class Ingest(Workload):
    """A bulk build (the set-up), then rounds of append → delete → search
    on the growing store, with the stats and deleted ids checked after
    every write."""
    name = "ingest"
    item_unit = "docs"

    def __init__(self, *args):
        super().__init__(*args)
        self.build_times: list[float] = []

    def setup(self):
        pdf = datagen.corpus(self.seed, self.size["docs"])
        self.pdf = pdf
        self.text_bytes = int(pdf["content"].str.encode("utf-8")
                              .str.len().sum())
        corpus = self.spark.createDataFrame(pdf)
        t = time.perf_counter()
        self.store = build_index(self.spark, corpus, self.fresh_dir("store"),
                                 cfg=CFG, syn=SYN, n_shards=None,
                                 resume=False)
        self.build_times.append(time.perf_counter() - t)
        self.segment_bytes = self.store.stats()["segment_bytes"]
        self.stream = datagen.QueryStream(pdf, self.seed)

    def warmup(self):
        """One full round, untimed: the first append, delete and search
        of a process pay one-off costs the later rounds do not."""
        self.n_docs = self.size["docs"]
        self.deleted: set[int] = set()
        self.appends = 0
        self.check_stats("build")
        self.round()
        self.lat.clear()

    def check_stats(self, after: str):
        st = self.store.stats()
        self.out.check(st["n_docs"] == self.n_docs
                       and st["n_deleted"] == len(self.deleted),
                       f"ingest stats after {after}: {st['n_docs']}/"
                       f"{st['n_deleted']} != {self.n_docs}/"
                       f"{len(self.deleted)}")

    def round(self) -> tuple[float, int]:
        i = self.appends
        n_new = self.size["append_docs"]
        batch = self.spark.createDataFrame(
            datagen.append_batch(self.seed, self.size["docs"], i, n_new))
        store, t_app = self.call(
            "append", "index_store.append_to_index",
            lambda: append_to_index(self.spark, self.store, batch, syn=SYN,
                                    batch_tag=f"append-{i}"))
        self.store = store or self.store
        self.appends += 1
        self.n_docs += n_new
        self.check_stats(f"append {i}")
        live = np.setdiff1d(np.arange(self.n_docs),
                            np.fromiter(self.deleted, dtype=np.int64))
        ids = datagen.delete_set(self.seed, i, live,
                                 self.size["delete_ids"])
        store, t_del = self.call(
            "delete", "deletes.delete_docs",
            lambda: delete_docs(self.spark, self.store, doc_ids=ids,
                                batch_tag=f"delete-{i}"))
        self.store = store or self.store
        self.deleted.update(ids)
        self.check_stats(f"delete {i}")
        text = self.stream.text(2)
        hits, t_q = self.call(
            "fresh_query", "query.search",
            lambda: rows(search(self.spark, self.store, text, k=10,
                                mode="or", syn=SYN)))
        returned = {d for d, _ in hits or []}
        if self.corrupt:
            returned.add(next(iter(self.deleted)))
        self.out.check(not returned & self.deleted,
                       f"ingest: deleted ids returned for {text!r}")
        return t_app + t_del + t_q, n_new

    def sizes(self):
        return {**self.size, "text_bytes": self.text_bytes,
                "store_bytes": self.segment_bytes}

    def report(self):
        """(name, value, unit, n) lines of the workload's own metrics."""
        return [
            ("build_docs_per_s", self.size["docs"] / median(self.build_times),
             "docs/s", len(self.build_times)),
            ("index_bytes_per_input_byte",
             self.segment_bytes / self.text_bytes, "ratio", 1),
            self.class_p50("append", "append_p50_s"),
            self.class_p50("delete", "delete_p50_s"),
            self.class_p50("fresh_query", "fresh_query_p50_s"),
        ]


class Query(Workload):
    """Requests against one prebuilt store, one at a time, in a fixed
    cycle of templates: ``match``, ``phrase`` and ``agg`` requests draw
    their words from a Zipf-skewed pool (terms repeat, so the driver-side
    term_dfs memo warms), while each ``batch`` request is a
    ``search_batch`` of queries with an unseen word each (memo misses)."""
    name = "query"
    item_unit = "requests"
    # the loop runs whole cycles, so every run has the same class mix
    CYCLE = ("match_and", "phrase", "batch", "qs_phrase", "match_msm",
             "collapse", "qs_sloppy", "match_k1000", "bool", "qs_optional",
             "terms_agg")
    WARM = ("match_and", "qs_phrase", "collapse")

    def __init__(self, *args):
        super().__init__(*args)
        assert self.rounds % len(self.CYCLE) == 0, "whole cycles only"

    def setup(self):
        pdf = datagen.corpus(self.seed, self.size["docs"])
        self.pdf = pdf
        corpus = self.spark.createDataFrame(pdf)
        self.built = build_index(self.spark, corpus, self.fresh_dir("store"),
                                 cfg=CFG, syn=SYN, n_shards=None,
                                 resume=False)
        self.stream = datagen.QueryStream(pdf, self.seed)

    def warmup(self):
        for t in self.WARM:
            self._request(self.built, t, record=False)

    def start(self) -> int:
        # a fresh handle: the driver-side term_dfs memo starts empty
        self.store = IndexStore(str(self.built.path))
        self.seen_terms: set[str] = set()
        self.memo_hits = {"single": [], "batch": []}
        self.recorded = []
        self.batches = []
        return 0

    def round(self) -> tuple[float, int]:
        n = sum(map(len, self.memo_hits.values()))
        return self._request(self.store, self.CYCLE[n % len(self.CYCLE)],
                             record=True)

    def note_terms(self, kind: str, texts: list[str]) -> None:
        """Track whether every term of a request appeared earlier."""
        terms = {t for x in texts for g in analyze_query(x, CFG, SYN)
                 for t in g}
        self.memo_hits[kind].append(terms <= self.seen_terms)
        self.seen_terms |= terms

    def _request(self, store, t: str, record: bool) -> tuple[float, int]:
        sp, s = self.spark, self.stream
        if t.startswith("match"):
            text = s.text(3 if t == "match_k1000" else 2)
            mode = "and" if t == "match_and" else "or"
            k = 1000 if t == "match_k1000" else 10
            msm = 2 if t == "match_msm" else None
            fn = (lambda: rows(search(sp, store, text, k=k, mode=mode,
                                      min_should_match=msm, syn=SYN)))
            cls, layer, texts = "match", "query.search", [text]
        elif t == "bool":
            w = s.words(4)
            fn = (lambda: rows(search_bool(sp, store, must=w[0],
                                           should=f"{w[1]} {w[2]}",
                                           must_not=w[3], k=10, syn=SYN)))
            cls, layer, texts = "match", "query.search_bool", w
        elif t == "phrase":
            text = " ".join(s.phrase(2))
            fn = (lambda: rows(search(sp, store, text, k=10, mode="and",
                                      phrase=True, syn=SYN)))
            cls, layer, texts = "phrase", "query.search", [text]
        elif t.startswith("qs_"):
            a, b = s.phrase(2, safe=True)
            w = s.safe_word()
            if t == "qs_sloppy":
                # sloppy phrases take two positions: two one-bigram words
                a, b = s.r.choice(datagen.TWO_CHAR_WORDS, size=2)
            qs = {"qs_phrase": f'"{a} {b}"', "qs_sloppy": f'"{a} {b}"~2 {w}',
                  "qs_optional": f'{w} "{a} {b}"'}[t]
            fn = (lambda: rows(query_string(
                sp, store, qs, k=10, syn=SYN,
                optional_phrases=(t == "qs_optional"))))
            cls, layer, texts = "phrase", "querystring.query_string", \
                [a, b, w]
        elif t == "terms_agg":
            text = s.text(2)
            fn = (lambda: [tuple(r) for r in terms_agg(
                sp, store, "lang", text, mode="and", syn=SYN).collect()])
            cls, layer, texts = "agg", "query.terms_agg", [text]
        elif t == "collapse":
            text = s.text(2)
            fn = (lambda: [tuple(r) for r in search_collapsed(
                sp, store, "repo", text, mode="or", syn=SYN,
                k=10).collect()])
            cls, layer, texts = "agg", "rank.search_collapsed", [text]
        else:
            texts = [s.unseen_text()
                     for _ in range(self.size["queries_per_batch"])]
            fn = (lambda: [(int(r["query_id"]), int(r["doc_id"]),
                            round(float(r["score"]), 9))
                           for r in search_batch(sp, store, texts, k=10,
                                                 mode="or",
                                                 syn=SYN).collect()])
            cls, layer = "batch", "query.search_batch"
        if not record:
            fn()
            return 0.0, 0
        self.note_terms("batch" if cls == "batch" else "single", texts)
        res, dt = self.call(cls, layer, fn)
        if cls == "batch":
            self.batches.append((texts, res))
        elif t in ("match_and", "match_k1000"):
            self.recorded.append((texts[0], k, mode, res))
        return dt, 1

    def naive_check(self, text: str, k: int, mode: str, got, what: str):
        want = rows(score_naive(self.spark, self.store, text, k=k,
                                mode=mode, syn=SYN))
        if self.corrupt:
            got = got + [(-1, 0.0)]
        self.out.check(got == want, f"{what}: WAND top-{k} != score_naive "
                       f"for {text!r} mode={mode}")

    def check(self):
        """One seeded plain search request against the declarative BM25
        oracle; the rows of one seeded query of one batch request against
        its own ``search`` and the oracle."""
        r = datagen.rng(self.seed, datagen.CHECKS)
        if self.recorded:
            text, k, mode, got = self.recorded[int(r.integers(
                len(self.recorded)))]
            self.naive_check(text, k, mode, got, "match")
        if not self.batches:
            return
        texts, res = self.batches[int(r.integers(len(self.batches)))]
        qi = int(r.integers(len(texts)))
        got = [(d, sc) for q, d, sc in res or [] if q == qi]
        one = rows(search(self.spark, self.store, texts[qi], k=10,
                          mode="or", syn=SYN))
        self.out.check(got == one, f"batch: rows of query {qi} != "
                       f"search({texts[qi]!r})")
        self.naive_check(texts[qi], 10, "or", got, "batch")

    def sizes(self):
        st = self.built.stats()
        return {**self.size, "store_bytes": st["segment_bytes"],
                "n_shards": st["n_shards"], "term_pool": len(self.stream.pool)}

    def report(self):
        single = [x for c in ("match", "phrase", "agg") for x in self.lat[c]]
        out = [("query_p50_s", median(single), "s", len(single))]
        tl = tail(single)
        if tl is not None:
            out.append((f"query_p{tl[0]:.0f}_s", tl[1], "s", len(single)))
        n_batch = self.size["queries_per_batch"] * len(self.lat["batch"])
        out += [self.class_p50("match", "match_p50_s"),
                self.class_p50("phrase", "phrase_p50_s"),
                self.class_p50("agg", "agg_p50_s"),
                ("batch_qps", n_batch / max(sum(self.lat["batch"]), 1e-9),
                 "queries/s", len(self.lat["batch"])),
                ("memo_hit_share", float(np.mean(self.memo_hits["single"])),
                 "share", len(self.memo_hits["single"])),
                ("batch_memo_hit_share",
                 float(np.mean(self.memo_hits["batch"] or [0])), "share",
                 len(self.memo_hits["batch"]))]
        return out


WORKLOADS = {w.name: w for w in (Ingest, Query)}
