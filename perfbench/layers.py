"""Per-layer probe of the traced run.

Each layer is timed by calling that module's public function from here,
on the workload's own data: its corpus sample, its query texts and its
store. The probe's writes go to a probe store built from the sample.
Every call runs under its own job group, so the counts come from
``statusTracker``. Values marked "derived" are differences of measured
calls, not spans of their own.
"""

from __future__ import annotations

import hashlib
from collections import defaultdict

import numpy as np
from pyspark.sql import functions as F

from synspark.codec import decode_block, encode_blocks
from synspark.datapipe.dedup import (dedup_drop_list, jaccard_pairs,
                                     lsh_candidate_pairs,
                                     minhash_signatures, simhash,
                                     simhash_near_dups, word_shingles)
from synspark.deletes import delete_docs
from synspark.index_store import IndexStore, append_to_index, build_index
from synspark.indexer import build_segments_maponly
from synspark.query import analyze_query, plan_query, search, search_batch
from synspark.querystring import query_string
from synspark.rank import search_collapsed
from synspark.tokenizer import positions, tokenize

import datagen
from workloads import CFG, SYN, rows

PROBE_DOCS = {"default": 800, "small": 200}
PROBE_TOKENIZE_DOCS = 200     # the pure-Python probes (tokenize, codec)

# every per-layer metric the traced run reports, with its unit
UNITS = {
    "session.start_s": "s",
    "tokenizer.docs_per_s": "docs/s",
    "tokenizer.tokens_per_doc": "count",
    "indexer.segments_s": "s",
    "index_store.commit_s": "s",
    "index_store.jobs_per_build": "count",
    "codec.encode_postings_per_s": "1/s",
    "codec.bytes_per_posting": "B",
    "codec.decode_postings_per_s": "1/s",
    "index_store.term_dfs_cold_s": "s",
    "index_store.term_dfs_warm_s": "s",
    "index_store.segments_scan_s": "s",
    "index_store.n_shards": "count",
    "index_store.stats_batches": "count",
    "query.plan_s": "s",
    "query.worker_s": "s",
    "query.jobs_per_op": "count",
    "query.tasks_per_op": "count",
    "query.batch_call_s": "s",
    "query.jobs_per_batch": "count",
    "querystring.call_s": "s",
    "querystring.jobs_per_op": "count",
    "rank.collapse_s": "s",
    "rank.jobs_per_op": "count",
    "index_store.append_s": "s",
    "deletes.delete_s": "s",
    "deletes.jobs_per_op": "count",
    "dedup.drop_list_s": "s",
    "dedup.shingles_s": "s",
    "dedup.minhash_s": "s",
    "dedup.lsh_s": "s",
    "dedup.simhash_sig_s": "s",
    "dedup.simhash_pairs_s": "s",
    "dedup.pairs_verified_over_candidates": "ratio",
    "spark.failed_tasks": "count",
    "trace.loop_p50_s": "s",
    "trace.overhead_s": "s",
}


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _invert(token_lists) -> dict:
    """term -> (doc ids, tfs, positions concatenated, doc lengths)."""
    acc = defaultdict(lambda: ([], [], [], []))
    for doc, toks in enumerate(token_lists):
        pos = positions(toks)
        per_term = defaultdict(list)
        for (term, *_), p in zip(toks, pos):
            per_term[term].append(p)
        for term, ps in per_term.items():
            d, tf, pp, dl = acc[term]
            d.append(doc)
            tf.append(len(ps))
            pp.extend(ps)
            dl.append(len(toks))
    return {t: tuple(np.asarray(x, dtype=np.int64) for x in v)
            for t, v in acc.items()}


def exact_dup_oracle(texts) -> set[int]:
    """Ids an exact dedup drops: every member of an md5 group but its
    minimum id."""
    md5 = texts["text"].map(lambda t: hashlib.md5(t.encode()).hexdigest())
    keep = texts.groupby(md5)["doc_id"].transform("min")
    return set(texts["doc_id"][texts["doc_id"] != keep].tolist())


def _encoded_bytes(rec: dict) -> int:
    return sum(len(rec[k] or b"") for k in
               ("doc_bytes", "tf_bytes", "dl_bytes", "imp_bytes",
                "pos_bytes", "pl_bytes"))


def probe(w, tracer, scale: str) -> dict[str, float]:
    sp, m, timed = w.spark, {}, tracer.timed

    pdf = w.pdf.iloc[:PROBE_DOCS[scale]]
    texts = pdf["content"].tolist()[:PROBE_TOKENIZE_DOCS]

    # tokenizer: pure Python, on a doc sample
    toks, dt, _ = timed("tokenizer.tokenize",
                        lambda: [tokenize(t, CFG, SYN) for t in texts])
    m["tokenizer.docs_per_s"] = len(texts) / dt
    m["tokenizer.tokens_per_doc"] = float(np.mean([len(t) for t in toks]))

    # codec encode: the sample's postings, block-encoded term by term
    inv = _invert(toks)

    def encode():
        return [r for d, tf, pp, dl in inv.values()
                for r in encode_blocks(d, tf, pp, dl)]

    recs, dt, _ = timed("codec.encode_blocks", encode)
    n_post = sum(len(v[0]) for v in inv.values())
    m["codec.encode_postings_per_s"] = n_post / dt
    m["codec.bytes_per_posting"] = sum(map(_encoded_bytes, recs)) / n_post

    # index_store: the whole build of the sample (the probe store), then
    # indexer: its map-only segment build, same shard count, into a noop
    # sink; commit = build - segments (derived)
    docs_df = sp.createDataFrame(pdf).cache()
    docs_df.count()
    pstore, build_s, c = timed("index_store.build_index", lambda: build_index(
        sp, docs_df, w.fresh_dir("probe"), cfg=CFG, syn=SYN,
        n_shards=None, resume=False))
    m["index_store.jobs_per_build"] = c["jobs"]
    n_shards = pstore.stats()["n_shards"]
    _, seg_s, _ = timed("indexer.build_segments_maponly", lambda: _noop(
        build_segments_maponly(docs_df, CFG, SYN, n_docs=len(pdf),
                               n_shards=n_shards)))
    m["indexer.segments_s"] = seg_s
    m["index_store.commit_s"] = build_s - seg_s

    main = w.store
    qtexts = [w.stream.text(2) for _ in range(8)]
    terms = sorted({t for q in qtexts for g in analyze_query(q, CFG, SYN)
                    for t in g})

    fresh = IndexStore(str(main.path))
    _, m["index_store.term_dfs_cold_s"], _ = timed(
        "index_store.term_dfs", lambda: fresh.term_dfs(sp, terms))
    _, m["index_store.term_dfs_warm_s"], _ = timed(
        "index_store.term_dfs", lambda: fresh.term_dfs(sp, terms))

    # query: the segment scan of one query's terms, its planning, then
    # the whole search, each on a fresh handle so planning and search
    # both pay the term_dfs lookup. worker = search - plan - scan
    # (derived, approximate): the scan is a job of its own, so its fixed
    # launch cost is taken off along with the scan itself
    q = qtexts[0]
    q_terms = sorted({t for g in analyze_query(q, CFG, SYN) for t in g})
    _, scan_s, _ = timed("index_store.segments_scan", lambda: _noop(
        main.segments(sp).filter(F.col("term").isin(q_terms))))
    m["index_store.segments_scan_s"] = scan_s
    _, plan_s, _ = timed("query.plan_query", lambda: plan_query(
        sp, IndexStore(str(main.path)), q, SYN))
    _, search_s, c = timed("query.search", lambda: rows(search(
        sp, IndexStore(str(main.path)), q, k=10, mode="or", syn=SYN)))
    m["query.plan_s"] = plan_s
    m["query.worker_s"] = search_s - plan_s - scan_s
    m["query.jobs_per_op"] = c["jobs"]
    m["query.tasks_per_op"] = c["tasks"]

    # codec decode: the stored blocks of the probe's terms
    blocks = (main.segments(sp).filter(F.col("term").isin(terms))
              .select("first_doc", "doc_bytes", "tf_bytes", "n_docs")
              .toPandas())

    def decode():
        return sum(len(decode_block(int(f), d, t, int(n))[0]) for f, d, t, n
                   in blocks.itertuples(index=False))

    n_dec, dt, _ = timed("codec.decode_block", decode)
    m["codec.decode_postings_per_s"] = n_dec / dt

    _, m["query.batch_call_s"], c = timed("query.search_batch", lambda: (
        search_batch(sp, fresh, qtexts, k=10, mode="or", syn=SYN).collect()))
    m["query.jobs_per_batch"] = c["jobs"]

    a, b = w.stream.phrase(2, safe=True)
    _, m["querystring.call_s"], c = timed(
        "querystring.query_string", lambda: rows(query_string(
            sp, fresh, f'"{a} {b}" {w.stream.safe_word()}', k=10,
            syn=SYN)))
    m["querystring.jobs_per_op"] = c["jobs"]

    _, m["rank.collapse_s"], c = timed(
        "rank.search_collapsed", lambda: search_collapsed(
            sp, fresh, "repo", qtexts[2], mode="or", syn=SYN,
            k=10).collect())
    m["rank.jobs_per_op"] = c["jobs"]

    # writes go to the probe store, never to the workload's own store
    extra = sp.createDataFrame(datagen.corpus(
        w.seed, max(20, len(pdf) // 8), offset=datagen.PROBE_OFFSET))
    pstore, m["index_store.append_s"], _ = timed(
        "index_store.append_to_index",
        lambda: append_to_index(sp, pstore, extra, syn=SYN))
    _, m["deletes.delete_s"], c = timed(
        "deletes.delete_docs", lambda: delete_docs(
            sp, pstore, doc_ids=list(range(0, len(pdf), 50))))
    m["deletes.jobs_per_op"] = c["jobs"]

    st = main.stats()
    m["index_store.n_shards"] = st["n_shards"]
    m["index_store.stats_batches"] = st["stats_batches"]

    # dedup: the composite drop list, then each stage materialized so its
    # time is its own; the outputs are checked against pandas
    texts = datagen.with_clones(pdf, w.seed, max(4, len(pdf) // 50),
                                max(2, len(pdf) // 100))
    dd = sp.createDataFrame(texts).cache()
    dd.count()
    drops, m["dedup.drop_list_s"], _ = timed(
        "dedup.dedup_drop_list", lambda: dedup_drop_list(
            dd, threshold=0.5).collect())
    exact = {int(r["doc_id"]) for r in drops if r["reason"] == "exact"}
    if w.corrupt:
        exact ^= {-1}
    w.out.check(exact == exact_dup_oracle(texts),
                "dedup: exact drops != pandas md5 grouping")
    sh, m["dedup.shingles_s"], _ = timed(
        "dedup.word_shingles", lambda: word_shingles(dd).localCheckpoint())
    sig, m["dedup.minhash_s"], _ = timed(
        "dedup.minhash_signatures",
        lambda: minhash_signatures(sh).localCheckpoint())
    cand, m["dedup.lsh_s"], _ = timed(
        "dedup.lsh_candidate_pairs",
        lambda: lsh_candidate_pairs(sig).localCheckpoint())
    n_cand = cand.count()
    n_ver = jaccard_pairs(sh, candidates=cand, threshold=0.5).count()
    m["dedup.pairs_verified_over_candidates"] = n_ver / max(n_cand, 1)
    sim, m["dedup.simhash_sig_s"], _ = timed(
        "dedup.simhash", lambda: simhash(dd).localCheckpoint())
    pairs, m["dedup.simhash_pairs_s"], _ = timed(
        "dedup.simhash_near_dups",
        lambda: simhash_near_dups(sim, max_hamming=3).collect())
    clones = {(d - datagen.EXACT_CLONE, d) for d in texts["doc_id"]
              if datagen.EXACT_CLONE <= d < datagen.NEAR_CLONE}
    w.out.check(clones <= {(int(r["a"]), int(r["b"])) for r in pairs},
                "dedup: an exact clone pair is missing from the simhash "
                "pairs")
    dd.unpersist()
    docs_df.unpersist()
    return m
