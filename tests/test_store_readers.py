"""Store readers: pinned schemas, one-scan term_dfs, per-request Spark
job counts, labelled writer threads, and user-sized k clamped to the
store.

Every read of a store dataset passes its schema to ``spark.read``
(index_store.STORE_SCHEMAS), which skips Spark's footer-inference job
— so a writer that drifts from the pinned schema would silently lose a
column instead of failing. These tests pin writers to the constants
across the whole lifecycle (build, appends with a stats fold, deletes,
an incremental merge, a purging compact) and pin the job floor the
pinned readers buy.
"""

import time
import uuid

import pytest

from synspark.deletes import delete_docs, merge_shards
from synspark.index_store import (STORE_SCHEMAS, IndexStore,
                                  _run_concurrent, append_to_index,
                                  build_index, compact_index)
from synspark.query import score_naive, search
from synspark.tokenizer import TokenizerConfig

CFG = TokenizerConfig(n=2, expand=False, ignore_case=True)


def _corpus(spark, n, start=0):
    rows = [(f"r{i:03d}", "f", "c", "py" if i % 3 else "go",
             f"data sort merge row {i} " + ("data " * (i % 5))
             + f"unique{i}")
            for i in range(start, start + n)]
    return spark.createDataFrame(
        rows, "repo string, path string, commit string, lang string, "
              "content string")


def _types(schema) -> dict:
    return {f.name: f.dataType for f in schema}


def _jobs(spark, fn) -> int:
    """Spark jobs ``fn`` runs, counted under a fresh job group."""
    sc = spark.sparkContext
    group = f"count-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "count jobs")
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    # the status store is fed by the async listener bus
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


def _term_dfs_match_termstats(spark, path):
    fresh = IndexStore(path)
    want = {r.term: r.df for r in fresh.termstats(spark).collect()}
    terms = sorted(want) + ["absent-term"]
    got = IndexStore(path).term_dfs(spark, terms)
    assert got == {**want, "absent-term": 0}


@pytest.fixture(scope="module")
def lifecycle(spark, tmp_path_factory):
    """A store through every writer: build, three appends (the second
    folds the stats deltas), a delete, an incremental merge (signed
    termstats delta, purged record, rewritten tombstones)."""
    root = tmp_path_factory.mktemp("readers")
    path = str(root / "idx")
    store = build_index(spark, _corpus(spark, 120), path, cfg=CFG,
                        n_shards=3, resume=False)
    for i in range(3):
        store = append_to_index(spark, store,
                                _corpus(spark, 30, start=200 + 30 * i),
                                fold_stats_every=2)
    assert len(store.meta().stats_batches) == 2     # fold + one delta
    _term_dfs_match_termstats(spark, path)
    delete_docs(spark, store, doc_ids=[0, 1, 2, 5, 130, 131])
    merge_shards(spark, store, shards=[0])
    meta = store.meta()
    assert meta.purged_batches and meta.delete_batches
    assert len(meta.stats_batches) == 3             # + signed delta
    return store, root


def test_store_schemas(spark, lifecycle):
    """Every dataset's on-disk (inferred) schema equals its pinned
    constant, before and after a purging compact; the docmap reader's
    per-handle schema equals the inferred one."""
    store, root = lifecycle
    purged = compact_index(spark, store, str(root / "purged"))
    for st, present in ((store, set(STORE_SCHEMAS)),
                        (purged, {"segments", "termstats", "docstats"})):
        assert {n for n in STORE_SCHEMAS
                if (st.path / n).exists()} == present
        for name in present:
            disk = spark.read.parquet(str(st.path / name)).schema
            assert _types(disk) == _types(STORE_SCHEMAS[name]), name
            assert _types(st._read(spark, name).schema) == _types(disk)
        disk = spark.read.parquet(str(st.path / "docmap")).schema
        assert _types(IndexStore(str(st.path)).docmap(spark).schema) \
            == _types(disk)


def test_term_dfs_equals_termstats_after_merge(spark, lifecycle):
    """The one-scan term_dfs sums the same committed deltas as the
    termstats() aggregate — including the merge's negative ones."""
    store, _ = lifecycle
    _term_dfs_match_termstats(spark, str(store.path))


@pytest.fixture(scope="module")
def clean_store(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("readers_clean")
    return build_index(spark, _corpus(spark, 60), str(root / "idx"),
                       cfg=CFG, n_shards=2, resume=False)


def test_request_job_counts(spark, clean_store):
    """Delete-free store: a cold search is at most 3 jobs (term_dfs
    scan + the WAND pass), a memo hit at most 2, a term_dfs miss 1."""
    path = str(clean_store.path)
    store = IndexStore(path)
    cold = _jobs(spark, lambda: search(spark, store, "data sort",
                                       k=5).collect())
    memo = _jobs(spark, lambda: search(spark, store, "data sort",
                                       k=5).collect())
    miss = _jobs(spark, lambda: IndexStore(path).term_dfs(
        spark, ["da", "so", "zz"]))
    assert cold <= 3 and memo <= 2 and miss == 1, (cold, memo, miss)


def test_run_concurrent_keeps_job_group(spark):
    """Jobs run on _run_concurrent's threads carry the caller's job
    group, so per-operation job counts see them."""
    sc = spark.sparkContext

    def job():
        sc.parallelize(range(8), 2).sum()

    assert _jobs(spark, lambda: _run_concurrent(job, job, job)) == 3


def test_huge_k_is_clamped_to_the_store(spark, clean_store):
    """k=10**9 means "every match": the top-k cut clamps to n_docs
    instead of making Spark reserve ~2·k heap slots per partition."""
    n = clean_store.meta().n_docs
    t = time.time()
    hits = search(spark, clean_store, "data", k=10**9, mode="or")
    plan = hits._jdf.queryExecution().executedPlan().toString()
    assert f"TakeOrderedAndProject(limit={n}," in plan
    got = [(r.doc_id, r.score) for r in hits.collect()]
    naive = [(r.doc_id, r.score) for r in score_naive(
        spark, clean_store, "data", k=10**9, mode="or").collect()]
    assert len(got) == n and got == naive
    assert time.time() - t < 120


def test_split_hot_buckets_rejects_bad_granule(spark):
    from synspark.datapipe.dedup import simhash_near_dups
    sim = spark.createDataFrame([(0, 1), (1, 3)], "doc_id long, "
                                "simhash long")
    for g in (0, -1):
        with pytest.raises(ValueError, match="split_hot_buckets"):
            simhash_near_dups(sim, 3, split_hot_buckets=g)
