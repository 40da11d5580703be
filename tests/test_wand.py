"""Block-Max WAND invariant: wand_topk ≡ exact path, and pruning prunes.

The M4 contract (SURVEY.md §7.2): the WAND fast path must return
rank-identical (doc_id, score) top-k versus the exact column-algebra
path for every query shape, on both unsalted and heavily-salted blocked
indexes — while actually skipping block decodes when θ allows.
"""

import pytest
from pyspark.sql import functions as F

from nexlt_spark.index.blocks import BlockedIndex, build_blocks
from nexlt_spark.query.exact import paginate, score_postings
from nexlt_spark.query.wand import _bucket, wand_topk


@pytest.fixture(scope="module")
def blocked(index):
    return BlockedIndex(
        blocks=build_blocks(index, salt_threshold=10**9).persist(),
        doc_stats=index.doc_stats,
        term_stats=index.term_stats,
        stats=index.stats,
    )


@pytest.fixture(scope="module")
def blocked_salted(index):
    # tiny block_size + low threshold: many blocks even on the test corpus,
    # so θ-pruning has something to skip
    return BlockedIndex(
        blocks=build_blocks(index, salt_threshold=5, range_shift=6, block_size=16).persist(),
        doc_stats=index.doc_stats,
        term_stats=index.term_stats,
        stats=index.stats,
    )


def _exact_topk(index, terms, k, mode="or", doc_filter=None):
    scored = score_postings(index, terms, mode, doc_filter)
    return [
        (r["doc_id"], r["score"])
        for r in paginate(scored, [F.col("score").desc(), F.col("doc_id").asc()], 0, k).collect()
    ]


def _wand(bidx, terms, k, mode="or", doc_filter=None, **kw):
    return [(r["doc_id"], r["score"]) for r in wand_topk(bidx, terms, k, mode, doc_filter, **kw).collect()]


QUERIES = [
    (["error"], "or", 10),
    (["the"], "or", 10),  # hottest term
    (["run", "file"], "and", 10),
    (["run", "file"], "or", 10),
    (["spark", "index", "merge"], "or", 10),
    (["the", "error"], "or", 25),
    (["the", "run", "data"], "and", 5),
    (["w1998"], "or", 10),  # rare term
    (["nosuchterm"], "or", 10),
    (["the", "nosuchterm"], "and", 10),  # AND with missing term → empty
    (["the", "nosuchterm"], "or", 10),
]


@pytest.mark.parametrize("terms,mode,k", QUERIES)
def test_wand_equals_exact(index, blocked, terms, mode, k):
    assert _wand(blocked, terms, k, mode) == _exact_topk(index, terms, k, mode)


@pytest.mark.parametrize("terms,mode,k", QUERIES)
def test_wand_equals_exact_salted(index, blocked_salted, terms, mode, k):
    assert _wand(blocked_salted, terms, k, mode) == _exact_topk(index, terms, k, mode)


def test_wand_with_doc_filter(index, blocked, documents):
    flt = documents.where(F.col("role") == "user").select("doc_id")
    assert _wand(blocked, ["error", "run"], 10, "or", flt) == _exact_topk(
        index, ["error", "run"], 10, "or", flt
    )
    assert _wand(blocked, ["the", "run"], 10, "and", flt) == _exact_topk(
        index, ["the", "run"], 10, "and", flt
    )


def test_wand_candidate_cap_fallback(index, blocked):
    stats = {}
    got = _wand(blocked, ["the", "error"], 10, "or", candidate_cap=3, stats_out=stats)
    assert stats.get("fallback") is True
    assert got == _exact_topk(index, ["the", "error"], 10, "or")


def test_wand_actually_prunes(blocked_salted):
    """On a Zipf corpus with 16-doc blocks, a rare+hot OR query must
    establish θ high enough to skip some of the hot term's blocks."""
    stats = {}
    _wand(blocked_salted, ["the", "w1998"], 3, "or", stats_out=stats)
    assert stats["fallback"] is False
    assert stats["theta"] > 0.0
    assert stats["blocks_kept"] < stats["blocks_total"], stats


@pytest.mark.parametrize("terms,mode,k", [
    (["run", "file"], "and", 10),
    (["spark", "index", "merge"], "or", 10),
    (["the", "error"], "or", 25),
])
def test_wand_rows_rescore_equals_exact(index, blocked_salted, terms, mode, k, monkeypatch):
    """The shuffle-free rows rescore (the cluster rescore of a non-ranged
    store, reached here by zeroing the driver-decode block cap) is rank-
    and score-identical to the exact path."""
    import nexlt_spark.query.wand as W

    monkeypatch.setattr(W, "DRIVER_DECODE_MAX_BLOCKS", 0)
    stats = {}
    got = _wand(blocked_salted, terms, k, mode, stats_out=stats)
    assert stats["plan"] == "driver" and stats["rescore_plan"] == "rows", stats
    assert got == _exact_topk(index, terms, k, mode)


def test_wand_ranged_masked_rescore_equals_exact(spark, index, documents, tmp_path_factory, monkeypatch):
    """The candidate-masked per-range rescore (query.ranged.
    score_ranged_masked: the cluster rescore of dense candidates on a
    ranged store) is rank- and score-identical to the exact path. Zeroed
    decode caps keep every step off the driver; a zero coverage threshold
    makes every candidate set dense."""
    import nexlt_spark.query.wand as W
    from nexlt_spark.index.blocks import load_blocked_index
    from nexlt_spark.index.packed import build_blocked_direct, save_blocked

    path = str(tmp_path_factory.mktemp("wand_ranged_rescore") / "idx")
    save_blocked(build_blocked_direct(documents, range_shift=6), path, n_buckets=8)
    bidx = load_blocked_index(spark, path)
    monkeypatch.setattr(W, "DRIVER_DECODE_MAX_BLOCKS", 0)
    monkeypatch.setattr(W, "DRIVER_DECODE_MAX_POSTINGS", 0)
    monkeypatch.setattr(W, "ROWS_RESCORE_COVERAGE", 0.0)
    for terms, mode, k in [
        (["run", "file"], "and", 10),
        (["spark", "index", "merge"], "or", 10),
        (["the", "error"], "or", 25),
    ]:
        stats = {}
        got = _wand(bidx, terms, k, mode, stats_out=stats)
        assert stats["plan"] == "driver" and stats["rescore_plan"] == "ranged", stats
        assert got == _exact_topk(index, terms, k, mode), (terms, mode)


def test_wand_maxscore_essential_split(index, blocked_salted):
    """OR of a rare high-idf term with the hottest term: θ from the rare
    probes exceeds the hot term's gm, so MaxScore marks the hot list
    non-essential — candidates come from the rare list alone (no hot
    block reaches the candidate collect) while the rescore still folds
    the hot term's contributions exactly (rank identity vs exact)."""
    rare = index.term_stats.orderBy(F.col("df").asc(), F.col("term")).filter(
        F.col("df") >= 3
    ).limit(1).collect()[0]
    terms = ["the", rare["term"]]
    stats = {}
    got = _wand(blocked_salted, terms, 3, "or", stats_out=stats)
    assert got == _exact_topk(index, terms, 3, "or")
    assert stats["fallback"] is False
    assert stats["n_essential"] == 1, stats
    assert stats["n_candidates"] <= rare["df"], stats


def test_bucket_parity_spark_vs_python(spark, index):
    terms = [r["term"] for r in index.term_stats.limit(50).collect()]
    got = {
        r["term"]: r["b"]
        for r in spark.createDataFrame([(t,) for t in terms], "term string")
        .select("term", F.pmod(F.xxhash64("term"), F.lit(32)).alias("b"))
        .collect()
    }
    for t in terms:
        assert _bucket(t, 32) == got[t]


@pytest.mark.parametrize("terms,mode,k", [
    (["run", "file"], "and", 10),
    (["run", "file"], "or", 10),
    (["the", "error"], "or", 25),
    (["spark", "index", "merge"], "or", 10),
])
def test_wand_spark_plan_equals_exact(index, blocked_salted, terms, mode, k, monkeypatch):
    """Terms past the skip-data cap (the 10^10+-doc head-term case) on a
    NON-ranged store have no WAND route: wand_topk serves them with the
    exact plan, rank-identical by construction."""
    import nexlt_spark.query.wand as W

    monkeypatch.setattr(W, "SKIP_CACHE_MAX_BLOCKS", 0)
    stats = {}
    got = _wand(blocked_salted, terms, k, mode, stats_out=stats)
    assert stats["plan"] == "spark" and stats["spark_plan"] == "exact", stats
    assert got == _exact_topk(index, terms, k, mode)


def test_wand_driver_plan_is_default_and_counts_blocks(blocked_salted, index):
    """Small-cap terms serve from driver-resident skip data: the plan is
    'driver', pruning telemetry is filled without Spark count jobs, and
    the rescore reads only candidate-intersecting blocks."""
    rare = index.term_stats.orderBy(F.col("df").asc(), F.col("term")).filter(
        F.col("df") >= 3
    ).limit(1).collect()[0]["term"]
    terms = ["the", rare]
    stats = {}
    got = _wand(blocked_salted, terms, 3, "or", stats_out=stats)
    assert stats["plan"] == "driver"
    assert got == _exact_topk(index, terms, 3, "or")
    assert stats["rescore_blocks"] <= stats["blocks_total"], stats
    # skip data is memoized on the index: present terms are cached, so a
    # repeat query fetches no new metadata
    assert set(terms) <= set(blocked_salted._skip_cache)


def test_wand_on_disk_store_pyarrow_path(spark, index, tmp_path_factory):
    """An on-disk store serves WAND through driver-side pyarrow reads
    (store_path set by load_blocked_index) — rank/score identity vs the
    exact path, zero Spark jobs for metadata/skip/payload fetches."""
    from nexlt_spark.index.blocks import load_blocked_index, save_blocked_index

    path = str(tmp_path_factory.mktemp("wand_store") / "idx")
    save_blocked_index(index, path, n_buckets=8, salt_threshold=5, range_shift=6)
    bidx = load_blocked_index(spark, path)
    assert bidx.store_path == path
    for terms, mode, k in [(["run", "file"], "and", 10), (["the", "error"], "or", 25)]:
        stats = {}
        got = _wand(bidx, terms, k, mode, stats_out=stats)
        assert stats["plan"] == "driver"
        assert got == _exact_topk(index, terms, k, mode)
    # the metadata pass populated both driver caches without Spark jobs
    assert set(["run", "file"]) <= set(bidx._skip_cache)


def test_wand_driver_plan_zero_spark_jobs(spark, index, tmp_path_factory):
    """The Lucene-searcher analog, asserted (PLANS.md §'Driver skip-data
    WAND'): with warm term-metadata/skip caches on an on-disk store,
    planning + pruning + payload fetch schedule ZERO Spark jobs — block
    payloads come back through pyarrow dataset reads — and materializing
    the ≤k-row local answer costs at most one job."""
    from nexlt_spark.index.blocks import load_blocked_index, save_blocked_index

    path = str(tmp_path_factory.mktemp("wand_zerojob") / "idx")
    save_blocked_index(index, path, n_buckets=8, salt_threshold=5, range_shift=6)
    bidx = load_blocked_index(spark, path)
    shapes = [(["run", "file"], "and", 10), (["the", "error"], "or", 25)]
    for terms, mode, k in shapes:  # warm metadata + skip caches
        wand_topk(bidx, terms, k=k, mode=mode).collect()
    tracker = spark.sparkContext.statusTracker()
    for terms, mode, k in shapes:
        before = tracker.getJobIdsForGroup(None)
        stats = {}
        df = wand_topk(bidx, terms, k=k, mode=mode, stats_out=stats)
        assert stats["plan"] == "driver" and stats["rescore_plan"] == "local"
        assert tracker.getJobIdsForGroup(None) == before, (terms, mode)
        rows = df.collect()
        assert len(rows) > 0
        after = tracker.getJobIdsForGroup(None)
        assert len(after) - len(before) <= 1, (terms, mode)


def test_pa_ds_remote_store_uri_falls_back_to_cluster():
    """_pa_ds must return None for a non-local store URI (s3a://, hdfs://)
    instead of handing pyarrow.dataset a path it cannot open — callers
    then take the Spark cluster flow."""
    from types import SimpleNamespace

    from nexlt_spark.query.wand import _pa_ds

    assert _pa_ds(SimpleNamespace(store_path="s3a://bucket/store")) is None
    assert _pa_ds(SimpleNamespace(store_path="hdfs://nn:8020/store")) is None
    assert _pa_ds(SimpleNamespace(store_path=None)) is None


def test_term_meta_caches_created_once_under_concurrency(spark, index, tmp_path_factory):
    """Eight searcher threads make the first term-metadata lookup on a
    fresh index at the same instant, each with its own out-of-vocabulary
    terms. They must all share ONE positive cache and ONE negative FIFO:
    a thread holding a private FIFO (or lock) loses its negatives once
    another thread's attribute write lands last."""
    import dataclasses
    import sys
    import threading

    import nexlt_spark.query.wand as W
    from nexlt_spark.index.blocks import load_blocked_index, save_blocked_index

    path = str(tmp_path_factory.mktemp("meta_race") / "idx")
    save_blocked_index(index, path, n_buckets=8)
    base = load_blocked_index(spark, path)
    n_threads, per_thread = 8, 4
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)  # hand the GIL over as often as possible
    try:
        for rnd in range(10):
            bidx = dataclasses.replace(base)  # no lazily-attached caches
            barrier = threading.Barrier(n_threads, timeout=60)
            oov = [
                [f"zzoov{rnd}t{i}n{j}" for j in range(per_thread)]
                for i in range(n_threads)
            ]
            errors = []

            def lookup(terms):
                try:
                    barrier.wait()
                    assert W._term_meta(bidx, terms) == {}
                except Exception as e:  # surfaced below
                    errors.append(e)

            threads = [threading.Thread(target=lookup, args=(t,)) for t in oov]
            for t in threads:
                t.start()
            for t in threads:
                t.join(timeout=120)
            assert not any(t.is_alive() for t in threads), rnd
            assert not errors, errors
            want = {t for terms in oov for t in terms}
            assert set(bidx._term_meta_negs) == want, rnd
            assert all(bidx._term_meta_cache.get(t, W._MISS) is None for t in want), rnd
    finally:
        sys.setswitchinterval(interval)


@pytest.fixture(scope="module")
def ranged_packed(documents):
    from nexlt_spark.index.packed import build_blocked_direct

    b = build_blocked_direct(documents, range_shift=6)
    b.blocks = b.blocks.persist()
    b.blocks.count()
    return b


@pytest.mark.parametrize("terms,mode,k", QUERIES)
def test_wand_fused_equals_exact(index, ranged_packed, terms, mode, k):
    """The r4 fused one-job cluster plan (in-memory ranged store routes
    here by default) stays rank-identical to the exact path."""
    stats = {}
    got = _wand(ranged_packed, terms, k, mode, stats_out=stats)
    if got or stats.get("plan"):  # absent-term shapes return before routing
        assert stats.get("spark_plan", "fused") == "fused"
    assert got == _exact_topk(index, terms, k, mode)


def test_wand_fused_single_exchange(ranged_packed):
    """One job shape: exactly one shuffle (the groupBy(rsalt) payload
    exchange) and one pandas kernel; the top-k is TakeOrderedAndProject —
    no candidate collect, no second pass (VERDICT r3 #2)."""
    stats = {}
    df = wand_topk(ranged_packed, ["spark", "index", "merge"], k=10, mode="or", stats_out=stats)
    assert stats["plan"] == "spark" and stats["spark_plan"] == "fused"
    plan = df._jdf.queryExecution().executedPlan().toString()
    # count only the query's own plan — the cached store's BUILD lineage
    # (inside InMemoryRelation) carries its own historical exchanges
    own = plan.split("InMemoryRelation")[0]
    assert own.count("Exchange hashpartitioning") == 1, own
    assert own.count("FlatMapGroupsInPandas") == 1, own
    assert "TakeOrderedAndProject" in own, own


def test_wand_fused_forced_overcap(index, ranged_packed, monkeypatch):
    """Terms past the skip-data cap (the 10^10-posting head-term case)
    must route to the fused kernel on a ranged store, rank-identical."""
    import nexlt_spark.query.wand as W

    monkeypatch.setattr(W, "SKIP_CACHE_MAX_BLOCKS", 0)
    # per-test caches: the shared fixture's memoized metadata was built
    # under the real cap
    ranged_packed._term_meta_cache = {}
    ranged_packed._term_meta_negs = None
    stats = {}
    got = _wand(ranged_packed, ["the", "error"], 25, "or", stats_out=stats)
    assert stats["spark_plan"] == "fused"
    assert got == _exact_topk(index, ["the", "error"], 25, "or")
    ranged_packed._term_meta_cache = {}
    ranged_packed._term_meta_negs = None


def test_decoded_block_lru_serves_repeats(spark, index, tmp_path_factory, monkeypatch):
    """On-disk stores keep a byte-bounded LRU of DECODED blocks: the
    repeat query must hit it (no new entries), return identical results,
    and eviction must keep the byte budget."""
    import nexlt_spark.query.wand as W
    from nexlt_spark.index.blocks import load_blocked_index, save_blocked_index

    path = str(tmp_path_factory.mktemp("wand_lru") / "idx")
    save_blocked_index(index, path, n_buckets=8, salt_threshold=5, range_shift=6)
    bidx = load_blocked_index(spark, path)
    got1 = _wand(bidx, ["the", "error"], 25, "or")
    cache = bidx._decoded_block_cache
    assert len(cache) > 0 and bidx._decoded_block_bytes > 0
    n_keys = len(cache)
    got2 = _wand(bidx, ["the", "error"], 25, "or")
    assert got2 == got1 == _exact_topk(index, ["the", "error"], 25, "or")
    assert len(cache) == n_keys  # pure hit, nothing refetched
    # eviction respects the byte budget and stays consistent
    monkeypatch.setattr(W, "_BLOCK_CACHE_MAX_BYTES", 1)
    bidx2 = load_blocked_index(spark, path)
    got3 = _wand(bidx2, ["the", "error"], 25, "or")
    assert got3 == got1
    # a 1-byte budget evicts every entry (each is >1 B): cache empty,
    # byte accounting back to zero
    assert len(bidx2._decoded_block_cache) == 0
    assert bidx2._decoded_block_bytes == 0
    # repeat under tiny budget still correct (thrashes, never wrong)
    assert _wand(bidx2, ["the", "error"], 25, "or") == got1
