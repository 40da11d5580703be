"""Planner invariants: path choice is cost-driven, results path-invariant.

The planner (query.planner) may only ever change latency — both routes
are rank-identical — and must decide from cached metadata without
scanning postings. The crossover bench (tools/bench_wand_crossover.py,
BENCH.md §6) showed exact wins EVERY shape at 10^6-doc scale (WAND's
multi-job floor > the whole exact runtime), so at test-corpus scale the
planner must always say "exact"; the fused-route rule (saved postings
> one probe's volume) is exercised through synthetic cached metadata at
10^8-10^9-posting scale on a ranged stand-in, and a non-ranged stand-in
off the driver plan must always say "exact".
"""

from types import SimpleNamespace

import pytest
from pyspark.sql import functions as F

from nexlt_spark.index.blocks import BLOCK_SIZE
from nexlt_spark.index.packed import build_blocked_direct
from nexlt_spark.query.exact import paginate, score_postings
from nexlt_spark.query.planner import (
    choose_topk_path,
    estimate_kept_fraction,
    estimate_postings_saved,
    topk,
)
from nexlt_spark.query.wand import PROBE_BLOCKS_PER_TERM


@pytest.fixture(scope="module")
def ranged(documents):
    b = build_blocked_direct(documents, range_shift=8)
    b.blocks = b.blocks.persist()
    b.blocks.count()
    return b


def _fake_index(n_docs, meta, ranged):
    """Planner-visible index stand-in: prefilled TermStates cache, stats
    and the store's ranged flag. No store path, so the driver plan is out
    of reach; choose_topk_path reads nothing else, so no Spark is
    involved."""
    return SimpleNamespace(
        stats=SimpleNamespace(n_docs=n_docs), _term_meta_cache=dict(meta), ranged=ranged
    )


# synthetic cached metadata at 10^8-10^9-posting scale:
# (df, max_tfnorm, n_blocks, block-ub quantile sketch) per term
# two comparable-idf terms, 300M postings total, block-ub sketch says
# ~90% of blocks fall below the θ̂ cut
META_OR_SCALE = {
    "hot": (200_000_000, 1.0, 1_500_000, (0.28, 0.30, 0.35, 0.40, 0.45, 0.50)),
    "warm": (100_000_000, 1.0, 800_000, (0.28, 0.30, 0.35, 0.40, 0.45, 0.50)),
}
# a 1k-doc rare list against a 500M-posting hot list
META_AND_RARE = {
    "rare": (1_000, 1.0, 8, (0.4, 0.5, 0.6, 0.7, 0.8, 0.9)),
    "hot": (500_000_000, 1.0, 4_000_000, (0.15, 0.2, 0.25, 0.3, 0.35, 0.4)),
}
# the rarest list is larger than the candidate cap
META_AND_OVER_CAP = {
    "big1": (600_000, 1.0, 5_000, (0.15, 0.2, 0.25, 0.3, 0.35, 0.4)),
    "big2": (700_000_000, 1.0, 5_500_000, (0.15, 0.2, 0.25, 0.3, 0.35, 0.4)),
}
# equal hot terms with flat block-ub sketches near the max
META_FLAT_IDF = {
    "a": (200_000_000, 1.0, 1_500_000, (0.95, 0.96, 0.97, 0.98, 0.99, 1.0)),
    "b": (210_000_000, 1.0, 1_600_000, (0.95, 0.96, 0.97, 0.98, 0.99, 1.0)),
}


def _probe_cost(n_terms):
    return PROBE_BLOCKS_PER_TERM * BLOCK_SIZE * n_terms


def _exact(index, terms, k, mode="or"):
    scored = score_postings(index, terms, mode)
    return [
        (r["doc_id"], r["score"])
        for r in paginate(
            scored, [F.col("score").desc(), F.col("doc_id").asc()], 0, k
        ).collect()
    ]


def test_single_term_goes_exact(ranged):
    assert choose_topk_path(ranged, ["error"], 10, "or") == "exact"


def test_absent_terms_go_exact(ranged):
    assert choose_topk_path(ranged, ["nosuchterm"], 10, "or") == "exact"
    assert choose_topk_path(ranged, ["the", "nosuchterm"], 10, "and") == "exact"


def test_small_corpus_always_exact(ranged):
    # the crossover bench's verdict at this scale: WAND's orchestration
    # floor exceeds the exact plan's entire runtime — every shape exact
    for terms, mode in [
        (["run", "file"], "and"),
        (["the", "run", "data"], "or"),
        (["the", "w1998"], "or"),
    ]:
        assert choose_topk_path(ranged, terms, 10, mode) == "exact", (terms, mode)


def test_or_kept_fraction_estimate_sane(ranged):
    kf = estimate_kept_fraction(ranged, ["the", "run", "data"])
    assert kf is not None and 0.0 <= kf <= 1.0
    assert estimate_kept_fraction(ranged, ["nosuchterm"]) is None
    assert estimate_postings_saved(ranged, ["nosuchterm"]) is None


def test_wand_chosen_at_scale_or():
    # ~90% of blocks below the θ̂ cut → saved ≈ 270M ≫ one probe's volume,
    # so the fused kernel on a ranged store wins
    idx = _fake_index(1_000_000_000, META_OR_SCALE, ranged=True)
    saved = estimate_postings_saved(idx, ["hot", "warm"], "or")
    assert saved is not None and saved > _probe_cost(2)
    assert choose_topk_path(idx, ["hot", "warm"], 10, "or") == "wand"


def test_wand_chosen_at_scale_and_rare_list():
    # candidate-masked rescore decodes ≤ rare·terms·block postings —
    # skip ~all of the hot list
    idx = _fake_index(1_000_000_000, META_AND_RARE, ranged=True)
    saved = estimate_postings_saved(idx, ["rare", "hot"], "and")
    assert saved is not None and saved > _probe_cost(2)
    assert choose_topk_path(idx, ["rare", "hot"], 10, "and") == "wand"


def test_and_over_candidate_cap_goes_exact():
    # off the driver plan, a NON-ranged store has no cluster WAND route
    # (wand_topk serves it with the exact plan), so every shape — even
    # ones that prune well or sit past the candidate cap — goes exact
    for meta in (META_OR_SCALE, META_AND_RARE, META_AND_OVER_CAP, META_FLAT_IDF):
        idx = _fake_index(1_000_000_000, meta, ranged=False)
        for mode in ("or", "and"):
            assert choose_topk_path(idx, sorted(meta), 10, mode) == "exact", (meta, mode)


def test_flat_idf_or_stays_exact_even_at_scale():
    # flat block-ub sketches near the max: θ̂ keeps everything → saved ≈ 0
    # → exact even on the fused route, regardless of volume
    idx = _fake_index(1_000_000_000, META_FLAT_IDF, ranged=True)
    saved = estimate_postings_saved(idx, ["a", "b"], "or")
    assert saved is not None and saved <= _probe_cost(2)
    assert choose_topk_path(idx, ["a", "b"], 10, "or") == "exact"


@pytest.mark.parametrize(
    "terms,mode,k",
    [
        (["error"], "or", 10),
        (["run", "file"], "and", 10),
        (["run", "file"], "or", 10),
        (["the", "w1998"], "or", 5),
        (["spark", "index", "merge"], "or", 10),
        (["the", "nosuchterm"], "and", 10),
    ],
)
def test_planned_topk_matches_exact(index, ranged, terms, mode, k):
    stats = {}
    got = [
        (r["doc_id"], r["score"])
        for r in topk(ranged, terms, k=k, mode=mode, stats_out=stats).collect()
    ]
    assert stats["path"] in ("wand", "exact")
    assert got == _exact(index, terms, k, mode)


def test_planner_runs_no_job_when_cached(ranged, spark):
    """After the metadata cache is warm, planning must not launch jobs."""
    choose_topk_path(ranged, ["run", "file"], 10, "and")  # warm
    tracker = spark.sparkContext.statusTracker()
    before = tracker.getJobIdsForGroup(None)
    choose_topk_path(ranged, ["run", "file"], 10, "and")
    choose_topk_path(ranged, ["run", "file"], 10, "or")
    after = tracker.getJobIdsForGroup(None)
    assert before == after


def test_rehearsed_probe_shared_with_execution(spark, index, tmp_path_factory, monkeypatch):
    """The planner's OR rehearsal and the wand execution must share ONE
    θ-probe decode via the memoized _driver_theta_probe (regression: the
    rehearsal redid the identical probe read+decode+fold, doubling the
    hot serving path's latency)."""
    from nexlt_spark.index.blocks import load_blocked_index, save_blocked_index
    from nexlt_spark.query import wand
    from nexlt_spark.query.wand import wand_topk

    path = str(tmp_path_factory.mktemp("probe_shared") / "idx")
    save_blocked_index(index, path, n_buckets=8, salt_threshold=5, range_shift=6)
    bidx = load_blocked_index(spark, path)

    calls = {"n": 0}
    real = wand._probe_block_keys

    def counting(*a, **kw):
        calls["n"] += 1
        return real(*a, **kw)

    monkeypatch.setattr(wand, "_probe_block_keys", counting)
    terms = ["the", "error"]
    choose_topk_path(bidx, terms, 10, "or")  # rehearses: one probe
    wand_topk(bidx, terms, k=10, mode="or").collect()  # reuses it
    assert calls["n"] == 1


def test_topk_rows_equals_topk_dataframe(spark, index, tmp_path_factory):
    """The rows serving API returns exactly the DataFrame route's rows on
    both planner paths (wand / exact), and the driver-local wand route
    schedules zero Spark jobs."""
    from nexlt_spark.index.blocks import load_blocked_index, save_blocked_index
    from nexlt_spark.query.planner import topk, topk_rows

    path = str(tmp_path_factory.mktemp("rows_api") / "idx")
    save_blocked_index(index, path, n_buckets=8, salt_threshold=5, range_shift=6)
    bidx = load_blocked_index(spark, path)
    shapes = [(["the", "error"], "or", 25), (["run", "file"], "and", 10), (["the"], "or", 5)]
    for terms, mode, k in shapes:  # warm caches
        topk_rows(bidx, terms, k=k, mode=mode)
    tracker = spark.sparkContext.statusTracker()
    for terms, mode, k in shapes:
        stats_r, stats_d = {}, {}
        before = tracker.getJobIdsForGroup(None)
        rows = topk_rows(bidx, terms, k=k, mode=mode, stats_out=stats_r)
        after = tracker.getJobIdsForGroup(None)
        want = [
            (r["doc_id"], r["score"])
            for r in topk(bidx, terms, k=k, mode=mode, stats_out=stats_d).collect()
        ]
        assert rows == want, (terms, mode)
        assert stats_r["path"] == stats_d["path"]
        if stats_r["path"] == "wand" and stats_r.get("rescore_plan") == "local":
            assert after == before, (terms, mode)  # zero py4j job traffic
