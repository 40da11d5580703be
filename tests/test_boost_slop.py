"""Query-time boosts (term^2.5) and ordered sloppy phrases ("a b"~N).

Both belong to the raw Lucene syntax the reference exposes to users
(CGI/parallel.cgi links "Solr query syntax hints"; corpus.cgi forwards
raw field:value strings). Semantics under test:

- boost scales the boosted term's whole BM25 contribution (idf multiply)
  — rank identity vs the python oracle must hold bit-exactly, boosted or
  not, on BOTH the flat fold and the per-range fused kernel;
- sloppy phrase = ORDERED window (span − (n−1) ≤ slop; model.py
  documents the Lucene-reorder divergence). The engine's greedy
  minimal-end position chain (higher-order Columns) is validated against
  the oracle's independent bounded-window subsequence scan.
"""

import math

import pytest

from nexlt_spark.oracle import OracleIndex
from nexlt_spark.query.cache import query_key
from nexlt_spark.query.exact import bm25_topk, phrase_match_docs
from nexlt_spark.query.model import Query
from nexlt_spark.query.parser import QueryParseError, parse_query


# ---------------------------------------------------------------- parser

def test_parse_term_boost():
    q = parse_query("spark^2.5 join")
    assert sorted(q.terms) == ["join", "spark"]
    assert q.boosts == {"spark": 2.5}


def test_parse_phrase_boost_and_slop():
    q = parse_query('"big table"~2^1.5')
    assert q.phrase == "big table"
    assert q.phrase_slop == 2
    assert q.boosts == {"big table": 1.5}
    # order-independent: ^ then ~
    q2 = parse_query('"big table"^1.5~2')
    assert (q2.phrase, q2.phrase_slop, q2.boosts) == (q.phrase, q.phrase_slop, q.boosts)


def test_parse_boost_one_is_dropped():
    assert parse_query("spark^1.0").boosts is None


def test_fuzzy_term_is_refused():
    with pytest.raises(QueryParseError):
        parse_query("roam~2")
    with pytest.raises(QueryParseError):
        parse_query("roam~")


def test_bad_suffix_values():
    for s in ("spark^", "spark^x", '"a b"~x', '"a b"~1.5', "spark^-2", '"a b"~-1'):
        with pytest.raises(QueryParseError):
            parse_query(s)


def test_filter_field_boost_ignored_slop_refused():
    q = parse_query("role:user^3 spark")
    assert q.filters.roles == ["user"] and q.boosts is None
    with pytest.raises(QueryParseError):
        parse_query('role:"a b"~2')


def test_boost_slop_in_cache_key():
    base = Query(terms=["spark"], k=10)
    assert query_key(base) != query_key(Query(terms=["spark"], k=10, boosts={"spark": 2.0}))
    p = Query(phrase="a b", k=10)
    assert query_key(p) != query_key(Query(phrase="a b", phrase_slop=2, k=10))


# ------------------------------------------------------- boosted ranking

BOOSTED = [
    ("boost_or", Query(terms=["spark", "join"], mode="or", boosts={"spark": 2.5}, k=10)),
    ("boost_and", Query(terms=["run", "file"], mode="and", boosts={"file": 0.25}, k=10)),
    ("boost_rank_flip", Query(terms=["the", "w1999"], mode="or", boosts={"the": 50.0}, k=10)),
    ("boost_all", Query(terms=["spark", "index"], boosts={"spark": 3.0, "index": 0.5}, k=10)),
]


@pytest.mark.parametrize("name,q", BOOSTED, ids=[n for n, _ in BOOSTED])
def test_boost_rank_identity_flat(index, documents, oracle, name, q):
    want = oracle.topk(q)
    got = [
        (r["doc_id"], r["score"])
        for r in bm25_topk(index, documents, q).select("doc_id", "score").collect()
    ]
    assert [d for d, _ in got] == [d for d, _ in want], f"{name}: rank mismatch"
    for (gd, gs), (wd, ws) in zip(got, want):
        assert math.isclose(gs, ws, rel_tol=1e-12, abs_tol=1e-15), (name, gd)


def test_boost_rank_identity_ranged(documents, oracle):
    # the per-range fused kernel applies the same driver-side idf multiply
    from nexlt_spark.index.packed import build_blocked_direct

    ridx = build_blocked_direct(documents, range_shift=8).persist()
    q = Query(terms=["spark", "join"], mode="or", boosts={"spark": 2.5}, k=10)
    want = oracle.topk(q)
    got = [
        (r["doc_id"], r["score"])
        for r in bm25_topk(ridx, documents, q).select("doc_id", "score").collect()
    ]
    assert [d for d, _ in got] == [d for d, _ in want]
    for (gd, gs), (wd, ws) in zip(got, want):
        assert math.isclose(gs, ws, rel_tol=1e-12, abs_tol=1e-15)


def test_boost_changes_the_winner(index, documents, oracle):
    # sanity that the boost actually moves ranks on this corpus: a huge
    # boost on a hot term must promote docs that win on that term alone
    plain = Query(terms=["spark", "join"], mode="or", k=5)
    boosted = Query(terms=["spark", "join"], mode="or", boosts={"join": 50.0}, k=5)
    a = [d for d, _ in oracle.topk(plain)]
    b = [d for d, _ in oracle.topk(boosted)]
    assert a != b, "boost fixture is inert on this corpus — pick another term pair"
    got = [r["doc_id"] for r in bm25_topk(index, documents, boosted).collect()]
    assert got == b


# --------------------------------------------------------- sloppy phrase

def _mini_corpus(spark):
    texts = [
        (0, "a b c"),
        (1, "a x b"),
        (2, "b a"),
        (3, "a x y b"),
        (4, "a x b y c"),
        (5, "a a b"),
        (6, "a b a"),
        (7, "c b a"),
        (8, "a"),
        (9, "x a y b z c"),
    ]
    return spark.createDataFrame(
        [(i, f"c{i}", 0, "user", None, None, t, t) for i, t in texts],
        "doc_id long, conv_id string, turn_idx int, role string, tool string, "
        "ts timestamp, text string, text_lc string",
    )


SLOP_CASES = [
    ("a b", 0, {0, 5, 6}),
    ("a b", 1, {0, 1, 4, 5, 6, 9}),
    ("a b", 2, {0, 1, 3, 4, 5, 6, 9}),
    ("a c", 0, set()),
    ("a c", 1, {0}),
    ("b a", 0, {2, 6, 7}),       # ordered: "a b" docs do NOT match reversed
    ("a b c", 0, {0}),
    ("a b c", 1, {0}),           # doc4 span (c@4 − a@0) − 2 = 2 needs slop 2
    ("a b c", 2, {0, 4, 9}),
    ("a b c", 3, {0, 4, 9}),
    ("a a", 0, {5}),
    ("a a", 1, {5, 6}),          # positions 0,2 in "a b a": span 2 − 1 = 1
]


@pytest.fixture(scope="module")
def mini(spark):
    from nexlt_spark.index.build import build_index

    docs = _mini_corpus(spark).persist()
    idx = build_index(docs, positions=True).persist()
    orc = OracleIndex([r.asDict() for r in docs.collect()])
    yield docs, idx, orc
    docs.unpersist()


@pytest.mark.parametrize("phrase,slop,want", SLOP_CASES,
                         ids=[f"{p}~{s}" for p, s, _ in SLOP_CASES])
def test_slop_matches_handcrafted(mini, phrase, slop, want):
    docs, idx, orc = mini
    got = {r["doc_id"] for r in phrase_match_docs(idx, phrase.split(), slop=slop).collect()}
    assert got == want
    assert orc._phrase_ids(phrase, set(range(10)), slop) == want


def test_single_token_phrase_with_slop(mini):
    # '"a"~2' — one analyzed token with a slop suffix must behave as term
    # presence, not crash on the pairwise pregate (review regression)
    docs, idx, orc = mini
    got = {r["doc_id"] for r in phrase_match_docs(idx, ["a"], slop=2).collect()}
    assert got == orc._phrase_ids("a", set(orc.docs), 2)
    assert got  # non-vacuous: 'a' occurs in the mini corpus


def test_slop_query_end_to_end(mini):
    docs, idx, orc = mini
    q = Query(phrase="a b c", phrase_slop=3, k=10)
    want = orc.topk(q)
    got = [
        (r["doc_id"], r["score"])
        for r in bm25_topk(idx, docs, q).select("doc_id", "score").collect()
    ]
    assert [d for d, _ in got] == [d for d, _ in want]
    for (gd, gs), (wd, ws) in zip(got, want):
        assert math.isclose(gs, ws, rel_tol=1e-12, abs_tol=1e-15)


def test_slop_engine_equals_oracle_on_corpus(pos_index, documents, oracle):
    # property-style sweep on the shared synthetic corpus: the greedy
    # Column chain and the oracle's window scan must agree everywhere
    all_ids = set(oracle.docs)
    for phrase in ("the run", "run file", "spark index", "run file test"):
        toks = phrase.split()
        for slop in (0, 1, 2, 4):
            got = {
                r["doc_id"]
                for r in phrase_match_docs(pos_index, toks, slop=slop).collect()
            }
            want = oracle._phrase_ids(phrase, all_ids, slop)
            assert got == want, (phrase, slop)


def test_slop_monotone_in_slop(pos_index, oracle):
    # more slop can only add matches, never remove them
    prev = set()
    for slop in (0, 1, 2, 3):
        cur = {
            r["doc_id"]
            for r in phrase_match_docs(pos_index, ["run", "file"], slop=slop).collect()
        }
        assert prev <= cur
        prev = cur


def test_slop_requires_positions(index, documents):
    with pytest.raises(ValueError):
        bm25_topk(index, documents, Query(phrase="the run", phrase_slop=1, k=5)).collect()


def test_select_rows_raw_syntax(pos_index, documents, oracle):
    from nexlt_spark.query.select import select_rows

    got = select_rows(pos_index, documents, q='"the run"~1', rows=5, use_cache=False)
    want = oracle.topk(Query(phrase="the run", phrase_slop=1, k=5))
    assert [r["doc_id"] for r in got] == [d for d, _ in want]

    got = select_rows(pos_index, documents, q="spark^2.5 join", rows=5, use_cache=False)
    want = oracle.topk(Query(terms=["spark", "join"], boosts={"spark": 2.5}, k=5))
    assert [r["doc_id"] for r in got] == [d for d, _ in want]


def test_slop_ranged_kernel_matches_oracle(mini):
    # the in-kernel greedy searchsorted chain (ranged store) must agree
    # with the oracle window scan and the Column-chain path everywhere
    from nexlt_spark.index.packed import build_blocked_direct
    from nexlt_spark.query.ranged import phrase_score_ranged

    docs, idx, orc = mini
    ridx = build_blocked_direct(docs, range_shift=2, positions=True).persist()
    for phrase, slop, want in SLOP_CASES:
        got = {
            r["doc_id"]
            for r in phrase_score_ranged(ridx, phrase.split(), slop=slop).collect()
        }
        assert got == want, (phrase, slop)


def test_slop_ranged_end_to_end(mini, documents, oracle, pos_index):
    # full Query with slop over a ranged store built from the shared
    # corpus: rank- and score-identical to the oracle
    from nexlt_spark.index.packed import build_blocked_direct

    ridx = build_blocked_direct(documents, range_shift=8, positions=True).persist()
    for phrase, slop in (("the run", 1), ("run file", 2), ("run file test", 3)):
        q = Query(phrase=phrase, phrase_slop=slop, k=10)
        want = oracle.topk(q)
        got = [
            (r["doc_id"], r["score"])
            for r in bm25_topk(ridx, documents, q).select("doc_id", "score").collect()
        ]
        assert [d for d, _ in got] == [d for d, _ in want], (phrase, slop)
        for (gd, gs), (wd, ws) in zip(got, want):
            assert math.isclose(gs, ws, rel_tol=1e-12, abs_tol=1e-15)


def test_boost_wand_identical_to_exact(documents, oracle, tmp_path):
    # boosted WAND (fused cluster kernel AND driver skip-data plan) must
    # stay rank- and score-identical to the boosted exact fold: every
    # upper bound is idf*max_tfnorm, so the single idf multiply keeps the
    # bounds admissible. The in-memory ranged index takes the fused
    # kernel; its on-disk copy takes the driver plan.
    from nexlt_spark.index.blocks import load_blocked_index
    from nexlt_spark.index.packed import build_blocked_direct, save_blocked
    from nexlt_spark.query.wand import wand_topk

    ridx = build_blocked_direct(documents, range_shift=8).persist()
    save_blocked(ridx, str(tmp_path / "store"), n_buckets=8)
    sidx = load_blocked_index(documents.sparkSession, str(tmp_path / "store"))
    stores = [(ridx, ("spark", "fused")), (sidx, ("driver", None))]
    cases = [
        (["spark", "join"], "or", {"join": 50.0}),
        (["spark", "join"], "or", {"spark": 0.1}),
        (["run", "file"], "and", {"file": 8.0}),
    ]
    for terms, mode, boosts in cases:
        want = oracle.topk(Query(terms=terms, mode=mode, boosts=boosts, k=10))
        for bidx, plan in stores:
            stats = {}
            got = [
                (r["doc_id"], r["score"])
                for r in wand_topk(
                    bidx, terms, k=10, mode=mode, boosts=boosts, stats_out=stats,
                ).collect()
            ]
            assert (stats["plan"], stats.get("spark_plan")) == plan, (terms, mode, stats)
            assert [d for d, _ in got] == [d for d, _ in want], (terms, mode, plan)
            for (gd, gs), (wd, ws) in zip(got, want):
                assert math.isclose(gs, ws, rel_tol=1e-12, abs_tol=1e-15)


def test_boost_planned_topk(documents, oracle):
    from nexlt_spark.index.packed import build_blocked_direct
    from nexlt_spark.query import planner

    ridx = build_blocked_direct(documents, range_shift=8).persist()
    q = Query(terms=["spark", "join"], mode="or", boosts={"join": 50.0}, k=10)
    want = oracle.topk(q)
    stats = {}
    got = [
        (r["doc_id"], r["score"])
        for r in planner.topk(
            ridx, q.terms, k=10, mode="or", boosts=q.boosts, stats_out=stats
        ).collect()
    ]
    assert [d for d, _ in got] == [d for d, _ in want], stats
    for (gd, gs), (wd, ws) in zip(got, want):
        assert math.isclose(gs, ws, rel_tol=1e-12, abs_tol=1e-15)


def test_boosted_phrase_fused_plans(documents, oracle, pos_index):
    # a boosted quoted phrase ("the run"^2.5) now keeps the fused
    # one-pass plans: both the flat fused aggregation and the ranged
    # kernel scale their idfs by the same driver-side multiply
    from nexlt_spark.index.packed import build_blocked_direct

    q = Query(phrase="the run", boosts={"the run": 2.5}, k=10)
    want = oracle.topk(q)
    assert want, "fixture phrase absent from corpus"
    for idx in (pos_index, build_blocked_direct(documents, range_shift=8, positions=True).persist()):
        got = [
            (r["doc_id"], r["score"])
            for r in bm25_topk(idx, documents, q).select("doc_id", "score").collect()
        ]
        assert [d for d, _ in got] == [d for d, _ in want]
        for (gd, gs), (wd, ws) in zip(got, want):
            assert math.isclose(gs, ws, rel_tol=1e-12, abs_tol=1e-15)


def test_boosted_sloppy_phrase(mini):
    docs, idx, orc = mini
    q = Query(phrase="a b", phrase_slop=2, boosts={"a": 4.0}, k=10)
    want = orc.topk(q)
    got = [
        (r["doc_id"], r["score"])
        for r in bm25_topk(idx, docs, q).select("doc_id", "score").collect()
    ]
    assert [d for d, _ in got] == [d for d, _ in want]
    for (gd, gs), (wd, ws) in zip(got, want):
        assert math.isclose(gs, ws, rel_tol=1e-12, abs_tol=1e-15)


def test_random_query_rank_identity(pos_index, documents, oracle):
    """Seeded query fuzz: random combinations of terms / mode / NOT /
    boosts / phrase slop must stay rank- and score-identical to the
    oracle — the cross-feature interactions no handcrafted case covers."""
    import random

    rng = random.Random(42)
    vocab = ["the", "run", "file", "spark", "index", "join", "data",
             "table", "error", "query", "merge", "value", "w1999", "zzz"]
    for trial in range(12):
        terms = rng.sample(vocab, rng.randint(1, 3))
        mode = rng.choice(["or", "and"])
        boosts = None
        if rng.random() < 0.6:
            boosts = {rng.choice(terms): rng.choice([0.2, 2.0, 10.0])}
        not_terms = [rng.choice(vocab)] if rng.random() < 0.3 else None
        phrase = None
        slop = 0
        if rng.random() < 0.4:
            phrase = " ".join(rng.sample(["the", "run", "file", "table"], 2))
            slop = rng.randint(0, 3)
            terms = []  # fused path shape: scored terms = phrase tokens
            mode = "or"
        q = Query(terms=terms, mode=mode, not_terms=not_terms, phrase=phrase,
                  phrase_slop=slop, boosts=boosts, k=10)
        want = oracle.topk(q)
        got = [
            (r["doc_id"], r["score"])
            for r in bm25_topk(pos_index, documents, q).select("doc_id", "score").collect()
        ]
        assert [d for d, _ in got] == [d for d, _ in want], (trial, q)
        for (gd, gs), (wd, ws) in zip(got, want):
            assert math.isclose(gs, ws, rel_tol=1e-12, abs_tol=1e-15), (trial, q)
