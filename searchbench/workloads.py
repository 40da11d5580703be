"""Seeded request streams for the three serving workloads.

A request is a Solr ``/select`` pair ``(q, fq)``: a Lucene-syntax query
string and an optional filter string (None when unfiltered). Terms are
chosen from the corpus's own document frequencies, which the benchmark
counts from the generated input with the engine's tokenizer; the engine
under test is not consulted.

- ``serve_warm``: a fixed pool of distinct requests, repeated. 40% are a
  single term under the reference UI's default filter
  ``role:(user OR assistant)``, and 15% each are OR-2, OR-3, AND-2 and
  2-term phrases (``WARM_SHARES``). Terms are drawn df-weighted from below
  the Zipf head, so each request routes to a driver plan (WAND,
  attr-filtered WAND or the driver phrase plan).
- ``serve_cold``: 2-term requests, half AND and half OR, over non-head
  terms drawn uniformly without replacement, so no term repeats within a
  run and every request misses the searcher's per-term caches.
- ``serve_head``: single unfiltered Zipf-head terms, which the planner
  sends to the Spark scan. (AND/OR pairs of head terms route to the driver
  WAND at this corpus size, so they are left out.)
"""

from __future__ import annotations

import random
from collections import Counter
from typing import Iterator, List, Optional, Tuple

from nexlt_spark.analysis import tokenize

Request = Tuple[str, Optional[str]]

WORKLOADS = ("serve_warm", "serve_cold", "serve_head")
# Terms ranked by df; the first HEAD_TERMS of them are the Zipf head
# (the synthetic generator's common-word list holds 41 words).
HEAD_TERMS = 40
# No traffic record exists in the repository, so these shares are an
# assumption. The single-term share is the 40% of the mix that
# tools/bench_qps.py records (40% term / 30% AND-2 / 30% OR-3); the other
# four shapes split the rest evenly. A pool of 60 holds each share exactly.
WARM_SHARES = {"fq1": 8, "or2": 3, "or3": 3, "and2": 3, "phrase2": 3}  # of 20
WARM_POOL = 60
DEFAULT_FQ = "role:(user OR assistant)"
# Documents sampled for adjacent non-head token pairs (phrase requests).
PHRASE_SAMPLE_DOCS = 400
# serve_cold and serve_head send their requests in rounds that hold one
# request from each of STRATA df strata. A run serves only ~10 (head) or
# ~100 (cold) requests, so without this the share of costly requests, and
# with it p50 and tail, would change with the seed.
STRATA = 8


class CorpusProfile:
    """Document frequencies and a sample of adjacent token pairs."""

    def __init__(self, texts: List[Optional[str]], rng: random.Random):
        df: Counter = Counter()
        for text in texts:
            df.update(set(tokenize(text)))
        ranked = sorted(df, key=lambda t: (-df[t], t))
        self.df = df
        self.head = ranked[:HEAD_TERMS]
        self.mid = ranked[HEAD_TERMS:]
        mid = set(self.mid)
        self.pairs: List[Tuple[str, str]] = []
        for i in rng.sample(range(len(texts)), min(PHRASE_SAMPLE_DOCS, len(texts))):
            toks = tokenize(texts[i])
            self.pairs.extend(
                (a, b) for a, b in zip(toks, toks[1:]) if a != b and a in mid and b in mid
            )


def _draw(rng: random.Random, terms: List[str], weights: List[int], n: int) -> List[str]:
    out: List[str] = []
    while len(out) < n:
        t = rng.choices(terms, weights=weights)[0]
        if t not in out:
            out.append(t)
    return out


def warm_pool(p: CorpusProfile, rng: random.Random) -> List[Request]:
    weights = [p.df[t] for t in p.mid]
    shapes = [shape for shape, n in WARM_SHARES.items() for _ in range(n)]
    pool: List[Request] = []
    seen = set()
    while len(pool) < WARM_POOL:
        shape = shapes[len(pool) % len(shapes)]
        if shape == "phrase2":
            req = ('"%s %s"' % rng.choice(p.pairs), None)
        elif shape == "fq1":
            req = (_draw(rng, p.mid, weights, 1)[0], DEFAULT_FQ)
        else:
            n = 3 if shape == "or3" else 2
            op = " AND " if shape == "and2" else " OR "
            req = (op.join(_draw(rng, p.mid, weights, n)), None)
        if req not in seen:
            seen.add(req)
            pool.append(req)
    return pool


def stratified(items: list, cost, rng: random.Random, k: int = STRATA) -> list:
    """``items`` in rounds: each round holds one item, drawn at random, from
    each of ``k`` equal strata of ``cost``, in random order. Items beyond a
    multiple of ``k`` are dropped."""
    ranked = sorted(items, key=cost)
    n = len(ranked) // k
    strata = [ranked[i * n:(i + 1) * n] for i in range(k)]
    for s in strata:
        rng.shuffle(s)
    out: list = []
    for j in range(n):
        round_ = [s[j] for s in strata]
        rng.shuffle(round_)
        out.extend(round_)
    return out


def cold_stream(p: CorpusProfile, rng: random.Random) -> List[Request]:
    """Every non-head term once, paired at random, in rounds stratified by
    the pair's summed df; the stream ends when they run out. AND and OR
    alternate, as AND-2 and OR-3 have equal shares in the recorded mix."""
    terms = list(p.mid)
    rng.shuffle(terms)
    pairs = stratified(list(zip(terms[0::2], terms[1::2])),
                       lambda ab: p.df[ab[0]] + p.df[ab[1]], rng)
    return [(f"{a} {('AND', 'OR')[i % 2]} {b}", None) for i, (a, b) in enumerate(pairs)]


def head_stream(p: CorpusProfile, rng: random.Random) -> Iterator[Request]:
    """Endless stream of the head terms: each pass is in rounds stratified
    by df."""
    while True:
        yield from ((t, None) for t in stratified(p.head, p.df.__getitem__, rng))


def cycle(pool: List[Request], rng: random.Random) -> Iterator[Request]:
    """Endless stream over a pool: each pass is a fresh seeded shuffle."""
    while True:
        order = list(pool)
        rng.shuffle(order)
        yield from order
