"""Driver-side top-k path planner: Block-Max WAND vs the exact fused plan.

The reference's Lucene picks between exhaustive scoring and BMW pruning
per query (IndexSearcher's TopScoreDocCollector enables WAND exactly
when ranks alone are needed); which one is faster depends on whether the
decode work pruning saves exceeds pruning's own overhead. On this engine
there are TWO WAND regimes with opposite cost anatomies, so the planner
models both (tools/bench_wand_crossover.py, BENCH.md §6):

**Driver skip-data plan** (on-disk store, every term's block count under
SKIP_CACHE_MAX_BLOCKS — the production serving shape): pruning decisions
run on driver-resident skip data and key-selected payloads come back
through pyarrow dataset reads, so a pruning-friendly query costs ~0.35 s
REGARDLESS of corpus size, while the exact fused plan always decodes
every posting of every query term through one Spark job whose scan floor
GROWS with the store (measured 0.35 s at a 2.25M-doc store → ~1.1 s at
18M docs). Measured at 18M docs the driver plan wins every non-fallback
shape by 1.6-3.9× (v6 crossover, BENCH.md §6). The plan decision here
mirrors the execution exactly: the SAME MaxScore essential split and
kept-block computation over the SAME skip arrays the query would use
(θ from the same ≤16-blocks-per-term probe, decoded driver-side in
milliseconds — no Spark job), so fallback is *predicted*, not guessed;
the residual cost model is

    wand  ≈ WAND_DRIVER_FLOOR + (probe + kept + rescore_est) / DRIVER_RATE
    exact ≈ EXACT_FLOOR + Σ df_t / EXACT_RATE

with rescore_est ≤ candidates · |terms| · BLOCK_SIZE (block-aligned
overcount) and all four constants calibrated from the v6 crossover
medians. Mispredictions are bounded: both floors sit within ~0.4 s of
each other at small stores, and the fallback guards catch the only
shapes that lose big (kept postings past the candidate cap).

**Fused cluster kernel** (ranged store whose payloads are not driver-
readable, or a head term whose skip data exceeds the driver cap): the r4
one-job kernel — same single exchange as the exact plan, overhead = one
probe decode, so WAND routes whenever the estimated pruning saves more
postings than a probe decodes. Every other non-driver query (a non-
ranged store, or any doc_filter) goes exact. The saved-volume
estimate uses CACHED collection statistics only — the (df, max_tfnorm,
n_blocks, block-ub quantile sketch) per term that query.wand._term_meta
memoizes (one metadata-only Spark job per new term, the Lucene
TermStates analog):

- OR: θ̂ = THETA_FRACTION · Σ_t gm_t (the co-occurrence bound); a block
  of term t survives iff ub ≥ θ̂ − Σ_{t'≠t} gm_{t'}; stepping that cut
  through the cached block-ub quantile sketch yields a kept-block
  fraction, hence kept ≈ frac · df_t postings per term.
- AND: the rarest list drives; candidate-masked rescore decodes at most
  one block per (candidate, term), so kept ≤ rare_df · n_terms ·
  BLOCK_SIZE postings (a deliberate overcount — candidates clustering
  into shared blocks only reduces it).
"""

from __future__ import annotations

from typing import List, Optional

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from nexlt_spark.index.blocks import BLOCK_SIZE, BlockedIndex
from nexlt_spark.query.attrs import AttrFilter
from nexlt_spark.query.wand import (
    DEFAULT_CANDIDATE_CAP,
    DRIVER_DECODE_MAX_POSTINGS,
    META_QUANTS,
    PROBE_BLOCKS_PER_TERM,
    SKIP_CACHE_MAX_BLOCKS,
    _driver_theta_probe,
    _pa_ds,
    _skip_data,
    _term_meta,
    kept_block_masks,
    maxscore_split,
    wand_topk,
)
from nexlt_spark.scoring import idf

THETA_FRACTION = 0.8

# driver-skip-data-plan constants, calibrated from the v6 crossover at an
# 18M-doc Zipf store (BENCH.md §6): non-fallback driver WAND medians
# 0.39-0.93 s; exact fused-job medians 1.07-1.73 s over 8k-36M postings.
# EXACT_FLOOR is deliberately set BELOW the 18M-store measurement (~1.1 s)
# and above the 2.25M-store one (0.35 s) so the comparison stays honest
# across store sizes — the error it admits is bounded by the gap between
# the two floors, not by data volume.
WAND_DRIVER_FLOOR_SEC = 0.35
DRIVER_DECODE_RATE_POSTINGS_PER_SEC = 40_000_000
EXACT_FLOOR_SEC = 0.8
EXACT_DECODE_RATE_POSTINGS_PER_SEC = 35_000_000


def estimate_kept_fraction(bidx: BlockedIndex, terms: List[str]) -> Optional[float]:
    """Estimated fraction of the query terms' blocks that survive a
    θ̂ = THETA_FRACTION·Σgm Block-Max cut. None when no term is present
    in the index."""
    qterms = sorted(set(terms))
    meta = _term_meta(bidx, qterms)
    if not meta:
        return None
    n = bidx.stats.n_docs
    gm = {t: idf(n, m[0]) * m[1] for t, m in meta.items()}
    sum_gm = sum(gm.values())
    theta = THETA_FRACTION * sum_gm
    kept = total = 0
    for t, (df_t, mtf, nb, qs) in meta.items():
        total += nb
        cut = theta - (sum_gm - gm[t])
        if cut <= 0.0:
            kept += nb  # every block of t survives
            continue
        idf_t = idf(n, df_t)
        if idf_t <= 0.0:
            continue
        cut_tfnorm = cut / idf_t
        # fraction of blocks with max_tfnorm >= cut_tfnorm, stepped on
        # the cached quantile sketch (conservative: assumes the whole
        # quantile bucket above the crossing survives)
        frac = 0.0
        for q, v in zip(META_QUANTS, qs):
            if v >= cut_tfnorm:
                frac = 1.0 - q
                break
        if mtf >= cut_tfnorm and frac == 0.0:
            frac = 1.0 - META_QUANTS[-1]
        kept += nb * frac
    return kept / total if total else None


def estimate_postings_saved(
    bidx: BlockedIndex, terms: List[str], mode: str = "or"
) -> Optional[int]:
    """Postings the WAND path would skip decoding vs the exact fused
    plan, from cached metadata only. None when no term is present."""
    qterms = sorted(set(terms))
    meta = _term_meta(bidx, qterms)
    if not meta:
        return None
    total = sum(m[0] for m in meta.values())
    if mode == "and":
        rare_df = min(m[0] for m in meta.values())
        kept = min(total, rare_df * len(meta) * BLOCK_SIZE)
        return max(0, total - kept)
    kf = estimate_kept_fraction(bidx, terms)
    if kf is None:
        return None
    return int(total * (1.0 - kf))


def _choose_driver_plan(
    bidx: BlockedIndex, meta: dict, present: List[str], k: int, mode: str
) -> str:
    """Plan decision for the driver skip-data regime: rehearse the query's
    own pruning on the SAME driver-resident skip arrays the execution
    uses (module docstring). Only called for pyarrow-backed stores with
    every term under the skip cap, so everything here is in-process —
    zero Spark jobs. The OR branch decodes the ≤16-per-term probe blocks
    (the exact blocks the query's θ probe would read anyway, ~ms via the
    memoized dataset) because a metadata-only θ estimate provably cannot
    separate a rare+head OR (prunes to ~100 candidates) from a head+head
    OR (guaranteed cap overflow): both look identical in (df, gm) space —
    the v6 crossover's est_kept_fraction=0.998-vs-18/118669-blocks miss."""
    n, avgdl = bidx.stats.n_docs, bidx.stats.avgdl
    dfs = {t: meta[t][0] for t in present}
    idfs = {t: idf(n, dfs[t]) for t in present}
    total = sum(dfs.values())
    nterms = len(present)
    exact_cost = EXACT_FLOOR_SEC + total / EXACT_DECODE_RATE_POSTINGS_PER_SEC

    if mode == "and":
        rare_df = min(dfs.values())
        if rare_df > DEFAULT_CANDIDATE_CAP:
            return "exact"  # certain fallback, known from cached df alone
        rescore_est = min(total, rare_df * nterms * BLOCK_SIZE)
        wand_cost = WAND_DRIVER_FLOOR_SEC + (
            (rare_df + rescore_est) / DRIVER_DECODE_RATE_POSTINGS_PER_SEC
        )
        return "wand" if wand_cost < exact_cost else "exact"

    sd = _skip_data(bidx, present)
    # The probe is the execution's own θ probe — _driver_theta_probe is
    # memoized on the index, so when the query routes "wand" the
    # execution reuses this exact decode instead of redoing it (review
    # r3: the rehearsal previously doubled the probe read+decode+fold).
    theta, probe_postings = _driver_theta_probe(bidx, sd, present, idfs, avgdl, k)

    # identical split + kept-mask to _wand_topk_driver (shared helpers)
    gm = {t: idfs[t] * meta[t][1] for t in present}
    sum_gm = sum(gm.values())
    non_essential = maxscore_split(present, gm, theta)
    masks = kept_block_masks(present, sd, idfs, gm, sum_gm, theta, non_essential)
    kept_postings = int(sum(sd[t]["n"][masks[t]].sum() for t in present))
    if kept_postings > DEFAULT_CANDIDATE_CAP * nterms:
        return "exact"  # the execution's own certain-overflow pre-check
    rescore_est = min(total, kept_postings * nterms * BLOCK_SIZE)
    wand_cost = WAND_DRIVER_FLOOR_SEC + (
        (probe_postings + kept_postings + rescore_est)
        / DRIVER_DECODE_RATE_POSTINGS_PER_SEC
    )
    return "wand" if wand_cost < exact_cost else "exact"


def choose_topk_path(
    bidx: BlockedIndex,
    terms: List[str],
    k: int = 10,
    mode: str = "or",
    has_doc_filter: bool = False,
) -> str:
    """'wand' or 'exact' — no Spark job beyond the memoized term-metadata
    fill; on pyarrow-backed stores planning is pure driver-side reads.

    has_doc_filter: wand_topk only takes the fused one-job ranged kernel
    when doc_filter is None — a filtered query off the driver plan is
    served by the exact plan, so it routes 'exact' here too."""
    qterms = sorted(set(terms))
    meta = _term_meta(bidx, qterms)
    if not meta:
        return "exact"
    if len(meta) == 1:
        # single-list queries: nothing to prune between lists — but an
        # ATTR-FILTERED single-term query on a pyarrow store still wins
        # on the driver plan (decode one list + sidecar mask + local
        # top-k: zero Spark jobs vs the exact scan's ~0.4 s job floor —
        # r4's q_planned_filtered gap). has_doc_filter="attr" marks that
        # case; a DataFrame filter (True) stays on the exact scan.
        from nexlt_spark.query.attrs import has_attrs

        t = next(iter(meta))
        if (
            has_doc_filter == "attr"
            and _pa_ds(bidx) is not None
            and has_attrs(bidx)
            and meta[t][2] <= SKIP_CACHE_MAX_BLOCKS
            and meta[t][0] <= DRIVER_DECODE_MAX_POSTINGS
        ):
            return "wand"
        return "exact"
    if mode == "and" and len(meta) < len(qterms):
        return "exact"  # empty result; exact short-circuits driver-side
    if _pa_ds(bidx) is not None and all(
        meta[t][2] <= SKIP_CACHE_MAX_BLOCKS for t in meta
    ):
        return _choose_driver_plan(bidx, meta, sorted(meta), k, mode)
    if not getattr(bidx, "ranged", False) or has_doc_filter:
        return "exact"  # wand_topk would serve it with the exact plan
    saved = estimate_postings_saved(bidx, terms, mode)
    if saved is None:
        return "exact"
    # r4: cluster-side WAND on a ranged store is the FUSED one-job kernel
    # (query.wand._wand_topk_ranged_fused) — the same single groupBy(rsalt)
    # exchange as the exact per-range plan, no candidate collect (so no
    # cap), no multi-job floor. The only overhead over exact is the
    # in-kernel θ probe decode, so route WAND whenever estimated pruning
    # outweighs a probe's volume.
    probe_cost = PROBE_BLOCKS_PER_TERM * BLOCK_SIZE * len(meta)
    return "wand" if saved > probe_cost else "exact"


def _normalize_filter(doc_filter):
    """doc_filter → (normalized_filter, has_doc_filter flag for routing).

    AttrFilter: empty → dropped; otherwise routed as "attr" (the driver
    plan can serve it sidecar-side — wand_topk lowers it itself wherever
    the sidecar/store isn't pyarrow-readable). DataFrame: True."""
    if doc_filter is None:
        return None, False
    if isinstance(doc_filter, AttrFilter):
        if doc_filter.is_empty():
            return None, False
        return doc_filter, "attr"
    return doc_filter, True


def _exact_filter_df(bidx, doc_filter):
    """The exact route needs the DataFrame form of the filter."""
    if isinstance(doc_filter, AttrFilter):
        from nexlt_spark.query.attrs import to_doc_filter_df

        return to_doc_filter_df(bidx, doc_filter.filters, doc_filter.documents)
    return doc_filter


def topk(
    bidx: BlockedIndex,
    terms: List[str],
    k: int = 10,
    mode: str = "or",
    doc_filter: Optional[DataFrame] = None,
    stats_out: Optional[dict] = None,
    boosts: Optional[dict] = None,
) -> DataFrame:
    """Planned top-k: route to WAND or the exact fused plan. Both paths
    are rank-identical (asserted in tests/test_wand.py), so the planner
    only ever changes latency, never results.

    boosts thread to both executions (WAND's bounds scale with the same
    idf multiply, staying admissible). The route DECISION stays on the
    unscaled metadata sketches — boosts shift θ but not the postings
    volumes the cost model measures, and a mis-route only costs latency.
    """
    doc_filter, hdf = _normalize_filter(doc_filter)
    path = choose_topk_path(bidx, terms, k, mode, has_doc_filter=hdf)
    if stats_out is not None:
        stats_out["path"] = path
    if path == "wand":
        return wand_topk(bidx, terms, k=k, mode=mode, doc_filter=doc_filter,
                         stats_out=stats_out, boosts=boosts)
    from nexlt_spark.query.exact import score_postings

    flt = _exact_filter_df(bidx, doc_filter)
    scored = score_postings(
        bidx, sorted(set(terms)), mode, flt,
        per_range_limit=k if flt is None else None, boosts=boosts,
    )
    return scored.orderBy(F.col("score").desc(), F.col("doc_id").asc()).limit(k)


def topk_rows(
    bidx: BlockedIndex,
    terms: List[str],
    k: int = 10,
    mode: str = "or",
    doc_filter: Optional[DataFrame] = None,
    stats_out: Optional[dict] = None,
    boosts: Optional[dict] = None,
) -> list:
    """Searcher-style serving API: routed top-k as plain
    ``[(doc_id, score)]`` rows — the Lucene TopDocs shape.

    Identical routing and results to :func:`topk`; the difference is the
    transport. When the route is the driver skip-data WAND served
    locally, the rows never cross py4j (no createDataFrame, no collect),
    so CONCURRENT searcher threads stop serializing on the single
    gateway socket — the r4 QPS bench measured the py4j round-trips
    waving 8 clients' ~50 ms segments into ~400 ms p50s. Spark-routed
    paths fall back to ``.collect()``.
    """
    doc_filter, hdf = _normalize_filter(doc_filter)
    path = choose_topk_path(bidx, terms, k, mode, has_doc_filter=hdf)
    if stats_out is not None:
        stats_out["path"] = path
    if path == "wand":
        out = wand_topk(bidx, terms, k=k, mode=mode, doc_filter=doc_filter,
                        stats_out=stats_out, boosts=boosts, as_rows=True)
        return out
    from nexlt_spark.query.exact import score_postings

    flt = _exact_filter_df(bidx, doc_filter)
    scored = score_postings(
        bidx, sorted(set(terms)), mode, flt,
        per_range_limit=k if flt is None else None, boosts=boosts,
    )
    top = scored.orderBy(F.col("score").desc(), F.col("doc_id").asc()).limit(k)
    return [(r["doc_id"], r["score"]) for r in top.collect()]
