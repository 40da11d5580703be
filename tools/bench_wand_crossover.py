"""WAND vs exact crossover evidence (VERDICT r1 #6).

Block-Max WAND pays a fixed orchestration cost (θ probe + candidate
collect) to prune block decodes; exact pays for every posting of every
query term. Which wins depends on how much θ actually prunes — a
function of idf variance (vocabulary size), term mix, and k.

This tool measures both paths on two deterministic corpora:

- "narrow": vocab_size=2000 (the bench protocol's synth default) — a
  2k-term vocabulary over millions of docs means every term is common,
  score variance is tiny, θ prunes nothing → WAND's worst case;
- "zipf":   vocab_size=50000 — a realistic Zipf vocabulary where rare
  terms carry high idf, θ rises fast, and most common-term blocks are
  pruned → WAND's design case.

For each corpus × query shape it reports median latency for
wand_topk vs the exact path, plus WAND's own pruning telemetry
(blocks kept / total, candidate count) — the planner signal: choose
WAND when the kept-block fraction estimate is small, exact otherwise.

Usage: python tools/bench_wand_crossover.py [--convs 250000] [--out -]
Runs serially (one Spark app at a time) per the variance protocol.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

CORPORA = {
    "narrow": dict(vocab_size=2000),
    "zipf": dict(vocab_size=50000),
}


def _build(spark, n_convs: int, vocab_size: int, path: str):
    from nexlt_spark.flatten import flatten_transcripts
    from nexlt_spark.index.packed import build_blocked_direct, save_blocked
    from nexlt_spark.synth import synth_transcripts

    if not os.path.exists(os.path.join(path, "stats", "_SUCCESS")):
        t = synth_transcripts(spark, n_convs=n_convs, seed=7, vocab_size=vocab_size)
        docs = flatten_transcripts(t).persist()
        idx = build_blocked_direct(docs)
        save_blocked(idx, path, n_buckets=32)
        docs.unpersist()
        spark.catalog.clearCache()


def _pick_terms(bidx, spark):
    """Deterministic term mix: 2 Zipf-head terms, 2 mid, 2 rare."""
    from pyspark.sql import functions as F

    rows = bidx.term_stats.orderBy(F.col("df").desc(), F.col("term")).collect()
    n = len(rows)
    head = [rows[1]["term"], rows[2]["term"]]
    mid = [rows[n // 3]["term"], rows[n // 3 + 1]["term"]]
    rare = [rows[min(n - 2, 9 * n // 10)]["term"], rows[min(n - 1, 9 * n // 10 + 1)]["term"]]
    return head, mid, rare


def _median_time(fn, repeats=5):
    fn()  # warm
    ts = []
    for _ in range(repeats):
        t0 = time.perf_counter()
        fn()
        ts.append(time.perf_counter() - t0)
    return statistics.median(ts)


def _interleaved_medians(fa, fb, repeats=5, warm_a=None):
    """A/B/A/B interleaved medians — cancels the box's run-to-run drift
    (BENCH.md §5 measures up to 2-3x minutes apart). warm_a, when given,
    replaces fa's warm call (e.g. a telemetry-collecting variant whose
    extra count jobs must stay out of the timed runs)."""
    (warm_a or fa)(), fb()  # warm both (plans, broadcasts, codegen)
    ta, tb = [], []
    for _ in range(repeats):
        t0 = time.perf_counter(); fa(); ta.append(time.perf_counter() - t0)
        t0 = time.perf_counter(); fb(); tb.append(time.perf_counter() - t0)
    return statistics.median(ta), statistics.median(tb)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--convs", type=int, default=250000)
    ap.add_argument("--repeats", type=int, default=5)
    ap.add_argument("--base", default="/tmp/nexlt_wand_xover")
    ap.add_argument(
        "--corpora",
        default=",".join(CORPORA),
        help="subset of corpora to run (e.g. just 'zipf' for the "
        "head-list-size crossover probe at large --convs)",
    )
    args = ap.parse_args()

    from pyspark.sql import functions as F

    from nexlt_spark.index.blocks import load_blocked_index
    from nexlt_spark.query.exact import paginate, score_postings
    from nexlt_spark.query.wand import wand_topk
    from nexlt_spark.session import get_spark

    spark = get_spark(
        app_name="nexlt-wand-xover", master="local[32]", shuffle_partitions=128
    )

    results = []
    wanted = {c.strip() for c in args.corpora.split(",") if c.strip()}
    for cname, ckw in CORPORA.items():
        if cname not in wanted:
            continue
        path = os.path.join(args.base, f"{cname}_{args.convs}")
        _build(spark, args.convs, ckw["vocab_size"], path)
        bidx = load_blocked_index(spark, path).persist()
        n_docs = bidx.stats.n_docs
        head, mid, rare = _pick_terms(bidx, spark)

        shapes = {
            "or_head2": (head, "or"),
            "or_rare_head": ([rare[0], head[0]], "or"),
            "or_rare_mid": ([rare[0], mid[0]], "or"),
            "and_rare_head": ([rare[0], head[0]], "and"),
            "and_mid2": (mid, "and"),
            # the cost model's crossover shapes: a rare driver term against
            # multiple huge head lists — exact must decode every head
            # posting, WAND only head blocks intersecting candidate slices
            "and_rare_head2": ([rare[0], head[0], head[1]], "and"),
            "and_rare_head2_mid": ([rare[0], head[0], head[1], mid[0]], "and"),
        }
        for sname, (terms, mode) in shapes.items():
            stats: dict = {}

            def run_wand_telemetry():
                # warm-only pass that fills the pruning telemetry
                wand_topk(bidx, terms, k=10, mode=mode, stats_out=stats).collect()

            def run_wand():
                wand_topk(bidx, terms, k=10, mode=mode).collect()

            def run_exact():
                scored = score_postings(bidx, terms, mode, per_range_limit=10)
                paginate(
                    scored, [F.col("score").desc(), F.col("doc_id").asc()], 0, 10
                ).collect()

            tw, te = _interleaved_medians(
                run_wand, run_exact, args.repeats, warm_a=run_wand_telemetry
            )
            from nexlt_spark.query.planner import (
                choose_topk_path,
                estimate_kept_fraction,
            )

            decision = choose_topk_path(bidx, terms, 10, mode)
            kf = estimate_kept_fraction(bidx, terms)
            faster = "wand" if tw < te else "exact"
            row = {
                "corpus": cname,
                "vocab": ckw["vocab_size"],
                "n_docs": n_docs,
                "shape": sname,
                "terms": terms,
                "mode": mode,
                "wand_sec": round(tw, 4),
                "exact_sec": round(te, 4),
                "wand_over_exact": round(tw / te, 3),
                "blocks_total": stats.get("blocks_total"),
                "blocks_kept": stats.get("blocks_kept"),
                "n_candidates": stats.get("n_candidates"),
                "slice_shift": stats.get("slice_shift"),
                "fallback": stats.get("fallback"),
                "planner_choice": decision,
                "est_kept_fraction": round(kf, 4) if kf is not None else None,
                "planner_agrees_with_faster": decision == faster,
            }
            results.append(row)
            print(json.dumps(row), file=sys.stderr)
        bidx.blocks.unpersist()
        bidx.term_stats.unpersist()

    print(json.dumps({"metric": "wand_crossover", "rows": results}))
    spark.stop()


if __name__ == "__main__":
    main()
