"""Benchmark harness — one JSON line for the driver (BENCH_r{N}.json).

Measures, at $SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS]:

- index-build throughput (turns/sec): synthetic transcripts (seeded,
  deterministic, scaled to the sf) → flatten → inverted index, fully
  materialized;
- headline query latencies (sec, median of 3): the frozen reference
  query shapes over the built index + the pipeline ops over the sf's
  documents/events/embeddings tables.

Scaling-efficiency evidence (north_rule N vs 4N) is produced by
tools/bench_scaling.py (two fresh JVMs at local[8] / local[32]) and
reported in BENCH.md — not here, to keep the per-round bench fast.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import functions as F

from nexlt_spark.session import get_spark
from nexlt_spark.flatten import flatten_transcripts
from nexlt_spark.index.build import build_index
from nexlt_spark.index.blocks import load_blocked_index
from nexlt_spark.index.packed import build_blocked_direct, save_blocked
from nexlt_spark.query.exact import (
    bm25_topk,
    filter_documents,
    paginate,
    run_query,
    score_postings,
)
from nexlt_spark.query.attrs import AttrFilter, save_doc_attrs
from nexlt_spark.query.phrase_driver import phrase_topk
from nexlt_spark.query.ranged import phrase_score_ranged
from nexlt_spark.query.model import Query, QueryFilters
from nexlt_spark.query.planner import topk as planner_topk
from nexlt_spark.query.wand import wand_topk
from nexlt_spark.synth import synth_transcripts
from nexlt_spark.ops import contamination, dedup, minhash, similarity, textstats

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")
# transcripts corpus size scales with sf: sf0.1 → ~20k convs (~190k turns)
N_CONVS = int(os.environ.get("NEXLT_BENCH_CONVS", "0")) or {
    "sf0.001": 400, "sf0.01": 2000,
}.get(os.path.basename(SF_DIR.rstrip("/")), 20000)
REPEATS = int(os.environ.get("NEXLT_BENCH_REPEATS", "3"))


def timed(fn):
    t0 = time.perf_counter()
    fn()
    return time.perf_counter() - t0


def median_timed(fn, repeats=REPEATS):
    return statistics.median(timed(fn) for _ in range(repeats))


def main():
    spark = get_spark(
        app_name="nexlt-bench",
        master=f"local[{CPUS}]",
        shuffle_partitions=int(CPUS),
    )

    # ---- index-build throughput ------------------------------------------
    transcripts = synth_transcripts(spark, n_convs=N_CONVS, seed=42)
    transcripts = transcripts.persist()
    n_turns = transcripts.count()  # materialize input outside the timer

    # Best-of-2 full passes: pass 1 pays the one-time JVM JIT + Python
    # worker import/fork cost that a long-running cluster amortizes over
    # thousands of batches; pass 2 measures the steady-state pipeline.
    # (This box's first-materialization cost swings 2-20x run to run —
    # see BENCH.md §4's variance note — so a single cold pass benches
    # the host's scheduler noise, not the engine.)
    build_sec = None
    for i in range(2):
        t0 = time.perf_counter()
        # the timer wraps the WHOLE pass: flatten's stable-id assignment
        # runs an eager offsets job, so plan construction is build work
        documents = flatten_transcripts(transcripts).persist()
        # positions=True: the serving index carries per-posting token
        # offsets (Lucene indexes positions by default; phrase queries
        # run off them)
        idx = build_index(documents, positions=True)
        # materialize everything the way a write would
        documents.count()
        idx.postings.persist().count()
        idx.term_stats.persist().count()
        sec = time.perf_counter() - t0
        build_sec = sec if build_sec is None else min(build_sec, sec)
        if i == 0:  # drop pass-1 artifacts; keep pass 2's for the queries
            idx.postings.unpersist()
            idx.term_stats.unpersist()
            documents.unpersist()
    turns_per_sec = n_turns / build_sec

    # blocked (compressed, block-max) postings via the packed scale-path
    # builder: ranged=True, so WAND's rescore and the q_ranged_* shapes
    # run the per-range fused kernel (query/ranged.py) — the serving plan
    bidx = build_blocked_direct(documents, positions=True)
    bidx.blocks = bidx.blocks.persist()
    bidx.blocks.count()

    # on-disk store (outside the timers): q_wand_driver_* serve through
    # the driver skip-data plan (PLANS.md §"Driver skip-data WAND" — zero
    # Spark jobs per query once metadata is warm), the plan a searcher
    # node would run in production. The in-memory q_wand_* rows bench the
    # fused cluster-side kernel.
    store_dir = os.path.join(tempfile.mkdtemp(prefix="nexlt_bench_"), "store")
    save_blocked(bidx, store_dir)
    save_doc_attrs(documents, store_dir)  # fq sidecar (query/attrs.py)
    sidx = load_blocked_index(spark, store_dir)

    # ---- query latencies over the built index -----------------------------
    queries = {
        "q_term": lambda: bm25_topk(idx, documents, Query(terms=["error"], k=10)).collect(),
        "q_hot_term": lambda: bm25_topk(idx, documents, Query(terms=["the"], k=10)).collect(),
        "q_and": lambda: bm25_topk(
            idx, documents, Query(terms=["run", "file"], mode="and", k=10)
        ).collect(),
        "q_or": lambda: bm25_topk(
            idx, documents, Query(terms=["spark", "index", "merge"], mode="or", k=10)
        ).collect(),
        "q_phrase": lambda: bm25_topk(idx, documents, Query(phrase="the run", k=10)).collect(),
        # raw-Lucene-syntax shapes (round 3): ordered sloppy window and a
        # boosted OR — same postings-only plans, greedy position chains /
        # one idf multiply on top of the exact fold
        "q_phrase_slop": lambda: bm25_topk(
            idx, documents, Query(phrase="the run", phrase_slop=3, k=10)
        ).collect(),
        "q_boosted_or": lambda: bm25_topk(
            idx, documents,
            Query(terms=["spark", "index", "merge"], mode="or",
                  boosts={"merge": 8.0}, k=10),
        ).collect(),
        "q_filtered": lambda: bm25_topk(
            idx,
            documents,
            Query(terms=["data"], filters=QueryFilters(roles=["user", "assistant"]), k=10),
        ).collect(),
        "q_sorted": lambda: run_query(
            idx, documents, Query(terms=["table"], sort=[("text_lc", "asc")], k=50)
        ).collect(),
        "q_count": lambda: run_query(
            idx, documents, Query(terms=["value"], count_only=True)
        ).collect(),
        "q_wand_or": lambda: wand_topk(
            bidx, ["spark", "index", "merge"], k=10, mode="or"
        ).collect(),
        "q_wand_and": lambda: wand_topk(bidx, ["run", "file"], k=10, mode="and").collect(),
        "q_wand_driver_or": lambda: wand_topk(
            sidx, ["spark", "index", "merge"], k=10, mode="or"
        ).collect(),
        "q_wand_driver_and": lambda: wand_topk(
            sidx, ["run", "file"], k=10, mode="and"
        ).collect(),
        # per-range fused kernel on the packed store (the serving plan)
        "q_ranged_and": lambda: paginate(
            score_postings(bidx, ["run", "file"], "and", per_range_limit=10),
            [F.col("score").desc(), F.col("doc_id").asc()], 0, 10,
        ).collect(),
        "q_ranged_phrase": lambda: paginate(
            phrase_score_ranged(bidx, ["the", "run"], limit=10),
            [F.col("score").desc(), F.col("doc_id").asc()], 0, 10,
        ).collect(),
        # cost-based routing (query/planner.py): decision from cached term
        # metadata, zero planning jobs once warm — measures routed latency.
        # One planned variant per headline shape (VERDICT r2 #5), over the
        # ON-DISK store so the planner sees both serving regimes
        # (driver-WAND vs exact scan) exactly as a production searcher
        # would; the generic flat-index plans above stay benched for
        # coverage.
        "q_planned_or": lambda: planner_topk(
            sidx, ["spark", "index", "merge"], k=10, mode="or"
        ).collect(),
        "q_planned_and": lambda: planner_topk(
            sidx, ["run", "file"], k=10, mode="and"
        ).collect(),
        "q_planned_filtered": lambda: planner_topk(
            sidx, ["data"], k=10, mode="or",
            doc_filter=filter_documents(
                documents, QueryFilters(roles=["user", "assistant"])
            ).select("doc_id"),
        ).collect(),
        # r5: the same fq shape through the attr-filtered driver route
        # (doc_attrs sidecar, zero Spark jobs — VERDICT r4 next #3;
        # done-criterion: <= 2x q_planned_or)
        "q_planned_filtered_attr": lambda: planner_topk(
            sidx, ["data"], k=10, mode="or",
            doc_filter=AttrFilter(QueryFilters(roles=["user", "assistant"])),
        ).collect(),
        # r5: driver phrase plan — leapfrog AND on skip data, positions
        # fetched only for survivors' blocks (VERDICT r4 next #4)
        "q_phrase_driver": lambda: phrase_topk(
            sidx, ["the", "run"], k=10, as_rows=True
        ),
    }

    # ---- pipeline ops over the sf tables ----------------------------------
    # the sf tables are single parquet files (one input split), so without
    # a spread the ops' scan-stage work — tokenize/shingle/hash projections
    # — runs on ONE task regardless of cores; a production corpus arrives
    # in thousands of splits. Repartition once, outside the timers, so the
    # op benches measure the operators, not the fixture's file layout.
    docs_tbl = (
        spark.read.parquet(f"{SF_DIR}/documents.parquet").repartition(int(CPUS)).persist()
    )
    docs_tbl.count()
    emb_tbl = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").repartition(int(CPUS)).persist()
    emb_tbl.count()
    qv = [float(x) for x in emb_tbl.where(F.col("vec_id") == 0).collect()[0]["embedding"]]
    queries.update(
        {
            "op_dedup_fp": lambda: dedup.fingerprint_duplicate_groups(docs_tbl, n_tokens=2).collect(),
            "op_token_stats": lambda: textstats.token_stats_by(docs_tbl, "lang").collect(),
            "op_ann_cosine": lambda: similarity.cosine_topk(emb_tbl, qv, k=10).collect(),
            # b=4/r=4 is the scale configuration for threshold 0.9
            # (S-curve: recall 0.987 at J=0.9, false-candidate rate 3% at
            # J=0.3 — vs r=1 banding where nearly every mildly-similar
            # pair becomes a candidate and the verify join explodes; the
            # driver-contract entry keeps r=1 for exact-recall oracle
            # equivalence, a correctness setting, not a perf one)
            "op_minhash_neardup": lambda: minhash.near_duplicate_pairs(
                docs_tbl, threshold=0.9, n_hashes=16, n_bands=4
            ).collect(),
            # pairs → connected components → one survivor per cluster:
            # the full near-dup dedup a training pipeline actually runs
            "op_dedup_survivors": lambda: dedup.dedup_survivors(
                docs_tbl,
                minhash.near_duplicate_pairs(
                    docs_tbl, threshold=0.9, n_hashes=16, n_bands=4
                ),
            ).count(),
            # Gopher repetition signals + benchmark contamination — the
            # round-3 quality/decontamination ops, benched so regressions
            # in the explode/groupBy plans are visible round-over-round
            "op_repetition": lambda: textstats.repetition_scores(docs_tbl).count(),
            "op_contamination": lambda: contamination.ngram_contamination(
                docs_tbl,
                docs_tbl.where(F.col("doc_id") % 37 == 0).select(
                    "doc_id", F.expr("substring(text, 1, 120)").alias("text")
                ),
                shingle_n=8,
                min_hits=3,
            ).count(),
        }
    )

    per_query = {}
    for name, fn in queries.items():
        fn()  # warm (plans, broadcast, code-gen)
        per_query[name] = round(median_timed(fn), 4)

    total = round(sum(per_query.values()), 4)
    out = {
        "metric": "headline_suite_sec",
        "value": total,
        "unit": "sec",
        "queries": per_query,
        "sf": os.path.basename(SF_DIR.rstrip("/")),
        "build": {
            "n_turns": n_turns,
            "build_sec": round(build_sec, 3),
            "turns_per_sec": round(turns_per_sec, 1),
            "n_postings": idx.postings.count(),
            "n_terms": idx.term_stats.count(),
        },
        "cpus": int(CPUS),
    }
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
