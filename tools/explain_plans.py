"""Physical-plan evidence → PLANS.md.

Captures `.explain("formatted")` for the engine's headline operators and
asserts the plan properties that matter at 100 TB:

- parquet scans carry PushedFilters / pruned ReadSchema (predicate
  pushdown + column pruning reach the source);
- small-side joins are BroadcastHashJoin (no shuffle of the big side);
- relevance top-k compiles to TakeOrderedAndProject (per-partition heap,
  no global sort);
- scoring stages sit inside WholeStageCodegen spans (no per-row Python
  in the hot path).

Usage: python tools/explain_plans.py [--out PLANS.md]
"""

from __future__ import annotations

import argparse
import io
import os
import sys
from contextlib import redirect_stdout

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from pyspark.sql import functions as F  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")


def plan_text(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


# Prose context emitted above a section's "Asserted:" line — the why
# behind the node-presence checks, keyed by section title.
NARRATIVES = {
    "cursorMark deep page (keyset pagination)": """\
The offset path (`paginate`, O5 above) costs a collect-and-skip of
start+k ranked rows per page — fine for the UI's shallow pages, O(N²)
for a full-corpus export. A cursor page instead compiles to Filter
(lexicographic "sorts strictly after the cursor tuple" — null-aware
under Spark's default asc-nulls-first/desc-nulls-last) feeding ONE
TakeOrderedAndProject, so every page is one reduced top-k job (k rows
per partition cross the exchange) at ANY depth — page one million costs
the same as page one. This is Solr's own CursorMark design point: the
mark encodes the last row's sort values (`query/cursor.py`, url-safe
base64 JSON, timestamps ISO, floats round-trip-exact), the sort is made
total by the appended `doc_id asc` tiebreak (Solr's uniqueKey
requirement), and iteration terminates when a request returns the mark
it was sent (`select.select_cursor`). Relevance cursors run
`ranked_scores` with `unlimited_ranges=True`: the ranged kernels'
per-range top-(start+k) truncation preserves the global order only up
to the first page, so deep cursor pages must see every scored row.
Also asserted in `tests/test_cursor.py::test_cursor_page_plan_is_take_ordered`.""",
    "WAND default plan: driver skip-data, zero cluster-side pruning": """\
`wand_topk` serves an on-disk store from driver-resident skip data
whenever every present term's block count fits the cache cap:
block selection, θ maintenance, and pruning are driver-side numpy; the
only Spark jobs read key-selected block rows. The RESULT DataFrame is
therefore a `LocalTableScan` — the scores are already resident, and a
serving node answers follow-up pages without any further cluster work
(BENCH.md §2's QPS table measures this route at p50 ≈ 85 ms). The fused
cluster kernel below serves in-memory ranged stores and over-cap terms
— what a 10^12-doc head term would route through.""",
    "Training-data quality ops: repetition signals, boilerplate strip, contamination": """\
Audited live on the documents table (AQE on — join strategies that are
size-based at this scale are called out as such):

- `textstats.repetition_scores` — the line-level fractions never appear
  in any exchange: they are nested higher-order Column expressions
  (count-of-equals over the per-row lines array), computed in the same
  projection that scans the table. The n-gram side is ONE posexplode →
  groupBy(doc_id, text_len, n, gram) [partial agg before the exchange]
  → groupBy(doc_id) with max_by/conditional aggregation folding every
  (n, top/dup) cell — doc_id ALONE keys the second exchange, so that
  partitioning satisfies the final join's distribution. The join of
  line signals to n-gram signals is broadcast at this size; at corpus
  scale it becomes a SMJ on doc_id whose right side is already
  partitioned by the second groupBy, so only the slim line-signal side
  (doc_id + two doubles) moves.
- `dedup.strip_boilerplate_lines` — the boilerplate set is built over
  8-byte xxhash64 line keys (per-doc `distinct` runs map-side first, so
  a doc repeating its own line contributes one row). The anti-join's
  build side is left to AQE's size estimate: fixture-scale sets
  broadcast (as here), but the set is NOT bounded by construction — a
  web corpus has billions of shared lines — so past the threshold the
  join falls back to a shuffled anti-join on the 8-byte hash instead of
  OOMing. Per-doc reassembly is keyed by doc_id, order restored by
  carried positions via sort_array — no global sort.
- `ops.contamination.ngram_contamination` — the benchmark shingle set
  is broadcast (`F.broadcast`, small by definition), so the corpus
  shingle stream is never shuffled on shingle; the only aggregations
  over corpus-scale data are the per-doc shingle-count groupBys, keyed
  by doc_id with map-side partial counts. Also asserted in
  `tests/test_contamination.py`.""",
}


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--out", default=os.path.join(REPO, "PLANS.md"))
    args = ap.parse_args()

    from nexlt_spark.index.build import build_index
    from nexlt_spark.query.exact import bm25_topk, run_query
    from nexlt_spark.query.model import Query, QueryFilters
    from nexlt_spark.session import get_spark

    spark = get_spark(app_name="nexlt-plans", master="local[8]", shuffle_partitions=8)
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    idx = build_index(docs).persist()
    idx.doc_stats.count()

    # sections: (title, plan text, must_contain, must_not_contain)
    sections: list[tuple[str, str, list[str], list[str]]] = []

    # 1. pushdown + pruning: metadata filter over the source table
    q1 = docs.where((F.col("lang") == "en") & (F.col("doc_id") < 100)).select(
        "doc_id", "text"
    )
    sections.append(
        (
            "Source filter + projection (S1/P1/P2)",
            plan_text(q1),
            ["PushedFilters", "ReadSchema"],
            [],
        )
    )

    # 2. relevance top-k: TakeOrderedAndProject, codegen scoring
    q2 = bm25_topk(idx, docs, Query(terms=["spark", "join"], k=10))
    sections.append(
        (
            "BM25 top-k (O3/P14/P15)",
            plan_text(q2),
            # "codegen id" marks operators fused into WholeStageCodegen
            # spans (formatted explain under AQE prints ids, not the span)
            ["TakeOrderedAndProject", "codegen id", "BroadcastHashJoin"],
            [],
        )
    )

    # 3. filtered query: fq as left-semi broadcast-able join
    q3 = bm25_topk(
        idx, docs, Query(terms=["value"], filters=QueryFilters(roles=None), k=10)
    )
    del q3  # same shape as q2; keep doc of the sort/count path instead
    q4 = run_query(idx, docs, Query(terms=["query"], sort=[("text_lc", "asc")], k=20))
    sections.append(
        ("Sorted query path (O2/O5)", plan_text(q4), ["TakeOrderedAndProject"], [])
    )

    # 3b. cursorMark keyset paging: deep pages stay one reduced top-k —
    # the mark becomes a Filter, never a Window/row_number over the corpus
    from nexlt_spark.query.cursor import cursor_page, encode_cursor

    spec = [("n_chars", "asc"), ("doc_id", "asc")]
    q4b = cursor_page(
        docs.select("doc_id", "lang", "n_chars"),
        spec,
        encode_cursor([120, 500], sort_spec=spec),
        10,
    )
    sections.append(
        (
            "cursorMark deep page (keyset pagination)",
            plan_text(q4b),
            ["TakeOrderedAndProject"],
            ["Window", "SortMergeJoin"],
        )
    )

    # 4. phrase from the positions index: postings-only — the plan of a
    # store-loaded index must contain NO Python eval stage (the documents
    # re-tokenizer would show up as ArrowEvalPython/MapInPandas)
    import tempfile

    from nexlt_spark.index.build import InvertedIndex
    from nexlt_spark.query.exact import phrase_docs

    pos_idx = build_index(docs, positions=True)
    store = tempfile.mkdtemp(prefix="nexlt-plans-")
    pos_idx.postings.write.mode("overwrite").parquet(f"{store}/postings")
    pos_idx.doc_stats.write.mode("overwrite").parquet(f"{store}/doc_stats")
    pos_idx.term_stats.write.mode("overwrite").parquet(f"{store}/term_stats")
    loaded = InvertedIndex(
        postings=spark.read.parquet(f"{store}/postings"),
        doc_stats=spark.read.parquet(f"{store}/doc_stats"),
        term_stats=spark.read.parquet(f"{store}/term_stats"),
        stats=pos_idx.stats,
    )
    q5 = phrase_docs(loaded, docs, ["table", "part"])
    sections.append(
        (
            "Phrase query from the positions index (Q2)",
            plan_text(q5),
            ["PushedFilters"],
            ["MapInPandas", "ArrowEvalPython", "BatchEvalPython"],
        )
    )

    # 4b. sloppy phrase ("a b"~N): the greedy position-chain variant must
    # keep the same postings-only, zero-Python shape — the ordered-window
    # verify is nested higher-order Columns, not a UDF
    q5s = phrase_docs(loaded, docs, ["table", "part"], slop=2)
    sections.append(
        (
            'Sloppy phrase ("table part"~2): ordered window from positions',
            plan_text(q5s),
            ["PushedFilters"],
            ["MapInPandas", "ArrowEvalPython", "BatchEvalPython"],
        )
    )

    # 5. embedding near-dup: exact projection-bucketed join — no cartesian
    from nexlt_spark.ops.similarity import projection_near_dup_pairs

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    q6 = projection_near_dup_pairs(emb, dim=64, threshold=0.9)
    sections.append(
        (
            "Embedding near-dup: exact projection-bucketed self-join",
            plan_text(q6),
            ["Join"],
            ["CartesianProduct", "BroadcastNestedLoopJoin"],
        )
    )

    # 5b. IVF store probe: cell IN (probed…) must be a PARTITION filter on
    # the hive partitionBy("cell") layout — unprobed cells pruned at
    # planning time, and the top-k stays a per-partition heap
    from nexlt_spark.ops.similarity import (
        ivf_assign,
        ivf_store_topk,
        train_ivf_centroids,
        write_ivf_store,
    )

    cents = train_ivf_centroids(emb, n_cells=4, dim=64, iters=4)
    ivf_path = tempfile.mkdtemp(prefix="nexlt-plans-ivf-") + "/store"
    write_ivf_store(ivf_assign(emb, cents), cents, ivf_path)
    qv = [float(x) for x in emb.select("embedding").head()[0]]
    q6b = ivf_store_topk(spark, ivf_path, qv, nprobe=1, k=10)
    sections.append(
        (
            "IVF store probe: partition-pruned cell scan + top-k heap",
            plan_text(q6b),
            ["PartitionFilters", "TakeOrderedAndProject"],
            ["CartesianProduct", "SortMergeJoin"],
        )
    )

    # 6. facet.query: every predicate in ONE aggregate over one scan
    from nexlt_spark.query.facets import facet_query_counts

    q7 = facet_query_counts(
        docs,
        {
            "en": F.col("lang") == "en",
            "long": F.col("n_chars") >= 400,
            "has_spark": F.col("text").contains("spark"),
        },
    )
    sections.append(
        (
            "facet.query: k predicates, one scan, one aggregate",
            plan_text(q7),
            ["HashAggregate"],
            ["Union", "Join"],
        )
    )

    # 7-9. packed ranged store: the serving plans. Saved + reloaded so the
    # parquet scan (bucket pruning, term pushdown) is part of the plan.
    from nexlt_spark.index.blocks import load_blocked_index
    from nexlt_spark.index.packed import build_blocked_direct, save_blocked
    from nexlt_spark.query.exact import paginate, score_postings
    from nexlt_spark.query.ranged import phrase_score_ranged
    from nexlt_spark.query.wand import wand_topk

    pstore = tempfile.mkdtemp(prefix="nexlt-plans-packed-")
    save_blocked(build_blocked_direct(docs, range_shift=8, positions=True), pstore)
    bidx = load_blocked_index(spark, pstore)

    q8 = paginate(
        score_postings(bidx, ["spark", "join"], "and", per_range_limit=10),
        [F.col("score").desc(), F.col("doc_id").asc()], 0, 10,
    )
    sections.append(
        (
            "Per-range fused BM25 (ranged store): one grouped kernel, block bytes only",
            plan_text(q8),
            # decode+score+arity live in ONE FlatMapGroupsInPandas after a
            # single rsalt exchange of compressed block rows; top-k is a
            # per-partition heap; the term filter reaches the parquet scan
            ["FlatMapGroupsInPandas", "TakeOrderedAndProject", "PushedFilters"],
            # no tokenizer pass, no posting-row shuffle joins
            ["MapInPandas", "ArrowEvalPython", "SortMergeJoin", "CartesianProduct"],
        )
    )

    q9 = paginate(
        phrase_score_ranged(bidx, ["table", "part"], limit=10),
        [F.col("score").desc(), F.col("doc_id").asc()], 0, 10,
    )
    sections.append(
        (
            "Fused phrase on the ranged store: adjacency + scoring in-kernel (Q2)",
            plan_text(q9),
            ["FlatMapGroupsInPandas", "TakeOrderedAndProject", "PushedFilters"],
            # positions never leave the kernel; documents.text never read
            ["MapInPandas", "ArrowEvalPython", "SortMergeJoin", "Join"],
        )
    )

    # default: the driver skip-data plan — pruning never touches the
    # cluster, and the result is already local when the DataFrame exists
    q10a = wand_topk(bidx, ["spark", "join"], k=10, mode="or")
    sections.append(
        (
            "WAND default plan: driver skip-data, zero cluster-side pruning",
            plan_text(q10a),
            ["LocalTableScan"],
            ["FlatMapGroupsInPandas", "Exchange", "SortMergeJoin"],
        )
    )

    # an in-memory ranged index has no driver-readable payloads, so its
    # default WAND route is the fused cluster kernel (what an over-cap
    # head term routes through at 10^12 docs). localCheckpoint keeps the
    # blocks in executor memory and cuts the build's own stages out of
    # the plan, so the asserts see only the query.
    ridx = build_blocked_direct(docs, range_shift=8)
    ridx.blocks = ridx.blocks.localCheckpoint()
    q10 = wand_topk(ridx, ["spark", "join"], k=10, mode="or")
    sections.append(
        (
            "WAND cluster plan: fused per-range kernel (in-memory ranged store)",
            plan_text(q10),
            ["FlatMapGroupsInPandas", "TakeOrderedAndProject"],
            ["MapInPandas", "ArrowEvalPython", "SortMergeJoin"],
        )
    )

    # sparse candidates (the 10^7+-doc WAND design case): the rescore's
    # rows plan decodes+masks in place on the scan — NO groupBy exchange
    # of block payloads; only masked posting rows reach the fold. The
    # small plan corpus fits the driver-decode caps and its candidates
    # look dense, so the caps drop to 0 and the coverage threshold rises
    # past 1 for this one query; at scale the driver plan picks this
    # rescore whenever it overflows the caps and the candidate-hit blocks
    # hold <30% of the query terms' postings.
    import nexlt_spark.query.wand as W

    saved = (W.DRIVER_DECODE_MAX_BLOCKS, W.DRIVER_DECODE_MAX_POSTINGS,
             W.ROWS_RESCORE_COVERAGE)
    try:
        W.DRIVER_DECODE_MAX_BLOCKS = W.DRIVER_DECODE_MAX_POSTINGS = 0
        W.ROWS_RESCORE_COVERAGE = 2.0
        q10b = wand_topk(bidx, ["table", "scan"], k=10, mode="and")
    finally:
        (W.DRIVER_DECODE_MAX_BLOCKS, W.DRIVER_DECODE_MAX_POSTINGS,
         W.ROWS_RESCORE_COVERAGE) = saved
    sections.append(
        (
            "WAND rescore, sparse candidates: shuffle-free rows plan (no payload exchange)",
            plan_text(q10b),
            ["MapInPandas", "TakeOrderedAndProject"],
            ["FlatMapGroupsInPandas", "SortMergeJoin", "CartesianProduct"],
        )
    )

    # 11. sharded scatter-gather: union of per-shard pruned scans feeding
    # ONE TakeOrderedAndProject — no extra shuffle, no cartesian, and the
    # term filter still reaches every shard's parquet scan
    from nexlt_spark.index.sharded import combine_shards

    shard_paths = []
    for i in range(2):
        sp = tempfile.mkdtemp(prefix=f"nexlt-plans-shard{i}-")
        save_blocked(
            build_blocked_direct(
                docs.where(F.pmod(F.col("doc_id"), F.lit(2)) == i)
            ),
            sp,
        )
        shard_paths.append(sp)
    shidx = combine_shards([load_blocked_index(spark, p) for p in shard_paths])
    q11 = bm25_topk(shidx, docs, Query(terms=["spark", "join"], k=10))
    sections.append(
        (
            "Sharded search: union of pruned shard scans, one top-k merge",
            plan_text(q11),
            # the only exchange is the same per-doc score fold the
            # single-store plan has — sharding itself adds none
            ["Union", "TakeOrderedAndProject", "PushedFilters"],
            ["SortMergeJoin", "CartesianProduct"],
        )
    )

    # 12. training-data quality ops: no sort-merge joins, no cartesian,
    # no per-row Python anywhere in the three pipelines
    from nexlt_spark.ops.contamination import ngram_contamination
    from nexlt_spark.ops.dedup import strip_boilerplate_lines
    from nexlt_spark.ops.textstats import repetition_scores

    bench_items = docs.where(F.col("doc_id") % 37 == 0).select(
        "doc_id", F.expr("substring(text, 1, 120)").alias("text")
    )
    q12 = "\n".join(
        [
            "--- repetition_scores ---",
            plan_text(repetition_scores(docs)),
            "--- strip_boilerplate_lines ---",
            plan_text(strip_boilerplate_lines(docs)),
            "--- ngram_contamination ---",
            plan_text(ngram_contamination(docs, bench_items, shingle_n=8, min_hits=3)),
        ]
    )
    sections.append(
        (
            "Training-data quality ops: repetition signals, boilerplate strip, contamination",
            q12,
            [],
            ["SortMergeJoin", "CartesianProduct", "ArrowEvalPython", "BatchEvalPython"],
        )
    )

    failures: list[str] = []
    out_lines = [
        "# PLANS — physical-plan evidence (`.explain(\"formatted\")`)",
        "",
        f"Generated by `python tools/explain_plans.py` at `{SF_DIR}`. Each section",
        "lists the plan properties asserted for 100 TB viability; regeneration",
        "fails loudly if a property disappears.",
        "",
    ]
    unused_narratives = set(NARRATIVES)
    for title, text, must_contain, must_not in sections:
        out_lines += [f"## {title}", ""]
        if title in NARRATIVES:
            out_lines += [NARRATIVES[title], ""]
            unused_narratives.discard(title)
        missing = [m for m in must_contain if m not in text]
        present_bad = [m for m in must_not if m in text]
        if missing:
            failures.append(f"{title}: missing {missing}")
        if present_bad:
            failures.append(f"{title}: must-not-contain violated {present_bad}")
        asserted = [f"`{m}`" + (" ✗" if m in missing else " ✓") for m in must_contain]
        asserted += [f"no `{m}`" + (" ✗" if m in present_bad else " ✓") for m in must_not]
        out_lines += [
            "Asserted: " + ", ".join(asserted),
            "",
            "```",
            text.strip(),
            "```",
            "",
        ]

    if unused_narratives:
        # a renamed section title must not silently drop its prose
        failures.append(f"NARRATIVES never consumed: {sorted(unused_narratives)}")
    with open(args.out, "w") as fh:
        fh.write("\n".join(out_lines))
    print(f"wrote {args.out}", file=sys.stderr)
    if failures:
        print("PLAN PROPERTY FAILURES:", *failures, sep="\n  ", file=sys.stderr)
        sys.exit(1)
    spark.stop()


if __name__ == "__main__":
    main()
