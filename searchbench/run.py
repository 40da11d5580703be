"""Searcher benchmark: serve seeded /select requests over a freshly built store.

Run from the repository root:

    python3 searchbench/run.py --workload serve_warm --seed 1 --seconds 6 --trace 0

Each run takes a fixed transcripts corpus made by ``nexlt_spark.synth``
(generated on the first run in a checkout), builds the on-disk store from it
in a fresh JVM (the set-up whose cost every workload reports), opens it as
the searcher and serves the workload's seeded requests through the
production path for ``--seconds``: ``query.parser.parse_query``, then
``query.planner.topk_rows`` (or ``query.phrase_driver.phrase_topk`` for a
phrase), with ``fq`` as a ``query.attrs.AttrFilter``. Afterwards a seeded
sample of the distinct requests served is checked against
``nexlt_spark.oracle.OracleIndex``. The last line of standard output is one
JSON object with the end-to-end metrics (``--trace 0``) or the per-layer
metrics of a traced run (``--trace 1``). Any failed or wrong request makes
the exit code 1. See README.md in this directory.
"""

from __future__ import annotations

import argparse
import itertools
import json
import math
import os
import random
import shutil
import statistics
import subprocess
import sys
import tempfile
import threading
import time
from contextlib import contextmanager

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

K = 10
CONVS = 500  # 4,600 turns; see README.md, "Choices forced by the run budget"
CORPUS_SEED = 42  # the corpus is fixed; --seed varies the requests
SPARK_CORES = 4
CLIENTS = {"serve_warm": 2, "serve_cold": 1, "serve_head": 1}
# Requests served before the timed phase. Driver-routed requests still build
# a Spark DataFrame plan per query, so the JVM's JIT keeps compiling, and
# serving keeps getting faster and cheaper, for the first ~400-500 requests
# after the build (README.md, "Noise"). The JIT's own CPU and the slow
# requests of that stretch move most with host load, so the timed phase
# starts after it. A fixed count, not a fixed time, leaves the JIT at the
# same point however busy the host is. serve_warm's count is seven passes
# over its pool; serve_cold's warm-up requests use terms the timed phase
# never sees. Spark-routed serve_head requests speed up over their first
# ~5 only (~730 ms to 450-650 ms); its count is one stratified round.
WARMUP_REQUESTS = {"serve_warm": 420, "serve_cold": 240, "serve_head": 8}
# The warm-up is not timed, so it runs 2 clients on every workload: the JIT
# counts requests, and 2 clients serve them ~1.4x faster than one.
WARMUP_CLIENTS = 2
# Distinct requests compared with the oracle per run. A serve_head request
# takes ~0.5 s, so it checks fewer.
CHECK_SAMPLE = {"serve_warm": 12, "serve_cold": 12, "serve_head": 3}
# the rank-identity tests' score tolerance (tests/test_bm25_rank_identity.py)
REL_TOL, ABS_TOL = 1e-12, 1e-15


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--convs", type=int, default=CONVS, help="corpus size in conversations")
    ap.add_argument("--make-corpus", metavar="DIR", help=argparse.SUPPRESS)
    args = ap.parse_args(argv)
    if args.make_corpus is None and None in (args.workload, args.seed, args.seconds):
        ap.error("--workload, --seed and --seconds are required")
    return args


# ---------------------------------------------------------------- tracing


class Trace:
    """In-memory spans: (request id, name, parent, start, end) tuples."""

    def __init__(self):
        self.spans: list = []
        self._lock = threading.Lock()

    @contextmanager
    def span(self, rid, name, parent="request"):
        t0 = time.perf_counter()
        try:
            yield
        finally:
            t1 = time.perf_counter()
            with self._lock:
                self.spans.append((rid, name, parent, t0, t1))

    def write(self, path):
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for rid, name, parent, t0, t1 in self.spans:
                f.write(json.dumps({"rid": rid, "name": name, "parent": parent,
                                    "start": t0, "end": t1}) + "\n")

    def layer_ms(self, name):
        """Median span duration of one layer over the requests that ran it."""
        d = [(t1 - t0) * 1e3 for _, n, _, t0, t1 in self.spans if n == name]
        return statistics.median(d) if d else 0.0


# ---------------------------------------------------------------- serving


class Searcher:
    """The request path under test, over one opened store."""

    def __init__(self, spark, bidx):
        self.sc = spark.sparkContext
        self.bidx = bidx
        self.trace: Trace | None = None  # set: serve through _serve_traced
        self.routes = {"wand": 0, "exact": 0, "phrase": 0}
        self.fallbacks = 0
        self.pos_blocks: list = []
        self._lock = threading.Lock()

    def serve(self, req, rid):
        return self._serve_traced(req, rid) if self.trace else self._serve(req)

    def _serve(self, req):
        from nexlt_spark.query.attrs import AttrFilter
        from nexlt_spark.query.exact import analyze_terms
        from nexlt_spark.query.parser import parse_query
        from nexlt_spark.query.phrase_driver import phrase_topk
        from nexlt_spark.query.planner import topk_rows

        q, fq = req
        query = parse_query(q, k=K)
        if query.phrase:
            return phrase_topk(self.bidx, analyze_terms([query.phrase]), k=K,
                               slop=query.phrase_slop, as_rows=True)
        flt = AttrFilter(parse_query(fq).filters) if fq else None
        return topk_rows(self.bidx, analyze_terms(query.terms), k=K,
                         mode=query.mode, doc_filter=flt)

    def _serve_traced(self, req, rid):
        """topk_rows's steps, called one by one from here so each is timed."""
        from pyspark.sql import functions as F

        from nexlt_spark.query.attrs import AttrFilter, to_doc_filter_df
        from nexlt_spark.query.exact import analyze_terms, score_postings
        from nexlt_spark.query.parser import parse_query
        from nexlt_spark.query.phrase_driver import phrase_topk
        from nexlt_spark.query.planner import choose_topk_path
        from nexlt_spark.query.wand import wand_topk

        span = self.trace.span
        self.sc.setJobGroup(rid, "request", False)
        with span(rid, "request", None):
            q, fq = req
            with span(rid, "parser"):
                query = parse_query(q, k=K)
                filters = parse_query(fq).filters if fq else None
                terms = analyze_terms([query.phrase] if query.phrase else query.terms)
            if query.phrase:
                stats: dict = {}
                with span(rid, "phrase"):
                    rows = phrase_topk(self.bidx, terms, k=K, slop=query.phrase_slop,
                                       as_rows=True, stats_out=stats)
                with self._lock:
                    self.routes["phrase"] += 1
                    self.pos_blocks.append(stats.get("pos_blocks", 0))
                return rows
            flt = AttrFilter(filters) if filters is not None and not filters.is_empty() else None
            with span(rid, "planner"):
                path = choose_topk_path(self.bidx, terms, K, query.mode,
                                        has_doc_filter="attr" if flt else False)
            with self._lock:
                self.routes[path] += 1
            if path == "wand":
                stats = {}
                with span(rid, "wand"):
                    rows = wand_topk(self.bidx, terms, k=K, mode=query.mode, doc_filter=flt,
                                     stats_out=stats, as_rows=True)
                if stats.get("fallback"):
                    with self._lock:
                        self.fallbacks += 1
                return rows
            with span(rid, "exact"):
                flt_df = to_doc_filter_df(self.bidx, filters) if flt else None
                scored = score_postings(self.bidx, sorted(set(terms)), query.mode, flt_df,
                                        per_range_limit=K if flt_df is None else None)
                top = scored.orderBy(F.col("score").desc(), F.col("doc_id").asc()).limit(K)
                return [(r["doc_id"], r["score"]) for r in top.collect()]


class Phase:
    """One closed-loop serving phase: ``clients`` threads, each sending its
    next request only after the previous one returned, until the deadline
    or the end of the stream. Process-tree CPU and host ticks are read at
    its start and end."""

    def __init__(self, searcher, stream, clients, seconds, tag, tree):
        self.searcher, self.stream, self.tag = searcher, stream, tag
        self.clients, self.seconds, self.tree = clients, seconds, tree
        self.done: list = []  # (completion time, latency s, request id)
        self.results: dict = {}
        self.errors: list = []
        self._lock = threading.Lock()
        self._n = 0

    def _next(self, deadline):
        with self._lock:
            if time.perf_counter() >= deadline:
                return None, None
            req = next(self.stream, None)
            self._n += 1
            return req, f"{self.tag}-{self._n}"

    def _client(self, deadline):
        while True:
            req, rid = self._next(deadline)
            if req is None:
                return
            t0 = time.perf_counter()
            try:
                rows = self.searcher.serve(req, rid)
            except Exception as e:  # a failed request is counted, not fatal
                with self._lock:
                    self.errors.append((req, repr(e)))
                continue
            t1 = time.perf_counter()
            with self._lock:
                self.done.append((t1, t1 - t0, rid))
                self.results.setdefault(req, rows)

    def run(self):
        from proc import host_ticks

        t0 = time.perf_counter()
        self.start = (t0, self.tree.totals(), host_ticks())
        threads = [threading.Thread(target=self._client, args=(t0 + self.seconds,),
                                    name=f"client-{i}") for i in range(self.clients)]
        for t in threads:
            t.start()
        # the phase ends when the requests in flight at the deadline have
        # completed, so every phase has at least one completed request
        for t in threads:
            t.join()
        self.end = (time.perf_counter(), self.tree.totals(), host_ticks())
        return self

    @property
    def attempted(self):
        return len(self.done) + len(self.errors)

    @property
    def failed(self):
        return len(self.errors)

    def stats(self):
        """The phase's figures over every request completed in it."""
        from proc import cpu_delta

        (ta, ca, _), (tb, cb, _) = self.start, self.end
        lat = sorted(l for _, l, _ in self.done)
        n = len(lat)
        i = max(0, n - 11)  # the highest percentile with >= 10 samples beyond it
        cpu = cpu_delta(ca, cb)
        return {
            "n": n,
            "qps": n / (tb - ta),
            "p50_ms": statistics.median(lat) * 1e3,
            "tail_ms": lat[i] * 1e3,
            "tail_pct": 100.0 * (i + 1) / n,
            "tail_beyond": n - i - 1,
            **{f"cpu_{k}_ms": v * 1e3 / n for k, v in cpu.items()},
        }


# ---------------------------------------------------------------- Spark


def start_spark(work, cores):
    from nexlt_spark.session import get_spark

    spark = get_spark(
        app_name="searchbench",
        master=f"local[{cores}]",
        shuffle_partitions=cores,
        extra_conf={
            "spark.ui.enabled": "false",
            "spark.ui.showConsoleProgress": "false",
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work}",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark):
    """Stop Spark, then the JVM (it exits when its stdin closes), and wait."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def flush_listener(sc):
    """Wait until Spark's listener bus has delivered every job/stage event,
    so the status tracker's counts are final."""
    sc._jsc.sc().listenerBus().waitUntilEmpty()


def group_counts(sc, group):
    """(jobs, tasks) that ran under one job group."""
    tracker = sc.statusTracker()
    jobs = tracker.getJobIdsForGroup(group)
    tasks = 0
    for jid in jobs:
        info = tracker.getJobInfo(jid)
        for sid in info.stageIds if info else ():
            st = tracker.getStageInfo(sid)
            tasks += st.numCompletedTasks if st else 0
    return len(jobs), tasks


# ---------------------------------------------------------------- set-up


def dir_bytes(path):
    n = files = 0
    for dirpath, _, names in os.walk(path):
        for name in names:
            n += os.path.getsize(os.path.join(dirpath, name))
            files += 1
    return n, files


def setup_once(spark, tree, input_path, store, group):
    """Build the store from the input and open it; time every step."""
    from nexlt_spark.flatten import flatten_transcripts
    from nexlt_spark.index.blocks import load_blocked_index
    from nexlt_spark.index.packed import build_blocked_direct, save_blocked
    from nexlt_spark.query.attrs import save_doc_attrs

    from proc import cpu_delta

    sc = spark.sparkContext
    sc.setJobGroup(group, "setup", False)
    marks = [(time.perf_counter(), tree.totals())]

    def mark():
        marks.append((time.perf_counter(), tree.totals()))

    docs = flatten_transcripts(spark.read.parquet(input_path)).persist()
    docs.count()
    mark()
    built = build_blocked_direct(docs, positions=True)
    mark()
    save_blocked(built, store)
    mark()
    save_doc_attrs(docs, store)
    mark()
    bidx = load_blocked_index(spark, store)
    mark()
    sc.setLocalProperty("spark.jobGroup.id", None)
    spark.catalog.clearCache()
    steps = ("flatten", "packed.build", "packed.save", "attrs.save", "blocks.open")
    out = {}
    for name, (t0, c0), (t1, c1) in zip(steps, marks, marks[1:]):
        out[f"{name}.wall_s"] = t1 - t0
        out[f"{name}.cpu_s"] = cpu_delta(c0, c1)["total"]
    out["wall_s"] = marks[-1][0] - marks[0][0]
    # the build is flatten through attrs.save; opening the store is not
    out["build.cpu_s"] = cpu_delta(marks[0][1], marks[-2][1])["total"]
    return bidx, out


# ---------------------------------------------------------------- oracle


def load_docs(input_path):
    """The input turns as oracle documents. doc_id is the rank of
    (conv_id, turn_idx): flatten's stable-id contract."""
    import pyarrow.parquet as pq

    rows = pq.read_table(input_path).to_pylist()
    rows.sort(key=lambda r: (r["conv_id"], r["turn_idx"]))
    for i, r in enumerate(rows):
        r["doc_id"] = i
    return rows


def corpus(convs):
    """Path of the synthetic transcripts input, generated on first use and
    kept under .searchbench/ for later runs in the same checkout. It is
    generated by a child process with a Spark of its own, so that every
    run's set-up starts in a JVM that has run nothing yet."""
    path = os.path.join(ROOT, ".searchbench", f"corpus-{convs}-seed{CORPUS_SEED}")
    if not os.path.isdir(path):
        tmp = tempfile.mkdtemp(prefix="corpus-", dir=os.path.dirname(path))
        try:
            subprocess.run([sys.executable, os.path.abspath(__file__), "--make-corpus", tmp,
                            "--convs", str(convs)], check=True, stdout=subprocess.DEVNULL)
            os.rename(tmp, path)
        except OSError:  # another run got there first
            pass
        finally:
            shutil.rmtree(tmp, ignore_errors=True)
    return path


def make_corpus(out, convs):
    from nexlt_spark.synth import synth_transcripts

    work = work_dir()
    spark = None
    try:
        spark = start_spark(work, SPARK_CORES)
        synth_transcripts(spark, n_convs=convs, seed=CORPUS_SEED).write.mode(
            "overwrite").parquet(out)
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
    return 0


def oracle_query(req):
    from nexlt_spark.query.parser import parse_query

    q, fq = req
    query = parse_query(q, k=K)
    if fq:
        query.filters = parse_query(fq).filters
    return query


def same_rows(got, want):
    return [d for d, _ in got] == [d for d, _ in want] and all(
        math.isclose(g, w, rel_tol=REL_TOL, abs_tol=ABS_TOL)
        for (_, g), (_, w) in zip(got, want)
    )


def oracle_check(searcher, oracle, served, rng, tag, n):
    """Compare a seeded sample of ``n`` distinct requests served, both as
    served in the timed phase and served again now, with the oracle. Returns
    (attempted, failed, mismatches)."""
    reqs = sorted(served, key=repr)
    sample = rng.sample(reqs, min(n, len(reqs)))
    attempted = failed = 0
    bad = []
    for i, req in enumerate(sample):
        want = oracle.topk(oracle_query(req))
        attempted += 1
        try:
            again = searcher.serve(req, f"{tag}-check-{i}")
        except Exception as e:
            failed += 1
            bad.append({"request": req, "error": repr(e)})
            continue
        for label, got in (("timed", served[req]), ("again", again)):
            if not same_rows(got, want):
                failed += 1
                bad.append({"request": req, "phase": label, "got": got, "want": want})
                break
    return attempted, failed, bad


# ---------------------------------------------------------------- the run


def workload_stream(name, profile, rng):
    """(requests the warm-up must serve at least once, request stream)."""
    import workloads as W

    if name == "serve_warm":
        pool = W.warm_pool(profile, rng)
        return pool, W.cycle(pool, rng)
    if name == "serve_cold":
        return [], iter(W.cold_stream(profile, rng))
    return [], W.head_stream(profile, rng)


def warm_up(name, searcher, first, stream, tree):
    """Serve ``first`` once (this fills serve_warm's caches), then the
    stream up to WARMUP_REQUESTS in all. Returns (requests served, seconds)."""
    rest = max(0, WARMUP_REQUESTS[name] - len(first))
    reqs = itertools.chain(first, itertools.islice(stream, rest))
    t0 = time.perf_counter()
    n = len(Phase(searcher, reqs, WARMUP_CLIENTS, math.inf, "warm", tree).run().done)
    return n, time.perf_counter() - t0


def work_dir():
    """A fresh directory under .searchbench/ that holds this process's
    temporary files and Spark local dirs, so nothing is written outside
    the checkout."""
    work = tempfile.mkdtemp(prefix="run-", dir=os.path.join(ROOT, ".searchbench"))
    os.environ["TMPDIR"] = work
    tempfile.tempdir = work
    os.environ["NEXLT_LOCAL_DIR"] = os.path.join(work, "spark-local")
    # every JVM the run starts, spark-submit's launcher too, would otherwise
    # write a perf-data file under /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"
    os.environ.setdefault("NEXLT_DRIVER_MEM", "2g")
    return work


def run(args):
    from nexlt_spark.oracle import OracleIndex

    import workloads as W
    from proc import TreeCPU, host_fracs, peak_rss_mb

    if args.workload not in W.WORKLOADS:
        raise SystemExit(f"unknown workload {args.workload!r}; one of {', '.join(W.WORKLOADS)}")
    input_path = corpus(args.convs)
    work = work_dir()
    rng = random.Random(args.seed)
    tree = TreeCPU()
    spark = None
    marks = [("start", time.perf_counter())]
    try:
        with tree:
            spark = start_spark(work, SPARK_CORES)
            sc = spark.sparkContext
            tree.set_jvm(sc._gateway.proc.pid)
            docs = load_docs(input_path)
            input_bytes = sum(len((d["text"] or "").encode()) for d in docs)
            marks.append(("input", time.perf_counter()))

            store = os.path.join(work, "store")
            bidx, setup = setup_once(spark, tree, input_path, store, "setup")
            flush_listener(sc)
            setup["jobs"] = group_counts(sc, "setup")[0]
            store_bytes, store_files = dir_bytes(store)
            postings_bytes = dir_bytes(os.path.join(store, "postings_blocks"))[0]
            attrs_bytes = dir_bytes(os.path.join(store, "doc_attrs"))[0]
            marks.append(("setup", time.perf_counter()))

            profile = W.CorpusProfile([d["text"] for d in docs], rng)
            warm_reqs, stream = workload_stream(args.workload, profile, rng)
            searcher = Searcher(spark, bidx)
            spark._jvm.System.gc()
            warm_n, warm_s = warm_up(args.workload, searcher, warm_reqs, stream, tree)
            marks.append(("warm_up", time.perf_counter()))

            clients = CLIENTS[args.workload]
            if args.trace:
                # untraced, traced, traced, untraced: the JIT's speed-up over
                # the run then weighs on both sides of trace.overhead_frac alike
                trace = Trace()
                phases = []
                for i, traced in enumerate((False, True, True, False)):
                    searcher.trace = trace if traced else None
                    phases.append(Phase(searcher, stream, clients, args.seconds / 4,
                                        f"{'traced' if traced else 'timed'}{i}", tree).run())
                searcher.trace = None
                untraced_phases, traced_phases = phases[0::3], phases[1:3]
                flush_listener(sc)
                counts = [group_counts(sc, rid) for p in traced_phases for _, _, rid in p.done]
            else:
                phases = [Phase(searcher, stream, clients, args.seconds, "timed", tree).run()]
            rss_mb = peak_rss_mb()
            marks.append(("timed", time.perf_counter()))

            oracle = OracleIndex(docs)
            served = {}
            for p in phases:
                served.update(p.results)
            chk_att, chk_fail, bad = oracle_check(searcher, oracle, served, rng, "check",
                                                  CHECK_SAMPLE[args.workload])
            marks.append(("check", time.perf_counter()))
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
    marks.append(("stop", time.perf_counter()))

    attempted = sum(p.attempted for p in phases) + chk_att
    failed = sum(p.failed for p in phases) + chk_fail
    for e in [x for p in phases for x in p.errors] + bad:
        print("FAILED", json.dumps(e, default=str), file=sys.stderr)

    phase_stats = [p.stats() for p in phases]
    host = host_fracs(phases[0].start[2], phases[-1].end[2])

    def pmed(key, phase_list=phases):
        return statistics.median(p.stats()[key] for p in phase_list)

    if not args.trace:
        timed = phase_stats[0]
        metrics = {
            "qps": (timed["qps"], "1/s"),
            "p50_ms": (timed["p50_ms"], "ms"),
            "tail_ms": (timed["tail_ms"], "ms"),
            "cpu_ms_per_query": (timed["cpu_total_ms"], "ms"),
            "ok_rate": (1.0 - failed / attempted, "frac"),
            "setup_s": (setup["wall_s"], "s"),
            "build_turns_per_cpu_s": (len(docs) / setup["build.cpu_s"], "1/s"),
            "store_bytes_per_input_byte": (store_bytes / input_bytes, "B/B"),
            "driver_peak_rss_mb": (rss_mb, "MB"),
        }
    else:
        tr = trace
        tr.write(os.path.join(ROOT, ".searchbench", "traces", f"{args.workload}-seed{args.seed}.jsonl"))
        metrics = {
            "parser.ms": (tr.layer_ms("parser"), "ms"),
            "planner.ms": (tr.layer_ms("planner"), "ms"),
            "planner.route.wand": (searcher.routes["wand"], "count"),
            "planner.route.exact": (searcher.routes["exact"], "count"),
            "wand.ms": (tr.layer_ms("wand"), "ms"),
            "wand.fallbacks": (searcher.fallbacks, "count"),
            "phrase.ms": (tr.layer_ms("phrase"), "ms"),
            "phrase.pos_blocks": (statistics.fmean(searcher.pos_blocks) if searcher.pos_blocks else 0.0, "count"),
            "exact.ms": (tr.layer_ms("exact"), "ms"),
            "spark.jobs_per_query": (statistics.fmean(c[0] for c in counts), "count"),
            "spark.tasks_per_query": (statistics.fmean(c[1] for c in counts), "count"),
            "cpu.driver_ms_per_query": (pmed("cpu_driver_ms", traced_phases), "ms"),
            "cpu.jvm_ms_per_query": (pmed("cpu_jvm_ms", traced_phases), "ms"),
            "cpu.workers_ms_per_query": (pmed("cpu_workers_ms", traced_phases), "ms"),
            "flatten.wall_s": (setup["flatten.wall_s"], "s"),
            "flatten.cpu_s": (setup["flatten.cpu_s"], "s"),
            "packed.build.wall_s": (setup["packed.build.wall_s"], "s"),
            "packed.build.cpu_s": (setup["packed.build.cpu_s"], "s"),
            "packed.save.wall_s": (setup["packed.save.wall_s"], "s"),
            "packed.save.cpu_s": (setup["packed.save.cpu_s"], "s"),
            "attrs.save.wall_s": (setup["attrs.save.wall_s"], "s"),
            "build.spark_jobs": (setup["jobs"], "count"),
            "store.postings_bytes": (postings_bytes, "B"),
            "store.attrs_bytes": (attrs_bytes, "B"),
            "store.files": (store_files, "count"),
            "blocks.open_ms": (setup["blocks.open.wall_s"] * 1e3, "ms"),
            "host.steal_frac": (host["steal_frac"], "frac"),
            "host.iowait_frac": (host["iowait_frac"], "frac"),
            "trace.overhead_frac": (1.0 - pmed("qps", traced_phases) / pmed("qps", untraced_phases), "frac"),
            "warmup.requests": (warm_n, "count"),
            "warmup.s": (warm_s, "s"),
            "fail_rate": (failed / attempted, "frac"),
        }
    diag = {
        "workload": args.workload, "seed": args.seed, "convs": args.convs, "turns": len(docs),
        "phases": [{k: round(v, 4) for k, v in st.items()} for st in phase_stats],
        "warmup_requests": warm_n, "warmup_s": warm_s,
        "host_steal_frac": host["steal_frac"], "host_iowait_frac": host["iowait_frac"],
        "setup": {k: round(v, 3) for k, v in setup.items()},
        "fail_rate": failed / attempted,
        "phase_s": {b[0]: round(b[1] - a[1], 2) for a, b in zip(marks, marks[1:])},
    }
    print(json.dumps({"diagnostics": diag}))
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    print(json.dumps(result))
    return 0 if failed == 0 else 1


def main(argv=None):
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "nexlt_spark", "__init__.py")):
        print(f"searchbench: no nexlt_spark package under {ROOT}; run from the "
              "repository root", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    os.makedirs(os.path.join(ROOT, ".searchbench"), exist_ok=True)
    if args.make_corpus:
        return make_corpus(args.make_corpus, args.convs)
    return run(args)


if __name__ == "__main__":
    sys.exit(main())
