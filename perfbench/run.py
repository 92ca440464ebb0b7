"""Dedup benchmark: end-to-end and per-layer metrics of hsearch_spark.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. One process starts a local[nproc] Spark
session (``SPARK_GRAFT_CPUS`` overrides nproc), makes the workload's
corpus from the seed, writes it to parquet under ``.perfbench/`` and
times runs that read it back. The last stdout line is one JSON object
{"correct", "attempted", "failed", "metrics"}: with ``--trace 0`` the
end-to-end metrics of untraced runs, with ``--trace 1`` the per-layer
metrics of one extra traced run (spans are written to
``.perfbench/traces/``). The process exits non-zero if a run fails or
an output check fails: dup-pair recall below 0.99 against the planted
truth, a doc assigned other than once, assignment hashes that differ
between runs of one corpus, or (traced) stage spans covering less than
90% of the run's wall time. The final assignment hash is printed on an
``assignment_hash`` line, so runs of one seed in different processes
can be compared.

Workloads (why each was chosen):
- crawl-highdup-resumable: every doc in a planted family, the hot
  boilerplate family included, run with a fresh ``work_dir``. Star-R hot
  buckets, exact verify, the durable star CC loop and StageStore parquet
  writes do most of the work, with threaded channels.
- stream-append: default-mix micro-batches appended to one
  IncrementalDedup state, closed loop (the next batch starts when the
  previous one returns). State appends and bucket-pruned probe reads
  grow with every batch; the only workload that reaches
  ``streaming.incremental``.

Each workload times a fixed amount of work (HIGHDUP_REPS runs after
the warm-up, or the micro-batches after the first), sized so that it
takes about --seconds on a 4-core host, and reports the median run or
batch; --seconds itself does not cut the loop. A loop cut by
time would time more runs on a faster program, and a later run is
further along the JIT's warm-up (or, on stream-append, timed at a larger
state), so the count of runs would move the figures.

Set-up (session start plus one untimed warm-up run on the workload's
own input; on stream-append the first micro-batch) is its own metric,
``setup_s``; the warm-up lets the JVM's JIT and the Python workers warm
before anything is timed. The warm-up's output is checked like any
other run's. Corpus generation is harness time and is in no metric.
CPU metrics leave out the memory sampler's own CPU. Per-layer metrics
of a layer a workload does not enter are 0. ``trace.overhead_s``: on
crawl-highdup-resumable the traced run's wall less the untraced median
(it can be negative, because the traced run comes last and is further
along the JIT's warm-up); on stream-append, where every batch is traced,
the time spent walking the state directory after each batch, the only
work tracing adds to the loop.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import statistics
import sys
import time
import traceback
from contextlib import ExitStack, nullcontext

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

import numpy as np  # noqa: E402
import pandas as pd  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

from hsearch_spark.config import DedupConfig  # noqa: E402
from hsearch_spark.operators.verify import minhash_estimate  # noqa: E402
from hsearch_spark.plans import pipeline  # noqa: E402
from hsearch_spark.session import build_session  # noqa: E402
from hsearch_spark.sources.io import StageStore  # noqa: E402
from hsearch_spark.streaming.incremental import IncrementalDedup  # noqa: E402
from perfbench import corpus as C  # noqa: E402
from perfbench import host, layers  # noqa: E402
from perfbench.trace import Tracer, job_stage_spans, patched, union_s  # noqa: E402
from tools.window_probe import gemm_ms  # noqa: E402

# Sizes keep one run, set-up included, near a minute on a 4-core host,
# so that the dozens of runs a comparison needs stay affordable. A run's
# wall time is mostly per-job and per-write overhead, not per-doc work,
# so a smaller corpus buys more timed runs, whose median rides out the
# host's bursts of CPU steal.
HIGHDUP_GENERATED = 500  # -> ~270 docs, all in planted families
HIGHDUP_REPS = 3
# A micro-batch costs about the same at 125 or 250 docs: its latency is
# per-batch work, not per-doc. A stream run is a warm-up batch and one
# timed batch; the traced run adds a second timed batch, so that the
# latency's growth with the state shows.
STREAM_BATCHES, STREAM_BATCH_DOCS = 2, 250
MIN_RECALL = 0.99
DRIVER_MEM = "2g"

END_TO_END = {
    "docs_per_s": "docs/s",
    "cpu_s_per_kdoc": "s/kdoc",
    "setup_s": "s",
    "peak_pss_mb": "MB",
    "recall": "ratio",
    "batch_latency_s_p50": "s",
}
PER_LAYER = {
    **{
        f"hashing.{k}.ns_per_doc": "ns"
        for k in ("shingle_hashes", "minhash_signature_packed", "simhash64", "anchor_hashes")
    },
    "hashing.jaccard.ns_per_pair": "ns",
    **{
        f"stage.{st}.{f}": {"wall_s": "s", "cpu_s": "s", "gc_s": "s",
                            "shuffle_write_mb": "MB", "skew": "ratio"}[f]
        for st in layers.STAGES
        for f in layers.STAGE_FIELDS
    },
    "pipeline.unattributed_s": "s",
    "pipeline.stage_coverage": "ratio",
    "candidates.pairs": "count",
    "candidates.dropped_pairs": "count",
    "verify.verify_pairs.s": "s",
    "verify.est_survivors": "count",
    "verify.edges": "count",
    "verify.useful_frac": "ratio",
    "substring.substring_edges.s": "s",
    "substring.edges": "count",
    "dedup.exact_duplicate_pairs.s": "s",
    "components.connected_components.s": "s",
    "components.iterations": "count",
    "components.clusters": "count",
    "io.stage_write_s": "s",
    "io.stage_mb_written": "MB",
    "incremental.process_batch.s_first": "s",
    "incremental.process_batch.s_last": "s",
    "incremental.latency_growth": "ratio",
    "incremental.state_files": "count",
    "incremental.state_mb": "MB",
    "session.build_session_s": "s",
    "session.warmup_s": "s",
    "trace.overhead_s": "s",
}


class Bench:
    """One benchmark process: its directories, session and tallies."""

    def __init__(self, args) -> None:
        self.args = args
        self.tag = f"{args.workload}-s{args.seed}-{os.getpid()}"
        self.dir = os.path.join(ROOT, ".perfbench", "runs", self.tag)
        self.trace_dir = os.path.join(ROOT, ".perfbench", "traces")
        self.cores = int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))
        self.config = DedupConfig()
        self.tracer = Tracer() if args.trace else None
        self.attempted = self.failed = 0
        self.errors: list[str] = []
        self.walls: list[float] = []
        self.layer: dict[str, float] = dict.fromkeys(PER_LAYER, 0.0)
        self.e2e: dict[str, float] = {}
        self.measured_cpu_s = 0.0
        self.sample_docs: list[str] = []  # texts for the kernel timings
        self.trace_extra: dict = {}  # written beside the spans
        self.sampler: host.PeakMemory | None = None
        self.assignment_hash = ""
        self.spark = None

    def path(self, *parts: str) -> str:
        return os.path.join(self.dir, *parts)

    def cpu_s(self) -> float:
        """Process-tree CPU seconds so far, less the memory sampler's."""
        return host.tree_cpu_s() - self.sampler.cpu_s

    # ---------------- session ----------------

    def start_session(self) -> None:
        tmp = self.path("tmp")
        os.makedirs(tmp, exist_ok=True)
        # keep every file Spark and the JVM write inside the repository tree
        os.environ["SPARK_LOCAL_DIRS"] = self.path("spark-local")
        os.environ["TMPDIR"] = tmp
        os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM
        os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
        extra = None
        if self.tracer is not None:
            os.makedirs(self.path("events"), exist_ok=True)
            extra = {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + self.path("events"),
                "spark.eventLog.compress": "false",
            }
        self.spark = build_session(
            app_name=f"perfbench_{self.args.workload}", cores=self.cores, extra_conf=extra
        )

    def stop_session(self) -> None:
        """Stop Spark and wait for the JVM (and so its workers) to exit."""
        from pyspark import SparkContext

        if self.spark is None:
            return
        self.spark.stop()
        self.spark = None
        gw = SparkContext._gateway
        if gw is not None:
            gw.shutdown()
            gw.proc.stdin.close()  # the gateway JVM exits on stdin EOF
            gw.proc.wait(timeout=60)
            SparkContext._gateway = SparkContext._jvm = None

    def drop_blocks(self) -> None:
        """Unpersist the blocks a run checkpointed, so runs do not evict
        each other from block-manager memory."""
        rdds = self.spark.sparkContext._jsc.sc().getPersistentRDDs()
        it, ids = rdds.keysIterator(), []
        while it.hasNext():
            ids.append(it.next())
        for i in ids:
            rdds.apply(i).unpersist(False)

    # ---------------- measuring ----------------

    def attempt(self, fn, *args):
        """fn(*args), counting the attempt; None if it raised."""
        self.attempted += 1
        try:
            return fn(*args)
        except Exception:  # a failed run is reported, not fatal
            self.failed += 1
            self.errors.append(traceback.format_exc())
            traceback.print_exc()
            return None

    def measure(self, rep, reps: range) -> None:
        """Closed loop: rep(i) -> (wall s, process-tree CPU s) of its
        timed part, for each i in ``reps``. Stops on a failure."""
        for i in reps:
            ticks = host.cpu_ticks()
            out = self.attempt(rep, i)
            if out is None:
                break
            wall, cpu = out
            self.walls.append(wall)
            self.measured_cpu_s += cpu
            print(f"rep {i} wall_s={wall:.3f} "
                  f"steal_frac={host.steal_frac(ticks, host.cpu_ticks()):.4f}")

    def check(self, what: str, ok: bool) -> None:
        if not ok:
            self.errors.append(f"check failed: {what}")
            print(f"CHECK FAILED: {what}", file=sys.stderr)


def _assignment_hash(assign) -> str:
    a = assign.sort_values("doc_id")[["doc_id", "cluster_id"]].to_numpy(np.int64)
    return hashlib.sha256(a.tobytes()).hexdigest()[:16]


def _recall(url_cluster: dict, truth) -> float:
    if len(truth) == 0:
        return 1.0
    a = truth["a_url"].map(url_cluster)
    b = truth["b_url"].map(url_cluster)
    return float((a.notna() & (a == b)).mean())


def _quantile(xs: list[float], q: float) -> float:
    return float(np.quantile(np.asarray(xs), q))


# ---------------- batch workloads ----------------


def run_batch(b: Bench, corpus: C.Corpus) -> None:
    spark_path = C.write_parquet(corpus.pages, b.path("corpus"))

    def work(i) -> str:
        return b.path("work", str(i))

    hashes: set[str] = set()
    recalls: list[float] = []
    url_of: dict = {}

    def once(path, work_dir, tr=None):
        span = tr.span if tr is not None else lambda name: nullcontext()
        cpu0, t0 = b.cpu_s(), time.monotonic()
        with span("input.read"):
            pages = b.spark.read.parquet(path)
        res = pipeline.run_dedup(b.spark, pages, work_dir=work_dir)
        with span("output.collect"):
            assign = res.clusters.toPandas()
        return res, assign, time.monotonic() - t0, b.cpu_s() - cpu0

    def verify(res, assign) -> None:
        if not url_of:
            ids = res.docs.select("doc_id", "url").toPandas()
            url_of.update(zip(ids["doc_id"], ids["url"]))
        b.check("every doc assigned once",
                len(assign) == len(corpus.pages) == assign["doc_id"].nunique())
        hashes.add(_assignment_hash(assign))
        recalls.append(_recall(
            dict(zip(assign["doc_id"].map(url_of), assign["cluster_id"])), corpus.truth))

    def cleanup(i) -> None:
        b.drop_blocks()
        shutil.rmtree(work(i), ignore_errors=True)

    def rep(i: int) -> tuple[float, float]:
        res, assign, wall, cpu = once(spark_path, work(i))
        verify(res, assign)
        cleanup(i)
        return wall, cpu

    t0 = time.monotonic()
    b.start_session()
    b.layer["session.build_session_s"] = time.monotonic() - t0
    t1 = time.monotonic()
    # warm up on the measured corpus itself: a smaller slice leaves the
    # first timed run still on the JIT's warm-up slope
    warm = b.attempt(once, spark_path, work("warm"))
    if warm is not None:
        verify(*warm[:2])
        cleanup("warm")
    b.e2e["setup_s"] = time.monotonic() - t0
    b.layer["session.warmup_s"] = time.monotonic() - t1
    if b.failed:
        return
    b.measure(rep, range(HIGHDUP_REPS))
    n = len(corpus.pages)
    b.e2e["docs_per_s"] = n / statistics.median(b.walls) if b.walls else 0.0
    b.e2e["cpu_s_per_kdoc"] = b.measured_cpu_s / (n * len(b.walls) / 1e3) if b.walls else 0.0
    if b.tracer is not None and not b.failed:
        traced = b.attempt(traced_batch_run, b, spark_path, work("traced"), once, verify)
        cleanup("traced")
        if traced is not None:
            b.stop_session()  # drains the listener bus and closes the event log
            b.layer.update(layers.stage_metrics(b.path("events"), *traced))
    b.check(f"one assignment hash across runs, got {sorted(hashes)}", len(hashes) == 1)
    b.assignment_hash = ",".join(sorted(hashes))
    b.e2e["recall"] = min(recalls) if recalls else 0.0
    b.check(f"recall {b.e2e['recall']:.4f} >= {MIN_RECALL}", b.e2e["recall"] >= MIN_RECALL)
    b.sample_docs = corpus.pages["text"].tolist()


def traced_batch_run(b: Bench, path, work_dir, once, verify):
    """One run with spans around the stages and the layer calls, then
    the funnel counts and each lazy operator re-run alone on the run's
    own checkpointed inputs. Returns (start as epoch ms, stage timings)
    for reading the run's stage metrics from the event log."""
    tr, L = b.tracer, b.layer
    calls: dict[str, list] = {}
    hooks = {
        "verify_pairs": "verify.verify_pairs",
        "substring_edges": "substring.substring_edges",
        "exact_duplicate_pairs": "dedup.exact_duplicate_pairs",
        "connected_components": "components.connected_components",
    }
    t_mark = time.time() * 1000
    with ExitStack() as stack:
        stack.enter_context(job_stage_spans(tr, b.spark.sparkContext))
        for fn, span in hooks.items():
            calls[fn] = []
            stack.enter_context(
                patched(pipeline, fn, tr.wrap(span, getattr(pipeline, fn), calls[fn])))
        stack.enter_context(
            patched(StageStore, "write", tr.wrap("io.StageStore.write", StageStore.write)))
        # the driver-side actions run_dedup takes between its stages
        stack.enter_context(patched(
            pipeline, "input_fingerprint",
            tr.wrap("io.input_fingerprint", pipeline.input_fingerprint)))
        df_class = type(b.spark.range(1))
        stack.enter_context(patched(df_class, "count", tr.wrap("spark.count", df_class.count)))
        with tr.run("traced") as root:
            res, assign, wall, _ = once(path, work_dir, tr)
    verify(res, assign)
    L["trace.overhead_s"] = (root["end"] - root["start"]) - statistics.median(b.walls)

    # share of the run's wall time inside some named span
    covered = union_s([(s["start"], s["end"]) for s in tr.spans
                       if s["run_id"] == "traced" and s["id"] != root["id"]])
    L["pipeline.unattributed_s"] = wall - covered
    L["pipeline.stage_coverage"] = covered / wall
    b.check(f"stage span coverage {covered / wall:.3f} >= 0.9", covered / wall >= 0.9)
    (cc_span,) = tr.named("components.connected_components", "traced")
    L["components.connected_components.s"] = cc_span["end"] - cc_span["start"]
    L["components.clusters"] = assign["cluster_id"].nunique()
    L["components.iterations"] = len(
        [d for d in os.listdir(os.path.join(work_dir, b.config.config_hash(), "cc"))
         if d.startswith("iter_")])
    L["io.stage_write_s"] = sum(m["write_sec"] for m in res.metrics["stages"].values())
    L["io.stage_mb_written"] = layers.dir_stats(work_dir)[1]

    def timed_count(df) -> tuple[float, int]:
        t0 = time.monotonic()
        n = df.count()
        return time.monotonic() - t0, n

    (args, kwargs, edges_df), = calls["verify_pairs"]
    cands, sigs, cfg = args[0], args[1], args[3]
    L["candidates.pairs"] = cands.count()
    L["candidates.dropped_pairs"] = (
        res.dropped_pairs.agg(F.sum("dropped_pairs")).collect()[0][0] or 0)
    L["verify.est_survivors"] = (
        minhash_estimate(cands, sigs).where(F.col("jaccard_est") >= cfg.est_prefilter).count())
    L["verify.verify_pairs.s"], L["verify.edges"] = timed_count(edges_df)
    L["verify.useful_frac"] = L["verify.edges"] / max(L["candidates.pairs"], 1)
    (_, _, sub_df), = calls["substring_edges"]
    L["substring.substring_edges.s"], L["substring.edges"] = timed_count(sub_df)
    (_, _, exact_df), = calls["exact_duplicate_pairs"]
    L["dedup.exact_duplicate_pairs.s"], _ = timed_count(exact_df)
    return t_mark, res.metrics["timings_sec"]


# ---------------- stream workload ----------------


def run_stream(b: Bench, batches: list[C.Corpus]) -> None:
    paths = [C.write_parquet(c.pages, b.path("batches", str(i)), n_files=2)
             for i, c in enumerate(batches)]
    state = b.path("state")
    walls_by_batch: dict[int, float] = {}
    state_by_batch: dict[int, tuple[int, float]] = {}

    walk_s = []

    def process(inc, i: int) -> tuple[float, float]:
        cpu0, t0 = b.cpu_s(), time.monotonic()
        inc.process_batch(b.spark.read.parquet(paths[i]), i)
        wall, cpu = time.monotonic() - t0, b.cpu_s() - cpu0
        walls_by_batch[i] = wall
        if b.tracer is not None:  # outside the timed call
            state_by_batch[i] = layers.dir_stats(state)
            walk_s.append(time.monotonic() - t0 - wall)
        return wall, cpu

    t0 = time.monotonic()
    b.start_session()
    b.layer["session.build_session_s"] = time.monotonic() - t0
    t1 = time.monotonic()
    inc = IncrementalDedup(b.spark, state)
    if b.tracer is not None:
        inc.process_batch = b.tracer.wrap("incremental.process_batch", inc.process_batch)
    b.attempt(process, inc, 0)  # the first micro-batch is the warm-up
    b.e2e["setup_s"] = time.monotonic() - t0
    b.layer["session.warmup_s"] = time.monotonic() - t1
    if b.failed:
        return
    with b.tracer.run("traced") if b.tracer is not None else nullcontext():
        b.measure(lambda i: process(inc, i), range(1, len(batches)))
    ingested = sorted(walls_by_batch)
    n_docs = sum(len(batches[i].pages) for i in ingested[1:])
    b.e2e["docs_per_s"] = n_docs / sum(b.walls) if b.walls else 0.0
    b.e2e["cpu_s_per_kdoc"] = b.measured_cpu_s / (n_docs / 1e3) if n_docs else 0.0

    assign = inc.current_clusters().toPandas()
    urls = [u for i in ingested for u in batches[i].pages["url"]]
    ids = b.spark.createDataFrame([(u,) for u in urls], "url string").select(
        F.xxhash64("url").alias("doc_id"), "url").toPandas()
    b.check("every ingested doc assigned once",
            len(assign) == len(urls) == assign["doc_id"].nunique())
    b.assignment_hash = _assignment_hash(assign)
    url_cluster = dict(zip(assign["doc_id"].map(dict(zip(ids["doc_id"], ids["url"]))),
                           assign["cluster_id"]))
    truth = pd.concat([batches[i].truth for i in ingested])
    b.e2e["recall"] = _recall(url_cluster, truth)
    b.check(f"recall {b.e2e['recall']:.4f} >= {MIN_RECALL}", b.e2e["recall"] >= MIN_RECALL)
    b.sample_docs = [t for c in batches for t in c.pages["text"]]

    if b.tracer is not None and b.walls:
        L = b.layer
        first, last = ingested[1], ingested[-1]
        L["incremental.process_batch.s_first"] = walls_by_batch[first]
        L["incremental.process_batch.s_last"] = walls_by_batch[last]
        L["incremental.latency_growth"] = walls_by_batch[last] / walls_by_batch[first]
        L["incremental.state_files"], L["incremental.state_mb"] = state_by_batch[last]
        # the state walks are the only work tracing adds to this loop
        L["trace.overhead_s"] = sum(walk_s)
        b.trace_extra["state_after_batch"] = state_by_batch


# ---------------- main ----------------


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=("crawl-highdup-resumable", "stream-append"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    b = Bench(args)
    os.makedirs(b.dir, exist_ok=True)
    gemm = gemm_ms(reps=1)
    ticks0 = host.cpu_ticks()
    try:
        with host.PeakMemory() as mem:
            b.sampler = mem
            if args.workload == "stream-append":
                n_batches = STREAM_BATCHES + args.trace
                print(f"workload {args.workload}: {n_batches} batches of "
                      f"{STREAM_BATCH_DOCS} docs, local[{b.cores}]")
                run_stream(b, C.stream_batches(args.seed, n_batches, STREAM_BATCH_DOCS))
            else:
                corpus = C.crawl_highdup(args.seed, HIGHDUP_GENERATED)
                print(f"workload {args.workload}: {len(corpus.pages)} docs, "
                      f"{len(corpus.truth)} truth pairs, local[{b.cores}]")
                run_batch(b, corpus)
            b.stop_session()
        steal = host.steal_frac(ticks0, host.cpu_ticks())
        print(f"weather steal_frac={steal:.4f} gemm_ms={gemm:.1f}")
        print(f"assignment_hash {b.assignment_hash}")
        print(f"memory sampler cpu_s={mem.cpu_s:.3f} of tree cpu_s={host.tree_cpu_s():.3f}")
        print(f"setup_s {b.e2e.get('setup_s', 0.0):.3f}: session "
              f"{b.layer['session.build_session_s']:.3f} + warm-up {b.layer['session.warmup_s']:.3f}")
        if b.walls:
            q1, q3 = _quantile(b.walls, 0.25), _quantile(b.walls, 0.75)
            print(f"batch latency s: median {statistics.median(b.walls):.3f} "
                  f"q1 {q1:.3f} q3 {q3:.3f} n={len(b.walls)}")
            b.e2e["batch_latency_s_p50"] = statistics.median(b.walls)
        b.e2e["peak_pss_mb"] = mem.peak_mb
        if args.trace:
            b.layer.update(layers.kernel_ns(b.sample_docs[:1000], b.config))
            os.makedirs(b.trace_dir, exist_ok=True)
            b.tracer.dump(os.path.join(b.trace_dir, b.tag + ".json"),
                          workload=args.workload, seed=args.seed, walls=b.walls,
                          steal_frac=steal, gemm_ms=gemm, layers=b.layer,
                          assignment_hash=b.assignment_hash, **b.trace_extra)
            metrics = {k: (b.layer[k], u) for k, u in PER_LAYER.items()}
        else:
            metrics = {k: (b.e2e.get(k, 0.0), u) for k, u in END_TO_END.items()}
    finally:
        b.stop_session()
        shutil.rmtree(b.dir, ignore_errors=True)
    correct = not b.errors and b.failed == 0 and bool(b.walls)
    print(json.dumps({
        "correct": correct,
        "attempted": b.attempted,
        "failed": b.failed,
        "metrics": {k: {"value": float(v), "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
