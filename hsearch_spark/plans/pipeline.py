"""End-to-end dedup pipeline: pages → docs → sigs → bands → candidates →
edges → clusters. Every stage checkpointed + resumable (StageStore).

This is the Spark restatement of the reference's pcluster lifecycle
(SURVEY.md §3.1): FASTA scan → bag-of-kmers → KLSH bucket → per-bucket
exact search → union-find, re-planned as declarative DataFrame stages.

Edge sources feeding connected components:
- exact fingerprint pairs  (free; catches byte-identical docs even when
  MinHash banding would — belt and braces, both cost one shuffle)
- MinHash band candidates → exact-Jaccard verify  (near dups)
- SimHash hamming pairs    (optional second channel, off by default —
  redundant with MinHash at τ=0.8; kept for config parity w/ pcluster)
- anchor substring pairs   (long shared spans; marked method='substring'
  and NOT subject to the Jaccard gate — a 300-char span in two long
  otherwise-different docs is a dup-span edge, ref IGC suffix stage)
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hsearch_spark.config import DedupConfig
from hsearch_spark.functions.signatures import add_signature_columns, explode_bands
from hsearch_spark.functions.text import extract_pages
from hsearch_spark.operators.candidates import (
    candidate_pairs,
    dropped_pairs_metrics,
    simhash_candidates,
    simhash_keyed,
)
from hsearch_spark.operators.components import assign_clusters, connected_components
from hsearch_spark.operators.dedup import exact_duplicate_pairs
from hsearch_spark.operators.substring import anchor_dropped_metrics, substring_edges
from hsearch_spark.operators.verify import verify_pairs
from hsearch_spark.sources.io import StageStore, input_fingerprint


@dataclass
class DedupResult:
    clusters: DataFrame           # (doc_id, cluster_id)
    edges: DataFrame              # (a, b, jaccard, method)
    docs: DataFrame               # (doc_id, url, text, lang)
    metrics: dict = field(default_factory=dict)
    # no-silent-truncation ledger: per hot bucket, how many all-pairs
    # candidates the star-R policy did NOT emit (channel, *key, n,
    # dropped_pairs). None only when emit_dropped_ledger=False.
    dropped_pairs: DataFrame | None = None


def run_dedup(
    spark: SparkSession,
    pages: DataFrame,
    config: DedupConfig | None = None,
    work_dir: str | None = None,
    enable_simhash_channel: bool = False,
    enable_substring_channel: bool = True,
    concurrent_channels: bool | None = None,
    emit_dropped_ledger: bool = True,
) -> DedupResult:
    """Full pipeline. If work_dir is set, stages checkpoint + resume there."""
    config = config or DedupConfig()
    # the fingerprint binds checkpoints to THIS input: same config +
    # work_dir over different data recomputes instead of silently
    # resuming stale stages (costs one agg scan, only when checkpointing)
    store = (
        StageStore(
            spark, work_dir, config.config_hash(),
            input_fingerprint=input_fingerprint(pages),
        )
        if work_dir
        else None
    )
    timings: dict[str, float] = {}

    def stage(name: str, build) -> DataFrame:
        t0 = time.monotonic()
        # label every job this stage materializes (thread-local, so the
        # concurrent-channels path labels correctly too): shows up in the
        # Spark UI / event log as the pipeline phase — the attribution
        # handle tools/profile_eventlog.py groups task metrics by
        sc = spark.sparkContext
        sc.setJobDescription(f"hsearch:{name}")
        try:
            if store is not None:
                df = store.materialize(name, build)
            else:
                df = build().localCheckpoint()
        finally:
            sc.setJobDescription(None)
        timings[name] = round(time.monotonic() - t0, 3)
        return df

    # A real run reads Iceberg/parquet whose scan splits already match the
    # cluster (spark.sql.files.maxPartitionBytes); a driver-created or
    # coalesced input can arrive with fewer partitions than cores, which
    # would starve every Arrow-UDF stage downstream. One-time fix here.
    parallelism = spark.sparkContext.defaultParallelism
    if pages.rdd.getNumPartitions() < parallelism:
        pages = pages.repartition(parallelism)

    docs = stage("docs", lambda: extract_pages(pages))
    # corpus size: free from the stage sidecar when checkpointing, one
    # trivial count over the cached checkpoint otherwise. Feeds the
    # candidate stage's broadcast guard (bands = b × n_docs exactly) so
    # the guard proves safety from the bound instead of running a count
    # job over the grouped buckets (candidates.bucket_pairs_grouped).
    n_docs = (
        int(store.metrics["docs"]["rows"]) if store is not None else docs.count()
    )
    sigs = stage("sigs", lambda: add_signature_columns(docs, config))
    # bands have exactly one consumer → fused into the candidates stage
    # (no materialization of the b×|docs| exploded table)
    cands = stage(
        "candidates",
        lambda: candidate_pairs(
            explode_bands(sigs, config), config, input_rows=config.bands * n_docs
        ),
    )

    # no-silent-truncation ledger (north rule: per-partition lineage +
    # metrics): for every hot bucket the star-R policy bounded — and for
    # every template anchor the substring df-gate dropped — record how
    # many all-pairs candidates were NOT emitted: the auditable
    # counterpart of the reference's silent 500-hit cap
    # (pcluster.cpp:115-116). Checkpointed as its own stage when a
    # work_dir is set (row count lands in stage metrics for free); it
    # reads only sigs, so when the channels run threaded (the default
    # with a work_dir) it runs from a driver thread beside them.
    # Without a work_dir it is left LAZY in the result so the hot path
    # pays nothing unless the caller consumes it.
    def build_ledger() -> DataFrame:
        band_led = dropped_pairs_metrics(
            explode_bands(sigs, config), config
        ).select(
            F.lit("minhash_bands").alias("channel"),
            F.col("band_hash").cast("string").alias("bucket_key"),
            F.col("n").alias("bucket_size"),
            "dropped_pairs",
        )
        parts_ = [band_led]
        if enable_simhash_channel:
            keyed, _ = simhash_keyed(sigs, config)
            parts_.append(
                dropped_pairs_metrics(keyed, ["combo_key"], config).select(
                    F.lit("simhash_combos").alias("channel"),
                    F.col("combo_key").cast("string").alias("bucket_key"),
                    F.col("n").alias("bucket_size"),
                    "dropped_pairs",
                )
            )
        if enable_substring_channel:
            parts_.append(
                anchor_dropped_metrics(sigs, config).select(
                    F.lit("substring_anchors").alias("channel"),
                    F.col("anchor").cast("string").alias("bucket_key"),
                    F.col("n").alias("bucket_size"),
                    "dropped_pairs",
                )
            )
        out = parts_[0]
        for p in parts_[1:]:
            out = out.unionByName(p)
        return out

    # The edge channels (minhash-verify, exact pairs, simhash, substring)
    # are INDEPENDENT until the final best-edge union — each consumes only
    # already-checkpointed stages (cands/sigs/docs). Two materialization
    # strategies:
    # - fused (default without a work_dir): union the lazy channel plans
    #   and materialize ONCE — the DAGScheduler submits every stage whose
    #   parents are satisfied, so the channels' shuffle-map stages already
    #   run concurrently INSIDE the one job, with no extra checkpoint
    #   round-trips. Measured faster than driver threads on a saturated
    #   local cluster (see BENCH.md round-3 A/B).
    # - per-channel threads (default with a work_dir): each channel is
    #   its own StageStore stage ("edges_<name>") materialized from a
    #   driver thread — slightly more job overhead, but a crash during
    #   the substring channel doesn't redo the minhash verify, and on a
    #   multi-tenant cluster FAIR pools keep one channel's barrier from
    #   idling the others' cores.
    # candidate-pair count: free from the stage sidecar when
    # checkpointing, one cached-block count otherwise — the driver-proven
    # bound that gates the verify stage's doc-once cogroup plan (its
    # need-list broadcast is ≤ 2 × n_cands rows by construction)
    n_cands = (
        int(store.metrics["candidates"]["rows"])
        if store is not None
        else cands.count()
    )
    channels: dict[str, object] = {
        "edges_minhash": lambda: verify_pairs(
            cands, sigs, docs, config, method="minhash", pair_rows=n_cands
        ),
        "edges_exact": lambda: exact_duplicate_pairs(docs).select(
            "a", "b", F.lit(1.0).alias("jaccard"), F.lit("exact").alias("method")
        ),
    }
    if enable_simhash_channel:
        channels["edges_simhash"] = lambda: verify_pairs(
            simhash_candidates(sigs, config, input_rows=n_docs),
            sigs,
            docs,
            config,
            method="simhash",
        )
    if enable_substring_channel:
        channels["edges_substring"] = lambda: substring_edges(sigs, config).select(
            "a",
            "b",
            F.lit(None).cast("double").alias("jaccard"),
            F.lit("substring").alias("method"),
        )

    if concurrent_channels is None:
        concurrent_channels = store is not None
    dropped = None
    if concurrent_channels:
        from concurrent.futures import ThreadPoolExecutor

        threaded = dict(channels)
        if emit_dropped_ledger and store is not None:
            threaded["dropped_pairs"] = build_ledger
        with ThreadPoolExecutor(max_workers=len(threaded)) as pool:
            futures = {
                name: pool.submit(stage, name, build)
                for name, build in threaded.items()
            }
            parts = {name: f.result() for name, f in futures.items()}
        dropped = parts.pop("dropped_pairs", None)
    else:
        parts = {name: build() for name, build in channels.items()}

    def build_edges() -> DataFrame:
        e = None
        for part in parts.values():
            e = part if e is None else e.unionByName(part)
        # one row per pair; keep the strongest evidence (min_by on method
        # rank — exact > minhash > simhash > substring)
        rank = F.when(F.col("method") == "exact", 0).when(
            F.col("method") == "minhash", 1
        ).when(F.col("method") == "simhash", 2).otherwise(3)
        return (
            e.withColumn("_rank", rank)
            .groupBy("a", "b")
            .agg(
                F.min_by(F.struct("jaccard", "method"), F.col("_rank")).alias("best")
            )
            .select("a", "b", "best.jaccard", "best.method")
        )

    edges = stage("edges", build_edges)
    # CC persists through the store too: a graph within the driver tier's
    # bound (components._DRIVER_CC_MAX_EDGES) is labelled in one driver
    # pass and its labels land as the "cc/labels" stage, so a crash inside
    # CC re-runs only that pass from the durable edges stage; a larger
    # graph runs the star loop with one "cc/iter_NNN" stage per round, so
    # a mid-CC crash resumes from the last completed round, and the round
    # blocks are durable parquet, not lineage-truncated local blocks a
    # lost executor can't recompute
    assignments = stage(
        "clusters",
        lambda: assign_clusters(
            docs, connected_components(edges, store=store)
        ),
    )

    if emit_dropped_ledger and dropped is None:
        dropped = (
            stage("dropped_pairs", build_ledger) if store is not None
            else build_ledger()
        )

    metrics = {"timings_sec": timings}
    if store is not None:
        metrics["stages"] = store.metrics
    return DedupResult(assignments, edges, docs, metrics, dropped)
