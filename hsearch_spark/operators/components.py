"""Connected components over the verified-edge table — pure DataFrame loop.

Reference parity: union-find over candidate ids
(pcluster/src/pcluster/union_find.cpp:16-43). The reference's
single-node disjoint-set (with its union-by-non-root bug,
union_find.cpp:31-33 — see SURVEY.md §2.12) is replaced by the
alternating large-star / small-star algorithm (Kiveris et al., "Connected
Components in MapReduce and Beyond", SoCC'14): provably convergent,
shuffle-key = node id, O(log n) rounds, no driver-side state beyond the
loop counter. Dedup graphs are shallow (stars within buckets), so in
practice 3-5 rounds.

Small graphs skip the loop: when the edge table has at most
_DRIVER_CC_MAX_EDGES rows, one Arrow collect + the vectorized
min-label union-find (_uf_min_labels) labels every component on the
driver and the labels are uploaded back — the same labels the loop
converges to, with no star rounds. With a store the uploaded labels
persist as the stage "cc/labels", so the CC result is durable and a
crash inside CC re-runs one driver pass from the durable edges stage.

Above that bound the star loop runs, and each round truncates lineage —
without it the lineage doubles every iteration and the planner blows up
(the distributed analog of the reference's in-RAM root[] mutation). Two
modes:
- store=None: localCheckpoint (fast, executor-local blocks — fine for
  local mode / tests, NOT fault-tolerant: a lost executor kills the run)
- store=StageStore: every iteration persists its edge table to the
  store ("cc/iter_NNN" stages) — a crashed run resumes from the last
  completed iteration, and lost executors recompute from durable
  parquet instead of dying (north-rule resumability at cluster scale).
The loop fails loudly if it has not converged after max_iter rounds.

Deterministic canonical labels: cluster_id = min(doc_id) of the
component — independent of partitioning, row order, and cluster size
(north-rule determinism).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _fresh(df: DataFrame) -> DataFrame:
    """Re-project u,v with new attribute ids. Self-unions of the same
    (checkpointed) plan share attribute ids across branches, which trips
    a NoSuchElementException in Spark 4.1's Union constraint rewriting;
    aliasing each branch separately avoids it."""
    return df.select(F.col("u").alias("u"), F.col("v").alias("v"))


def _uf_min_labels(u, v):
    """Vectorized min-label union-find: edge arrays -> (nodes, root),
    root[i] = min(doc_id) of node i's component. Iterated min-label
    propagation + pointer jumping — order-independent, so the result is
    deterministic under any edge ordering/partitioning. Shared by the
    per-bucket pre-contraction (_contract_local) and the driver tier of
    connected_components."""
    import numpy as np

    nodes, inv = np.unique(np.concatenate([u, v]), return_inverse=True)
    ui, vi = inv[: len(u)], inv[len(u):]
    lab = np.arange(len(nodes), dtype=np.int64)
    while True:
        before = lab.copy()
        m = np.minimum(lab[ui], lab[vi])
        np.minimum.at(lab, ui, m)
        np.minimum.at(lab, vi, m)
        lab = np.minimum(lab, lab[lab])  # pointer jump
        lab = np.minimum(lab, lab[lab])
        if np.array_equal(lab, before):
            break
    return nodes, nodes[lab]


def _contract_local(
    edges: DataFrame, n_buckets: int | None = None, salt: int = 16
) -> DataFrame:
    """ONE-pass per-bucket union-find pre-contraction.

    Replaces each hash bucket's edge set with its union-find spanning
    forest (node -> local-component-min). Connectivity is preserved
    exactly (a forest spans every local component; node ids are
    untouched), so feeding the contracted table to the star loop yields
    the same final labels — but the star loop now starts from an
    almost-converged graph: the candidate channels emit STAR pairs
    (a = bucket/group min ↔ member, candidates.bucket_pairs_grouped and
    exact_duplicate_pairs), so bucketing by the star center `u`
    co-locates nearly every edge of a component, and one numpy
    min-label pass collapses it to a single star. Measured effect:
    2-4 star iterations (each ~6 exchanges + a job barrier) become
    1 confirming iteration — the CC loop was the pipeline's largest
    non-scaling serial fraction at N→4N (BENCH.md round-4 stage
    decomposition).

    Skew safety: the group key is (xxhash64(u) % B, xxhash64(v) % salt)
    — the salt splits a giant star's edges across `salt` groups, and
    because every one of those groups still contains the center u (it
    is on every edge), each contracts to exactly the same (member → u)
    rows as the unsalted group; only non-star chains lose a little
    contraction (the star loop finishes those). Per-group rows are
    bounded by deg(u)/salt: at a 10^9-member exact-dup family and
    salt=16 that is ~60M 16-byte rows per task — raise `salt` (or set
    pre_contract=False; the star loop is pure-aggregation skew-safe)
    for corpora with larger identical-content families.

    The kernel is vectorized min-label propagation + pointer jumping
    (no per-edge Python loop), order-independent and therefore
    deterministic under any partitioning.
    """
    import numpy as np
    import pandas as pd

    if n_buckets is None:
        n_buckets = max(
            edges.sparkSession.sparkContext.defaultParallelism * 2, 64
        )

    def uf(pdf: pd.DataFrame) -> pd.DataFrame:
        nodes, root = _uf_min_labels(
            pdf["u"].to_numpy(dtype=np.int64),
            pdf["v"].to_numpy(dtype=np.int64),
        )
        keep = root != nodes
        return pd.DataFrame({"u": nodes[keep], "v": root[keep]})

    keyed = edges.select(
        "u",
        "v",
        F.pmod(F.xxhash64("u"), F.lit(n_buckets)).alias("_cb"),
        F.pmod(F.xxhash64("v"), F.lit(salt)).alias("_cs"),
    )
    return (
        keyed.groupBy("_cb", "_cs")
        .applyInPandas(lambda pdf: uf(pdf[["u", "v"]]), "u long, v long")
    )


def _large_star(edges: DataFrame) -> DataFrame:
    """Connect every larger neighbor of u to min(Γ⁺(u))."""
    nbrs = _fresh(edges).union(
        edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    mins = nbrs.groupBy("u").agg(F.min("v").alias("mn"))
    mins = mins.select("u", F.least("u", "mn").alias("m"))
    return (
        nbrs.join(mins, "u")
        .where(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .where(F.col("u") != F.col("v"))
        .distinct()
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """Point each edge large→small; connect all small neighbors to the min."""
    d = edges.select(
        F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
    ).where(F.col("u") != F.col("v"))
    mins = d.groupBy("u").agg(F.min("v").alias("m"))
    return (
        _fresh(
            d.join(mins, "u").select(
                F.col("v").alias("u"), F.col("m").alias("v")
            )
        )
        .union(mins.select("u", F.col("m").alias("v")))
        .where(F.col("u") != F.col("v"))
        .distinct()
    )


_DRIVER_CC_MAX_EDGES = 4_000_000  # ~64 MB of (u, v) int64 pairs


def _arrow_conf(spark):
    """Force Arrow transfer for the driver tier's collect/upload
    regardless of session conf (spark.sql.execution.arrow.pyspark.enabled
    defaults to FALSE, and the Row-object fallback costs multiple
    driver-seconds of pure CPython at ~10^6 edge rows — a flat term no
    added executor shrinks: the clusters stage measured ~9-12 s at BOTH
    1 and 4 executors on the 1.6M-doc corpus before Arrow). Batch size
    is raised for this bulk transfer only — sessions tune
    maxRecordsPerBatch small (e.g. 2048) to bound pandas-UDF batches,
    which would slice this collect into hundreds of tiny batches.
    Returns (confs_to_set, saved_values)."""
    keys = {
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.execution.arrow.maxRecordsPerBatch": "131072",
    }
    saved = {}
    for k in keys:
        try:
            saved[k] = spark.conf.get(k)
        except Exception:
            saved[k] = None
    return keys, saved


def _arrow_collect(df: DataFrame):
    """df.toPandas() with Arrow forced on (conf restored after)."""
    spark = df.sparkSession
    keys, saved = _arrow_conf(spark)
    try:
        for k, val in keys.items():
            spark.conf.set(k, val)
        return df.toPandas()
    finally:
        for k, val in saved.items():
            if val is not None:
                spark.conf.set(k, val)


def _arrow_upload(spark, pdf, schema: str) -> DataFrame:
    """spark.createDataFrame(pandas) with Arrow forced on."""
    keys, saved = _arrow_conf(spark)
    try:
        for k, val in keys.items():
            spark.conf.set(k, val)
        return spark.createDataFrame(pdf, schema)
    finally:
        for k, val in saved.items():
            if val is not None:
                spark.conf.set(k, val)


_LABELS_SCHEMA = "doc_id long, cluster_id long"


def _driver_labels(uv: DataFrame) -> DataFrame:
    """Driver tier: ONE Arrow collect of the (u, v) table, the vectorized
    min-label union-find, and an Arrow upload of (doc_id, cluster_id).
    Output is sorted by doc_id (np.unique) — deterministic regardless of
    collect order."""
    import numpy as np
    import pandas as pd

    pdf = _arrow_collect(uv)
    u = np.ascontiguousarray(pdf["u"].to_numpy(dtype=np.int64))
    v = np.ascontiguousarray(pdf["v"].to_numpy(dtype=np.int64))
    nodes, root = _uf_min_labels(u, v)
    return _arrow_upload(
        uv.sparkSession,
        pd.DataFrame({"doc_id": nodes, "cluster_id": root}),
        _LABELS_SCHEMA,
    )


def connected_components(
    edges: DataFrame,
    max_iter: int = 25,
    store=None,
    pre_contract: bool = True,
    driver_max_edges: int | None = None,
) -> DataFrame:
    """edges(a, b) -> assignments(doc_id, cluster_id), cluster_id = component min.

    Only nodes that appear in edges are returned; the pipeline left-joins
    back to the full doc set (singletons keep their own id).

    pre_contract: run one per-bucket union-find pass (_contract_local)
    before the star loop — same final labels (connectivity-preserving
    spanning forest), far fewer star rounds on the star-shaped edge
    tables the channels emit. Disable for adversarially skewed inputs
    where even salted contraction groups would be too large.

    driver_max_edges: when the edge table is at most this many rows
    (raw count — a cheap scan of the checkpointed edge table — or, with
    store=None only, the distinct count after iter_000), the star loop
    is replaced by ONE Arrow collect + the same vectorized min-label
    union-find the contraction uses (_driver_labels) — identical labels
    by construction (both converge to component min), pinned by
    tests/test_components.py::test_cc_driver_tier_equals_star_loop.
    The raw-count tier runs ZERO shuffles: min-label union-find is
    idempotent over duplicate edges, so the distinct() exchange the
    loop path needs to bound its iteration cost is skipped outright.
    Rationale: each star round costs ~6 exchanges plus a full job
    barrier of serial driver time that no added executor can shrink —
    the pipeline's clusters stage measured ~6 s at BOTH 2 and 8 cores
    (BENCH.md round-4 stage decomposition), a pure Amdahl term in the
    N→4N efficiency. Same driver-small tier pattern as the k-means
    combine (operators/ann._DRIVER_COMBINE_MAX_ROWS); at the default
    bound the collect is ≤ ~64 MB. Above the bound — any corpus whose
    dup graph is genuinely large, e.g. 10^12 docs — the distributed
    loop runs. None (the default) reads the module's
    _DRIVER_CC_MAX_EDGES at call time, so callers that cannot pass the
    argument (the pipeline) can still be pinned to the loop; 0 forces
    the loop.

    `store` (a sources.io.StageStore) makes the result durable and
    resume-aware. The driver tier persists its labels as stage
    "cc/labels"; a re-run after a crash inside CC reads them back if
    they were written, and otherwise repeats the one driver pass over
    the durable edges stage. In the loop, iteration i persists as stage
    "cc/iter_{i:03d}"; a re-run after a mid-CC crash reads completed
    iterations back and continues from the first missing one (the loop
    is deterministic, so the replayed termination check decides
    identically).

    Raises RuntimeError when the loop has not converged after max_iter
    star rounds — the labels would not be components.

    Driver-action budget (the serial fraction that caps N→4N scaling —
    each collect is a full stage barrier the whole cluster idles behind):
    - store=None: ONE job per iteration — the checkpoint is LAZY
      (eager=False) and the count+hash convergence aggregate is the
      action that materializes it, instead of an eager-checkpoint job
      followed by a separate aggregate job.
    - store=StageStore: the parquet write is the only per-iteration job;
      the row count is read back from the _LINEAGE.json sidecar (already
      computed for lineage metrics) for FREE, and the content hash —
      needed only to confirm convergence — is computed solely when two
      consecutive counts agree, i.e. once or twice per run near
      convergence, over an already-small converged edge table.
    """

    def _hash(df: DataFrame) -> int:
        row = df.agg(
            F.coalesce(F.expr("bit_xor(xxhash64(u, v))"), F.lit(0)).alias("h")
        ).collect()[0]
        return int(row["h"])

    def _persist(df: DataFrame, name: str) -> tuple[DataFrame, int, int | None]:
        """Materialize one iteration; returns (frame, n_rows, hash|None).
        hash is None when deferred (store path — computed on demand)."""
        if store is not None:
            out = store.materialize(name, lambda: df)
            return out, int(store.metrics[name]["rows"]), None
        out = df.localCheckpoint(eager=False)
        row = out.agg(
            F.count("*").alias("n"),
            F.coalesce(F.expr("bit_xor(xxhash64(u, v))"), F.lit(0)).alias("h"),
        ).collect()[0]
        return out, int(row["n"]), int(row["h"])

    if driver_max_edges is None:
        driver_max_edges = _DRIVER_CC_MAX_EDGES
    spark = edges.sparkSession
    base = edges.select(F.col("a").alias("u"), F.col("b").alias("v")).where(
        F.col("u") != F.col("v")
    )

    if driver_max_edges > 0:
        # Driver-tier pre-check on the RAW edge count — one cheap job
        # (the pipeline hands us an already-checkpointed edge table).
        # Raw count >= distinct count, so the guard is conservative: a
        # duplicate-heavy table may fall through to the loop below even
        # though its distinct form would have fit, never the reverse.
        n_raw = base.count()
        if n_raw == 0 and store is None:
            return spark.createDataFrame([], _LABELS_SCHEMA)
        if n_raw <= driver_max_edges:
            # ZERO-SHUFFLE driver tier: min-label union-find is
            # idempotent over duplicate edges, so the distinct()
            # exchange the loop path needs (to bound iteration cost) is
            # pure overhead here — collect the checkpointed edges
            # directly. At 1.6M docs this removes the clusters stage's
            # only shuffle plus the iter_000 checkpoint+aggregate job
            # (~1.5-2 s of core-count-independent wall on BOTH legs of
            # the N-vs-4N sweep).
            if store is None:
                return _driver_labels(base)
            return store.materialize("cc/labels", lambda: _driver_labels(base))

    if pre_contract and store is not None:
        # one union-find pass per hash bucket before the first star
        # round: the channels emit star pairs, so this collapses most
        # components immediately and the loop below usually just
        # confirms convergence (see _contract_local). The forest
        # replaces the plain distinct() — it is already duplicate-free
        # per bucket, and cross-bucket duplicates are removed by the
        # distinct() here exactly as raw edges were. store=None defers
        # this until the driver-tier check below: contraction exists to
        # cut star rounds, and the driver tier runs none — paying a
        # Python pass over every edge just to shrink a collect that is
        # already bounded would be pure overhead in the common case.
        base = _contract_local(base)
    e, n, h = _persist(base.distinct(), "cc/iter_000")
    if n == 0:
        return spark.createDataFrame([], _LABELS_SCHEMA)

    if store is None and n <= driver_max_edges:
        # driver tier, distinct form: reached only when the RAW count
        # exceeded the bound but dedup shrank the table under it
        # (duplicate-heavy caller input — the pipeline's edge table is
        # already unique by (a,b), so it takes the zero-shuffle tier
        # above). iter_000 is materialized, so this is a block fetch.
        return _driver_labels(e)

    if store is None and pre_contract:
        # graph too big for the driver tier — contract now (deferred
        # from above), reading the already-cached iter_000 blocks
        e, n, h = _persist(_contract_local(e).distinct(), "cc/iter_000")

    prev_e, prev_n, prev_h = e, n, h
    for i in range(max_iter):
        e, n, h = _persist(_small_star(_large_star(prev_e)), f"cc/iter_{i + 1:03d}")
        if n == prev_n:
            # counts agree — confirm with content hashes (computed lazily
            # on the store path; both frames are materialized and small)
            h = _hash(e) if h is None else h
            prev_h = _hash(prev_e) if prev_h is None else prev_h
            if h == prev_h:
                break
        prev_e, prev_n, prev_h = e, n, h
    else:
        raise RuntimeError(
            f"connected_components did not converge in max_iter={max_iter} "
            f"star rounds ({n} edges left); the labels would not be components"
        )
    # converged: every edge is (member, component_min)
    members = e.select(F.col("u").alias("doc_id"), F.col("v").alias("cluster_id"))
    roots = e.select(F.col("v").alias("doc_id"), F.col("v").alias("cluster_id"))
    return members.union(roots).distinct()


def assign_clusters(
    docs: DataFrame, assignments: DataFrame
) -> DataFrame:
    """Full assignment table: docs(doc_id, ...) ⟕ CC output; singletons map
    to themselves (ref: every unseen point becomes its own center,
    hclust2.cpp:107-118 state 0→1)."""
    return (
        docs.select("doc_id")
        .join(assignments, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("cluster_id", "doc_id").alias("cluster_id"),
        )
    )
