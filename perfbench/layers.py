"""Per-layer numbers: the ``functions.hashing`` kernels timed in this
process without Spark, and per-stage task metrics from Spark's event log
grouped by the ``hsearch:<stage>`` job labels the pipeline sets."""

from __future__ import annotations

import json
import os
import statistics
import time

from hsearch_spark.config import DedupConfig
from hsearch_spark.functions import hashing as H
from tools.profile_eventlog import _log_lines, parse_eventlog

# run_dedup's stages; the threaded edge channels (edges_minhash, ...)
# are counted under "edges"
STAGES = ("docs", "sigs", "candidates", "edges", "clusters", "dropped_pairs")
STAGE_FIELDS = ("wall_s", "cpu_s", "gc_s", "shuffle_write_mb", "skew")


def kernel_ns(texts: list[str], config: DedupConfig, reps: int = 3) -> dict:
    """Median over ``reps`` passes of CPU-ns per doc for each kernel, and
    per pair for exact Jaccard over neighbouring docs' shingle sets."""
    k, salt, num_perm = config.shingle_k, config.minhash_salt(), config.num_perm
    shingles = [H.shingle_hashes(t, k) for t in texts]
    pairs = list(zip(shingles, shingles[1:]))
    kernels = {
        "shingle_hashes": (texts, lambda t: H.shingle_hashes(t, k)),
        "minhash_signature_packed": (
            shingles,
            lambda s: H.minhash_signature_packed(s, num_perm, salt),
        ),
        "simhash64": (shingles, H.simhash64),
        "anchor_hashes": (
            texts,
            lambda t: H.anchor_hashes(t, config.anchor_gram, config.anchor_mod),
        ),
        "jaccard": (pairs, lambda p: H.jaccard(*p)),
    }
    out = {}
    for name, (items, fn) in kernels.items():
        per_item = []
        for _ in range(reps):
            t0 = time.process_time_ns()
            for x in items:
                fn(x)
            per_item.append((time.process_time_ns() - t0) / len(items))
        unit = "ns_per_pair" if name == "jaccard" else "ns_per_doc"
        out[f"hashing.{name}.{unit}"] = statistics.median(per_item)
    return out


def _task_ms_by_stage(evpath: str, t_mark: float) -> dict[int, list[int]]:
    """Spark stage id -> run times (ms) of its tasks launched after t_mark."""
    out: dict[int, list[int]] = {}
    for line in _log_lines(evpath):
        if '"SparkListenerTaskEnd"' not in line:
            continue
        ev = json.loads(line)
        ti = ev.get("Task Info", {})
        if ti.get("Launch Time", 0) < t_mark:
            continue
        run_ms = (ev.get("Task Metrics") or {}).get("Executor Run Time", 0)
        out.setdefault(ev["Stage ID"], []).append(run_ms)
    return out


def stage_metrics(evpath: str, t_mark: float, timings: dict) -> dict:
    """stage.<name>.{wall_s,cpu_s,gc_s,shuffle_write_mb,skew} for the run
    that started at t_mark (epoch ms). wall_s comes from the pipeline's
    own timings; concurrent edge channels count once, by the longest.
    cpu_s is executor (JVM) CPU; Python worker CPU is not in it. skew is
    max/median task time of the stage group's longest Spark stage."""
    per_stage, names = parse_eventlog(evpath, t_mark)
    tasks = _task_ms_by_stage(evpath, t_mark)
    groups: dict[str, list[int]] = {}
    for sid, nm in names.items():
        if sid in per_stage and nm.startswith("[hsearch:"):
            label = nm[len("[hsearch:") : nm.index("]")]
            group = "edges" if label.startswith("edges_") else label
            groups.setdefault(group, []).append(sid)
    out = {}
    for st in STAGES:
        sids = groups.get(st, [])
        channels = [v for n, v in timings.items() if n.startswith(st + "_")]
        out[f"stage.{st}.wall_s"] = timings.get(st, 0.0) + max(channels, default=0.0)
        out[f"stage.{st}.cpu_s"] = sum(per_stage[s]["cpu_ms"] for s in sids) / 1e3
        out[f"stage.{st}.gc_s"] = sum(per_stage[s]["gc_ms"] for s in sids) / 1e3
        out[f"stage.{st}.shuffle_write_mb"] = sum(
            per_stage[s]["shuffle_write_mb"] for s in sids
        )
        skew = 0.0
        if sids:
            top = max(sids, key=lambda s: per_stage[s]["run_ms"])
            ms = tasks.get(top, [])
            med = statistics.median(ms) if ms else 0
            skew = max(ms) / med if med > 0 else 1.0
        out[f"stage.{st}.skew"] = skew
    return out


def dir_stats(path: str) -> tuple[int, float]:
    """(data files, MB) under path, ignoring Spark's checksum and marker
    files."""
    n, size = 0, 0
    for root, _, files in os.walk(path):
        for f in files:
            if f.endswith(".crc") or f.startswith("_"):
                continue
            n += 1
            size += os.path.getsize(os.path.join(root, f))
    return n, size / 1e6
