"""Seeded input corpora for the benchmark workloads.

Every corpus is cut from ``hsearch_spark.sources.pages.generate_pages``
by keeping or dropping whole planted families, so the planted truth
pairs of the kept docs stay exact. A page url names its family in the
path: ``https://siteN.example/<kind>/f<i>/p<member>``, where kind is
``exact``, ``near``, ``substring``, ``boiler`` (one hot family that is
not a dup family) or ``unique`` (a family of one).
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from hsearch_spark.sources.pages import generate_pages

@dataclass(frozen=True)
class Corpus:
    pages: pd.DataFrame  # (url, warc_ts, html, text, lang)
    truth: pd.DataFrame  # (a_url, b_url, kind); both urls are in pages


def _kind(urls: pd.Series) -> pd.Series:
    return urls.str.split("/").str[3]


def _keep(pages: pd.DataFrame, truth: pd.DataFrame) -> Corpus:
    kept = set(pages["url"])
    t = truth[truth["a_url"].isin(kept)]
    if not t["b_url"].isin(kept).all():
        raise ValueError("a planted family was split; truth would be inexact")
    return Corpus(pages.reset_index(drop=True), t.reset_index(drop=True))


def crawl_highdup(seed: int, n_generated: int) -> Corpus:
    """Every planted family of a generated corpus and no unique docs:
    exact, near and substring families plus the hot boilerplate family
    (about 27% of the kept docs)."""
    fx = generate_pages(n_generated, seed)
    pdf = fx.pdf
    return _keep(pdf[_kind(pdf["url"]) != "unique"], fx.truth_pairs)


def stream_batches(seed: int, n_batches: int, batch_docs: int) -> list[Corpus]:
    """Consecutive slices of one default-mix corpus. Truth is exact and
    near pairs only (the incremental path has no substring channel); a
    batch's truth holds the pairs whose later doc arrives in that batch,
    so the union over ingested batches is the truth of the ingested docs."""
    fx = generate_pages(n_batches * batch_docs, seed)
    pdf = fx.pdf
    batch_of = pd.Series(np.arange(len(pdf)) // batch_docs, index=pdf["url"])
    truth = fx.truth_pairs[fx.truth_pairs["kind"].isin(("exact", "near"))]
    last = np.maximum(
        batch_of[truth["a_url"]].to_numpy(), batch_of[truth["b_url"]].to_numpy()
    )
    return [
        Corpus(
            pdf.iloc[b * batch_docs : (b + 1) * batch_docs].reset_index(drop=True),
            truth[last == b].reset_index(drop=True),
        )
        for b in range(n_batches)
    ]


def write_parquet(pages: pd.DataFrame, path: str, n_files: int = 8) -> str:
    """Write the pages table as ``n_files`` parquet files, so a scan
    splits into several tasks as a real crawl input would."""
    os.makedirs(path, exist_ok=True)
    for i, part in enumerate(np.array_split(np.arange(len(pages)), n_files)):
        table = pa.Table.from_pandas(pages.iloc[part], preserve_index=False)
        # Spark reads microsecond timestamps, not pandas' nanoseconds
        pq.write_table(
            table,
            os.path.join(path, f"part-{i:03d}.parquet"),
            coerce_timestamps="us",
            allow_truncated_timestamps=True,
        )
    return path
