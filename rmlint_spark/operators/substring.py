"""Cross-file substring lint — shared-window detection.

North-star requirement with no direct reference counterpart (nearest
precedent: the incremental prefix logic of R2, lib/shredder.c:496-533,
which also hashes sub-ranges of content). Finds files sharing long
literal character windows (vendored snippets, copied functions):

  content --window shingles (len W, stride S)--> (fid, window_hash)
          --inverted index groupBy(window_hash)--> buckets
          --self-join (skew-capped)--> (fid_a, fid_b, shared_windows)

A pair sharing >= min_shared windows is a substring-clone candidate.
Window hashing is one vectorized SipHash pass over the flattened
window array (Arrow batch); everything after is native DataFrame ops.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from rmlint_spark.config import DEFAULT, EngineConfig
from rmlint_spark.operators.lsh import file_id


def window_hashes_batch(texts: list[str], window: int, stride: int) -> list[np.ndarray]:
    """Per-text int64 hashes of each char window [i*stride, +window).

    Round-6 note: a fully numpy-vectorized SipHash-2-4 replacement for
    ``pd.util.hash_array`` was implemented and measured 3x SLOWER than
    the pandas C loop (the ~20 SipHash rounds become ~240 full-array
    memory passes), so the per-object C hash stays — see
    OPTIMIZATION_r06.md "left alone"."""
    all_windows: list[str] = []
    counts = []
    for t in texts:
        t = t or ""
        ws = [t[i : i + window] for i in range(0, max(len(t) - window + 1, 0), stride)]
        if not ws and len(t) >= 16:  # short doc: single whole-text window
            ws = [t]
        all_windows.extend(ws)
        counts.append(len(ws))
    if not all_windows:
        return [np.empty(0, dtype=np.int64) for _ in texts]
    h = pd.util.hash_array(np.asarray(all_windows, dtype=object)).astype(np.int64)
    out, pos = [], 0
    for c in counts:
        out.append(h[pos : pos + c])
        pos += c
    return out


def window_hash_udf(window: int, stride: int):
    @F.pandas_udf("array<long>")
    def _wh(content: pd.Series) -> pd.Series:
        return pd.Series([list(a) for a in window_hashes_batch(content.tolist(), window, stride)])

    return _wh


def _spread(files: DataFrame) -> DataFrame:
    """Repartition the (single-row-group, hence single-task) corpus
    scan before the per-row-CPU-heavy window UDF (guide §2.5 input-skew
    fix — the same explicit spread as ``lsh.representative_rows``; AQE
    size-based coalescing would otherwise serialize the kernel on 1-2
    scan partitions). Keyed on the row key, so the spread is
    deterministic under retries."""
    n_part = files.sparkSession.sparkContext.defaultParallelism
    return files.repartition(n_part, "repo", "path", "commit")


def window_index(files: DataFrame, cfg: EngineConfig = DEFAULT) -> DataFrame:
    """The inverted index: distinct (fid, whash) rows, one per file x
    window-hash. No raw-row dedup: fid is key-derived, so path-double
    rows emit identical (fid, whash) pairs that the narrow
    dropDuplicates collapses — content never crosses a dedup shuffle."""
    udf = window_hash_udf(cfg.sig.substr_window, cfg.sig.substr_stride)
    return (
        _spread(files.filter(F.length("content") >= 16))
        .select(file_id().alias("fid"), F.explode(udf(F.col("content"))).alias("whash"))
        .dropDuplicates(["fid", "whash"])
    )


def clone_pairs(
    wh: DataFrame, cfg: EngineConfig = DEFAULT, min_shared: int = 2
) -> tuple[DataFrame, DataFrame]:
    """Pair the inverted index per bucket: (pairs, oversized_report).

    Buckets wider than cfg.max_bucket_width (boilerplate windows
    appearing in thousands of files) are excluded and reported — the
    same skew-cap discipline as the LSH band join."""
    from rmlint_spark.operators.lsh import (
        _bucket_pairs,
        _bucket_width,
        _gather_buckets,
        _split_at_cap,
    )

    # distinct members make the gather tolerant of a NON-deduplicated
    # index (identical to deduplicating (fid, whash) first — per-doc
    # repeat windows and path-doubled rows emit identical pairs), so
    # substring_clones can skip the separate dropDuplicates exchange
    ok, over = _split_at_cap(
        _gather_buckets(wh, ["whash"], "fid", distinct=True), cfg.max_bucket_width
    )
    oversized = over.select("whash", _bucket_width().alias("width"))
    pairs = (
        _bucket_pairs(ok)
        .groupBy("fid_a", "fid_b")
        .agg(F.count("*").alias("shared_windows"))
        .filter(F.col("shared_windows") >= min_shared)
    )
    return pairs, oversized


def substring_clones(
    files: DataFrame, cfg: EngineConfig = DEFAULT, min_shared: int = 2
) -> tuple[DataFrame, DataFrame]:
    """Returns (pairs(fid_a, fid_b, shared_windows), oversized_report).

    Feeds clone_pairs the RAW (fid, whash) explode — no separate
    dropDuplicates pass: the bucket gather's array_distinct collapses
    per-doc repeat windows and path-doubled rows identically, so the
    5M-row index crosses the network once total (round 6). Callers
    that materialize the index itself (the oracle side-channel) still
    use :func:`window_index`, whose distinct-rows contract is
    unchanged."""
    udf = window_hash_udf(cfg.sig.substr_window, cfg.sig.substr_stride)
    raw = (
        _spread(files.filter(F.length("content") >= 16))
        .select(file_id().alias("fid"), F.explode(udf(F.col("content"))).alias("whash"))
    )
    return clone_pairs(raw, cfg, min_shared)
