"""Robust winnowing fingerprints (Schleimer, Wilkerson, Aiken 2003 —
the MOSS algorithm): hash every character k-gram, slide a w-wide
window over the hash sequence, and keep each window's minimum. The
guarantee: any substring match of length >= k + w - 1 between two
documents shares at least one selected fingerprint, while only
~2/(w+1) of the grams are kept — the standard local-fingerprinting
scheme for source-code plagiarism/clone detection.

Implementation is pure JVM higher-order functions (sequence /
transform / slice / array_min / array_distinct): fingerprint
selection happens inside the scan partition and only the selected
(doc_id, fp) pairs ever move. Hashes are 8-hex-char sha256 prefixes
so the window minimum is a plain lexicographic string min any SQL
engine reproduces exactly (no engine-specific integer hash).

Reference analog: the substring-lint shingle stage
(lib/treemerge.c / the J-new inverted-index clone join) — winnowing
is the principled subsampling of exactly that shingle relation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def winnow_fingerprints(
    docs: DataFrame,
    k: int = 8,
    w: int = 4,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(doc_id, fp) — the distinct winnowed fingerprints per document.
    Documents shorter than k + w - 1 characters (no full window)
    contribute nothing."""
    # greatest(..., 1) keeps the expressions TOTAL: Catalyst's
    # InferFiltersFromGenerate + codegen subexpression elimination can
    # evaluate them on rows the length filter rejects (sequence(1, 0)
    # yields a DESCENDING [1, 0] and slice throws on start 0). The
    # clamp only fires on rows the filter drops, so output is unchanged.
    #
    # The gram array is LET-BOUND as the lambda variable of a
    # singleton-array transform. Projecting it as a column instead
    # invites Catalyst's CollapseProject to inline the whole gram
    # transform into the window lambda, where `slice(grams, j, w)`
    # re-evaluates every k-gram hash once PER WINDOW POSITION —
    # O(len^3) per document (measured: one 25-minute single task at
    # 5000 docs). Bound as a lambda variable, grams evaluates once
    # per row no matter how the optimizer rearranges projections;
    # tests/test_plans.py pins the plan shape.
    grams = (
        f"transform(sequence(1, greatest(length({text_col}) - {k - 1}, 1)), "
        f"i -> substr(sha2(substr({text_col}, i, {k}), 256), 1, 8))"
    )
    fps = (
        f"transform(array({grams}), g -> "
        f"  array_distinct(transform(sequence(1, greatest(size(g) - {w - 1}, 1)), "
        f"  j -> array_min(slice(g, j, {w})))))[0]"
    )
    # spread BEFORE the gram/window expressions (guide §2.5): the
    # driver tables are single-row-group parquet, so without this the
    # ~n_chars sha256 gram hashes per document (16M+ at sf0.1) all run
    # inside the one scan task. One (id, text) exchange buys
    # shuffle-partition-way parallelism for the per-row work — the
    # same explicit-repartition crutch as lsh.representative_rows.
    d = docs.filter(F.length(text_col) >= k + w - 1).repartition(F.col(id_col))
    return d.select(F.col(id_col).alias(id_col), F.explode(F.expr(fps)).alias("fp"))


def shared_fingerprint_pairs(
    fps: DataFrame, max_bucket_width: int = 64, id_col: str = "doc_id"
) -> tuple[DataFrame, DataFrame]:
    """Candidate clone pairs from a winnowed fingerprint relation:
    per-fingerprint bucket expansion with the repo-standard width cap.
    Returns (pairs with shared-fp counts, dropped over-cap
    fingerprints) — the same (result, dropped) observability contract
    as the LSH and ANN candidate stages."""
    from rmlint_spark.operators.lsh import (
        _bucket_pairs,
        _bucket_width,
        _gather_buckets,
        _split_at_cap,
    )

    ok, over = _split_at_cap(_gather_buckets(fps, ["fp"], id_col), max_bucket_width)
    dropped = over.select("fp", _bucket_width().alias("_w"))
    pairs = (
        _bucket_pairs(ok)
        .groupBy(F.col("fid_a").alias("id_a"), F.col("fid_b").alias("id_b"))
        .agg(F.count("*").cast("long").alias("n_shared"))
    )
    return pairs, dropped
