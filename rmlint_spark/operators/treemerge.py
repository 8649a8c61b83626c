"""Duplicate-directory detection — the treemerge analog.

Reference: lib/treemerge.c — rmlint's ``-D`` mode. Semantics taken
over:

- a directory's identity is the **multiset of its files' content
  digests**, computed order-independently: XOR-fold of member digests
  (RM_DIGEST_CUMULATIVE, lib/checksum.c:283-375, used at
  lib/treemerge.c:446-450) — cheap but collision-prone, so candidate
  equality is **re-verified against the sorted digest multiset**
  (digest-set comparison, lib/treemerge.c:399-424). We keep the same
  two-tier check: ``bit_xor`` group key + sorted-multiset sha confirm.
- every file counts toward every ancestor directory (the trie count
  rollup, lib/treemerge.c:136-187) — here a path-prefix explode.
- optional layout sensitivity (``--honour-dir-layout``,
  lib/treemerge.c:452-464): member contribution hashes include the
  path relative to the rolled-up ancestor.

Scale notes: the explode multiplies rows by path depth (shallow, ~3-6
for code repos); aggregation is a single hash shuffle on
(repo, ancestor). ``sort_array(collect_list(...))`` bounds memory by
directory width — giant directories are capped upstream by the skew
guard discipline; the XOR key means the wide agg can also be done in
two phases if a deployment needs it. Maximality is an equi-join on
(repo, ancestor): each matched dir enumerates its proper ancestors and
semi-joins them to the matched set, O(matched x depth), not a
per-repo self-join quadratic in matched dirs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from rmlint_spark.config import DEFAULT, EngineConfig
from rmlint_spark.operators.exact import _pin, _qualify
from rmlint_spark.operators.rank import tag_originals


def _proper_prefixes(df: DataFrame, path: str, *cols: str, root: bool) -> DataFrame:
    """One row per PROPER prefix of the '/'-joined ``path``: ``cols``,
    the split ``parts``, the prefix length ``i`` and the ``prefix``;
    ``root`` includes '' (i = 0). The path '' has no proper prefix.
    Rows too shallow for one are filtered first: sequence(1, 0) counts
    DOWN, so it would list a depth-1 path as its own prefix."""
    parts = F.split(path, "/")
    depth = F.when(F.col(path) == "", 0).otherwise(F.size(parts))
    lo = 0 if root else 1
    return df.filter(depth > lo).select(
        *cols, parts.alias("parts"), F.explode(F.sequence(F.lit(lo), depth - 1)).alias("i")
    ).withColumn("prefix", F.concat_ws("/", F.slice("parts", F.lit(1), F.col("i"))))


def file_digests(files: DataFrame) -> DataFrame:
    """(repo, path, sha): one full-content digest per file.

    treemerge needs digests for ALL files (a dir is only duplicate if
    every member matches), unlike the funnel which prunes singletons.
    The digest is computed map-side; path-double removal deduplicates
    the narrow (key, sha) projection so content never shuffles."""
    return (
        files.select("repo", "path", "commit", F.sha2("content", 256).alias("sha"))
        .dropDuplicates(["repo", "path", "commit"])
        .select("repo", "path", "sha")
    )


def ancestor_rollup(
    digests: DataFrame, layout_sensitive: bool = False, salt_buckets: int = 0
) -> DataFrame:
    """Explode each file onto every ancestor directory and aggregate:

    (repo, dir, n_files, xor_sig, set_sig)

    xor_sig: A5 commutative XOR fold (fast group key).
    set_sig: A6 exact confirm — sha256 of the sorted digest multiset
    (with relative paths when layout_sensitive).
    salt_buckets > 0 switches to the two-phase salted aggregation
    (cfg.salt_buckets) — bounded per-task state for giant directories.
    """
    exploded = _proper_prefixes(digests, "path", "repo", "sha", root=True).select(
        "repo",
        "sha",
        F.col("prefix").alias("dir"),
        # path relative to the ancestor dir
        F.concat_ws(
            "/", F.slice("parts", F.col("i") + 1, F.size("parts") - F.col("i"))
        ).alias("relpath"),
    )
    member = (
        F.concat_ws("\x01", "sha", "relpath") if layout_sensitive else F.col("sha")
    )
    tagged = exploded.withColumn("member", member)
    if salt_buckets:
        # two-phase salted aggregation for million-file directories:
        # phase 1 groups (repo, dir, salt) — no single task ever holds
        # more than ~1/salt_buckets of a directory's members — and
        # digests each salt bucket's sorted slice; phase 2 folds the
        # (salt, partial) pairs in salt order. The digest VALUE differs
        # from the unsalted form, but it is equally deterministic and
        # order-insensitive, so duplicate detection (equality of sigs)
        # is unchanged. Salt derives from the member hash: uniform by
        # construction (north-rule giant-repo skew defense).
        salt = F.pmod(F.abs(F.xxhash64("member")), F.lit(salt_buckets))
        partial = (
            tagged.withColumn("salt", salt)
            .groupBy("repo", "dir", "salt")
            .agg(
                F.count("*").alias("n_part"),
                F.expr("bit_xor(xxhash64(member))").alias("xor_part"),
                F.sha2(
                    F.concat_ws("\x02", F.sort_array(F.collect_list("member"))), 256
                ).alias("sig_part"),
            )
        )
        return (
            partial.groupBy("repo", "dir")
            .agg(
                F.sum("n_part").alias("n_files"),
                F.expr("bit_xor(xor_part)").alias("xor_sig"),
                F.sha2(
                    F.concat_ws(
                        "\x02",
                        F.expr("transform(array_sort(collect_list(struct(salt, sig_part))), s -> s.sig_part)"),
                    ),
                    256,
                ).alias("set_sig"),
            )
        )
    return (
        tagged.groupBy("repo", "dir")
        .agg(
            F.count("*").alias("n_files"),
            F.expr("bit_xor(xxhash64(member))").alias("xor_sig"),
            F.sha2(F.concat_ws("\x02", F.sort_array(F.collect_list("member"))), 256).alias("set_sig"),
        )
    )


def duplicate_dirs(
    files: DataFrame,
    cfg: EngineConfig = DEFAULT,
    layout_sensitive: bool = False,
    salted: bool = False,
) -> DataFrame:
    """J5: directories whose full contents match across locations.

    Output: (repo, dir, n_files, set_sig, cluster_id, cluster_size,
    rank, is_original) — one row per matched directory, >= 2 per
    cluster. The (xor_sig, n_files) pair is the cheap group key; the
    sorted-multiset set_sig is the verifier (both must agree).

    Only MAXIMAL duplicate dirs are reported (reference extract phase,
    rm_tm_extract lib/treemerge.c:840-985): a matched dir whose
    ancestor (same repo) is also matched is pruned — otherwise every
    single-child chain matches itself level-by-level — and clusters
    are re-qualified (>= 2 members) after pruning.

    The small ``matched`` set, which the pruning reads three times, is
    pinned: as with ``exact._pin``, call this inside ``pin_scope`` and
    materialize the result before leaving the scope.
    """
    rollup = ancestor_rollup(
        file_digests(files), layout_sensitive, cfg.salt_buckets if salted else 0
    )
    matched = _pin(_qualify(rollup, ["n_files", "xor_sig", "set_sig"]))

    # maximality pruning: a dir is nested when a proper ancestor (root
    # included) is matched in its repo — an equi-join on (repo, ancestor)
    ancestors = _proper_prefixes(matched, "dir", "repo", "dir", root=True).select(
        "repo", "dir", F.col("prefix").alias("anc")
    )
    nested = ancestors.join(
        matched.select("repo", F.col("dir").alias("anc")), ["repo", "anc"], "left_semi"
    )
    pruned = matched.join(nested, ["repo", "dir"], "left_anti")

    out = pruned.select(
        "repo",
        F.col("dir").alias("path"),  # rank criteria operate on `path`
        F.lit("").alias("commit"),
        "n_files",
        "set_sig",
        F.col("set_sig").alias("cluster_id"),
    )
    # cluster_size rides the cluster_id window the rank already sorts by
    ranked = (
        tag_originals(out, cfg.rank_criteria)
        .withColumn("cluster_size", F.count("*").over(W.partitionBy("cluster_id")))
        .filter(F.col("cluster_size") >= 2)
    )
    return ranked.select(
        "repo", F.col("path").alias("dir"), "n_files", "set_sig",
        "cluster_id", "cluster_size", "rank", "is_original",
    )


def prefix_counts(files: DataFrame) -> DataFrame:
    """A8: plain file-count rollup per ancestor prefix
    (lib/treemerge.c:136-187)."""
    return (
        _proper_prefixes(files, "path", "repo", root=False)
        .groupBy("repo", "prefix")
        .agg(F.count("*").alias("n_files"))
    )
