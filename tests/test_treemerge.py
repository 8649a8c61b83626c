"""Duplicate-directory rollup (treemerge analog) tests.

Mirrors reference tests/test_options/test_merge_directories.py
scenarios: identical subtree -> match; one-file-differs -> no match;
layout-(in)sensitivity; only MAXIMAL dup dirs reported (extract
phase, lib/treemerge.c:840-985).
"""

from __future__ import annotations

import re
from collections import defaultdict

import pytest
from pyspark.sql import functions as F

from rmlint_spark.operators.treemerge import duplicate_dirs, prefix_counts


def make_files(spark, rows):
    return spark.createDataFrame(rows, ["repo", "path", "commit", "lang", "content"])


BASE = [
    # per-repo distinguishing file so repo roots never match
    ("r1", "readme.md", "c1", "markdown", "R1"),
    ("r2", "readme.md", "c2", "markdown", "R2"),
    ("r3", "readme.md", "c3", "markdown", "R3"),
    ("r4", "readme.md", "c4", "markdown", "R4"),
    # identical subtree vendored into two repos
    ("r1", "vendor/lib/a.py", "c1", "python", "AAA"),
    ("r1", "vendor/lib/b.py", "c1", "python", "BBB"),
    ("r2", "vendor/lib/a.py", "c2", "python", "AAA"),
    ("r2", "vendor/lib/b.py", "c2", "python", "BBB"),
    # same contents, different layout (renamed file) in r3
    ("r3", "vendor/lib/renamed.py", "c3", "python", "AAA"),
    ("r3", "vendor/lib/b.py", "c3", "python", "BBB"),
    # one file differs in r4 -> must NOT match
    ("r4", "vendor/lib/a.py", "c4", "python", "AAA"),
    ("r4", "vendor/lib/b.py", "c4", "python", "DIFFERENT"),
]


def test_identical_subtrees_cluster(spark):
    files = make_files(spark, BASE)
    dd = duplicate_dirs(files)
    rows = {(r["repo"], r["dir"]): r["cluster_id"] for r in dd.collect()}
    # maximal matched dir is 'vendor' (vendor == vendor/lib multiset,
    # child pruned as non-maximal)
    assert rows[("r1", "vendor")] == rows[("r2", "vendor")]
    # layout-insensitive default: renamed-file repo matches too
    assert rows.get(("r3", "vendor")) == rows[("r1", "vendor")]
    # children of matched dirs are pruned (maximality)
    assert ("r1", "vendor/lib") not in rows
    # one-file-differs never matches (its nested self-chain is pruned
    # and re-qualification kills the singleton cluster)
    assert not any(repo == "r4" for repo, _ in rows)


def test_layout_sensitive_excludes_renames(spark):
    files = make_files(spark, BASE)
    dd = duplicate_dirs(files, layout_sensitive=True)
    rows = {(r["repo"], r["dir"]): r["cluster_id"] for r in dd.collect()}
    assert rows[("r1", "vendor")] == rows[("r2", "vendor")]
    assert not any(repo == "r3" for repo, _ in rows)  # rename breaks layout match


def test_vendored_corpus_subtrees(corpus):
    """Every planted vendored subtree is matched across its two repos —
    either as the tree dir itself or as a matched ancestor (maximality
    may promote the match to 'vendor' or the repo root)."""
    files, truth = corpus
    vend_rows = (
        truth.filter(F.col("scenario") == "vendored")
        .select("repo", "path")
        .collect()
    )
    trees = {}
    for r in vend_rows:
        tree = r["path"].split("/")[1]
        trees.setdefault(tree, set()).add(r["repo"])
    dd = duplicate_dirs(files)
    clusters = {}
    for r in dd.collect():
        clusters.setdefault(r["cluster_id"], []).append((r["repo"], r["dir"]))
    found = 0
    for tree, repos in trees.items():
        tree_dir = f"vendor/{tree}"
        ok = any(
            sum(
                1
                for repo, d in members
                if repo in repos and (tree_dir == d or tree_dir.startswith(d + "/") or d == "")
            )
            >= 2
            for members in clusters.values()
        )
        found += ok
    assert found >= len(trees) * 0.99, f"{found}/{len(trees)} vendored trees matched"


def test_prefix_counts(spark):
    files = make_files(spark, BASE)
    pc = {(r["repo"], r["prefix"]): r["n_files"] for r in prefix_counts(files).collect()}
    assert pc[("r1", "vendor")] == 2
    assert pc[("r1", "vendor/lib")] == 2
    # proper prefixes only: the depth-1 readme.md adds no '' prefix
    assert ("r1", "") not in pc and ("r1", "readme.md") not in pc


def test_one_original_per_dir_cluster(spark):
    files = make_files(spark, BASE)
    dd = duplicate_dirs(files)
    bad = (
        dd.groupBy("cluster_id")
        .agg(F.sum(F.col("is_original").cast("int")).alias("n"))
        .filter(F.col("n") != 1)
        .count()
    )
    assert bad == 0


def test_salted_rollup_same_duplicate_dirs(spark, corpus):
    # two-phase salted aggregation (cfg.salt_buckets) must find the
    # SAME duplicate-directory clusters as the single-phase rollup —
    # digests differ in value, not in equality structure
    from rmlint_spark.config import EngineConfig
    from rmlint_spark.operators.treemerge import duplicate_dirs

    files, _ = corpus
    cfg = EngineConfig()
    plain = duplicate_dirs(files, cfg)
    salted = duplicate_dirs(files, cfg, salted=True)
    key = lambda df: sorted((r["repo"], r["dir"], r["n_files"]) for r in df.collect())
    assert key(plain) == key(salted)
    # every row still clustered (>= 2 members per sig)
    assert salted.filter("cluster_size < 2").count() == 0


def _dir_clusters(dd):
    """Result clusters as a sorted list of sorted (repo, dir, n_files)
    member lists — comparable across sig encodings (salted digests
    differ in value, not in equality structure)."""
    clusters = defaultdict(list)
    for r in dd.collect():
        clusters[r["cluster_id"]].append((r["repo"], r["dir"], r["n_files"]))
    return sorted(sorted(c) for c in clusters.values())


def _reference_dir_clusters(rows, layout_sensitive=False):
    """Plain-Python reference of the -D semantics: a dir's identity is
    the multiset of its files' contents (with the path relative to the
    dir when layout_sensitive); dirs whose identity occurs >= 2 times
    match; a matched dir with a matched proper ancestor in its repo is
    pruned; clusters left with < 2 members are dropped."""
    files = {(repo, path, commit): content for repo, path, commit, _, content in rows}
    members = defaultdict(list)
    for (repo, path, _), content in files.items():
        parts = path.split("/")
        for i in range(len(parts)):
            rel = "/".join(parts[i:])
            members[(repo, "/".join(parts[:i]))].append((content, rel) if layout_sensitive else content)
    groups = defaultdict(list)
    for key, m in members.items():
        groups[tuple(sorted(m))].append(key)
    matched = {key for g in groups.values() if len(g) >= 2 for key in g}

    def nested(repo, d):
        parts = d.split("/") if d else []
        return any((repo, "/".join(parts[:i])) in matched for i in range(len(parts)))

    out = []
    for g in groups.values():
        kept = sorted((repo, d, len(members[(repo, d)])) for repo, d in g if not nested(repo, d))
        if len(g) >= 2 and len(kept) >= 2:
            out.append(kept)
    return sorted(out)


def _dirs(spark, rows, **kw):
    return {(r["repo"], r["dir"]) for r in duplicate_dirs(make_files(spark, rows), **kw).collect()}


def test_depth1_dir_under_matched_root_is_pruned(spark):
    # the two repos are identical, so their roots match and the
    # depth-1 'lib' (a matched proper descendant of '') is pruned
    rows = [(r, "lib/a.py", "c", "python", "A") for r in ("r1", "r2")]
    assert _dirs(spark, rows) == {("r1", ""), ("r2", "")}


def test_depth1_dir_under_unmatched_root_is_reported(spark):
    # per-repo readmes keep the roots apart; 'lib' is then maximal —
    # it must not count as its own ancestor
    rows = [(r, "lib/a.py", "c", "python", "A") for r in ("r1", "r2")]
    rows += [("r1", "readme.md", "c", "markdown", "R1"), ("r2", "readme.md", "c", "markdown", "R2")]
    assert _dirs(spark, rows) == {("r1", "lib"), ("r2", "lib")}


def test_matched_grandparent_prunes_past_unmatched_parent(spark):
    # r1 g/p/c == r2 g/c (both {X}) and r1 g == r2 g ({X, Y, Z});
    # r1 g/p ({X, Z}) matches nothing, yet g still prunes g/p/c
    rows = [
        ("r1", "readme.md", "c", "markdown", "R1"),
        ("r2", "readme.md", "c", "markdown", "R2"),
        ("r1", "g/p/c/x.py", "c", "python", "X"),
        ("r1", "g/p/z.py", "c", "python", "Z"),
        ("r1", "g/y.py", "c", "python", "Y"),
        ("r2", "g/c/x.py", "c", "python", "X"),
        ("r2", "g/z.py", "c", "python", "Z"),
        ("r2", "g/y.py", "c", "python", "Y"),
    ]
    assert _dirs(spark, rows) == {("r1", "g"), ("r2", "g")}


@pytest.mark.parametrize("kw", [{}, {"layout_sensitive": True}, {"salted": True}],
                         ids=["plain", "layout_sensitive", "salted"])
def test_corpus_matches_reference(spark, corpus, kw):
    files, _ = corpus
    want = _reference_dir_clusters(
        [tuple(r) for r in files.select("repo", "path", "commit", "lang", "content").collect()],
        layout_sensitive=kw.get("layout_sensitive", False),
    )
    assert want, "the corpus plants duplicate directories"
    assert _dir_clusters(duplicate_dirs(files, **kw)) == want


def _seq(s):
    return [s.apply(i) for i in range(s.size())]


def _plan_nodes(plan, seen=None):
    """Every node of an executed physical plan: descends into adaptive
    query stages and, once per cache entry, into a cached relation's
    own plan; a reused exchange is not descended (it runs once)."""
    seen = set() if seen is None else seen
    name = plan.getClass().getSimpleName()
    if name == "AdaptiveSparkPlanExec":
        kids = [plan.executedPlan()]
    elif name.endswith("QueryStageExec"):
        kids = [plan.plan()]
    elif name == "ReusedExchangeExec":
        kids = []
    elif name == "InMemoryTableScanExec":
        key = plan.relation().cacheBuilder().hashCode()
        kids = [] if key in seen else [plan.relation().cachedPlan()]
        seen.add(key)
    else:
        kids = _seq(plan.children())
    yield plan
    for k in kids:
        yield from _plan_nodes(k, seen)


def _executed_nodes(df):
    from rmlint_spark.operators.exact import pin_scope

    with pin_scope(df.sparkSession):
        df.collect()
    return [(n.getClass().getSimpleName(), n) for n in _plan_nodes(df._jdf.queryExecution().executedPlan())]


def test_duplicate_dirs_plan_derives_rollup_once(spark):
    """The rollup (digest -> explode -> collect_list) is computed once
    per call, and maximality is an equi-join: no nested-loop,
    cartesian or conditioned (non-equi) join."""
    nodes = _executed_nodes(duplicate_dirs(make_files(spark, BASE)))
    final_gathers = [
        n for name, n in nodes
        if "Aggregate" in name and re.search(r"(?<!partial_)collect_list\(", n.simpleString(100))
    ]
    assert len(final_gathers) == 1
    joins = [(name, n) for name, n in nodes if name.endswith("JoinExec") or "Cartesian" in name]
    assert joins
    for name, n in joins:
        assert "NestedLoop" not in name and "Cartesian" not in name, name
        assert not n.condition().isDefined(), n.simpleString(100)


def test_exact_clusters_plan_pins_no_gen1_projection(spark):
    """Funnel qualification is one count window, so the gen-1 (size,
    sig1) projection is read once and never cached."""
    from rmlint_spark.operators.exact import exact_clusters

    nodes = _executed_nodes(exact_clusters(make_files(spark, BASE)))
    cached = [
        {a.name() for a in _seq(n.relation().output())}
        for name, n in nodes if name == "InMemoryTableScanExec"
    ]
    assert not any("sig1" in cols for cols in cached), cached
