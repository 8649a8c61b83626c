"""Near-dup layer: MinHash/SimHash signatures, LSH, CC, pipeline recall.

Recall oracle: planted truth pairs with jaccard_band >= threshold must
appear in the same emitted cluster (north rule: dup-pair recall >= 0.99
at the pinned signature config).
"""

from __future__ import annotations

from collections import Counter
from itertools import combinations

import numpy as np
import pytest
from pyspark.sql import functions as F

from rmlint_spark.config import EngineConfig, SignatureConfig
from rmlint_spark.functions.minhash import minhash_batch
from rmlint_spark.functions.simhash import simhash_batch
from rmlint_spark.operators.connected_components import connected_components
from rmlint_spark.operators.lsh import verified_pairs, with_signatures
from rmlint_spark.plans.pipeline import run_pipeline

CFG = EngineConfig(sig=SignatureConfig(prefix_len=64), jaccard_threshold=0.7)


def test_minhash_deterministic_and_sensitive():
    toks = [f"ident{i}" for i in range(200)]
    a = " ".join(toks)
    b = a  # identical
    edited = list(toks)
    edited[100] = "changed"  # one token -> ~5/196 shingles change
    c = " ".join(edited)
    d = "completely different tokens entirely unrelated words here " * 20
    s = minhash_batch([a, b, c, d], k=5, num_perm=128, seed=42)
    s2 = minhash_batch([a], k=5, num_perm=128, seed=42)
    assert (s[0] == s[1]).all()
    assert (s[0] == s2[0]).all(), "batch-position independence"
    est_ac = (s[0] == s[2]).mean()
    est_ad = (s[0] == s[3]).mean()
    assert est_ac > 0.8  # true jaccard ~ (196-5)/(196+5) ~ 0.95
    assert est_ad < 0.1


def test_arrow_tokenizer_matches_python_split():
    # the Arrow fast path must be bit-identical to str.split semantics
    # (edge whitespace, tabs/newlines, empty and None docs)
    from rmlint_spark.functions.minhash import (
        _token_hashes_flat,
        _token_hashes_flat_py,
    )

    texts = ["", "  a  b ", "one two\tthree\nfour", None, "x", " \n\t ",
             "word " * 50]
    h1, c1 = _token_hashes_flat(texts)
    h2, c2 = _token_hashes_flat_py(texts)
    assert (c1 == c2).all()
    assert (h1 == h2).all()


def test_minhash_empty_doc_sentinel():
    s = minhash_batch(["", "word", None], k=5, num_perm=16, seed=1)
    assert (s[0] == -1).all()
    assert (s[1] != -1).any()
    assert (s[2] == -1).all()


def test_minhash_jaccard_estimator_accuracy():
    rng = np.random.RandomState(0)
    vocab = [f"tok{i}" for i in range(500)]
    base = [vocab[i] for i in rng.choice(500, 300)]
    # replace 5% of tokens -> high jaccard
    edited = list(base)
    for p in rng.choice(300, 15, replace=False):
        edited[p] = "REPL" + str(p)
    a, b = " ".join(base), " ".join(edited)
    s = minhash_batch([a, b], k=5, num_perm=128, seed=42)
    est = (s[0] == s[1]).mean()
    # true shingle jaccard
    sh = lambda t: {" ".join(t.split()[i : i + 5]) for i in range(len(t.split()) - 4)}
    true_j = len(sh(a) & sh(b)) / len(sh(a) | sh(b))
    assert abs(est - true_j) < 0.15


def test_simhash_close_for_near_docs():
    a = "def compute value for table index batch merge " * 30
    c = a.replace("batch", "chunk")
    d = "entirely unrelated words appear within this document " * 30
    s = simhash_batch([a, c, d])
    ham = lambda x, y: bin((int(x) ^ int(y)) & 0xFFFFFFFFFFFFFFFF).count("1")
    assert ham(s[0], s[1]) <= 10
    assert ham(s[0], s[2]) > 15


def test_connected_components_chain_and_islands(spark):
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("d", "e"), ("x", "y"), ("y", "z"), ("z", "x")],
        ["fid_a", "fid_b"],
    )
    comp = {r["fid"]: r["component"] for r in connected_components(edges).collect()}
    assert comp["a"] == comp["b"] == comp["c"] == "a"
    assert comp["d"] == comp["e"] == "d"
    assert comp["x"] == comp["y"] == comp["z"] == "x"
    assert comp["a"] != comp["d"]


def test_cc_deterministic_across_partitioning(spark):
    rows = [(f"n{i:03d}", f"n{i+1:03d}") for i in range(0, 60, 2)]
    e1 = spark.createDataFrame(rows, ["fid_a", "fid_b"])
    e2 = e1.repartition(13)
    c1 = sorted(map(tuple, connected_components(e1).collect()))
    c2 = sorted(map(tuple, connected_components(e2).collect()))
    assert c1 == c2


@pytest.fixture(scope="module")
def pipeline_result(corpus):
    files, _ = corpus
    return run_pipeline(files, CFG)


def shingle_set(text, k=5):
    toks = text.split()
    if len(toks) < k:
        return {" ".join(toks)} if toks else set()
    return {" ".join(toks[i : i + k]) for i in range(len(toks) - k + 1)}


def truth_pairs(files, truth, min_grade):
    """Planted (key,key) pairs whose TRUE token-shingle Jaccard (the
    brute-force oracle at the pinned shingle config, independent of
    the engine) is >= min_grade."""
    joined = files.join(truth, ["repo", "path", "commit"]).filter(
        F.col("near_group_id").isNotNull()
    )
    rows = joined.select("repo", "path", "commit", "near_group_id", "content").collect()
    by_group = {}
    content = {}
    for r in rows:
        key = (r["repo"], r["path"], r["commit"])
        by_group.setdefault(r["near_group_id"], []).append(key)
        content[key] = r["content"]
    pairs = set()
    for ks in by_group.values():
        for x, y in combinations(sorted(set(ks)), 2):
            sx, sy = shingle_set(content[x]), shingle_set(content[y])
            if not sx or not sy:
                continue
            j = len(sx & sy) / len(sx | sy)
            if j >= min_grade:
                pairs.add((x, y))
    return pairs


def emitted_pairs(near_clusters):
    rows = near_clusters.select("repo", "path", "commit", "cluster_id").collect()
    by_cluster = {}
    for r in rows:
        by_cluster.setdefault(r["cluster_id"], []).append((r["repo"], r["path"], r["commit"]))
    pairs = set()
    for ks in by_cluster.values():
        for x, y in combinations(sorted(set(ks)), 2):
            pairs.add((x, y))
    return pairs


def test_pipeline_recall_near_dups(corpus, pipeline_result):
    files, truth = corpus
    want = truth_pairs(files, truth, CFG.jaccard_threshold)
    got = emitted_pairs(pipeline_result.near_clusters)
    missing = want - got
    recall = 1 - len(missing) / len(want)
    assert len(want) > 100
    assert recall >= 0.99, f"recall {recall:.4f}, missing e.g. {list(missing)[:3]}"


def test_pipeline_exact_pairs_always_clustered(corpus, pipeline_result):
    files, truth = corpus
    want = truth_pairs(files, truth, 0.999)  # exact groups only
    got = emitted_pairs(pipeline_result.near_clusters)
    assert want <= got


def test_collision_bucket_does_not_explode(corpus, pipeline_result):
    """The 100+ same-length distinct files must not end up pairwise
    connected (precision guard on the pathological bucket)."""
    files, truth = corpus
    coll = {
        (r["repo"], r["path"], r["commit"])
        for r in truth.filter(F.col("scenario") == "collision").collect()
    }
    got = emitted_pairs(pipeline_result.near_clusters)
    bad = [p for p in got if p[0] in coll and p[1] in coll]
    # distinct random token streams: none should exceed 0.6 jaccard
    assert len(bad) == 0, f"{len(bad)} collision-bucket pairs clustered"


def test_exact_funnel_planned_only_on_read(corpus, monkeypatch):
    """The near-dup path never plans the exact funnel; the first read
    of ``exact_clusters`` plans it once, and later reads reuse it."""
    from rmlint_spark.operators import exact as EX

    direct = EX.exact_clusters
    calls = []

    def counting(*args, **kwargs):
        calls.append(args)
        return direct(*args, **kwargs)

    monkeypatch.setattr(EX, "exact_clusters", counting)
    files, _ = corpus
    res = run_pipeline(files, CFG)
    assert len(res.near_clusters.collect()) > 0
    assert calls == []
    first = res.exact_clusters
    assert res.exact_clusters is first
    assert len(calls) == 1
    got = Counter(map(tuple, first.collect()))
    assert len(got) > 0
    assert got == Counter(map(tuple, direct(files, CFG).collect()))


def test_one_original_per_near_cluster(pipeline_result):
    bad = (
        pipeline_result.near_clusters.groupBy("cluster_id")
        .agg(F.sum(F.col("is_original").cast("int")).alias("n"))
        .filter(F.col("n") != 1)
        .count()
    )
    assert bad == 0


def test_cc_long_chain_pointer_jumping(spark):
    # a 40-hop path exceeds plain min-propagation's reach within
    # max_iter=25; the pointer-jumping fallback must converge it
    from rmlint_spark.operators.connected_components import connected_components

    edges = spark.createDataFrame(
        [(f"n{i:03d}", f"n{i + 1:03d}") for i in range(40)], ["fid_a", "fid_b"]
    )
    out = connected_components(edges, max_iter=25)
    rows = out.collect()
    assert len(rows) == 41
    assert {r["component"] for r in rows} == {"n000"}


def test_cc_raises_on_true_nonconvergence(spark):
    import pytest

    from rmlint_spark.operators.connected_components import connected_components

    edges = spark.createDataFrame(
        [(f"n{i:03d}", f"n{i + 1:03d}") for i in range(40)], ["fid_a", "fid_b"]
    )
    # jumping disabled and too few rounds -> must refuse, not lie
    with pytest.raises(RuntimeError):
        connected_components(edges, max_iter=5, jump_after=999)


def test_simhash_shingle_features_kill_collision_pileup():
    """VERDICT r3 #3 (kill the same-vocab pileup at the source): token
    features make collision-class docs (distinct content, one shared
    small vocabulary) land thousands-deep in simhash block buckets;
    shingle features scatter them. Measured block-bucket pair mass must
    drop by orders of magnitude while planted near-dup pairs keep
    colliding (their shingle profiles still agree)."""
    from collections import Counter

    from rmlint_spark.corpus import _gen_one

    texts = [_gen_one("collision", gid, 0, 80) for gid in range(800)]

    def pair_mass(sims):
        widths = Counter()
        for b in range(4):
            vals = (sims.astype(np.uint64) >> np.uint64(b * 16)) & np.uint64(0xFFFF)
            widths.update((b, int(v)) for v in vals.tolist())
        return sum(c * (c - 1) // 2 for c in widths.values())

    mass_tok = pair_mass(simhash_batch(texts, features="token"))
    mass_sh = pair_mass(simhash_batch(texts, features="shingle"))
    assert mass_tok > 100 * max(mass_sh, 1), (mass_tok, mass_sh)

    # locality still holds under shingle features: a 1-token edit stays
    # FAR closer than unrelated docs (E[hamming] ~ 64 * P(|vote margin|
    # < sqrt(changed features)) ~ 6 at 600 tokens vs ~32 random). The
    # <=3 gate therefore admits only shingle-multiset-near-identical
    # docs — the 0.7-0.95 Jaccard band is the LSH layer's job (pipeline
    # recall test covers the union).
    toks = [f"w{i}" for i in range(600)]
    edited = list(toks)
    edited[300] = "CHANGED"
    other = [f"z{i}" for i in range(600)]
    a, b, c = simhash_batch(
        [" ".join(toks), " ".join(edited), " ".join(other)], features="shingle"
    )
    close = bin(int(a) ^ int(b)).count("1")
    far = bin(int(a) ^ int(c)).count("1")
    assert close <= 12 < far - 8, (close, far)
    # and an identical-multiset pair is exactly 0 apart
    a2, b2 = simhash_batch([" ".join(toks), " ".join(toks)], features="shingle")
    assert int(a2) == int(b2)


def test_simhash_candidates_ab_on_collision_corpus(spark):
    """Spark-level A/B of the same effect: post-hamming simhash
    candidate pairs on a collision-class corpus, token vs shingle
    features. Distinct-content docs must stop qualifying as candidates
    under shingle features (hamming gate does the rest)."""
    from dataclasses import replace

    from rmlint_spark.corpus import _gen_one
    from rmlint_spark.operators.simhash_op import simhash_candidates, with_simhash

    rows = [
        ("r1", f"col_{gid}.py", "c1", "py", _gen_one("collision", gid, 0, 80))
        for gid in range(400)
    ]
    files = spark.createDataFrame(
        rows, ["repo", "path", "commit", "lang", "content"]
    )
    n_tok, n_sh = {}, {}
    for label, feats in (("token", "token"), ("shingle", "shingle")):
        cfg = EngineConfig(
            sig=SignatureConfig(simhash_features=feats),
            simhash_max_bucket_width=100_000,  # uncapped: measure the raw pileup
            simhash_escalate=False,
        )
        cand, _ = simhash_candidates(with_simhash(files, cfg), cfg)
        (n_tok if label == "token" else n_sh)["n"] = cand.count()
    assert n_sh["n"] <= n_tok["n"] / 50, (n_tok, n_sh)


def test_stop_shingles_boilerplate_ab(spark):
    """Stop-shingle df filter (VERDICT r3 #3): docs sharing a large
    boilerplate header flood LSH bands with candidates that all die at
    the Jaccard gate. With the filter on, the header's shingles are
    dropped before the minima, candidate count collapses, and the
    TRUE near-dup pairs (similar tails) are still found — recall
    preserved at the test threshold."""
    from dataclasses import replace

    from rmlint_spark.operators.lsh import candidate_pairs, jaccard_verify

    rng = np.random.RandomState(3)
    header = " ".join(f"lic{i}" for i in range(120))  # shared boilerplate
    rows, want = [], set()
    for d in range(150):
        tail = [f"u{d}w{i}" for i in range(120)]
        rows.append(("r", f"doc{d}.py", "c1", "py", header + " " + " ".join(tail)))
        if d % 5 == 0:  # plant a near-dup of this doc's tail
            t2 = list(tail)
            t2[rng.randint(len(t2))] = "EDITED"
            rows.append(("r", f"doc{d}_near.py", "c1", "py", header + " " + " ".join(t2)))
            want.add((f"doc{d}.py", f"doc{d}_near.py"))
    files = spark.createDataFrame(rows, ["repo", "path", "commit", "lang", "content"])

    def run(stop_df):
        cfg = EngineConfig(
            sig=SignatureConfig(stop_shingle_df=stop_df, stop_shingle_sample=1000)
        )
        sigs = with_signatures(files, cfg).cache()
        pairs, _ = candidate_pairs(sigs, cfg)
        n_cand = pairs.count()
        fids = {r["fid"]: r["path"] for r in sigs.select("fid", "path").collect()}
        found = {
            tuple(sorted((fids[r["fid_a"]], fids[r["fid_b"]])))
            for r in jaccard_verify(pairs, sigs, 0.6).collect()
        }
        sigs.unpersist()
        return n_cand, found

    n_off, found_off = run(0.0)
    n_on, found_on = run(0.5)
    # candidate pileup collapses...
    assert n_on <= n_off / 10, (n_off, n_on)
    # ...and every planted tail-near pair survives in BOTH modes
    want_sorted = {tuple(sorted(p)) for p in want}
    assert want_sorted <= found_off
    assert want_sorted <= found_on


def test_minhash_blocked_loop_matches_naive_reference():
    """The cache-blocked permutation loop (r5 s11: all permutations
    over one ~1 MiB block while it is cache-hot, block-spanning
    segments folded with np.minimum) is bit-identical to the naive
    per-doc definition — including docs that straddle block
    boundaries, exact-boundary lengths, singletons and empties."""
    import numpy as np

    from rmlint_spark.functions.minhash import (
        minhash_from_shingles,
        perm_params,
    )

    def naive(per_doc, num_perm, seed):
        a, b = perm_params(num_perm, seed)
        out = np.full((len(per_doc), num_perm), -1, dtype=np.int64)
        for d, h in enumerate(per_doc):
            if len(h) == 0:
                continue
            for i in range(num_perm):
                out[d, i] = int(((a[i] * h + b[i]) >> np.uint64(32)).min())
        return out

    rng = np.random.RandomState(7)
    block = 1 << 17
    cases = [
        [np.array([], dtype=np.uint64)],
        [np.arange(5, dtype=np.uint64)],
        [np.array([], dtype=np.uint64), np.arange(3, dtype=np.uint64),
         np.array([], dtype=np.uint64)],
        # one doc spanning multiple blocks + boundary-exact lengths
        [rng.randint(0, 2 ** 32, size=n).astype(np.uint64)
         for n in (1, block - 1, block, block + 1, 2, 0, 9)],
        [rng.randint(0, 2 ** 32, size=3 * block + 17).astype(np.uint64),
         np.array([7], dtype=np.uint64)],
    ]
    for j, per_doc in enumerate(cases):
        got = minhash_from_shingles(per_doc, 16, 42)
        want = naive(per_doc, 16, 42)
        assert np.array_equal(got, want), f"case {j} diverged"


def test_estimated_jaccard_matches_numpy_bit_for_bit(spark):
    """The JVM estimator returns numpy's fraction of equal slots,
    double for double, on identical, disjoint and partly shared rows;
    a sentinel (all -1) on either side scores 0.0."""
    from rmlint_spark.functions.minhash import estimated_jaccard

    rng = np.random.RandomState(5)
    n, p = 300, 128
    a = rng.randint(0, 2 ** 32, size=(n, p)).astype(np.int64)
    b = a.copy()
    swap = rng.rand(n, p) < rng.rand(n, 1)  # per-row share of changed slots
    b[swap] = rng.randint(0, 2 ** 32, size=int(swap.sum()))
    b[0] = a[0]  # identical
    b[1] = a[1] ^ 1  # disjoint
    a[2] = -1
    b[3] = -1
    a[4] = b[4] = -1
    want = (a == b).mean(axis=1)
    want[(a[:, 0] == -1) | (b[:, 0] == -1)] = 0.0
    assert want[0] == 1.0 and want[1] == 0.0 and ((0 < want) & (want < 1)).sum() > n // 2
    df = spark.createDataFrame(
        [(i, a[i].tolist(), b[i].tolist()) for i in range(n)],
        "i int, a array<long>, b array<long>",
    )
    got = dict(df.select("i", estimated_jaccard(F.col("a"), F.col("b"))).collect())
    assert [got[i] for i in range(n)] == want.tolist()


def test_verify_prune_matches_unpruned(spark, corpus, monkeypatch):
    """``jaccard_verify`` semi-joins the signatures down to the paired
    fids only from ``VERIFY_PRUNE_MIN`` (500k) candidate pairs, which
    no test corpus, oracle corpus or benchmark workload reaches. With
    the constant at 0 the pruned branch runs, and it must verify the
    same (fid_a, fid_b, est_jaccard) rows as the unpruned one."""
    from rmlint_spark.operators import lsh
    from rmlint_spark.operators.exact import _pin, pin_scope

    files, _ = corpus

    def run():
        df = lsh.jaccard_verify(pairs, sigs, CFG.jaccard_threshold)
        plan = df._jdf.queryExecution().analyzed().toString()
        return sorted(map(tuple, df.collect())), "LeftSemi" in plan

    with pin_scope(spark):
        sigs = _pin(with_signatures(files, CFG))
        pairs, _ = lsh.candidate_pairs(sigs, CFG)
        plain, plain_pruned = run()
        monkeypatch.setattr(lsh, "VERIFY_PRUNE_MIN", 0)
        pruned, pruned_pruned = run()
    assert not plain_pruned and pruned_pruned
    assert plain and pruned == plain


def test_token_free_files_do_not_near_cluster(spark):
    """Whitespace-only files have no shingles, so each gets the
    sentinel signature and SimHash 0, which puts them all in one
    SimHash block. Verify must reject those pairs; identical
    token-free files still cluster through their sha."""
    texts = ("   \n", "\t\t\n\n", " ", "\n\n", "\n\n")
    rows = [("r", f"{p}.txt", "c", "txt", t) for p, t in zip("abcde", texts)]
    files = spark.createDataFrame(rows, ["repo", "path", "commit", "lang", "content"])
    near = run_pipeline(files, CFG).near_clusters.collect()
    assert sorted(r["path"] for r in near) == ["d.txt", "e.txt"]
    assert {r["cluster_size"] for r in near} == {2}
