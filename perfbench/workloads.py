"""The two workloads: what each generates, runs, times and checks.

``neardup``     near-duplicate detection on short files: ``run_pipeline``
                passes over the whole table (signatures, LSH, SimHash,
                verify, connected components, ranking).
``exact_bulk``  exact duplicates on long files: ``exact_clusters`` plus
                ``duplicate_dirs`` passes. The near-dup layers sit idle
                here, so it predicts "no change" for a near-dup
                optimisation, and the reverse.

Both also fold small arriving batches into ``IncrementalDedup``'s
hash-partitioned stores (streaming/incremental.py, sources/bucketed.py).

A run: generate the input once per seed (untimed, in a child process,
kept for later runs of the seed); set up once, timed from the creation
of the Spark session through the first scan + cache of the input, the
history preload, one warm-up fold and one warm-up pass, whose result the
oracles check; warm timed passes, as many as fill about ``seconds`` on
a shared 4-vCPU host (at least ``min_passes``), each on a freshly
cached input; in a traced run only, a
fixed number of timed folds; one cluster refresh; then every check,
outside the timed regions and after the memory poller (traced runs
only) has stopped.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import subprocess
import sys
import time
from dataclasses import asdict, dataclass, replace

import pyarrow.parquet as pq

from perfbench import gen, oracle
from perfbench.oracle import CheckFailed, require
from perfbench.trace import MB, PeakMemory, Tracer, cached_mb

# -XX:-UsePerfData: no hsperfdata file under /tmp, outside the checkout
DRIVER_JAVA_OPTIONS = "-XX:-UsePerfData"
CLUSTER_COLS = ("repo", "path", "commit", "cluster_id")
DIR_COLS = ("repo", "dir", "cluster_id")


@dataclass(frozen=True)
class Size:
    n_mix: int          # rows of the corpus.py scenario mix
    min_tokens: int
    max_tokens: int
    family: int         # boilerplate family sharing one LSH band bucket
    history: int        # rows preloaded into the incremental stores
    batch: int          # rows per incremental fold
    folds: int          # timed incremental folds in a traced run (a fixed
                        # count, so fold counters repeat exactly across
                        # runs), after one warm-up fold
    # ``seconds`` buys round(seconds / pass_s) timed passes, at least
    # min_passes: a count fixed by the arguments, not by the host's
    # speed, so a faster host or program does not get more passes and
    # with them a median taken further along the JIT warm-up
    pass_s: float = 1.0  # seconds of one warm pass on a shared 4-vCPU host
    min_passes: int = 3


SIZES = {
    "neardup": Size(1600, 40, 400, 2100, history=300, batch=100, folds=4, pass_s=6.0),
    "exact_bulk": Size(1300, 400, 4000, 0, history=200, batch=100, folds=4, pass_s=5.0),
}
TINY = {
    "neardup": Size(400, 40, 200, 60, history=100, batch=20, folds=1, min_passes=1),
    "exact_bulk": Size(300, 100, 400, 0, history=60, batch=20, folds=1, min_passes=1),
}


# ---------------------------------------------------------------- inputs


def generate(seed: int, size: Size, out_dir: str) -> dict:
    rows = gen.mix_rows(size.n_mix, seed, size.min_tokens, size.max_tokens)
    band0_width = 0
    if size.family:
        from rmlint_spark.config import DEFAULT

        family, band0_width = gen.boilerplate_rows(size.family, seed, 30, 90)
        if size.family > DEFAULT.max_bucket_width >= band0_width:
            raise RuntimeError(f"planted band-0 bucket is {band0_width} wide, not over the cap")
        rows += family
    files_dir, truth_path = gen.write_input(rows, out_dir)
    # the incremental part folds a slice of the same table: a history
    # preload, then small batches in a fixed order (the first one is the
    # warm-up fold)
    rows = pq.read_table(files_dir).to_pylist()
    hist = rows[:size.history]
    batches = [
        rows[size.history + i * size.batch: size.history + (i + 1) * size.batch]
        for i in range(size.folds + 1)
    ]
    hist_dir = gen.write_rows(hist, os.path.join(out_dir, "history"))
    batch_dirs = [
        gen.write_rows(b, os.path.join(out_dir, f"batch_{i:03d}")) for i, b in enumerate(batches)
    ]
    return {
        "files": files_dir, "truth": truth_path, "history": hist_dir, "batches": batch_dirs,
        "n_rows": len(rows), "band0_width": band0_width,
    }


def inputs_for(seed: int, size: Size, root: str) -> dict:
    """The input for ``seed`` and ``size``, generated on first use into
    ``root`` and reused by later runs. Generation runs in a child
    process, so its memory never counts toward the run's peak. The
    directory name carries a digest of the generator's code and the
    size, so a changed generator never reuses an old input."""
    h = hashlib.sha256(repr(size).encode())
    for mod in (gen.__file__, __file__):
        with open(mod, "rb") as f:
            h.update(f.read())
    out = os.path.join(root, f"seed{seed}-{h.hexdigest()[:16]}")
    meta = os.path.join(out, "meta.json")
    if not os.path.exists(meta):
        shutil.rmtree(out, ignore_errors=True)
        subprocess.run([sys.executable, "-m", "perfbench.workloads", str(seed), out,
                        json.dumps(asdict(size))], check=True)
    with open(meta) as f:
        return json.load(f)


def _generate_main(seed: str, out: str, size: str) -> None:
    t = time.perf_counter()
    inputs = generate(int(seed), Size(**json.loads(size)), out)
    inputs["gen_s"] = time.perf_counter() - t
    with open(os.path.join(out, "meta.json"), "w") as f:
        json.dump(inputs, f)


# ---------------------------------------------------------------- passes


def _rows(df, *cols) -> list[tuple]:
    """Collect a result's key columns, sorted: the pass's output, small
    enough to hold, and comparable across passes."""
    return sorted(tuple(r) for r in df.select(*cols).collect())


def neardup_pass(files, cfg, tr: Tracer) -> tuple[list, list]:
    """One batch near-dup pass, returning its cluster rows. Untraced it
    is ``run_pipeline(...).near_clusters`` collected. Traced, it calls
    the public functions ``run_pipeline`` calls, in the same order, with
    the same relaxed verify threshold, one span (and job group) per
    layer, and materializes each layer's output at its span boundary."""
    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    from rmlint_spark.operators import exact as EX
    from rmlint_spark.operators.connected_components import connected_components
    from rmlint_spark.operators.lint import KEY
    from rmlint_spark.operators.lsh import (
        candidate_pairs,
        jaccard_verify,
        row_index,
        with_combined_signatures,
    )
    from rmlint_spark.operators.rank import tag_originals
    from rmlint_spark.operators.simhash_op import simhash_candidates
    from rmlint_spark.plans.pipeline import VERIFY_MARGIN, run_pipeline

    if not tr.enabled:
        return _rows(run_pipeline(files, cfg).near_clusters, *CLUSTER_COLS), []

    relaxed = replace(cfg, jaccard_threshold=max(0.0, cfg.jaccard_threshold - VERIFY_MARGIN))
    with tr.span("signatures") as s:
        idx = EX._pin(row_index(files))
        sigs = with_combined_signatures(files, cfg, idx=idx).cache()
        s["docs"] = sigs.count()
    with tr.span("lsh") as s:
        cand, over_mh = candidate_pairs(sigs, relaxed)
        cand = cand.cache()
        s["pairs"] = cand.count()
        s["dropped_buckets"] = over_mh.count()
    with tr.span("simhash") as s:
        sh_cand, over_sh = simhash_candidates(sigs, cfg)
        sh_cand = sh_cand.cache()
        s["pairs"] = sh_cand.count()
        s["dropped_buckets"] = over_sh.count()
    with tr.span("verify") as s:
        union = cand.unionByName(sh_cand.select("fid_a", "fid_b")).dropDuplicates(["fid_a", "fid_b"])
        union = union.cache()
        s["pairs_in"] = union.count()
        verified = jaccard_verify(union, sigs, relaxed.jaccard_threshold)
        edges = EX._pin(verified.select("fid_a", "fid_b"))
        s["edges"] = n_edges = edges.count()
    with tr.span("cc") as s:
        comp = connected_components(edges).cache()
        s["edges"] = n_edges
        s["components"] = comp.select("component").distinct().count()
    with tr.span("rank") as s:
        reps = sigs.select("sha", "fid", "n_rows")
        rep_comp = (
            reps.join(comp, "fid", "left")
            .select(
                "sha",
                F.coalesce("component", F.when(F.col("n_rows") >= 2, F.col("fid"))).alias("cluster_id"),
            )
            .filter(F.col("cluster_id").isNotNull())
        )
        members = idx.join(rep_comp, "sha", "inner")
        near = (
            tag_originals(members, cfg.rank_criteria)
            .withColumn("cluster_size", F.count("*").over(W.partitionBy("cluster_id")))
            .select(*KEY, "fid", "cluster_id", "cluster_size", "rank", "is_original")
        )
        rows = _rows(near, *CLUSTER_COLS)
        s["rows"] = len(rows)
    return rows, []


def exact_pass(files, cfg, tr: Tracer) -> tuple[list, list]:
    """One exact pass: the reference's default mode (``exact_clusters``)
    and its ``-D`` mode (``duplicate_dirs``), each collected."""
    from rmlint_spark.operators.exact import exact_clusters
    from rmlint_spark.operators.treemerge import duplicate_dirs

    with tr.span("exact") as s:
        exact = _rows(exact_clusters(files, cfg), *CLUSTER_COLS)
        s["rows_out"] = len(exact)
    with tr.span("treemerge") as s:
        dirs = _rows(duplicate_dirs(files, cfg), *DIR_COLS)
        s["dirs"] = len(dirs)
    return exact, dirs


def store_stats(store_dir: str) -> dict:
    n, size = 0, 0
    for dirpath, _, filenames in os.walk(store_dir):
        for name in filenames:
            if name.endswith(".parquet"):
                n += 1
                size += os.path.getsize(os.path.join(dirpath, name))
    return {"files": n, "mb": size / MB}


# ---------------------------------------------------------------- checks


def check_batch(workload: str, truth: oracle.Truth, cfg, result_rows, dir_rows) -> dict:
    """Oracle checks of one pass's result. Returns the scores; raises
    CheckFailed on a hard failure."""
    emitted = oracle.emitted_pairs(result_rows)
    exact = truth.exact_pairs()
    missing_exact = exact - emitted
    require(not missing_exact, f"{len(missing_exact)} exact-content pairs not co-clustered")
    if workload == "exact_bulk":
        sc = oracle.score(exact, emitted, lambda p: False)
        require(sc["precision"] == 1.0, "exact cluster joins files with different content")
        sc["dirs"] = check_dirs(truth, dir_rows)
        return sc
    near = truth.near_pairs(cfg.jaccard_threshold)
    confirm = lambda p: oracle.jaccard(truth.shingles(p[0]), truth.shingles(p[1])) >= cfg.jaccard_threshold
    return oracle.score(near | exact, emitted, confirm)


def check_dirs(truth: oracle.Truth, dir_rows) -> int:
    """Every reported duplicate-directory cluster must hold directories
    whose file-content multisets (all files below them) are equal."""
    import hashlib

    below: dict[tuple[str, str], list[str]] = {}
    for (repo, path, _), text in truth.content.items():
        sha = hashlib.sha256(text.encode()).hexdigest()
        parts = path.split("/")[:-1]
        for i in range(len(parts) + 1):
            below.setdefault((repo, "/".join(parts[:i])), []).append(sha)
    clusters: dict[str, list] = {}
    for repo, d, cid in dir_rows:
        clusters.setdefault(cid, []).append(sorted(below[(repo, d)]))
    for cid, members in clusters.items():
        require(len(members) >= 2 and all(m == members[0] for m in members),
                f"dir cluster {cid} differs")
    return len(dir_rows)


def check_incremental(truth: oracle.Truth, rows, folded_keys) -> None:
    """The incremental clusters are exactly the sha256 groups of the
    files folded so far."""
    emitted = oracle.emitted_pairs(rows)
    exact = truth.exact_pairs(folded_keys)
    require(emitted == exact,
            f"incremental: {len(exact - emitted)} pairs missing, {len(emitted - exact)} spurious")


# ---------------------------------------------------------------- run


def run(workload: str, seed: int, seconds: float, trace: bool, out: str, size: Size) -> dict:
    """One benchmark run, writing under ``out``. Returns the run record:
    metrics, samples, spans and check results."""
    from rmlint_spark.config import DEFAULT
    from rmlint_spark.session import get_spark

    inputs = inputs_for(seed, size, os.path.join(out, "inputs", workload))
    work = os.path.join(out, "work", workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    rec: dict = {"workload": workload, "seed": seed, "trace": trace, "n_files": inputs["n_rows"],
                 "gen_s": inputs["gen_s"], "planted_band0_width": inputs["band0_width"],
                 "attempted": 0, "failed": 0, "failures": []}

    # the poller holds the driver's GIL for several ms a poll, so only a
    # traced run, which reports memory, starts it
    mem = PeakMemory().start() if trace else None
    t0 = time.perf_counter()
    spark = get_spark(f"perfbench-{workload}", cores=len(os.sched_getaffinity(0)), extra_conf={
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.driver.extraJavaOptions": (
            f"{DRIVER_JAVA_OPTIONS} -Djava.io.tmpdir={os.path.join(work, 'tmp')}"
        ),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    })
    rec["session_s"] = time.perf_counter() - t0
    tr = Tracer(spark, workload, seed, enabled=trace)
    try:
        want, inc_rows = _measure(spark, tr, rec, t0, seconds, work, size, inputs, DEFAULT)
    finally:
        if mem is not None:
            rec["peak_pss_mb"] = mem.stop()
            rec["pss_at_peak_mb"] = mem.breakdown_mb()
        rec["spans"] = tr.spans
    _check(rec, inputs, want, inc_rows, DEFAULT)
    return rec


def _attempt(rec: dict, what: str, fn):
    """Count one operation; a raised CheckFailed (a failed oracle or
    metamorphic check) is recorded as a failure, anything else
    propagates and ends the run."""
    rec["attempted"] += 1
    try:
        return fn()
    except CheckFailed as exc:
        rec["failed"] += 1
        rec["failures"].append(f"{what}: {exc}")
        return None


def _same(got, want, what: str):
    """Metamorphic check: every pass of a run returns the warm-up's
    rows."""
    def check():
        require(got == want, f"{what}: {len(got[0])}+{len(got[1])} rows differ from the "
                             f"warm-up's {len(want[0])}+{len(want[1])}")
    return check


def _measure(spark, tr, rec, t0, seconds, work, size, inputs, cfg):
    """Everything the run times, from the session created at ``t0`` to
    the cluster refresh. Returns the warm-up pass's result and the
    incremental store's refreshed clusters."""
    from rmlint_spark.operators.exact import pin_scope
    from rmlint_spark.sources.tables import read_files_table
    from rmlint_spark.streaming.incremental import IncrementalDedup

    workload = rec["workload"]
    untraced = Tracer(spark, workload, rec["seed"], enabled=False)

    def fresh_input(span: Tracer):
        """Drop every cached relation (a pass must not reuse the
        previous pass's cached intermediates), then scan and cache the
        input table."""
        spark.catalog.clearCache()
        with span.span("sources") as s:
            df = read_files_table(spark, inputs["files"]).cache()
            s["rows"] = df.count()
            s["mb"] = cached_mb(spark)
        return df

    pass_fn = neardup_pass if workload == "neardup" else exact_pass

    def run_pass(df, tr_):
        """One pass on a cached input; only the pass is timed."""
        t = time.perf_counter()
        with pin_scope(spark):
            got = pass_fn(df, cfg, tr_)
        return got, time.perf_counter() - t

    # ---- set-up, timed from session creation: the first scan + cache,
    # the history preload, one warm-up fold (the first to read an
    # existing store), and one warm-up pass, the same as a timed one;
    # the oracles check the warm-up pass's result, and every later pass
    # must return it unchanged
    t = time.perf_counter()
    df = fresh_input(tr)
    rec["scan_s"] = time.perf_counter() - t
    inc = IncrementalDedup(os.path.join(work, "store"))
    t = time.perf_counter()
    with tr.span("preload"):
        inc.process_batch(read_files_table(spark, inputs["history"]), 0)
    rec["preload_s"] = time.perf_counter() - t
    t = time.perf_counter()
    inc.process_batch(read_files_table(spark, inputs["batches"][0]), 1)
    rec["warmup_fold_s"] = time.perf_counter() - t
    want, rec["warmup_s"] = run_pass(df, untraced)
    rec["setup_s"] = time.perf_counter() - t0

    # ---- timed passes, each on a freshly cached input; a traced run
    # times one untraced and one traced pass, for the per-layer spans
    # and the overhead ratio
    rec["pass_s"] = []
    n_passes = 1 if tr.enabled else max(size.min_passes, round(seconds / size.pass_s))
    while len(rec["pass_s"]) < n_passes:
        got, dt = run_pass(fresh_input(untraced), untraced)
        rec["pass_s"].append(dt)
        _attempt(rec, f"pass {len(rec['pass_s'])}", _same(got, want, "pass"))
    if tr.enabled:
        df = fresh_input(untraced)
        with tr.span("pass"):
            got, dt = run_pass(df, tr)
        rec["traced_pass_s"] = [dt]
        _attempt(rec, "traced pass", _same(got, want, "traced pass"))

    # ---- a traced run's timed incremental folds (per-layer only), then
    # one cluster refresh
    rec["fold_s"] = []
    for i in range(1, (size.folds if tr.enabled else 0) + 1):
        batch = read_files_table(spark, inputs["batches"][i])
        t = time.perf_counter()
        with tr.span("fold"):
            _attempt(rec, f"fold {i}", lambda: inc.process_batch(batch, i + 1))
        rec["fold_s"].append(time.perf_counter() - t)
    t = time.perf_counter()
    with tr.span("refresh"):
        inc_rows = _attempt(rec, "refresh", lambda: [
            tuple(r) for r in inc.current_clusters(spark)
            .select("repo", "path", "commit", "cluster_id").collect()
        ])
    rec["refresh_s"] = time.perf_counter() - t
    rec["batches_folded"] = 1 + len(rec["fold_s"])
    rec["store"] = store_stats(inc.store_dir)
    spark.catalog.clearCache()
    return want, inc_rows


def _check(rec, inputs, want, inc_rows, cfg) -> None:
    """The oracle checks, outside every timed region."""
    t = time.perf_counter()
    truth = oracle.Truth(inputs["files"], inputs["truth"])
    rec["scores"] = _attempt(
        rec, "oracle", lambda: check_batch(rec["workload"], truth, cfg, *want)) or {}
    keys = {
        (r["repo"], r["path"], r["commit"])
        for d in [inputs["history"]] + inputs["batches"][:rec["batches_folded"]]
        for r in pq.read_table(d, columns=["repo", "path", "commit"]).to_pylist()
    }
    _attempt(rec, "incremental oracle", lambda: check_incremental(truth, inc_rows or [], keys))
    rec["check_s"] = time.perf_counter() - t

if __name__ == "__main__":
    _generate_main(*sys.argv[1:])
