"""From a run record to the printed result line.

End-to-end metrics come from the untraced passes; per-layer metrics
from the spans of a traced run (see workloads.neardup_pass and
workloads.exact_pass). A layer a workload never calls reports 0.
README.md maps each layer to the end-to-end metric it should move.
"""

from __future__ import annotations

import statistics

END_TO_END = {
    "setup_s": "s",
    "job_s": "s",
    "files_per_s": "1/s",
    "dup_pair_recall": "ratio",
    "edge_precision": "ratio",
}

# per-layer metric -> (unit, span name, span field, how spans combine)
PER_LAYER = {
    "sources.read_s": ("s", "sources", "s", "median"),
    "sources.rows": ("count", "sources", "rows", "last"),
    "sources.mb": ("MB", "sources", "mb", "last"),
    "exact.s": ("s", "exact", "s", "median"),
    "exact.rows_out": ("count", "exact", "rows_out", "last"),
    "exact.jobs": ("count", "exact", "jobs", "last"),
    "exact.shuffle_mb": ("MB", "exact", "shuffle_mb", "last"),
    "treemerge.s": ("s", "treemerge", "s", "median"),
    "treemerge.dirs": ("count", "treemerge", "dirs", "last"),
    "treemerge.shuffle_mb": ("MB", "treemerge", "shuffle_mb", "last"),
    "signatures.s": ("s", "signatures", "s", "median"),
    "signatures.docs": ("count", "signatures", "docs", "last"),
    "signatures.task_s": ("s", "signatures", "task_s", "median"),
    "lsh.s": ("s", "lsh", "s", "median"),
    "lsh.pairs": ("count", "lsh", "pairs", "last"),
    "lsh.dropped_buckets": ("count", "lsh", "dropped_buckets", "last"),
    "simhash.s": ("s", "simhash", "s", "median"),
    "simhash.pairs": ("count", "simhash", "pairs", "last"),
    "simhash.dropped_buckets": ("count", "simhash", "dropped_buckets", "last"),
    "verify.s": ("s", "verify", "s", "median"),
    "verify.pairs_in": ("count", "verify", "pairs_in", "last"),
    "verify.edges": ("count", "verify", "edges", "last"),
    "cc.s": ("s", "cc", "s", "median"),
    "cc.edges": ("count", "cc", "edges", "last"),
    "cc.components": ("count", "cc", "components", "last"),
    "cc.jobs": ("count", "cc", "jobs", "last"),
    "rank.s": ("s", "rank", "s", "median"),
    "rank.rows": ("count", "rank", "rows", "last"),
    "fold.s": ("s", "fold", "s", "median"),
    "fold.jobs": ("count", "fold", "jobs", "median"),
    "fold.tasks": ("count", "fold", "tasks", "median"),
    "preload.s": ("s", "preload", "s", "median"),
    "refresh.s": ("s", "refresh", "s", "last"),
}
DERIVED = {
    "verify.yield": "ratio",
    "fold.growth": "ratio",
    "store.files": "count",
    "store.mb": "MB",
    "spark.jobs": "count",
    "spark.tasks": "count",
    "spark.shuffle_mb": "MB",
    "spark.spill_mb": "MB",
    "spark.gc_s": "s",
    "trace.overhead": "ratio",
    "memory.peak_pss_mb": "MB",
}
PER_LAYER_UNITS = {**{k: v[0] for k, v in PER_LAYER.items()}, **DERIVED}

def _median(xs):
    return statistics.median(xs) if xs else 0.0


def _layer_value(spans: list[dict], name: str, field: str, how: str) -> float:
    vals = [s[field] for s in spans if s["name"] == name and field in s]
    if not vals:
        return 0
    return vals[-1] if how == "last" else _median(vals)


def per_layer(rec: dict) -> dict[str, float]:
    spans = rec["spans"]
    out = {k: _layer_value(spans, span, field, how) for k, (_, span, field, how) in PER_LAYER.items()}
    out["verify.yield"] = out["verify.edges"] / out["verify.pairs_in"] if out["verify.pairs_in"] else 0.0
    folds = [s["s"] for s in spans if s["name"] == "fold"]
    q = max(1, len(folds) // 4)
    out["fold.growth"] = _median(folds[-q:]) / _median(folds[:q]) if folds else 0.0
    out["store.files"] = rec["store"]["files"]
    out["store.mb"] = rec["store"]["mb"]
    # one traced pass: the first top-level "pass" span and its children
    first = next(s for s in spans if s["name"] == "pass")
    in_pass = [s for s in spans if s["parent"] == first["id"]] + [first]
    for key, field in (("jobs", "jobs"), ("tasks", "tasks"), ("shuffle_mb", "shuffle_mb"),
                       ("spill_mb", "spill_mb"), ("gc_s", "gc_s")):
        out[f"spark.{key}"] = sum(s[field] for s in in_pass)
    out["trace.overhead"] = rec["traced_pass_s"][0] / _median(rec["pass_s"])
    out["memory.peak_pss_mb"] = rec["peak_pss_mb"]
    return out


def end_to_end(rec: dict) -> dict[str, float]:
    job_s = _median(rec["pass_s"])
    return {
        "setup_s": rec["setup_s"],
        "job_s": job_s,
        "files_per_s": rec["n_files"] / job_s,
        "dup_pair_recall": rec["scores"].get("recall", 0.0),
        "edge_precision": rec["scores"].get("precision", 0.0),
    }


def result(rec: dict) -> dict:
    if rec["trace"]:
        values, units = per_layer(rec), PER_LAYER_UNITS
    else:
        values, units = end_to_end(rec), END_TO_END
    return {
        "correct": rec["failed"] == 0,
        "attempted": rec["attempted"],
        "failed": rec["failed"],
        "metrics": {k: {"value": values[k], "unit": units[k]} for k in units},
    }
