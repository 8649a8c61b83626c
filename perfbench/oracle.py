"""Independent oracles. Nothing here calls the engine.

- Exact pairs: files grouped by ``hashlib.sha256`` of their content.
- Near pairs: planted pairs (same planted group) whose true 5-token
  shingle Jaccard is at least the threshold — the recall definition of
  the repo's near-dup tests.
- Emitted pairs: every pair of keys that share a cluster id.
"""

from __future__ import annotations

import hashlib
from itertools import combinations

import pyarrow.parquet as pq

Key = tuple[str, str, str]


class CheckFailed(Exception):
    """An output the oracle or a metamorphic check rejects."""


def require(cond: bool, msg: str) -> None:
    if not cond:
        raise CheckFailed(msg)

# an emitted cluster this wide would make pair scoring quadratic; no
# planted structure comes near it, so it is an error in itself
MAX_CLUSTER = 5000


def shingle_set(text: str, k: int = 5) -> set[str]:
    toks = text.split()
    if len(toks) < k:
        return {" ".join(toks)} if toks else set()
    return {" ".join(toks[i:i + k]) for i in range(len(toks) - k + 1)}


def jaccard(a: set, b: set) -> float:
    return len(a & b) / len(a | b) if a and b else 0.0


class Truth:
    """The generated table and its planted structure, keyed by
    (repo, path, commit); path doubles collapse onto one key."""

    def __init__(self, files_dir: str, truth_path: str):
        files = pq.read_table(files_dir).to_pylist()
        truth = pq.read_table(truth_path).to_pylist()
        self.content: dict[Key, str] = {}
        for r in files:
            self.content[(r["repo"], r["path"], r["commit"])] = r["content"]
        self.groups: dict[int, list[Key]] = {}
        for r in truth:
            if r["near_group"] is not None:
                self.groups.setdefault(r["near_group"], []).append(
                    (r["repo"], r["path"], r["commit"])
                )
        self._shingles: dict[Key, set] = {}

    def shingles(self, key: Key) -> set:
        if key not in self._shingles:
            self._shingles[key] = shingle_set(self.content[key])
        return self._shingles[key]

    def exact_pairs(self, keys=None) -> set[tuple[Key, Key]]:
        by_sha: dict[str, list[Key]] = {}
        for key in keys if keys is not None else self.content:
            text = self.content[key]
            if text:
                by_sha.setdefault(hashlib.sha256(text.encode()).hexdigest(), []).append(key)
        return {p for ks in by_sha.values() for p in combinations(sorted(ks), 2)}

    def near_pairs(self, threshold: float, keys=None) -> set[tuple[Key, Key]]:
        keep = set(keys) if keys is not None else None
        out = set()
        for ks in self.groups.values():
            ks = sorted({k for k in ks if keep is None or k in keep})
            for x, y in combinations(ks, 2):
                if jaccard(self.shingles(x), self.shingles(y)) >= threshold:
                    out.add((x, y))
        return out


def emitted_pairs(rows) -> set[tuple[Key, Key]]:
    """``rows``: (repo, path, commit, cluster_id) tuples."""
    by_cluster: dict[str, set[Key]] = {}
    for repo, path, commit, cid in rows:
        by_cluster.setdefault(cid, set()).add((repo, path, commit))
    widest = max((len(ks) for ks in by_cluster.values()), default=0)
    require(widest <= MAX_CLUSTER, f"emitted cluster of {widest} files")
    return {p for ks in by_cluster.values() for p in combinations(sorted(ks), 2)}


def score(truth_pairs: set, emitted: set, confirm) -> dict:
    """Recall over the oracle's pairs; precision over emitted pairs,
    each confirmed by ``confirm(pair)``."""
    hit = len(truth_pairs & emitted)
    confirmed = sum(1 for p in emitted if p in truth_pairs or confirm(p))
    return {
        "truth_pairs": len(truth_pairs),
        "emitted_pairs": len(emitted),
        "recall": hit / len(truth_pairs) if truth_pairs else 1.0,
        "precision": confirmed / len(emitted) if emitted else 1.0,
    }
