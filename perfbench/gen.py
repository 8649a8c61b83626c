"""Seeded input generation for the benchmark workloads.

The scenario mix follows ``rmlint_spark.corpus.generate_corpus`` row for
row (exact clone groups, graded near-dup groups, near-misses, the
same-length collision bucket, vendored subtrees, empties, path doubles,
skewed filler), and texts come from the corpus helper ``_gen_one``. The
difference is the seed: ``generate_corpus`` derives every text from the
row id alone, so its seed only moves repos and paths. Here each content
key is mixed with the seed, so two seeds give different texts while the
scenario proportions (by row position) and the near-dup grade of every
group (``key % 4``) stay the same.

Inputs are plain Python/numpy and are written as parquet with pyarrow:
no Spark job runs during generation, and the engine only ever sees the
table, read back through ``read_files_table``. The planted structure
(``scenario``, ``near_group``) goes to a separate truth file the engine
never reads.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from rmlint_spark.corpus import LANGS, VOCAB, _gen_one

_M64 = (1 << 64) - 1


def _mix(*keys: int) -> int:
    """splitmix64 over a tuple of ints: a 62-bit key, stable across
    runs and platforms (unlike ``hash``)."""
    x = 0x9E3779B97F4A7C15
    for k in keys:
        x = (x ^ (int(k) & _M64)) & _M64
        x = (x + 0x9E3779B97F4A7C15) & _M64
        x = ((x ^ (x >> 30)) * 0xBF58476D1CE4E5B9) & _M64
        x = ((x ^ (x >> 27)) * 0x94D049BB133111EB) & _M64
        x ^= x >> 31
    return x >> 2


def _content_key(seed: int, key: int) -> int:
    # keep key % 4: _gen_one picks a near group's Jaccard grade from it
    return (_mix(seed, key) & ~3) | (key & 3)


def _scenario(i: int, n: int) -> str:
    for frac, name in (
        (0.15, "exact"), (0.30, "near"), (0.35, "nearmiss"),
        (0.40, "collision"), (0.44, "vendored"), (0.45, "empty"),
    ):
        if i < int(n * frac):
            return name
    return "unique"


def mix_rows(n: int, seed: int, min_tokens: int, max_tokens: int) -> list[dict]:
    """The corpus.py scenario mix over ``n`` row ids, plus its path
    doubles (every unique row with id = 0 mod 97, repeated verbatim)."""
    rows = []
    for i in range(n):
        sc = _scenario(i, n)
        gid, member = {
            "exact": (i // 4, i % 4),
            "near": (i // 4 + 1_000_000, i % 4),
            "nearmiss": (i // 2 + 2_000_000, i % 2),
            "collision": (3_000_000, 0),
            "vendored": (i // 8 + 4_000_000, i % 8),
        }.get(sc, (i + 10_000_000, 0))
        seed_key = {"collision": i, "vendored": gid * 8 + i % 4}.get(sc, gid)
        ckey = _content_key(seed, seed_key)
        variant = member if sc in ("near", "nearmiss") else 0
        ntok = 80 if sc == "collision" else min_tokens + ckey % (max_tokens - min_tokens)
        h = _mix(seed, 0x5EED, i)
        if sc in ("exact", "near", "nearmiss"):
            repo = f"repo{(gid * 7 + member) % 40:04d}"
        elif sc == "vendored":
            repo = f"repo{(gid * 3 + member // 4) % 40:04d}"
        else:
            repo = "repo0000" if h % 100 < 40 else f"repo{1 + h % 39:04d}"
        lang, ext = LANGS[ckey % len(LANGS)]
        if sc == "vendored":
            path = f"vendor/tree{gid}/f{i % 4}.{ext}"
        else:
            hidden = ".hidden/" if i % 23 == 0 else ""
            path = f"{hidden}src/d{h % 20:02d}/m{i}.{ext}"
        row = {
            "repo": repo,
            "path": path,
            "commit": f"{_mix(seed, 0xC0, seed_key):016x}"[:8],
            "lang": lang,
            "content": _gen_one(sc, ckey, variant, ntok),
            "scenario": sc,
            "near_group": gid if sc in ("exact", "near") else None,
        }
        rows.append(row)
        if sc == "unique" and i % 97 == 0:
            rows.append(dict(row, scenario="pathdouble"))
    return rows


def _band0_snippet(seed: int, n_candidates: int = 60_000) -> str:
    """A 20-token snippet built from four 5-token shingles, each the
    smallest of ``n_candidates`` random shingles under one of the four
    MinHash permutations that form LSH band 0. Every document that
    embeds the snippet then keeps the snippet's minima in band 0 unless
    one of its own shingles beats a ~1/n_candidates quantile, so a
    family of such documents shares one band-0 bucket while agreeing on
    almost nothing else."""
    from rmlint_spark.config import DEFAULT
    from rmlint_spark.functions.minhash import minhash_batch

    sig = DEFAULT.sig
    rng = np.random.RandomState(_mix(seed, 0xB0) % (1 << 31))
    best = [(np.iinfo(np.int64).max, "")] * sig.rows_per_band
    for _ in range(n_candidates // 20_000):
        cands = [" ".join(t) for t in rng.choice(VOCAB, size=(20_000, sig.shingle_k))]
        s = minhash_batch(cands, sig.shingle_k, sig.num_perm, sig.minhash_seed)
        for j in range(sig.rows_per_band):
            a = int(np.argmin(s[:, j]))
            if s[a, j] < best[j][0]:
                best[j] = (int(s[a, j]), cands[a])
    return " ".join(text for _, text in best)


def boilerplate_rows(n: int, seed: int, min_tokens: int, max_tokens: int) -> tuple[list[dict], int]:
    """A family of ``n`` documents that share one header snippet (see
    ``_band0_snippet``) ahead of unrelated random bodies: one LSH band
    bucket nearly as wide as the family, and no near-duplicate pairs.
    Returns the rows and the width of that band-0 bucket."""
    from rmlint_spark.config import DEFAULT
    from rmlint_spark.functions.minhash import minhash_batch

    snippet = _band0_snippet(seed)
    r = np.random.RandomState(_mix(seed, 0xB1) % (1 << 31))
    rows = []
    for i in range(n):
        key = _mix(seed, 0xB2, i)
        body = " ".join(r.choice(VOCAB, size=min_tokens + key % (max_tokens - min_tokens)))
        lang, ext = LANGS[key % len(LANGS)]
        rows.append({
            "repo": f"repo{1 + key % 39:04d}",
            "path": f"gen/b{i // 100:03d}/g{i}.{ext}",
            "commit": f"{key:016x}"[:8],
            "lang": lang,
            "content": snippet + " " + body,
            "scenario": "boilerplate",
            "near_group": None,
        })
    sig, r = DEFAULT.sig, DEFAULT.sig.rows_per_band
    head = minhash_batch([snippet], sig.shingle_k, sig.num_perm, sig.minhash_seed)[0, :r]
    sigs = minhash_batch([x["content"] for x in rows], sig.shingle_k, sig.num_perm, sig.minhash_seed)
    return rows, int((sigs[:, :r] == head).all(axis=1).sum())


FILE_COLS = ["repo", "path", "commit", "lang", "content"]


def write_input(rows: list[dict], out_dir: str, n_files: int = 4) -> tuple[str, str]:
    """Write the engine's table (``files``) and the planted truth
    (``truth``) as parquet. Row order is shuffled by a fixed key so
    scenarios interleave across the ``n_files`` parquet files (and
    hence across scan partitions)."""
    order = sorted(range(len(rows)), key=lambda k: _mix(0x0DE2, k))
    rows = [rows[k] for k in order]
    files_dir = os.path.join(out_dir, "files")
    os.makedirs(files_dir, exist_ok=True)
    step = -(-len(rows) // n_files)
    for part in range(n_files):
        chunk = rows[part * step:(part + 1) * step]
        table = pa.table({c: [r[c] for r in chunk] for c in FILE_COLS})
        pq.write_table(table, os.path.join(files_dir, f"part-{part:03d}.parquet"))
    truth = pa.table({
        "repo": [r["repo"] for r in rows],
        "path": [r["path"] for r in rows],
        "commit": [r["commit"] for r in rows],
        "scenario": [r["scenario"] for r in rows],
        "near_group": pa.array([r["near_group"] for r in rows], pa.int64()),
    })
    truth_path = os.path.join(out_dir, "truth.parquet")
    pq.write_table(truth, truth_path)
    return files_dir, truth_path


def write_rows(rows: list[dict], out_dir: str) -> str:
    """One parquet file of engine-table rows (an incremental batch)."""
    os.makedirs(out_dir, exist_ok=True)
    table = pa.table({c: [r[c] for r in rows] for c in FILE_COLS})
    pq.write_table(table, os.path.join(out_dir, "part-000.parquet"))
    return out_dir
