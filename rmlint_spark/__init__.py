"""rmlint_spark — a PySpark-native near-duplicate detection + clustering engine.

A from-scratch reimplementation of the *semantics* of sahib/rmlint
(reference at /root/reference, cited by file:line in docstrings) as an
idiomatic Spark DataFrame pipeline over a table of source-code files
``files(repo, path, commit, lang, content)``:

- exact-duplicate grouping via a staged "funnel"
  (size bucket -> prefix signature -> sha256 -> byte confirm),
  mirroring rmlint's shredder generations (lib/shredder.c:47-60);
- near-duplicate clustering via MinHash/LSH band joins, and SimHash
  Hamming-bucket candidate pairs (new capabilities mandated by the
  north rule);
- candidate-pair resolution via an iterative connected-components join;
- directory/subtree rollup (treemerge analog, lib/treemerge.c);
- cross-file substring lint via shingle inverted indexes;
- checkpoint/lineage layer for mid-stage resume (replay analog,
  lib/replay.c:777-860).

Everything is DataFrame/Catalyst-first; Python appears only in
vectorized pandas/Arrow UDFs for signature computation.
"""

__version__ = "0.1.0"

from rmlint_spark.config import EngineConfig, SignatureConfig  # noqa: F401
