"""cie_spark — a PySpark-native conversation knowledge-graph construction engine.

A from-scratch rebuild of the *capabilities* of the reference code-intelligence
engine (vjache/cie @ /root/reference: scan → extract → link → embed →
materialize over a property graph, plus 28 query tools), re-expressed as
conversation-graph construction over tables of multi-turn transcripts
``(conv_id, turn_idx, role, text, tool, ts)``:

- ``spec``       — the frozen extraction/linking spec (single source of truth,
                   rendered to Spark expressions, pandas code AND ANSI SQL)
- ``sources``    — transcript synthesis, snapshot-manifest table IO
- ``operators``  — extraction (built-in regex expressions), entity linking
                   (dict + exact fuzzy Jaccard), connected-components
                   canonicalization, triple emission, dedup, similarity
                   search, text analysis
- ``functions``  — deterministic IDs, text normalization, mock embeddings
- ``plans``      — end-to-end pipeline orchestration, lineage, incremental runs
- ``streaming``  — watch-mode analog (Trigger.AvailableNow incremental)

Architecture is DataFrame/SQL-first: Catalyst handles pushdown/pruning/join
selection; Python appears only in Arrow-vectorized UDFs (mock embeddings,
the distributed linking kernel, dedup hashing, media codecs).
"""

__version__ = "0.1.0"
