"""The frozen extraction + linking SPEC (v1).

Everything that must agree between the three implementations —

1. the Spark pipeline (built-in regex expression extraction, the
   ``link_rows_local`` linking kernel),
2. the pure-pandas oracle (``cie_spark.oracle``), and
3. the ANSI-SQL oracles run by DuckDB (``__spark_entry__.oracle_sql``)

— is defined HERE and only here, as data + tiny pure functions. This mirrors
the reference's two-implementations-one-spec discipline (its tree-sitter vs
simplified parsers agree on one extraction contract,
reference pkg/ingestion/parser_go.go:72-137 vs 778-1089).

SPEC v1
-------
Input row: ``(conv_id:string, turn_idx:int, role:string, text:string,
tool:string, ts:timestamp)``; turns are totally ordered by
``(conv_id, turn_idx)`` and per-turn ``text`` is immutable through the
pipeline (the per-turn text-equality invariant).

Mention extraction (per turn, over ``text``):

- **tool-call mentions**: regex ``calling tool <NAME>`` where NAME matches
  ``[A-Za-z_][A-Za-z0-9_-]*``; union rows with ``role='tool' AND tool IS NOT
  NULL AND tool <> ''`` contributing their ``tool`` column; dedup by
  ``(conv_id, turn_idx, name)``. (Analog of the reference's call-site
  extraction, parser_go.go:644-768.)
- **entity mentions, marker tier**: every ``[[Surface]]`` match, Surface =
  one-or-more non-``]`` chars. Multiple occurrences of the same surface in
  one turn are kept at extraction and deduped at the triple layer (analog of
  resolver.go:198-229 dedup).
- **entity mentions, prose tier**: case-insensitive whole-word match of any
  surface form in SURFACE_TO_CANONICAL (longest-match-first, non-overlapping,
  scanning left to right).

Normalization: ``norm(s)`` lowercases, maps every run of non-alphanumeric
chars to a single ``-``, strips leading/trailing ``-``.

Linking: ``norm(surface)`` looked up in the alias dictionary; unmatched
surfaces go to the fuzzy tier (exact Jaccard of character 3-gram shingles
against every dictionary entry, Jaccard >= JACCARD_LINK_THRESHOLD, best
candidate wins with tie-break (jaccard DESC, canonical_id ASC));
still-unmatched surfaces become deterministic out-of-vocabulary stubs
``ent:sha256(norm)[:16]`` (analog of external-stub synthesis,
resolver.go:461-527).

Canonical entity IDs: ``ent:<canonical-key>`` for dictionary entities (the
canonical key is itself ``norm(canonical name)``), ``tool:<name>`` for tools,
``conv:<conv_id>`` for conversations, ``agent:<conv_id>`` for the
conversation's agent. Deterministic and content-addressed, like
reference pkg/ingestion/ids.go:31-63.

Triples:

- ``(agent:<conv_id>, calls, tool:<name>)`` one row per tool-call mention,
  provenance ``(conv_id, turn_idx, ts)``; aggregate weight = count.
- ``(conv:<conv_id>, contains, <entity_id>)`` distinct per conversation.
- ``(<entity_a>, mentioned_with, <entity_b>)`` for distinct canonical entity
  pairs co-occurring in the same turn, ordered ``a < b``; windowed variant
  pairs entities within WINDOW_TURNS turns of each other in one conversation.
"""

from __future__ import annotations

import hashlib
import re

# --------------------------------------------------------------------------
# regexes (compiled once; the SQL renderings below must stay in sync)
# --------------------------------------------------------------------------

TOOL_CALL_RE = re.compile(r"calling tool <([A-Za-z_][A-Za-z0-9_-]*)>")
MARKER_RE = re.compile(r"\[\[([^\]]+)\]\]")

# SQL-dialect renderings of the same patterns (DuckDB + Spark SQL compatible)
TOOL_CALL_SQL_PATTERN = r"calling tool <([A-Za-z_][A-Za-z0-9_-]*)>"
MARKER_SQL_PATTERN = r"\[\[([^\]]+)\]\]"

# fuzzy-link threshold on 3-gram Jaccard
JACCARD_LINK_THRESHOLD = 0.5
SHINGLE_K = 3

# co-occurrence window (turns) for the windowed mentioned_with variant;
# bounded so a mega-conversation costs O(turns * W), never O(turns^2)
WINDOW_TURNS = 4

# --------------------------------------------------------------------------
# entity vocabulary: canonical name -> surface forms (aliases)
# exercises the linking stage the way the reference's import-alias fixtures
# do (testdata/go/imports.go; resolver.go:83-176)
# --------------------------------------------------------------------------

ENTITY_VOCAB: dict[str, list[str]] = {
    "postgresql": ["PostgreSQL", "Postgres", "postgres-db", "pg"],
    "apache-spark": ["Apache Spark", "Spark", "pyspark"],
    "apache-iceberg": ["Apache Iceberg", "Iceberg"],
    "apache-kafka": ["Apache Kafka", "Kafka"],
    "duckdb": ["DuckDB", "duck-db"],
    "redis": ["Redis", "redis-cache"],
    "kubernetes": ["Kubernetes", "k8s"],
    "terraform": ["Terraform"],
    "airflow": ["Airflow", "Apache Airflow"],
    "snowflake": ["Snowflake"],
    "clickhouse": ["ClickHouse", "click-house"],
    "rocksdb": ["RocksDB"],
    "parquet": ["Parquet", "parquet-files"],
    "arrow": ["Apache Arrow", "Arrow"],
    "pandas": ["pandas"],
    "numpy": ["NumPy", "numpy"],
    "grafana": ["Grafana"],
    "prometheus": ["Prometheus", "prom"],
    "elasticsearch": ["Elasticsearch", "elastic-search", "ES cluster"],
    "rabbitmq": ["RabbitMQ", "rabbit-mq"],
}

TOOL_VOCAB: list[str] = [
    "search", "bash", "python", "browser", "sql_query", "file_read",
    "file_write", "http_get", "calculator", "scheduler", "translate",
    "summarize", "embed", "rerank", "ocr", "speech_to_text", "code_exec",
    "git_diff", "vector_lookup", "notify",
]


def norm(s: str) -> str:
    """Normalization shared by every implementation (pure, total)."""
    s = s.lower()
    s = re.sub(r"[^a-z0-9]+", "-", s)
    return s.strip("-")


def surface_to_canonical() -> dict[str, str]:
    """norm(surface) -> canonical entity id ('ent:<canonical-key>')."""
    out: dict[str, str] = {}
    for canon, surfaces in ENTITY_VOCAB.items():
        out[norm(canon)] = f"ent:{canon}"
        for s in surfaces:
            out[norm(s)] = f"ent:{canon}"
    return out


SURFACE_TO_CANONICAL = surface_to_canonical()

# longest-first surface list for the prose tier (deterministic scan order)
PROSE_SURFACES = sorted(
    {s for forms in ENTITY_VOCAB.values() for s in forms},
    key=lambda s: (-len(s), s),
)
_PROSE_RE = re.compile(
    r"(?<![A-Za-z0-9])("
    + "|".join(re.escape(s) for s in PROSE_SURFACES)
    + r")(?![A-Za-z0-9])",
    re.IGNORECASE,
)


def prose_regex() -> re.Pattern[str]:
    return _PROSE_RE


def stub_entity_id(norm_surface: str) -> str:
    """Deterministic OOV stub id (analog of resolver.go:509-512)."""
    return "ent:" + hashlib.sha256(norm_surface.encode()).hexdigest()[:16]


def shingles(s: str, k: int = SHINGLE_K) -> set[str]:
    """Character k-gram shingle set of norm'd surface (pad short strings)."""
    s = norm(s)
    if len(s) < k:
        return {s} if s else set()
    return {s[i : i + k] for i in range(len(s) - k + 1)}


def jaccard(a: set[str], b: set[str]) -> float:
    if not a and not b:
        return 0.0
    return len(a & b) / len(a | b)


# --------------------------------------------------------------------------
# SQL renderings (dialect-neutral: valid in BOTH Spark SQL and DuckDB)
# --------------------------------------------------------------------------

def norm_sql(col: str, dialect: str = "spark") -> str:
    """SQL rendering of norm().

    Spark's regexp_replace is global; DuckDB's replaces only the first match
    unless given the 'g' option — so the rendering is dialect-parameterized
    while the semantics stay identical (asserted in tests/test_spec.py).
    """
    if dialect == "duckdb":
        return (
            f"regexp_replace(regexp_replace(lower({col}), '[^a-z0-9]+', '-', 'g'),"
            f" '^-+|-+$', '', 'g')"
        )
    return (
        f"regexp_replace(regexp_replace(lower({col}), '[^a-z0-9]+', '-'),"
        f" '^-+|-+$', '')"
    )


def canonical_case_sql(col: str) -> str:
    """CASE expression mapping norm(surface) -> canonical id, else stub NULL.

    Rendered from SURFACE_TO_CANONICAL so the SQL oracle and the broadcast
    dictionary can never drift apart.
    """
    whens = "\n".join(
        f"  WHEN '{k}' THEN '{v}'" for k, v in sorted(SURFACE_TO_CANONICAL.items())
    )
    return f"CASE {col}\n{whens}\n  ELSE NULL END"


# Deterministic transcripts derived from the driver's `events` table.
# Valid verbatim in BOTH Spark SQL (with an `events` temp view) and DuckDB
# (where `events` is a pre-registered view) — the single spec both sides run.
# Text embeds tool-call + entity markers per SPEC v1; only integer-derived
# values enter text so formatting is bit-identical across engines.
TRANSCRIPTS_FROM_EVENTS_SQL = """
SELECT
  concat('conv-', lpad(cast(user_id AS STRING), 6, '0'))          AS conv_id,
  cast(row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) - 1
       AS INT)                                                     AS turn_idx,
  CASE event_type
    WHEN 'purchase' THEN 'tool'
    WHEN 'error'    THEN 'tool'
    WHEN 'signup'   THEN 'system'
    WHEN 'click'    THEN 'user'
    ELSE 'assistant' END                                           AS role,
  CASE event_type
    WHEN 'purchase' THEN concat('calling tool <',
      CASE cast(event_id % 5 AS INT)
        WHEN 0 THEN 'search' WHEN 1 THEN 'bash' WHEN 2 THEN 'sql_query'
        WHEN 3 THEN 'http_get' ELSE 'python' END,
      '> with arg ', cast(event_id % 97 AS STRING))
    WHEN 'error'    THEN concat('calling tool <',
      CASE cast(event_id % 3 AS INT)
        WHEN 0 THEN 'file_read' WHEN 1 THEN 'code_exec' ELSE 'notify' END,
      '> failed with code ', cast(event_id % 7 AS STRING))
    WHEN 'signup'   THEN concat('session start for agent ',
      cast(user_id AS STRING))
    WHEN 'click'    THEN concat('we discussed [[',
      CASE cast(event_id % 6 AS INT)
        WHEN 0 THEN 'PostgreSQL' WHEN 1 THEN 'Postgres' WHEN 2 THEN 'Spark'
        WHEN 3 THEN 'Apache Spark' WHEN 4 THEN 'Iceberg'
        ELSE 'Kafka' END,
      ']] and [[',
      CASE cast(event_id % 4 AS INT)
        WHEN 0 THEN 'DuckDB' WHEN 1 THEN 'Redis' WHEN 2 THEN 'k8s'
        ELSE 'Snowflake' END, ']]')
    ELSE concat('the result mentions [[',
      CASE cast(event_id % 7 AS INT)
        WHEN 0 THEN 'ClickHouse' WHEN 1 THEN 'Terraform' WHEN 2 THEN 'Airflow'
        WHEN 3 THEN 'Grafana' WHEN 4 THEN 'Prometheus' WHEN 5 THEN 'pandas'
        ELSE 'NumPy' END,
      ']] in detail') END                                          AS text,
  CASE WHEN event_type = 'purchase' THEN
      CASE cast(event_id % 5 AS INT)
        WHEN 0 THEN 'search' WHEN 1 THEN 'bash' WHEN 2 THEN 'sql_query'
        WHEN 3 THEN 'http_get' ELSE 'python' END
    WHEN event_type = 'error' THEN
      CASE cast(event_id % 3 AS INT)
        WHEN 0 THEN 'file_read' WHEN 1 THEN 'code_exec' ELSE 'notify' END
    ELSE NULL END                                                  AS tool,
  ts                                                               AS ts
FROM events
""".strip()
