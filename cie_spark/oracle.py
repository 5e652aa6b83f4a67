"""Pure-pandas reference extractor — the test oracle.

Implements SPEC v1 (cie_spark/spec.py) with pandas + stdlib only: no Spark.
The Spark pipeline and this oracle are two independent implementations of
one written spec, compared for P/R >= 0.95 (exact match expected at test
scale) — the same discipline the reference applies to its tree-sitter vs
simplified parsers (reference pkg/ingestion/parser_go.go:770-777).

Deliberately naive: O(n) loops, dict lookups, no clever vectorization —
optimized for obviousness, not speed.
"""

from __future__ import annotations

import pandas as pd

from cie_spark import spec


def extract_mentions(transcripts: pd.DataFrame, prose: bool = True) -> pd.DataFrame:
    rows = []
    prose_re = spec.prose_regex()
    for rec in transcripts.itertuples(index=False):
        conv, turn, role, text, tool = (
            rec.conv_id, int(rec.turn_idx), rec.role, rec.text, rec.tool,
        )
        pos = 0
        seen_tools: set[str] = set()
        if role == "tool" and isinstance(tool, str) and tool:
            rows.append((conv, turn, "tool", tool, "column", pos))
            seen_tools.add(tool)
            pos += 1
        if not isinstance(text, str) or not text:
            continue
        for m in spec.TOOL_CALL_RE.finditer(text):
            if m.group(1) in seen_tools:
                continue
            seen_tools.add(m.group(1))
            rows.append((conv, turn, "tool", m.group(1), "marker", pos))
            pos += 1
        spans = []
        for m in spec.MARKER_RE.finditer(text):
            spans.append(m.span())
            rows.append((conv, turn, "entity", m.group(1), "marker", pos))
            pos += 1
        if prose:
            for m in prose_re.finditer(text):
                s, e = m.span()
                if any(ms <= s and e <= me for ms, me in spans):
                    continue
                rows.append((conv, turn, "entity", m.group(1), "prose", pos))
                pos += 1
    return pd.DataFrame(
        rows, columns=["conv_id", "turn_idx", "kind", "surface", "tier", "pos"]
    )


def link_surface(surface: str) -> str:
    """3-tier linking for one surface: dict -> fuzzy (exact Jaccard over the
    whole dictionary, no blocking) -> stub."""
    n = spec.norm(surface)
    hit = spec.SURFACE_TO_CANONICAL.get(n)
    if hit:
        return hit
    sh = spec.shingles(n)
    best: tuple[float, str] | None = None
    for dict_norm, eid in spec.SURFACE_TO_CANONICAL.items():
        j = spec.jaccard(sh, spec.shingles(dict_norm))
        if j >= spec.JACCARD_LINK_THRESHOLD:
            cand = (-j, eid)
            if best is None or cand < best:
                best = cand
    if best is not None:
        return best[1]
    return spec.stub_entity_id(n)


def link_mentions(mentions: pd.DataFrame) -> pd.DataFrame:
    out = mentions.copy()
    cache: dict[tuple[str, str], str] = {}

    def _link(kind: str, surface: str) -> str:
        key = (kind, surface)
        if key not in cache:
            cache[key] = (
                "tool:" + spec.norm(surface) if kind == "tool" else link_surface(surface)
            )
        return cache[key]

    out["entity_id"] = [
        _link(k, s) for k, s in zip(out["kind"], out["surface"])
    ]
    return out


def build_triples(linked: pd.DataFrame, transcripts: pd.DataFrame) -> pd.DataFrame:
    """All three predicates, same shapes as operators/triples.py."""
    ts_map = {
        (r.conv_id, int(r.turn_idx)): r.ts for r in transcripts.itertuples(index=False)
    }
    rows = []

    tools = linked[linked["kind"] == "tool"]
    for r in tools.itertuples(index=False):
        rows.append(
            ("agent:" + r.conv_id, "calls", r.entity_id, r.conv_id, int(r.turn_idx), 1)
        )

    ents = linked[linked["kind"] == "entity"]
    contains: dict[tuple[str, str], tuple[int, int]] = {}
    for r in ents.itertuples(index=False):
        key = (r.conv_id, r.entity_id)
        t = int(r.turn_idx)
        if key in contains:
            mn, w = contains[key]
            contains[key] = (min(mn, t), w + 1)
        else:
            contains[key] = (t, 1)
    for (conv, eid), (mn, w) in contains.items():
        rows.append(("conv:" + conv, "contains", eid, conv, mn, w))

    per_turn: dict[tuple[str, int], set[str]] = {}
    for r in ents.itertuples(index=False):
        per_turn.setdefault((r.conv_id, int(r.turn_idx)), set()).add(r.entity_id)
    mw: dict[tuple[str, str, str], tuple[int, int]] = {}
    for (conv, turn), eids in per_turn.items():
        ids = sorted(eids)
        for i in range(len(ids)):
            for j in range(i + 1, len(ids)):
                key = (ids[i], ids[j], conv)
                if key in mw:
                    mn, w = mw[key]
                    mw[key] = (min(mn, turn), w + 1)
                else:
                    mw[key] = (turn, 1)
    for (a, b, conv), (mn, w) in mw.items():
        rows.append((a, "mentioned_with", b, conv, mn, w))

    df = pd.DataFrame(
        rows, columns=["subj", "pred", "obj", "conv_id", "turn_idx", "weight"]
    )
    df["ts"] = [ts_map.get((c, t)) for c, t in zip(df["conv_id"], df["turn_idx"])]
    return df[["subj", "pred", "obj", "conv_id", "turn_idx", "ts", "weight"]]


def run(transcripts: pd.DataFrame, prose: bool = True) -> pd.DataFrame:
    """Full oracle pipeline: transcripts -> triples."""
    mentions = extract_mentions(transcripts, prose=prose)
    linked = link_mentions(mentions)
    return build_triples(linked, transcripts)
