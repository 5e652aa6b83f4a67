"""Entity linking: dictionary broadcast join + MinHash-LSH fuzzy tier + stubs.

Analog of the reference's call resolution (resolver.go:83-303: import-alias
dictionary lookup), interface dispatch (resolver.go:364-501: 1->N candidate
linking), and external-stub synthesis (resolver.go:461-527: deterministic
IDs for out-of-vocabulary targets).

Scale design
------------
- The alias dictionary is tiny (10^2..10^6 rows) vs mentions (10^12):
  `F.broadcast` makes tier-1 linking a map-side hash join — zero shuffle.
- The fuzzy tier only sees *distinct unmatched surfaces* (bounded by
  vocabulary size, not corpus size): `dropDuplicates` first, link once,
  broadcast the resulting (surface -> entity) mapping back. At 100 TB the
  expensive join runs over thousands of rows, not trillions.
- LSH blocking: explode each surface into MINHASH_BANDS band signatures,
  equi-join candidate×dictionary per band (hash join on band value), then
  exact Jaccard scoring on the candidate pairs only — the classic
  blocking-then-verify shape, never an all-pairs cross join.
- Determinism: best candidate by (jaccard DESC, canonical_id ASC) via one
  window — partition-order independent.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from cie_spark import spec
from cie_spark import functions as CF
from cie_spark.session import local_frame


def dictionary_df(spark: SparkSession) -> DataFrame:
    """(surface_norm, entity_id, canonical_name) from the frozen spec."""
    rows = [
        (k, v, v.removeprefix("ent:")) for k, v in sorted(spec.SURFACE_TO_CANONICAL.items())
    ]
    return local_frame(
        spark, rows, "surface_norm string, entity_id string, canonical_name string"
    )


def _band_explode(df: DataFrame, surf_col: str) -> DataFrame:
    """Explode a (surface_norm) df into (surface_norm, band_idx, band_sig)."""
    bands = CF.minhash_band_cols(F.col(surf_col))
    sig = df.select(surf_col, F.array(*bands).alias("sig"))
    return sig.select(
        surf_col,
        F.posexplode("sig").alias("band_idx", "band_sig"),
    )


def _jaccard_udf():
    """Exact 3-gram Jaccard of two normalized strings, as an Arrow-batched
    pandas UDF implementing spec.shingles/spec.jaccard directly.

    Deliberately NOT a Column expression: the expression rendering
    (transform/sequence/array_intersect over both sides) compiles to a
    janino codegen unit that costs several seconds of DRIVER time on a cold
    JVM — a pure serial term that caps N->4N scaling efficiency — while the
    frame it runs on is vocabulary-bounded (distinct unmatched surfaces x
    dictionary), so expression-vs-UDF throughput is irrelevant. The python
    workers are already warm from the extraction stage."""
    import pandas as pd

    # NB: no type annotations — `from __future__ import annotations` turns
    # them into strings pyspark cannot resolve against the local `pd`
    @F.pandas_udf("double")
    def jacc(a, b):
        return pd.Series(
            [
                spec.jaccard(spec.shingles(x), spec.shingles(y))
                if isinstance(x, str) and isinstance(y, str)
                else 0.0
                for x, y in zip(a, b)
            ],
            dtype="float64",
        )

    return jacc


# above this many dictionary entries, the fuzzy tier switches from the
# exact broadcast nested-loop to MinHash-LSH band blocking automatically:
# the nested loop is (distinct unmatched surfaces × dictionary) — fine for a
# 10^2-entry vocabulary, silently quadratic at 10^6
AUTO_LSH_DICT_SIZE = 10_000

# distinct-surface sets at or below this size take the driver-local linking
# path: one collect (bounded by the cap) replaces the ~10 tiny driver job
# rounds of the distributed tier DAG (persist, broadcast builds, window,
# eager checkpoint). Those rounds are pure per-leg serial cost — the profile
# that motivated this showed ~13 s of the link stage not scaling 2->8 cores
# while the actual fuzzy work was 48 rows. 64k surfaces x ~32 B collect
# ~2 MB — driver-safe; bigger vocabularies stay on the distributed tier.
LOCAL_VOCAB_CAP = 65_536

# the local fuzzy tier scores only dictionary entries that share >= 1
# shingle with the miss (inverted-index blocking — exact, since threshold
# > 0 means a zero-overlap pair can never link) — but adversarial inputs
# (every miss sharing shingles with most of the dictionary) still degrade
# to the full product. The bound is therefore on SCORED PAIRS, summed over
# the blocked, length-filtered candidate sets BEFORE any pair is scored:
# past this budget the local path bails (link_rows_local returns None)
# without scoring, and the distributed tiers run instead. 2M scored pairs
# ≈ 1–3 s of driver CPU — comparable to the distributed tier's fixed
# scheduling cost, i.e. the break-even point. (The r5 event-log profile
# showed the pre-index nested loop was 4.75 s of the ~10.5 s per-leg
# serial term at the 50k-conv benchmark regime.)
LOCAL_FUZZY_BUDGET = 2_000_000


def link_rows_local(
    surfaces: list[str], dic: dict[str, str],
    fuzzy_budget: int | None = None,
) -> list[tuple[str, str, str, str]] | None:
    """Driver-local rendering of the 3-tier linker over a distinct-surface
    list: same frozen spec functions (spec.norm/shingles/jaccard), same
    tie-breaks (best Jaccard, then lexicographic entity_id), same stub ids —
    bit-identical to the distributed tiers (pinned by
    tests/test_link.py::test_local_path_agrees_with_distributed).

    Returns None (caller must fall back to the distributed tiers) when the
    total of (miss × candidate) pairs to score exceeds `fuzzy_budget` —
    decided from the blocked candidate sets before any pair is scored:
    the dict pass is O(surfaces) and always cheap, and the fuzzy tier blocks
    candidates through an inverted shingle index, but adversarial vocabularies
    can still degrade toward the full product.

    The blocking is EXACT, not approximate: jaccard(a, b) >= threshold > 0
    requires a shared shingle, so entries absent from every one of the miss's
    index buckets score 0 and can never win; and since
    jaccard <= min(|a|,|b|)/max(|a|,|b|), candidates failing that length-ratio
    bound are skipped without scoring. Tie-breaks compare (jaccard DESC,
    entity_id ASC) pairwise, so candidate enumeration order is irrelevant."""
    import hashlib

    k = spec.SHINGLE_K

    def _shingles_normed(n: str) -> set[str]:
        # spec.shingles(n) re-norms its input; n is already norm'd and norm
        # is idempotent (pinned by test_spec), so shingle directly — same
        # set, minus a redundant regex pass per miss.
        if len(n) < k:
            return {n} if n else set()
        return {n[i : i + k] for i in range(len(n) - k + 1)}

    out = []
    misses: list[tuple[str, str]] = []
    for s in surfaces:
        n = spec.norm(s)
        hit = dic.get(n)
        if hit is not None:
            out.append((s, n, hit, "dict"))
        else:
            misses.append((s, n))
    if not misses:  # all dict hits: skip the O(|dict| × shingles) index build
        return out
    dic_shingles = [
        (_shingles_normed(spec.norm(dk)), dk, v) for dk, v in sorted(dic.items())
    ]
    dic_lens = [len(t[0]) for t in dic_shingles]
    index: dict[str, list[int]] = {}
    for i, (dsh, _dn, _eid) in enumerate(dic_shingles):
        for g in dsh:
            index.setdefault(g, []).append(i)
    threshold = spec.JACCARD_LINK_THRESHOLD
    index_get = index.get
    # pass 1: block every miss and length-filter its candidates, deciding
    # the budget before any Jaccard is scored
    blocked: list = []  # per miss: (shingles, candidates) or None
    to_score = 0
    for s, n in misses:
        sh = _shingles_normed(n)
        cand: set[int] = set()
        for g in sh:
            hits = index_get(g)
            if hits:
                cand.update(hits)
        la = len(sh)
        # length-ratio skip, arithmetic hoisted out of the candidate loop:
        # min(la,lb) < t*max(la,lb)  ⇔  lb < t*la (when lb<=la)
        #                               or la < t*lb (when lb>la)
        # — identical float comparisons to the naive form, ~3 fewer builtin
        # calls per candidate (the r5 pytest wall-clock profile showed 4.7M
        # min/max calls dominating the 64k×10k blocked case).
        tla = threshold * la
        keep = []
        for ci in cand:
            lb = dic_lens[ci]
            if not ((lb < tla) if lb <= la else (la < threshold * lb)):
                keep.append(ci)
        to_score += len(keep)
        if fuzzy_budget is not None and to_score > fuzzy_budget:
            return None
        # (keeping no shingle set for candidate-free misses keeps the
        # retained-object count, and so the GC cost, low)
        blocked.append((sh, keep) if keep else None)
    # pass 2: score the surviving candidates
    for (s, n), bk in zip(misses, blocked):
        best: tuple[float, str] | None = None
        for ci in bk[1] if bk else ():
            dsh, _dn, eid = dic_shingles[ci]
            j = spec.jaccard(bk[0], dsh)
            if j >= threshold and (
                best is None or j > best[0] or (j == best[0] and eid < best[1])
            ):
                best = (j, eid)
        if best is not None:
            out.append((s, n, best[1], "fuzzy"))
        else:
            stub = "ent:" + hashlib.sha256(n.encode()).hexdigest()[:16]
            out.append((s, n, stub, "stub"))
    return out


LINKMAP_SCHEMA = (
    "surface string, surface_norm string, entity_id string, link_tier string"
)


def _collect_and_link_local(
    distinct: DataFrame, dic: DataFrame, spec_dictionary: bool,
) -> list[tuple[str, str, str, str]] | None:
    """Collect distinct surfaces (bounded by LOCAL_VOCAB_CAP) and link them
    driver-side; None when the cap or fuzzy budget forces the distributed
    tiers. The ONE collect here is the unavoidable parallel corpus scan —
    everything after it is in-process.

    The CollectLimit below runs ALL partitions in one job round
    (initialNumPartitions) instead of the 1, 4, 16… take escalation: the
    limit only trips on the oversized-vocabulary bail-out, so the common
    case pays every partition anyway, and each escalation round is a
    driver-scheduled job of pure serial cost (event-log profile: 2 extra
    rounds + gaps ≈ 1 s per scaling leg). Scoped HERE, not session-wide:
    globally it would de-short-circuit every other limit/first/isEmpty
    probe in the engine (CLI row caps, verify_consistency's limit(1), the
    small-delta and local-tier probes), taxing interactive queries with
    near-full scans."""
    spark = distinct.sparkSession
    key = "spark.sql.limit.initialNumPartitions"
    saved = spark.conf.get(key, None)
    try:
        spark.conf.set(key, "10000")
        rows = distinct.select("surface").limit(LOCAL_VOCAB_CAP + 1).collect()
    finally:
        if saved is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, saved)
    if len(rows) > LOCAL_VOCAB_CAP:
        return None
    if spec_dictionary:
        dic_map = dict(spec.SURFACE_TO_CANONICAL)
    else:
        dic_map = {
            r["surface_norm"]: r["entity_id"]
            for r in dic.select("surface_norm", "entity_id").collect()
        }
    return link_rows_local(
        sorted(r[0] for r in rows), dic_map, fuzzy_budget=LOCAL_FUZZY_BUDGET
    )


def link_surfaces_rows(
    spark: SparkSession, surfaces: DataFrame,
) -> list[tuple[str, str, str, str]] | None:
    """Driver-local end of link_surfaces for callers that want the rows
    themselves (the pipeline canonicalizes + re-ships them as ONE local
    relation instead of paying per-stage driver job rounds). Returns None
    when the vocabulary or the fuzzy work exceeds the local budgets — the
    caller must then use link_surfaces(), which runs the distributed tiers.
    Spec-dictionary only (callers with override dictionaries take
    link_surfaces)."""
    if len(spec.SURFACE_TO_CANONICAL) > AUTO_LSH_DICT_SIZE:
        return None
    distinct = surfaces.select("surface").dropDuplicates(["surface"])
    return _collect_and_link_local(distinct, None, True)


def link_surfaces(
    spark: SparkSession,
    surfaces: DataFrame,
    *,
    use_lsh: bool | None = None,
    dictionary: DataFrame | None = None,
    dictionary_size: int | None = None,
    local: bool | None = None,
) -> DataFrame:
    """(surface) -> (surface, surface_norm, entity_id, link_tier).

    `surfaces` must have a single `surface` string column (distinct not
    required; we dedup internally). link_tier in {'dict','fuzzy','stub'}.

    Fuzzy tier: SPEC semantics are *exact* best-Jaccard >= threshold over the
    dictionary. With a broadcastable dictionary (the common case — vocab is
    bounded) we score every (distinct unmatched surface × dictionary) pair
    exactly: both sides are vocabulary-bounded, so this stays tiny at any
    corpus scale. `use_lsh=True` — or automatically when the dictionary
    exceeds AUTO_LSH_DICT_SIZE entries — inserts MinHash-LSH band blocking
    before scoring: a recall<1.0 approximation traded for sub-quadratic
    candidate generation.

    `dictionary`: (surface_norm, entity_id[, canonical_name]) override of the
    spec dictionary (tests / alternative vocabularies). `dictionary_size`:
    row-count hint for the auto-switch when passing a DataFrame whose size
    isn't known driver-side (avoids a count action).
    """
    if dictionary is None:
        dic = dictionary_df(spark)
        dic_size = len(spec.SURFACE_TO_CANONICAL)
    else:
        dic = dictionary
        dic_size = dictionary_size if dictionary_size is not None else dic.count()
    if use_lsh is None:
        use_lsh = dic_size > AUTO_LSH_DICT_SIZE

    distinct = (
        surfaces.select("surface")
        .dropDuplicates(["surface"])
        .withColumn("surface_norm", CF.norm_col("surface"))
    )

    # driver-local fast path (see LOCAL_VOCAB_CAP): ONE action collects the
    # distinct surfaces (the unavoidable parallel scan of the corpus); the
    # vocabulary-bounded tiers then run in-process instead of as ~10 tiny
    # Spark jobs whose fixed scheduling latency is per-leg serial cost. The
    # reference resolves calls from an in-memory index the same way
    # (resolver.go:83-176). `local=False` forces the distributed tiers
    # (bigger-than-cap vocabularies take them automatically).
    if local is None:
        local = not use_lsh
    if local:
        linked = _collect_and_link_local(distinct, dic, dictionary is None)
        if linked is not None:
            return local_frame(spark, linked, LINKMAP_SCHEMA)
        # vocabulary exceeded the cap (or the dict-miss × dictionary fuzzy
        # product exceeded LOCAL_FUZZY_BUDGET): fall through to the
        # distributed tiers (the upstream is persisted by callers, so the
        # re-scan of the distinct shuffle is the only repeated work)

    # tier 1: exact dictionary broadcast join. The distinct-surface frame is
    # vocabulary-bounded (not corpus-bounded) and feeds several tiers below —
    # persist it so the (potentially 100-TB) upstream is computed once.
    t1 = distinct.join(F.broadcast(dic), on="surface_norm", how="left").persist()
    hit = t1.filter(F.col("entity_id").isNotNull()).select(
        "surface", "surface_norm", "entity_id", F.lit("dict").alias("link_tier")
    )
    miss = t1.filter(F.col("entity_id").isNull()).select("surface", "surface_norm")

    # tier 2: candidate generation (LSH blocking or exact broadcast
    # nested-loop over the bounded dictionary), then exact-Jaccard verify
    if use_lsh:
        cand_bands = _band_explode(miss, "surface_norm")
        dict_bands = _band_explode(
            dic.select(F.col("surface_norm").alias("dict_norm")), "dict_norm"
        ).join(
            F.broadcast(
                dic.select(F.col("surface_norm").alias("dict_norm"), "entity_id")
            ),
            on="dict_norm",
        )
        candidates = (
            cand_bands.join(
                F.broadcast(dict_bands), on=["band_idx", "band_sig"], how="inner"
            )
            .select("surface_norm", "dict_norm", "entity_id")
            .dropDuplicates(["surface_norm", "entity_id"])
        )
    else:
        candidates = miss.select("surface_norm").crossJoin(
            F.broadcast(
                dic.select(F.col("surface_norm").alias("dict_norm"), "entity_id")
            )
        )
    pairs = candidates.withColumn(
        "jacc", _jaccard_udf()(F.col("surface_norm"), F.col("dict_norm"))
    ).filter(F.col("jacc") >= spec.JACCARD_LINK_THRESHOLD)
    w = Window.partitionBy("surface_norm").orderBy(
        F.desc("jacc"), F.asc("entity_id")
    )
    fuzzy = (
        pairs.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("surface_norm", "entity_id")
    )
    t2 = miss.join(fuzzy, on="surface_norm", how="left")
    fuzzy_hit = t2.filter(F.col("entity_id").isNotNull()).select(
        "surface", "surface_norm", "entity_id", F.lit("fuzzy").alias("link_tier")
    )

    # tier 3: deterministic OOV stubs (anti-join result -> synthesized id)
    stub = t2.filter(F.col("entity_id").isNull()).select(
        "surface",
        "surface_norm",
        CF.stub_entity_id_col(F.col("surface_norm")).alias("entity_id"),
        F.lit("stub").alias("link_tier"),
    )

    # materialize the (vocabulary-bounded) link map eagerly, then release the
    # t1 cache — long-running callers (streaming watch) would otherwise leak
    # one cached frame per micro-batch
    out = hit.unionByName(fuzzy_hit).unionByName(stub).localCheckpoint(eager=True)
    t1.unpersist()
    return out


def link_mentions(spark: SparkSession, mentions: DataFrame) -> DataFrame:
    """mentions (schema.MENTIONS) -> linked mentions with entity_id.

    Tool mentions link trivially as 'tool:<name>'; entity mentions go through
    the 3-tier linker. The surface->entity map is small (distinct surfaces),
    so the final join back onto the 10^12-row mention stream is broadcast.

    The mention stream feeds the linker's distinct-surface scan and the
    final link application — persist it so extraction (the expensive
    UDF-over-full-text pass) runs exactly once.

    Round 6: the entity/tool branches are fused into ONE pass — a single
    broadcast left join of the link map plus kind-conditional projections —
    instead of union(entity-branch, tool-branch), which scanned the mention
    cache twice. Output rows and columns are identical (kind='_turn' rows
    were dropped by both branch filters and still are).

    NB the persist is deliberately NOT released here: the returned frame is
    lazy and recomputes through it, and repeated same-plan invocations
    (bench repetitions) legitimately re-bind to the existing cache entry
    via the CacheManager's canonical-plan dedup — an eviction-on-next-call
    variant was measured 3 s/rep slower at sf1.0 for exactly that reason.
    Memory is bounded by the storage-fraction LRU, as in prior rounds."""
    mentions = mentions.persist()
    both = mentions.filter(F.col("kind").isin("entity", "tool"))
    linkmap = link_surfaces(
        spark, mentions.filter(F.col("kind") == "entity").select("surface")
    )
    is_tool = F.col("kind") == "tool"
    joined = both.join(
        F.broadcast(
            linkmap.select(
                "surface",
                F.col("entity_id").alias("_map_eid"),
                F.col("link_tier").alias("_map_tier"),
            )
        ),
        on="surface",
        how="left",
    )
    return joined.select(
        *mentions.columns,
        F.when(
            is_tool, F.concat(F.lit("tool:"), CF.norm_col("surface"))
        ).otherwise(F.col("_map_eid")).alias("entity_id"),
        F.when(is_tool, F.lit("dict")).otherwise(F.col("_map_tier")).alias(
            "link_tier"
        ),
    )
