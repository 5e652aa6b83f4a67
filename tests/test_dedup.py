"""Dedup tiers: exact, minhash-LSH candidates + Jaccard verify, simhash."""

from __future__ import annotations

from pyspark.sql import functions as F

from cie_spark.operators import dedup


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def _expr_hashed_shingle_base(docs, shingle_words=3):
    """All-JVM expression twin of the minhash UDF's `hs` field: the
    reference the words->shingle->hash pass is pinned against."""
    return docs.select(
        "doc_id",
        F.transform(
            dedup._word_shingles(
                F.coalesce(F.col("text"), F.lit("")), shingle_words
            ),
            lambda x: F.xxhash64(x),
        ).alias("hs"),
    )


def _expr_minhash_signatures(docs, bands=16, rows=2, shingle_words=3):
    """All-JVM expression twin of dedup.minhash_signatures: bands×rows
    salted minima array_min(transform(xxhash64)) over the hashed shingles,
    band sig = xxhash64 of the band's row minima."""
    base = _expr_hashed_shingle_base(docs, shingle_words)

    def salted_min(h: int):
        # 1-arg lambda: F.transform treats 2-arg lambdas as (element, index)
        return F.array_min(F.transform(F.col("hs"), lambda v: F.xxhash64(F.lit(h), v)))

    band_cols = [
        F.xxhash64(F.lit(b), *[salted_min(b * rows + r) for r in range(rows)])
        for b in range(bands)
    ]
    return base.select(
        "doc_id", F.posexplode(F.array(*band_cols)).alias("band_idx", "band_sig")
    )


def test_exact_dedup(spark):
    d = _docs(
        spark,
        [
            (1, "hello  world"),
            (2, "Hello world"),  # same after normalization
            (3, "different doc"),
            (4, None),
            (5, ""),
        ],
    )
    groups = {r.keep_id: r.n_dups for r in dedup.exact_groups(d).collect()}
    assert groups[1] == 2  # docs 1+2 collapse
    assert groups[3] == 1
    assert groups[4] == 2  # None and '' normalize identically
    survivors = sorted(r.doc_id for r in dedup.exact_dedup(d).collect())
    assert survivors == [1, 3, 4]


def test_ngram_jaccard_near_dup(spark):
    base = "the quick brown fox jumps over the lazy dog again and again today"
    d = _docs(
        spark,
        [
            (1, base),
            (2, base.replace("today", "tomorrow")),  # near dup
            (3, "completely unrelated text about databases and sparks"),
        ],
    )
    pairs = {(r.doc_a, r.doc_b) for r in dedup.ngram_jaccard_pairs(d, threshold=0.5).collect()}
    assert (1, 2) in pairs
    assert all(3 not in p for p in pairs)


def test_minhash_all_empty_corpus_is_one_hot_bucket_per_band(spark):
    """Every empty (or NULL) text has the same shingles, so all documents
    share one band signature per band: each band is a single bucket over
    max_bucket, dropped before any pair is expanded."""
    d = _docs(spark, [(i, "" if i % 3 else None) for i in range(100)])
    sigs = dedup.minhash_signatures(d)
    assert sigs.groupBy("band_idx").agg(
        F.countDistinct("band_sig").alias("n")
    ).filter("n != 1").count() == 0
    assert dedup.minhash_candidates(d, max_bucket=64).count() == 0
    # the cap, not the signatures, is what drops them
    assert dedup.minhash_candidates(d, max_bucket=100).count() == 100 * 99 // 2


def test_simhash_near_dup(spark):
    base = " ".join(f"word{i}" for i in range(60))
    d = _docs(
        spark,
        [
            (1, base),
            (2, base + " extra"),  # tiny perturbation -> small hamming
            (3, " ".join(f"other{i}" for i in range(60))),
        ],
    )
    pairs = {(r.doc_a, r.doc_b): r.hamming for r in dedup.simhash_pairs(d, max_hamming=6).collect()}
    assert (1, 2) in pairs
    assert (1, 3) not in pairs and (2, 3) not in pairs


def test_jaccard_exact_complete(spark):
    """Exact inverted-index Jaccard finds every pair >= threshold (including
    ones LSH might miss) and agrees with a python oracle."""
    docs = [
        (1, "a b c d e f g h"),
        (2, "a b c d e f g x"),
        (3, "p q r s t u v w"),
        (4, "a b c d e f g h"),  # exact dup of 1
    ]
    d = _docs(spark, docs)
    got = {(r.doc_a, r.doc_b): r.jaccard for r in dedup.jaccard_pairs_exact(d, threshold=0.3).collect()}

    def sh(t):
        w = t.split()
        return {" ".join(w[i : i + 3]) for i in range(len(w) - 2)}

    expected = {}
    for i in range(len(docs)):
        for j in range(i + 1, len(docs)):
            a, b = sh(docs[i][1]), sh(docs[j][1])
            jac = len(a & b) / len(a | b)
            if jac >= 0.3:
                expected[(docs[i][0], docs[j][0])] = round(jac, 4)
    assert got == expected
    assert got[(1, 4)] == 1.0


def test_cosine_near_dup_exact(spark):
    from cie_spark.operators import simsearch

    emb = spark.createDataFrame(
        [
            (1, [1.0, 0.0, 0.0]),
            (2, [0.99, 0.1, 0.0]),
            (3, [0.0, 1.0, 0.0]),
        ],
        "vec_id long, embedding array<float>",
    )
    got = {(r.id_a, r.id_b) for r in simsearch.cosine_near_dup_exact(emb, threshold=0.9).collect()}
    assert got == {(1, 2)}


def test_simhash_deterministic(spark):
    d = _docs(spark, [(1, "alpha beta gamma"), (2, "alpha beta gamma")])
    from cie_spark.operators.dedup import simhash_col

    vals = [r.sh for r in d.select(simhash_col(F.col("text")).alias("sh")).collect()]
    assert vals[0] == vals[1]


def test_minhash_bands_udf_matches_expression(spark):
    """The numpy xxhash64 banding UDF must be BIT-IDENTICAL to the
    F.xxhash64 expression formulation for every (band_idx, band_sig) —
    including empty/None texts (zero-min chain) and short texts (< k
    words). Any drift silently changes the candidate set."""
    rows = [
        (1, "alpha beta gamma delta epsilon zeta"),
        (2, "alpha beta gamma delta epsilon zeta"),
        (3, "some other words entirely here now then"),
        (4, ""),
        (5, None),
        (6, "ab"),  # single-word -> short-shingle path
        (7, "x " * 200),  # repeated token
    ] + [(100 + i, f"doc {i} shared prefix words tail{i % 7}") for i in range(50)]
    d = _docs(spark, rows)
    got = sorted(
        (r.doc_id, r.band_idx, r.band_sig)
        for r in dedup.minhash_signatures(d, bands=16, rows=4).collect()
    )
    ref = sorted(
        (r.doc_id, r.band_idx, r.band_sig)
        for r in _expr_minhash_signatures(d, bands=16, rows=4).collect()
    )
    assert got == ref
    # and at the other operating point (the default rows=2)
    got2 = sorted(
        (r.doc_id, r.band_idx, r.band_sig)
        for r in dedup.minhash_signatures(d).collect()
    )
    ref2 = sorted(
        (r.doc_id, r.band_idx, r.band_sig)
        for r in _expr_minhash_signatures(d).collect()
    )
    assert got2 == ref2


def test_xxh64_bytes_matches_spark(spark):
    """The vectorized numpy xxHash64 must agree with Spark's XxHash64
    expression byte-for-byte across every length class (empty, <4, <8,
    8..31 with 4-byte and byte tails, >= 32 stripe path)."""
    import random

    import numpy as np

    from cie_spark.functions import xxh64_bytes_array

    random.seed(3)
    strs = ["", " ", "a", "abc", "abcd", "abcdefg", "abcdefgh", "x" * 31,
            "y" * 32, "z" * 33, "w" * 64, "v" * 100]
    strs += [
        "".join(random.choice("abc XYZ01_") for _ in range(random.randrange(0, 80)))
        for _ in range(500)
    ]
    df = spark.createDataFrame(
        [(i, s) for i, s in enumerate(strs)], "i long, s string"
    )
    ref = {r.i: r.h for r in df.select("i", F.xxhash64("s").alias("h")).collect()}
    got = xxh64_bytes_array([s.encode() for s in strs]).view(np.int64)
    assert all(ref[i] == int(got[i]) for i in range(len(strs)))


def test_shingle_base_udf_matches_expression(spark):
    """The words->shingle->hash UDF must return the identical hs arrays
    (values AND first-occurrence order) as the all-JVM expression twin."""
    rows = [
        (1, "alpha beta gamma delta epsilon zeta"),
        (2, "a b"),          # short-text path (< k words -> one shingle)
        (3, ""),
        (4, None),
        (5, "  padded   whitespace\ttabs\nnewlines  "),
        (6, "Dup dup DUP dup dup dup"),  # repeated shingles -> distinct
    ] + [(10 + i, f"words {i} more shared tail {i % 5} end") for i in range(40)]
    d = _docs(spark, rows)
    src, s = dedup._minhash_bands(d)
    got = {
        r.doc_id: list(r.hs)
        for r in src.select("doc_id", s["hs"].alias("hs")).collect()
    }
    ref = {
        r.doc_id: list(r.hs)
        for r in _expr_hashed_shingle_base(d).collect()
    }
    assert got == ref


def test_jaccard_local_verify_agrees_with_join(spark, monkeypatch):
    """The driver-local verify tier (bounded pair/byte caps) must return
    the identical pair set and identical rounded jaccard values as the
    distributed join verify, including empty-result and None-text cases."""
    rows = [
        (1, "the quick brown fox jumps over the lazy dog today"),
        (2, "the quick brown fox jumps over the lazy dog today"),
        (3, "the quick brown fox jumps over the lazy cat today"),
        (4, "completely different text with no overlap at all here"),
        (5, None),
        (6, ""),
    ] + [(100 + i, f"shared prefix words alpha beta gamma {i % 3} tail") for i in range(30)]
    d = _docs(spark, rows)
    fast = sorted(
        (r.doc_a, r.doc_b, r.jaccard)
        for r in dedup.ngram_jaccard_pairs(d, threshold=0.5).collect()
    )
    monkeypatch.setattr(dedup, "LOCAL_VERIFY_MAX_PAIRS", 0)
    slow = sorted(
        (r.doc_a, r.doc_b, r.jaccard)
        for r in dedup.ngram_jaccard_pairs(d, threshold=0.5).collect()
    )
    assert fast, "agreement test must compare non-empty results"
    assert fast == slow
    # empty-candidate case: schema and zero rows, no failure
    empty = dedup.ngram_jaccard_pairs(
        _docs(spark, [(1, "aa bb cc dd"), (2, "ee ff gg hh")]), threshold=0.9
    )
    assert empty.columns == ["doc_a", "doc_b", "jaccard"]
    assert empty.count() == 0


def test_jaccard_duplicate_doc_ids_match_join_verify(spark, monkeypatch):
    """Duplicate doc_ids make the driver-local verify yield to the join
    verify (the join fans a pair out across every hs row of the id), so
    the default path must return exactly what the pinned join verify
    returns."""
    base = "the quick brown fox jumps over the lazy dog today"
    rows = [
        (1, base),
        (1, base.replace("today", "tonight")),  # duplicate id, other text
        (2, base),
        (3, base.replace("dog", "cat")),
        (4, "completely different text with no overlap at all here"),
    ]
    d = _docs(spark, rows)
    fast = sorted(
        (r.doc_a, r.doc_b, r.jaccard)
        for r in dedup.ngram_jaccard_pairs(d, threshold=0.5).collect()
    )
    monkeypatch.setattr(dedup, "LOCAL_VERIFY_MAX_PAIRS", 0)
    slow = sorted(
        (r.doc_a, r.doc_b, r.jaccard)
        for r in dedup.ngram_jaccard_pairs(d, threshold=0.5).collect()
    )
    assert fast, "agreement test must compare non-empty results"
    assert fast == slow


def test_jaccard_local_verify_budget_is_decided_before_the_fetch(
    spark, monkeypatch
):
    """The verify runs in the JVM over the kept shingle hashes: at default
    settings the only fetch is of verified pairs (bounded by
    LOCAL_VERIFY_MAX_PAIRS), and no collect ever returns an `hs` row."""
    base = "the quick brown fox jumps over the lazy dog today"
    rows = [
        (1, base),
        (2, base),
        (3, base.replace("dog", "cat")),
        (4, "completely different text with no overlap at all here"),
    ]
    d = _docs(spark, rows)
    fetched = []
    frame_cls = type(d)  # the concrete (classic) DataFrame class
    collect = frame_cls.collect

    def spy(self):
        out = collect(self)
        fetched.extend(r for r in out if "hs" in r.asDict())
        return out

    monkeypatch.setattr(frame_cls, "collect", spy)
    got = dedup.ngram_jaccard_pairs(d, threshold=0.5).collect()
    assert got, "the test must fetch non-empty results"
    assert not fetched


def _python_udf_rows(spark, since: set) -> list[int]:
    """Rows out of each ArrowEvalPython node that ran in the SQL executions
    not in `since`, from the SQL status store. A cache scan shows its
    cached plan in every query that reads it, but the node's metrics count
    only in the query that built the cache, so nodes are told apart by
    their accumulator and unrun ones (0 rows) are left out."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    store = spark._jsparkSession.sharedState().statusStore()
    execs = store.executionsList()
    rows = {}
    for i in range(execs.size()):
        eid = execs.apply(i).executionId()
        if eid in since:
            continue
        values = store.executionMetrics(eid)
        nodes = store.planGraph(eid).allNodes()
        accs = set()
        for k in range(nodes.size()):
            node = nodes.apply(k)
            if node.name() == "ArrowEvalPython":
                ms = node.metrics()
                accs |= {
                    m.accumulatorId()
                    for m in (ms.apply(j) for j in range(ms.size()))
                    if m.name() == "number of output rows"
                }
        for acc in accs:
            if values.contains(acc):
                rows[acc] = rows.get(acc, 0) + int(values.apply(acc))
    return [n for n in rows.values() if n]


def _execution_ids(spark) -> set:
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    execs = spark._jsparkSession.sharedState().statusStore().executionsList()
    return {execs.apply(i).executionId() for i in range(execs.size())}


def _jaccard_corpus(spark):
    base = "the quick brown fox jumps over the lazy dog today"
    rows = [(i, f"{base} w{i % 5} tail {i % 3}") for i in range(40)]
    rows += [(100 + i, f"other {i} text about nothing much") for i in range(20)]
    return _docs(spark, rows)


def test_jaccard_shingles_each_document_once(spark, monkeypatch):
    """One ngram_jaccard_pairs call runs the shingle UDF once, over every
    document, on both tiers: the verify reads the hashed shingles the
    signature pass returned, it does not shingle the candidates again."""
    d = _jaccard_corpus(spark)
    n = d.count()
    for cap in (dedup.LOCAL_VERIFY_MAX_PAIRS, 0):
        monkeypatch.setattr(dedup, "LOCAL_VERIFY_MAX_PAIRS", cap)
        since = _execution_ids(spark)
        assert dedup.ngram_jaccard_pairs(d, threshold=0.5).collect()
        assert _python_udf_rows(spark, since) == [n], cap


def test_jaccard_releases_its_cache(spark, monkeypatch):
    """The (doc_id, hs, sigs) rows a call keeps are released when it
    returns: no RDD stays persisted but the result's own materialization —
    none for the driver-held result, its local checkpoint over
    LOCAL_VERIFY_MAX_PAIRS."""
    jsc = spark.sparkContext._jsc
    d = _jaccard_corpus(spark)
    d.count()

    def persisted() -> set:
        return set(jsc.getPersistentRDDs().keySet())

    before = persisted()
    out = dedup.ngram_jaccard_pairs(d, threshold=0.5)
    assert persisted() == before
    assert out.count()

    monkeypatch.setattr(dedup, "LOCAL_VERIFY_MAX_PAIRS", 0)
    out = dedup.ngram_jaccard_pairs(d, threshold=0.5)
    plan = out._jdf.queryExecution().analyzed()
    assert plan.getClass().getSimpleName() == "LogicalRDD"
    assert persisted() - before == {plan.rdd().id()}
    assert out.count()


def test_signature_stage_runs_one_wave(spark, tmp_path):
    """A one-partition input (a one-file parquet scan) is widened to the
    task-slot count (4 under local[4]), not to spark.default.parallelism (8
    in these tests), so the Python signature stage runs in one wave."""
    sc = spark.sparkContext
    slots = dedup._slots(spark)
    assert slots == 4 < sc.defaultParallelism
    _jaccard_corpus(spark).coalesce(1).write.parquet(str(tmp_path / "docs"))
    d = spark.read.parquet(str(tmp_path / "docs"))
    assert d.rdd.getNumPartitions() == 1
    sc.setJobGroup("dedup_one_wave", "signature stage of a one-partition input")
    try:
        assert dedup.minhash_signatures(d).collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    tracker = sc.statusTracker()
    tasks = [
        tracker.getStageInfo(st).numTasks
        for job in tracker.getJobIdsForGroup("dedup_one_wave")
        for st in tracker.getJobInfo(job).stageIds
    ]
    assert tasks and max(tasks) <= slots


def test_slots_never_exceed_shuffle_partitions(spark):
    """The one-wave sizing caps at spark.sql.shuffle.partitions: a
    submitter that sets fewer partitions than there are slots is obeyed."""
    key = "spark.sql.shuffle.partitions"
    saved = spark.conf.get(key)
    assert dedup._slots(spark) == 4
    try:
        spark.conf.set(key, "2")
        assert dedup._slots(spark) == 2
    finally:
        spark.conf.set(key, saved)
