"""Workload ``kg_full``: full index of an events-derived corpus, then a read.

Each iteration runs ``KGPipeline.run(incremental=False)`` into a fresh
warehouse (scan, extract, link, canon, triples, all-bucket MERGE and the
checkpoint commit) and then serves a fixed batch of read-after-write tool
requests through ``cli.serve_loop`` over the snapshot it just committed.

Set-up is the session start, the input build and one cold run, which a
one-shot ``cie index`` user pays.

The corpus is 200 conversations (about 13k turns), not the 1,500 of sf0.1.
On a 4-core host a warm full index costs about the same from 30 to 200
conversations (per-job scheduling dominates at this size; the bucket count
moves it more), while sf0.1 takes about 15 s warm and 32 s cold, more than
one run's share of the benchmark's time budget. The traced run prints the
share of the forced stages spent in extract, link, canon and triples
(``trace.kg_layer_share``).

The traced run (``--trace 1``) adds, after one traced and one untraced
iteration:

- a stage replay: the stage functions called in pipeline order, each
  stage's output forced (cache + count) before the next starts, so extract,
  link, canon and triples get wall times of their own. Spark is lazy, so in
  ``KGPipeline.run`` extraction runs inside the first linking action;
- a live cycle: the corpus landed in a bucketed source ``SnapshotTable``,
  10 seeded conversations edited, ``run_from_table`` and one request for
  each served tool. It measures the incremental and query layers.
"""

from __future__ import annotations

import json
import random
import statistics
import time

from kgbench import inputs
from kgbench.run import check

N_USERS = 200          # one conversation per user, ~67 turns each
N_BUCKETS = 4          # warehouse buckets: one per core of a 4-core host
MIN_ITERS = 1
N_EDITED = 10
TRIPLE_KEY = ["subj", "pred", "obj", "conv_id", "turn_idx", "weight"]

# surfaces, entities and tools that TRANSCRIPTS_FROM_EVENTS_SQL can emit
EVENT_SURFACES = [
    "PostgreSQL", "Postgres", "Spark", "Apache Spark", "Iceberg", "Kafka",
    "DuckDB", "Redis", "k8s", "Snowflake", "ClickHouse", "Terraform",
    "Airflow", "Grafana", "Prometheus", "pandas", "NumPy",
]
EVENT_ENTITIES = [
    "postgresql", "apache-spark", "apache-iceberg", "apache-kafka", "duckdb",
    "redis", "kubernetes", "snowflake", "clickhouse", "terraform", "airflow",
    "grafana", "prometheus", "pandas", "numpy",
]
EVENT_TOOLS = [
    "search", "bash", "sql_query", "http_get", "python", "file_read",
    "code_exec", "notify",
]
# read-after-write round: one request to each tool that reads only the two
# written tables. Tool latencies differ several-fold, so a median over single
# requests jumps between tools; the reported read time is per round.
READ_TOOLS = ["index_status", "find_entity", "find_callers", "conv_summary"]
READ_ROUNDS = 2  # per iteration


def _pipeline(run, wh):
    from cie_spark.plans.pipeline import KGPipeline

    return KGPipeline(run.spark, wh, n_buckets=N_BUCKETS)


def build_transcripts(run):
    from cie_spark import spec

    path = inputs.write_parquet(
        inputs.events_table(run.seed, N_USERS), run.path("in", "events.parquet")
    )
    run.spark.read.parquet(path).createOrReplaceTempView("events")
    t = run.spark.sql(spec.TRANSCRIPTS_FROM_EVENTS_SQL)
    t.count()
    return t


def fingerprint(df) -> tuple:
    """Order-independent digest of a triple set: row count plus two
    xxhash64 lanes summed exactly."""
    from pyspark.sql import functions as F

    cols = [F.col(c).cast("string") for c in TRIPLE_KEY]
    row = df.agg(
        F.count("*"),
        F.sum(F.xxhash64(*cols).cast("decimal(38,0)")),
        F.sum(F.xxhash64(F.lit("lane2"), *cols).cast("decimal(38,0)")),
    ).first()
    return tuple(str(x) for x in row)


def triple_set(df) -> set:
    return {tuple(r) for r in df.select(*TRIPLE_KEY).collect()}


def request_batch(rng: random.Random, tools, n_convs: int) -> list[dict]:
    """One request per tool in shuffled order, arguments drawn from the
    warehouse's id space with about one miss in eight."""
    def conv():
        return f"conv-{rng.randrange(int(n_convs * 1.125)):06d}"

    args = {
        "index_status": lambda: {},
        "index_health": lambda: {},
        "list_tools": lambda: {},
        "find_introduction": lambda: {},
        "top_entities_per_conv": lambda: {"n": rng.choice([3, 5])},
        "find_entity": lambda: {"name": rng.choice(EVENT_SURFACES + ["Zookeeper"])},
        "find_callers": lambda: {"tool_id": "tool:" + rng.choice(EVENT_TOOLS + ["fax"])},
        "find_callees": lambda: {"agent_id": "agent:" + conv()},
        "call_graph": lambda: {"node_id": "tool:" + rng.choice(EVENT_TOOLS)},
        "conv_summary": lambda: {"conv_id": conv()},
        "blame": lambda: {"conv_id": conv()},
        "entity_history": lambda: {"entity_id": "ent:" + rng.choice(EVENT_ENTITIES + ["cobol"])},
        "similar_entities": lambda: {"pattern": rng.choice(["^post", "sql", "ark$", "zz"])},
        "semantic_search": lambda: {"query": rng.choice(
            ["database storage", "stream broker", "metrics dashboard", "frobnicate"])},
        "search_text": lambda: {"pattern": rng.choice(EVENT_SURFACES)},
        "grep": lambda: {"patterns": rng.sample(EVENT_SURFACES, 2)},
        "grep_context": lambda: {"pattern": rng.choice(EVENT_SURFACES)},
        "verify_absence": lambda: {"patterns": [rng.choice(EVENT_SURFACES), "no-such-thing"]},
        "get_code": lambda: {"name": rng.choice(EVENT_TOOLS)},
        "trace_path": lambda: {"src": "ent:" + rng.choice(EVENT_ENTITIES),
                               "dst": "ent:" + rng.choice(EVENT_ENTITIES)},
    }
    reqs = [{"id": i, "tool": t, "args": args[t]()} for i, t in enumerate(tools)]
    rng.shuffle(reqs)
    return reqs


def serve(run, gq, requests: list[dict]) -> list[float]:
    """Send `requests` through cli.serve_loop as one closed-loop client.
    Returns per-request latency in ms; `ok: false` responses are failures.
    With tracing on, each request is a span of layer graph_queries that
    covers the tool call and the collect serve_loop runs after it."""
    from cie_spark.cli import serve_loop

    tracer = run.tracer
    sent: list[float] = []
    lat: list[float] = []
    open_span = []

    def lines():
        for req in requests:
            if tracer is not None:
                open_span.append(tracer.begin(f"graph_queries.{req['tool']}", "graph_queries"))
            sent.append(time.perf_counter())
            yield json.dumps(req) + "\n"

    class Out:
        def write(self, s):
            lat.append((time.perf_counter() - sent[len(lat)]) * 1000.0)
            if tracer is not None:
                tracer.end(open_span.pop())
            run.attempted += 1
            if not json.loads(s).get("ok"):
                run.failed += 1

        def flush(self):
            pass

    served = serve_loop(gq, lines(), Out())
    check(served == len(requests), f"served {served} of {len(requests)} requests")
    return lat


def check_oracle(run, transcripts, committed) -> None:
    """The committed triple set reaches P/R >= 0.95 against the pandas
    oracle on the same transcripts (the test_oracle_parity key)."""
    from cie_spark import oracle

    got = triple_set(committed)
    want = {
        (r.subj, r.pred, r.obj, r.conv_id, int(r.turn_idx), int(r.weight))
        for r in oracle.run(transcripts.toPandas()).itertuples(index=False)
    }
    tp = len(got & want)
    check(got and tp / len(got) >= 0.95, f"precision vs oracle {tp}/{len(got)}")
    check(tp / len(want) >= 0.95, f"recall vs oracle {tp}/{len(want)}")
    run.name("check.oracle_precision", tp / len(got), "ratio")
    run.name("check.oracle_recall", tp / len(want), "ratio")


def index_once(run, transcripts, wh: str, requests: list[dict]):
    """One iteration: full index, then the read-after-write batch."""
    from cie_spark.operators.graph_queries import GraphQueries

    pipe = _pipeline(run, wh)
    t0 = time.perf_counter()
    out = run.op(lambda: pipe.run(transcripts, incremental=False))
    index_s = time.perf_counter() - t0
    check(out.get("dq_violations") == 0, f"data-quality violations: {out}")
    gq = GraphQueries(pipe.triples.read(), pipe.entities.read())
    lat = serve(run, gq, requests)
    return pipe, out, index_s, lat


def main(run, t_start: float) -> None:
    run.start_spark()
    session_s = time.monotonic() - t_start
    t0 = time.perf_counter()
    transcripts = build_transcripts(run)
    input_s = time.perf_counter() - t0
    rng = random.Random(run.seed)

    t0 = time.perf_counter()
    run.op(lambda: _pipeline(run, run.path("wh-cold")).run(
        transcripts, incremental=False))
    cold_s = time.perf_counter() - t0
    run.name("setup.session_s", session_s, "s")
    run.name("setup.input_s", input_s, "s")
    run.name("setup.cold_index_s", cold_s, "s")

    ref_df = _pipeline(run, run.path("wh-cold")).triples.read()
    ref_fp = fingerprint(ref_df)
    if run.trace:
        traced(run, transcripts, rng, ref_fp)
        return
    check_oracle(run, transcripts, ref_df)

    index_s, iter_s, read_ms, request_ms, n_triples = [], [], [], [], []
    t_loop = time.monotonic()
    i = 0
    while run.another(t_loop, iter_s, MIN_ITERS):
        reqs = [r for _ in range(READ_ROUNDS)
                for r in request_batch(rng, READ_TOOLS, N_USERS)]
        t0 = time.monotonic()
        _, out, secs, lat = index_once(run, transcripts, run.path(f"wh{i}"), reqs)
        iter_s.append(time.monotonic() - t0)
        index_s.append(secs)
        n = len(READ_TOOLS)
        read_ms += [sum(lat[k:k + n]) for k in range(0, len(lat), n)]
        request_ms += lat
        n_triples.append(out["triples"])
        i += 1
    check(run.failed == 0, f"{run.failed} failed requests")
    for k in range(i):  # outside the timed loop
        fp = fingerprint(_pipeline(run, run.path(f"wh{k}")).triples.read())
        check(fp == ref_fp, f"iteration {k} committed a different triple set")

    med = run.timing("full_index_s", index_s, "s")
    run.metrics.update(setup_s=session_s + input_s + cold_s, op_s=med)
    run.timing("read_round_ms", read_ms, "ms")
    run.timing("query_ms", request_ms, "ms")
    run.name("full_triples_per_s", statistics.median(n_triples) / med, "triples/s")
    print("samples full_index_s " + " ".join(f"{x:.3f}" for x in index_s))
    print("samples read_round_ms " + " ".join(f"{x:.1f}" for x in read_ms))


# -- traced run -------------------------------------------------------------

def traced(run, transcripts, rng, ref_fp) -> None:
    tracer = run.tracer
    tracer.install()
    with tracer.span("kg_full.index", "pipeline", root=True) as sp:
        pipe, _, traced_s, _ = index_once(run, transcripts, run.path("wh-t"), [])
    run.marks["index"] = sp.id
    # the untraced twin runs second, so the warm-up trend between the two
    # counts as overhead: the figure is an upper bound
    with tracer.pause():
        _, _, untraced_s, _ = index_once(run, transcripts, run.path("wh-u"), [])
    run.metrics["trace.overhead_frac"] = traced_s / untraced_s - 1.0
    run.name("trace.untraced_index_s", untraced_s, "s")
    run.name("trace.traced_index_s", traced_s, "s")

    replay_fp = replay(run, transcripts)
    check(replay_fp == ref_fp, "stage replay committed a different triple set")

    live_cycle(run, transcripts, pipe, rng)
    check(run.failed == 0, f"{run.failed} failed operations")
    run.metrics["peak_rss_mb"] = run.peak_rss_mb()


def replay(run, transcripts) -> tuple:
    """Call the pipeline's stage functions in order and force each stage's
    output before the next starts; commit like KGPipeline.run does and
    return the fingerprint of the committed triples."""
    from pyspark.sql import functions as F

    from cie_spark.functions.embedding_provider import (
        MockEmbeddingProvider, RetryingProvider, embedding_udf,
    )
    from cie_spark.operators import canon, extract, link, triples, validate
    from cie_spark.plans.pipeline import KGPipeline, _merge_entity_surfaces

    spark, tracer = run.spark, run.tracer
    pipe = _pipeline(run, run.path("wh-replay"))
    with tracer.span("replay", "pipeline", root=True) as root:
        with tracer.span("replay.extract", "extract") as sp_extract:
            mentions = extract.extract_mentions(
                transcripts, prose=True, turn_rows=True).cache()
            mentions.count()
            n_mentions = mentions.filter(F.col("kind") != "_turn").count()
        with tracer.span("replay.link", "link") as sp_link:
            ents = mentions.filter(F.col("kind") == "entity")
            rows = link.link_surfaces_rows(spark, ents.select("surface"))
            check(rows is not None, "surface vocabulary exceeded the local tier")
        with tracer.span("replay.canon", "canon") as sp_canon:
            linkmap = spark.createDataFrame(
                canon.canonicalize_rows_local(rows), link.LINKMAP_SCHEMA)
        with tracer.span("replay.apply_links", "link") as sp_apply:
            tool_rows = mentions.filter(F.col("kind") == "tool").select(
                *mentions.columns,
                F.concat(F.lit("tool:"), link.CF.norm_col("surface")).alias("entity_id"),
                F.lit("dict").alias("link_tier"),
            )
            linked = (
                ents.join(
                    F.broadcast(linkmap.select("surface", "entity_id", "link_tier")),
                    on="surface", how="left",
                )
                .select(*tool_rows.columns)
                .unionByName(tool_rows)
                .cache()
            )
            linked.count()
        with tracer.span("replay.triples", "triples") as sp_triples:
            checked, dq = validate.validate_triples(triples.all_triples(linked, transcripts))
            trips = checked.cache()
            n_triples = trips.count()
        with tracer.span("replay.delta", "pipeline"):
            delta = KGPipeline._lane_agg(
                mentions.filter(F.col("kind") == "_turn").select(
                    "conv_id", F.col("h1").alias("_h1"), F.col("h2").alias("_h2"))
            ).cache()
            delta.count()
        with tracer.span("replay.materialize", "io_snapshots"):
            pipe.triples.merge(
                trips, keys=["subj", "pred", "obj", "conv_id", "turn_idx"],
                purge=delta.select("conv_id"), purge_keys=["conv_id"],
                purge_covers=True,
            )
            embed = embedding_udf(RetryingProvider(MockEmbeddingProvider()))
            name = F.regexp_replace("entity_id", "^(ent:|tool:)", "")
            ent_df = linked.groupBy("entity_id").agg(
                F.min("kind").alias("kind"),
                F.array_sort(F.collect_set("surface")).alias("surfaces"),
            ).select("entity_id", "kind", name.alias("canonical_name"),
                     "surfaces", embed(name).alias("embedding"))
            pipe.entities.merge(ent_df, keys=["entity_id"], resolve=_merge_entity_surfaces)
            pipe.links.overwrite(linkmap)
        with tracer.span("replay.checkpoint", "io_snapshots"):
            pipe.processed.merge(delta.select("conv_id", "conv_hash", "n_turns"), ["conv_id"])
    for df in (mentions, linked, trips, delta):
        df.unpersist()
    v = dq.get
    run.marks.update(
        replay=root.id, extract=sp_extract.id, link=[sp_link.id, sp_apply.id],
        canon=sp_canon.id, triples=sp_triples.id,
    )
    run.metrics.update({
        "extract.rows_out": n_mentions,
        "link.surfaces": len(rows),
        "triples.rows_out": n_triples,
        "validate.violations": sum(x for k, x in v.items() if k != "rows" and x),
    })
    with tracer.pause():
        return fingerprint(pipe.triples.read())


def live_cycle(run, transcripts, pipe, rng) -> None:
    """Land the corpus as a source table, adopt it, edit 10 conversations,
    reindex incrementally (traced) and serve one request per tool (traced).
    A fresh full index to compare against would push the traced run past
    its time limit on a slow host, so the check is that the edit was
    reindexed and every request succeeded."""
    from pyspark.sql import functions as F

    from cie_spark.cli import SERVE_TOOLS
    from cie_spark.operators.graph_queries import GraphQueries
    from cie_spark.sources.io_snapshots import SnapshotTable

    spark, tracer = run.spark, run.tracer
    src = SnapshotTable(spark, run.path("source"), bucket_key="conv_id",
                        n_buckets=N_BUCKETS)
    with tracer.pause():
        src.overwrite(transcripts)
        adopted = run.op(lambda: pipe.run_from_table(src))
        check(adopted.get("skipped"), f"adopting an indexed source reindexed: {adopted}")
        ids = [f"conv-{u:06d}" for u in rng.sample(range(N_USERS), N_EDITED)]
        subject = rng.choice(EVENT_SURFACES)
        edited = src.read_keys(ids).filter(F.col("turn_idx") == 1).withColumn(
            "text", F.lit(f"edited: now about [[{subject}]] and [[Grafana]]"))
        src.merge(edited, keys=["conv_id", "turn_idx"])

    with tracer.span("kg_full.live", "pipeline", root=True) as sp:
        t0 = time.perf_counter()
        out = run.op(lambda: pipe.run_from_table(src))
        incr_s = time.perf_counter() - t0
    check(not out.get("skipped"), "the edit was not reindexed")
    run.name("incr_index_s", incr_s, "s")
    run.marks["live"] = sp.id

    gq = GraphQueries(pipe.triples.read(), pipe.entities.read(), src.read())
    with tracer.span("kg_full.serve", "cli", root=True) as sp:
        lat = serve(run, gq, request_batch(rng, sorted(SERVE_TOOLS), N_USERS))
    run.marks["serve"] = sp.id
    run.timing("query_ms", lat, "ms")

    from kgbench.hooks import live_files

    run.metrics["io_snapshots.live_files"] = live_files(pipe.triples)


def owned_metrics() -> set[str]:
    """The per-layer metrics this workload measures. The others belong to
    layers it bypasses (dedup, simsearch) and are reported as 0."""
    from cie_spark.cli import SERVE_TOOLS

    from kgbench.spans import engine_metric_names

    return {
        "extract.busy_s", "extract.rows_out", "extract.python_udf_s",
        "extract.arrow_bytes", "link.busy_s", "link.surfaces", "link.jobs",
        "canon.busy_s", "triples.busy_s", "triples.rows_out",
        "validate.violations", "replay.wall_s", "replay.accounted_frac",
        "io_snapshots.merge_triples_s", "io_snapshots.merge_entities_s",
        "io_snapshots.merge_processed_s", "io_snapshots.files_written",
        "io_snapshots.buckets_rewritten", "io_snapshots.commit_retries",
        "io_snapshots.read_s", "io_snapshots.diff_s", "io_snapshots.read_keys_s",
        "io_snapshots.live_files", "io_snapshots.incr_merge_triples_s",
        "io_snapshots.incr_files_written", "io_snapshots.incr_buckets_rewritten",
        "pipeline.jobs", "pipeline.self_s", "pipeline.incr_s", "pipeline.incr_jobs",
        "pipeline.incr_self_s", "pipeline.delta_convs_s",
        "graph_queries.jobs_per_request", "cli.serve_overhead_ms",
        "trace.overhead_frac", "peak_rss_mb",
    } | {f"graph_queries.{t}_ms" for t in SERVE_TOOLS} | engine_metric_names()


def fold_trace(run) -> None:
    """Per-layer metrics from the spans and the event log."""
    from kgbench import spans as S

    sp = run.tracer.spans
    by_id = {s.id: s for s in sp}
    groups = S.fold_event_log(S.read_event_log(run.event_log()))
    kids = S.children_of(sp)
    m = run.metrics
    marks = run.marks

    def under(root_id, prefix):
        ids = S.descendants(sp, root_id)
        return [by_id[i] for i in ids if by_id[i].name.startswith(prefix)]

    def group(span_ids) -> S.GroupStats:
        return S.subtree_stats(sp, groups, span_ids)

    # production full run
    (full,) = under(marks["index"], "pipeline.run")
    m["pipeline.jobs"] = S.jobs_under(sp, groups, full)
    m["pipeline.self_s"] = S.self_time(full, kids.get(full.id, []))
    for table, key in (("triples", "triples"), ("entities", "entities"),
                       ("processed_convs", "processed")):
        merges = under(full.id, f"io_snapshots.merge.{table}")
        m[f"io_snapshots.merge_{key}_s"] = sum(s.dur for s in merges)
    merges = under(full.id, "io_snapshots.merge.")
    m["io_snapshots.files_written"] = sum(s.attrs.get("files", 0) for s in merges)
    m["io_snapshots.buckets_rewritten"] = sum(s.attrs.get("buckets", 0) for s in merges)
    c = run.tracer.counters
    m["io_snapshots.commit_retries"] = c.get("commit_attempts", 0) - c.get("commits", 0)

    # stage replay: its forced stages against the traced production run
    rp = by_id[marks["replay"]]
    stages = kids.get(rp.id, [])
    m["replay.wall_s"] = rp.dur
    m["replay.accounted_frac"] = sum(s.dur for s in stages) / full.dur
    ex = group([marks["extract"]])
    m["extract.busy_s"] = by_id[marks["extract"]].dur
    m["extract.python_udf_s"] = ex.python_s
    m["extract.arrow_bytes"] = ex.python_bytes
    m["link.busy_s"] = sum(by_id[i].dur for i in marks["link"])
    m["link.jobs"] = group(marks["link"]).jobs
    m["canon.busy_s"] = by_id[marks["canon"]].dur
    m["triples.busy_s"] = by_id[marks["triples"]].dur
    kg_layers = sum(m[f"{k}.busy_s"] for k in ("extract", "link", "canon", "triples"))
    run.name("trace.kg_layer_share", kg_layers / sum(s.dur for s in stages), "ratio")

    # live cycle: incremental run and reads
    (incr,) = [s for s in kids.get(marks["live"], []) if s.name == "pipeline.run_from_table"]
    m["pipeline.incr_s"] = incr.dur
    m["pipeline.incr_jobs"] = S.jobs_under(sp, groups, incr)
    m["pipeline.incr_self_s"] = S.self_time(incr, kids.get(incr.id, []))
    m["pipeline.delta_convs_s"] = sum(s.dur for s in under(incr.id, "pipeline.delta_convs"))
    for fn, key in (("read", "read_s"), ("diff_filesets", "diff_s"),
                    ("read_keys", "read_keys_s")):
        m[f"io_snapshots.{key}"] = sum(
            s.dur for s in under(incr.id, "io_snapshots.") if s.name == f"io_snapshots.{fn}")
    imerges = under(incr.id, "io_snapshots.merge.")
    m["io_snapshots.incr_merge_triples_s"] = sum(
        s.dur for s in imerges if s.name.endswith(".triples"))
    m["io_snapshots.incr_files_written"] = sum(s.attrs.get("files", 0) for s in imerges)
    m["io_snapshots.incr_buckets_rewritten"] = sum(s.attrs.get("buckets", 0) for s in imerges)

    # served tools
    reqs = kids.get(marks["serve"], [])
    overhead = []
    for r in reqs:
        tool = r.name.split(".", 1)[1]
        m[f"graph_queries.{tool}_ms"] = r.dur * 1000.0
        st = group([r.id])
        calls = [c for c in kids.get(r.id, []) if c.name.endswith(".call")]
        covered = [(c.start, c.end) for c in calls] + st.job_intervals
        covered = [(max(a, r.start), min(b, r.end)) for a, b in covered]
        overhead.append((r.dur - S.union_length(covered)) * 1000.0)
    m["graph_queries.jobs_per_request"] = (
        sum(S.jobs_under(sp, groups, r) for r in reqs) / len(reqs))
    m["cli.serve_overhead_ms"] = statistics.median(overhead)

    m.update(S.engine_metrics(sp, groups))

