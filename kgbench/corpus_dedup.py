"""Workload ``corpus_dedup``: the near-duplicate and vector-search operators.

Each pass calls ``exact_groups``, ``ngram_jaccard_pairs(0.8)``,
``simhash_pairs`` and ``cosine_near_dup_pairs(0.9)``, each with its output
fully collected, then answers a fixed set of top-10 queries with
``topk_bruteforce`` and ``topk_lsh``. The KG layers do no work here.

Set-up is the session start, the input build and cache, and one warm-up
pass over a small slice of the inputs: the first call of each operator pays
for starting its Python workers whatever the input size.

Checks, outside the timed region: every pass returns the output of the
first; every pair the first pass emitted is re-verified against exact
similarity computed here from the inputs (no false positives); exact groups
match a recount; the brute-force top-10 holds the true top-10 similarities.
Recall is reported by the traced run as a ratio, not checked.
"""

from __future__ import annotations

import contextlib
import hashlib
import re
import statistics
import time

import numpy as np

from kgbench import inputs
from kgbench.run import check

N_DOCS = 5_000
N_VECS = 2_000
N_QUERIES = 3         # top-10 queries per pass
WARM_DOCS, WARM_VECS = 300, 200
MIN_PASSES = 1
JACCARD = 0.8
COSINE = 0.9
MAX_HAMMING = 3


def _ops():
    from cie_spark.operators import dedup, simsearch

    return [
        ("doc_dedup_exact", "dedup", lambda d, e: dedup.exact_groups(d)),
        ("doc_minhash_pairs", "dedup",
         lambda d, e: dedup.ngram_jaccard_pairs(d, threshold=JACCARD)),
        ("doc_simhash_pairs", "dedup",
         lambda d, e: dedup.simhash_pairs(d, max_hamming=MAX_HAMMING)),
        ("emb_near_dup", "simsearch",
         lambda d, e: simsearch.cosine_near_dup_pairs(e, threshold=COSINE)),
    ]


def build_inputs(run):
    docs_p = inputs.write_parquet(
        inputs.documents_table(run.seed, N_DOCS), run.path("in", "documents.parquet"))
    emb_p = inputs.write_parquet(
        inputs.embeddings_table(run.seed, N_VECS), run.path("in", "embeddings.parquet"))
    docs = run.spark.read.parquet(docs_p).cache()
    emb = run.spark.read.parquet(emb_p).cache()
    docs.count()
    emb.count()
    return docs, emb


def one_pass(run, docs, emb, queries):
    """Returns ({op: seconds}, {op: sorted rows}, [(kind, ms)], [rows])."""
    from cie_spark.operators import simsearch

    tracer = run.tracer
    times, outs = {}, {}
    for name, layer, fn in _ops():
        sp = tracer.begin(f"corpus_dedup.{name}", layer) if tracer else None
        t0 = time.perf_counter()
        rows = run.op(lambda: fn(docs, emb).collect())
        times[name] = time.perf_counter() - t0
        if tracer:
            tracer.end(sp)
        outs[name] = sorted(tuple(r) for r in rows)
    lat, qout = [], []
    for q in queries:
        for kind in ("bruteforce", "lsh"):
            topk = getattr(simsearch, f"topk_{kind}")
            sp = tracer.begin(f"corpus_dedup.topk_{kind}", "simsearch") if tracer else None
            t0 = time.perf_counter()
            rows = run.op(lambda: topk(emb, q, 10).collect())
            lat.append((kind, (time.perf_counter() - t0) * 1000.0))
            if tracer:
                tracer.end(sp)
            qout.append(tuple(tuple(r) for r in rows))
    return times, outs, lat, qout


def warm_up(run, docs, emb, queries) -> float:
    """One pass over the first rows of each input; returns its seconds."""
    small_d, small_e = docs.limit(WARM_DOCS).cache(), emb.limit(WARM_VECS).cache()
    t0 = time.perf_counter()
    with run.tracer.pause() if run.tracer else contextlib.nullcontext():
        one_pass(run, small_d, small_e, queries[:1])
    warm_s = time.perf_counter() - t0
    small_d.unpersist()
    small_e.unpersist()
    return warm_s


def main(run, t_start: float) -> None:
    run.start_spark()
    session_s = time.monotonic() - t_start
    t0 = time.perf_counter()
    docs, emb = build_inputs(run)
    input_s = time.perf_counter() - t0
    queries = inputs.query_vectors(run.seed, N_QUERIES, N_VECS)
    warm_s = warm_up(run, docs, emb, queries)
    run.name("setup.session_s", session_s, "s")
    run.name("setup.input_s", input_s, "s")
    run.name("setup.warmup_pass_s", warm_s, "s")
    if run.trace:
        traced(run, docs, emb, queries)
        return

    per_op: dict[str, list[float]] = {}
    pass_s, iter_s, lat_all, out_all = [], [], [], []
    t_loop = time.monotonic()
    while run.another(t_loop, iter_s, MIN_PASSES):
        t0 = time.monotonic()
        times, outs, lat, qout = one_pass(run, docs, emb, queries)
        iter_s.append(time.monotonic() - t0)
        out_all.append((outs, qout))
        for k, v in times.items():
            per_op.setdefault(k, []).append(v)
        pass_s.append(sum(times.values()))
        lat_all += lat
    # checks, outside the timed loop
    ref_outs, ref_q = out_all[0]
    for i, (outs, qout) in enumerate(out_all):
        check(outs == ref_outs, f"pass {i}: operator output changed between repetitions")
        check(qout == ref_q, f"pass {i}: top-k output changed between repetitions")
    verify(run, ref_outs, ref_q, queries)

    # a read round answers one query with both indexes (see kg_full)
    rounds = [lat_all[k][1] + lat_all[k + 1][1] for k in range(0, len(lat_all), 2)]
    run.metrics.update(
        setup_s=session_s + input_s + warm_s,
        op_s=run.timing("pass_s", pass_s, "s"),
    )
    run.timing("read_round_ms", rounds, "ms")
    for k, v in per_op.items():
        run.timing(f"{k}_s", v, "s")
    for kind in ("bruteforce", "lsh"):
        run.timing(f"ann_topk_{kind}_ms", [ms for k, ms in lat_all if k == kind], "ms")
    print("samples pass_s " + " ".join(f"{x:.3f}" for x in pass_s))
    print("samples read_round_ms " + " ".join(f"{x:.1f}" for x in rounds))


# -- checks -----------------------------------------------------------------

def _norm(text: str) -> str:
    return re.sub(r"\s+", " ", (text or "").lower().strip())


def _shingles(text: str, k: int = 3) -> set:
    ws = _norm(text).split(" ")
    if len(ws) < k:
        return {" ".join(ws)}
    return {" ".join(ws[i:i + k]) for i in range(len(ws) - k + 1)}


def _unit_matrix(seed: int) -> np.ndarray:
    mat = inputs.embedding_matrix(seed, N_VECS).astype(np.float64)
    return mat / np.linalg.norm(mat, axis=1, keepdims=True)


def verify(run, outs, qout, queries) -> None:
    import pandas as pd

    from cie_spark.operators import dedup

    docs = inputs.documents_table(run.seed, N_DOCS).to_pydict()
    text = dict(zip(docs["doc_id"], docs["text"]))
    mat = _unit_matrix(run.seed)

    groups: dict[str, list[int]] = {}
    for i, t in text.items():
        groups.setdefault(hashlib.md5(_norm(t).encode()).hexdigest(), []).append(i)
    want = sorted((fp, len(ids), min(ids)) for fp, ids in groups.items())
    check(outs["doc_dedup_exact"] == want, "exact_groups differs from a recount")

    for a, b, jac in outs["doc_minhash_pairs"]:
        sa, sb = _shingles(text[a]), _shingles(text[b])
        exact = len(sa & sb) / len(sa | sb)
        check(a < b and exact >= JACCARD and abs(exact - jac) < 1e-6,
              f"minhash pair ({a}, {b}, {jac}) has exact Jaccard {exact}")

    ids = sorted(text)
    sh = dedup._simhash64_udf.func(pd.Series([text[i] for i in ids])).to_numpy()
    simh = dict(zip(ids, (int(x) & (2**64 - 1) for x in sh)))
    for a, b, ham in outs["doc_simhash_pairs"]:
        exact = bin(simh[a] ^ simh[b]).count("1")
        check(a < b and exact <= MAX_HAMMING and exact == ham,
              f"simhash pair ({a}, {b}, {ham}) has hamming {exact}")

    for a, b, sim in outs["emb_near_dup"]:
        cos = float(mat[a] @ mat[b])
        check(a < b and cos >= COSINE - 1e-6 and abs(cos - sim) <= 1e-4,
              f"near-dup pair ({a}, {b}, {sim}) has cosine {cos}")

    for qi, q in enumerate(queries):
        qv = np.asarray(q, dtype=np.float64)
        cos = mat @ (qv / np.linalg.norm(qv))
        top = np.sort(cos)[::-1][:10]
        for kind, rows in (("bruteforce", qout[2 * qi]), ("lsh", qout[2 * qi + 1])):
            for vid, sim in rows:
                check(abs(float(cos[vid]) - sim) <= 1e-4,
                      f"topk_{kind} returned ({vid}, {sim}); cosine is {cos[vid]}")
        got = sorted((s for _, s in qout[2 * qi]), reverse=True)
        check(len(got) == 10 and np.allclose(got, top, atol=1e-4),
              f"topk_bruteforce query {qi} misses the true top-10")


# -- traced run -------------------------------------------------------------

def traced(run, docs, emb, queries) -> None:
    from cie_spark.operators import dedup

    tracer = run.tracer
    tracer.install()
    with tracer.span("corpus_dedup.pass", "dedup", root=True) as sp:
        t_t, outs, _, qout = one_pass(run, docs, emb, queries)
    # untraced twin second: the overhead figure is an upper bound (kg_full)
    with tracer.pause():
        t_u, outs_u, _, qout_u = one_pass(run, docs, emb, queries)
    check(outs == outs_u and qout == qout_u, "traced pass output differs")
    verify(run, outs, qout, queries)
    run.marks["pass"] = sp.id
    run.metrics["trace.overhead_frac"] = sum(t_t.values()) / sum(t_u.values()) - 1.0
    run.name("trace.untraced_pass_s", sum(t_u.values()), "s")
    run.name("trace.traced_pass_s", sum(t_t.values()), "s")

    with tracer.pause():
        n_cand = run.op(lambda: dedup.minhash_candidates(docs).count())
    # the exact twin (simsearch.cosine_near_dup_exact) is an all-pairs
    # self-join that takes minutes here; the same definition in numpy
    mat = _unit_matrix(run.seed)
    gram = mat @ mat.T
    exact = {(int(a), int(b)) for a, b in zip(*np.nonzero(np.triu(gram >= COSINE, 1)))}
    pairs = {(a, b) for a, b, _ in outs["emb_near_dup"]}
    recalls = []
    for qi in range(len(queries)):
        bf = {r[0] for r in qout[2 * qi]}
        lsh = {r[0] for r in qout[2 * qi + 1]}
        recalls.append(len(bf & lsh) / len(bf))
    m = run.metrics
    m["dedup.minhash.candidates"] = n_cand
    m["dedup.minhash.pairs"] = len(outs["doc_minhash_pairs"])
    m["dedup.minhash.precision"] = len(outs["doc_minhash_pairs"]) / max(n_cand, 1)
    m["dedup.simhash.pairs"] = len(outs["doc_simhash_pairs"])
    m["simsearch.near_dup.pairs"] = len(pairs)
    m["simsearch.near_dup.recall"] = len(pairs & exact) / len(exact) if exact else 1.0
    m["simsearch.topk_lsh.recall_at_10"] = statistics.mean(recalls)
    check(run.failed == 0, f"{run.failed} failed operations")
    m["peak_rss_mb"] = run.peak_rss_mb()


def owned_metrics() -> set[str]:
    """The per-layer metrics this workload measures. The others belong to
    the KG layers, which it bypasses, and are reported as 0."""
    from kgbench.spans import engine_metric_names

    return {
        "dedup.minhash.candidates", "dedup.minhash.pairs", "dedup.minhash.precision",
        "dedup.minhash.python_udf_s", "dedup.minhash.jobs", "dedup.simhash.pairs",
        "dedup.simhash.python_udf_s", "simsearch.near_dup.pairs",
        "simsearch.near_dup.recall", "simsearch.topk_lsh.recall_at_10",
        "simsearch.jobs", "trace.overhead_frac", "peak_rss_mb",
    } | engine_metric_names()


def fold_trace(run) -> None:
    from kgbench import spans as S

    sp = run.tracer.spans
    groups = S.fold_event_log(S.read_event_log(run.event_log()))
    kids = S.children_of(sp)
    ops = {s.name.split(".", 1)[1]: s for s in kids.get(run.marks["pass"], [])}

    def stats(span) -> S.GroupStats:
        return S.subtree_stats(sp, groups, [span.id])

    m = run.metrics
    mh, shh = stats(ops["doc_minhash_pairs"]), stats(ops["doc_simhash_pairs"])
    m["dedup.minhash.python_udf_s"] = mh.python_s
    m["dedup.minhash.jobs"] = mh.jobs
    m["dedup.simhash.python_udf_s"] = shh.python_s
    m["simsearch.jobs"] = sum(
        stats(s).jobs for s in kids.get(run.marks["pass"], []) if s.layer == "simsearch")
    m.update(S.engine_metrics(sp, groups))
