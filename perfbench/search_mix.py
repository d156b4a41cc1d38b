"""search_mix: closed-loop, one-client top-k serving.

Set-up warms the ingest path on a few throwaway documents, ingests a seeded
corpus and builds the IVF and lexical indexes (the fixture), then warms
each query path. The measured loop sends unique
queries of Zipf-drawn corpus terms, each after the previous reply: ~40%
RetrievalPipeline.retrieve + rag.generate (a third with a view or language
filter), ~30% IVFIndex.search at fixed nprobe (a third with a `where`
filter) and ~30% retrieve_hybrid over the persisted indexes."""

from __future__ import annotations

import os
import random
import time

import numpy as np

import checks
import gen
import steps
from common import DIM, IVF_NPROBE, TOP_K, Context, ms, p50, p90

WARM_DOCS = 2
FIXTURE_DOCS = 40
MIN_QUERIES = 10
MAX_QUERIES = 400
# each deck of 10 requests holds exactly this mix, in seeded order
DECK = ["dense"] * 4 + ["ivf"] * 3 + ["hybrid"] * 3
SCAN_CHECKS = 1  # hybrid queries re-run on the scan path for equality
# IVF searches right after the mix: with the mix's own IVF share they give
# ivf_p50_ms enough samples for a short run
SWEEP_IVF = 6
# untimed queries recall_at_10 is averaged over
RECALL_QUERIES = 400


def effective_request(query: str, view, lang):
    """The (embedded text, view, lang) RetrievalPipeline.retrieve derives
    from a request: self-query filters, then optimizer hints fill unset
    filters and the keyword rewrite is what gets embedded."""
    from ocr_vector_db_spark.plans import query_optimizer
    from ocr_vector_db_spark.plans.pipeline import heuristic_self_query

    f = heuristic_self_query(query)
    view, lang = view or f.get("view"), lang or f.get("lang")
    opt = query_optimizer.optimize(query)
    return opt.rewritten, view or opt.view_hint, lang or opt.language_hint


class Server:
    """The three request kinds, timed end to end from the client's side."""

    def __init__(self, ctx: Context, store, ivf, lex):
        from ocr_vector_db_spark.plans.pipeline import RetrievalPipeline

        self.ctx, self.ivf, self.lex = ctx, ivf, lex
        self.emb, self.parents = store.read("embeddings"), store.read("parents")
        self.pipe = RetrievalPipeline(self.emb, self.parents, dim=DIM,
                                      lexical_index=lex, ivf_index=ivf,
                                      index_id_col="vec_id")
        self.scan_pipe = RetrievalPipeline(self.emb, self.parents, dim=DIM)
        self.probe = steps.IVFProbe(ctx, "vec_id")

    def dense(self, q: str, view, lang):
        from ocr_vector_db_spark.plans import rag

        tr = self.ctx.tracer
        t0 = time.perf_counter()
        with tr.span("plans.retrieve.plan"):
            df = self.pipe.retrieve(q, view=view, language=lang, top_k=TOP_K)
        with tr.span("query.dense"):
            rows = df.collect()
        with tr.span("plans.rag_generate.plan"):
            resp = rag.generate(q, rows, llm=rag.EchoLLM())
        return time.perf_counter() - t0, (rows, resp)

    def ivf_search(self, q: str, text_only: bool):
        from pyspark.sql import functions as F

        from ocr_vector_db_spark.functions.vector import embed_text

        t0 = time.perf_counter()
        rows = self.probe.search(
            self.ivf, embed_text(q, DIM),
            (F.col("view") == "text") if text_only else None)
        return time.perf_counter() - t0, rows

    def hybrid(self, q: str):
        tr = self.ctx.tracer
        t0 = time.perf_counter()
        with tr.span("plans.retrieve_hybrid.plan"):
            df = self.pipe.retrieve_hybrid(q, top_k=TOP_K)
        with tr.span("query.hybrid"):
            rows = df.collect()
        return time.perf_counter() - t0, rows

    # ------------------------------------------- traced-run decomposition

    def decompose_dense(self, q: str, view, lang) -> None:
        from pyspark.sql import functions as F

        from ocr_vector_db_spark.operators import grouping, knn
        from ocr_vector_db_spark.operators.context import expand_context
        from ocr_vector_db_spark.plans.query import QueryPlan

        tr = self.ctx.tracer
        text, view, lang = effective_request(q, view, lang)
        plan = QueryPlan.build(text, view=view, lang=lang, top_k=TOP_K, dim=DIM)
        df = self.emb
        if plan.view:
            df = df.filter(F.col("view") == plan.view)
        if plan.lang:
            df = df.filter(F.col("lang") == plan.lang)
        with tr.span("decomposed.dense"):
            with tr.span("knn.knn_brute_force"):
                top = knn.knn_brute_force(df, plan.embedding, plan.top_k,
                                          id_col="fragment_id").localCheckpoint()
            with tr.span("grouping.dedupe_by_content"):
                top = grouping.dedupe_by_content(
                    top, content_col="content", id_col="fragment_id"
                ).localCheckpoint()
            with tr.span("context.expand_context"):
                expand_context(top, self.parents, preview_chars=800).collect()

    def decompose_hybrid(self, q: str) -> None:
        from pyspark.sql import functions as F

        from ocr_vector_db_spark.functions.vector import embed_text
        from ocr_vector_db_spark.operators import retrieval

        tr, spark = self.ctx.tracer, self.ctx.spark
        terms = [t for t in q.lower().split() if t]
        qv = embed_text(q, DIM)
        k_each = 2 * TOP_K
        with tr.span("decomposed.hybrid"):
            with tr.span("lexical_index.search"):
                self.lex.search(terms, k=k_each).collect()
            with tr.span("ann_index.search"):
                self.ivf.search(qv, k_each, nprobe=len(self.ivf.centroids),
                                id_col="vec_id").collect()
            with tr.span("retrieval.hybrid_indexed"):
                retrieval.hybrid_indexed(self.lex, self.ivf, terms, qv,
                                         k_each=k_each, id_col="vec_id").collect()
            with tr.span("trace.counting"):
                buckets = spark.createDataFrame(
                    [(t,) for t in sorted(set(terms))], "term string"
                ).select(F.pmod(F.xxhash64("term"), F.lit(self.lex.n_buckets))
                         ).distinct().count()
                tr.count("lexical_index.buckets", buckets)
                tr.count("lexical_index.queries")


def run(ctx: Context) -> None:
    from ocr_vector_db_spark.functions.vector import embed_text

    # ---- set-up: warm the ingest path on throwaway docs, so the timed
    # fixture ingest below runs warm; then fixture store + indexes
    docs = gen.corpus_docs(ctx.seed, WARM_DOCS + FIXTURE_DOCS)
    paths = gen.write_corpus(os.path.join(ctx.work, "in"), docs[WARM_DOCS:])
    t0 = time.perf_counter()
    tracing, ctx.tracer.enabled = ctx.tracer.enabled, False
    steps.ingest_files(ctx, gen.write_corpus(os.path.join(ctx.work, "warm-in"),
                                             docs[:WARM_DOCS]),
                       os.path.join(ctx.work, "warm-store"))
    ctx.tracer.enabled = tracing
    warmup_s = time.perf_counter() - t0
    store_dir = os.path.join(ctx.work, "store")
    store, ivf, lex, t_ingest, t_index = steps.ingest_and_index(ctx, paths, store_dir)
    if ctx.tracer.enabled:
        steps.decompose_ingest(ctx, paths)
    _, nbytes = steps.dir_stats(store_dir)
    server = Server(ctx, store, ivf, lex)
    queries = gen.queries(ctx.seed, RECALL_QUERIES + 4 + SWEEP_IVF + MAX_QUERIES,
                          ctx.seed)
    recall_set, queries = queries[:RECALL_QUERIES], queries[RECALL_QUERIES:]
    warm, sweep, queries = queries[:4], queries[4:4 + SWEEP_IVF], queries[4 + SWEEP_IVF:]

    t0 = time.perf_counter()
    ctx.tracer.enabled = False
    server.dense(warm[0], "text", None)
    server.hybrid(warm[1])
    server.ivf_search(warm[2], True)
    server.ivf_search(warm[3], False)
    ctx.tracer.enabled = tracing
    ctx.diagnostics["warmup_s"] = warmup_s + time.perf_counter() - t0
    server.probe.latencies.clear()

    # ---- measured window: closed loop, one client
    ctx.begin_window()
    rng = random.Random(f"mix-{ctx.seed}")
    done: list[tuple] = []
    lat: dict[str, list[float]] = {k: [] for k in DECK}
    deck: list[str] = []
    i = 0
    while i < MAX_QUERIES and (i < MIN_QUERIES or ctx.elapsed() < ctx.seconds):
        if not deck:
            deck = list(DECK)
            rng.shuffle(deck)
        kind = deck.pop()
        ctx.op_tracing(len(lat[kind]))
        ctx.tracer.request_id = f"{kind}-{i}"
        q = queries[i]
        if kind == "dense":
            view, lang = rng.choice([(None, None), (None, None), ("text", None),
                                     (None, None), ("code", "python"), (None, None)])
            t, out = server.dense(q, view, lang)
            params = (view, lang)
            if ctx.tracer.enabled:
                server.decompose_dense(q, view, lang)
        elif kind == "ivf":
            params = rng.random() < 1 / 3
            t, out = server.ivf_search(q, params)
        else:
            params = None
            t, out = server.hybrid(q)
            if ctx.tracer.enabled:
                server.decompose_hybrid(q)
        ctx.record_op(kind, len(lat[kind]), t)
        lat[kind].append(ms(t))
        done.append((kind, q, params, out))
        i += 1
    ctx.tracer.enabled = ctx.trace
    mix_latencies = lat["dense"] + lat["ivf"] + lat["hybrid"]
    mix_counts = {k: len(v) for k, v in lat.items()}
    for q in sweep:
        n = len(lat["ivf"])
        ctx.op_tracing(n)
        ctx.tracer.request_id = f"ivf-sweep-{n}"
        t, out = server.ivf_search(q, False)
        ctx.record_op("ivf", n, t)
        lat["ivf"].append(ms(t))
        done.append(("ivf", q, False, out))
    ctx.tracer.enabled = ctx.trace

    # ---- untimed: check the store and every reply
    ctx.check(checks.check_store(steps.store_counts(store, len(paths))))
    vec_rows = ivf.vectors().select("vec_id", "embedding", "cluster_id", "view",
                                    "lang", "content").collect()
    table = checks.VectorTable([r.vec_id for r in vec_rows],
                               [r.embedding for r in vec_rows],
                               [r.cluster_id for r in vec_rows])
    views = np.array([r.view for r in vec_rows], dtype=object)
    langs = np.array([r.lang for r in vec_rows], dtype=object)
    content = {r.vec_id: r.content for r in vec_rows}
    scans = 0
    for kind, q, params, out in done:
        if kind == "dense":
            rows, resp = out
            text, view, lang = effective_request(q, *params)
            mask = np.ones(len(table.ids), bool)
            if view:
                mask &= views == view
            if lang:
                mask &= langs == lang
            fails = checks.check_dense(rows, table, content, embed_text(text, DIM),
                                       TOP_K, mask)
            if rows and resp.model != "echo-llm":
                fails.append("rag: answer not generated from the results")
            ctx.check(fails)
        elif kind == "ivf":
            server.probe.check(out, ivf, table, embed_text(q, DIM),
                               (views == "text") if params else None)
        else:
            fails = checks.check_fused_shape(out, TOP_K)
            if scans < SCAN_CHECKS:
                scans += 1
                fails += checks.check_fused(
                    out, server.scan_pipe.retrieve_hybrid(q, top_k=TOP_K).collect())
            ctx.check(fails)

    ctx.e2e.update({
        "ingest_docs_per_s": len(paths) / t_ingest,
        "store_bytes_per_input_byte": nbytes / steps.input_bytes(paths),
        "ivf_p50_ms": p50(lat["ivf"]),
        # per-request latency of the mix: its shares times per-kind medians
        "serve_mean_ms": sum(DECK.count(k) / len(DECK) * p50(lat[k]) for k in lat),
        "recall_at_10": server.probe.recall(ivf, table, recall_set),
    })
    ctx.diagnostics.update(
        queries=mix_counts, sweep_ivf=SWEEP_IVF, ingest_s=t_ingest,
        index_build_s=t_index, query_p90_ms=p90(mix_latencies),
        dense_p50_ms=p50(lat["dense"]),
        hybrid_p50_ms=p50(lat["hybrid"]),
        nprobe=IVF_NPROBE, fixture_docs=FIXTURE_DOCS,
    )
