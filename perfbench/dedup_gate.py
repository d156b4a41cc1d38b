"""dedup_gate: closed-loop, near-dup-gated streaming ingest.

Set-up seeds a MinHash index and a dense `semantic_index` gate from seeded
documents. Each measured epoch drops one seeded JSONL micro-batch (~60%
fresh docs, ~20% exact copies, ~20% 1-3%-token edits of earlier docs, some
copies inside the same batch) into the source directory and drains it with
`stream_ingest_deduped` (availableNow, one file per trigger; MinHash gate,
dense gate, ParquetAcceptedSink, EpochLedger, inline compaction), then
runs IVF searches against the gate index the adds keep growing."""

from __future__ import annotations

import os
import random
import time

import checks
import gen
import steps
from common import DIM, IVF_CLUSTERS, Context, p50, p90
from tracing import dir_stats

SEED_DOCS = 30
BATCH_DOCS = 40
MIN_EPOCHS = 1
MAX_EPOCHS = 10
SEARCHES_PER_EPOCH = 8
WARM_SEARCHES = 2
THRESHOLD = 0.8
SEMANTIC_THRESHOLD = 0.85
COMPACT_EVERY = 2
# a fresh doc below this true Jaccard with every other doc must be kept
JACCARD_FLOOR = 0.5
# untimed queries recall_at_10 is averaged over, on the final gate index
RECALL_QUERIES = 400


class _Traced:
    """Timing proxy around an index or sink handed to the stream. Lazy
    results are materialized inside the span so it covers their execution."""

    def __init__(self, inner, tracer, spans: dict[str, str], counter=None):
        self._inner, self._tr, self._spans, self._counter = inner, tracer, spans, counter

    def __getattr__(self, name):
        attr = getattr(self._inner, name)
        if name not in self._spans:
            return attr

        def call(*args, **kwargs):
            if self._counter is not None and name == "dedup_new":
                self._counter(*args, **kwargs)
            with self._tr.span(self._spans[name]):
                out = attr(*args, **kwargs)
                return out.localCheckpoint() if hasattr(out, "localCheckpoint") else out
        return call


def _count_minhash(ctx: Context, index, threshold: float):
    """Candidate and confirmed pair counts of one gate screen (traced run)."""
    tr = ctx.tracer

    def count(new_docs, threshold=threshold, id_col="doc_id", text_col="text",
              sigs=None):
        with tr.span("trace.counting"):
            cand = index.screen(new_docs, None, id_col, text_col, sigs=sigs).cache()
            tr.count("minhash_index.docs", new_docs.count())
            tr.count("minhash_index.candidates", cand.count())
            tr.count("minhash_index.confirmed",
                     cand.filter(cand.est_jaccard >= threshold).count())
            cand.unpersist()
    return count


def run(ctx: Context) -> None:
    from pyspark.sql import functions as F

    from ocr_vector_db_spark.functions.vector import embed_text, embed_udf
    from ocr_vector_db_spark.operators.ann_index import IVFIndex
    from ocr_vector_db_spark.operators.index_maint import EpochLedger
    from ocr_vector_db_spark.operators.minhash_index import MinHashIndex
    from ocr_vector_db_spark.streaming.pipeline import (
        ParquetAcceptedSink,
        stream_ingest_deduped,
    )

    spark, tr = ctx.spark, ctx.tracer
    gate = os.path.join(ctx.work, "gate")
    source = os.path.join(ctx.work, "source")
    os.makedirs(source)
    seed_rows, batches = gen.stream_batches(ctx.seed, MAX_EPOCHS, BATCH_DOCS, SEED_DOCS)
    batch_files = gen.write_jsonl_batches(os.path.join(ctx.work, "batches"), batches)
    queries = gen.queries(ctx.seed, RECALL_QUERIES + WARM_SEARCHES
                          + MAX_EPOCHS * SEARCHES_PER_EPOCH, ctx.seed)
    recall_set, queries = queries[:RECALL_QUERIES], queries[RECALL_QUERIES:]
    warm, queries = queries[:WARM_SEARCHES], queries[WARM_SEARCHES:]

    # ---- set-up: seed both gate indexes
    seed_df = spark.createDataFrame([(r["doc_id"], r["text"]) for r in seed_rows],
                                    "doc_id long, text string")
    t0 = time.perf_counter()
    with tr.span("minhash_index.build"):
        mh = MinHashIndex.build(spark, seed_df, os.path.join(gate, "mh"),
                                num_hashes=16, bands=4, n=2, n_buckets=16)
    with tr.span("ann_index.build"):
        sem = IVFIndex.build(
            spark, seed_df.select("doc_id", embed_udf(DIM)(F.col("text"))
                                  .alias("embedding")),
            os.path.join(gate, "sem"), num_clusters=IVF_CLUSTERS)
    t_index = time.perf_counter() - t0
    sink = ParquetAcceptedSink(os.path.join(gate, "accepted"))
    ledger = EpochLedger(spark, os.path.join(gate, "mh", "_epochs"))
    probe = steps.IVFProbe(ctx, "doc_id")

    # first searches compile the IVF read path: warm it before timing
    t0 = time.perf_counter()
    tracing, tr.enabled = tr.enabled, False
    for qtext in warm:
        probe.search(sem, embed_text(qtext, DIM))
    tr.enabled = tracing
    probe.latencies.clear()
    ctx.diagnostics["warmup_s"] = time.perf_counter() - t0
    _, bytes_before = dir_stats(gate)

    # ---- measured window: one micro-batch per epoch, then searches
    ctx.begin_window()
    rng = random.Random(f"gate-{ctx.seed}")
    drain_s, trigger_s, docs_in, bytes_in = 0.0, [], 0, 0
    sent: list[list[dict]] = []
    e = 0
    n_search = 0
    while e < MAX_EPOCHS and (e < MIN_EPOCHS or ctx.elapsed() < ctx.seconds):
        tr.enabled = ctx.trace
        tr.request_id = f"epoch-{e}"
        os.replace(batch_files[e], os.path.join(source, os.path.basename(batch_files[e])))
        stats: list = []
        idx, sem_idx, acc = mh, sem, sink
        if tr.enabled:
            idx = _Traced(mh, tr, {"dedup_new": "minhash_index.screen",
                                   "add": "minhash_index.add",
                                   "compact": "minhash_index.compact"},
                          _count_minhash(ctx, mh, THRESHOLD))
            sem_idx = _Traced(sem, tr, {"dense_dropped_ids": "ann_index.dense_dropped_ids",
                                        "screen_near_dups": "ann_index.screen_near_dups",
                                        "add": "ann_index.add"})
            acc = _Traced(sink, tr, {"write": "streaming.sink_write"})
        t = time.perf_counter()
        with tr.span("streaming.epoch") as span:
            q = stream_ingest_deduped(
                spark.readStream.schema("doc_id long, text string")
                .option("maxFilesPerTrigger", 1).json(source),
                idx, acc, threshold=THRESHOLD, stats=stats,
                checkpoint=os.path.join(gate, "checkpoint"), ledger=ledger,
                compact_every=COMPACT_EVERY, semantic_index=sem_idx,
                semantic_threshold=SEMANTIC_THRESHOLD,
            )
            q.awaitTermination()
        wall = time.perf_counter() - t
        drain_s += wall
        progress = [p for p in q.recentProgress if p["numInputRows"] > 0]
        ctx.check([] if len(progress) == len(stats) == 1 else
                  [f"epoch {e}: {len(progress)} triggers, {len(stats)} batches"])
        epoch_trigger = sum(p["durationMs"]["triggerExecution"] for p in progress) / 1000
        trigger_s.append(epoch_trigger)
        if span is not None:
            kids = [s for s in tr.spans if s["parent"] == tr.spans.index(span)]
            tr.count("streaming.epochs")
            tr.count("streaming.trigger_s", epoch_trigger)
            tr.count("streaming.self_s",
                     epoch_trigger - sum(s["end"] - s["start"] for s in kids))
        docs_in += len(batches[e])
        bytes_in += os.path.getsize(os.path.join(source, os.path.basename(batch_files[e])))
        sent.append(batches[e])
        # after each epoch: searches against the gate index the adds grew
        replies = []
        for qtext in rng.sample(queries, SEARCHES_PER_EPOCH):
            qv = embed_text(qtext, DIM)
            ctx.op_tracing(n_search)
            tr.request_id = f"search-{n_search}"
            replies.append((qv, probe.search(sem, qv)))
            ctx.record_op("search", n_search, probe.latencies[-1])
            n_search += 1
        # untimed: reference vectors as of this epoch
        table = checks.VectorTable.collect(sem.vectors(), "doc_id")
        for qv, rows in replies:
            probe.check(rows, sem, table, qv)
        e += 1
    ctx.tracer.enabled = ctx.trace
    files_after, bytes_after = dir_stats(gate)
    tr.count("ann_index.files_after_adds", dir_stats(os.path.join(gate, "sem"))[0])
    if tr.enabled:
        # a default-length run drains fewer than COMPACT_EVERY epochs, so the
        # traced run compacts once after the drain to report its cost
        tr.request_id = "compact"
        with tr.span("minhash_index.compact"):
            mh.compact()

    # ---- untimed: score the gate against the planted truth, and check
    # independently that it dropped no fresh doc without a near-duplicate
    accepted = {r.doc_id for r in sink.read(spark).select("doc_id").collect()}
    fails, dup_recall, fresh_keep = checks.score_gate(
        [r for b in sent for r in b], accepted, {r["doc_id"] for r in seed_rows})
    ctx.check(fails)
    ctx.check(checks.check_fresh_kept(
        seed_rows, sent, accepted, lambda text: embed_text(text, DIM),
        JACCARD_FLOOR, SEMANTIC_THRESHOLD))
    ctx.e2e.update({
        "ingest_docs_per_s": docs_in / drain_s,
        "store_bytes_per_input_byte": (bytes_after - bytes_before) / bytes_in,
        "ivf_p50_ms": p50(probe.latencies),
        # one request kind here: the post-epoch searches
        "serve_mean_ms": p50(probe.latencies),
        "recall_at_10": probe.recall(sem, table, recall_set),
    })
    ctx.diagnostics.update(
        epochs=e, batch_docs=BATCH_DOCS, epoch_p50_s=p50(trigger_s),
        index_build_s=t_index, query_p90_ms=p90(probe.latencies),
        gate_docs_per_s=docs_in / drain_s,
        search_after_write_p50_ms=p50(probe.latencies),
        dup_drop_recall=dup_recall, fresh_keep_rate=fresh_keep,
        accepted=len(accepted), gate_files=files_after,
    )
