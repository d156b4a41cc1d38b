"""Building blocks shared by the workloads: the `cli ingest` + `cli index`
call sequence, its decomposed (traced) twin, store integrity counts, and a
checked IVF search."""

from __future__ import annotations

import os
import time

import numpy as np

import checks
from common import DIM, IVF_CLUSTERS, IVF_NPROBE, TOP_K, Context, ms
from tracing import dir_stats

LEX_BUCKETS = 16


def _traced_store(store, tr) -> None:
    """Time each table write inside `save_ingest` (instance-level wrap; the
    store class is untouched)."""
    write, upsert = store.write, store.upsert_by_key

    def traced_write(table, df, mode="overwrite"):
        with tr.span(f"storage.write.{table}"):
            write(table, df, mode)

    def traced_upsert(table, incoming, key):
        with tr.span(f"storage.upsert_{table}"):
            upsert(table, incoming, key)

    store.write = traced_write
    store.upsert_by_key = traced_upsert


def ingest_files(ctx: Context, paths: list[str], store_dir: str):
    """read_files → ingest → EntityStore.save_ingest (the `cli ingest`
    call sequence). Returns (store, seconds)."""
    from ocr_vector_db_spark.sources.ingest import ingest, read_files
    from ocr_vector_db_spark.storage import EntityStore

    tr, spark = ctx.tracer, ctx.spark
    store = EntityStore(spark, store_dir)
    if tr.enabled:
        _traced_store(store, tr)
    t0 = time.perf_counter()
    out = ingest(spark, read_files(spark, paths), dim=DIM)
    with tr.span("storage.save_ingest"):
        store.save_ingest(out)
    return store, time.perf_counter() - t0


def ingest_and_index(ctx: Context, paths: list[str], store_dir: str):
    """`ingest_files`, then IVFIndex.build + LexicalIndex.build (the `cli index`
    call sequence). Returns (store, ivf, lex, ingest_s, index_s)."""
    from ocr_vector_db_spark.operators.ann_index import IVFIndex
    from ocr_vector_db_spark.operators.lexical_index import LexicalIndex

    tr, spark = ctx.tracer, ctx.spark
    store, ingest_s = ingest_files(ctx, paths, store_dir)
    t1 = time.perf_counter()
    emb = store.read("embeddings").withColumnRenamed("fragment_id", "vec_id")
    with tr.span("ann_index.build"):
        ivf = IVFIndex.build(spark, emb, os.path.join(store_dir, "ivf"),
                             num_clusters=IVF_CLUSTERS)
    with tr.span("lexical_index.build"):
        lex = LexicalIndex.build(spark, emb, os.path.join(store_dir, "lex"),
                                 n_buckets=LEX_BUCKETS, id_col="vec_id",
                                 text_col="content")
    t2 = time.perf_counter()
    if tr.enabled:
        files, nbytes = dir_stats(store_dir)
        tr.count("storage.files", files)
        tr.count("storage.bytes", nbytes)
        tr.count("storage.docs", len(paths))
    return store, ivf, lex, ingest_s, t2 - t1


def decompose_ingest(ctx: Context, paths: list[str]) -> None:
    """Traced run only: materialize each public ingest operator's output at
    its boundary, giving per-operator self time and the useful-work ratios."""
    from pyspark.sql import functions as F

    from ocr_vector_db_spark.functions.validators import is_eligible_col
    from ocr_vector_db_spark.sources.ingest import (
        build_embeddings,
        parse_fragments,
        read_files,
    )

    tr, spark = ctx.tracer, ctx.spark
    with tr.span("decomposed.ingest"):
        with tr.span("sources.read_files"):
            files = read_files(spark, paths).localCheckpoint()
        with tr.span("sources.parse_fragments"):
            frags = parse_fragments(files).localCheckpoint()
        with tr.span("functions.build_embeddings"):
            emb = build_embeddings(frags, DIM).localCheckpoint()
        with tr.span("trace.counting"):
            tr.count("sources.docs", files.count())
            tr.count("sources.fragments", frags.count())
            tr.count("functions.eligible",
                     frags.filter(is_eligible_col(F.col("content"))).count())
            tr.count("functions.embedded", emb.count())


def store_counts(store, n_files: int) -> dict:
    """Aggregate counts for `checks.check_store` (untimed)."""
    from pyspark.sql import functions as F

    counts = {"files": n_files}
    keyed = [store.read(table).select(F.lit(table).alias("t"), F.col(key).alias("k"))
             for table, key in (("documents", "id"), ("concepts", "id"),
                                ("fragments", "id"), ("embeddings", "doc_id"))]
    union = keyed[0].unionByName(keyed[1]).unionByName(keyed[2]).unionByName(keyed[3])
    for r in union.groupBy("t").agg(F.count("*").alias("n"),
                                    F.countDistinct("k").alias("d")).collect():
        counts[f"{r.t}.rows"], counts[f"{r.t}.distinct_ids"] = r.n, r.d
    emb, concepts = store.read("embeddings"), store.read("concepts")
    counts["embeddings.orphans"] = emb.join(
        concepts.select(F.col("id").alias("parent_id")), "parent_id", "left_anti"
    ).count()
    return counts


def input_bytes(paths: list[str]) -> int:
    return sum(os.path.getsize(p) for p in paths)


class IVFProbe:
    """Timed IVFIndex.search at the shared nprobe, checked afterwards
    against a numpy brute force over the index's collected vectors."""

    def __init__(self, ctx: Context, id_col: str):
        self.ctx = ctx
        self.id_col = id_col
        self.latencies: list[float] = []

    def search(self, ivf, qv: list[float], where=None):
        tr = self.ctx.tracer
        t0 = time.perf_counter()
        with tr.span("query.ivf"), tr.span("ann_index.search"):
            rows = ivf.search(qv, TOP_K, nprobe=IVF_NPROBE, id_col=self.id_col,
                              where=where).collect()
        self.latencies.append(ms(time.perf_counter() - t0))
        if tr.enabled:
            with tr.span("trace.counting"):
                self._count_rows_examined(ivf, qv, len(rows))
        return rows

    def _count_rows_examined(self, ivf, qv, n_results: int) -> None:
        from pyspark.sql import functions as F

        probes = ivf.probe_clusters(qv, IVF_NPROBE)
        sizes = {r["cluster_id"]: r["n"] for r in ivf.vectors().filter(
            F.col("cluster_id").isin(probes)).groupBy("cluster_id").agg(
            F.count("*").alias("n")).collect()}
        self.ctx.tracer.count("ann_index.rows_examined", sum(sizes.values()))
        self.ctx.tracer.count("ann_index.results", n_results)

    def check(self, rows, ivf, table: checks.VectorTable, qv,
              mask: np.ndarray | None = None) -> None:
        self.ctx.check(checks.check_ivf(rows, table, ivf.centroids, qv, TOP_K,
                                        IVF_NPROBE, self.id_col, mask))

    @staticmethod
    def recall(ivf, table: checks.VectorTable, queries: list[str]) -> float:
        """recall@TOP_K of the index over `queries` (untimed): the
        index's own cluster assignment and probe choice against a numpy
        brute force."""
        from ocr_vector_db_spark.functions.vector import embed_text

        return checks.ivf_recall(
            table, lambda qv: ivf.probe_clusters(qv, IVF_NPROBE),
            [embed_text(q, DIM) for q in queries], TOP_K)
