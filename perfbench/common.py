"""Shared run context: session start, timing helpers, correctness
bookkeeping, and assembly of the end-to-end / per-layer metric objects."""

from __future__ import annotations

import math
import os
import statistics
import time

from tracing import Tracer, descendants, process_tree_peak_rss_mb

# IVF serving parameters shared by every workload
IVF_CLUSTERS = 8
IVF_NPROBE = 6
TOP_K = 10
DIM = 64


def p50(xs: list[float]) -> float:
    return statistics.median(xs)


def p90(xs: list[float]) -> float:
    """Nearest-rank 90th percentile."""
    s = sorted(xs)
    return s[max(0, math.ceil(0.9 * len(s)) - 1)]


def ms(seconds: float) -> float:
    return seconds * 1000.0


def _alive(pid: int) -> bool:
    """True while `pid` runs (a zombie awaiting its reaper has ended)."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


class Context:
    def __init__(self, workload: str, seed: int, seconds: float, trace: bool,
                 work: str, t_process: float):
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.work = work
        self.t_process = t_process
        self.tracer = Tracer(trace)
        self.spark = None
        self.e2e: dict[str, float] = {}
        self.layer: dict[str, float] = {}
        self.diagnostics: dict = {}
        self.failures: list[str] = []
        self.attempted = 0
        self.failed = 0
        self.t_window = None
        # (kind, traced?, latency) per measured operation, for the overhead row
        self.op_latencies: list[tuple[str, bool, float]] = []

    # ------------------------------------------------------------ session

    def start_spark(self, conf: dict[str, str]) -> None:
        from ocr_vector_db_spark.session import get_spark

        t0 = time.perf_counter()
        self.spark = get_spark(f"perfbench-{self.workload}", extra_conf=conf)
        self.layer["session.get_spark_s"] = time.perf_counter() - t0
        self.tracer.attach(self.spark)

    def stop(self) -> None:
        """Stop Spark, end the gateway JVM (it exits when its stdin closes)
        and wait until it and the Python workers it forked have exited."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        proc = getattr(SparkContext._gateway, "proc", None)
        children = descendants()
        self.spark.stop()
        self.spark = None
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
        deadline = time.monotonic() + 30
        while any(_alive(p) for p in children):
            if time.monotonic() > deadline:
                raise RuntimeError("Spark processes still running after stop")
            time.sleep(0.1)

    # ------------------------------------------------------------- timing

    def begin_window(self) -> None:
        """End of set-up: everything before this counts toward setup_s."""
        self.t_window = time.perf_counter()
        self.e2e["setup_s"] = self.t_window - self.t_process

    def elapsed(self) -> float:
        return time.perf_counter() - self.t_window

    def op_tracing(self, i: int) -> None:
        """In the traced run, trace even-numbered operations only, so the
        untraced odd ones give the tracing overhead in the same process."""
        self.tracer.enabled = self.trace and i % 2 == 0

    def record_op(self, kind: str, i: int, latency: float) -> None:
        """Latency of the i-th operation of one kind (the first operation
        of each kind still pays for lazy set-up and is skipped)."""
        if i > 0:
            self.op_latencies.append((kind, self.tracer.enabled, latency))

    # -------------------------------------------------------- correctness

    def check(self, failures: list[str]) -> None:
        """One checked operation."""
        self.attempted += 1
        if failures:
            self.failed += 1
            self.failures.extend(failures)

    # ------------------------------------------------------------ results

    def result(self, spec: dict) -> dict:
        if self.trace:
            self.tracer.enabled = True
            self.tracer.finalize()
            fill_layers(self)
            self.layer["session.peak_rss_mb"] = process_tree_peak_rss_mb()
            self._overhead()
            self.diagnostics["traced_run_end_to_end"] = dict(self.e2e)
            wanted, values = spec["per_layer"], self.layer
        else:
            wanted, values = spec["end_to_end"], self.e2e
        missing = [m["name"] for m in wanted if m["name"] not in values]
        if missing:
            raise RuntimeError(f"metrics not measured: {missing}")
        return {
            "correct": self.failed == 0,
            "attempted": max(self.attempted, 1),
            "failed": self.failed,
            "metrics": {m["name"]: {"value": float(values[m["name"]]),
                                    "unit": m["unit"]} for m in wanted},
        }

    def _overhead(self) -> None:
        """Mean over operation kinds of traced median / untraced median."""
        ratios = []
        for kind in {k for k, _, _ in self.op_latencies}:
            on = [t for k, traced, t in self.op_latencies if k == kind and traced]
            off = [t for k, traced, t in self.op_latencies if k == kind and not traced]
            if on and off:
                ratios.append(p50(on) / p50(off))
        self.layer["tracing.overhead_pct"] = (
            (sum(ratios) / len(ratios) - 1.0) * 100.0 if ratios else 0.0
        )


def fill_layers(ctx: Context) -> None:
    """Per-layer metrics from the run's spans and counters. Layers a
    workload leaves idle report 0."""
    tr, c = ctx.tracer, ctx.tracer.counters
    L = ctx.layer

    def ratio(a: str, b: str) -> float:
        return c[a] / c[b] if c[b] else 0.0

    L["session.warmup_s"] = ctx.diagnostics.get("warmup_s", 0.0)
    for name in ("sources.read_files", "sources.parse_fragments",
                 "functions.build_embeddings", "storage.upsert_parents",
                 "knn.knn_brute_force", "grouping.dedupe_by_content",
                 "context.expand_context", "ann_index.build",
                 "ann_index.search", "ann_index.add",
                 "ann_index.screen_near_dups", "lexical_index.build",
                 "lexical_index.search", "retrieval.hybrid_indexed",
                 "minhash_index.screen", "minhash_index.add",
                 "minhash_index.compact", "streaming.sink_write"):
        L[f"{name}.s"] = tr.mean_self(name)
    for table in ("documents", "concepts", "fragments", "embeddings"):
        L[f"storage.write.{table}.s"] = tr.mean_self(f"storage.write.{table}")
    passes = len(tr.named("storage.save_ingest"))
    src = len(tr.named("sources.read_files"))
    L["sources.fragments_per_doc"] = ratio("sources.fragments", "sources.docs")
    L["sources.jobs"] = (tr.sum_inclusive(["sources.read_files", "sources.parse_fragments"],
                                          "jobs") / src) if src else 0.0
    L["sources.tasks"] = (tr.sum_inclusive(["sources.read_files", "sources.parse_fragments"],
                                           "tasks") / src) if src else 0.0
    L["functions.eligible_ratio"] = ratio("functions.eligible", "sources.fragments")
    L["functions.content_dup_ratio"] = (
        1.0 - ratio("functions.embedded", "functions.eligible")
        if c["functions.eligible"] else 0.0
    )
    L["storage.files_written"] = c["storage.files"] / passes if passes else 0.0
    L["storage.bytes_written"] = c["storage.bytes"] / passes if passes else 0.0
    L["storage.files_per_doc"] = ratio("storage.files", "storage.docs")
    L["storage.jobs"] = tr.mean_inclusive("storage.save_ingest", "jobs")
    L["ann_index.rows_examined_per_result"] = ratio("ann_index.rows_examined",
                                                    "ann_index.results")
    L["ann_index.files_after_adds"] = c["ann_index.files_after_adds"]
    L["lexical_index.buckets_read_per_query"] = ratio("lexical_index.buckets",
                                                      "lexical_index.queries")
    L["minhash_index.candidates_per_doc"] = ratio("minhash_index.candidates",
                                                  "minhash_index.docs")
    L["minhash_index.confirmed_per_candidate"] = ratio("minhash_index.confirmed",
                                                       "minhash_index.candidates")
    for op in ("retrieve", "retrieve_hybrid", "rag_generate"):
        L[f"plans.{op}.plan_s"] = tr.mean_duration(f"plans.{op}.plan")
    for kind in ("dense", "ivf", "hybrid"):
        L[f"plans.jobs_per_query.{kind}"] = tr.mean_inclusive(f"query.{kind}", "jobs")
        L[f"plans.tasks_per_query.{kind}"] = tr.mean_inclusive(f"query.{kind}", "tasks")
    L["streaming.epoch_s"] = ratio("streaming.trigger_s", "streaming.epochs")
    L["streaming.self_s"] = ratio("streaming.self_s", "streaming.epochs")
