"""Independent correctness checks. Each returns a list of failure strings
(empty = correct); the workloads count every failure as a failed
operation."""

from __future__ import annotations

import numpy as np

SIM_TOL = 2e-6  # the engine rounds similarities to 6 decimals


class VectorTable:
    """Collected (id, embedding[, cluster_id]) rows as numpy arrays."""

    def __init__(self, ids: list, vecs: list, clusters: list | None = None):
        self.ids = np.array(ids, dtype=object)
        mat = np.asarray(vecs, dtype=np.float64)
        norms = np.linalg.norm(mat, axis=1)
        norms[norms == 0.0] = 1.0
        self.unit = mat / norms[:, None]
        self.clusters = None if clusters is None else np.asarray(clusters)

    @classmethod
    def collect(cls, df, id_col: str, with_clusters: bool = True):
        cols = [id_col, "embedding"] + (["cluster_id"] if with_clusters else [])
        rows = df.select(*cols).collect()
        return cls([r[0] for r in rows], [r[1] for r in rows],
                   [r[2] for r in rows] if with_clusters else None)

    def sims(self, qv: list[float]) -> np.ndarray:
        q = np.asarray(qv, dtype=np.float64)
        return np.round(self.unit @ (q / np.linalg.norm(q)), 6)

    def topk(self, qv: list[float], k: int, mask: np.ndarray | None = None):
        """[(id, sim)] exact top-k, (sim desc, id asc) like the engine."""
        s = self.sims(qv)
        idx = np.arange(len(s)) if mask is None else np.flatnonzero(mask)
        order = sorted(idx, key=lambda i: (-s[i], self.ids[i]))[:k]
        return [(self.ids[i], float(s[i])) for i in order]

    def sim_by_id(self, qv: list[float], mask: np.ndarray | None = None) -> dict:
        s = self.sims(qv)
        idx = np.arange(len(s)) if mask is None else np.flatnonzero(mask)
        return {self.ids[i]: float(s[i]) for i in idx}


def probe_order(centroids: list[tuple[int, list[float]]], qv: list[float],
                nprobe: int) -> list[int]:
    """The nprobe nearest centroids by cosine (desc), cluster id ascending."""
    q = np.asarray(qv, dtype=np.float64)
    q = q / np.linalg.norm(q)
    scored = []
    for cid, c in centroids:
        c = np.asarray(c, dtype=np.float64)
        n = np.linalg.norm(c)
        scored.append((-(float(c @ q) / n if n else 0.0), cid))
    return [cid for _, cid in sorted(scored)[:nprobe]]


def same_ranking(got: list[tuple], want: list[tuple], truth: dict,
                 what: str) -> list[str]:
    """Compare a returned [(id, sim)] ranking with the reference one,
    tolerant of ties at equal sims: the sim sequences must agree, and every
    returned id must be an eligible row (a key of `truth`, its exact sims)
    whose true sim is the one returned."""
    if len(got) != len(want):
        return [f"{what}: {len(got)} rows, expected {len(want)}"]
    for (gid, gs), (_, ws) in zip(got, want):
        if abs(gs - ws) > SIM_TOL:
            return [f"{what}: similarity {gs} where {ws} expected"]
        if gid not in truth or abs(truth[gid] - gs) > SIM_TOL:
            return [f"{what}: id {gid} does not have similarity {gs}"]
    if len({gid for gid, _ in got}) != len(got):
        return [f"{what}: duplicate ids"]
    return []


def check_ivf(rows, table: VectorTable, centroids, qv, k: int, nprobe: int,
              id_col: str, mask: np.ndarray | None = None) -> list[str]:
    """IVF search = exact search inside the probed clusters (and the
    `where` filter, given as `mask`)."""
    probes = probe_order(centroids, qv, nprobe)
    allowed = np.ones(len(table.ids), bool) if mask is None else mask
    probed = allowed & np.isin(table.clusters, probes)
    got = [(r[id_col], float(r["similarity"])) for r in rows]
    want = table.topk(qv, k, probed)
    return same_ranking(got, want, table.sim_by_id(qv, probed), "ivf search")


def ivf_recall(table: VectorTable, probes_of, qvs: list, k: int) -> float:
    """Mean recall@k of IVF search over the query vectors `qvs`. The IVF
    answer to a query is the exact top-k inside the clusters `probes_of`
    selects for it, which `check_ivf` verifies every timed search returns;
    the reference is the exact top-k over the whole table."""
    total = 0.0
    for qv in qvs:
        probed = np.isin(table.clusters, probes_of(qv))
        got = {i for i, _ in table.topk(qv, k, probed)}
        exact = {i for i, _ in table.topk(qv, k)}
        total += len(got & exact) / max(1, len(exact))
    return total / len(qvs)


def check_dense(rows, table: VectorTable, content: dict, qv, k: int,
                mask: np.ndarray | None) -> list[str]:
    """retrieve = exact top-k over the filtered embeddings, then keep the
    best-ranked row per distinct content."""
    want, seen = [], set()
    for fid, s in table.topk(qv, k, mask):
        if content[fid] not in seen:
            seen.add(content[fid])
            want.append((fid, s))
    got = [(r["fragment_id"], float(r["similarity"])) for r in rows]
    fails = same_ranking(got, want, table.sim_by_id(qv, mask), "dense retrieve")
    if not fails and any(r["parent_content"] is None for r in rows):
        fails.append("dense retrieve: result without parent context")
    return fails


def check_fused(indexed: list, scan: list) -> list[str]:
    """Indexed hybrid must equal the scan-path fusion row for row."""
    a = [(r["id"], round(float(r["rrf"]), 6), int(r["fused_rank"])) for r in indexed]
    b = [(r["id"], round(float(r["rrf"]), 6), int(r["fused_rank"])) for r in scan]
    return [] if a == b else [f"hybrid: indexed {a[:3]}... != scan {b[:3]}..."]


def check_fused_shape(rows: list, k: int) -> list[str]:
    ranks = [int(r["fused_rank"]) for r in rows]
    rrf = [float(r["rrf"]) for r in rows]
    if not rows or len(rows) > k:
        return [f"hybrid: {len(rows)} rows for top-{k}"]
    if ranks != list(range(1, len(rows) + 1)):
        return ["hybrid: fused ranks not 1..n"]
    if any(a < b for a, b in zip(rrf, rrf[1:])):
        return ["hybrid: rrf not non-increasing"]
    return []


def check_store(counts: dict) -> list[str]:
    """Ingest integrity from aggregate counts gathered by the workload."""
    fails = []
    for table in ("documents", "concepts", "fragments", "embeddings"):
        rows, distinct = counts[f"{table}.rows"], counts[f"{table}.distinct_ids"]
        if rows != distinct:
            fails.append(f"{table}: {rows} rows but {distinct} distinct ids")
    if counts["embeddings.orphans"]:
        fails.append(f"{counts['embeddings.orphans']} embeddings without parent")
    if counts["documents.rows"] != counts["files"]:
        fails.append(f"{counts['documents.rows']} documents from "
                     f"{counts['files']} files")
    if counts["embeddings.rows"] == 0:
        fails.append("no embeddings stored")
    return fails


def score_gate(truth: list[dict], accepted: set, indexed_before: set):
    """Score the gate against the planted truth.

    Returns (failures, dup_drop_recall, fresh_keep_rate). An exact or
    intra-batch copy whose original was indexed must be dropped (identical
    text, so both gates are certain); edited copies and fresh docs are
    scored, not failed, since MinHash is approximate."""
    fails = []
    dups = [r for r in truth if r["kind"] in ("exact", "edit", "intra")]
    fresh = [r for r in truth if r["kind"] == "fresh"]
    stray = accepted - {r["doc_id"] for r in truth}
    if stray:
        fails.append(f"{len(stray)} accepted ids that were never sent")
    known = set(indexed_before) | accepted
    for r in dups:
        if r["kind"] != "edit" and r["doc_id"] in accepted and r["of"] in known:
            fails.append(f"exact copy {r['doc_id']} of {r['of']} accepted")
    dropped = sum(1 for r in dups if r["doc_id"] not in accepted)
    kept = sum(1 for r in fresh if r["doc_id"] in accepted)
    return (fails, dropped / len(dups) if dups else 1.0,
            kept / len(fresh) if fresh else 1.0)


def shingles(text: str, n: int = 2) -> set[str]:
    """Distinct n-word shingles of the lower-cased, whitespace-split text
    (the MinHash gate's shingle definition)."""
    toks = text.lower().split()
    return {" ".join(toks[i:i + n]) for i in range(len(toks) - n + 1)}


def jaccard(a: set, b: set) -> float:
    return len(a & b) / len(a | b) if a or b else 1.0


def check_fresh_kept(seed_rows: list[dict], batches: list[list[dict]],
                     accepted: set, embed, jaccard_floor: float,
                     cosine_threshold: float) -> list[str]:
    """The gate must not drop too much. A fresh doc has a near-duplicate
    only if an earlier or same-batch doc reaches `jaccard_floor` true
    shingle Jaccard or `cosine_threshold` cosine between the `embed`
    vectors. A fresh doc with none must be accepted. The floor sits well
    below the gate's Jaccard threshold, because the gate estimates Jaccard
    from a short MinHash signature and may drop a doc a little under it."""
    fails: list[str] = []
    pool: list[dict] = list(seed_rows)
    sh = [shingles(r["text"]) for r in pool]
    vecs = [np.asarray(embed(r["text"]), dtype=np.float64) for r in pool]
    for batch in batches:
        start = len(pool)
        pool += batch
        sh += [shingles(r["text"]) for r in batch]
        vecs += [np.asarray(embed(r["text"]), dtype=np.float64) for r in batch]
        mat = np.array(vecs)
        unit = mat / np.linalg.norm(mat, axis=1)[:, None]
        for i in range(start, len(pool)):
            r = pool[i]
            if r["kind"] != "fresh" or r["doc_id"] in accepted:
                continue
            cos = unit @ unit[i]
            cos[i] = -1.0
            if cos.max() >= cosine_threshold - SIM_TOL:
                continue
            if any(jaccard(sh[i], sh[j]) >= jaccard_floor
                   for j in range(len(pool)) if j != i):
                continue
            fails.append(f"fresh doc {r['doc_id']} has no near-duplicate "
                         "but was dropped")
    return fails
