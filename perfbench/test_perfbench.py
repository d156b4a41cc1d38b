"""Self-tests of the benchmark (no Spark needed):

    python3 -m pytest perfbench/ -q
"""

from __future__ import annotations

import ast
import json
import os
import re
import sys

import numpy as np
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import checks  # noqa: E402
import common  # noqa: E402
import gen  # noqa: E402
from tracing import Tracer  # noqa: E402

SPEC = json.load(open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")))
NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


# ----------------------------------------------------------- generators


def _tree(root: str) -> dict[str, bytes]:
    out = {}
    for d, _, names in os.walk(root):
        for n in names:
            p = os.path.join(d, n)
            out[os.path.relpath(p, root)] = open(p, "rb").read()
    return out


def _generate(root: str, seed: int) -> dict[str, bytes]:
    gen.write_corpus(os.path.join(root, "corpus"), gen.corpus_docs(seed, 12))
    _, batches = gen.stream_batches(seed, 3, 20, 10)
    gen.write_jsonl_batches(os.path.join(root, "batches"), batches)
    with open(os.path.join(root, "queries.txt"), "w") as fh:
        fh.write("\n".join(gen.queries(seed, 30, seed)))
    return _tree(root)


def test_same_seed_same_files_and_bytes(tmp_path):
    assert _generate(str(tmp_path / "a"), 7) == _generate(str(tmp_path / "b"), 7)


def test_other_seed_other_bytes(tmp_path):
    a, b = _generate(str(tmp_path / "a"), 7), _generate(str(tmp_path / "b"), 8)
    shared = a.keys() & b.keys()
    assert shared and all(a[k] != b[k] for k in shared)


def test_corpus_shape():
    docs = gen.corpus_docs(3, 60)
    names = [n for n, _ in docs]
    text = "\n".join(t for _, t in docs)
    assert any(n.endswith(".md") for n in names)
    assert any(n.endswith(".ocr.txt") for n in names)
    assert any(n.endswith(".txt") and not n.endswith(".ocr.txt") for n in names)
    assert "```python" in text and "|---|" in text
    assert re.search("[가-힣]", text)
    assert any(len(line.strip()) < 10 for line in text.splitlines() if line.strip())


def test_stream_batches_plant_the_mix():
    seed_rows, batches = gen.stream_batches(5, 4, 40, 20)
    ids = [r["doc_id"] for r in seed_rows] + [r["doc_id"] for b in batches for r in b]
    assert len(ids) == len(set(ids))
    for b in batches:
        kinds = [r["kind"] for r in b]
        assert kinds.count("fresh") == 24
        assert kinds.count("exact") + kinds.count("intra") == 8
        assert kinds.count("edit") == 8
        by_id = {r["doc_id"]: r for r in b}
        for r in b:
            if r["kind"] == "intra":  # keep-min keeps the original
                assert by_id[r["of"]]["text"] == r["text"] and r["of"] < r["doc_id"]


# --------------------------------------------------- metric names / spec


def test_benchmark_json_contract():
    assert set(SPEC) == {"command", "paths", "run_seconds", "workloads",
                         "end_to_end", "per_layer"}
    assert 2 <= len(SPEC["workloads"]) <= 8
    assert 1 <= SPEC["run_seconds"] <= 60
    names = [m["name"] for m in SPEC["end_to_end"] + SPEC["per_layer"]]
    names += [w["name"] for w in SPEC["workloads"]]
    assert len(names) == len(set(names)) and all(NAME.match(n) for n in names)
    for m in SPEC["end_to_end"]:
        assert set(m) == {"name", "unit", "better", "bound"}
        assert 0 < m["bound"] <= 0.25 and UNIT.match(m["unit"])
    for m in SPEC["per_layer"]:
        assert set(m) == {"name", "unit", "better"} and UNIT.match(m["unit"])
    setup = [m for m in SPEC["end_to_end"] if m["name"] == "setup_s"]
    assert setup and setup[0]["unit"] == "s" and setup[0]["better"] == "lower"
    assert setup[0]["bound"] == max(m["bound"] for m in SPEC["end_to_end"])


def _e2e_keys(module: str) -> set[str]:
    """Keys a workload writes into ctx.e2e (setup_s comes from begin_window)."""
    tree = ast.parse(open(os.path.join(HERE, f"{module}.py")).read())
    keys = {"setup_s"}
    for node in ast.walk(tree):
        if (isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute)
                and node.func.attr == "update"
                and isinstance(node.func.value, ast.Attribute)
                and node.func.value.attr == "e2e"):
            keys |= {k.value for k in node.args[0].keys}
    return keys


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_every_workload_emits_exactly_the_end_to_end_metrics(workload):
    assert _e2e_keys(workload) == {m["name"] for m in SPEC["end_to_end"]}


def test_traced_run_emits_exactly_the_per_layer_metrics():
    ctx = common.Context("search_mix", 1, 1.0, True, "", 0.0)
    ctx.layer["session.get_spark_s"] = 1.0  # set by start_spark
    result = ctx.result(SPEC)
    assert set(ctx.layer) == {m["name"] for m in SPEC["per_layer"]}
    assert set(result["metrics"]) == set(ctx.layer)


# ------------------------------------------------- checks fire on damage


def _table():
    rng = np.random.default_rng(0)
    vecs = rng.normal(size=(40, 8))
    return checks.VectorTable([f"v{i:02d}" for i in range(40)], vecs,
                              [i % 4 for i in range(40)]), rng.normal(size=8)


def _ivf_rows(table, qv, probes, k=5):
    mask = np.isin(table.clusters, probes)
    return [{"vec_id": i, "similarity": s} for i, s in table.topk(qv, k, mask)]


def test_ivf_check_passes_and_fires():
    table, qv = _table()
    cents = [(c, table.unit[table.clusters == c].mean(axis=0).tolist()) for c in range(4)]
    rows = _ivf_rows(table, qv, checks.probe_order(cents, qv, 2))
    assert checks.check_ivf(rows, table, cents, qv, 5, 2, "vec_id") == []
    bad = [dict(r) for r in rows]
    bad[0]["similarity"] -= 0.01
    assert checks.check_ivf(bad, table, cents, qv, 5, 2, "vec_id")
    assert checks.check_ivf(rows[:-1], table, cents, qv, 5, 2, "vec_id")


def test_ivf_recall():
    table, qv = _table()
    everything = checks.ivf_recall(table, lambda q: [0, 1, 2, 3], [qv], 5)
    assert everything == 1.0
    assert checks.ivf_recall(table, lambda q: [0], [qv], 5) < 1.0


def test_dense_check_fires_on_wrong_row():
    table, qv = _table()
    content = {i: f"c{n}" for n, i in enumerate(table.ids)}
    rows = [{"fragment_id": i, "similarity": s, "parent_content": "p"}
            for i, s in table.topk(qv, 5)]
    assert checks.check_dense(rows, table, content, qv, 5, None) == []
    outside = next(i for i in table.ids if i not in {r["fragment_id"] for r in rows})
    relabeled = [dict(r) for r in rows]
    relabeled[2]["fragment_id"] = outside  # right score, wrong row
    assert checks.check_dense(relabeled, table, content, qv, 5, None)
    rows[2] = dict(rows[2], fragment_id="v99", similarity=rows[2]["similarity"] + 0.5)
    assert checks.check_dense(rows, table, content, qv, 5, None)


def test_hybrid_checks_fire():
    rows = [{"id": "a", "rrf": 0.03, "fused_rank": 1}, {"id": "b", "rrf": 0.02, "fused_rank": 2}]
    assert checks.check_fused(rows, rows) == [] and checks.check_fused_shape(rows, 10) == []
    swapped = [dict(rows[0], id="b"), dict(rows[1], id="a")]
    assert checks.check_fused(rows, swapped)
    assert checks.check_fused_shape(list(reversed(rows)), 10)


def test_store_check_fires():
    ok = {"files": 3, "embeddings.orphans": 0}
    for t in ("documents", "concepts", "fragments", "embeddings"):
        ok[f"{t}.rows"] = ok[f"{t}.distinct_ids"] = 3
    assert checks.check_store(ok) == []
    assert checks.check_store(dict(ok, **{"fragments.distinct_ids": 2}))
    assert checks.check_store(dict(ok, **{"embeddings.orphans": 1}))
    assert checks.check_store(dict(ok, files=4))


def test_gate_scoring_fires_on_an_accepted_copy():
    truth = [{"doc_id": 10, "kind": "fresh", "of": None},
             {"doc_id": 11, "kind": "exact", "of": 1},
             {"doc_id": 12, "kind": "edit", "of": 1}]
    fails, recall, keep = checks.score_gate(truth, {10}, {1})
    assert fails == [] and recall == 1.0 and keep == 1.0
    fails, recall, _ = checks.score_gate(truth, {10, 11}, {1})
    assert fails and recall == 0.5
    assert checks.score_gate(truth, {10, 99}, {1})[0]


def test_fresh_kept_check_fires_on_an_over_dropping_gate():
    def embed(text):  # distinct texts, orthogonal vectors
        v = np.zeros(64)
        v[sum(map(ord, text)) % 64] = 1.0
        return v

    seed_rows = [{"doc_id": 0, "text": "alpha beta gamma delta", "kind": "seed"}]
    batch = [{"doc_id": 1, "text": "one two three four five", "kind": "fresh"},
             {"doc_id": 2, "text": "alpha beta gamma delta", "kind": "fresh"},
             {"doc_id": 3, "text": "alpha beta gamma delta", "kind": "exact"}]
    # doc 2 copies the seed doc, so dropping it is legitimate
    assert checks.check_fresh_kept(seed_rows, [batch], {1}, embed, 0.5, 0.85) == []
    fails = checks.check_fresh_kept(seed_rows, [batch], set(), embed, 0.5, 0.85)
    assert len(fails) == 1 and "fresh doc 1" in fails[0]


def test_shingles_and_jaccard():
    assert checks.shingles("A b  c") == {"a b", "b c"}
    assert checks.shingles("one") == set()
    assert checks.jaccard({"a b", "b c"}, {"a b"}) == 0.5


# -------------------------------------------------------------- tracing


def test_self_time_subtracts_children():
    tr = Tracer(True)
    tr.request_id = "r1"
    with tr.span("outer"):
        with tr.span("inner"):
            pass
    outer, inner = tr.named("outer")[0], tr.named("inner")[0]
    assert tr.spans[inner]["parent"] == outer
    assert tr.spans[outer]["request_id"] == tr.spans[inner]["request_id"] == "r1"
    assert tr.self_time(outer) == pytest.approx(tr.duration(outer) - tr.duration(inner))


def test_disabled_tracer_records_nothing():
    tr = Tracer(False)
    with tr.span("x") as s:
        tr.count("c")
    assert s is None and tr.spans == [] and not tr.counters
