"""Seeded input generators for the three benchmark workloads.

Everything here is a pure function of its seed: the same seed yields the
same file names, bytes and query strings; the program under test only ever
sees the generated inputs.
"""

from __future__ import annotations

import json
import os
import random

_LATIN_SYLLABLES = [
    "ka", "lo", "mi", "ne", "su", "ta", "vo", "ri", "pe", "do", "za", "qu",
    "bri", "sto", "mar", "len", "tor", "vik", "nal", "gos", "dra", "fen",
]
_HANGUL_SYLLABLES = list("가나다라마바사아자차카타파하검색문서벡터색인데이터")
_BOILERPLATE = [
    "All rights reserved. Unauthorized reproduction of this document is "
    "prohibited without the written consent of the publisher.",
    "This page intentionally describes the standard operating procedure "
    "shared by every team handbook in the archive collection.",
    "For support, contact the documentation desk during business hours; "
    "include the document number printed on the cover page.",
]
_SHORT_LINES = ["Note:", "See above.", "TODO", "ok", "Fig. 2", "END"]


def vocabulary(rng: random.Random, size: int = 600) -> list[str]:
    """Distinct pseudo-words; roughly one in ten is Hangul."""
    words: list[str] = []
    seen: set[str] = set()
    while len(words) < size:
        if rng.random() < 0.1:
            w = "".join(rng.choice(_HANGUL_SYLLABLES) for _ in range(rng.randint(2, 3)))
        else:
            w = "".join(rng.choice(_LATIN_SYLLABLES) for _ in range(rng.randint(2, 4)))
        if w not in seen:
            seen.add(w)
            words.append(w)
    return words


class ZipfWords:
    """Zipf(s=1.1)-weighted draws over a vocabulary."""

    def __init__(self, vocab: list[str], rng: random.Random, s: float = 1.1):
        self.vocab = vocab
        self.rng = rng
        self.weights = [1.0 / (r + 1) ** s for r in range(len(vocab))]

    def words(self, n: int) -> list[str]:
        return self.rng.choices(self.vocab, weights=self.weights, k=n)

    def sentence(self, lo: int = 6, hi: int = 16) -> str:
        ws = self.words(self.rng.randint(lo, hi))
        return " ".join(ws).capitalize() + "."

    def paragraph(self, lo: int = 2, hi: int = 5) -> str:
        return " ".join(self.sentence() for _ in range(self.rng.randint(lo, hi)))


def _code_block(z: ZipfWords, rng: random.Random) -> str:
    lang = rng.choice(["python", "javascript"])
    a, b, c = z.words(3)
    if lang == "python":
        body = (f"def {a}_{b}(x):\n    total = 0\n    for {c} in x:\n"
                f"        total += len({c})\n    return total\n")
    else:
        body = (f"function {a}{b.capitalize()}(x) {{\n  let {c} = 0;\n"
                f"  for (const v of x) {{ {c} += v.length; }}\n  return {c};\n}}\n")
    return f"```{lang}\n{body}```"


def _table(z: ZipfWords, rng: random.Random) -> str:
    rows = ["| term | count | note |", "|---|---|---|"]
    for _ in range(rng.randint(2, 4)):
        w1, w2 = z.words(2)
        rows.append(f"| {w1} | {rng.randint(1, 999)} | {w2} |")
    return "\n".join(rows)


def _markdown_doc(z: ZipfWords, rng: random.Random, title: str) -> str:
    parts = [f"# {title}"]
    for s in range(rng.randint(2, 4)):
        parts.append(f"## {' '.join(z.words(3)).title()}")
        parts.append(z.paragraph())
        roll = rng.random()
        if roll < 0.5:
            parts.append(_code_block(z, rng))
        elif roll < 0.8:
            parts.append(_table(z, rng))
        if rng.random() < 0.3:
            parts.append(rng.choice(_SHORT_LINES))
    if rng.random() < 0.6:
        parts.append(rng.choice(_BOILERPLATE))
    return "\n\n".join(parts) + "\n"


def _text_doc(z: ZipfWords, rng: random.Random, ocr: bool) -> str:
    paras = [z.paragraph() for _ in range(rng.randint(3, 6))]
    if rng.random() < 0.6:
        paras.insert(rng.randint(0, len(paras)), rng.choice(_BOILERPLATE))
    if rng.random() < 0.4:
        paras.append(rng.choice(_SHORT_LINES))
    if ocr:
        # OCR output: hard-wrapped lines inside paragraphs
        wrapped = []
        for p in paras:
            words, line, lines = p.split(), [], []
            for w in words:
                line.append(w)
                if len(" ".join(line)) > 60:
                    lines.append(" ".join(line))
                    line = []
            if line:
                lines.append(" ".join(line))
            wrapped.append("\n".join(lines))
        paras = wrapped
    return "\n\n".join(paras) + "\n"


def corpus_docs(seed: int, n_docs: int) -> list[tuple[str, str]]:
    """[(file name, text)]: ~60% markdown, ~25% .txt, ~15% .ocr.txt."""
    rng = random.Random(f"corpus-{seed}")
    z = ZipfWords(vocabulary(rng), rng)
    out = []
    for i in range(n_docs):
        roll = rng.random()
        title = " ".join(z.words(4)).title()
        if roll < 0.6:
            out.append((f"doc{i:05d}.md", _markdown_doc(z, rng, title)))
        elif roll < 0.85:
            out.append((f"doc{i:05d}.txt", _text_doc(z, rng, ocr=False)))
        else:
            out.append((f"doc{i:05d}.ocr.txt", _text_doc(z, rng, ocr=True)))
    return out


def write_corpus(dirpath: str, docs: list[tuple[str, str]]) -> list[str]:
    os.makedirs(dirpath, exist_ok=True)
    paths = []
    for name, text in docs:
        p = os.path.join(dirpath, name)
        with open(p, "w", encoding="utf-8") as fh:
            fh.write(text)
        paths.append(p)
    return paths


def queries(seed: int, n: int, vocab_seed: int) -> list[str]:
    """n distinct queries of 2-5 Zipf-drawn corpus terms (the corpus
    vocabulary of `vocab_seed`, drawn by an independent stream)."""
    vocab = vocabulary(random.Random(f"corpus-{vocab_seed}"))
    rng = random.Random(f"queries-{seed}")
    z = ZipfWords(vocab, rng)
    seen: set[str] = set()
    out: list[str] = []
    while len(out) < n:
        q = " ".join(z.words(rng.randint(2, 5)))
        if q not in seen:
            seen.add(q)
            out.append(q)
    return out


def _edit(text: str, rng: random.Random, z: ZipfWords) -> str:
    """Replace 1-3% of the tokens (at least one) with other vocabulary."""
    toks = text.split()
    n = max(1, round(len(toks) * rng.uniform(0.01, 0.03)))
    for pos in rng.sample(range(len(toks)), n):
        toks[pos] = z.words(1)[0]
    return " ".join(toks)


def stream_batches(seed: int, n_batches: int, batch_size: int,
                   seed_docs: int) -> tuple[list[dict], list[list[dict]]]:
    """Seed corpus + micro-batches for the dedup gate.

    Returns (seed_rows, batches); each row is {doc_id, text, kind, of}
    where kind is "seed", "fresh", "exact" (a copy of an earlier doc),
    "edit" (1-3% of tokens changed) or "intra" (a copy of a fresh doc in
    the same batch), and `of` names the doc a planted dup copies.
    Per batch: ~60% fresh, ~20% exact, ~20% edited (intra copies count
    toward the exact share)."""
    rng = random.Random(f"stream-{seed}")
    z = ZipfWords(vocabulary(rng), rng)
    next_id = 0

    def fresh_text() -> str:
        return " ".join(z.paragraph(4, 7) for _ in range(2))

    seed_rows = []
    for _ in range(seed_docs):
        seed_rows.append({"doc_id": next_id, "text": fresh_text(),
                          "kind": "seed", "of": None})
        next_id += 1
    earlier = list(seed_rows)
    batches = []
    for _ in range(n_batches):
        n_fresh = round(batch_size * 0.6)
        n_exact = round(batch_size * 0.2)
        n_edit = batch_size - n_fresh - n_exact
        n_intra = max(1, n_exact // 4)
        rows = []
        for _ in range(n_fresh):
            rows.append({"doc_id": next_id, "text": fresh_text(),
                         "kind": "fresh", "of": None})
            next_id += 1
        fresh_here = list(rows)
        for src in rng.sample(fresh_here, n_intra):
            rows.append({"doc_id": next_id, "text": src["text"],
                         "kind": "intra", "of": src["doc_id"]})
            next_id += 1
        for src in rng.sample(earlier, n_exact - n_intra):
            rows.append({"doc_id": next_id, "text": src["text"],
                         "kind": "exact", "of": src["doc_id"]})
            next_id += 1
        for src in rng.sample(earlier, n_edit):
            rows.append({"doc_id": next_id, "text": _edit(src["text"], rng, z),
                         "kind": "edit", "of": src["doc_id"]})
            next_id += 1
        # intra copies carry HIGHER ids than their source, so the gate's
        # keep-min convention keeps the fresh original
        rng.shuffle(rows)
        batches.append(rows)
        earlier.extend(fresh_here)
    return seed_rows, batches


def write_jsonl_batches(dirpath: str, batches: list[list[dict]]) -> list[str]:
    """One JSONL file per micro-batch (doc_id, text only)."""
    os.makedirs(dirpath, exist_ok=True)
    paths = []
    for i, rows in enumerate(batches):
        p = os.path.join(dirpath, f"batch{i:04d}.json")
        with open(p, "w", encoding="utf-8") as fh:
            for r in rows:
                fh.write(json.dumps({"doc_id": r["doc_id"], "text": r["text"]},
                                    ensure_ascii=False) + "\n")
        paths.append(p)
    return paths
