"""Seeded input generator for the benchmark workloads.

The same seed always gives the same bytes. Output is cached by workload
and seed under ``perfbench/data/`` so repeated runs on one seed skip
generation; generation time is never part of a measured metric.

Document text mimics the synthetic ``documents`` table the package's
tests and ``bench.py`` use: a fixed 30-word vocabulary, 10-100 words per
document, and about 5% near-duplicates (an earlier document plus the
token ``dup``). The vocabulary holds the sentiment lexicon's ``fast`` /
``slow`` and the gazetteers' ``customer`` / ``table``, so every flow
route receives rows.

Two input shapes:

* document files (``docs_small``): a seeded format mix
  built with ``tests/fixtures/builders.py``, plus an exact number of
  planted corrupt files (failure port) and image-only PDFs
  (``needs_ocr`` port). ``manifest.json`` records what was planted.
* corpus sources (``corpus_pretrain``): one base documents table and a
  token-salted replica of it (every token suffixed ``~1``, ids shifted),
  so the two sources are token-disjoint as in ``make_sf1.py``; an
  embeddings sidecar whose replica vectors are circular shifts of the
  base vectors, where about 3% of the documents copy the vector of an
  earlier one (semantic duplicates with unrelated text); and a benchmark
  slice (every 97th base document) for decontamination. ``manifest.json``
  lists the planted near-duplicate and semantic-duplicate id pairs.
"""

from __future__ import annotations

import json
import os
import shutil

import numpy as np

VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch").split()
DUP_SHARE = 0.05
SEM_DUP_SHARE = 0.03
EMB_DIM = 64
REPLICA_OFFSET = 100_000_000
BENCH_MOD = 97

# Document-file shapes. ``mix`` is the share of each format among the
# healthy files; ``corrupt`` / ``scanned`` are planted counts.
DOC_SHAPES = {
    "docs_small": {
        "files": 150, "words": 450, "corrupt": 6, "scanned": 4,
        "mix": {"pdf": 0.3, "pdf_z": 0.2, "docx": 0.25, "doc": 0.1,
                "xlsx": 0.15},
    },
}
CORPUS_SHAPE = {"corpus_pretrain": {"docs": 500}}
EXT = {"pdf": ".pdf", "pdf_z": ".pdf", "docx": ".docx", "doc": ".doc",
       "xlsx": ".xlsx", "corrupt_pdf": ".pdf", "corrupt_docx": ".docx",
       "scanned": ".pdf"}

DATA_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")


def _earlier(rng: np.random.Generator, n: int,
             share: float) -> list[tuple[int, int]]:
    """(j, i) pairs, j < i: about ``share`` of the indices i copy j."""
    return [(int(rng.integers(0, i)), i) for i in range(1, n)
            if rng.random() < share]


def documents(rng: np.random.Generator,
              n: int) -> tuple[list[str], list[tuple[int, int]]]:
    """``n`` documents of 10-100 vocabulary words, and the (original,
    near-duplicate) index pairs of the ~5% that are an earlier document
    plus ``dup``."""
    dups = dict((i, j) for j, i in _earlier(rng, n, DUP_SHARE))
    out: list[str] = []
    for i in range(n):
        if i in dups:
            out.append(out[dups[i]] + " dup")
            continue
        k = int(rng.integers(10, 101))
        out.append(" ".join(VOCAB[j] for j in rng.integers(0, len(VOCAB), k)))
    return out, sorted((j, i) for i, j in dups.items())


def _lines(rng: np.random.Generator, words: int) -> list[str]:
    """About ``words`` words as lines of 4-16 words each."""
    lines, total = [], 0
    while total < words:
        k = int(rng.integers(4, 17))
        lines.append(" ".join(VOCAB[j] for j in rng.integers(0, len(VOCAB), k)))
        total += k
    return lines


def _build(kind: str, lines: list[str]) -> bytes:
    from tests.fixtures import builders as b

    if kind == "pdf":
        return b.build_pdf(lines)
    if kind == "pdf_z":
        return b.build_pdf(lines, compress=True)
    if kind == "docx":
        return b.build_docx(lines)
    if kind == "doc":
        return b.build_doc("\r".join(lines))
    if kind == "xlsx":
        rows = []
        for ln in lines:
            w = ln.split(" ")
            rows.append([" ".join(w[:len(w) // 2]), " ".join(w[len(w) // 2:])])
        return b.build_xlsx(rows)
    if kind == "scanned":
        return b.build_scanned_pdf()
    if kind == "corrupt_pdf":
        return b"%PDF-1.4 " + bytes(lines[0], "ascii")
    if kind == "corrupt_docx":
        return b.build_docx(lines)[:64]
    raise ValueError(f"unknown kind {kind!r}")


def _publish(tmp: str, dst: str) -> str:
    """Move a finished ``tmp`` into place; a concurrent winner is kept."""
    try:
        os.rename(tmp, dst)
    except OSError:
        shutil.rmtree(tmp, ignore_errors=True)
    return dst


def make_docs(workload: str, seed: int, root: str = DATA_DIR,
              shape: dict | None = None) -> str:
    """Write the document files of ``workload`` for ``seed``; returns the
    directory, which holds ``files/`` and ``manifest.json``."""
    shape = shape or DOC_SHAPES[workload]
    dst = os.path.join(root, f"{workload}-{seed}")
    if os.path.exists(os.path.join(dst, "manifest.json")):
        return dst
    rng = np.random.default_rng([seed, 1])
    n, n_bad, n_scan = shape["files"], shape["corrupt"], shape["scanned"]
    # exact counts per format, so every seed does the same work
    healthy = n - n_bad - n_scan
    kinds = [k for k, share in shape["mix"].items()
             for _ in range(round(share * healthy))]
    kinds = (kinds + [next(iter(shape["mix"]))] * healthy)[:healthy]
    kinds += ["corrupt_pdf" if i % 2 == 0 else "corrupt_docx"
              for i in range(n_bad)]
    kinds += ["scanned"] * n_scan
    kinds = [kinds[i] for i in rng.permutation(n)]
    tmp = f"{dst}.tmp{os.getpid()}"
    files = os.path.join(tmp, "files")
    os.makedirs(files)
    planted: dict[str, list[str]] = {"failure": [], "needs_ocr": []}
    for i, kind in enumerate(kinds):
        name = f"doc{i:05d}{EXT[kind]}"
        with open(os.path.join(files, name), "wb") as f:
            f.write(_build(kind, _lines(rng, shape["words"])))
        if kind.startswith("corrupt"):
            planted["failure"].append(name)
        elif kind == "scanned":
            planted["needs_ocr"].append(name)
    with open(os.path.join(tmp, "manifest.json"), "w") as f:
        json.dump({"workload": workload, "seed": seed, "files": n,
                   "kinds": {k: kinds.count(k) for k in sorted(set(kinds))},
                   "planted": planted}, f, indent=1)
    return _publish(tmp, dst)


def make_corpus(workload: str, seed: int, root: str = DATA_DIR,
                n_docs: int | None = None) -> str:
    """Write the corpus sources of ``workload`` for ``seed`` as parquet:
    ``source_a``, ``source_b`` (salted replica), ``embeddings`` and
    ``benchmark``. Returns the directory."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    n = n_docs or CORPUS_SHAPE[workload]["docs"]
    dst = os.path.join(root, f"{workload}-{seed}")
    if os.path.exists(os.path.join(dst, "manifest.json")):
        return dst
    rng = np.random.default_rng([seed, 2])
    base, near_dups = documents(rng, n)
    ids = np.arange(n, dtype=np.int64)
    salted = [" ".join(w + "~1" for w in t.split(" ")) for t in base]
    vec = rng.standard_normal((n, EMB_DIM)).astype(np.float32)
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    sem_dups = _earlier(rng, n, SEM_DUP_SHARE)
    for j, i in sem_dups:
        vec[i] = vec[j]
    shifted = np.concatenate([vec[:, 1:], vec[:, :1]], axis=1)
    tmp = f"{dst}.tmp{os.getpid()}"
    os.makedirs(tmp)

    def docs_table(id_arr, texts):
        return pa.table({
            "doc_id": pa.array(id_arr, pa.int64()),
            "text": pa.array(texts, pa.string())})

    pq.write_table(docs_table(ids, base), os.path.join(tmp, "source_a.parquet"))
    pq.write_table(docs_table(ids + REPLICA_OFFSET, salted),
                   os.path.join(tmp, "source_b.parquet"))
    emb_ids = np.concatenate([ids, ids + REPLICA_OFFSET])
    emb = np.concatenate([vec, shifted])
    pq.write_table(pa.table({
        "doc_id": pa.array(emb_ids, pa.int64()),
        "embedding": pa.array(list(emb), pa.list_(pa.float32()))}),
        os.path.join(tmp, "embeddings.parquet"))
    keep = ids % BENCH_MOD == 0
    pq.write_table(pa.table({
        "doc_id": pa.array(ids[keep], pa.int64()),
        "text": pa.array([t for t, k in zip(base, keep) if k], pa.string())}),
        os.path.join(tmp, "benchmark.parquet"))
    with open(os.path.join(tmp, "manifest.json"), "w") as f:
        json.dump({"workload": workload, "seed": seed, "docs": 2 * n,
                   "near_dups": near_dups, "semantic_dups": sem_dups}, f)
    return _publish(tmp, dst)


def make(workload: str, seed: int, root: str = DATA_DIR) -> str:
    """Generate (or reuse) the inputs of ``workload`` for ``seed``."""
    if workload in DOC_SHAPES:
        return make_docs(workload, seed, root)
    return make_corpus(workload, seed, root)
