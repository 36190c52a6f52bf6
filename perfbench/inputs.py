"""Seeded benchmark inputs, generated without Spark and cached on disk.

Every input is a pure function of (workload, seed, size) and of the
generator sources: the package's ``corpus.py`` and this file. Documents
come from ``corpus.gen_doc``; the benchmark adds only the planted
near-duplicate copies that give the dedup stages work to do, and the
embedding vectors, which the package has no generator for.

Each table is written as exactly ``FILES`` parquet files, so the scan
task count is the same whatever the core count of the machine that
wrote the cache.
"""

from __future__ import annotations

import hashlib
import os
import re
import shutil
import zlib
from collections import Counter

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from deepseek_ocr_spark import corpus

FILES = 4
KEEP_CACHED = 12  # input sets kept per cache dir; older ones are evicted

# extract: documents + pages of the same docs
EXTRACT_DOCS = 4000
ORACLE_SAMPLE = 200  # docs whose spans are checked against the oracle

# curate: flattened text + planted copies of every 10th long doc, and
# document embeddings with planted near-copies
CURATE_DOCS = 3000
PLANT_EVERY = 10
PLANT_MIN_TOKENS = 80  # one changed word keeps 3-shingle Jaccard >= 0.92
LANGS = ["en"] * 6 + ["zh", "zh", "de", "fr"]
COPY_SUFFIX = "~copy"  # copy ids sort after their sources: min id is kept

VEC_DIM = 64
VEC_BASE = 1000
VEC_CLUSTERS = 20
VEC_PLANTED = 100
VEC_ID_BASE = 1000  # ivf seed ids [VEC_ID_BASE, VEC_ID_BASE + cells) must exist
PLANT_ID_OFFSET = 1_000_000  # copies sort after their sources: min id is kept

DOCS_SCHEMA = pa.schema(
    [
        pa.field("doc_id", pa.string(), nullable=False),
        pa.field(
            "spans",
            pa.list_(
                pa.struct(
                    [
                        ("kind", pa.string()),
                        ("text", pa.string()),
                        ("media_ref", pa.string()),
                        ("offset", pa.int32()),
                    ]
                )
            ),
        ),
    ]
)
PAGES_SCHEMA = pa.schema(
    [
        pa.field("doc_id", pa.string(), nullable=False),
        pa.field("page_no", pa.int32(), nullable=False),
        pa.field("content", pa.string()),
    ]
)
FLAT_SCHEMA = pa.schema(
    [("doc_id", pa.string()), ("text", pa.string()), ("lang", pa.string())]
)
VEC_SCHEMA = pa.schema([("vec_id", pa.int64()), ("embedding", pa.list_(pa.float32()))])


def _source_token() -> str:
    """Hash of every source the generated bytes depend on, so an edit to
    the generator can never reuse a stale cache entry."""
    h = hashlib.md5()
    for path in (corpus.__file__, __file__):
        with open(path, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:10]


def _write(table: pa.Table, path: str) -> None:
    os.makedirs(path)
    step = -(-table.num_rows // FILES)
    for i in range(FILES):
        pq.write_table(table.slice(i * step, step), f"{path}/part-{i:05d}.parquet")


def plant_copy(text: str) -> str | None:
    """A near-duplicate of ``text``: the word nearest its middle that
    the repetition gate cannot notice, overwritten by a new word of the
    same length. That word sits on a line that occurs once and in no
    repeated bigram, so every line and n-gram count and the character
    total stay the same, and the gate treats copy and source alike.
    None when no word qualifies."""
    words = text.lower().split()
    bigrams = Counter(zip(words, words[1:]))
    lines = Counter(text.split("\n"))
    spans = [m.span() for m in re.finditer(r"\S+", text)]
    for i in sorted(range(1, len(words) - 1), key=lambda i: abs(2 * i - len(words))):
        lo, hi = spans[i]
        line = text[text.rfind("\n", 0, lo) + 1:].split("\n", 1)[0]
        if (
            words[i].isalpha()
            and bigrams[words[i - 1], words[i]] == 1
            and bigrams[words[i], words[i + 1]] == 1
            and lines[line] == 1
        ):
            return text[:lo] + "z" * (hi - lo) + text[hi:]
    return None


def _extract_tables(seed: int) -> dict[str, pa.Table]:
    docs, pages = [], []
    for i in range(EXTRACT_DOCS):
        doc_id, spans, doc_pages = corpus.gen_doc(seed, i)
        docs.append({"doc_id": doc_id, "spans": spans})
        pages.extend(
            {"doc_id": doc_id, "page_no": n, "content": c} for n, c in doc_pages
        )
    return {
        "documents": pa.Table.from_pylist(docs, DOCS_SCHEMA),
        "pages": pa.Table.from_pylist(pages, PAGES_SCHEMA),
    }


def curate_rows(seed: int, n_docs: int) -> list[dict]:
    """Flattened (doc_id, text, lang) rows, planted copies included."""
    rows = []
    for i in range(n_docs):
        doc_id, spans, _ = corpus.gen_doc(seed, i)
        text = " ".join(s["text"] or "" for s in spans)
        lang = LANGS[zlib.crc32(doc_id.encode()) % len(LANGS)]
        rows.append({"doc_id": doc_id, "text": text, "lang": lang})
        copy = plant_copy(text) if i % PLANT_EVERY == 0 else None
        if copy is not None and len(text.split()) >= PLANT_MIN_TOKENS:
            rows.append({"doc_id": doc_id + COPY_SUFFIX, "text": copy, "lang": lang})
    return rows


def vector_rows(seed: int) -> tuple[np.ndarray, np.ndarray]:
    """(ids, float32 vectors). Vectors are drawn around VEC_CLUSTERS
    random centres, so the IVF cells follow real density; a copy is its
    source plus noise far below the dedup threshold's angle."""
    rng = np.random.default_rng(np.random.SeedSequence([seed, 64]))
    centres = rng.normal(size=(VEC_CLUSTERS, VEC_DIM))
    members = rng.integers(0, VEC_CLUSTERS, VEC_BASE)
    base = centres[members] + rng.normal(scale=0.6, size=(VEC_BASE, VEC_DIM))
    src = np.sort(rng.choice(VEC_BASE, VEC_PLANTED, replace=False))
    copies = base[src] + rng.normal(scale=1e-4, size=(VEC_PLANTED, VEC_DIM))
    ids = np.concatenate(
        [VEC_ID_BASE + np.arange(VEC_BASE), VEC_ID_BASE + src + PLANT_ID_OFFSET]
    )
    return ids, np.concatenate([base, copies]).astype(np.float32)


def _curate_tables(seed: int) -> dict[str, pa.Table]:
    rows = curate_rows(seed, CURATE_DOCS)
    ids, vecs = vector_rows(seed)
    emb = pa.FixedSizeListArray.from_arrays(vecs.reshape(-1), VEC_DIM).cast(
        pa.list_(pa.float32())
    )
    return {
        "flat": pa.Table.from_pylist(rows, FLAT_SCHEMA),
        "vectors": pa.Table.from_arrays([pa.array(ids), emb], schema=VEC_SCHEMA),
    }


MAKERS = {"extract": _extract_tables, "curate": _curate_tables}


def ensure(workload: str, seed: int, cache_dir: str) -> dict[str, str]:
    """Paths of the workload's input tables, generating them on a miss.
    A set lands under its final name only once complete, so a killed
    generation is never reused."""
    key = f"{workload}-s{seed}-{_source_token()}"
    final = os.path.join(cache_dir, key)
    if not os.path.isdir(final):
        os.makedirs(cache_dir, exist_ok=True)
        tmp = f"{final}.tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        for name, table in MAKERS[workload](seed).items():
            _write(table, os.path.join(tmp, name))
        os.rename(tmp, final)
        _evict(cache_dir, keep=final)
    os.utime(final)
    return {name: os.path.join(final, name) for name in sorted(os.listdir(final))}


def _evict(cache_dir: str, keep: str) -> None:
    entries = sorted(
        (os.path.join(cache_dir, e) for e in os.listdir(cache_dir)),
        key=os.path.getmtime,
        reverse=True,
    )
    for path in entries[KEEP_CACHED:]:
        if path != keep:
            shutil.rmtree(path, ignore_errors=True)
