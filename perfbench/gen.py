"""Seeded input generator.

Every workload's inputs derive from a fixed pool of rows taken from the
sf0.1 test tables (``perfbench/data``: all 5,000 ``documents`` and all 2,000
``embeddings``). The same seed always yields the same tables; the program
under test only ever sees the generated parquet directory.

- ``llm_curation``: a seeded sample of documents whose ids have an
  embedding, the matching embeddings (so ``vec_id`` = ``doc_id`` joins keep
  referential integrity), plus a seeded share of near-duplicates (one
  interior word replaced) so the dedup family finds real pairs.
- ``corpus_daily``: a base slice for the quality model (``cur`` documents
  from the pool against ``raw`` junk documents), then ``DAYS`` daily
  increments over disjoint ascending doc_id intervals. Each day mixes fresh
  pool documents, junk (quality rejects) and near-duplicates of documents
  of earlier days (or, on the first day, of its own earlier documents).
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

POOL_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")

#: llm_curation: documents sampled from the pool ids that carry embeddings.
QUERY_DOCS = 500
#: Share of extra near-duplicate documents, relative to QUERY_DOCS.
QUERY_NEAR_DUP_SHARE = 0.1

#: corpus_daily sizes: base slice (half ``cur``, half ``raw``) and days.
BASE_DOCS = 120
DAYS = 1
DOCS_PER_DAY = 100
#: Per-day shares of junk documents and near-duplicates of earlier docs.
DAY_JUNK_SHARE = 0.1
DAY_NEAR_DUP_SHARE = 0.15
#: Day ``k`` owns doc ids ``[(k + 1) * DAY_ID_STRIDE, (k + 2) * DAY_ID_STRIDE)``.
DAY_ID_STRIDE = 100_000
#: Curated source label the quality model is trained against.
CURATED_SOURCE = "cur"

_JUNK_LETTERS = np.array(list("qxzjkvw"))

DOC_SCHEMA = pa.schema(
    [("doc_id", pa.int64()), ("source", pa.string()), ("text", pa.string())]
)


def _pool(name: str) -> pa.Table:
    return pq.read_table(os.path.join(POOL_DIR, f"{name}.parquet"))


def _write(table: pa.Table, path: str) -> dict:
    pq.write_table(table, path)
    return {"rows": table.num_rows, "bytes": os.path.getsize(path)}


def _near_dup(rng: np.random.Generator, text: str, vocab: np.ndarray) -> str:
    """Replace one interior word, so word 3-gram Jaccard stays far above
    the 0.6 near-duplicate threshold."""
    words = text.split(" ")
    i = int(rng.integers(1, len(words) - 1))
    choices = vocab[vocab != words[i]]
    words[i] = str(choices[int(rng.integers(len(choices)))])
    return " ".join(words)


def _junk(rng: np.random.Generator) -> str:
    n = int(rng.integers(20, 60))
    return " ".join(
        "".join(rng.choice(_JUNK_LETTERS, 3)) for _ in range(n)
    )


def _vocab(texts) -> np.ndarray:
    return np.array(sorted({w for t in texts for w in t.split(" ")}))


def generate_llm_curation(seed: int, out_dir: str) -> dict:
    rng = np.random.default_rng([seed, 1])
    docs = _pool("documents")
    emb = _pool("embeddings")
    ids = np.sort(rng.choice(emb.column("vec_id").to_numpy(), QUERY_DOCS, replace=False))
    doc_ids = docs.column("doc_id").to_numpy()
    sample = docs.take(np.searchsorted(doc_ids, ids))
    vocab = _vocab(sample.column("text").to_pylist())

    n_dup = int(QUERY_DOCS * QUERY_NEAR_DUP_SHARE)
    src_rows = sample.take(np.sort(rng.choice(QUERY_DOCS, n_dup, replace=False))).to_pylist()
    next_id = int(doc_ids.max()) + 1
    dups = []
    for k, row in enumerate(src_rows):
        text = _near_dup(rng, row["text"], vocab)
        dups.append({**row, "doc_id": next_id + k, "text": text, "n_chars": len(text)})
    documents = pa.concat_tables([sample, pa.Table.from_pylist(dups, schema=sample.schema)])

    emb_ids = emb.column("vec_id").to_numpy()
    embeddings = emb.take(np.searchsorted(emb_ids, ids))
    os.makedirs(out_dir, exist_ok=True)
    return {
        "documents": _write(documents, os.path.join(out_dir, "documents.parquet")),
        "embeddings": _write(embeddings, os.path.join(out_dir, "embeddings.parquet")),
    }


def generate_corpus_daily(seed: int, out_dir: str) -> dict:
    rng = np.random.default_rng([seed, 2])
    docs = _pool("documents")
    texts = docs.column("text").to_pylist()
    sources = docs.column("source").to_pylist()
    vocab = _vocab(texts)
    n_junk = round(DOCS_PER_DAY * DAY_JUNK_SHARE)
    n_dup = round(DOCS_PER_DAY * DAY_NEAR_DUP_SHARE)
    n_fresh = DOCS_PER_DAY - n_junk - n_dup
    order = rng.permutation(len(texts))
    take = iter(order[: BASE_DOCS // 2 + DAYS * n_fresh].tolist())

    base = [(i, CURATED_SOURCE, texts[next(take)]) for i in range(BASE_DOCS // 2)]
    base += [(i, "raw", _junk(rng)) for i in range(BASE_DOCS // 2, BASE_DOCS)]
    os.makedirs(out_dir, exist_ok=True)
    manifest = {"base": _write(_doc_table(base), os.path.join(out_dir, "base.parquet"))}

    earlier: list[str] = []
    for day in range(DAYS):
        fresh = [next(take) for _ in range(n_fresh)]
        rows = [(sources[j], texts[j]) for j in fresh]
        rows += [("raw", _junk(rng)) for _ in range(n_junk)]
        # near-duplicates of earlier days, or of this day's own fresh docs
        # on the first day (an intra-increment duplicate)
        origin = earlier or [t for _s, t in rows[:n_fresh]]
        for _ in range(n_dup):
            rows.append(("raw", _near_dup(rng, origin[int(rng.integers(len(origin)))], vocab)))
        rows = [rows[k] for k in rng.permutation(len(rows))]
        first = (day + 1) * DAY_ID_STRIDE
        day_rows = [(first + k, s, t) for k, (s, t) in enumerate(rows)]
        manifest[f"day_{day:02d}"] = _write(
            _doc_table(day_rows), os.path.join(out_dir, f"day_{day:02d}.parquet")
        )
        earlier += [texts[j] for j in fresh]
    return manifest


def _doc_table(rows) -> pa.Table:
    ids, srcs, txts = zip(*rows)
    return pa.table([list(ids), list(srcs), list(txts)], schema=DOC_SCHEMA)


GENERATORS = {
    "llm_curation": generate_llm_curation,
    "corpus_daily": generate_corpus_daily,
}


def generate(workload: str, seed: int, out_dir: str) -> dict:
    """Write ``workload``'s inputs for ``seed`` under ``out_dir`` and return
    ``{table: {rows, bytes}}``."""
    return GENERATORS[workload](seed, out_dir)
