"""Seeded inputs and their oracles for the extraction benchmark.

Every generator is a pure function of (seed, size).  The program under
test only ever sees the tables written here; the oracle side (expected
spans, expected success, board rows) is built from the same inputs
before any timing starts.

Corpus shapes
-------------
The corpus workload keeps the *shape* of the ROADMAP flagship corpus
``fixtures.corpus.build_corpus(n, 42)`` -- span counts, media tags, pdf
page counts, the heavy-tail document and the ``#err`` refs -- and lets the
seed rename every document, which re-draws every rendered page (layout,
rotation, seal, skew) because pages are a pure function of the media ref.
So at seed 42 the ``mixed`` input IS ``build_corpus(n, 42)``, and every
other seed has the same span and media counts with different pixels.  Drawing
the shape from the seed as well would make a run at benchmark size vary
by 3x in media count (one heavy document holds a quarter of the media).
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SHAPE_SEED = 42  # build_corpus seed the corpus shape comes from


def _ref_for(doc_id: str, offset: int, template_ref: str) -> str:
    """The template ref's media kind, re-keyed to ``doc_id``/``offset``
    (the same grammar build_corpus writes)."""
    scheme, rest = template_ref.split("://", 1)
    return f"{scheme}://{doc_id}/{offset}#{rest.rsplit('#', 1)[1]}"


def mixed_docs(n_docs: int, seed: int) -> list[dict]:
    """The flagship shape: ``build_corpus(n_docs, 42)`` re-keyed to ``seed``."""
    from ocr_spark.fixtures.corpus import build_corpus

    docs = []
    for d, spans in enumerate(build_corpus(n_docs, seed=SHAPE_SEED)["spans"].to_pylist()):
        doc_id = f"doc-{seed}-{d:08d}"
        docs.append(
            {
                "doc_id": doc_id,
                "spans": [
                    {**s, "media_ref": _ref_for(doc_id, s["offset"], s["media_ref"])}
                    if s["kind"] == "media"
                    else s
                    for s in spans
                ],
            }
        )
    return docs


def write_docs(docs: list[dict], path: str) -> str:
    """(doc_id, spans) parquet in the pipeline's input schema."""
    from ocr_spark.fixtures.corpus import SPANS_TYPE

    table = pa.table(
        {
            "doc_id": pa.array([d["doc_id"] for d in docs], pa.string()),
            "spans": pa.array([d["spans"] for d in docs], SPANS_TYPE),
        }
    )
    pq.write_table(table, path)
    return path


def media_refs(docs: list[dict]) -> list[str]:
    return [s["media_ref"] for d in docs for s in d["spans"] if s["kind"] == "media"]


def _span_key(spans) -> tuple:
    return tuple(
        (s["kind"], s["text"], s["media_ref"], int(s["offset"]))
        for s in sorted(spans, key=lambda s: s["offset"])
    )


class CorpusOracle:
    """Expected output per document, from the layout ground truth.

    A document with an ``#err`` ref is expected back with
    ``success=false`` and its original spans (media texts empty); every
    other document with each media text equal to
    ``fixtures.render.expected_media_text``."""

    def __init__(self, docs: list[dict]):
        from ocr_spark.fixtures.render import expected_media_text

        self.expected: dict[str, tuple[tuple, bool]] = {}
        self.useful_media = 0  # media whose text reaches a success=true document
        for d in docs:
            spans = d["spans"]
            ok = not any("#err" in s["media_ref"] for s in spans)
            if ok:
                self.useful_media += sum(s["kind"] == "media" for s in spans)
                spans = [
                    {**s, "text": expected_media_text(s["media_ref"])}
                    if s["kind"] == "media"
                    else s
                    for s in spans
                ]
            self.expected[d["doc_id"]] = (_span_key(spans), ok)

    def count_failed(self, rows: list[dict]) -> int:
        """Documents whose output is missing, duplicated or differs on
        (kind, text, media_ref, offset) or success."""
        seen: dict[str, int] = {}
        wrong = 0
        for r in rows:
            seen[r["doc_id"]] = seen.get(r["doc_id"], 0) + 1
            exp = self.expected.get(r["doc_id"])
            if exp is None:
                continue  # an unknown id cannot be matched to an operation
            if seen[r["doc_id"]] == 1 and (
                _span_key(r["spans"]) != exp[0] or bool(r["success"]) != exp[1]
            ):
                wrong += 1
        missing = sum(1 for k in self.expected if k not in seen)
        duplicated = sum(1 for k, n in seen.items() if n > 1 and k in self.expected)
        return wrong + missing + duplicated


# ---------------------------------------------------------------------------
# board_slice tables: the documents/embeddings tables of the board's sf
# directories, re-drawn from the seed with the shape measured on sf0.1
# (recorded with each query's oracle row counts in
# results/board_tables_shape.json, made by board_shape.py):
#
# * documents: 10-99 words (uniform) drawn uniformly from a 30-word
#   vocabulary; exactly 5% of the documents are a copy of another
#   document's text with " dup" appended (the near-duplicates LSH finds);
#   lang en 40% and zh/es/fr/de 15% each; source ``src{doc_id % 20}``.
# * embeddings: 64-d unit vectors with no cluster structure (isotropic
#   Gaussian, normalised) and a uniform label 0-9 drawn independently.
# ---------------------------------------------------------------------------

_BOARD_WORDS = [
    "the", "fast", "key", "order", "sort", "table", "scan", "merge", "part",
    "window", "small", "hash", "join", "spark", "group", "query", "row",
    "data", "slow", "filter", "customer", "line", "batch", "value", "stream",
    "a", "agg", "big", "column", "vector",
]
_LANGS = (["en", "zh", "es", "fr", "de"], [0.4, 0.15, 0.15, 0.15, 0.15])


def write_board_tables(sf_dir: str, n_docs: int, n_vecs: int, seed: int) -> str:
    """``documents.parquet`` and ``embeddings.parquet`` with sf0.1's shape."""
    rng = np.random.Generator(np.random.PCG64(seed))
    os.makedirs(sf_dir, exist_ok=True)
    words = np.array(_BOARD_WORDS)
    texts = [
        " ".join(rng.choice(words, size=int(rng.integers(10, 100))))
        for _ in range(n_docs)
    ]
    for i in rng.choice(n_docs, size=n_docs // 20, replace=False):
        j = int(rng.integers(0, n_docs - 1))
        texts[i] = texts[j + (j >= i)] + " dup"
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array(range(n_docs), pa.int64()),
                "text": pa.array(texts, pa.string()),
                "lang": pa.array(rng.choice(_LANGS[0], size=n_docs, p=_LANGS[1]).tolist(), pa.string()),
                "source": pa.array([f"src{i % 20}" for i in range(n_docs)], pa.string()),
                "n_chars": pa.array([len(t) for t in texts], pa.int64()),
            }
        ),
        os.path.join(sf_dir, "documents.parquet"),
    )
    vecs = rng.normal(0.0, 1.0, size=(n_vecs, 64))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    pq.write_table(
        pa.table(
            {
                "vec_id": pa.array(range(n_vecs), pa.int64()),
                "embedding": pa.array(
                    [row.tolist() for row in vecs.astype(np.float32)],
                    pa.list_(pa.float32()),
                ),
                "label": pa.array(rng.integers(0, 10, size=n_vecs), pa.int32()),
            }
        ),
        os.path.join(sf_dir, "embeddings.parquet"),
    )
    return sf_dir


def table_shape(sf_dir: str) -> dict:
    """The measured shape of a documents/embeddings pair (what the
    generator above is fitted to)."""
    docs = pq.read_table(os.path.join(sf_dir, "documents.parquet")).to_pydict()
    emb = pq.read_table(os.path.join(sf_dir, "embeddings.parquet")).to_pydict()
    n_words = np.array([len(t.split()) for t in docs["text"]])
    vecs = np.array(emb["embedding"], dtype=np.float64)
    labels = np.array(emb["label"])
    sims = vecs @ vecs.T
    np.fill_diagonal(sims, -1.0)
    # cosine to the centroid of the other vectors of the same label
    own = []
    for k in np.unique(labels):
        members = vecs[labels == k]
        total = members.sum(axis=0)
        for v in members:
            rest = total - v
            own.append(float(v @ rest / np.linalg.norm(rest)))
    langs = {lang: docs["lang"].count(lang) / len(docs["lang"]) for lang in sorted(set(docs["lang"]))}
    return {
        "documents": len(docs["text"]),
        "words_min_mean_max": [int(n_words.min()), round(float(n_words.mean()), 1), int(n_words.max())],
        "vocabulary": len({w for t in docs["text"] for w in t.split()}),
        "dup_suffixed_docs": sum(t.endswith(" dup") for t in docs["text"]),
        "lang_share": {k: round(v, 3) for k, v in langs.items()},
        "sources": len(set(docs["source"])),
        "vectors": len(vecs),
        "dim": int(vecs.shape[1]),
        "labels": int(len(np.unique(labels))),
        "nearest_cos_p5_p50_p95": [round(float(x), 3) for x in np.percentile(sims.max(axis=1), [5, 50, 95])],
        "own_label_centroid_cos_median": round(float(np.median(own)), 3),
    }


BOARD_QUERIES = ("lsh_near_dup", "near_dup_clusters", "knn_graph", "semdedup_prune")


def frame_key(rows, cols) -> list[tuple]:
    """Order-insensitive, value-normalised rows: the comparison of the
    board's correctness harness, ``tools/check_correctness.py``."""
    import sys

    tools = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools")
    if tools not in sys.path:
        sys.path.insert(0, tools)
    from check_correctness import frame_key as harness_frame_key

    return harness_frame_key(rows, cols)


def board_oracle(sf_dir: str) -> dict[str, tuple[list[str], list[tuple]]]:
    """DuckDB rows of ``__spark_entry__.oracle_sql()`` for each board query."""
    import duckdb

    import __spark_entry__ as entry

    sql = entry.oracle_sql()
    con = duckdb.connect()
    con.execute("SET enable_progress_bar = false")
    try:
        for t in ("documents", "embeddings"):
            con.execute(
                f"create view {t} as select * from "
                f"read_parquet('{os.path.join(sf_dir, t)}.parquet')"
            )
        out = {}
        for q in BOARD_QUERIES:
            cur = con.execute(sql[q])
            out[q] = ([d[0] for d in cur.description], cur.fetchall())
        return out
    finally:
        con.close()


def oracle_summary(expected: dict[str, tuple[list[str], list[tuple]]]) -> dict[str, int]:
    """Row counts of the board oracles, and how many rows carry a finding
    (a document in a near-duplicate cluster, a pruned vector)."""
    out = {f"{q}_rows": len(rows) for q, (_cols, rows) in expected.items()}
    if "near_dup_clusters" in expected:
        cols, rows = expected["near_dup_clusters"]
        size = cols.index("cluster_size")
        out["near_dup_clusters_clustered_docs"] = sum(r[size] > 1 for r in rows)
    if "semdedup_prune" in expected:
        cols, rows = expected["semdedup_prune"]
        kept = cols.index("is_kept")
        out["semdedup_prune_pruned"] = sum(not r[kept] for r in rows)
    return out
