"""The ten ``bench.py`` queries on seeded tables in the sf schema.

The repository's ``bench.py`` runs these queries on fixed sf tables that
live outside a source checkout, so the benchmark generates tables of the
same schema from its seed instead (``documents``: doc_id, text,
lang, source, n_chars; ``embeddings``: vec_id, 64-dim unit vectors,
label) and runs each query once through ``__spark_entry__.queries()``,
counting its rows inside a ``suite.<query>`` span. On inputs this small
the queries are bound by per-job overhead: job count, Python-worker
start-up and AQE. They are the only calls into the ``simhash``,
``suffix``, ``jaccard``, ``exact``/ccnet and ``textstats`` modules.
"""

from __future__ import annotations

import os
from typing import Dict, List, Tuple

import numpy as np
import pandas as pd

from probes import Tracer

# bench.py's BENCH_QUERIES, in its order
QUERIES = (
    "minhash_dedup",
    "simhash_dedup",
    "exact_dedup",
    "ccnet_line_dedup",
    "substring_dedup",
    "jaccard_dedup",
    "text_stats",
    "lang_id_counts",
    "ann_topk",
    "embedding_near_dup_lsh",
)
# bench.py times the raw pipelines these agreement-check queries wrap
# (the wrappers add an O(N^2) exact side)
RAW = {
    "minhash_dedup": "q_minhash_dedup_raw",
    "simhash_dedup": "q_simhash_dedup_raw",
    "embedding_near_dup_lsh": "q_embedding_near_dup_lsh_raw",
}
N_DOCS = 1000
N_VECS = 500
EMB_DIM = 64
TOPK_QUERIES, TOP_K = 10, 5  # q_ann_topk: vec_id < 10, ANNConfig(top_k=5)

_WORDS = (
    "fast slow big small key order sort table scan merge part window hash "
    "join batch stream spark dup group query row data filter customer line "
    "value agg column vector"
).split()
# stop words the language-id query votes on
_MARKERS = {
    "en": "the and of to is".split(),
    "fr": "le la les et est".split(),
    "es": "el los las es una".split(),
    "de": "der die das und ist".split(),
    "zh": [],
}


def generate(seed: int) -> Tuple[pd.DataFrame, pd.DataFrame]:
    """(documents, embeddings) for ``seed``. About 5% of the documents
    are byte copies of an earlier one and 5% differ from an earlier one
    in a single word; 5% of the vectors are near-copies of another."""
    rng = np.random.RandomState(seed)
    langs = list(_MARKERS)
    texts: List[str] = []
    doc_langs: List[str] = []
    for i in range(N_DOCS):
        r = rng.random_sample()
        if i >= 20 and r < 0.05:
            j = int(rng.randint(0, i))
            texts.append(texts[j])
            doc_langs.append(doc_langs[j])
            continue
        if i >= 20 and r < 0.10:
            j = int(rng.randint(0, i))
            toks = texts[j].split(" ")
            toks[int(rng.randint(0, len(toks)))] = _WORDS[int(rng.randint(0, len(_WORDS)))]
            texts.append(" ".join(toks))
            doc_langs.append(doc_langs[j])
            continue
        lang = langs[int(rng.randint(0, len(langs)))]
        vocab = _WORDS + _MARKERS[lang] * 3
        n = int(rng.randint(8, 100))
        texts.append(" ".join(vocab[k] for k in rng.randint(0, len(vocab), size=n)))
        doc_langs.append(lang)
    docs = pd.DataFrame({
        "doc_id": np.arange(N_DOCS, dtype=np.int64),
        "text": texts,
        "lang": doc_langs,
        "source": [f"src{i % 20}" for i in range(N_DOCS)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })

    centers = rng.normal(size=(10, EMB_DIM))
    labels = rng.randint(0, 10, size=N_VECS)
    vecs = centers[labels] + 0.6 * rng.normal(size=(N_VECS, EMB_DIM))
    copies = np.flatnonzero(rng.random_sample(N_VECS) < 0.05)
    copies = copies[copies > 0]
    for i in copies:
        j = int(rng.randint(0, i))
        vecs[i] = vecs[j] + 1e-3 * rng.normal(size=EMB_DIM)
        labels[i] = labels[j]
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    embs = pd.DataFrame({
        "vec_id": np.arange(N_VECS, dtype=np.int64),
        "embedding": [v.astype(np.float32).tolist() for v in vecs],
        "label": labels.astype(np.int32),
    })
    return docs, embs


def expected_rows(docs: pd.DataFrame) -> Dict[str, int]:
    """Row counts that follow from the generated tables alone."""
    return {
        "exact_dedup": int(docs["text"].nunique()),
        "text_stats": len(docs),
        "ann_topk": TOPK_QUERIES * TOP_K,
    }


def trace_suite(spark, tr: Tracer, run_dir: str, seed: int) -> Tuple[Dict[str, float], List[str]]:
    """Each query once, counted inside its own span (its ``rows_out``);
    returns no derived metrics and the errors (a query that raised, or a
    count that differs from :func:`expected_rows`)."""
    import __spark_entry__ as entry

    sf_dir = os.path.join(run_dir, "sf")
    os.makedirs(sf_dir)
    docs, embs = generate(seed)
    docs.to_parquet(os.path.join(sf_dir, "documents.parquet"), index=False)
    embs.to_parquet(os.path.join(sf_dir, "embeddings.parquet"), index=False)
    qmap = entry.queries()
    rows: Dict[str, float] = {}
    errors: List[str] = []
    for name in QUERIES:
        fn = getattr(entry, RAW[name]) if name in RAW else qmap[name]
        try:
            with tr.span(f"suite.{name}") as s:
                s.counts["rows_out"] = rows[name] = float(fn(spark, sf_dir).count())
        except Exception as e:  # one failing query must not hide the rest
            errors.append(f"suite.{name}: {type(e).__name__}: {e}")
        finally:
            entry.release_all()
    for name, n in expected_rows(docs).items():
        if name in rows and rows[name] != n:
            errors.append(f"suite.{name}: {rows[name]:.0f} rows, expected {n}")
    spark.catalog.clearCache()
    return {}, errors
