"""The benchmark workloads: one timed call each, its output checks, and
the traced layer-by-layer decomposition of the same work.

Each workload's traced run also traces a companion that reaches modules
its own call never enters: the dense job's traced run adds the
``encode`` and ``ann`` layers on a small fixture-mix sample, and the
unique workload's traced run adds the ``suite.*`` queries (``suite.py``).
A staged ANN job of its own does not fit the benchmark's time budget
(about 60 Spark jobs per call), so ANN is traced, not timed.

A timed call is the library call a user makes (a staged job, or the
in-memory ``minhash_dedup`` materialized on the driver). The traced run
instead calls each layer's public function in pipeline order and forces
every boundary to materialize (persist + count), with the partitioning
the pipeline itself uses, so each span owns the Spark work of its layer.
"""

from __future__ import annotations

import hashlib
import os
from contextlib import contextmanager
from dataclasses import dataclass
from typing import Callable, Dict, List, Optional, Tuple

import pandas as pd
import pyarrow.parquet as pq

import corpus as corpus_mod
from corpus import Corpus
from probes import Tracer, time_kernel
from suite import trace_suite

# MinHash and ANN settings: the library / CLI defaults
ANN_THRESHOLD = 0.9
ENCODE_DIM = 256
KERNEL_SAMPLE_DOCS = 1000
ANN_SAMPLE_DOCS = 1500


@dataclass
class Output:
    """What one call produced, as the checks see it."""

    survivors: Optional[pd.DataFrame] = None  # doc_id, sha (hex sha256 of content)
    out_path: Optional[str] = None  # parquet output, read by load()
    reported_after: Optional[int] = None  # a staged job's own rows_after
    metrics_path: Optional[str] = None

    def load(self) -> "Output":
        """Read a written output; called outside the timed region."""
        if self.survivors is None:
            t = pq.read_table(self.out_path, columns=["doc_id", "content"]).to_pandas()
            self.survivors = pd.DataFrame(
                {"doc_id": t["doc_id"].astype("int64"), "sha": _sha(t["content"])}
            )
        return self


def _sha(texts) -> List[str]:
    return [hashlib.sha256(t.encode()).hexdigest() for t in texts]


def check_output(out: Output, corpus: Corpus, input_sha: Dict[int, str]) -> List[str]:
    """Errors in one call's output (empty list = correct)."""
    errors: List[str] = []
    ids = out.load().survivors["doc_id"].tolist()
    if not ids:
        errors.append("no survivors")
    if len(set(ids)) != len(ids):
        errors.append(f"{len(ids) - len(set(ids))} duplicate survivor ids")
    bad = [i for i, s in zip(ids, out.survivors["sha"].tolist()) if input_sha.get(i) != s]
    if bad:
        errors.append(f"{len(bad)} survivors whose content differs from their input row, e.g. {bad[:3]}")
    kept = set(ids)
    wrong = [g for g in corpus.exact_groups if kept.intersection(g) != {min(g)}]
    if wrong:
        errors.append(f"{len(wrong)} exact-duplicate groups not reduced to their minimum id, e.g. {wrong[:2]}")
    if out.reported_after is not None and out.reported_after != len(ids):
        errors.append(f"output has {len(ids)} rows but the job reported after={out.reported_after}")
    return errors


def survivor_digest(out: Output) -> str:
    ids = sorted(out.load().survivors["doc_id"].tolist())
    return hashlib.sha256(",".join(map(str, ids)).encode()).hexdigest()


# ---------------------------------------------------------------- traced


def _materialize(span, df):
    df = df.persist()
    span.counts["rows_out"] = float(df.count())
    return df


def _survivor_join(docs, assignment, id_col: str):
    """The min-id survivor tail every pipeline ends with."""
    from pyspark.sql import functions as F

    comp = "__component__"
    return (
        docs.join(
            assignment.withColumnRenamed("id", id_col).withColumnRenamed("component", comp),
            on=id_col,
            how="left",
        )
        .filter(F.col(comp).isNull() | (F.col(comp) == F.col(id_col)))
        .drop(comp)
    )


def _trace_cc(tr: Tracer, edges, n_edges: int):
    from sparkdedup.cc import connected_components

    with tr.span("cc") as s:
        assignment, stats = connected_components(edges)
        assignment = _materialize(s, assignment)
        s.counts["edges"] = float(stats.n_edges if stats.n_edges is not None else n_edges)
        s.counts["iterations"] = float(stats.iterations)
    return assignment


def _trace_save(tr: Tracer, kept, rows: float, out_path: str) -> None:
    from sparkdedup.io import partitioned_save

    with tr.span("io.save") as s:
        partitioned_save(kept, out_path)
        s.counts["rows_out"] = rows


def trace_minhash(spark, tr: Tracer, input_path: str, out_path: Optional[str]):
    """io.scan -> minhash.signatures -> minhash.edges -> cc -> tail
    [-> io.save]; returns the derived per-layer ratios and the output."""
    from pyspark.sql import functions as F

    from sparkdedup.config import MinHashConfig
    from sparkdedup.io import DOC_ID, ensure_parallelism, read_documents, with_doc_id
    from sparkdedup.minhash import band_edges, minhash_bands

    cfg = MinHashConfig()
    with tr.span("io.scan") as s:
        docs = _materialize(s, ensure_parallelism(with_doc_id(read_documents(spark, input_path), "doc_id")))
    n_docs = s.counts["rows_out"]
    with tr.span("minhash.signatures") as s:
        bands = _materialize(s, minhash_bands(docs, cfg))
    band_rows = s.counts["rows_out"]
    with tr.span("minhash.edges") as s:
        edges = _materialize(s, band_edges(bands))
    n_edges = s.counts["rows_out"]
    assignment = _trace_cc(tr, edges, int(n_edges))
    with tr.span("tail") as s:
        kept_docs = docs.join(bands.filter(F.col("band") == 0).select(DOC_ID), DOC_ID, "leftsemi")
        kept = _survivor_join(kept_docs, assignment, DOC_ID)
        if out_path is None:
            # the in-memory workload materializes its result on the driver
            output = Output(survivors=kept.select("doc_id", F.sha2("content", 256).alias("sha")).toPandas())
            s.counts["rows_out"] = float(len(output.survivors))
        else:
            kept = _materialize(s, kept)
    if out_path is not None:
        _trace_save(tr, kept, s.counts["rows_out"], out_path)
        output = Output(out_path=out_path)

    # outside every span: rows of band groups that collided
    collided = (
        bands.groupBy("band", "hash").count().filter(F.col("count") > 1).agg(F.sum("count")).first()[0]
        or 0
    )
    spark.catalog.clearCache()
    return {
        "minhash.band_rows": band_rows,
        "minhash.edges_per_doc": n_edges / n_docs,
        "minhash.edge_yield": n_edges / collided if collided else 0.0,
    }, output


@contextmanager
def _wrapped(module, name: str, wrap: Callable):
    orig = getattr(module, name)
    setattr(module, name, wrap(orig))
    try:
        yield
    finally:
        setattr(module, name, orig)


def trace_ann_sample(spark, tr: Tracer, run_dir: str, seed: int) -> Tuple[Dict[str, float], List[str]]:
    """encode -> ann (ann.index, ann.search) on a fixture-mix sample of
    ``ANN_SAMPLE_DOCS``, as the staged text-mode ``ann_job`` composes
    them. Scan, CC and the survivor join run untraced, so they do not
    add to the layers of the workload this sample rides along with.
    Returns the derived ANN metrics and the errors of the output check."""
    from pyspark.sql import functions as F

    from sparkdedup import ann as ann_mod
    from sparkdedup.ann import ANNDedupMetrics, ann_match_edges
    from sparkdedup.cc import connected_components
    from sparkdedup.config import SEED, ANNConfig
    from sparkdedup.encode import encode_documents, hash_embed_batch
    from sparkdedup.io import DOC_ID, read_documents, with_doc_id

    def traced_index(orig):
        def build(*args, **kwargs):
            with tr.span("ann.index") as s:
                index = orig(*args, **kwargs)
                s.counts["rows_out"] = float(index.assigned.count())
            return index

        return build

    def traced_search(orig):
        def search(*args, **kwargs):
            with tr.span("ann.search") as s:
                res = orig(*args, **kwargs).localCheckpoint(eager=True)
                s.counts["rows_out"] = s.counts.get("rows_out", 0.0) + res.count()
            return res

        return search

    sample = corpus_mod.generate("fixture", ANN_SAMPLE_DOCS, seed)
    input_path = corpus_mod.write_corpus(sample, os.path.join(run_dir, "ann_input.parquet"))
    docs = with_doc_id(read_documents(spark, input_path), "doc_id").persist()
    docs.count()
    with tr.span("encode") as s:
        vectors = _materialize(
            s,
            encode_documents(docs, column="content", output_column="embedding", dim=ENCODE_DIM)
            .filter(F.col("embedding").isNotNull())
            .withColumnRenamed(DOC_ID, "vec_id"),
        )
    cfg = ANNConfig(id_column="vec_id", vector_column="embedding", threshold=ANN_THRESHOLD)
    m = ANNDedupMetrics()
    with _wrapped(ann_mod, "build_ivf_index", traced_index), _wrapped(ann_mod, "ivf_search", traced_search):
        with tr.span("ann") as s:
            edges = _materialize(s, ann_match_edges(vectors, ENCODE_DIM, cfg, metrics=m))
    assignment, _ = connected_components(edges)
    kept = _survivor_join(vectors, assignment, "vec_id")
    out = Output(survivors=kept.select(
        F.col("vec_id").alias("doc_id"), F.sha2("content", 256).alias("sha")
    ).toPandas())
    spark.catalog.clearCache()

    input_sha = dict(zip(sample.docs["doc_id"].tolist(), _sha(sample.docs["content"].tolist())))
    texts = sample.docs["content"].tolist()[:KERNEL_SAMPLE_DOCS]
    # ngram=3, min_length=5: the encode_documents defaults ann_job uses
    kernel_s = time_kernel(lambda: hash_embed_batch(texts, ENCODE_DIM, 3, 5, SEED))
    return {
        "encode.kernel_us_per_doc": kernel_s / len(texts) * 1e6,
        "ann.rounds": float(m.rounds),
        "ann.k_final": float(m.k_final),
        "ann.contractions": float(m.contractions),
        "ann.match_edges": s.counts["rows_out"],
    }, check_output(out, sample, input_sha)


# ------------------------------------------------------------- workloads


class Workload:
    """One library call on one seeded corpus mix."""

    name = ""
    mix = ""
    n_docs = 0
    input_files = 1
    staged = False
    call_s = 1.0  # nominal seconds per warm call at local[4]
    warmup_calls = 1
    # traced after the workload's own decomposition:
    # (spark, tracer, run_dir, seed) -> (derived metrics, errors)
    companion: Optional[Callable] = None

    def call(self, spark, input_path: str, rep_dir: str) -> Output:
        raise NotImplementedError

    def trace(self, spark, tr: Tracer, input_path: str, rep_dir: str):
        """Traced decomposition: (derived per-layer metrics, Output)."""
        raise NotImplementedError

    def kernels(self, corpus: Corpus) -> Dict[str, float]:
        return {}


def _minhash_kernel(corpus: Corpus) -> Dict[str, float]:
    from sparkdedup.config import MinHashConfig
    from sparkdedup.minhash import compute_band_signatures

    texts = corpus.docs["content"].tolist()[:KERNEL_SAMPLE_DOCS]
    cfg = MinHashConfig()
    t = time_kernel(lambda: compute_band_signatures(texts, cfg))
    return {"minhash.kernel_us_per_doc": t / len(texts) * 1e6}


class MinhashDenseJob(Workload):
    """The staged production path (``python -m sparkdedup.cli minhash
    --index doc_id``) on near-threshold clusters: candidate edges, CC,
    the survivor join and the parquet stage writes all do real work."""

    name = "minhash_dense_job"
    mix = "dense"
    n_docs = 2000
    staged = True
    call_s = 3.5
    warmup_calls = 3
    companion = staticmethod(trace_ann_sample)

    def call(self, spark, input_path: str, rep_dir: str) -> Output:
        from sparkdedup.config import MinHashConfig
        from sparkdedup.pipeline import minhash_job

        out, metrics = os.path.join(rep_dir, "out"), os.path.join(rep_dir, "metrics.json")
        m = minhash_job(spark, input_path, out, os.path.join(rep_dir, "work"), MinHashConfig(), "doc_id", metrics)
        return Output(out_path=out, reported_after=m.rows_after, metrics_path=metrics)

    def trace(self, spark, tr: Tracer, input_path: str, rep_dir: str):
        return trace_minhash(spark, tr, input_path, os.path.join(rep_dir, "out"))

    def kernels(self, corpus: Corpus) -> Dict[str, float]:
        return _minhash_kernel(corpus)


class MinhashUnique(Workload):
    """The in-memory ``minhash_dedup`` fast path, materialized on the
    driver, on a corpus with almost no duplicates: signatures dominate and
    edges/CC/tail are near zero, so it bypasses any change to them."""

    name = "minhash_unique"
    mix = "unique"
    n_docs = 6000
    call_s = 2.3
    warmup_calls = 3
    companion = staticmethod(trace_suite)
    # many input files, as a real corpus arrives: the scan yields enough
    # splits that ensure_parallelism keeps them, and 16 signature tasks on
    # 4 cores keep a core that the host briefly takes away from stalling
    # the stage
    input_files = 16

    def call(self, spark, input_path: str, rep_dir: str) -> Output:
        from pyspark.sql import functions as F

        from sparkdedup.config import MinHashConfig
        from sparkdedup.io import read_documents, with_doc_id
        from sparkdedup.minhash import minhash_dedup

        docs = with_doc_id(read_documents(spark, input_path), "doc_id")
        res = minhash_dedup(docs, MinHashConfig(), collect_metrics=False)
        try:
            pdf = res.kept.select("doc_id", F.sha2("content", 256).alias("sha")).toPandas()
        finally:
            res.release()
        return Output(survivors=pdf)

    def trace(self, spark, tr: Tracer, input_path: str, rep_dir: str):
        return trace_minhash(spark, tr, input_path, None)

    def kernels(self, corpus: Corpus) -> Dict[str, float]:
        return _minhash_kernel(corpus)


WORKLOADS = {w.name: w for w in (MinhashDenseJob(), MinhashUnique())}
