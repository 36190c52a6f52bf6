"""The two batch workloads: one pass each, its output check, and its
traced decomposition into the package's layers.

A pass is what a user of the package runs on a batch; ``records`` is
the number of input records it completes. Checks run outside the timed
window, read the pass's output files with pyarrow (not with the engine
under test), and return None when the outputs are right, or the reason
they are not.

The traced pass calls each layer's public function on the previous
layer's output, materialising every output with ``localCheckpoint`` at
the boundaries the job itself uses, each under a span named
``<layer>.<function>``. It then runs the job functions once, so the
jobs' own time (job wall minus the layers they call) can be derived,
and returns the check of what it produced.
"""

from __future__ import annotations

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.dataset as ds
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from deepseek_ocr_spark import corpus, jobs, oracle
from deepseek_ocr_spark.operators import (
    dedup,
    extraction,
    mixing,
    packing,
    quality,
    similarity,
    spans_pipeline,
    substring_dedup,
)
from deepseek_ocr_spark.plans import lineage
from deepseek_ocr_spark.sources import sinks

import inputs
from tracing import Tracer

# job -> the layer spans whose wall its own time excludes
JOB_LAYERS = {
    "lineage.run_extract_resumable": ["spans_pipeline.extract_spans"],
    "jobs.run_spans_job": ["lineage.run_extract_resumable"],
    "jobs.run_pages_job": ["extraction.extract_pdf", "sinks.write_markdown_table"],
    "jobs.run_curation_job": [
        "quality.redact_pii",
        "quality.repetition_signals",
        "dedup.minhash_lsh_pairs",
        "dedup.collapse_duplicates",
        "substring_dedup.suppress_duplicate_substrings",
    ],
    "jobs.run_training_prep_job": [
        "mixing.holdout_split",
        "mixing.mix_corpus",
        "packing.pack_sequences",
    ],
}

# semantic stage of curate
INDEX_CELLS = 64  # the stored IVF index (the write and the read)
DEDUP_CELLS = 16  # SemDeDup's own quantizer
PROBE_BATCHES = 2
TOP_K = 5
N_PROBE = 2


def _read(path: str, columns: list[str]) -> pa.Table:
    """A Spark-written parquet directory (hive partitions included)."""
    return ds.dataset(path, format="parquet", partitioning="hive").to_table(columns=columns)


def span_tuples(spans) -> list[tuple]:
    return [(s["kind"], s["text"], s["media_ref"], s["offset"]) for s in spans]


def check_spans(spans_dir: str, expected: dict[str, list[tuple]], n_docs: int) -> str | None:
    """Spans of the sampled docs equal the oracle's, and every doc is out."""
    t = _read(spans_dir, ["doc_id", "spans"])
    if t.num_rows != n_docs:
        return f"spans job wrote {t.num_rows} docs of {n_docs}"
    sample = t.filter(pc.is_in(t["doc_id"], value_set=pa.array(list(expected))))
    got = {r["doc_id"]: span_tuples(r["spans"]) for r in sample.to_pylist()}
    for doc_id, want in expected.items():
        if got.get(doc_id) != want:
            return f"spans of {doc_id} differ from oracle_spans_doc"
    return None


def check_copies_dropped(corpus_dir: str, n_planted: int) -> str | None:
    """No planted text copy survives curation."""
    if n_planted == 0:
        return "input holds no planted copies"
    ids = _read(corpus_dir, ["doc_id"])["doc_id"].to_pylist()
    kept = sum(i.endswith(inputs.COPY_SUFFIX) for i in ids)
    if kept:
        return f"{kept} of {n_planted} planted copies survived curation"
    return None


def check_semantic(dropped: set[int], hits: set[tuple[int, int]], copies: set[int]) -> str | None:
    """SemDeDup drops exactly the planted vector copies, and each copy,
    used as a query, finds its source in its top-k."""
    if dropped != copies:
        return (f"semantic_dedup dropped {len(dropped - copies)} unplanted and "
                f"kept {len(copies - dropped)} planted vectors")
    lost = sum((c, c - inputs.PLANT_ID_OFFSET) not in hits for c in copies)
    if lost:
        return f"{lost} planted queries miss their source in the top-{TOP_K}"
    return None


class Workload:
    """Inputs are registered (and scanned once) by the caller; ``frames``
    maps each input table's name to its DataFrame. ``REPLAY`` names the
    traced spans that repeat an untraced pass's calls one for one, so
    their wall against the untraced pass wall is the tracing overhead."""

    REPLAY: tuple[str, ...] = ()

    def __init__(self, spark: SparkSession, paths: dict[str, str],
                 frames: dict[str, DataFrame], seed: int):
        self.spark, self.paths, self.frames, self.seed = spark, paths, frames, seed
        self.first: dict | None = None

    def span(self, tracer: Tracer, name: str):
        return tracer.span(name, self.spark.sparkContext)

    def same_as_first(self, result: dict) -> str | None:
        """Deterministic outputs: every pass must reproduce the first."""
        if self.first is None:
            self.first = result
        elif result != self.first:
            return f"outputs differ from the first pass: {result} != {self.first}"
        return None


class Extract(Workload):
    """Span extraction with lineage slice commits, then the pages job."""

    REPLAY = ("jobs.run_spans_job", "jobs.run_pages_job")

    def __init__(self, *a):
        super().__init__(*a)
        self.records = self.frames["documents"].count()
        step = max(1, inputs.EXTRACT_DOCS // inputs.ORACLE_SAMPLE)
        self.expected = {}
        for i in range(0, inputs.EXTRACT_DOCS, step):
            doc_id, spans, _ = corpus.gen_doc(self.seed, i)
            self.expected[doc_id] = span_tuples(oracle.oracle_spans_doc(spans)["spans"])

    def run_pass(self, out: str) -> None:
        jobs.run_spans_job(self.spark, self.paths["documents"], f"{out}/spans")
        jobs.run_pages_job(self.spark, self.paths["pages"], f"{out}/pages")

    def check(self, out: str, result: None) -> str | None:
        error = check_spans(f"{out}/spans/spans", self.expected, self.records)
        if error:
            return error
        totals = _read(f"{out}/pages/metrics", ["docs", "pages_kept", "parse_failures"])
        return self.same_as_first(totals.to_pylist()[0])

    def traced_pass(self, out: str, tr: Tracer) -> str | None:
        docs, pages = self.frames["documents"], self.frames["pages"]
        with self.span(tr, "spans_pipeline.extract_spans") as s:
            ck = spans_pipeline.extract_spans(docs).localCheckpoint()
        s.rows_out = ck.count()
        with self.span(tr, "lineage.run_extract_resumable"):
            lineage.run_extract_resumable(self.spark, docs, f"{out}/lineage")
        with self.span(tr, "extraction.extract_pdf") as s:
            ext = extraction.extract_pdf(pages).localCheckpoint()
        s.rows_out = ext.count()
        with self.span(tr, "sinks.write_markdown_table"):
            sinks.write_markdown_table(ext, f"{out}/markdown")
        with self.span(tr, "jobs.run_spans_job"):
            jobs.run_spans_job(self.spark, self.paths["documents"], f"{out}/spans")
        with self.span(tr, "jobs.run_pages_job"):
            jobs.run_pages_job(self.spark, self.paths["pages"], f"{out}/pages")
        return self.check(out, None)


class Curate(Workload):
    """Text curation (redact, repetition gate, minhash dedup, substring
    excision), then training prep (holdout, mix, pack) on its corpus.

    The traced pass adds the semantic stage over the document
    embeddings: write a cell-partitioned IVF index, probe it with query
    batches, run SemDeDup. It is traced and checked, not timed: see
    README.md for why it has no timed pass of its own."""

    REPLAY = ("jobs.run_curation_job", "jobs.run_training_prep_job")

    def __init__(self, *a):
        super().__init__(*a)
        flat, vectors = self.frames["flat"], self.frames["vectors"]
        self.records = flat.count()
        self.planted = flat.filter(F.col("doc_id").endswith(inputs.COPY_SUFFIX)).count()
        copies = sorted(
            r["vec_id"] for r in vectors.filter(F.col("vec_id") >= inputs.PLANT_ID_OFFSET)
            .select("vec_id").collect()
        )
        self.copies = set(copies)
        n = -(-len(copies) // PROBE_BATCHES)
        self.batches = [copies[i:i + n] for i in range(0, len(copies), n)]

    def _curate(self, out: str) -> dict:
        return jobs.run_curation_job(
            self.spark, self.paths["flat"], f"{out}/curate", keep_cols=("lang",)
        )

    def _prep(self, out: str) -> dict:
        return jobs.run_training_prep_job(self.spark, f"{out}/curate/corpus", f"{out}/prep")

    def _centroids(self, cells: int) -> list[list[float]]:
        """Seeded quantizer (the first ``cells`` base vectors), as the
        package's seeded IVF uses: no k-means fit, whose fixed cost would
        swamp the cell assignment at this size."""
        return similarity._collect_seed_centroids(
            self.frames["vectors"], cells, inputs.VEC_ID_BASE, "vec_id", "embedding"
        )

    def _index(self, out: str) -> list[list[float]]:
        cents = self._centroids(INDEX_CELLS)
        similarity.ivf_index(self.frames["vectors"], cents).write.partitionBy(
            "cell"
        ).mode("overwrite").parquet(f"{out}/index")
        return cents

    def _probe(self, out: str, cents) -> set[tuple[int, int]]:
        stored = self.spark.read.parquet(f"{out}/index")
        vectors = self.frames["vectors"]
        hits = set()
        for batch in self.batches:
            queries = vectors.filter(F.col("vec_id").isin(batch))
            hits.update(
                (r["query_id"], r["neighbor_id"])
                for r in similarity.ivf_probe(stored, cents, queries, k=TOP_K, n_probe=N_PROBE)
                .select("query_id", "neighbor_id").collect()
            )
        return hits

    def _semdedup(self) -> set[int]:
        return {
            r["vec_id"]
            for r in similarity.semantic_dedup(
                self.frames["vectors"], centroids=self._centroids(DEDUP_CELLS)
            )
            .filter(~F.col("kept")).select("vec_id").collect()
        }

    def run_pass(self, out: str) -> dict:
        cur, prep = self._curate(out), self._prep(out)
        return {"docs_out": cur["docs_out"], "tokens_out": cur["tokens_out"],
                "packs": prep["packs"]}

    def check(self, out: str, result: dict) -> str | None:
        return (check_copies_dropped(f"{out}/curate/corpus", self.planted)
                or self.same_as_first(result))

    def traced_pass(self, out: str, tr: Tracer) -> str | None:
        docs = self.frames["flat"].select("doc_id", "text", "lang")
        with self.span(tr, "quality.redact_pii") as s:
            docs = quality.redact_pii(docs).localCheckpoint()
        s.rows_out = docs.count()
        with self.span(tr, "quality.repetition_signals") as s:
            rep = quality.repetition_signals(docs).select("doc_id", "gopher_repetition_ok")
            docs = (
                docs.join(rep, on="doc_id", how="left")
                .filter(F.coalesce(F.col("gopher_repetition_ok"), F.lit(True)))
                .drop("gopher_repetition_ok")
                .localCheckpoint()
            )
        s.rows_out = docs.count()
        with self.span(tr, "dedup.minhash_lsh_pairs") as s:
            pairs = dedup.minhash_lsh_pairs(docs, jaccard_threshold=0.5).localCheckpoint()
        s.rows_out = pairs.count()
        with self.span(tr, "dedup.collapse_duplicates") as s:
            docs = (
                dedup.collapse_duplicates(docs, pairs)
                .filter(F.col("kept"))
                .select("doc_id", "text", "lang")
                .localCheckpoint()
            )
        s.rows_out = docs.count()
        with self.span(tr, "substring_dedup.suppress_duplicate_substrings") as s:
            docs = substring_dedup.suppress_duplicate_substrings(docs, n=50).localCheckpoint()
        s.rows_out = docs.count()
        with self.span(tr, "mixing.holdout_split") as s:
            tagged = mixing.holdout_split(docs, 0.01).localCheckpoint()
        s.rows_out = tagged.count()
        train = tagged.filter(F.col("split") == "train").drop("split")
        with self.span(tr, "mixing.mix_corpus") as s:
            mixed = mixing.mix_corpus(train, domain_col="lang", alpha=0.5).localCheckpoint()
        s.rows_out = mixed.count()
        with self.span(tr, "packing.pack_sequences") as s:
            counted = mixed.select(
                F.concat_ws("#", F.col("doc_id"), F.col("epoch").cast("string"))
                .alias("pack_key"),
                F.size(F.split(F.col("text"), r"\s+")).cast("long").alias("n_tokens"),
            ).localCheckpoint()
            total = counted.agg(F.sum("n_tokens")).collect()[0][0] or 0
            packs = packing.pack_sequences(
                counted, budget=2048, count_col="n_tokens", id_col="pack_key",
                n_shards=packing.adaptive_shards(total, 2048),
            ).localCheckpoint()
        s.rows_out = packs.count()
        with self.span(tr, "jobs.run_curation_job"):
            self._curate(out)
        with self.span(tr, "jobs.run_training_prep_job"):
            self._prep(out)
        with self.span(tr, "similarity.ivf_index") as s:
            cents = self._index(out)
        s.rows_out = self.frames["vectors"].count()
        with self.span(tr, "similarity.ivf_probe") as s:
            hits = self._probe(out, cents)
        s.rows_out = len(hits)
        with self.span(tr, "similarity.semantic_dedup") as s:
            dropped = self._semdedup()
        s.rows_out = len(dropped)
        return check_semantic(dropped, hits, self.copies)


WORKLOADS = {"extract": Extract, "curate": Curate}
