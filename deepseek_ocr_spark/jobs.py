"""Production job compositions — what a user of the reference runs
instead of run_dpsk_ocr_pdf.py / run_dpsk_ocr_image.py /
run_dpsk_ocr_eval_batch.py.

Each job wires the full at-scale path: cost-tiered repartitioning →
extraction → sinks (spans parquet + markdown + metrics) with resumable
lineage. Entry points are also exposed as a CLI:

    spark-submit --py-files dist/deepseek_ocr_spark.zip run_extract.py \
        --input /data/documents --output /out --job spans [--resume]

The composed jobs (curate, trainprep, cluster) are stage lists run by
``_run_stages``: each stage's output is materialised by ONE Spark job
(a ``localCheckpoint``, or the stage's parquet write), and the stage's
row counts and sums ride along on that same job as an ``observe`` at
the top of its plan — no separate counting pass, no per-stage timer
code in the jobs themselves.
"""

from __future__ import annotations

import time
import warnings

from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from .operators.extraction import extract_pdf
from .operators.spans_pipeline import extract_spans
from .plans.coalesce import doc_cost, repartition_by_cost
from .plans.lineage import fresh_read_error, run_extract_resumable
from .sources.sinks import write_markdown_table

_NO_CLUSTERS = dict.fromkeys(
    ("edges", "docs_clustered", "clusters", "max_cluster_size"), 0
)


def _rows(alias: str) -> Column:
    return F.count("*").alias(alias)


def _total(col: Column, alias: str) -> Column:
    # a sum over an empty stage reads 0, not NULL
    return F.coalesce(F.sum(col), F.lit(0)).cast("long").alias(alias)


def _n_tokens() -> Column:
    return F.size(F.split(F.col("text"), r"\s+")).cast("long")


def _run_stages(df: DataFrame, stages: list[tuple]) -> tuple[DataFrame, dict]:
    """Run ``(name, fn, metrics, sink)`` stages in order; returns the last
    checkpointed frame and the merged stats. Each stage is ONE Spark job:
    ``fn(df)`` topped by ``observe(metrics)`` — the top node, so a
    retried task's update counts once — then ``localCheckpoint``ed to
    feed the next stage, or written to the parquet path ``sink`` (the
    next stage then sees the same input). Same-named stages add up into
    one ``sec_<name>``. Observations are fresh and unnamed (a session may
    run a job many times); no job group or description is set."""
    stats: dict = {}
    for name, fn, metrics, sink in stages:
        t0 = time.perf_counter()
        out, obs = fn(df), Observation()
        if metrics:
            out = out.observe(obs, *metrics)
        if sink is None:
            df = out.localCheckpoint()
        else:
            out.write.mode("overwrite").parquet(sink)
        if metrics:
            stats.update(obs.get)
        key = f"sec_{name}"
        stats[key] = round(stats.get(key, 0.0) + time.perf_counter() - t0, 3)
    return df, stats


def run_spans_job(
    spark: SparkSession,
    input_path: str,
    output_dir: str,
    resume: bool = True,
    partitions: int | None = None,
) -> dict:
    """Flagship: interleaved documents parquet → extracted spans +
    metrics + lineage (resumable). The analogue of the reference's
    PDF pipeline operating on the span table shape."""
    docs = spark.read.parquet(input_path)
    if partitions:
        docs = repartition_by_cost(docs, doc_cost("spans"), partitions)
    if resume:
        return run_extract_resumable(spark, docs, output_dir)
    out = extract_spans(docs)
    out.write.mode("overwrite").parquet(f"{output_dir}/spans")
    return {"resumed": False, "slices_committed_now": 1}


def run_pages_job(
    spark: SparkSession,
    input_path: str,
    output_dir: str,
    write_markdown: bool = True,
) -> DataFrame:
    """Raw model-output pages parquet → per-document clean markdown +
    interleaved spans + metrics (run_dpsk_ocr_pdf.py:286-329 analogue:
    .mmd sink + span table + per-doc metrics)."""
    pages = spark.read.parquet(input_path)
    docs = extract_pdf(pages)
    docs.write.mode("overwrite").parquet(f"{output_dir}/documents")
    if write_markdown:
        write_markdown_table(
            spark.read.parquet(f"{output_dir}/documents"), output_dir
        )
    (
        spark.read.parquet(f"{output_dir}/documents")
        .groupBy()
        .agg(
            F.count("*").cast("bigint").alias("docs"),
            F.sum("pages_in").cast("bigint").alias("pages_in"),
            F.sum("pages_kept").cast("bigint").alias("pages_kept"),
            F.sum("parse_failures").cast("bigint").alias("parse_failures"),
            F.sum("blocks_dropped").cast("bigint").alias("blocks_dropped"),
            F.sum("media_spans").cast("bigint").alias("media_spans"),
            F.sum("char_yield").cast("bigint").alias("char_yield"),
        )
        .write.mode("overwrite")
        .parquet(f"{output_dir}/metrics")
    )
    # return a READ of the written table, not the lazy extraction plan:
    # any caller action on the latter (run_extract.py's .count()) would
    # re-run the whole regex-heavy extraction over the input a second
    # time instead of scanning the files this job just wrote
    return spark.read.parquet(f"{output_dir}/documents")


def _write_meta(
    spark: SparkSession, meta_path: str, hash_mode: str, jaccard_threshold: float
) -> None:
    """Replace the store's meta table via stage-then-rename. A plain
    mode('overwrite') is delete-then-write: a crash mid-job leaves the
    populated store with NO meta, and the next run would silently
    re-stamp whatever policy it happened to pass — bypassing the very
    mismatch guard meta exists for. Staging shrinks the unguarded window
    from a full parquet job to two filesystem metadata ops (atomic on
    HDFS; on Iceberg the meta update is part of the single store
    transaction, per the plans/lineage.py mapping)."""
    tmp = f"{meta_path}__staging"
    spark.createDataFrame(
        [(hash_mode, float(jaccard_threshold))],
        "hash_mode string, jaccard_threshold double",
    ).write.mode("overwrite").parquet(tmp)
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path
    fs = hpath(tmp).getFileSystem(spark._jsc.hadoopConfiguration())
    dst = hpath(meta_path)
    fs.delete(dst, True)
    # Hadoop rename into an EXISTING directory moves the source UNDER
    # it (meta/meta__staging) and still returns true — if the delete
    # did not actually clear the destination (permissions, or a
    # concurrent writer recreated it), the boolean guard below would
    # pass over silently corrupted layout. Verify emptiness explicitly;
    # the job contract is single-writer per store, so a survivor here
    # is always an error worth surfacing.
    if fs.exists(dst):
        raise IOError(
            f"meta destination {meta_path} still exists after delete — "
            "concurrent writer or permission failure; refusing to rename "
            "the staged meta under it"
        )
    if not fs.rename(hpath(tmp), dst):
        raise IOError(f"failed to rename staged meta {tmp} -> {meta_path}")


def run_dedup_job(
    spark: SparkSession,
    input_path: str,
    store_dir: str,
    jaccard_threshold: float = 0.5,
    hash_mode: str = "fast",
) -> dict:
    """Incremental corpus dedup: dedup the input slice against the
    accumulated signature store, append the accepted (non-dup) docs'
    signatures, and log the dup pairs. Idempotent: doc_ids already in
    the store are skipped up front (anti-join resume, same philosophy
    as plans/lineage.py), so re-running a slice is a no-op.

    Store layout: ``{store_dir}/signatures`` (the minhash_signatures
    table — only ever grows by accepted docs, so it stays deduped,
    which is what keeps history×history pairs impossible),
    ``{store_dir}/dups`` (append-only pair log with a slice column),
    and ``{store_dir}/meta`` (the store's hash_mode — a mode mismatch
    would silently never match any stored band signature, so it is
    rejected up front). "Decided" doc_ids — accepted into the store OR
    already logged as dups — are skipped on re-runs, so re-running a
    slice is a true no-op. The writes are not one atomic commit here;
    on Iceberg they become a single transaction (MERGE + append), per
    the plans/lineage.py mapping."""
    from pyspark.errors import AnalysisException

    from .operators.dedup import incremental_minhash_dedup

    def _read_or_none(path: str):
        try:
            return spark.read.parquet(path)
        except AnalysisException as e:
            # fresh_read_error: missing path OR an existing-but-empty
            # dir (crash before the first append committed) both mean
            # "first run" — matching-only-PATH_NOT_FOUND bricked the
            # store after such a crash (every rerun re-raised on the
            # empty dir). Corruption still fails loudly.
            if fresh_read_error(e):
                return None
            raise

    docs = spark.read.parquet(input_path)
    if "text" not in docs.columns:  # interleaved-span shape → flat text
        docs = docs.select(
            "doc_id",
            F.array_join(
                F.transform(
                    "spans", lambda s: F.coalesce(s["text"], F.lit(""))
                ),
                " ",
            ).alias("text"),
        )
    sig_path = f"{store_dir}/signatures"
    dups_path = f"{store_dir}/dups"
    meta_path = f"{store_dir}/meta"
    meta = _read_or_none(meta_path)
    if meta is not None:
        mrow = meta.collect()[0]
        stored_mode = mrow["hash_mode"]
        if stored_mode != hash_mode:
            raise ValueError(
                f"store at {store_dir} was built with hash_mode="
                f"{stored_mode!r}; this run passed {hash_mode!r} — the "
                "band signatures would never match and every stored dup "
                "would be missed"
            )
        # the threshold is a store property too: mixing slices decided
        # under different thresholds silently blends accept/reject
        # policies (ADVICE r3). Pre-threshold-guard stores (no column)
        # are grandfathered by writing the current value forward.
        stored_thr = (
            mrow["jaccard_threshold"]
            if "jaccard_threshold" in meta.columns
            else None
        )
        if stored_thr is not None and stored_thr != jaccard_threshold:
            raise ValueError(
                f"store at {store_dir} was built with jaccard_threshold="
                f"{stored_thr!r}; this run passed {jaccard_threshold!r} — "
                "re-running slices under a different threshold would mix "
                "accept/reject decisions. Use a fresh store_dir (or pass "
                "the store's threshold)."
            )
        if stored_thr is None:
            # the store's ACTUAL historical threshold is unknowable here:
            # this write records the current run's value as an assumption,
            # not provenance — say so, loudly, once
            warnings.warn(
                f"store at {store_dir} predates the jaccard_threshold "
                f"guard; recording this run's value ({jaccard_threshold}) "
                "as the store threshold. If earlier slices were decided "
                "under a different threshold, their accept/reject "
                "decisions are already mixed in — use a fresh store_dir "
                "if exact policy provenance matters.",
                stacklevel=2,
            )
            _write_meta(spark, meta_path, hash_mode, jaccard_threshold)
    else:
        _write_meta(spark, meta_path, hash_mode, jaccard_threshold)

    store_sigs = _read_or_none(sig_path)
    prior_dups = _read_or_none(dups_path)
    decided = store_sigs.select("doc_id") if store_sigs is not None else None
    if prior_dups is not None:
        d = prior_dups.select("doc_id").distinct()
        decided = d if decided is None else decided.unionByName(d)

    docs = docs.persist()  # two counts + the signature build read it
    try:
        n_in = docs.count()
        docs_new = (
            docs.join(decided, on="doc_id", how="left_anti")
            if decided is not None
            else docs
        )
        n_new = docs_new.count()
        prev_total = store_sigs.count() if store_sigs is not None else 0
        if n_new == 0:
            return {
                "docs_in": n_in,
                "docs_new": 0,
                "dups_found": 0,
                "accepted": 0,
                "store_total": prev_total,
            }
        dups, new_sigs = incremental_minhash_dedup(
            docs_new,
            store_sigs,
            jaccard_threshold=jaccard_threshold,
            hash_mode=hash_mode,
        )
        # MATERIALIZE before touching the store paths: dups/new_sigs
        # lineage READS dups_path (via the decided anti-join) and
        # sig_path (the probe) — appending to those paths and then
        # re-evaluating the lazy plans re-reads the just-written files
        # and silently changes the result (observed: a logged dup
        # re-counted as 0 and re-accepted). localCheckpoint cuts the
        # lineage at materialized partitions.
        dups = dups.localCheckpoint()
        dup_ids = dups.select("doc_id").distinct()
        n_dups = dup_ids.count()
        accepted = new_sigs.join(
            dup_ids, on="doc_id", how="left_anti"
        ).localCheckpoint()
        accepted.write.mode("append").parquet(sig_path)
        dups.withColumn("slice_docs", F.lit(n_new)).write.mode(
            "append"
        ).parquet(dups_path)
        # drop this session's stale file listings for the next caller
        spark.catalog.refreshByPath(sig_path)
        spark.catalog.refreshByPath(dups_path)
        return {
            "docs_in": n_in,
            "docs_new": n_new,
            "dups_found": n_dups,
            "accepted": n_new - n_dups,
            "store_total": prev_total + n_new - n_dups,
        }
    finally:
        docs.unpersist()


def run_cluster_job(spark: SparkSession, store_dir: str) -> dict:
    """Consolidate a dedup store's dup log into transitive duplicate
    clusters (CLI ``--job cluster``). The log written by
    ``run_dedup_job`` is an edge list ``(doc_id, dup_of)``; slices
    decided independently can merge clusters only transitively — e.g.
    stored docs A and B each individually below threshold, then a later
    doc C matches both: the log alone says "C dups A" and "C dups B",
    the closure says {A, B, C} are ONE cluster. Production stores run
    exactly this consolidation pass periodically (the pair log is
    orders of magnitude smaller than the corpus, so recomputing the
    closure each time beats maintaining incremental components).

    Writes ``{store_dir}/clusters`` = (doc_id, cluster_id,
    cluster_size, is_canonical) — a derived snapshot, overwritten each
    run. ``is_canonical`` is min-id within the cluster, a *view-level*
    tag: store acceptance stays first-come (the signature table is
    untouched). Rule-17 safe: the plan reads only the dup log, and the
    snapshot is written to a DIFFERENT path."""
    from pyspark.errors import AnalysisException

    from .operators.dedup import cluster_sizes, dup_clusters

    dups_path = f"{store_dir}/dups"
    clusters_path = f"{store_dir}/clusters"
    try:
        dups = spark.read.parquet(dups_path)
    except AnalysisException as e:
        # shared fresh-vs-corrupt line with the dedup store reads: a
        # missing OR never-committed dup log means nothing to cluster
        if fresh_read_error(e):
            return dict(_NO_CLUSTERS)
        raise
    # edges are checkpointed: the closure's iterations re-read them
    _, stats = _run_stages(
        dups,
        [
            ("edges", lambda d: d.select("doc_id", "dup_of").distinct(),
             [_rows("edges")], None),
            ("clusters",
             lambda e: cluster_sizes(dup_clusters(e, "doc_id", "dup_of")),
             [_rows("docs_clustered"),
              F.count_if("is_canonical").alias("clusters"),
              F.coalesce(F.max("cluster_size"), F.lit(0))
              .alias("max_cluster_size")],
             clusters_path),
        ],
    )
    spark.catalog.refreshByPath(clusters_path)
    return {k: stats[k] for k in _NO_CLUSTERS}


def run_curation_job(
    spark: SparkSession,
    input_path: str,
    output_dir: str,
    benchmark_path: str | None = None,
    jaccard_threshold: float = 0.5,
    substring_n: int = 50,
    decontam_n: int = 13,
    keep_cols: tuple = (),
) -> dict:
    """The full published training-corpus curation pipeline as ONE
    composed job (the order FineWeb/Dolma run): PII redaction →
    Gopher repetition gate → MinHash near-dup pairs + transitive
    cluster collapse (one canonical per cluster) → cross-document
    exact-substring suppression → (optional) benchmark decontamination
    → curated parquet + per-stage counts. Every stage is an audited
    operator elsewhere in this package; this function is the wiring, a
    stage list for ``_run_stages``: ``docs_in`` is counted on the
    row-preserving redaction, ``after_*`` on each gate and ``docs_out``
    / ``tokens_out`` on the corpus write, each by the job it rides on.

    Scale notes: stages are narrow maps except the dedup pair shuffle,
    the cluster closure (verified-pair-sized), and the substring
    hash groupBy — each documented at its operator. Stage boundaries
    are checkpoints, so lineage stays shallow and the write reads only
    materialised rows (rule-17 discipline: all reads precede the write).
    Expected input columns: (doc_id, text). ``keep_cols`` names extra
    metadata columns (e.g. the domain column run_training_prep_job
    mixes on) carried through every stage into {out}/corpus — every
    stage operator preserves non-(id, text) columns, so passthrough is
    just selecting them."""
    from .operators.dedup import collapse_duplicates, minhash_lsh_pairs
    from .operators.quality import redact_pii, repetition_signals
    from .operators.substring_dedup import (
        decontaminate,
        suppress_duplicate_substrings,
    )

    cols = ("doc_id", "text", *keep_cols)

    def repetition_gate(docs: DataFrame) -> DataFrame:
        # a self-join on the redacted rows: checkpointing them first (the
        # stage before) keeps both join branches from re-running the
        # whole regex chain (Catalyst does not dedupe common subplans
        # across join inputs — the u4 lesson, regex edition)
        rep = repetition_signals(docs).select("doc_id", "gopher_repetition_ok")
        return (
            docs.join(rep, on="doc_id", how="left")
            .filter(F.coalesce(F.col("gopher_repetition_ok"), F.lit(True)))
            .drop("gopher_repetition_ok")
        )

    def dedup_collapse(docs: DataFrame) -> DataFrame:
        # near-dup pairs → transitive clusters → canonical survivors
        pairs = minhash_lsh_pairs(docs, jaccard_threshold=jaccard_threshold)
        return collapse_duplicates(docs, pairs).filter(F.col("kept")).select(*cols)

    stages = [
        ("redact_repetition", redact_pii, [_rows("docs_in")], None),
        ("redact_repetition", repetition_gate,
         [_rows("after_repetition_gate")], None),
        ("dedup_collapse", dedup_collapse, [_rows("after_dedup")], None),
        # cross-doc duplicated-passage excision (keep-first)
        ("substring_excision",
         lambda d: suppress_duplicate_substrings(d, n=substring_n), [], None),
    ]
    if benchmark_path is not None:
        # benchmark decontamination (whole-doc drop, published default)
        bench = spark.read.parquet(benchmark_path).select("text")
        stages.append((
            "decontamination",
            lambda d: decontaminate(d, bench, n=decontam_n)
            .filter(~F.col("contaminated")).select(*cols),
            [_rows("after_decontamination")],
            None,
        ))
    stages.append((
        "write", lambda d: d,
        [_rows("docs_out"), _total(_n_tokens(), "tokens_out")],
        f"{output_dir}/corpus",
    ))
    _, stats = _run_stages(spark.read.parquet(input_path).select(*cols), stages)
    return stats


def run_training_prep_job(
    spark: SparkSession,
    input_path: str,
    output_dir: str,
    domain_col: str = "lang",
    alpha: float = 0.5,
    budget_docs: int | None = None,
    holdout_frac: float = 0.01,
    seq_budget: int = 2048,
) -> dict:
    """Curated corpus → training-ready shards: the stage AFTER
    run_curation_job. (1) carve the eval holdout FIRST (hash-range
    split — membership never churns as the corpus grows, so later
    slices can't leak into eval); (2) temperature-mix domains over the
    train split (alpha-sampling; rates > 1 upsample low-resource
    domains as extra epochs); (3) count tokens and pack into
    fixed-budget training sequences. Writes {out}/holdout, {out}/mixed,
    {out}/packs; returns per-stage counts + seconds. The stages run
    through ``_run_stages``: the split, the mix (which also sums the
    tokens that size the pack shards) and the packing each count on the
    job that checkpoints them; the outputs are written from those.

    Every sampling decision is deterministic in the data
    (operators/mixing.py) — a retried task, a re-run job, or another
    engine reproduces the identical corpus. Scale shape: two narrow
    map/filter stages + one bounded domain count + packing's single
    exchange; rule-17 discipline (checkpoints before writes).
    Expected input columns: (doc_id, text, <domain_col>)."""
    from .operators.mixing import holdout_split, mix_corpus
    from .operators.packing import adaptive_shards, pack_sequences

    docs = spark.read.parquet(input_path).select("doc_id", "text", domain_col)
    is_holdout, is_train = F.col("split") == "holdout", F.col("split") == "train"
    tagged, stats = _run_stages(docs, [(
        "holdout_split", lambda d: holdout_split(d, holdout_frac),
        [_rows("docs_in"), F.count_if(is_holdout).alias("holdout_docs"),
         F.count_if(is_train).alias("train_docs")],
        None,
    )])
    holdout = tagged.filter(is_holdout).drop("split")
    mixed, more = _run_stages(tagged, [(
        "mix",
        lambda t: mix_corpus(
            t.filter(is_train).drop("split"),
            domain_col=domain_col, alpha=alpha, budget=budget_docs,
        ),
        [_rows("mixed_docs"), _total(_n_tokens(), "mixed_tokens")],
        None,
    )])
    stats.update(more)
    # size the shard count to the corpus: each shard's last pack is
    # partially filled, so a small corpus at the full 256 shards packs
    # near-empty (utilization 0.06 at 25k tokens); big corpora still
    # cap at 256
    stats["pack_shards"] = adaptive_shards(stats.pop("mixed_tokens"), seq_budget)

    def pack(m: DataFrame) -> DataFrame:
        # epochs are distinct rows of the same doc: pack on a per-copy
        # key so the fill window orders deterministically (doc_id alone
        # ties)
        counted = m.select(
            F.concat_ws(
                "#", F.col("doc_id").cast("string"), F.col("epoch").cast("string")
            ).alias("pack_key"),
            _n_tokens().alias("n_tokens"),
        )
        return pack_sequences(
            counted, budget=seq_budget, count_col="n_tokens",
            id_col="pack_key", n_shards=stats["pack_shards"],
        )

    _, more = _run_stages(mixed, [
        ("pack", pack, [
            _rows("packs"),
            _total(F.col("total_tokens"), "tokens_packed"),
            F.round(
                F.avg(F.when(~F.col("oversize"), F.col("utilization"))), 6
            ).alias("mean_utilization"),
            _total(F.col("oversize").cast("int"), "oversize_packs"),
        ], None),
        ("write", lambda packs: packs, [], f"{output_dir}/packs"),
        ("write", lambda _: holdout, [], f"{output_dir}/holdout"),
        ("write", lambda _: mixed, [], f"{output_dir}/mixed"),
    ])
    stats.update(more)
    return stats


def locate_job(
    spark: SparkSession, input_path: str, label: str
) -> DataFrame:
    """T6 'locate' task over the span table: spans whose kind matches,
    with document and offset (config.py prompt 'Locate <|ref|>x<|/ref|>')."""
    docs = spark.read.parquet(input_path)
    hits = F.filter("spans", lambda s: s["kind"] == label)
    return (
        docs.select("doc_id", F.explode(hits).alias("span"))
        .select(
            "doc_id",
            F.col("span.kind").alias("kind"),
            F.col("span.text").alias("text"),
            F.col("span.offset").alias("offset"),
        )
    )
