"""Benchmark harness (driver contract): runs the headline queries at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] and prints ONE JSON line.

Execution forces full materialization through the noop sink (no driver
collect skew). The flagship extraction pipelines run over the
deterministic synthetic interleaved corpus (FIXTURES.md) sized to the
scale factor — n_docs = 200k·sf — since the engine's input_hint shape is
not part of the driver tables.

Scaling-efficiency mode (north_rule evidence): SPARK_GRAFT_SCALING=1
re-runs the flagship extraction at two parallelism levels (local[N] vs
local[4N], N = $SPARK_GRAFT_CPUS // 4) in separate SparkContexts and
reports throughput at both plus eff = (T_N / T_4N) / (4N / N). Results
recorded in BENCH.md.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
# scaling legs N and 4N, derived from the box so neither leg
# oversubscribes it (4N = all CPUs; below 4 CPUs the ratio is < 4)
SCALE_LEVELS = (max(1, CPUS // 4), CPUS)


def _sf_from_dir(d: str) -> float:
    base = os.path.basename(d.rstrip("/"))
    try:
        return float(base.replace("sf", ""))
    except ValueError:
        print(
            f"WARN: cannot parse scale factor from {base!r}; "
            "assuming sf=0.1 (corpus size and the JSON 'sf' field follow)",
            file=sys.stderr,
        )
        return 0.1


SF = _sf_from_dir(SF_DIR)
N_DOCS = max(200, int(200_000 * SF))  # synthetic interleaved corpus size

HEADLINE = [
    "pipeline_b_extract_spans",
    "pipeline_a_extract_pdf",
    "q_agg_pricing_summary",
    "q_join_part_type_revenue",
    "q_window_running_lag",
    "q_salted_event_agg",
    "d1_exact_dedup",
    "d3_minhash_lsh",
    "d4_simhash",
    "d5_embedding_dup",
    "d6_dup_clusters",
    "f1_ngram_ban",
    "b2_main_content",
    "l2_font_runs",
    "s1_knn_bruteforce",
    "s2_knn_lsh",
    "s3_knn_ivf",
    "u1_substring_dedup",
    "u2_repetition_signals",
    "u4_semantic_dedup",
    "a1_token_quality",
    "p4_pad_token_layout",
    "s7_annotation_plan",
    "p7b_sequence_packing",
]


def _run(df) -> None:
    df.write.format("noop").mode("overwrite").save()


# bump when bench-internal corpus derivations (flatdocs, f1deg, lang
# tagging) change shape; corpus.py edits are caught automatically below
_GEN_VER = 2  # v2: flatdocs_lang gained the fixed _LAYOUT_FILES layout


def _gen_token() -> str:
    """Cache-version token: md5 of the generator source + _GEN_VER. A
    stale /tmp corpus surviving a corpus.py edit would silently bench
    pre-edit data forever (same kind+n_docs, _SUCCESS present)."""
    import hashlib

    src = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                       "deepseek_ocr_spark", "corpus.py")
    with open(src, "rb") as f:
        h = hashlib.md5(f.read()).hexdigest()[:8]
    return f"{h}v{_GEN_VER}"


def _corpus_path(kind: str, n_docs: int) -> str:
    return f"/tmp/spark_graft_{kind}_{n_docs}_{_gen_token()}.parquet"


# headline corpora are written at this FIXED file count so the writer
# session's parallelism never leaks into later readers' scan bins: an
# 8-core first run would otherwise cache an 8-file corpus that a 32-core
# rerun scans in one ragged wave (the r5 scan-granularity finding, but
# for the headline suite)
_LAYOUT_FILES = 64


def _corpus_ready(path: str) -> bool:
    """A bare exists() check would reuse a partially-written corpus from
    a killed run forever; the _SUCCESS marker lands only on commit."""
    return os.path.exists(os.path.join(path, "_SUCCESS"))


def _materialize_corpus(spark, n_docs: int) -> tuple[str, str]:
    """Generate the synthetic interleaved corpus to parquet once (cached
    across bench runs) so extraction timing excludes Python generation."""
    from deepseek_ocr_spark import corpus

    docs_p = _corpus_path("documents", n_docs)
    pages_p = _corpus_path("pages", n_docs // 4)
    if not _corpus_ready(docs_p):
        corpus.spark_documents(spark, seed=42, n_docs=n_docs).repartition(
            _LAYOUT_FILES
        ).write.mode("overwrite").parquet(docs_p)
    if not _corpus_ready(pages_p):
        corpus.spark_pages(spark, seed=42, n_docs=n_docs // 4).repartition(
            _LAYOUT_FILES
        ).write.mode("overwrite").parquet(pages_p)
    return docs_p, pages_p


def _bench_extraction(spark, docs_path: str) -> tuple[float, int]:
    """Time the flagship span extraction over a materialized corpus."""
    from deepseek_ocr_spark.operators.spans_pipeline import extract_spans

    docs = spark.read.parquet(docs_path)
    n = docs.count()  # also warms the file-scan
    t0 = time.time()
    _run(extract_spans(docs))
    return time.time() - t0, n


def _bench_minhash(spark, docs_path: str) -> tuple[float, int]:
    """Time the MinHash-LSH dedup (fast hash mode) — the SHUFFLE-bearing
    scaling job: band explosion → (band, band_sig) exchange → bucket agg
    → verify joins. Complements the shuffle-free extraction job in the
    two-cluster-size evidence."""
    from pyspark.sql import functions as F

    from deepseek_ocr_spark.operators import _cache
    from deepseek_ocr_spark.operators.dedup import minhash_lsh_pairs

    docs = spark.read.parquet(docs_path).select(
        "doc_id",
        F.array_join(
            F.transform("spans", lambda s: F.coalesce(s["text"], F.lit(""))),
            " ",
        ).alias("text"),
    )
    n = docs.count()
    _cache.release()  # each timed run pays the full signature build
    t0 = time.time()
    _run(minhash_lsh_pairs(docs, hash_mode="fast"))
    return time.time() - t0, n


_SCALE_JOBS = {"extract": _bench_extraction, "minhash": _bench_minhash}


def _scale_worker(
    cores: int, docs_path: str, job: str = "extract", n_runs: int = 4
) -> None:
    """Subprocess entry: time one scaling job at local[cores] (fresh
    JVM), best of n_runs after warmup; prints one JSON line.

    Scan granularity (r5 finding): at the default 128m
    maxPartitionBytes the 256-file scaling corpus packs into ~1.5x
    cores scan bins at 8 cores -> TWO RAGGED WAVES (8 tasks then 4-7)
    -> 75-94% scan-stage utilization depending on corpus size, which
    moved the measured 8->32 ratio by up to 25% between corpus sizes
    of IDENTICAL code (isolated: sig stage 72.4s at 12 bins vs 62.5s
    at 128 bins, same 8 cores, same 1.2M docs). 8m forces
    file-grained splits (>=128 partitions) so both levels run smooth
    multi-wave schedules — the regime a real cluster job (thousands
    of splits) is always in. Wave quantization is a sandbox
    measurement artifact, not a property of the job."""
    from deepseek_ocr_spark.session import get_spark

    fn = _SCALE_JOBS[job]
    s = get_spark(
        parallelism=cores,
        app_name=f"bench-scale-{job}-{cores}",
        extra_conf={"spark.sql.files.maxPartitionBytes": "8m"},
    )
    fn(s, docs_path)  # warmup (JIT, codegen)
    runs = [fn(s, docs_path) for _ in range(n_runs)]
    # min-of-N: the sandbox VM sees sporadic host-level steal that can
    # stall a run 5-20x; the least-contended run is the honest capacity
    # number at each level.
    t = min(r[0] for r in runs)
    n = runs[0][1]
    print(json.dumps({"sec": round(t, 3), "docs_per_sec": round(n / t, 1)}))
    s.stop()


def _busy(out, iters: int) -> None:
    import time as _t

    t0 = _t.time()
    x = 0
    for i in range(iters):
        x += i ^ (i << 1)
    out.put(_t.time() - t0)


def _machine_ceiling(levels=SCALE_LEVELS, iters: int = 10_000_000) -> dict:
    """The box's OWN achievable compute-scaling ceiling, measured with a
    pure-Python integer busy loop (no Spark, no allocation, no IO): run
    N concurrent copies of a fixed workload at each level, aggregate
    rate = N / max(per-copy wall). On this sandbox VM the hypervisor
    and all-core turbo deliver only ~50-60% per-core speed with all 32
    vCPUs busy vs 8 busy (measured 2026-08-20: solo 4.09 s, 8 copies
    4.66 s, 32 copies 7.70 s → ceiling eff ≈ 0.60) — so a JOB's raw
    N→4N efficiency is bounded by the machine, not the plan. The bench
    reports raw job efficiency AND this ceiling so the job's efficiency
    can be judged relative to what the box can deliver at the same
    moment (same contention window). On a real N→4N executor move the
    added executors bring their own sockets/memory — this probe exists
    precisely because local[N] scaling shares one."""
    import multiprocessing as mp

    rates = {}
    for n in levels:
        q: mp.Queue = mp.Queue()
        procs = [mp.Process(target=_busy, args=(q, iters)) for _ in range(n)]
        for p in procs:
            p.start()
        times = [q.get() for _ in procs]
        for p in procs:
            p.join()
        rates[n] = n / max(times)
    lo, hi = min(levels), max(levels)
    return {
        "rates": {str(k): round(v, 3) for k, v in rates.items()},
        "eff": round((rates[hi] / rates[lo]) / (hi / lo), 3),
    }


def main() -> None:
    from pyspark.sql import functions as F

    from deepseek_ocr_spark import queries as Q
    from deepseek_ocr_spark.operators import _cache as _opcache
    from deepseek_ocr_spark.operators.extraction import extract_pdf
    from deepseek_ocr_spark.operators.spans_pipeline import extract_spans
    from deepseek_ocr_spark.session import get_spark

    spark = get_spark(parallelism=CPUS, app_name="bench")
    docs_p, pages_p = _materialize_corpus(spark, N_DOCS)
    # warm the session: file scans + codegen/JIT on trivial plans
    for t in ("lineitem", "events", "documents", "embeddings", "part"):
        spark.read.parquet(f"{SF_DIR}/{t}.parquet").count()

    timings: dict[str, float] = {}
    total0 = time.time()

    for name in HEADLINE:
        fn, _ = Q.REGISTRY[name]

        def build(name=name):
            if name == "pipeline_b_extract_spans":
                return extract_spans(spark.read.parquet(docs_p))
            if name == "pipeline_a_extract_pdf":
                return extract_pdf(spark.read.parquet(pages_p))
            return fn(spark, SF_DIR)

        # min of 3 runs: the first pays JIT/codegen compile, and this
        # VM's sporadic host steal can stall any single run 5-20x — one
        # extra run halves the odds a stall poisons both survivors
        best = float("inf")
        for _ in range(3):
            # drop operator persist caches between runs: persist_swap's
            # sameResult reuse would otherwise hand runs 2-3 the cached
            # minhash/simhash signature tables, so min-of-3 would time
            # banding+verify only and a signature-build regression would
            # be invisible (review r4). Warm JIT is still measured —
            # only the DATA cache is cold per run.
            _opcache.release()
            t0 = time.time()
            _run(build())
            best = min(best, time.time() - t0)
        timings[name] = round(best, 3)
    _opcache.release()  # keep dedup caches out of later timed sections

    total = round(sum(timings.values()), 3)
    wall = round(time.time() - total0, 3)

    # BASELINE metric companion: exact span-sequence match rate (kind,
    # text, media_ref, order) vs the reference-semantics Python oracle
    # on a fixed 200-doc golden sample.
    from deepseek_ocr_spark import oracle as _oracle

    docs_reader = spark.read.parquet(docs_p)
    sample = docs_reader.orderBy("doc_id").limit(200).collect()
    sample_df = spark.createDataFrame(sample, schema=docs_reader.schema)
    got = {r["doc_id"]: r for r in extract_spans(sample_df).collect()}
    matches = 0
    for r in sample:
        exp = _oracle.oracle_spans_doc([s.asDict() for s in r["spans"]])["spans"]
        g = [
            (s["kind"], s["text"], s["media_ref"], s["offset"])
            for s in got[r["doc_id"]]["spans"]
        ]
        e = [(s["kind"], s["text"], s["media_ref"], s["offset"]) for s in exp]
        matches += g == e
    span_match_rate = round(matches / len(sample), 4)
    result = {
        "metric": "headline_suite_wall",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": SF,
        "parallelism": CPUS,
        "wall_sec_incl_warmup": wall,
        "extraction_docs": N_DOCS,
        "extraction_docs_per_sec": round(
            N_DOCS / timings["pipeline_b_extract_spans"], 1
        ),
        "span_match_rate": span_match_rate,
    }

    # quality of the approximate scale paths (not just their speed):
    # ANN recall@5 vs the exact baseline, planted near-dup recall of the
    # minhash path (every 10th doc has a 1-word-perturbed copy).
    def _pairs(name):
        fn, _ = Q.REGISTRY[name]
        return {(r[0], r[1]) for r in fn(spark, SF_DIR).collect()}

    exact = _pairs("s1_knn_bruteforce")
    result["ann_recall_lsh"] = round(len(exact & _pairs("s2_knn_lsh")) / len(exact), 4)
    result["ann_recall_ivf"] = round(len(exact & _pairs("s3_knn_ivf")) / len(exact), 4)
    # the recall/scan tradeoff must be visible together: scanned fraction
    # of the exhaustive Q*(N-1) pair space for the same s2 configuration
    from deepseek_ocr_spark.operators.similarity import (
        ivf_scan_stats,
        lsh_scan_stats,
    )
    from deepseek_ocr_spark.queries import (
        _S2_PLANES,
        _S2_PROBE,
        _S2_TABLES,
        _S3_BASE,
        _S3_CELLS,
        _S3_PROBE,
    )

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    result["ann_scan_fraction_lsh"] = lsh_scan_stats(
        emb,
        emb.filter(F.col("vec_id") < 20),
        n_planes=_S2_PLANES,
        n_probe=_S2_PROBE,
        n_tables=_S2_TABLES,
        dim=64,
    ).collect()[0]["scan_fraction"]
    result["ann_scan_fraction_ivf"] = ivf_scan_stats(
        emb,
        emb.filter(F.col("vec_id") < 20),
        n_cells=_S3_CELLS,
        n_probe=_S3_PROBE,
        seed_base=_S3_BASE,
    ).collect()[0]["scan_fraction"]
    # planted-neighbor query recall (VERDICT r4 #6): the headline
    # ann_recall_lsh uses UNIFORM-random queries, whose top-5 by cosine
    # is information-theoretically invisible to any sublinear index —
    # on an isotropic corpus every candidate subset of fraction f keeps
    # ~f of the "true" neighbors, so recall ≈ scan fraction (BENCH.md).
    # When a true near neighbor EXISTS (the production near-dup case),
    # the SAME index at the SAME scan fraction must find it: queries =
    # dyadically perturbed copies of every 10th corpus vector (cos ≈ 1
    # to their source), recall@5 = fraction whose source vector is
    # returned.
    from deepseek_ocr_spark.operators.similarity import lsh_topk

    _pv = F.col("vec_id")
    _pfac = F.lit(1.0) + ((_pv % 7) - 3).cast("double") / F.lit(1024.0)
    _pshift = ((_pv % 3) - 1).cast("double") / F.lit(64.0)
    planted_q = (
        emb.filter(_pv % 10 == 0)
        .select(
            "vec_id",
            F.transform(
                "embedding", lambda x: x.cast("double") * _pfac + _pshift
            ).alias("embedding"),
        )
        .select((_pv + 1_000_000).alias("vec_id"), "embedding")
    )
    n_pq = planted_q.count()
    planted_hits = (
        lsh_topk(
            emb,
            planted_q,
            k=5,
            n_planes=_S2_PLANES,
            n_probe=_S2_PROBE,
            n_tables=_S2_TABLES,
            dim=64,
        )
        .filter(F.col("neighbor_id") == F.col("query_id") - 1_000_000)
        .select("query_id")
        .distinct()
        .count()
    )
    result["ann_recall_lsh_planted"] = round(planted_hits / n_pq, 4)
    # build-once-probe-many path (VERDICT r3 #4): probe a PERSISTED
    # cell-partitioned index — the vector-store shape whose cost scales
    # with the query batch, not the corpus. Index build is cached like
    # the corpora; the timed part is the probe alone.
    from deepseek_ocr_spark.operators.similarity import (
        _collect_seed_centroids,
        ivf_index,
        ivf_probe,
    )

    # cache key includes the centroid parameters, the source-corpus
    # identity (path + mtime + size of the embeddings parquet), AND the
    # index-building code's identity (similarity.py source hash): a
    # tuned _S3_CELLS/_S3_BASE, a regenerated/retargeted SF_DIR, or an
    # edit to ivf_index's cell assignment must each rebuild the index,
    # or the probe would join NEW-centroid/new-code query cells against
    # OLD partitions (silent wrong candidates). _GEN_VER only covers
    # bench-internal derivations, not operator edits (review r5).
    import hashlib as _hashlib

    _emb_src = os.path.join(SF_DIR, "embeddings.parquet")
    _emb_stat = os.stat(_emb_src)
    _sim_src = os.path.join(
        os.path.dirname(os.path.abspath(__file__)),
        "deepseek_ocr_spark", "operators", "similarity.py",
    )
    with open(_sim_src, "rb") as _f:
        _sim_h = _hashlib.md5(_f.read()).hexdigest()[:8]
    _emb_tok = _hashlib.md5(
        f"{os.path.abspath(_emb_src)}:{_emb_stat.st_mtime_ns}:"
        f"{_emb_stat.st_size}:{_sim_h}".encode()
    ).hexdigest()[:8]
    idx_p = _corpus_path(
        f"ivf_index_c{_S3_CELLS}_b{_S3_BASE}_{_emb_tok}", int(SF * 1000)
    )
    cents = _collect_seed_centroids(emb, _S3_CELLS, _S3_BASE, "vec_id", "embedding")
    if not _corpus_ready(idx_p):
        ivf_index(emb, cents).write.partitionBy("cell").mode(
            "overwrite"
        ).parquet(idx_p)
    stored_idx = spark.read.parquet(idx_p)
    best = float("inf")
    for _ in range(3):
        t0 = time.time()
        _run(
            ivf_probe(
                stored_idx,
                cents,
                emb.filter(F.col("vec_id") < 20),
                k=5,
                n_probe=_S3_PROBE,
            )
        )
        best = min(best, time.time() - t0)
    result["ivf_probe_stored_sec"] = round(best, 3)
    d3_found = _pairs("d3_minhash_lsh")
    planted = {
        (r["doc_id"], r["doc_id"] + 1_000_000)
        for r in spark.read.parquet(f"{SF_DIR}/documents.parquet")
        .filter(F.col("doc_id") % 10 == 0)
        .select("doc_id")
        .collect()
    }
    result["minhash_planted_recall"] = round(
        len(planted & d3_found) / len(planted), 4
    )
    vplanted = {
        (r["vec_id"], r["vec_id"] + 1_000_000)
        for r in spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
        .filter(F.col("vec_id") % 5 == 0)
        .select("vec_id")
        .collect()
    }
    result["embdup_planted_recall"] = round(
        len(vplanted & _pairs("d5_embedding_dup")) / len(vplanted), 4
    )
    # recall alone would hide an all-pairs regression: report the d5
    # candidate fraction (distinct OR'd-bucket pairs / within-label
    # pairs) alongside it (VERDICT r3 #3)
    from deepseek_ocr_spark.operators.similarity import (
        embedding_dup_scan_stats,
    )
    from deepseek_ocr_spark.queries import (
        _D5_PLANES,
        _D5_TABLES,
        _vecs_with_planted_dups,
    )

    result["embdup_scan_fraction"] = embedding_dup_scan_stats(
        _vecs_with_planted_dups(spark, SF_DIR),
        n_planes=_D5_PLANES,
        dim=64,
        n_tables=_D5_TABLES,
    ).collect()[0]["scan_fraction"]

    # degenerate-page F1 at the reference's (20,50) params (VERDICT r2
    # #6): 5% of docs are a 3-token cycle repeated 800x — each carries
    # ~790-multiplicity ngram keys, the exact shape that made the r2
    # self-join enumerate ~600k pairs per key. The lag-window form is
    # multiplicity-linear; max per-key multiplicity is reported so the
    # bounded-blowup claim is a measurement, not prose.
    from deepseek_ocr_spark.operators.ngram_ban import (
        ngram_array,
        ngram_ban_flags,
    )

    n_deg_docs = max(N_DOCS // 4, 1000)
    deg_docs = spark.range(n_deg_docs).select(
        F.col("id").alias("doc_id"),
        F.when(
            F.col("id") % 20 == 0,
            F.rtrim(F.repeat(F.lit("lorem ipsum dolor "), 800)),
        )
        .otherwise(
            F.array_join(
                F.transform(
                    F.sequence(F.lit(0), F.lit(199)),
                    lambda j: F.concat(
                        F.lit("w"), ((F.col("id") * 7 + j * 13) % 997).cast("string")
                    ),
                ),
                " ",
            )
        )
        .alias("text"),
    )
    deg_path = _corpus_path("f1deg", n_deg_docs)
    if not _corpus_ready(deg_path):
        deg_docs.repartition(_LAYOUT_FILES).write.mode("overwrite").parquet(
            deg_path
        )
    deg = spark.read.parquet(deg_path)
    deg.count()  # warm scan
    best = float("inf")
    for _ in range(3):  # min-of-3, same steal rationale as the headline loop
        t0 = time.time()
        _run(ngram_ban_flags(deg, ngram_size=20, window_size=50))
        best = min(best, time.time() - t0)
    result["f1_degenerate_sec"] = round(best, 3)
    result["f1_degenerate_docs"] = n_deg_docs
    # max per-(doc, ngram) key multiplicity actually present in the
    # corpus — measured on the operator's OWN ngram identity
    # (ngram_array is the shared constructor ngram_ban_flags shuffles on)
    result["f1_degenerate_max_multiplicity"] = (
        deg.select(
            F.col("doc_id"),
            F.explode(ngram_array(F.split(F.col("text"), r"\s+"), 20)).alias(
                "ng"
            ),
        )
        .groupBy("doc_id", "ng")
        .count()
        .agg(F.max("count"))
        .collect()[0][0]
    )

    # cross-document exact-substring dedup (ExactSubstr) over the
    # interleaved bench corpus flattened to text: the template-generated
    # docs share boilerplate densely, the operator's real workload. The
    # window cache is released per run so each timed run pays the one
    # rolling-hash kernel pass (honest-method rule, review r4).
    from deepseek_ocr_spark.operators.substring_dedup import (
        substring_dup_spans,
    )

    flat_docs = spark.read.parquet(docs_p).select(
        "doc_id",
        F.array_join(
            F.transform("spans", lambda s: F.coalesce(s["text"], F.lit(""))),
            " ",
        ).alias("text"),
    )
    best = float("inf")
    n_flagged = 0
    for _ in range(3):
        _opcache.release()
        t0 = time.time()
        spans_df = substring_dup_spans(flat_docs, n=50)
        n_flagged = spans_df.count()
        best = min(best, time.time() - t0)
    result["substring_dedup_sec"] = round(best, 3)
    result["substring_dedup_flagged_intervals"] = n_flagged
    _opcache.release()

    # the composed curation job (VERDICT r4 #4): redact → repetition
    # gate → minhash dedup + cluster collapse → substring excision, one
    # flagship pipeline over the flattened interleaved corpus. It is a
    # multi-stage job with its own internal materializations (every
    # stage localCheckpoints), so one honest cold run is the measurement
    # — min-of-N would mostly re-time the JIT-warm later stages. Caches
    # released first; per-stage seconds come from the job's own stats.
    import shutil
    import tempfile

    from deepseek_ocr_spark.jobs import run_curation_job

    flat_path = _corpus_path("flatdocs", N_DOCS)
    if not _corpus_ready(flat_path):
        flat_docs.repartition(_LAYOUT_FILES).write.mode("overwrite").parquet(
            flat_path
        )
    cur_out = tempfile.mkdtemp(prefix="bench_curation_")
    try:
        _opcache.release()
        t0 = time.time()
        cur_stats = run_curation_job(spark, flat_path, cur_out)
        result["curation_job_sec"] = round(time.time() - t0, 3)
        result["curation_job_docs_per_sec"] = round(
            cur_stats["docs_in"] / result["curation_job_sec"], 1
        )
        for k, v in cur_stats.items():
            if k.startswith("sec_"):
                result[f"curation_{k}"] = v
        result["curation_docs_in"] = cur_stats["docs_in"]
        result["curation_docs_out"] = cur_stats["docs_out"]
    finally:
        shutil.rmtree(cur_out, ignore_errors=True)
    _opcache.release()

    # the composed training-prep job (r5): holdout carve → temperature
    # mix → token count → sequence pack, the stage after curation. Same
    # honest-cold-run protocol (multi-stage job with internal
    # localCheckpoints — one cold run, per-stage seconds from the job's
    # stats). Input = the flat corpus with a deterministic skewed domain
    # tag (60/20/10/10) so alpha=0.5 genuinely upsamples the tail.
    from deepseek_ocr_spark.jobs import run_training_prep_job

    tp_in = _corpus_path("flatdocs_lang", N_DOCS)
    if not _corpus_ready(tp_in):
        langs = ["en"] * 6 + ["zh", "zh", "de", "fr"]
        spark.read.parquet(flat_path).withColumn(
            "lang",
            F.element_at(
                F.array(*[F.lit(x) for x in langs]),
                (F.pmod(F.xxhash64(F.col("doc_id")), 10) + 1).cast("int"),
            ),
            # fixed layout like every other cached corpus: without the
            # repartition, the writer session's core count sets the file
            # count and a later session scans ragged bins (review r5 —
            # the one cached corpus that skipped the invariant)
        ).repartition(_LAYOUT_FILES).write.mode("overwrite").parquet(tp_in)
    tp_out = tempfile.mkdtemp(prefix="bench_trainprep_")
    try:
        _opcache.release()
        t0 = time.time()
        tp_stats = run_training_prep_job(spark, tp_in, tp_out)
        result["training_prep_sec"] = round(time.time() - t0, 3)
        result["training_prep_docs_per_sec"] = round(
            tp_stats["docs_in"] / result["training_prep_sec"], 1
        )
        for k, v in tp_stats.items():
            if k.startswith("sec_"):
                result[f"trainprep_{k}"] = v
        result["trainprep_docs_in"] = tp_stats["docs_in"]
        result["trainprep_mixed_docs"] = tp_stats["mixed_docs"]
        result["trainprep_mean_utilization"] = tp_stats["mean_utilization"]
    finally:
        shutil.rmtree(tp_out, ignore_errors=True)
    _opcache.release()

    if os.environ.get("SPARK_GRAFT_SCALING") == "1":
        # north_rule scaling evidence: same job, two cluster sizes
        # (SCALE_LEVELS: N vs 4N cores), fresh JVM each. The job must be large
        # enough that compute dominates fixed overhead at BOTH levels
        # (a 3s run at 32 cores hides 15% constant cost -> apparent
        # sublinear scaling); 400k docs x 256 files puts the 32-core run
        # at ~7s and yields equal per-core throughput.
        scale_docs = max(N_DOCS * 20, 400_000)
        # rule 19c (both jobs): fixed costs (driver collects, stage
        # scheduling, AQE re-planning: ~2-6 s, level-independent) must be
        # a small fraction of the FAST leg or they fake sublinearity.
        # The jobs got fast enough (kernels in r4, the 8m smooth-schedule
        # pin in r5) that 400k docs runs the 32-core extract leg in ~5 s
        # — constant-dominated — so BOTH jobs now run the 6x corpus
        # (2.4M docs: extract ~29 s, minhash ~48 s at 32c; constants
        # ≤7%). One shared corpus, one generation.
        scale_docs_minhash = 6 * scale_docs
        scale_docs_extract = scale_docs_minhash
        spark_gen = spark
        from deepseek_ocr_spark import corpus as _corpus_mod

        paths = {}
        for job, n in (
            ("extract", scale_docs_extract),
            ("minhash", scale_docs_minhash),
        ):
            # layout-keyed path: the headline corpus of the same size has
            # default partitioning; reusing it would void the 256-file
            # premise
            p = _corpus_path("documents_p256", n)
            if not _corpus_ready(p):
                _corpus_mod.spark_documents(
                    spark_gen, seed=42, n_docs=n
                ).repartition(256).write.mode("overwrite").parquet(p)
            paths[job] = (p, n)
        spark.stop()
        # each level in a FRESH subprocess: a restarted SparkContext
        # shares the parent's JVM and inherits its degraded heap/JIT
        # state, which poisons timings.
        import subprocess

        # MACHINE CEILING (r5 final): before judging any job's N→4N
        # ratio, measure what the BOX can deliver between the same two
        # levels right now — a pure-Python integer busy loop (no Spark,
        # no allocation, no IO) run as 8 vs 32 concurrent processes.
        # Measured 2026-08-20: this VM runs each core at ~53% of its
        # 8-busy speed when all 32 are busy (hypervisor co-tenancy +
        # all-core turbo), a hard ceiling of eff ≈ 0.60 that NO job can
        # beat with pure compute. Probed twice (before each cycle, same
        # contention windows as the legs); the MAX is reported — the
        # most generous reading of the machine, hence the most
        # conservative normalization of the jobs.
        ceilings = [_machine_ceiling()]

        # TEMPORALLY INTERLEAVED cycles: host steal arrives in
        # multi-minute windows, so running all of one level then all of
        # the other lets a single window poison one level's entire
        # sample and fake (or inflate) the efficiency ratio. Two cycles
        # of N→4N, two timed runs per fresh JVM, min per level across
        # cycles — each level gets a shot at every contention window.
        for job, key in (("extract", ""), ("minhash", "_minhash")):
            best = {str(c): None for c in SCALE_LEVELS}
            for _cycle in range(2):
                for cores in SCALE_LEVELS:
                    out = subprocess.run(
                        [sys.executable, os.path.abspath(__file__),
                         "--scale-worker", str(cores), paths[job][0], job,
                         "2"],
                        capture_output=True,
                        text=True,
                        check=False,
                    )
                    # check=True would discard the captured stderr (the
                    # Spark stack trace) from the exception; surface it —
                    # a multi-hour scaling run must not abort opaquely
                    lines = out.stdout.strip().splitlines()
                    if out.returncode != 0 or not lines:
                        raise RuntimeError(
                            f"scale worker {job}@{cores}c failed "
                            f"(rc={out.returncode}); stderr tail:\n"
                            + "\n".join(out.stderr.splitlines()[-30:])
                        )
                    got = json.loads(lines[-1])
                    k = str(cores)
                    if best[k] is None or got["sec"] < best[k]["sec"]:
                        best[k] = got
            ceilings.append(_machine_ceiling())
            lo, hi = SCALE_LEVELS
            eff = (best[str(lo)]["sec"] / best[str(hi)]["sec"]) / (hi / lo)
            result[f"scaling{key}"] = best
            result[f"scaling_efficiency_n_to_4n{key}"] = round(eff, 3)
            result[f"scaling_docs{key}"] = paths[job][1]
        ceiling = max(c["eff"] for c in ceilings)
        result["scaling_levels"] = list(SCALE_LEVELS)
        result["machine_ceiling_eff_n_to_4n"] = ceiling
        result["machine_ceiling_probes"] = ceilings
        for key in ("", "_minhash"):
            result[f"scaling_efficiency_vs_machine{key}"] = round(
                result[f"scaling_efficiency_n_to_4n{key}"] / ceiling, 3
            )

    print(json.dumps(result))


if __name__ == "__main__":
    if len(sys.argv) > 1 and sys.argv[1] == "--scale-worker":
        _scale_worker(
            int(sys.argv[2]),
            sys.argv[3],
            sys.argv[4] if len(sys.argv) > 4 else "extract",
            int(sys.argv[5]) if len(sys.argv) > 5 else 4,
        )
    else:
        main()
