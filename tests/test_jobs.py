"""Job-composition layer: resumable spans job, pages job sinks, locate
task — the user-facing equivalents of the reference's run scripts."""

import shutil
import tempfile

from deepseek_ocr_spark import corpus, jobs
from deepseek_ocr_spark.operators.spans_pipeline import extract_spans


def test_spans_job_resume_cycle(spark):
    in_dir = tempfile.mkdtemp(prefix="job_in_")
    out_dir = tempfile.mkdtemp(prefix="job_out_")
    try:
        corpus.spark_documents(spark, seed=9, n_docs=80).write.mode(
            "overwrite"
        ).parquet(in_dir)
        s1 = jobs.run_spans_job(spark, in_dir, out_dir, partitions=4)
        assert s1["slices_committed_now"] == 16
        s2 = jobs.run_spans_job(spark, in_dir, out_dir)
        assert s2["resumed"] and s2["slices_committed_now"] == 0
        got = {
            r["doc_id"]: r["blocks_kept"]
            for r in spark.read.parquet(f"{out_dir}/spans").collect()
        }
        direct = {
            r["doc_id"]: r["blocks_kept"]
            for r in extract_spans(spark.read.parquet(in_dir)).collect()
        }
        assert got == direct
    finally:
        shutil.rmtree(in_dir, ignore_errors=True)
        shutil.rmtree(out_dir, ignore_errors=True)


def test_dedup_job_incremental_and_idempotent(spark):
    """Two slices through the store: cross-slice dups found without
    re-shingling slice 1; re-running a slice is a no-op (anti-join
    resume); the store only accumulates accepted docs."""
    base = tempfile.mkdtemp(prefix="dedup_job_")
    in1, in2, store = f"{base}/in1", f"{base}/in2", f"{base}/store"
    try:
        rows1 = [(i, f"unique text number {i} alpha beta gamma delta") for i in range(10)]
        rows1.append((10, rows1[3][1]))  # intra-slice dup of 3
        spark.createDataFrame(rows1, "doc_id long, text string").write.parquet(in1)
        s1 = jobs.run_dedup_job(spark, in1, store)
        assert s1 == {
            "docs_in": 11,
            "docs_new": 11,
            "dups_found": 1,
            "accepted": 10,
            "store_total": 10,
        }
        # re-run slice 1: every doc is already DECIDED (accepted into
        # the store or logged as a dup) — a true no-op
        s1b = jobs.run_dedup_job(spark, in1, store)
        assert s1b == {
            "docs_in": 11,
            "docs_new": 0,
            "dups_found": 0,
            "accepted": 0,
            "store_total": 10,
        }
        # a hash-mode mismatch with the store must fail loudly
        import pytest

        with pytest.raises(ValueError, match="hash_mode"):
            jobs.run_dedup_job(spark, in1, store, hash_mode="portable")

        rows2 = [
            (100, rows1[5][1]),  # dup of stored doc 5
            (101, "completely new text epsilon zeta eta theta iota"),
        ]
        spark.createDataFrame(rows2, "doc_id long, text string").write.parquet(in2)
        s2 = jobs.run_dedup_job(spark, in2, store)
        assert s2["docs_new"] == 2 and s2["dups_found"] == 1
        assert s2["accepted"] == 1 and s2["store_total"] == 11
        dup_pairs = {
            (r["doc_id"], r["dup_of"], r["dup_in_store"])
            for r in spark.read.parquet(f"{store}/dups").collect()
        }
        assert (100, 5, True) in dup_pairs and (10, 3, False) in dup_pairs
    finally:
        shutil.rmtree(base, ignore_errors=True)


def test_pages_job_sinks(spark):
    in_dir = tempfile.mkdtemp(prefix="pj_in_")
    out_dir = tempfile.mkdtemp(prefix="pj_out_")
    try:
        corpus.spark_pages(spark, seed=9, n_docs=40).write.mode(
            "overwrite"
        ).parquet(in_dir)
        jobs.run_pages_job(spark, in_dir, out_dir)
        docs = spark.read.parquet(f"{out_dir}/documents")
        md = spark.read.parquet(f"{out_dir}/markdown")
        metrics = spark.read.parquet(f"{out_dir}/metrics").collect()[0]
        assert docs.count() == 40 and md.count() == 40
        assert metrics["docs"] == 40
        assert metrics["pages_kept"] <= metrics["pages_in"]
    finally:
        shutil.rmtree(in_dir, ignore_errors=True)
        shutil.rmtree(out_dir, ignore_errors=True)


def test_locate_job(spark):
    in_dir = tempfile.mkdtemp(prefix="loc_in_")
    try:
        corpus.spark_documents(spark, seed=9, n_docs=60).write.mode(
            "overwrite"
        ).parquet(in_dir)
        hits = jobs.locate_job(spark, in_dir, "title").collect()
        assert len(hits) > 0
        assert all(r["kind"] == "title" for r in hits)
    finally:
        shutil.rmtree(in_dir, ignore_errors=True)


def test_cluster_job_transitive_store_consolidation(spark):
    """The dup log is an edge list; slices decided independently can
    merge clusters only transitively. A (doc 1) and B (doc 2) are both
    accepted (their direct jaccard is below threshold); a later doc C
    matches BOTH — the cluster job must put {1, 2, C} in ONE cluster.
    An unrelated exact-dup pair {3, 11} stays its own cluster."""
    import shutil
    import tempfile

    base = tempfile.mkdtemp(prefix="cluster_job_")
    try:
        A = " ".join(f"alpha{i}" for i in range(12))
        B = (
            " ".join(f"alpha{i}" for i in range(6, 12))
            + " "
            + " ".join(f"beta{i}" for i in range(6))
        )
        C = A + " " + " ".join(f"beta{i}" for i in range(6))
        D = " ".join(f"gamma{i}" for i in range(12))
        spark.createDataFrame(
            [(1, A), (2, B), (3, D)], "doc_id long, text string"
        ).write.parquet(f"{base}/in1")
        spark.createDataFrame(
            [(10, C), (11, D)], "doc_id long, text string"
        ).write.parquet(f"{base}/in2")
        s1 = jobs.run_dedup_job(spark, f"{base}/in1", f"{base}/store")
        assert s1["dups_found"] == 0 and s1["accepted"] == 3  # A !~ B directly
        s2 = jobs.run_dedup_job(spark, f"{base}/in2", f"{base}/store")
        assert s2["dups_found"] == 2
        stats = jobs.run_cluster_job(spark, f"{base}/store")
        assert stats == {
            "edges": 3,
            "docs_clustered": 5,
            "clusters": 2,
            "max_cluster_size": 3,
        }
        rows = {
            r["doc_id"]: (r["cluster_id"], r["cluster_size"], r["is_canonical"])
            for r in spark.read.parquet(f"{base}/store/clusters").collect()
        }
        assert rows == {
            1: (1, 3, True),
            2: (1, 3, False),
            10: (1, 3, False),
            3: (3, 2, True),
            11: (3, 2, False),
        }
        # consolidation is a derived snapshot: re-running is idempotent
        assert jobs.run_cluster_job(spark, f"{base}/store") == stats
    finally:
        shutil.rmtree(base, ignore_errors=True)


def test_cluster_job_missing_store_is_empty(spark):
    import tempfile

    stats = jobs.run_cluster_job(spark, tempfile.mkdtemp(prefix="empty_store_"))
    # shape must match the normal path's dict exactly (ADVICE r4)
    assert stats == {
        "edges": 0,
        "docs_clustered": 0,
        "clusters": 0,
        "max_cluster_size": 0,
    }


def test_curation_job_end_to_end(spark):
    """One planted artifact per pipeline stage: a PII doc (redacted, not
    dropped), a repetition-bomb doc (gate-dropped), a near-dup pair
    (one canonical kept), two docs sharing a long passage (second's
    passage excised), and a benchmark-contaminated doc (dropped)."""
    import shutil
    import tempfile

    base = tempfile.mkdtemp(prefix="curate_")
    try:
        def u(prefix, k):
            return " ".join(f"{prefix}{i}" for i in range(k))

        # fillers are 100+ tokens: the Gopher top-n-gram thresholds are
        # calibrated for web-scale docs, and a 40-token fixture's single
        # top 4-gram already covers >16% of its characters
        passage = u("shared", 14)
        bench_text = u("evalq", 20)
        rows = [
            (1, "contact bob@example.com today " + u("a", 100), "en"),  # PII
            (2, "spam " * 300, "en"),                                    # repetition bomb
            (3, u("b", 100), "en"),                                      # near-dup canonical
            (4, u("b", 99) + " CHANGED", "en"),                          # near-dup of 3
            (5, u("c", 100) + " " + passage, "de"),                      # passage, first site
            (6, u("d", 100) + " " + passage, "de"),                      # passage, second site
            (7, u("e", 50) + " " + bench_text + " " + u("f", 50), "en"),  # contaminated
            (8, u("g", 100), "fr"),                                      # clean
        ]
        spark.createDataFrame(
            rows, "doc_id long, text string, lang string"
        ).write.parquet(f"{base}/in")
        spark.createDataFrame(
            [(0, bench_text)], "doc_id long, text string"
        ).write.parquet(f"{base}/bench")
        stats = jobs.run_curation_job(
            spark,
            f"{base}/in",
            f"{base}/out",
            benchmark_path=f"{base}/bench",
            substring_n=8,
            decontam_n=8,
            keep_cols=("lang",),
        )
        assert stats["docs_in"] == 8
        assert stats["after_repetition_gate"] == 7   # doc 2 dropped
        assert stats["after_dedup"] == 6             # doc 4 dropped (cluster of {3,4})
        assert stats["after_decontamination"] == 5   # doc 7 dropped
        assert stats["docs_out"] == 5
        out = {
            r["doc_id"]: r["text"]
            for r in spark.read.parquet(f"{base}/out/corpus").collect()
        }
        assert set(out) == {1, 3, 5, 6, 8}
        assert "|||EMAIL_ADDRESS|||" in out[1] and "bob@" not in out[1]
        assert out[5].endswith(passage)              # first site kept
        assert out[6] == u("d", 100)                 # second site excised
        # keep_cols carried the domain column through every stage …
        langs = {
            r["doc_id"]: r["lang"]
            for r in spark.read.parquet(f"{base}/out/corpus").collect()
        }
        assert langs == {1: "en", 3: "en", 5: "de", 6: "de", 8: "fr"}
        # … so the documented composition runs: curate → trainprep on
        # the CURATED corpus (this used to throw UNRESOLVED_COLUMN)
        tp = jobs.run_training_prep_job(
            spark, f"{base}/out/corpus", f"{base}/prep", holdout_frac=0.2
        )
        assert tp["docs_in"] == 5
        assert tp["holdout_docs"] + tp["train_docs"] == 5
        assert tp["packs"] >= 1
    finally:
        shutil.rmtree(base, ignore_errors=True)


def test_training_prep_job_end_to_end(spark):
    """Curated corpus -> holdout + temperature-mixed + packed shards:
    holdout partition is exact and stable, the small domain is
    upsampled (epoch rows) while the big one is subsampled, every
    mixed row lands in exactly one pack, and the whole job is
    deterministic (two runs, identical mixed multiset)."""
    base = tempfile.mkdtemp(prefix="trainprep_")
    try:
        rows = [
            (i, " ".join(f"w{i}_{j}" for j in range(30)),
             "big" if i < 400 else "small")
            for i in range(440)
        ]
        spark.createDataFrame(
            rows, "doc_id long, text string, lang string"
        ).write.parquet(f"{base}/in")
        stats = jobs.run_training_prep_job(
            spark,
            f"{base}/in",
            f"{base}/out",
            alpha=0.0,  # uniform over domains: small gets rate ~5.5x
            holdout_frac=0.1,
            seq_budget=100,  # 30-token docs -> 3 docs/pack, util 0.9
        )
        assert stats["docs_in"] == 440
        assert stats["holdout_docs"] + stats["train_docs"] == 440
        assert 15 <= stats["holdout_docs"] <= 75  # 10% of 440, hash-exact
        mixed = spark.read.parquet(f"{base}/out/mixed")
        m = mixed.groupBy("lang").count().collect()
        shares = {r["lang"]: r["count"] for r in m}
        # alpha=0 rebalances toward uniform: small's share rises from
        # ~9% toward ~50%
        assert shares["small"] / stats["mixed_docs"] > 0.3
        assert mixed.filter("epoch > 0").count() > 0  # real upsampling
        # holdout and mixed never overlap
        hold_ids = {
            r["doc_id"]
            for r in spark.read.parquet(f"{base}/out/holdout").collect()
        }
        assert not hold_ids & {r["doc_id"] for r in mixed.collect()}
        # packing partitions the mixed rows exactly
        packs = spark.read.parquet(f"{base}/out/packs")
        from pyspark.sql import functions as F

        assert (
            packs.agg(F.sum("n_docs")).collect()[0][0] == stats["mixed_docs"]
        )
        keys = packs.select(F.explode("doc_ids").alias("k")).collect()
        assert len(keys) == len({r["k"] for r in keys}) == stats["mixed_docs"]
        # contiguous-fill bound: every pack total < budget + one doc
        assert packs.filter("total_tokens >= 100 + 30").count() == 0
        assert stats["oversize_packs"] == 0
        assert 0.5 < stats["mean_utilization"] <= 1.0
        # determinism: identical mixed multiset on a re-run
        stats2 = jobs.run_training_prep_job(
            spark, f"{base}/in", f"{base}/out2",
            alpha=0.0, holdout_frac=0.1, seq_budget=100,
        )
        assert stats2["mixed_docs"] == stats["mixed_docs"]
        a = sorted(
            (r["doc_id"], r["epoch"])
            for r in spark.read.parquet(f"{base}/out/mixed").collect()
        )
        b = sorted(
            (r["doc_id"], r["epoch"])
            for r in spark.read.parquet(f"{base}/out2/mixed").collect()
        )
        assert a == b
    finally:
        shutil.rmtree(base, ignore_errors=True)


def test_dedup_job_survives_empty_store_dirs(spark):
    """Review r5: a crash before the FIRST signature/dup append commits
    leaves existing-but-empty store dirs. That state must read as
    'first run' (same fresh-vs-corrupt line as plans/lineage.py), not
    brick the store with UNABLE_TO_INFER_SCHEMA on every rerun."""
    import os

    base = tempfile.mkdtemp(prefix="dedup_job_empty_")
    in1, store = f"{base}/in1", f"{base}/store"
    try:
        rows = [(i, f"fresh text number {i} alpha beta gamma") for i in range(6)]
        spark.createDataFrame(rows, "doc_id long, text string").write.parquet(in1)
        os.makedirs(f"{store}/signatures")
        os.makedirs(f"{store}/dups")
        s = jobs.run_dedup_job(spark, in1, store)
        assert s["accepted"] == 6 and s["store_total"] == 6
    finally:
        shutil.rmtree(base, ignore_errors=True)


def test_curate_and_prep_stats_match_written_outputs(spark):
    """The counts each job reports are observed on the Spark job that
    materialises the stage, not recounted afterwards: they must equal a
    recount of what the jobs wrote."""
    from pyspark.sql import functions as F

    base = tempfile.mkdtemp(prefix="curate_recount_")
    try:
        rows = [
            (i, " ".join(f"t{i}_{j}" for j in range(40 + i % 7)), "edf"[i % 3])
            for i in range(120)
        ]
        # near-duplicates of the first ten docs (one word changed)
        rows += [(1000 + i, rows[i][1] + " x", rows[i][2]) for i in range(10)]
        spark.createDataFrame(
            rows, "doc_id long, text string, lang string"
        ).write.parquet(f"{base}/in")
        cur = jobs.run_curation_job(
            spark, f"{base}/in", f"{base}/out", keep_cols=("lang",)
        )
        corpus = spark.read.parquet(f"{base}/out/corpus")
        assert cur["docs_in"] == 130
        assert cur["after_dedup"] < cur["after_repetition_gate"]
        assert corpus.count() == cur["docs_out"] == cur["after_dedup"]
        assert cur["tokens_out"] == corpus.select(
            F.sum(F.size(F.split("text", r"\s+")))
        ).collect()[0][0]

        tp = jobs.run_training_prep_job(
            spark, f"{base}/out/corpus", f"{base}/prep", holdout_frac=0.1,
            seq_budget=200,
        )
        packs = spark.read.parquet(f"{base}/prep/packs")
        assert tp["docs_in"] == cur["docs_out"]
        for name, key in (("holdout", "holdout_docs"), ("mixed", "mixed_docs")):
            assert spark.read.parquet(f"{base}/prep/{name}").count() == tp[key]
        assert packs.count() == tp["packs"]
        agg = packs.agg(
            F.sum("total_tokens"), F.sum(F.col("oversize").cast("int"))
        ).collect()[0]
        assert agg[0] == tp["tokens_packed"] and agg[1] == tp["oversize_packs"]
        for k in ("sec_holdout_split", "sec_mix", "sec_pack", "sec_write"):
            assert k in tp
    finally:
        shutil.rmtree(base, ignore_errors=True)


def test_curate_and_prep_on_input_the_gate_empties(spark):
    """Every doc is a repetition bomb: curation empties at the gate and
    training prep then runs on an empty corpus. Both finish, and every
    count and sum reads 0 (an int, not None)."""
    base = tempfile.mkdtemp(prefix="curate_empty_")
    try:
        spark.createDataFrame(
            [(i, "spam " * 300, "en") for i in range(6)],
            "doc_id long, text string, lang string",
        ).write.parquet(f"{base}/in")
        cur = jobs.run_curation_job(
            spark, f"{base}/in", f"{base}/out", keep_cols=("lang",)
        )
        assert cur["docs_in"] == 6
        for k in ("after_repetition_gate", "after_dedup", "docs_out", "tokens_out"):
            assert cur[k] == 0 and isinstance(cur[k], int), (k, cur[k])
        assert spark.read.parquet(f"{base}/out/corpus").count() == 0
        tp = jobs.run_training_prep_job(spark, f"{base}/out/corpus", f"{base}/prep")
        for k in ("docs_in", "holdout_docs", "train_docs", "mixed_docs", "packs",
                  "tokens_packed", "oversize_packs"):
            assert tp[k] == 0 and isinstance(tp[k], int), (k, tp[k])
        assert tp["pack_shards"] == 1
        assert spark.read.parquet(f"{base}/prep/packs").count() == 0
    finally:
        shutil.rmtree(base, ignore_errors=True)


def test_cluster_job_empty_dup_log(spark):
    """A store whose dup log exists but holds no rows (every slice was
    accepted whole) reads as all-zero, the same dict as a missing log."""
    base = tempfile.mkdtemp(prefix="cluster_empty_")
    try:
        spark.createDataFrame(
            [], "doc_id long, dup_of long, dup_in_store boolean"
        ).write.parquet(f"{base}/dups")
        assert jobs.run_cluster_job(spark, base) == {
            "edges": 0,
            "docs_clustered": 0,
            "clusters": 0,
            "max_cluster_size": 0,
        }
    finally:
        shutil.rmtree(base, ignore_errors=True)
