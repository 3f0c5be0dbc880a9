"""End-to-end training-corpus build (plans/curation.py): the composed
ladder holds every stage's invariant at once on the documents fixture."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from spotify_etl_aws_spark.plans.curation import build_training_corpus
from spotify_etl_aws_spark.sources.readers import load_table


PII_DOC_ID = 900001
SPAM_DOC_ID = 900002


@pytest.fixture(scope="module")
def built(spark, sf_dir, tmp_path_factory):
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    # plant one PII-bearing doc (must survive, scrubbed) and one
    # repetition-spam doc (must be dropped by the repetition gate)
    planted = spark.createDataFrame(
        [
            (
                PII_DOC_ID,
                "the quick brown fox wrote to alice@example.com about many "
                "different interesting subjects spanning storage compute "
                "network planning scheduling caching batching sorting "
                "joining grouping windowing sampling packing splitting",
            ),
            (SPAM_DOC_ID, "buy now " * 60),
        ],
        "doc_id bigint, text string",
    )
    docs = docs.unionByName(planted)
    # benchmark = 3 documents sampled from the corpus itself, so the
    # decontamination stage has planted, known-true positives
    bench = docs.filter(F.col("doc_id").isin(1, 2, 3)).select(
        F.col("text").alias("text")
    )
    out = build_training_corpus(
        spark,
        docs,
        bench,
        str(tmp_path_factory.mktemp("corpus")),
        quality_cutoff=0.2,
        pack_budget=512,
        split_weights={"train": 0.9, "val": 0.05, "test": 0.05},
    )
    return docs, out


def test_contaminated_docs_are_gone(built, spark):
    docs, out = built
    kept = {r.doc_id for r in out.select("doc_id").collect()}
    assert not kept & {1, 2, 3}
    assert len(kept) > 0


def test_pii_scrubbed_and_spam_gated(built):
    """The round-5 ladder stages: the planted PII doc survives with its
    email redacted; the planted repetition-spam doc is gone."""
    _, out = built
    ids = {r.doc_id for r in out.select("doc_id").collect()}
    assert SPAM_DOC_ID not in ids
    assert PII_DOC_ID in ids
    text = out.filter(F.col("doc_id") == PII_DOC_ID).collect()[0].text
    assert "alice@example.com" not in text and "<EMAIL>" in text


def test_quality_and_dedup_gates_applied(built):
    _, out = built
    rows = out.collect()
    assert all(r.quality_score >= 0.2 for r in rows)
    # one row per kept document
    assert len({r.doc_id for r in rows}) == len(rows)


def test_incremental_curation_exactly_once(spark, sf_dir, tmp_path):
    """Streaming curation: files land in waves, each doc curated
    exactly once across runs, gates and frozen splits applied, and a
    wave-2 re-land of wave-1 CONTENT (same text, new doc_id) is dropped
    by the cross-batch dedup state."""
    from pyspark.sql import functions as F

    from spotify_etl_aws_spark.plans.curation import incremental_curation

    docs = load_table(spark, sf_dir, "documents")
    base_text = " ".join(
        f"{w}{i}" for i, w in enumerate(
            ("alpha beta gamma delta epsilon zeta eta theta iota kappa "
             "lambda mu nu xi omicron pi rho sigma tau upsilon").split()
            * 3
        )
    )
    meta_cols = [c for c in docs.columns if c not in ("doc_id", "text")]
    anchor = docs.limit(1).select(
        F.lit(8888).cast("long").alias("doc_id"),
        F.lit(base_text).alias("text"),
        *meta_cols,
    )
    wave1 = docs.filter(F.col("doc_id") < 100).unionByName(anchor)
    # wave 2 carries a planted duplicate: doc 9999 re-lands doc 50's text
    dup = wave1.filter(F.col("doc_id") == 50).select(
        F.lit(9999).cast("long").alias("doc_id"),
        "text",
        *meta_cols,
    )
    # ...and a planted NEAR-duplicate: doc 9998 is the wave-1 anchor's
    # text with a short appended tail (different content hash, so only
    # the signature store can catch it)
    near = docs.limit(1).select(
        F.lit(9998).cast("long").alias("doc_id"),
        F.lit(base_text + " plus a small appended tail").alias("text"),
        *meta_cols,
    )
    wave2 = (
        docs.filter((F.col("doc_id") >= 100) & (F.col("doc_id") < 200))
        .unionByName(dup)
        .unionByName(near)
    )
    bench = docs.filter(F.col("doc_id").isin(5, 6)).select("text")

    land = tmp_path / "landing"
    land.mkdir()
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    wave1.write.parquet(str(land / "wave1.parquet"))

    incremental_curation(spark, str(land), bench, out, ckpt, quality_cutoff=0.2)
    path = f"{out}/corpus_incremental"
    first = spark.read.parquet(path)
    n1 = first.count()
    assert n1 > 0
    kept_ids = {r.doc_id for r in first.select("doc_id").collect()}
    assert not kept_ids & {5, 6}  # decontaminated
    splits1 = {r.doc_id: r.split for r in first.collect()}

    # re-run with nothing new: no duplicates
    incremental_curation(spark, str(land), bench, out, ckpt, quality_cutoff=0.2)
    assert spark.read.parquet(path).count() == n1

    # second wave appends; wave-1 splits are untouched (frozen hash)
    wave2.write.parquet(str(land / "wave2.parquet"))
    incremental_curation(spark, str(land), bench, out, ckpt, quality_cutoff=0.2)
    final = spark.read.parquet(path)
    assert final.count() > n1
    assert final.select("doc_id").distinct().count() == final.count()
    # the re-landed content was deduped against wave-1 state: the new
    # doc_id never reaches the corpus, the original row is untouched
    final_ids = {r.doc_id for r in final.select("doc_id").collect()}
    assert 9999 not in final_ids
    assert (50 in final_ids) == (50 in kept_ids)
    # the NEAR-duplicate (edited text, new hash) died at the signature
    # store; the wave-1 anchor it edited is still there, curated once
    assert 8888 in kept_ids and 8888 in final_ids
    assert 9998 not in final_ids
    # each document's content appears exactly once corpus-wide
    assert (
        final.select("text").distinct().count() == final.count()
    )
    splits2 = {r.doc_id: r.split for r in final.collect()}
    assert all(splits2[d] == s for d, s in splits1.items())


def test_packs_respect_split_and_budget(built):
    _, out = built
    rows = out.collect()
    by_pack: dict[tuple, list] = {}
    for r in rows:
        by_pack.setdefault((r.split, r.pack_id), []).append(r)
    for (split, _), docs_in_pack in by_pack.items():
        assert len({d.split for d in docs_in_pack}) == 1  # no straddle
        total = sum(d.n_tokens for d in docs_in_pack)
        if len(docs_in_pack) > 1:
            assert total <= 512
    # every split present has valid packs; splits partition the corpus
    splits = {r.split for r in rows}
    assert splits <= {"train", "val", "test"}
    assert "train" in splits
    # pack ids are globally unique: one split per pack_id corpus-wide
    pack_splits: dict[int, set] = {}
    for r in rows:
        pack_splits.setdefault(r.pack_id, set()).add(r.split)
    assert all(len(s) == 1 for s in pack_splits.values())


def test_lm_gate_and_real_tokenizer_packing(spark, sf_dir, tmp_path):
    """The model-based stages: a gibberish doc that clears the surface
    heuristics dies at the perplexity gate, and with a trained BPE
    tokenizer the packer budgets on REAL subword counts (n_tokens ==
    len(tokens))."""
    from spotify_etl_aws_spark.operators.bpe import train_bpe
    from spotify_etl_aws_spark.sources.readers import load_table
    from tests.test_lm import char_lm

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    GIBBERISH_ID = 900003
    gib = spark.createDataFrame(
        [
            (
                GIBBERISH_ID,
                "qzxv jkqp wvxz bqjk zzqx vkjp xqzw pqvz kxjq wqzv "
                "zjqk xvpq qwzx jkvq zpxw qkvj xwzq vpqk jzqx wkvp",
            )
        ],
        "doc_id bigint, text string",
    )
    cand = docs.unionByName(gib)
    # train both models on the CLEAN fixture corpus only
    lm = char_lm([r.text for r in docs.collect() if r.text])
    bpe = train_bpe(docs, num_merges=60)

    out = build_training_corpus(
        spark,
        cand,
        None,
        str(tmp_path / "corpus_lm"),
        quality_cutoff=0.0,
        pii_scrub=False,
        repetition_filter=False,
        pack_budget=512,
        lm_model=lm,
        lm_max_log_ppl=6.0,
        tokenizer=bpe,
    )
    kept = {r.doc_id for r in out.select("doc_id").collect()}
    assert GIBBERISH_ID not in kept
    assert len(kept) > 100  # the fixture corpus itself passes
    # n_tokens is the real subword count, and the token stream rides
    # along in the output
    sample = out.select("n_tokens", "tokens").limit(50).collect()
    for r in sample:
        assert r.n_tokens == len(r.tokens) > 0


def test_incremental_reprocess_does_not_self_match(spark, sf_dir, tmp_path):
    """Epoch-id reuse (foreachBatch replay, or a fresh-checkpoint
    reprocess) must NOT match a batch against its own previously
    written signatures — the self-match would anti-join the whole
    batch away and overwrite its partition empty."""
    from pyspark.sql import functions as F

    from spotify_etl_aws_spark.plans.curation import incremental_curation

    docs = load_table(spark, sf_dir, "documents")
    wave = docs.filter(F.col("doc_id") < 80)
    land = tmp_path / "landing"
    land.mkdir()
    out = str(tmp_path / "out")
    wave.write.parquet(str(land / "wave1.parquet"))

    incremental_curation(
        spark, str(land), None, out, str(tmp_path / "ckpt1"), quality_cutoff=0.2
    )
    path = f"{out}/corpus_incremental"
    n1 = spark.read.parquet(path).count()
    assert n1 > 0
    # fresh checkpoint -> the stream replays the same files as epoch 0
    # again, with the old epoch=0 signature partition already on disk
    incremental_curation(
        spark, str(land), None, out, str(tmp_path / "ckpt2"), quality_cutoff=0.2
    )
    after = spark.read.parquet(path)
    assert after.count() == n1  # identical corpus, not emptied
    assert after.select("doc_id").distinct().count() == n1


def test_substring_dedup_stage_cuts_repeated_span(spark, sf_dir, tmp_path):
    """substring_dedup_k: a long span copied between two otherwise
    distinct documents survives once — the canonical doc keeps it, the
    copy loses exactly that span and continues down the ladder."""
    from spotify_etl_aws_spark.sources.readers import load_table

    span = (
        "shared boilerplate license header granting permission to use "
        "copy modify merge publish distribute sublicense and sell"
    )
    A_ID, B_ID = 900010, 900011
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    body_a = (
        "alpha document body discussing storage engines compaction "
        "strategies write amplification bloom filters leveled tiering "
        "manifest snapshots checkpoint recovery concurrent readers"
    )
    body_b = (
        "beta document body discussing query planners cardinality "
        "estimation join ordering predicate pushdown column pruning "
        "adaptive execution runtime statistics partition elimination"
    )
    planted = spark.createDataFrame(
        [(A_ID, f"{span} {body_a}"), (B_ID, f"{span} {body_b}")],
        "doc_id bigint, text string",
    )
    out = build_training_corpus(
        spark,
        docs.unionByName(planted),
        None,
        str(tmp_path / "corpus_ss"),
        quality_cutoff=0.0,
        pii_scrub=False,
        repetition_filter=False,
        pack_budget=512,
        substring_dedup_k=8,
    )
    got = {
        r.doc_id: r.text
        for r in out.filter(F.col("doc_id").isin(A_ID, B_ID)).collect()
    }
    assert set(got) == {A_ID, B_ID}
    assert "shared boilerplate" in got[A_ID]
    assert "shared boilerplate" not in got[B_ID]
    assert "beta document body" in got[B_ID]


def test_curation_audit_attributes_every_drop(spark, sf_dir, tmp_path):
    """audit=True: every INPUT doc appears exactly once in the audit
    file, attributed to the first ladder stage that dropped it."""
    from spotify_etl_aws_spark.sources.readers import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    DUP_A, DUP_B, SPAM, SHORT = 900021, 900022, 900023, 900024
    dup_text = (
        "the storage engine compacts its levels on a schedule. it keeps "
        "bloom filters for each file, and the manifest records every "
        "snapshot so that checkpoint recovery can replay the latest state "
        "without losing any of the committed writes in the meantime."
    )
    planted = spark.createDataFrame(
        [
            (DUP_A, dup_text),
            (DUP_B, dup_text),
            (SPAM, "buy now " * 60),
            (SHORT, "x"),
        ],
        "doc_id bigint, text string",
    )
    cand = docs.unionByName(planted)
    bench = docs.filter(F.col("doc_id").isin(1, 2)).select("text")
    out_dir = tmp_path / "corpus_audit"
    out = build_training_corpus(
        spark,
        cand,
        bench,
        str(out_dir),
        quality_cutoff=0.2,
        pack_budget=512,
        audit=True,
    )
    audit = {
        r.doc_id: r.status
        for r in spark.read.parquet(str(out_dir / "audit")).collect()
    }
    # total coverage, one row per input doc
    assert len(audit) == cand.count()
    assert audit[1] == "contaminated" and audit[2] == "contaminated"
    assert audit[DUP_A] == "kept"
    assert audit[DUP_B] == "near_duplicate"
    assert audit[SPAM] == "repetition"
    assert audit[SHORT] == "quality"
    # audit 'kept' set == the written corpus
    kept_ids = {k for k, v in audit.items() if v == "kept"}
    assert kept_ids == {r.doc_id for r in out.select("doc_id").collect()}


def test_classifier_gate_in_ladder(spark, sf_dir, tmp_path):
    """quality_model: spam that a classifier (trained in-engine on
    fixture-vs-spam corpora) rejects dies at the 'classifier' stage,
    attributed in the audit file."""
    import numpy as np

    from spotify_etl_aws_spark.operators.classifier import (
        train_quality_classifier,
    )
    from spotify_etl_aws_spark.sources.readers import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    rng = np.random.default_rng(31)
    spam_words = (
        "click buy cheap winner prize casino bonus free offer deal "
        "urgent limited guarantee cash"
    ).split()
    spam = spark.createDataFrame(
        [
            (900100 + i, " ".join(rng.choice(spam_words, size=25)))
            for i in range(40)
        ],
        "doc_id bigint, text string",
    )
    model = train_quality_classifier(
        docs.limit(200), spam.limit(30), dim=64, iters=20
    )
    SPAMMY = 900199
    cand = docs.unionByName(
        spark.createDataFrame(
            [(SPAMMY, " ".join(rng.choice(spam_words, size=25)))],
            "doc_id bigint, text string",
        )
    )
    out_dir = tmp_path / "corpus_clf"
    out = build_training_corpus(
        spark,
        cand,
        None,
        str(out_dir),
        quality_cutoff=0.0,
        pii_scrub=False,
        repetition_filter=False,
        pack_budget=512,
        quality_model=model,
        audit=True,
    )
    kept = {r.doc_id for r in out.select("doc_id").collect()}
    assert SPAMMY not in kept
    assert len(kept) > 100
    audit = {
        r.doc_id: r.status
        for r in spark.read.parquet(str(out_dir / "audit")).collect()
    }
    assert audit[SPAMMY] == "classifier"


def test_language_gate_first_in_ladder(spark, sf_dir, tmp_path):
    """keep_langs: planted Spanish/German docs die at the 'language'
    stage (attributed in the audit) before any shuffle-heavy work."""
    from spotify_etl_aws_spark.sources.readers import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    ES, DE = 900301, 900302
    planted = spark.createDataFrame(
        [
            (ES, "el proyecto de la tabla y que los datos en el motor "
                 "de la consulta y los planes de el sistema"),
            (DE, "der plan und die tabelle das system und der speicher "
                 "ist ein motor zu der anfrage und die daten"),
        ],
        "doc_id bigint, text string",
    )
    out_dir = tmp_path / "corpus_lang"
    out = build_training_corpus(
        spark,
        docs.unionByName(planted),
        None,
        str(out_dir),
        quality_cutoff=0.0,
        pii_scrub=False,
        repetition_filter=False,
        pack_budget=512,
        keep_langs=("en",),
        audit=True,
    )
    kept = {r.doc_id for r in out.select("doc_id").collect()}
    assert ES not in kept and DE not in kept
    assert len(kept) > 100  # the (English) fixture corpus passes
    audit = {
        r.doc_id: r.status
        for r in spark.read.parquet(str(out_dir / "audit")).collect()
    }
    assert audit[ES] == "language" and audit[DE] == "language"


def test_language_gate_guards(spark, sf_dir, tmp_path):
    """Review fixes: zero-stopword-hit docs (non-listed scripts, code)
    do NOT leak through as 'en', and an unknown keep_langs value fails
    fast instead of writing an empty corpus."""
    from spotify_etl_aws_spark.sources.readers import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    ZH = 900401
    planted = spark.createDataFrame(
        [(ZH, "数据 引擎 查询 计划 存储 系统 压缩 排序 分区 索引 合并 "
              "统计 优化 执行 内存 磁盘 网络 分布 并行 调度")],
        "doc_id bigint, text string",
    )
    out = build_training_corpus(
        spark,
        docs.unionByName(planted),
        None,
        str(tmp_path / "corpus_zh"),
        quality_cutoff=0.0,
        pii_scrub=False,
        repetition_filter=False,
        pack_budget=512,
        keep_langs=("en",),
    )
    kept = {r.doc_id for r in out.select("doc_id").collect()}
    assert ZH not in kept
    with pytest.raises(ValueError, match="keep_langs"):
        build_training_corpus(
            spark, docs, None, str(tmp_path / "x"),
            keep_langs=("EN",),
        )


def test_incremental_curation_bounded_dedup_retention(spark, sf_dir, tmp_path):
    """content_dedup_retention bounds the content-hash state with a
    watermark on file landing time: a re-land INSIDE the retention is
    dropped; one landing AFTER the watermark passed the original's
    expiry is re-admitted (the explicit trade-off for finite state).
    Three files with staggered mtimes, one AvailableNow run,
    maxFilesPerTrigger=1 via separate runs."""
    import os
    import time

    from pyspark.sql import functions as F

    from spotify_etl_aws_spark.plans.curation import incremental_curation

    docs = load_table(spark, sf_dir, "documents")
    meta_cols = [c for c in docs.columns if c not in ("doc_id", "text")]
    text_a = " ".join(f"tok{i} word{i} item{i}" for i in range(40))
    text_b = " ".join(f"fresh{i} other{i} thing{i}" for i in range(40))

    def doc(doc_id, text):
        return docs.limit(1).select(
            F.lit(doc_id).cast("long").alias("doc_id"),
            F.lit(text).alias("text"),
            *meta_cols,
        )

    land = tmp_path / "land"
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    now = time.time()

    def land_wave(name, df, mtime):
        p = str(land / name)
        df.coalesce(1).write.mode("overwrite").parquet(p)
        for dp, _, fns in os.walk(p):
            for fn in fns:
                os.utime(os.path.join(dp, fn), (mtime, mtime))

    kwargs = dict(
        quality_cutoff=0.0,
        neardup_threshold=1.5,  # disable near-dup so only the exact
        content_dedup_retention="1 hour",  # hash state is in play
    )
    # wave 1: original content A at t=now
    land_wave("w1", doc(1, text_a), now)
    incremental_curation(spark, str(land), None, out, ckpt, **kwargs)
    # wave 2: re-land of A INSIDE retention (+10 min) — dropped; B
    # advances the watermark far past A's expiry (+10 h)
    land_wave("w2", doc(2, text_a).unionByName(doc(3, text_b)), now + 36000)
    incremental_curation(spark, str(land), None, out, ckpt, **kwargs)
    # wave 3: re-land of A AFTER its state expired — re-admitted
    land_wave("w3", doc(4, text_a), now + 72000)
    incremental_curation(spark, str(land), None, out, ckpt, **kwargs)

    got = (
        spark.read.parquet(os.path.join(out, "corpus_incremental"))
        .select("doc_id")
        .collect()
    )
    ids = sorted(r.doc_id for r in got)
    # 1 = original A, 3 = B, 4 = re-admitted A; 2 was dropped in-state
    assert ids == [1, 3, 4]


def test_metrics_out_observe_counters(spark, sf_dir, tmp_path):
    """Per-stage counters ride the write action as observe
    accumulators (zero extra jobs) and must agree with the written
    corpus and the monotone-ladder invariant."""
    from spotify_etl_aws_spark.plans.curation import build_training_corpus

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    metrics: dict = {}
    out = build_training_corpus(
        spark,
        docs,
        bench=None,
        out_dir=str(tmp_path / "corpus"),
        quality_cutoff=0.2,
        metrics_out=metrics,
    )
    assert metrics["input"] == docs.count()
    # ladder order is monotone non-increasing
    order = [k for k in ("input", "near_duplicate", "repetition", "quality")
             if k in metrics]
    vals = [metrics[k] for k in order]
    assert vals == sorted(vals, reverse=True)
    # the quality survivors are exactly the written rows
    assert metrics["quality"] == out.count()


def test_dsir_stage_in_ladder(spark, sf_dir, tmp_path):
    """dsir_model + dsir_fraction: the ladder's selection stage keeps
    the docs whose hashed-ngram profile matches the target corpus and
    attributes the squeezed-out remainder to 'dsir' in the audit."""
    import numpy as np

    from spotify_etl_aws_spark.operators.dsir import fit_dsir

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    rng = np.random.default_rng(47)
    med_words = (
        "clinical trial dosage patient symptom diagnosis therapy "
        "oncology biopsy remission protocol efficacy placebo cohort"
    ).split()
    target = spark.createDataFrame(
        [(i, " ".join(rng.choice(med_words, size=30))) for i in range(25)],
        "doc_id bigint, text string",
    )
    planted = spark.createDataFrame(
        [
            (910000 + i, " ".join(rng.choice(med_words, size=30)))
            for i in range(20)
        ],
        "doc_id bigint, text string",
    )
    cand = docs.limit(200).unionByName(planted)
    model = fit_dsir(target, cand, n_buckets=512)
    out_dir = tmp_path / "corpus_dsir"
    out = build_training_corpus(
        spark,
        cand,
        None,
        str(out_dir),
        quality_cutoff=0.0,
        pii_scrub=False,
        repetition_filter=False,
        pack_budget=512,
        dsir_model=model,
        dsir_fraction=0.3,
        audit=True,
    )
    kept = {r.doc_id for r in out.select("doc_id").collect()}
    planted_ids = {910000 + i for i in range(20)}
    # the med-flavoured plants dominate the kept 30%
    assert len(planted_ids & kept) >= 16
    # and the cut is attributed per document
    audit = {
        r.doc_id: r.status
        for r in spark.read.parquet(str(out_dir / "audit")).collect()
    }
    assert "dsir" in set(audit.values())
    dropped = {d for d, s in audit.items() if s == "dsir"}
    assert dropped and dropped.isdisjoint(kept)


def test_dsir_stage_metrics_counter(spark, sf_dir, tmp_path):
    """metrics_out carries the dsir stage's surviving-row count."""
    from spotify_etl_aws_spark.operators.dsir import fit_dsir

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text").limit(100)
    model = fit_dsir(docs.limit(20), docs, n_buckets=256)
    metrics: dict = {}
    build_training_corpus(
        spark,
        docs,
        None,
        str(tmp_path / "corpus_dsir_m"),
        quality_cutoff=0.0,
        pii_scrub=False,
        repetition_filter=False,
        pack_budget=512,
        dsir_model=model,
        dsir_fraction=0.5,
        metrics_out=metrics,
    )
    assert 0 < metrics["dsir"] <= metrics["near_duplicate"]
    # ~half the survivors pass the 0.5-fraction cut
    assert metrics["dsir"] <= 0.7 * metrics["near_duplicate"]


def test_lm_tercile_gate_in_ladder(spark, sf_dir, tmp_path):
    """lm_bucket_keep: the CCNet relative cut drops the worst-fluency
    tercile — gibberish lands in 'tail' and dies even when it would
    clear a loose absolute threshold; survivors ≈ two thirds."""
    from tests.test_lm import char_lm

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    GIB = 900004
    gib = spark.createDataFrame(
        [
            (
                GIB,
                "qzxv jkqp wvxz bqjk zzqx vkjp xqzw pqvz kxjq wqzv "
                "zjqk xvpq qwzx jkvq zpxw qkvj xwzq vpqk jzqx wkvp",
            )
        ],
        "doc_id bigint, text string",
    )
    cand = docs.unionByName(gib)
    lm = char_lm([r.text for r in docs.collect() if r.text])
    out = build_training_corpus(
        spark,
        cand,
        None,
        str(tmp_path / "corpus_lm_bucket"),
        quality_cutoff=0.0,
        pii_scrub=False,
        repetition_filter=False,
        pack_budget=512,
        lm_model=lm,
        # absolute threshold that would PASS the gibberish...
        lm_max_log_ppl=1e9,
        # ...but the relative cut still drops the worst tercile
        lm_bucket_keep=("head", "middle"),
        audit=True,
    )
    kept = {r.doc_id for r in out.select("doc_id").collect()}
    assert GIB not in kept
    n_input = cand.count()
    # about a third of the (deduped) corpus dies in the tail
    assert 0.5 * n_input < len(kept) < 0.75 * n_input
    audit = {
        r.doc_id: r.status
        for r in spark.read.parquet(
            str(tmp_path / "corpus_lm_bucket" / "audit")
        ).collect()
    }
    assert audit[GIB] == "perplexity"


def test_gopher_filter_in_ladder(spark, tmp_path):
    """gopher_filter: a bullet-list doc that sails past the repetition
    gate (every line distinct) dies at the 'gopher' stage."""
    import numpy as np

    rng = np.random.default_rng(53)
    filler = (
        "the quiet town woke early and every street had something to "
        "offer because the market opened with fresh bread and that "
        "meant people would have plenty of reasons to be out walking "
        "with friends before the sun climbed over the hills to warm "
        "the square where children played until the evening bells"
    ).split()
    clean = [
        (i, " ".join(rng.permutation(filler)))
        for i in range(20)
    ]
    BULLETS = 900500
    bullet_doc = "\n".join(
        f"• unique offer number {i} for the catalog to have and that with be of"
        for i in range(40)
    )
    docs = spark.createDataFrame(
        clean + [(BULLETS, bullet_doc)], "doc_id long, text string"
    )
    out_dir = tmp_path / "corpus_gopher"
    metrics: dict = {}
    out = build_training_corpus(
        spark,
        docs,
        None,
        str(out_dir),
        quality_cutoff=0.0,
        pii_scrub=False,
        repetition_filter=False,
        gopher_filter=True,
        pack_budget=512,
        audit=True,
        metrics_out=metrics,
    )
    kept = {r.doc_id for r in out.select("doc_id").collect()}
    assert BULLETS not in kept
    assert len(kept) == 20
    audit = {
        r.doc_id: r.status
        for r in spark.read.parquet(str(out_dir / "audit")).collect()
    }
    assert audit[BULLETS] == "gopher"
    assert metrics["gopher"] == 20


def test_neardup_keep_best_in_ladder(spark, tmp_path):
    """neardup_keep_best_col: the near-dup cluster keeps its
    highest-scoring member instead of the minimum id; keep-first (the
    default) keeps the minimum id on the same input."""
    base = (
        "the quiet town woke early and every street had something to "
        "offer because the market opened with fresh bread and people "
        "walked out with friends before the sun climbed over the hills"
    )
    singleton = (
        "meanwhile the research station recorded unusual telemetry "
        "from the deep sea probes and the night crew logged every "
        "reading twice to be sure the archive stayed complete forever"
    )
    docs = spark.createDataFrame(
        [
            (1, base + " version one", 0.2),
            (2, base + " version two", 0.9),
            (3, base + " version three", 0.5),
            (50, singleton, 0.1),
        ],
        "doc_id long, text string, crawl_score double",
    )
    out_best = build_training_corpus(
        spark,
        docs,
        None,
        str(tmp_path / "best"),
        quality_cutoff=0.0,
        pii_scrub=False,
        repetition_filter=False,
        neardup_keep_best_col="crawl_score",
        pack_budget=512,
    )
    kept_best = {r.doc_id for r in out_best.select("doc_id").collect()}
    assert kept_best == {2, 50}

    out_first = build_training_corpus(
        spark,
        docs,
        None,
        str(tmp_path / "first"),
        quality_cutoff=0.0,
        pii_scrub=False,
        repetition_filter=False,
        pack_budget=512,
    )
    kept_first = {r.doc_id for r in out_first.select("doc_id").collect()}
    assert kept_first == {1, 50}

    import pytest as _pytest

    with _pytest.raises(ValueError, match="neardup_keep_best_col"):
        build_training_corpus(
            spark,
            docs,
            None,
            str(tmp_path / "bad"),
            neardup_keep_best_col="no_such_column",
        )
