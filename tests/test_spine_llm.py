"""The two halves of the repo COMPOSED (round 12, VERDICT r11 #4): an
LLM pretraining pipeline — clean → exact-dedup → tokenize-to-real-ids
→ GPT-style pack — run THROUGH the reference orchestration spine:
`Pipeline` stages with per-object state rows (O3, reference
tables.py:133-196), source-hash versioning (O5), and a mid-pipeline
crash → `advance()` resume (O4, reference pipeline.py:456-485). The
resume law: a run that crashes inside the transform stage and is then
advance()d produces BYTE-IDENTICAL final output to an uninterrupted
run of the same pipeline on the same input.
"""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from flask_data_pipes_spark.models import Model, fields
from flask_data_pipes_spark.pipeline import Pipeline, decorators
from flask_data_pipes_spark.session import EngineConfig

EOS = "<|eot|>"
VOCAB = [(c, -3.0, 1) for c in "abcdefghijklmnopqrstuvwxyz0123456789"]

DOCS = [
    {"doc_id": 1, "text": "the quick brown fox jumps over the lazy dog"},
    {"doc_id": 2, "text": "pack my box with five dozen liquor jugs"},
    {"doc_id": 3, "text": "the quick brown fox jumps over the lazy dog"},
    {"doc_id": 4, "text": "sphinx of black quartz judge my vow"},
    {"doc_id": 5, "text": "x"},
    {"doc_id": 6, "text": "how vexingly quick daft zebras jump"},
]


def _llm_transform_body(df):
    """clean → exact dedup → encode to ids (+EOS) → pack: every stage
    an already-gate-checked operator, chained as ONE transform core."""
    from flask_data_pipes_spark.operators.corpus import pack_sequence_ids
    from flask_data_pipes_spark.operators.dedup import exact_dedup
    from flask_data_pipes_spark.operators.unigram import unigram_encode_ids

    clean = df.where(F.length(F.trim("text")) >= 2)
    kept = clean.join(
        exact_dedup(clean).select(F.col("keep_doc_id").alias("doc_id")),
        "doc_id",
    )
    enc = unigram_encode_ids(
        kept,
        VOCAB,
        max_piece_len=1,
        byte_fallback=True,
        special_tokens=(EOS,),
        append_eos=EOS,
    )
    return pack_sequence_ids(enc, seq_len=16, n_groups=2, pad_id=0)


def _build(tmp_path, spark, name, crash_once, body_fn=None, model_fields=None):
    """A fresh Pipeline subclass + Model per store dir (the registry
    metaclass keys on qualname, so each scenario gets its own name).
    `body_fn` overrides the transform core (defaults to the round-11
    clean→dedup→encode→pack chain); `model_fields` overrides the
    output Model's field dict to match."""
    crash_state = {"armed": crash_once}

    body = {
        "extract": True,
        "transform": True,
        "load": True,
        "crash_state": crash_state,
    }

    def llm_transform(self, df, meta):
        return (body_fn or _llm_transform_body)(df)

    def maybe_crash(self, df, meta):
        # post_transform runs BEFORE _commit_stage: an injected crash
        # here leaves the object extracted-but-not-transformed, the
        # exact mid-pipeline state advance() exists to resume from
        if self.crash_state["armed"]:
            self.crash_state["armed"] = False
            raise RuntimeError("injected transform crash")
        return df

    body["llm_transform"] = decorators.transform(llm_transform)
    body["maybe_crash"] = decorators.post_transform(maybe_crash)
    pipe_cls = type(f"LlmSpine{name}", (Pipeline,), body)

    model_cls = type(
        f"PackedSeq{name}",
        (Model,),
        model_fields
        or {
            "grp": fields.Integer(),
            "seq_idx": fields.Integer(),
            "ids": fields.List(),
            "n_tokens": fields.Integer(),
        },
    )
    cfg = EngineConfig(data_dir=str(tmp_path / f"data_{name}"))
    pipe = pipe_cls(model=model_cls, spark=spark, config=cfg)
    pipe.register_model(model_cls)
    raw = tmp_path / f"raw_{name}.jsonl"
    raw.write_text("\n".join(json.dumps(d) for d in DOCS))
    meta = [
        dict(
            pkey=None,
            model=model_cls.__qname__,
            file=str(raw),
            created="2026-08-15",
        )
    ]
    return pipe, model_cls, meta, cfg


def _final_rows(spark, cfg, model_cls):
    import os

    load_dir = os.path.join(cfg.data_dir, "load", model_cls.filename())
    return sorted(
        (r["grp"], r["seq_idx"], tuple(int(x) for x in r["ids"]), r["n_tokens"])
        for r in spark.read.parquet(load_dir).collect()
    )


def test_llm_pipeline_through_spine_resumes_identically(spark, tmp_path):
    # --- uninterrupted reference run ---------------------------------
    pipe_a, model_a, meta_a, cfg_a = _build(tmp_path, spark, "A", False)
    out = pipe_a(stage="extract", meta=meta_a)
    assert len(out) == 1
    obj = pipe_a.store.get_object(out[0]["pkey"])
    assert obj["extracted"] and obj["transformed"] and obj["loaded"]
    assert obj["pipeline_completed"]
    want = _final_rows(spark, cfg_a, model_a)
    # the packed output is real: fixed-shape pad-mode sequences, one
    # EOS per surviving doc (6 input - 1 dup - 1 too-short = 4)
    assert all(len(r[2]) == 16 for r in want)
    eos_id = 0  # piece_id_table: specials first
    assert sum(r[2].count(eos_id) - (16 - r[3]) for r in want) == 4

    # --- crashing run: stage 2 dies before its commit -----------------
    pipe_b, model_b, meta_b, cfg_b = _build(tmp_path, spark, "B", True)
    with pytest.raises(RuntimeError, match="injected transform crash"):
        pipe_b(stage="extract", meta=meta_b)
    pkey = pipe_b.store.objects[-1]["pkey"]
    obj = pipe_b.store.get_object(pkey)
    # O3 state row: extract committed + staged, transform did NOT
    assert obj["extracted"] and not obj["transformed"]
    assert obj["extract_file"] and "/2026/08/15/" in obj["extract_file"]
    stage, m = pipe_b.store.next(pkey)
    assert stage == "transform"
    # O5: the object carries the registered pipeline version and
    # advance() verifies it against the latest DataModel row
    latest = pipe_b.store.latest_model(model_b.__qname__)
    assert obj["pipeline_version"] == latest["pipeline_version"]

    # --- O4: advance() resumes at transform, finishes the chain ------
    pipe_b.advance(pkey)
    obj = pipe_b.store.get_object(pkey)
    assert obj["transformed"] and obj["loaded"] and obj["pipeline_completed"]
    assert pipe_b.store.next(pkey) == (None, None)

    # --- the resume law ----------------------------------------------
    got = _final_rows(spark, cfg_b, model_b)
    assert got == want

    # advancing a completed object refuses (reference pipeline.py:477)
    from flask_data_pipes_spark.pipeline.pipeline import StopPipeline

    with pytest.raises(StopPipeline):
        pipe_b.advance(pkey)


# --- round-12 surface through the same spine ---------------------------------

HIST_DOCS = [
    (100, "the quick brown fox jumps over the lazy dog near the river"),
    (101, "pack my box with five dozen liquor jugs before the winter"),
]

DOCS12 = [
    # near-dup of indexed 100 → dropped vs the index
    {"doc_id": 1,
     "text": "the quick brown fox jumps over the lazy cat near the river"},
    # within-batch near-dup pair → 3 loses to 2
    {"doc_id": 2,
     "text": "excellent polished prose about distributed query planning"},
    {"doc_id": 3,
     "text": "excellent polished prose about distributed query plannings"},
    # novel low-quality → survives dedup, dropped by the LR filter
    {"doc_id": 4, "text": "spam junk spam junk spam junk spam junk spam"},
    {"doc_id": 5, "text": "click here now buy cheap pills online limited offer"},
    # novel high-quality
    {"doc_id": 6,
     "text": "excellent thorough analysis of partition pruning strategies"},
]


def _r12_transform_body(index_path):
    """clean → incremental LSH dedup (REAL on-disk index, replayed on
    resume) → trained-LR quality filter → encode to ids → whole-doc
    BFD pack: the round-12 operator family as ONE transform core. The
    index append is batch_id-keyed dynamic overwrite, so advance()
    re-running this stage replays it exactly-once — the stage is
    RESUMABLE because the operator is."""

    def body(df):
        from flask_data_pipes_spark.operators.classifier import (
            lr_score,
            lr_train_hashed,
        )
        from flask_data_pipes_spark.operators.corpus import pack_bins_ids
        from flask_data_pipes_spark.operators.dedup import (
            lsh_index_dedup_append,
        )
        from flask_data_pipes_spark.operators.unigram import (
            unigram_encode_ids,
        )

        spark = df.sparkSession
        clean = df.where(F.length(F.trim("text")) >= 5)
        survivors = lsh_index_dedup_append(
            spark, index_path, clean, batch_id=1
        )
        labeled = survivors.withColumn(
            "y", F.col("text").contains("excellent").cast("int")
        )
        m = lr_train_hashed(
            labeled, "y", n_features=16, seed=7, iters=40, lr=5.0
        )
        kept = survivors.filter(lr_score("text", m) >= 0.5)
        enc = unigram_encode_ids(
            kept,
            VOCAB,
            max_piece_len=1,
            byte_fallback=True,
            special_tokens=(EOS,),
            append_eos=EOS,
        )
        return pack_bins_ids(enc, seq_len=96, n_groups=2, pad_id=0)

    return body


_R12_FIELDS = {
    "grp": fields.Integer(),
    "bin_idx": fields.Integer(),
    "ids": fields.List(fields.Integer()),
    "n_tokens": fields.Integer(),
    "n_docs": fields.Integer(),
    "doc_ids": fields.List(),
    "doc_lens": fields.List(fields.Integer()),
}


def _seed_index(spark, path):
    from flask_data_pipes_spark.operators.dedup import lsh_index_build

    hist = spark.createDataFrame(HIST_DOCS, "doc_id long, text string")
    lsh_index_build(hist, path)


def _r12_rows(spark, cfg, model_cls):
    import os

    load_dir = os.path.join(cfg.data_dir, "load", model_cls.filename())
    return sorted(
        (
            r["grp"], r["bin_idx"],
            tuple(int(x) for x in r["ids"]),
            r["n_tokens"], r["n_docs"],
            tuple(r["doc_ids"]),
            tuple(int(x) for x in r["doc_lens"]),
        )
        for r in spark.read.parquet(load_dir).collect()
    )


def test_round12_operators_through_spine(spark, tmp_path):
    """clean → LSH-index dedup → LR filter → encode → BFD pack run as
    Pipeline stages, with the crash → advance() resume law: re-running
    the transform REPLAYS the index append exactly-once, so the
    resumed run's output AND index state match the uninterrupted
    run's."""
    import os

    global DOCS
    docs_saved = DOCS
    DOCS = DOCS12  # _build reads the module-level fixture
    try:
        # --- uninterrupted reference run ------------------------------
        idx_a = str(tmp_path / "idx_a")
        _seed_index(spark, idx_a)
        pipe_a, model_a, meta_a, cfg_a = _build(
            tmp_path, spark, "R12A", False,
            body_fn=_r12_transform_body(idx_a), model_fields=dict(_R12_FIELDS),
        )
        out = pipe_a(stage="extract", meta=meta_a)
        assert len(out) == 1
        want = _r12_rows(spark, cfg_a, model_a)
        # survivors: 1 dropped vs index, 3 lost to sibling 2, 4/5
        # dropped by the LR filter → docs 2 and 6 packed whole
        packed_docs = sorted(d for r in want for d in r[5])
        assert packed_docs == ["2", "6"]
        assert all(r[3] == sum(r[6]) <= 96 for r in want)
        idx_docs = sorted(
            r["doc_id"]
            for r in spark.read.parquet(os.path.join(idx_a, "bands"))
            .select("doc_id").distinct().collect()
        )
        # the index accumulated the batch's DEDUP survivors (2,4,5,6 —
        # the LR filter guards training data, not the dedup index)
        assert idx_docs == [2, 4, 5, 6, 100, 101]

        # --- crash mid-transform (AFTER the index append ran), resume -
        idx_b = str(tmp_path / "idx_b")
        _seed_index(spark, idx_b)
        pipe_b, model_b, meta_b, cfg_b = _build(
            tmp_path, spark, "R12B", True,
            body_fn=_r12_transform_body(idx_b), model_fields=dict(_R12_FIELDS),
        )
        with pytest.raises(RuntimeError, match="injected transform crash"):
            pipe_b(stage="extract", meta=meta_b)
        pkey = pipe_b.store.objects[-1]["pkey"]
        assert pipe_b.store.next(pkey)[0] == "transform"
        # the crashed attempt already appended batch-1 bands; advance()
        # re-runs the stage and the batch_id-keyed overwrite makes the
        # second append a no-op state-wise
        pipe_b.advance(pkey)
        assert pipe_b.store.next(pkey) == (None, None)
        assert _r12_rows(spark, cfg_b, model_b) == want
        idx_docs_b = sorted(
            r["doc_id"]
            for r in spark.read.parquet(os.path.join(idx_b, "bands"))
            .select("doc_id").distinct().collect()
        )
        assert idx_docs_b == idx_docs
    finally:
        DOCS = docs_saved


def test_pipeline_e2e_reuses_saved_lm_vocab(spark, tmp_path):
    """VERDICT r12 next-round #2 (tail): llm_pipeline_e2e's perplexity
    stage optionally consumes a SAVED unigram LM instead of re-paying
    the EM rounds. Run once persisting the trained vocab
    (lm_vocab_save_path), run again loading it (lm_vocab_path): the
    funnel reports must be identical — the loaded model is
    byte-equivalent to the in-session one."""
    from flask_data_pipes_spark.plans.catalog_llm import llm_pipeline_e2e

    sf = "/root/testdata/sf0.001"
    vpath = str(tmp_path / "e2e_vocab")
    a = sorted(
        map(tuple, llm_pipeline_e2e(
            spark, sf, lm_vocab_save_path=vpath
        ).collect())
    )
    b = sorted(
        map(tuple, llm_pipeline_e2e(spark, sf, lm_vocab_path=vpath).collect())
    )
    assert a == b


def test_incremental_dedup_to_shard_generations(spark, tmp_path):
    """The INCREMENTAL story end-to-end (rounds 12+13 composed): each
    arriving batch is LSH-deduped against the persistent index
    (lsh_index_dedup_append), its survivors encode to real token ids
    and pack, and the packed sequences land as a new shard GENERATION
    (append_training_shards) — committed generations untouched, the
    whole multi-generation set audits clean, and replaying a batch
    end-to-end (crash-retry: same batch_id, same generation) is
    exactly-once on BOTH artifacts."""
    import os

    from pyspark.sql import functions as F

    from flask_data_pipes_spark.operators.corpus import (
        append_training_shards,
        pack_sequence_ids,
        read_training_shards,
        verify_training_shards,
        write_training_shards,
    )
    from flask_data_pipes_spark.operators.dedup import (
        lsh_index_build,
        lsh_index_dedup_append,
    )
    from flask_data_pipes_spark.operators.unigram import unigram_encode_ids

    vocab = [(c, -3.0, 1) for c in "abcdefghijklmnopqrstuvwxyz "]
    eos = "<|eot|>"

    def encode_pack(df):
        enc = unigram_encode_ids(
            df, vocab, max_piece_len=1, byte_fallback=True,
            special_tokens=(eos,), append_eos=eos,
        )
        return pack_sequence_ids(enc, seq_len=32, n_groups=2, pad_id=0)

    idx = os.path.join(str(tmp_path), "lsh_idx")
    shards = os.path.join(str(tmp_path), "shards")

    corpus0 = spark.createDataFrame(
        [
            (0, "the quick brown fox jumps over the lazy dog by the river"),
            (1, "pack my box with five dozen liquor jugs before the winter"),
        ],
        "doc_id long, text string",
    )
    lsh_index_build(corpus0, idx)
    write_training_shards(encode_pack(corpus0), shards, n_shards=3)

    # batch 1: one near-dup of doc 0 (must drop), one novel (survives)
    batch1 = spark.createDataFrame(
        [
            (10, "the quick brown fox jumps over the lazy cat by the river"),
            (11, "completely novel writing about distributed shard export"),
        ],
        "doc_id long, text string",
    )
    surv1 = lsh_index_dedup_append(spark, idx, batch1, batch_id=1)
    assert [r["doc_id"] for r in surv1.collect()] == [11]
    append_training_shards(encode_pack(surv1), shards, generation=1)

    v = verify_training_shards(spark, shards).collect()
    assert all(r["ok"] for r in v) and {r["gen"] for r in v} == {0, 1}
    total = read_training_shards(spark, shards).count()

    # replay batch 1 end-to-end: survivors identical, shard set
    # byte-identical (exactly-once on the index AND the export)
    surv1b = lsh_index_dedup_append(spark, idx, batch1, batch_id=1)
    assert [r["doc_id"] for r in surv1b.collect()] == [11]
    append_training_shards(encode_pack(surv1b), shards, generation=1)
    assert read_training_shards(spark, shards).count() == total
    assert all(r["ok"] for r in verify_training_shards(spark, shards).collect())

    # batch 2: near-dup of the batch-1 SURVIVOR must now hit the index
    batch2 = spark.createDataFrame(
        [
            (20, "completely novel writing about distributed shard exports"),
            (21, "unrelated fresh content that matches nothing indexed yet"),
        ],
        "doc_id long, text string",
    )
    surv2 = lsh_index_dedup_append(spark, idx, batch2, batch_id=2)
    assert [r["doc_id"] for r in surv2.collect()] == [21]
    append_training_shards(encode_pack(surv2), shards, generation=2)
    v2 = verify_training_shards(spark, shards).collect()
    assert all(r["ok"] for r in v2) and {r["gen"] for r in v2} == {0, 1, 2}
    # every surviving token is in the export exactly once
    want_tokens = (
        encode_pack(corpus0).agg(F.sum("n_tokens")).collect()[0][0]
        + encode_pack(surv1).agg(F.sum("n_tokens")).collect()[0][0]
        + encode_pack(surv2).agg(F.sum("n_tokens")).collect()[0][0]
    )
    got_tokens = (
        read_training_shards(spark, shards).agg(F.sum("n_tokens")).collect()[0][0]
    )
    assert got_tokens == want_tokens


def _toy_packed(spark, rows):
    """rows: (grp, seq_idx, ids, n_tokens)."""
    return spark.createDataFrame(
        rows, "grp int, seq_idx long, ids array<int>, n_tokens int"
    )


def test_reappend_with_different_content_replaces_wholesale(
    spark, tmp_path
):
    """ADVICE r13 (medium): a re-append of the SAME generation with
    different/corrected content must not retain stale shard partitions
    from the earlier attempt — the generation's dirs are deleted before
    the rewrite, so the generation afterwards holds exactly the new
    batch."""
    import os

    from pyspark.sql import functions as F

    from flask_data_pipes_spark.operators.corpus import (
        append_training_shards,
        read_training_shards,
        verify_training_shards,
        write_training_shards,
    )

    path = os.path.join(str(tmp_path), "shards")
    # n_shards=4: route by md5(grp:seq_idx) % 4 — spread the first
    # attempt across several shards, the corrected one across fewer
    gen0 = _toy_packed(spark, [(0, 0, [1, 2, 3], 3)])
    write_training_shards(gen0, path, n_shards=4)

    attempt_a = _toy_packed(
        spark,
        [(1, i, [10 + i, 11 + i], 2) for i in range(8)],
    )
    append_training_shards(attempt_a, path, generation=1)
    shards_a = {
        r["shard"]
        for r in read_training_shards(spark, path)
        .where(F.col("gen") == 1)
        .select("shard")
        .distinct()
        .collect()
    }
    assert len(shards_a) > 1  # the hazard needs a multi-shard attempt

    attempt_b = _toy_packed(spark, [(1, 0, [99], 1)])  # corrected batch
    append_training_shards(attempt_b, path, generation=1)
    got = (
        read_training_shards(spark, path)
        .where(F.col("gen") == 1)
        .select("grp", "seq_idx", "ids", "n_tokens")
        .collect()
    )
    assert [(r["grp"], r["seq_idx"], list(r["ids"]), r["n_tokens"]) for r in got] == [
        (1, 0, [99], 1)
    ]
    v = verify_training_shards(spark, path).collect()
    assert all(r["ok"] for r in v)
    # gen 0 untouched
    assert (
        read_training_shards(spark, path).where(F.col("gen") == 0).count()
        == 1
    )


def test_compact_training_shards_lifecycle(spark, tmp_path):
    """VERDICT r13 "What's missing" #3, shard-export twin: compaction
    folds every committed generation into one consolidated generation
    — same rows, same shard routing, verify green, per-shard checksum
    equal to the bit_xor fold of the old per-generation checksums —
    and the replay contract survives (compacted generation ids are
    refused loudly; new generations keep appending)."""
    import os

    import pytest as _pytest
    from pyspark.sql import functions as F

    from flask_data_pipes_spark.operators.corpus import (
        append_training_shards,
        compact_training_shards,
        compaction_watermark,
        read_training_shards,
        verify_training_shards,
        write_training_shards,
    )

    path = os.path.join(str(tmp_path), "shards")
    write_training_shards(
        _toy_packed(spark, [(0, i, [i, i + 1], 2) for i in range(6)]),
        path,
        n_shards=3,
    )
    append_training_shards(
        _toy_packed(spark, [(1, i, [50 + i], 1) for i in range(5)]),
        path,
        generation=1,
    )
    append_training_shards(
        _toy_packed(spark, [(2, i, [80 + i, 81 + i, 82 + i], 3) for i in range(4)]),
        path,
        generation=2,
    )
    assert compaction_watermark(spark, path) is None

    def rows(df):
        return sorted(
            (r["grp"], r["seq_idx"], tuple(r["ids"]), r["n_tokens"], r["shard"])
            for r in df.select(
                "grp", "seq_idx", "ids", "n_tokens", "shard"
            ).collect()
        )

    before = rows(read_training_shards(spark, path))
    old_manifest = spark.read.parquet(path + "/manifest").collect()
    xor_by_shard = {}
    for r in old_manifest:
        xor_by_shard[r["shard"]] = xor_by_shard.get(r["shard"], 0) ^ r["checksum"]
    n_gen_dirs_before = len(
        [d for d in os.listdir(path + "/data") if d.startswith("gen=")]
    )
    assert n_gen_dirs_before == 3

    manifest = compact_training_shards(spark, path, generation=3)
    got_checksums = {
        r["shard"]: r["checksum"] for r in manifest.collect()
    }
    # order-insensitive, gen-independent signatures: the consolidated
    # checksum is exactly the XOR fold of the old per-gen checksums
    assert got_checksums == xor_by_shard

    after = rows(read_training_shards(spark, path))
    assert after == before  # identical rows, identical shard routing
    assert all(
        r["ok"] for r in verify_training_shards(spark, path).collect()
    )
    assert [
        d for d in os.listdir(path + "/data") if d.startswith("gen=")
    ] == ["gen=3"]
    assert compaction_watermark(spark, path) == 2

    # replay of a compacted batch id is refused LOUDLY
    with _pytest.raises(ValueError, match="compacted away"):
        append_training_shards(
            _toy_packed(spark, [(1, 0, [50], 1)]), path, generation=1
        )
    # but the incremental story continues past the watermark
    append_training_shards(
        _toy_packed(spark, [(4, 0, [7, 8], 2)]), path, generation=4
    )
    assert all(
        r["ok"] for r in verify_training_shards(spark, path).collect()
    )
    assert (
        read_training_shards(spark, path).count() == len(before) + 1
    )
    # compaction id must be FRESH: gen 4 exists as real appended data
    with _pytest.raises(ValueError, match="already exists"):
        compact_training_shards(spark, path, generation=4)
    with _pytest.raises(ValueError, match="must exceed"):
        compact_training_shards(spark, path, generation=2)


def test_pipeline_e2e_kn_model_filter_saved_equals_inline(spark, tmp_path):
    """VERDICT r13 "What's missing" #4: llm_pipeline_e2e's quality
    filter can consume a TRAINED Kneser-Ney model (the production
    CCNet shape — train on a reference corpus, filter the crawl).
    Laws pinned here: (a) passing the saved-model PATH equals passing
    the in-memory model (persistence is value-invisible), (b) the KN
    threshold actually bites (the funnel's perplexity stage drops
    docs and downstream counts shrink accordingly), and (c) the
    default unigram path is untouched by the new parameters."""
    from pyspark.sql import functions as F

    from flask_data_pipes_spark.operators.corpus import (
        kn_model,
        kn_model_save,
        kn_score,
    )
    from flask_data_pipes_spark.plans.catalog import load
    from flask_data_pipes_spark.plans.catalog_llm import llm_pipeline_e2e

    sf = "/root/testdata/sf0.001"
    # reference LM: train on the even-doc_id half (llm_kn_cross's split)
    d = load(spark, sf, "documents")
    ref = d.filter(F.col("doc_id") % 2 == 0)
    model = kn_model(ref)
    mpath = str(tmp_path / "e2e_kn_model")
    kn_model_save(spark, model, mpath)

    # pick a threshold that BITES: the median bits_per_token of the
    # corpus under the reference model sits strictly inside the range
    bits = sorted(
        r["bits_per_token"] for r in kn_score(d, model).collect()
    )
    cut = bits[len(bits) // 2]
    assert bits[0] < cut < bits[-1]

    inline = sorted(
        map(tuple, llm_pipeline_e2e(
            spark, sf, kn_model=model, kn_bits_max=cut
        ).collect())
    )
    saved = sorted(
        map(tuple, llm_pipeline_e2e(
            spark, sf, kn_model=mpath, kn_bits_max=cut
        ).collect())
    )
    assert inline == saved  # (a) persistence is value-invisible

    stages = {t[0]: t for t in inline}  # (stage, idx, docs, toks, seqs)
    default = {
        t[0]: t
        for t in map(tuple, llm_pipeline_e2e(spark, sf).collect())
    }
    # (b) the KN filter bites: fewer docs kept than arrived at stage 6
    assert stages["perplexity_kept"][2] < stages["decontaminated"][2]
    assert stages["perplexity_kept"][2] > 0
    # (c) stages upstream of the filter are identical to the default
    for s in ("input", "clean", "line_dedup", "minhash_keep",
              "split_train", "decontaminated"):
        assert stages[s] == default[s]
    # and the packed tail reflects the KN-kept set, not the unigram one
    assert stages["packed"][2] == stages["perplexity_kept"][2]


def test_compact_training_shards_crash_mid_delete_recovery(
    spark, tmp_path, monkeypatch
):
    """ADVICE r14 (both findings) + the round-15 mid-delete hole:
    (a) after a compaction crashes mid-delete, a FRESH-id compaction is
    refused loudly (it would fold the half-done consolidation together
    with generations it already contains — silent duplication
    verify_training_shards cannot see); (b) the SAME-id retry converges
    by finishing the deletes, never by re-folding the post-delete
    survivors (which would lose the already-deleted generations'
    rows); (c) markers are append-only files, so the prior watermark
    survives later compactions' writes, and a torn marker line is
    skipped instead of raising."""
    import os

    import pytest as _pytest

    from flask_data_pipes_spark.operators import corpus as C

    path = os.path.join(str(tmp_path), "shards")
    C.write_training_shards(
        _toy_packed(spark, [(0, i, [i, i + 1], 2) for i in range(6)]),
        path,
        n_shards=3,
    )
    C.append_training_shards(
        _toy_packed(spark, [(1, i, [50 + i], 1) for i in range(5)]),
        path,
        generation=1,
    )
    C.append_training_shards(
        _toy_packed(spark, [(2, i, [80 + i], 1) for i in range(4)]),
        path,
        generation=2,
    )

    def rows(df):
        return sorted(
            (r["grp"], r["seq_idx"], tuple(r["ids"]), r["n_tokens"], r["shard"])
            for r in df.select(
                "grp", "seq_idx", "ids", "n_tokens", "shard"
            ).collect()
        )

    before = rows(C.read_training_shards(spark, path))

    real_rm = C.atrest.rm
    calls = {"n": 0}

    def crashing_rm(spark_, p):
        real_rm(spark_, p)
        calls["n"] += 1
        # calls 1-2 are _shard_write_gen's own delete-first (the gen=3
        # dirs, empty); calls 3-4 delete gen=0's data and manifest —
        # die right after, leaving gens 1-2 undeleted
        if calls["n"] >= 4:
            raise RuntimeError("injected crash mid-delete")

    monkeypatch.setattr(C.atrest, "rm", crashing_rm)
    with _pytest.raises(RuntimeError, match="injected crash"):
        C.compact_training_shards(spark, path, generation=3)
    monkeypatch.setattr(C.atrest, "rm", real_rm)

    gens = sorted(
        int(d.split("=")[1])
        for d in os.listdir(path + "/data")
        if d.startswith("gen=")
    )
    assert gens == [1, 2, 3]  # gen=0 deleted; its rows live only in gen=3

    # (a) fresh-id compaction over the crashed state is REFUSED
    with _pytest.raises(ValueError, match="in flight"):
        C.compact_training_shards(spark, path, generation=4)

    # (b) same-id retry converges with ZERO data loss
    C.compact_training_shards(spark, path, generation=3)
    assert rows(C.read_training_shards(spark, path)) == before
    assert all(
        r["ok"] for r in C.verify_training_shards(spark, path).collect()
    )
    assert C.compaction_watermark(spark, path) == 2
    assert sorted(
        int(d.split("=")[1])
        for d in os.listdir(path + "/data")
        if d.startswith("gen=")
    ) == [3]

    # (c) append-only markers: a second compaction adds a marker file
    # (never overwriting the first), the watermark advances, and a
    # torn/empty marker is skipped with the committed watermark intact
    C.append_training_shards(
        _toy_packed(spark, [(4, 0, [7, 8], 2)]), path, generation=4
    )
    C.compact_training_shards(spark, path, generation=5)
    assert C.compaction_watermark(spark, path) == 4
    markers = [
        f
        for f in os.listdir(path + "/compact_meta")
        if f.startswith("marker-")
    ]
    assert len(markers) == 2
    with open(
        os.path.join(path, "compact_meta", "marker-torn.json"), "w"
    ) as fh:
        fh.write("")
    assert C.compaction_watermark(spark, path) == 4
    assert all(
        r["ok"] for r in C.verify_training_shards(spark, path).collect()
    )
