"""Operator-module tests: dedup keep-semantics, LSH recall sanity,
multimodal plumbing, and rows-only catalog entries smoke."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from flask_data_pipes_spark.operators import dedup, multimodal, similarity


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog again and again"),
        (2, "the quick brown fox jumps over the lazy dog again and again"),  # exact dup
        (3, "the quick brown fox jumps over the lazy dog again & again!!"),  # near dup
        (4, "completely different content about spark query engines at scale"),
        (5, ""),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_dedup(spark, docs):
    out = dedup.exact_dedup(docs).collect()
    by_keep = {r["keep_doc_id"]: r["n_copies"] for r in out}
    assert by_keep[1] == 2  # docs 1+2 collapse
    assert by_keep[3] == 1 and by_keep[4] == 1


def test_boilerplate_prune(spark):
    rows = [
        (1, "a b c d e f g h"),
        (2, "a b c d x y z w"),
        (3, "unique one two three"),
        (4, "a b c d"),  # entirely boilerplate
        (5, ""),  # blank: excluded
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r["doc_id"]: r
        for r in dedup.boilerplate_prune(df, chunk_size=4, min_docs=2).collect()
    }
    assert set(out) == {1, 2, 3, 4}
    # "a b c d" occurs in docs 1, 2, 4 -> pruned everywhere
    assert out[1]["n_chunks"] == 2 and out[1]["n_kept"] == 1
    assert out[1]["clean_text"] == "e f g h"
    assert out[2]["clean_text"] == "x y z w"
    # untouched doc keeps its full text
    assert out[3]["n_kept"] == 1 and out[3]["clean_text"] == "unique one two three"
    # all-boilerplate doc survives as a row with empty clean_text
    assert out[4]["n_kept"] == 0 and out[4]["clean_text"] == ""


def test_bloom_incremental_dedup_exact_and_no_false_negatives(spark):
    # history: ids 0..99 with fingerprints f0..f99; new batch: f50..f149
    hist = spark.range(100).select(
        F.col("id").alias("doc_id"), F.concat(F.lit("f"), F.col("id")).alias("fp")
    )
    new = spark.range(50, 150).select(
        F.col("id").alias("doc_id"), F.concat(F.lit("f"), F.col("id")).alias("fp")
    )
    # Tiny bitmap (256 bits, 3 hashes) to force bloom false positives —
    # the exact verify join must still produce exactly the true overlap.
    out = sorted(
        r["doc_id"]
        for r in dedup.bloom_incremental_dedup(
            new, hist, "fp", "doc_id", m_bits=256, k=3
        ).collect()
    )
    assert out == list(range(50, 100))  # no false negatives, no false positives


def test_bloom_incremental_dedup_duplicate_input_rows(spark):
    """Regression (round-2 advice): duplicate (id, fp) rows in the new
    batch used to multiply the per-row probe count, turning the
    `hits == k` membership check false — a silent false negative.
    Membership now counts distinct probe indices, so duplicates
    collapse to one output row instead of vanishing."""
    hist = spark.createDataFrame(
        [(1, "fa"), (2, "fb")], ["doc_id", "fp"]
    )
    new = spark.createDataFrame(
        # fa appears 3× under the same doc_id, fb 2×, fz is novel
        [(10, "fa"), (10, "fa"), (10, "fa"), (11, "fb"), (11, "fb"), (12, "fz")],
        ["doc_id", "fp"],
    )
    out = sorted(
        (r["doc_id"], r["fp"])
        for r in dedup.bloom_incremental_dedup(
            new, hist, "fp", "doc_id", m_bits=256, k=3
        ).collect()
    )
    assert out == [(10, "fa"), (11, "fb")]


def test_bloom_bitmap_is_bounded(spark):
    vals = spark.range(10_000).select(F.concat(F.lit("v"), F.col("id")).alias("v"))
    bm = dedup.bloom_bitmap(vals, "v", m_bits=1 << 12, k=4).collect()
    assert len(bm) <= (1 << 12) // 64  # never more rows than words
    assert all(r["__bits"] != 0 for r in bm)


def test_unigram_logprob_invariants(spark, docs):
    from flask_data_pipes_spark.operators.corpus import unigram_logprob

    out = {r["doc_id"]: r for r in unigram_logprob(docs).collect()}
    assert set(out) == {1, 2, 3, 4}  # blank doc 5 excluded
    # identical docs score identically; all logps are negative
    assert out[1]["avg_logp"] == out[2]["avg_logp"]
    assert all(r["avg_logp"] < 0 for r in out.values())
    # bits_per_token is the negated avg_logp in bits
    import math

    for r in out.values():
        assert r["bits_per_token"] == pytest.approx(
            -r["avg_logp"] / math.log(2), abs=1e-5
        )
    # doc 4 is all rare tokens -> more surprising than the dup pair
    assert out[4]["avg_logp"] < out[1]["avg_logp"]


def test_shuffle_shards_balanced_and_seed_independent(spark):
    from flask_data_pipes_spark.operators.corpus import shuffle_shards

    df = spark.range(800).select(F.col("id").alias("doc_id"))
    s0 = shuffle_shards(df, n_shards=8, seed=0)
    sizes = [r["n"] for r in s0.groupBy("shard").agg(F.count("*").alias("n")).collect()]
    assert len(sizes) == 8 and min(sizes) > 50  # uniform-ish, all shards used
    # (shard, pos) is a total order: positions within a shard are 1..n
    one = s0.filter(F.col("shard") == 0).select("pos").collect()
    assert sorted(r["pos"] for r in one) == list(range(1, len(one) + 1))
    # a different seed yields a different permutation of the same rows
    s1 = shuffle_shards(df, n_shards=8, seed=1)
    j = s0.select("doc_id", "shard").join(
        s1.select("doc_id", F.col("shard").alias("shard1")), "doc_id"
    )
    assert j.filter(F.col("shard") != F.col("shard1")).count() > 0


def test_semdedup_keep_drops_bucket_neighbors(spark):
    # two identical vectors (cosine 1.0) + one orthogonal-ish vector
    rows = [
        (1, [1.0] * 64, "a"),
        (2, [1.0] * 64, "a"),  # exact copy of 1 -> dropped
        (3, [(-1.0) ** i for i in range(64)], "b"),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>, label string")
    kept = sorted(r["vec_id"] for r in dedup.semdedup_keep(df, threshold=0.9).collect())
    assert kept == [1, 3]


def test_char_entropy_known_values(spark):
    from flask_data_pipes_spark.functions.text import char_entropy

    rows = [(1, "aaaa"), (2, "ab"), (3, "abcd"), (4, ""), (5, "ZZzz")]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {
        r["doc_id"]: r["e"]
        for r in df.select("doc_id", char_entropy("text").alias("e")).collect()
    }
    assert abs(out[1] - 0.0) < 1e-12  # single symbol
    assert abs(out[2] - 1.0) < 1e-12  # two equiprobable symbols
    assert abs(out[3] - 2.0) < 1e-12  # four equiprobable symbols
    assert out[4] == 0.0  # empty
    assert abs(out[5] - 0.0) < 1e-12  # case-folds to one symbol


def test_repeated_ngram_dedup_token_granular_coverage(spark):
    """Lee-et-al-style overlapping-span removal: a 6-token phrase
    shared by two docs is excised from BOTH with token granularity
    (the 4-gram windows covering it overlap), while unshared tails and
    unique docs are untouched."""
    rows = [
        (1, "a b c d e f g h tail one"),
        (2, "x y a b c d e f z zz"),
        (3, "totally unique text with no repeats at all"),
        # shorter than k=4 tokens: no gram window starts here —
        # regression guard for sequence(1, 0) -> [1, 0] crashing
        # F.slice at position 0
        (4, "too short"),
        (5, "a b c"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {
        r["doc_id"]: r
        for r in dedup.repeated_ngram_dedup(df, k=4, min_docs=2).collect()
    }
    # shared grams: "a b c d", "b c d e", "c d e f" -> cover exactly
    # the 6 tokens "a b c d e f" in each doc
    assert out[1]["clean_text"] == "g h tail one"
    assert (out[1]["n_tokens"], out[1]["n_removed"]) == (10, 6)
    assert out[2]["clean_text"] == "x y z zz"
    assert out[2]["n_removed"] == 6
    assert out[3]["clean_text"] == rows[2][1] and out[3]["n_removed"] == 0
    # <k-token docs survive untouched (and don't crash the plan)
    assert out[4]["clean_text"] == "too short" and out[4]["n_removed"] == 0
    assert out[5]["clean_text"] == "a b c" and out[5]["n_tokens"] == 3


def test_decontaminate_gram_df_cap(spark):
    """A boilerplate phrase present in every test doc must stop
    flagging train docs once the cap excludes it, while a genuinely
    shared rare gram keeps flagging."""
    from flask_data_pipes_spark.operators.corpus import decontaminate

    boiler = "click here to subscribe now"
    rare = "zephyr quasar nebula protostar cometfall"
    test_rows = [(100 + i, f"{boiler} unique test filler {i}") for i in range(6)]
    test_rows.append((200, f"intro words {rare} outro words"))
    train_rows = [
        (1, f"{boiler} train document body one"),  # only boilerplate overlap
        (2, f"some text {rare} more text"),  # rare-gram overlap
        (3, "completely unrelated training text here"),
    ]
    train = spark.createDataFrame(train_rows, ["doc_id", "text"])
    test = spark.createDataFrame(test_rows, ["doc_id", "text"])

    uncapped = {
        r["doc_id"]
        for r in decontaminate(train, test, k=5, max_test_gram_df=None).collect()
    }
    assert uncapped == {1, 2}
    capped = {
        r["doc_id"]: r
        for r in decontaminate(train, test, k=5, max_test_gram_df=3).collect()
    }
    # the boilerplate gram (df=6 > 3) is dropped; doc 1 no longer flags
    assert set(capped) == {2}
    assert capped[2]["n_test_docs"] == 1


def test_shingles_of_short_input_are_empty(spark):
    """`sequence(1, 0)` is [1, 0], not empty: text shorter than one
    shingle must give no shingles (not the whole text twice) and fewer
    than k tokens must not reach slice(toks, 0, k), which raises."""
    from flask_data_pipes_spark.functions import text as T

    df = spark.createDataFrame(
        [("abc",), ("abcde",), ("",), (None,), ("one two",), ("one two three",)],
        "t string",
    )
    rows = df.select(
        T.char_ngrams("t", 5).alias("c"), T.word_shingles("t", 3).alias("w")
    ).collect()
    assert [r["c"] for r in rows[:4]] == [[], ["abcde"], [], []]
    assert [r["w"] for r in rows] == [[], [], [], [], [], ["one two three"]]


def test_decontaminate_short_train_document(spark):
    """A train document with fewer than k tokens has no k-grams: it is
    never flagged, and it must not fail the plan."""
    from flask_data_pipes_spark.operators.corpus import decontaminate

    train = spark.createDataFrame(
        [(1, "three token doc"), (2, "alpha beta gamma delta epsilon zeta")],
        ["doc_id", "text"],
    )
    test = spark.createDataFrame(
        [(10, "alpha beta gamma delta epsilon zeta eta")], ["doc_id", "text"]
    )
    flagged = {r["doc_id"] for r in decontaminate(train, test, k=5).collect()}
    assert flagged == {2}


def test_semdedup_sizing_triggers_no_spark_job(spark):
    """Supplying either n_planes or n_rows must keep semdedup_keep
    fully lazy — zero Spark jobs during plan construction (the
    count()-based auto-sizing is a documented last resort only).
    Job-group tagging counts any job launched inside the call."""
    rows = [(i, [float(i % 3) + 1.0] * 8, "x") for i in range(6)]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, label string"
    )
    sc = spark.sparkContext
    sc.setJobGroup("semdedup-nojob", "sizing must not run jobs")
    try:
        out_planes = dedup.semdedup_keep(df, n_planes=3, dim=8)
        out_rows = dedup.semdedup_keep(df, n_rows=6, dim=8)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    jobs = sc.statusTracker().getJobIdsForGroup("semdedup-nojob")
    assert list(jobs) == []
    # the returned plans are real (executing them works)
    assert out_planes.count() >= 1 and out_rows.count() >= 1


def test_semdedup_planes_scale_with_corpus():
    # √N-buckets rule: 2^p ≈ √N, clamped to [1, 30]
    assert dedup.semdedup_planes_for(1) == 1
    assert dedup.semdedup_planes_for(256) == 4  # √256=16=2^4
    assert dedup.semdedup_planes_for(1 << 20) == 10
    assert dedup.semdedup_planes_for(10**12) == 20  # ~1M buckets at 1T rows
    assert dedup.semdedup_planes_for(2**100) == 30  # clamp


def test_embedding_neardup_max_bucket_drops_degenerate_block(spark):
    """The skew guard: a block holding most of the corpus is dropped
    before pair enumeration, so its quadratic pair set never exists."""
    rows = [(i, [1.0] * 8, "hot") for i in range(10)] + [
        (100, [1.0] * 8, "cold"),
        (101, [1.0] * 8, "cold"),
    ]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, label string"
    )
    pairs = dedup.embedding_neardup_pairs(
        df, block_col=F.col("label"), threshold=0.5, max_bucket=5
    ).collect()
    # only the 2-member cold block survives the guard
    assert sorted((r["vec_id_a"], r["vec_id_b"]) for r in pairs) == [(100, 101)]
    # without the guard the hot block contributes 45 pairs
    allp = dedup.embedding_neardup_pairs(
        df, block_col=F.col("label"), threshold=0.5
    ).count()
    assert allp == 46


def test_semdedup_component_strategy_keeps_one_per_group(spark):
    """Star a~c, b~c with near-orthogonal a,b: greedy keeps {a, b}
    (b's only smaller neighbor a is not similar); component strategy
    keeps only the component minimum a — paper-faithful
    keep-one-per-duplicate-group."""
    import math

    # a and b orthogonal; c = normalize(a+b) → cos(c,a)=cos(c,b)≈0.707
    a = [1.0, 0.0] + [0.0] * 62
    b = [0.0, 1.0] + [0.0] * 62
    s = 1.0 / math.sqrt(2.0)
    c = [s, s] + [0.0] * 62
    df = spark.createDataFrame(
        [(1, a, "x"), (2, b, "x"), (3, c, "x")],
        "vec_id long, embedding array<double>, label string",
    )
    greedy = sorted(
        r["vec_id"]
        for r in dedup.semdedup_keep(
            df, n_planes=0, threshold=0.7, strategy="greedy"
        ).collect()
    )
    comp = sorted(
        r["vec_id"]
        for r in dedup.semdedup_keep(
            df, n_planes=0, threshold=0.7, strategy="component"
        ).collect()
    )
    assert greedy == [1, 2]
    assert comp == [1]


def _held_out_minhash_corpus():
    """Deterministic held-out corpus with a DIFFERENT vocabulary and
    dup structure from the driver testdata — the out-of-fixture
    evidence base for the minhash seed choice (VERDICT r2 #6)."""
    import random

    rng = random.Random(1234)
    vocab = [
        "".join(rng.choice("abcdefghijklmnopqrstuvwxyz") for _ in range(rng.randint(3, 9)))
        for _ in range(600)
    ]
    docs, truth = [], set()
    did = 0
    for _ in range(120):
        words = [rng.choice(vocab) for _ in range(rng.randint(25, 70))]
        docs.append((did, " ".join(words)))
        base_id = did
        did += 1
        for _ in range(rng.randint(0, 2)):
            mut = list(words)
            for _ in range(max(1, int(len(mut) * rng.uniform(0.05, 0.35)))):
                mut[rng.randrange(len(mut))] = rng.choice(vocab)
            docs.append((did, " ".join(mut)))
            truth.add((base_id, did))
            did += 1
    return docs, truth


def test_minhash_seed_generalizes_on_held_out_corpus(spark):
    """The default digest seed must earn its keep OUT of fixture: on a
    held-out corpus (different vocab + dup structure from testdata) the
    default draw recovers ≥65% of true near-dup pairs (j ≥ 0.5) with
    precision ≥ 0.09. Measured across seeds 0-13 these floors hold for
    every draw (recall 0.69-0.80, precision 0.08-0.17) — the point is
    that NO draw is special, so the default must never be re-tuned on
    the gate corpus (round-2 verdict: the old seed 4 was picked by
    measuring on the gate fixture; held-out it is median)."""
    corpus, truth = _held_out_minhash_corpus()
    df = spark.createDataFrame(corpus, ["doc_id", "text"])

    def sh(t, k=5):
        return {t[i : i + k] for i in range(len(t) - k + 1)}

    S = {d: sh(t) for d, t in corpus}

    def true_j(a, b):
        return len(S[a] & S[b]) / len(S[a] | S[b])

    bands = dedup.minhash_bands(df, "text", "doc_id")  # default seed
    pairs = [
        (r["doc_id_a"], r["doc_id_b"])
        for r in dedup.candidate_pairs(bands, "doc_id").collect()
    ]
    pset = set(pairs)
    planted = [p for p in truth if true_j(*p) >= 0.5]
    assert planted, "held-out corpus must contain true near-dups"
    recall = sum(
        1 for a, b in planted if (a, b) in pset or (b, a) in pset
    ) / len(planted)
    precision = sum(1 for p in pairs if true_j(*p) >= 0.5) / len(pairs)
    assert recall >= 0.65, recall
    assert precision >= 0.09, precision


def test_minhash_dedup_keep(spark, docs):
    kept = sorted(
        r["doc_id"] for r in dedup.minhash_dedup_keep(docs).collect()
    )
    # doc 2 (and likely 3) collapse onto doc 1; 4 and 5 survive; 1 survives
    assert 1 in kept and 4 in kept
    assert 2 not in kept


def test_candidate_pairs_contains_near_dup(spark, docs):
    bands = dedup.minhash_bands(docs)
    pairs = {
        (r["doc_id_a"], r["doc_id_b"])
        for r in dedup.candidate_pairs(bands).collect()
    }
    assert (1, 2) in pairs  # exact dup always shares all bands


def test_simhash_close_for_near_dups(spark, docs):
    sh = {r["doc_id"]: r["simhash"] for r in dedup.simhash(docs).collect()}
    ham12 = bin(sh[1] ^ sh[2]).count("1")
    ham14 = bin(sh[1] ^ sh[4]).count("1")
    assert ham12 == 0  # identical text
    assert ham14 > 0


def test_lsh_topk_overlaps_bruteforce(spark, sf_dir):
    from flask_data_pipes_spark.plans.catalog import load

    e = load(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("qid"), "embedding"
    )
    exact = similarity.cosine_topk(e, q, k=5).collect()
    approx = similarity.lsh_topk(e, q, k=5, n_planes=4, dim=64).collect()
    # same-bucket neighbors rank identically to their exact scores
    exact_sims = {(r["qid"], r["vec_id"]): r["sim"] for r in exact}
    for r in approx:
        key = (r["qid"], r["vec_id"])
        if key in exact_sims:
            assert abs(r["sim"] - exact_sims[key]) < 1e-9
    # every query produced candidates (its own bucket is never empty)
    assert {r["qid"] for r in approx} == {0, 1, 2, 3}


def test_multimodal_plumbing(spark, docs):
    payloads = docs.select(
        "doc_id", F.encode("text", "UTF-8").alias("payload")
    )
    meta = multimodal.attach_payload_meta(payloads).select("doc_id", "payload_meta.*")
    m = {r["doc_id"]: r for r in meta.collect()}
    assert m[1]["n_bytes"] == len(
        "the quick brown fox jumps over the lazy dog again and again"
    )
    assert m[1]["sha256"] == m[2]["sha256"]  # same payload, same hash

    decoded = multimodal.decode_images(
        payloads, decoder=multimodal.fake_image_decoder
    ).collect()
    assert len(decoded) == 5
    assert all(r["n_pixels"] == r["width"] * r["height"] for r in decoded)

    feats = multimodal.extract_features(payloads, dim=8).collect()
    assert all(len(r["features"]) == 8 for r in feats)

    frames = multimodal.sample_frames(payloads, every_n=25).collect()
    assert len(frames) >= 5  # ≥1 frame per payload

    resized = multimodal.resize_images(payloads, target=(64, 48)).collect()
    assert len(resized) == 5
    assert all(
        isinstance(r["payload"], (bytes, bytearray))
        and (r["width"], r["height"]) == (64, 48)
        for r in resized
    )
    # deterministic: identical payloads resize to identical bytes
    by_id = {r["doc_id"]: bytes(r["payload"]) for r in resized}
    assert by_id[1] == by_id[2]


def test_png_codec_roundtrip_known_values():
    """Pin the stdlib PNG codec to exact known pixel stats: a 2x2
    gradient image must decode to its true mean, and encode→decode must
    be lossless for every filter-free grayscale payload."""
    px = bytes([0, 51, 102, 255])
    blob = multimodal.png_encode(px, 2, 2)
    assert blob[:8] == b"\x89PNG\r\n\x1a\n"
    out = multimodal.png_decoder(blob)
    assert (out["width"], out["height"], out["n_pixels"]) == (2, 2, 4)
    assert abs(out["mean_intensity"] - (0 + 51 + 102 + 255) / 4 / 255.0) < 1e-12
    # uniform image: any resize preserves the mean exactly
    uni = multimodal.png_encode(bytes([77] * 9), 3, 3)
    rs = multimodal.png_resizer(uni, 5, 4)
    out2 = multimodal.png_decoder(rs)
    assert (out2["width"], out2["height"]) == (5, 4)
    assert abs(out2["mean_intensity"] - 77 / 255.0) < 1e-12
    # nearest-neighbor identity: resize to same dims is lossless
    same = multimodal.png_resizer(blob, 2, 2)
    assert multimodal.png_decoder(same) == out


def test_png_unfilter_all_filter_types():
    """The de-filtering path must invert every PNG filter type; build a
    filtered stream by hand (Sub/Up/Average/Paeth rows) and check the
    recovered samples."""
    import struct
    import zlib

    width, height = 3, 5
    truth = bytes(range(1, 16))  # 3x5 ramp
    rows = [truth[y * width : (y + 1) * width] for y in range(height)]
    enc = bytearray()
    # row 0: None, row 1: Sub, row 2: Up, row 3: Average, row 4: Paeth
    enc += b"\x00" + rows[0]
    enc += b"\x01" + bytes(
        [(rows[1][i] - (rows[1][i - 1] if i else 0)) & 0xFF for i in range(width)]
    )
    enc += b"\x02" + bytes([(rows[2][i] - rows[1][i]) & 0xFF for i in range(width)])
    enc += b"\x03" + bytes(
        [
            (rows[3][i] - (((rows[3][i - 1] if i else 0) + rows[2][i]) >> 1)) & 0xFF
            for i in range(width)
        ]
    )

    def paeth(a, b, c):
        p = a + b - c
        pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
        return a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)

    enc += b"\x04" + bytes(
        [
            (
                rows[4][i]
                - paeth(
                    rows[4][i - 1] if i else 0,
                    rows[3][i],
                    rows[3][i - 1] if i else 0,
                )
            )
            & 0xFF
            for i in range(width)
        ]
    )
    ihdr = struct.pack(">IIBBBBB", width, height, 8, 0, 0, 0, 0)
    blob = (
        b"\x89PNG\r\n\x1a\n"
        + multimodal._png_chunk(b"IHDR", ihdr)
        + multimodal._png_chunk(b"IDAT", zlib.compress(bytes(enc)))
        + multimodal._png_chunk(b"IEND", b"")
    )
    out = multimodal.png_decoder(blob)
    assert out["n_pixels"] == 15
    assert abs(out["mean_intensity"] - sum(truth) / 15 / 255.0) < 1e-12


def test_wav_decoder_known_values():
    import io
    import struct
    import wave

    buf = io.BytesIO()
    with wave.open(buf, "wb") as wf:
        wf.setnchannels(2)
        wf.setsampwidth(2)
        wf.setframerate(44100)
        wf.writeframes(struct.pack("<4h", 16384, -16384, 0, 8192))
    out = multimodal.wav_decoder(buf.getvalue())
    assert out["sample_rate"] == 44100
    assert out["n_channels"] == 2
    assert out["n_samples"] == 4
    expect = (16384 + 16384 + 0 + 8192) / (4 * 32768.0)
    assert abs(out["mean_amplitude"] - expect) < 1e-12


def test_intensity_histogram_extractor():
    # 4 pixels in bins 0, 0, 8, 15 of a 16-bin histogram
    blob = multimodal.png_encode(bytes([0, 10, 128, 255]), 2, 2)
    hist = multimodal.intensity_histogram_extractor(16)(blob)
    assert len(hist) == 16
    assert hist[0] == 0.5 and hist[8] == 0.25 and hist[15] == 0.25
    assert abs(sum(hist) - 1.0) < 1e-9


def test_multimodal_decode_stub_raises(spark, docs):
    payloads = docs.select("doc_id", F.encode("text", "UTF-8").alias("payload"))
    with pytest.raises(Exception):  # NotImplementedError surfaces via Spark
        multimodal.decode_images(payloads).collect()


def test_rows_only_catalog_entries_run(spark, sf_dir):
    """Oracle-less entries must still execute and return rows; the
    real-codec entries must also return true pixel/sample stats."""
    import __spark_entry__ as entry

    qs = entry.queries()
    for name in [
        "llm_minhash_lsh_ml",
        "llm_multimodal_decode",
        "llm_multimodal_features",
        "llm_multimodal_resize",
        "llm_multimodal_audio",
        "llm_frame_sample",
    ]:
        df = qs[name](spark, sf_dir)
        assert df.count() > 0, name
    # real-decode spot check: doc 0's synthesized 4x4 PNG has a known
    # exact pixel mean ((0*31 + 7x + 13y) % 256 ramp)
    row = {
        r["doc_id"]: r
        for r in qs["llm_multimodal_decode"](spark, sf_dir).collect()
    }[0]
    px = [(31 * 0 + 7 * x + 13 * y) % 256 for y in range(4) for x in range(4)]
    assert (row["width"], row["height"]) == (4, 4)
    assert abs(row["mean_intensity"] - sum(px) / 16 / 255.0) < 1e-12


def test_ivf_topk_matches_bruteforce_sims(spark, sf_dir):
    from flask_data_pipes_spark.plans.catalog import load

    e = load(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("qid"), "embedding"
    )
    exact = similarity.cosine_topk(e, q, k=5).collect()
    approx = similarity.ivf_topk(e, q, k=5, n_cells=8, n_probe=3).collect()
    exact_sims = {(r["qid"], r["vec_id"]): r["sim"] for r in exact}
    # probed candidates score identically to brute force (same rerank math)
    for r in approx:
        key = (r["qid"], r["vec_id"])
        if key in exact_sims:
            assert abs(r["sim"] - exact_sims[key]) < 1e-9
    # every query yields k results (own cell always probed → never empty)
    counts = {}
    for r in approx:
        counts[r["qid"]] = counts.get(r["qid"], 0) + 1
    assert counts == {0: 5, 1: 5, 2: 5, 3: 5}


def test_rolling_fingerprint_order_sensitive(spark):
    from flask_data_pipes_spark.functions import text as T

    rows = [
        (1, "alpha beta gamma"),
        (2, "alpha beta gamma"),
        (3, "gamma beta alpha"),  # same bag of tokens, different order
        (4, "single"),
        (5, "   "),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r["doc_id"]: r["fp"]
        for r in df.select(
            "doc_id", T.rolling_fingerprint("text").alias("fp")
        ).collect()
    }
    assert out[1] == out[2]
    assert out[1] != out[3]  # order matters, unlike doc_fingerprint
    assert out[4] is not None  # single token → its own hash
    assert out[5] is None  # blank → no tokens → NULL


def test_media_header_parses_and_rejects(spark):
    """PNG/GIF/WAV headers parse JVM-side; truncated, alien, and null
    payloads yield kind='unknown' (or null row) without erroring."""
    from pyspark.sql import functions as F

    from flask_data_pipes_spark.operators.multimodal import media_header

    png = "89504E470D0A1A0A" + "0000000D49484452" + "00000280" + "000001E0"
    gif = "474946383961" + "2001" + "E001"  # 288 x 480 little-endian
    wav = ("52494646" + "00000000" + "57415645" + "666D7420" + "10000000"
           + "0100" + "0200" + "80BB0000")  # 2 ch, 48000 Hz
    rows = [(1, png), (2, gif), (3, wav), (4, "DEADBEEF"), (5, "8950"), (6, None)]
    df = spark.createDataFrame(rows, "id long, hx string").select(
        "id", media_header(F.unhex("hx")).alias("m")
    )
    got = {r["id"]: r["m"].asDict() for r in df.collect()}
    assert got[1] == {"kind": "png", "width": 640, "height": 480,
                      "sample_rate": None, "n_channels": None}
    assert got[2] == {"kind": "gif", "width": 288, "height": 480,
                      "sample_rate": None, "n_channels": None}
    assert got[3] == {"kind": "wav", "width": None, "height": None,
                      "sample_rate": 48000, "n_channels": 2}
    assert got[4]["kind"] == "unknown" and got[4]["width"] is None
    assert got[5]["kind"] == "unknown"  # truncated PNG signature
    assert got[6]["kind"] == "unknown"  # null payload


def test_connected_components_chain_and_clique(spark):
    """A-B, B-C chains merge transitively; disjoint pairs stay apart;
    labels are the component minimum."""
    from flask_data_pipes_spark.operators.dedup import connected_components

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (20, 21), (21, 22), (22, 20)],
        "a long, b long",
    )
    got = {
        r["id"]: r["label"]
        for r in connected_components(pairs, "a", "b").collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 20: 20, 21: 20, 22: 20}


def test_candidate_pairs_bucket_cap(spark):
    """max_bucket drops degenerate (stop-shingle) buckets entirely while
    normal buckets still pair — the at-scale guard against a single hot
    bucket emitting k^2/2 candidates."""
    from flask_data_pipes_spark.operators.dedup import candidate_pairs

    rows = [(i, 0, 777) for i in range(50)]  # hot bucket: 50 members
    rows += [(100, 0, 888), (101, 0, 888)]   # normal bucket: 2 members
    bands = spark.createDataFrame(rows, "doc_id long, band long, band_key long")
    capped = candidate_pairs(bands, "doc_id", max_bucket=10).collect()
    assert {(r["doc_id_a"], r["doc_id_b"]) for r in capped} == {(100, 101)}
    full = candidate_pairs(bands, "doc_id").count()
    assert full == 50 * 49 // 2 + 1


def test_connected_components_fixed_rounds_matches_probe_mode(spark):
    """fixed_rounds=n (the no-driver-action at-scale mode) produces the
    same labels as the convergence-probe mode when n covers the longest
    chain."""
    from flask_data_pipes_spark.operators.dedup import connected_components

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (10, 11), (20, 21), (21, 22)],
        "a long, b long",
    )
    probe = {
        r["id"]: r["label"]
        for r in connected_components(pairs, "a", "b").collect()
    }
    fixed = {
        r["id"]: r["label"]
        for r in connected_components(pairs, "a", "b", fixed_rounds=4).collect()
    }
    assert fixed == probe
    assert fixed[5] == 1  # the length-4 chain fully collapsed


def test_connected_components_compressed_reach(spark):
    """Pointer compression doubles reach per round — d_r = 2^(r+1)-2
    exactly on a chain — so 4 rounds collapse a 30-hop chain but leave
    a 31-hop endpoint one label short (components SPLIT when rounds are
    undersized, never wrongly merge). Plain propagation reaches only
    distance r."""
    from flask_data_pipes_spark.operators.dedup import connected_components

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(31)], "a long, b long"
    )  # chain 0-1-...-31
    got = {
        r["id"]: r["label"]
        for r in connected_components(
            pairs, "a", "b", fixed_rounds=4
        ).collect()
    }
    assert got[30] == 0  # distance 30 = exactly the 4-round reach
    assert got[31] != 0  # distance 31: one short — split, not merged
    plain = {
        r["id"]: r["label"]
        for r in connected_components(
            pairs, "a", "b", fixed_rounds=4, compress=False
        ).collect()
    }
    assert plain[4] == 0 and plain[5] != 0  # plain reach = r


def test_connected_components_checkpoint_cadence_invariant(spark):
    """checkpoint_every only changes lineage truncation, never labels."""
    from flask_data_pipes_spark.operators.dedup import connected_components

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11)], "a long, b long"
    )
    want = {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10}
    for ck in (1, 2, 5):
        got = {
            r["id"]: r["label"]
            for r in connected_components(
                pairs, "a", "b", fixed_rounds=3, checkpoint_every=ck
            ).collect()
        }
        assert got == want, ck


def test_lsh_multiprobe_recall_dominates_single_probe(spark, sf_dir):
    """Multi-probe candidates are a superset of the single-probe bucket
    (own bucket always probed first), so recall@k vs brute force can
    only improve — and on the near-orthogonal synthetic embeddings it
    measurably does (the llm_ann_recall finding)."""
    from flask_data_pipes_spark.plans.catalog import load

    e = load(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 6).select(
        F.col("vec_id").alias("qid"), "embedding"
    )
    truth = {
        (r["qid"], r["vec_id"])
        for r in similarity.cosine_topk(e, q, k=5).collect()
    }

    def recall(n_probe):
        got = {
            (r["qid"], r["vec_id"])
            for r in similarity.lsh_topk(
                e, q, k=5, n_planes=4, dim=64, n_probe=n_probe
            ).collect()
        }
        return len(got & truth) / len(truth)

    r1, r4 = recall(1), recall(4)
    assert r4 >= r1
    # single-probe results must be a subset of multi-probe's candidates'
    # top-k only when rank order allows; recall dominance is the contract


def test_ivf_fit_once_reuse_matches_one_shot(spark, sf_dir):
    """ivf_fit + ivf_search (fit-once API) returns exactly what the
    one-shot ivf_topk returns for the same seed, and one index serves
    multiple query batches."""
    from flask_data_pipes_spark.plans.catalog import load

    e = load(spark, sf_dir, "embeddings")
    qa = e.filter(F.col("vec_id") < 3).select(F.col("vec_id").alias("qid"), "embedding")
    qb = e.filter((F.col("vec_id") >= 3) & (F.col("vec_id") < 6)).select(
        F.col("vec_id").alias("qid"), "embedding"
    )

    index = similarity.ivf_fit(e, n_cells=8, seed=42).persist()
    try:
        got_a = sorted(
            (r["qid"], r["vec_id"], r["sim"])
            for r in similarity.ivf_search(index, qa, k=5, n_probe=3).collect()
        )
        one_shot = sorted(
            (r["qid"], r["vec_id"], r["sim"])
            for r in similarity.ivf_topk(e, qa, k=5, n_cells=8, n_probe=3, seed=42).collect()
        )
        assert got_a == one_shot
        got_b = similarity.ivf_search(index, qb, k=5, n_probe=3).collect()
        assert {r["qid"] for r in got_b} == {3, 4, 5}
    finally:
        index.unpersist()


def test_quantize_int8_roundtrip(spark):
    """Codes stay in [-127,127], zero vectors map to zero codes, and
    dequantized values reconstruct within scale/2 per component."""
    from flask_data_pipes_spark.functions import vectors as V

    rows = [
        (1, [0.5, -1.0, 0.25, 0.0]),
        (2, [0.0, 0.0, 0.0, 0.0]),         # zero vector
        (3, [127.0, -127.0, 1.0, -1.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    s = df.select(
        "vec_id",
        F.col("embedding").alias("v"),
        (V.max_abs("embedding") / 127.0).alias("scale"),
    )
    out = s.select(
        "vec_id", "v", "scale",
        V.quantize_int8(F.col("v"), F.col("scale")).alias("qv"),
    ).collect()
    by_id = {r["vec_id"]: r for r in out}
    assert by_id[2]["qv"] == [0, 0, 0, 0]
    for r in out:
        assert all(-127 <= c <= 127 for c in r["qv"]), r
        if r["scale"] > 0:
            for x, c in zip(r["v"], r["qv"]):
                assert abs(x - c * r["scale"]) <= r["scale"] / 2 + 1e-12
    # extreme components hit the rails exactly
    assert by_id[3]["qv"][0] == 127 and by_id[3]["qv"][1] == -127


def test_bm25_topk_ranks_exact_match_first(spark):
    """A query matching doc 1 verbatim must rank doc 1 over a doc that
    shares only one common term; a term present in every doc carries
    ~zero idf and cannot outrank a rare-term match."""
    from flask_data_pipes_spark.operators.corpus import bm25_topk

    rows = [
        (1, "zephyr quasar nebula common"),
        (2, "common words only here padding padding padding"),
        (3, "another doc common filler filler"),
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    queries = spark.createDataFrame(
        [(100, "zephyr quasar"), (200, "common")], ["qid", "qtext"]
    )
    out = bm25_topk(docs, queries, k=3)
    got = {
        (r["qid"], r["rnk"]): (r["doc_id"], r["score"])
        for r in out.collect()
    }
    # rare-term query: only doc 1 matches at all
    assert got[(100, 1)][0] == 1
    assert (100, 2) not in got
    # ubiquitous term: every doc matches with near-zero idf scores,
    # ranked deterministically; the shortest doc gets the tf boost
    assert {got[(200, r)][0] for r in (1, 2, 3)} == {1, 2, 3}
    assert got[(200, 1)][0] == 1  # shortest doc -> highest length norm
    assert all(got[(200, r)][1] >= 0 for r in (1, 2, 3))


def test_bm25_topk_k_and_tiebreak(spark):
    from flask_data_pipes_spark.operators.corpus import bm25_topk

    # 4 identical docs: scores tie exactly -> rnk follows ascending id
    rows = [(i, "same text here") for i in (4, 2, 9, 7)]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    queries = spark.createDataFrame([(1, "same")], ["qid", "qtext"])
    out = bm25_topk(docs, queries, k=3).orderBy("rnk").collect()
    assert [r["doc_id"] for r in out] == [2, 4, 7]  # k=3 of 4, id order
    assert len({r["score"] for r in out}) == 1


def test_vocab_stats_known_counts(spark):
    from flask_data_pipes_spark.operators.corpus import vocab_stats

    rows = [
        (1, "a b b", "s1"),
        (2, "a c", "s1"),
        (3, "x x x x", "s2"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text", "source"])
    out = {r["source"]: r for r in vocab_stats(df, by="source").collect()}
    # s1: tokens a,b,b,a,c -> n=5, vocab {a,b,c}=3, hapax {c}=1
    assert out["s1"]["n_docs"] == 2
    assert out["s1"]["n_tokens"] == 5
    assert out["s1"]["vocab_size"] == 3
    assert out["s1"]["n_hapax"] == 1
    assert abs(out["s1"]["type_token_ratio"] - 0.6) < 1e-9
    # s2: one doc, one type repeated 4x -> no hapax
    assert out["s2"]["vocab_size"] == 1 and out["s2"]["n_hapax"] == 0


def test_encoding_noise_known_values(spark):
    from flask_data_pipes_spark.functions.text import encoding_noise

    repl, atilde, soh, stx = chr(0xFFFD), chr(0xC3), chr(1), chr(2)
    rows = [
        (1, "clean ascii text"),
        (2, f"bad {repl}{repl} decode"),
        (3, f"caf{atilde}{chr(0xA9)} mojibake"),  # the classic "A-tilde"
        (4, f"ctrl{soh}{stx}here"),
        (5, ""),
        (6, None),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r["doc_id"]: r
        for r in df.select(
            "doc_id", encoding_noise("text").alias("e")
        ).select("doc_id", "e.*").collect()
    }
    assert out[1]["noise_ratio"] == 0.0 and out[1]["nonascii_ratio"] == 0.0
    assert out[2]["n_replacement"] == 2 and out[2]["noise_ratio"] > 0
    assert out[3]["n_mojibake"] >= 1 and out[3]["n_replacement"] == 0
    assert out[4]["n_ctrl"] == 2
    for blank in (5, 6):
        assert out[blank]["n_replacement"] == 0
        assert out[blank]["noise_ratio"] == 0.0


def test_lsh_multitable_recall_dominates_single_table(spark):
    """OR-amplification: on CLUSTERED embeddings (where sign-pattern
    LSH is meaningful — the near-orthogonal driver fixture defeats any
    hyperplane scheme, which is the llm_ann_recall gauge's documented
    lesson), 4 independent tables must (a) produce a candidate
    SUPERSET per query — so recall never drops — and (b) materially
    beat one table's recall."""
    import random

    rng = random.Random(7)
    dim, n_clusters = 16, 8
    centers = [
        [rng.gauss(0, 1) for _ in range(dim)] for _ in range(n_clusters)
    ]
    rows = []
    for i in range(400):
        c = centers[i % n_clusters]
        rows.append((i, [x + rng.gauss(0, 0.15) for x in c]))
    e = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    q = e.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("qid"), "embedding"
    )
    truth = {
        (r["qid"], r["vec_id"])
        for r in similarity.cosine_topk(e, q, k=5, round_to=6).collect()
    }

    def recall(df):
        got = {(r["qid"], r["vec_id"]) for r in df.collect()}
        return len(truth & got) / len(truth)

    r1 = recall(
        similarity.lsh_topk(e, q, k=5, n_planes=6, dim=dim, seed=11)
    )
    r4 = recall(
        similarity.lsh_topk(
            e, q, k=5, n_planes=6, dim=dim, seed=11, n_tables=4
        )
    )
    assert r4 >= r1  # superset candidates can never lose recall
    assert r4 >= 0.8  # clustered data: 4 tables nearly recover truth
    assert r4 - r1 >= 0.1  # and the amplification is material


def test_cdc_chunks_edit_locality(spark):
    """The CDC selling point: inserting tokens into the middle of a
    document must leave every chunk OUTSIDE the edited chunk with an
    identical hash (fixed-window chunking would shift all later
    windows). Also: chunk boundaries are deterministic, chunks tile
    the doc exactly, and every chunk has >= 1 token."""
    import random

    rng = random.Random(3)
    words = [f"w{rng.randrange(10_000)}" for _ in range(400)]
    original = " ".join(words)
    edited = " ".join(words[:200] + ["INSERTED", "NOVEL", "SPAN"] + words[200:])
    df = spark.createDataFrame(
        [(1, original), (2, edited)], ["doc_id", "text"]
    )
    out = dedup.cdc_chunks(df, mask_bits=4, seed=17).collect()
    by_doc = {1: [], 2: []}
    for r in out:
        by_doc[r["doc_id"]].append(r)
    for d in (1, 2):
        by_doc[d].sort(key=lambda r: r["chunk_idx"])
        assert all(r["n_tokens"] >= 1 for r in by_doc[d])
    # chunks tile the doc: token counts sum to doc length
    assert sum(r["n_tokens"] for r in by_doc[1]) == 400
    assert sum(r["n_tokens"] for r in by_doc[2]) == 403
    h1 = [r["chunk_hash"] for r in by_doc[1]]
    h2 = [r["chunk_hash"] for r in by_doc[2]]
    shared = set(h1) & set(h2)
    # every chunk except the edited one (and at most its neighbor if
    # the insert spans a boundary) survives with identical hash
    assert len(shared) >= len(h1) - 2
    # and the two docs are NOT identical chunk-wise
    assert set(h1) != set(h2)


def test_script_profile_dominance_and_ties(spark):
    from flask_data_pipes_spark.functions.text import script_profile

    cyr = chr(0x0416) * 3  # Cyrillic
    han = chr(0x4E2D) * 3  # Han
    rows = [
        (1, "plain latin text"),
        (2, f"zz {cyr}{cyr} {han}"),  # cyrillic 6 > han 3 > latin 2
        (3, f"{cyr[0] * 2}{han[0] * 2}"),  # tie 2-2 -> alphabetical: cyrillic
        (4, "12345 !!!"),  # no profiled script
        (5, ""),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r["doc_id"]: r
        for r in df.select(
            "doc_id", script_profile("text").alias("s")
        ).select("doc_id", "s.*").collect()
    }
    assert out[1]["dominant"] == "latin" and out[1]["n_latin"] == 14
    assert out[2]["dominant"] == "cyrillic" and out[2]["n_cyrillic"] == 6
    assert out[3]["dominant"] == "cyrillic"  # tie breaks alphabetically
    assert out[4]["dominant"] == "none"
    assert out[5]["dominant"] == "none"


def test_length_histogram_buckets(spark):
    from flask_data_pipes_spark.operators.corpus import length_histogram

    rows = [
        (1, "a", "s"),              # 1 token  -> [1,1]
        (2, "a b c", "s"),          # 3 tokens -> [2,3]
        (3, "a b c d e f g h", "s"),  # 8 -> [8,15]
        (4, "", "s"),               # blank -> (0,0)
        (5, " ".join(["t"] * 9), "s"),  # 9 -> [8,15]
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text", "source"])
    out = {
        (r["bucket_lo"], r["bucket_hi"]): r
        for r in length_histogram(df, by="source").collect()
    }
    assert out[(1, 1)]["n_docs"] == 1 and out[(1, 1)]["total_tokens"] == 1
    assert out[(2, 3)]["n_docs"] == 1
    assert out[(8, 15)]["n_docs"] == 2 and out[(8, 15)]["total_tokens"] == 17
    assert out[(0, 0)]["n_docs"] == 1 and out[(0, 0)]["total_tokens"] == 0


def test_hashed_linear_score_properties(spark):
    from flask_data_pipes_spark.functions.text import (
        hashed_linear_score,
        pseudo_weights,
    )

    w = pseudo_weights(64, 5)
    # find a clearly positive-weight and negative-weight token
    import hashlib

    def wof(tok):
        h = int(hashlib.md5(f"29|{tok}".encode()).hexdigest()[:15], 16)
        return w[h % 64]

    pos = max((f"tok{i}" for i in range(200)), key=wof)
    neg = min((f"tok{i}" for i in range(200)), key=wof)
    rows = [(1, f"{pos} {pos} {pos}"), (2, f"{neg} {neg} {neg}"), (3, "")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r["doc_id"]: r["s"]
        for r in df.select(
            "doc_id", hashed_linear_score("text", w).alias("s")
        ).collect()
    }
    import math

    assert out[1] > 0.5 > out[2]  # sign of weights drives the score
    assert out[3] is None  # blank doc -> NULL
    # exact sigmoid of the mean weight (weights are exact binary
    # fractions, so the fold is bit-exact)
    assert out[1] == round(1.0 / (1.0 + math.exp(-wof(pos))), 6)


def test_random_projection_jl_distortion(spark):
    """JL property on a sample: projecting 64 -> 16 dims keeps most
    pairwise cosines within modest distortion, and the projection is
    deterministic (same seed -> identical arrays)."""
    from flask_data_pipes_spark.operators.similarity import random_projection
    import random

    rng = random.Random(5)
    rows = [
        (i, [rng.gauss(0, 1) for _ in range(64)]) for i in range(40)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    p1 = df.select(
        "vec_id",
        random_projection(F.col("embedding"), 16, 64, seed=7).alias("p"),
    ).collect()
    p2 = df.select(
        "vec_id",
        random_projection(F.col("embedding"), 16, 64, seed=7).alias("p"),
    ).collect()
    assert sorted((r["vec_id"], tuple(r["p"])) for r in p1) == sorted(
        (r["vec_id"], tuple(r["p"])) for r in p2
    )
    # distortion gauge: mean |cos_orig - cos_proj| small on gaussians
    import math

    vecs = {r[0]: r[1] for r in rows}
    projs = {r["vec_id"]: r["p"] for r in p1}

    def cos(a, b):
        d = sum(x * y for x, y in zip(a, b))
        return d / math.sqrt(
            sum(x * x for x in a) * sum(y * y for y in b)
        )

    errs = [
        abs(cos(vecs[i], vecs[j]) - cos(projs[i], projs[j]))
        for i in range(40)
        for j in range(i + 1, 40)
    ]
    assert sum(errs) / len(errs) < 0.2  # JL at 16 dims: modest distortion


def test_temperature_sample_upweights_tail_sources(spark):
    """Temperature mixing at alpha=0.5: a source 100x larger than
    another must NOT be 100x larger in the sample — keep rates scale
    as sqrt(n_s)/n_s, so the small source's keep PROBABILITY is ~10x
    the big one's; totals land near target_frac; and the draw is
    deterministic per seed."""
    from flask_data_pipes_spark.operators.corpus import temperature_sample

    rows = [(i, "big") for i in range(2000)] + [
        (10_000 + i, "small") for i in range(20)
    ]
    df = spark.createDataFrame(rows, ["doc_id", "source"])
    out = temperature_sample(
        df, by="source", id_col="doc_id", target_frac=0.5, seed=31
    )
    probs = {
        r["source"]: r["p_keep"]
        for r in out.select("source", "p_keep").distinct().collect()
    }
    # sqrt weighting: p_small / p_big == sqrt(2000/20) == 10 (both
    # below the min(1, .) cap or small capped at 1.0)
    assert probs["small"] == 1.0 or probs["small"] / probs["big"] == (
        pytest.approx(10.0, rel=1e-6)
    )
    assert probs["small"] > probs["big"]
    # total lands near target_frac of the corpus
    n = out.count()
    assert 0.35 * 2020 < n < 0.65 * 2020
    # deterministic: identical draw for identical seed
    again = temperature_sample(
        df, by="source", id_col="doc_id", target_frac=0.5, seed=31
    )
    assert sorted(r["doc_id"] for r in out.collect()) == sorted(
        r["doc_id"] for r in again.collect()
    )


def test_bigram_logprob_order_sensitivity(spark):
    """The bigram LM must distinguish token ORDER where the unigram LM
    cannot: a document that repeats a fixed phrase has predictable
    transitions (high avg logp); a scrambled permutation of the SAME
    tokens has unseen/rare transitions (lower avg logp). Unigram
    scores for both are identical by construction."""
    from flask_data_pipes_spark.operators.corpus import (
        bigram_logprob,
        unigram_logprob,
    )

    phrase = "alpha beta gamma delta"
    natural = " ".join([phrase] * 6)
    toks = natural.split()
    scrambled = " ".join(
        toks[i] for i in [7, 2, 21, 14, 0, 9, 23, 4, 17, 12, 1, 19, 6,
                          11, 3, 22, 8, 15, 20, 5, 13, 18, 10, 16]
    )
    df = spark.createDataFrame(
        [(1, natural), (2, scrambled)], "doc_id long, text string"
    )
    uni = {r["doc_id"]: r["avg_logp"] for r in unigram_logprob(df).collect()}
    big = {r["doc_id"]: r for r in bigram_logprob(df).collect()}
    assert uni[1] == uni[2]  # unigram blind to order
    assert big[1]["avg_logp"] > big[2]["avg_logp"]  # bigram is not
    assert big[1]["n_bigrams"] == 23
    # bits_per_bigram is the negated avg in log2
    import math

    assert big[1]["bits_per_bigram"] == pytest.approx(
        -big[1]["avg_logp"] / math.log(2), abs=1e-5
    )


def test_cms_never_underestimates_and_merges(spark):
    """CMS guarantees: estimates are >= true counts for every seen
    item; a tiny width forces collisions (some overestimate > 0, since
    vocabulary >> w) while min-over-rows keeps estimates sane; and two
    shard sketches merged by cell-wise addition equal the sketch of
    the union — the property that makes CMS map-side combinable and
    cross-shard addable."""
    from flask_data_pipes_spark.operators.sketches import (
        cms_build,
        cms_estimate,
    )

    import random

    rng = random.Random(11)
    vals = [f"v{rng.randrange(200)}" for _ in range(3000)]
    truth = {}
    for v in vals:
        truth[v] = truth.get(v, 0) + 1
    df = spark.createDataFrame([(v,) for v in vals], ["tok"])
    d, w, seed = 4, 64, 41  # w=64 << 200 distinct values -> collisions
    sketch = cms_build(df, "tok", d=d, w=w, seed=seed)
    qdf = spark.createDataFrame([(v,) for v in truth], ["tok"])
    est = {
        r["tok"]: r["est"]
        for r in cms_estimate(sketch, qdf, "tok", d=d, w=w, seed=seed).collect()
    }
    assert all(est[v] >= c for v, c in truth.items())  # never under
    assert any(est[v] > c for v, c in truth.items())  # collisions real
    assert sum(r["cnt"] for r in sketch.collect()) == d * len(vals)

    # merge property: shard sketches sum cell-wise to the union sketch
    half = len(vals) // 2
    s1 = cms_build(
        spark.createDataFrame([(v,) for v in vals[:half]], ["tok"]),
        "tok", d=d, w=w, seed=seed,
    )
    s2 = cms_build(
        spark.createDataFrame([(v,) for v in vals[half:]], ["tok"]),
        "tok", d=d, w=w, seed=seed,
    )
    merged = (
        s1.unionByName(s2)
        .groupBy("row", "bucket")
        .agg(F.sum("cnt").alias("cnt"))
    )
    a = sorted(map(tuple, merged.collect()))
    b = sorted(map(tuple, sketch.collect()))
    assert a == b


def test_hll_merge_across_shards_equals_whole_build(spark):
    """Register-wise max over per-shard sketches is EXACTLY the
    whole-corpus register table (the mergeability contract a 100 TB
    shard-parallel build relies on), and merging a shard twice is a
    no-op (idempotence)."""
    from flask_data_pipes_spark.operators.sketches import hll_build, hll_merge

    df = spark.range(1000).select(
        F.concat(F.lit("v"), F.col("id")).alias("val"),
        (F.col("id") % 3).alias("shard"),
    )
    whole = sorted(map(tuple, hll_build(df, "val").collect()))
    shards = [
        hll_build(df.where(F.col("shard") == s), "val") for s in range(3)
    ]
    merged = sorted(map(tuple, hll_merge(shards).collect()))
    assert merged == whole
    remerged = sorted(map(tuple, hll_merge(shards + [shards[0]]).collect()))
    assert remerged == whole


def test_hll_estimate_accuracy_and_correction(spark):
    """Raw estimator lands within ~3 sigma (1.04/sqrt(64) = 13%) of the
    true cardinality across 3 hash seeds; the linear-counting
    correction fixes the small-cardinality regime where the raw
    estimator is known-biased."""
    from flask_data_pipes_spark.operators.sketches import (
        hll_build,
        hll_estimate,
    )

    df = spark.range(5000).select(
        F.concat(F.lit("tok"), F.col("id")).alias("val")
    )
    for seed in (43, 101, 7):
        sk = hll_build(df, "val", b=6, seed=seed)
        est = hll_estimate(sk, b=6).collect()[0]["est_distinct"]
        assert abs(est / 5000.0 - 1.0) < 0.40, (seed, est)

    small = spark.range(20).select(
        F.concat(F.lit("s"), F.col("id")).alias("val")
    )
    sk = hll_build(small, "val", b=6, seed=43)
    corrected = hll_estimate(sk, b=6, corrected=True).collect()[0][
        "est_distinct"
    ]
    assert abs(corrected / 20.0 - 1.0) < 0.30, corrected


def test_cms_error_guarantees_property(spark):
    """The two CMS paper guarantees, checked per item on a seeded skewed
    corpus (w=64 deliberately small so collisions actually occur):
    (1) estimate >= true count for EVERY item — always;
    (2) estimate <= true + ceil(2N/w) for at least a 1-(1/2)^d
        fraction of items (d independent rows each fail the 2N/w
        Markov bound with probability < 1/2)."""
    import math

    from flask_data_pipes_spark.operators.sketches import (
        cms_build,
        cms_estimate,
    )

    d, w = 4, 64
    vocab = 300
    rows = [(f"item{i}",) for i in range(vocab) for _ in range(i % 17 + 1)]
    n_total = len(rows)
    df = spark.createDataFrame(rows, ["tok"])
    qdf = df.select("tok").distinct()
    bound = math.ceil(2.0 * n_total / w)
    for seed in (41, 137, 997):
        sketch = cms_build(df, "tok", d=d, w=w, seed=seed)
        est = {
            r["tok"]: r["est"]
            for r in cms_estimate(
                sketch, qdf, "tok", d=d, w=w, seed=seed
            ).collect()
        }
        true = {f"item{i}": i % 17 + 1 for i in range(vocab)}
        assert all(est[t] >= c for t, c in true.items()), seed
        within = sum(1 for t, c in true.items() if est[t] <= c + bound)
        assert within / vocab >= 1.0 - 0.5**d, (seed, within / vocab)


def test_jpeg_codec_stats_exact():
    """Baseline-JPEG codec pair (stdlib+numpy, self-describing Huffman
    tables): the decoder's transform-domain mean is exact to the
    per-block DC rounding bound (0.5/8 intensity units) — no IDCT
    needed because AC bases are zero-mean."""
    import random

    from flask_data_pipes_spark.operators.multimodal import (
        jpeg_decoder,
        jpeg_encode,
    )

    # flat gray: mean exactly 128/255
    d = jpeg_decoder(jpeg_encode(bytes([128] * 256), 16, 16))
    assert (d["width"], d["height"], d["n_pixels"]) == (16, 16, 256)
    assert abs(d["mean_intensity"] - 128 / 255) < 1e-12

    # ramp: analytic mean, exact (DC of each block representable)
    px = bytes((x * 255) // 23 for _ in range(16) for x in range(24))
    d = jpeg_decoder(jpeg_encode(px, 24, 16))
    true = sum((x * 255) // 23 for x in range(24)) / 24 / 255
    assert abs(d["mean_intensity"] - true) < 1e-12

    # pseudorandom content within the DC rounding bound, with and
    # without restart markers (DRI/RSTn path)
    rng = random.Random(7)
    px = bytes(rng.randrange(256) for _ in range(32 * 24))
    for dri in (None, 3):
        d = jpeg_decoder(jpeg_encode(px, 32, 24, restart_interval=dri))
        assert abs(d["mean_intensity"] * 255 - sum(px) / len(px)) <= 0.5 / 8

    # 4:4:4 color: mean reports the LUMA plane
    y, cb, cr = bytes([100] * 64), bytes([128] * 64), bytes([140] * 64)
    d = jpeg_decoder(jpeg_encode([y, cb, cr], 8, 8))
    assert abs(d["mean_intensity"] * 255 - 100) < 0.5 / 8

    # non-multiple-of-8 dims: reported dims are the REAL ones
    d = jpeg_decoder(jpeg_encode(bytes([50] * (12 * 10)), 12, 10))
    assert (d["width"], d["height"], d["n_pixels"]) == (12, 10, 120)


def test_jpeg_decoder_rejects_out_of_scope():
    """The documented scope boundary errors: progressive (SOF2),
    subsampled, truncated, and non-JPEG payloads raise ValueError."""
    import pytest as _pytest

    from flask_data_pipes_spark.operators.multimodal import (
        jpeg_decoder,
        jpeg_encode,
    )

    good = jpeg_encode(bytes([128] * 64), 8, 8)

    with _pytest.raises(ValueError, match="not a JPEG"):
        jpeg_decoder(b"\x89PNG1234")
    # SOF0 -> SOF2 (progressive)
    sof = good.find(b"\xff\xc0")
    bad = good[:sof] + b"\xff\xc2" + good[sof + 2 :]
    with _pytest.raises(ValueError, match="baseline"):
        jpeg_decoder(bad)
    # patch sampling factors to 2x2
    hv_off = sof + 4 + 6 + 1
    bad = good[:hv_off] + b"\x22" + good[hv_off + 1 :]
    with _pytest.raises(ValueError, match="subsampled"):
        jpeg_decoder(bad)
    # truncate mid-entropy-stream
    with _pytest.raises(ValueError):
        jpeg_decoder(good[: len(good) - 8])


def test_decode_images_jpeg_end_to_end(spark):
    """JPEG payloads through the real Arrow mapInPandas decode path —
    the same plumbing as PNG, now with the third real codec."""
    from flask_data_pipes_spark.operators.multimodal import (
        decode_images,
        jpeg_decoder,
        jpeg_encode,
    )

    rows = [
        (1, jpeg_encode(bytes([0] * 64), 8, 8)),
        (2, jpeg_encode(bytes([255] * 256), 16, 16)),
        (3, jpeg_encode(bytes([128] * (24 * 8)), 24, 8)),
    ]
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    got = {
        r["doc_id"]: r
        for r in decode_images(df, decoder=jpeg_decoder).collect()
    }
    assert got[1]["width"] == 8 and got[1]["mean_intensity"] < 0.01
    assert got[2]["n_pixels"] == 256 and got[2]["mean_intensity"] > 0.99
    assert got[3]["width"] == 24 and abs(got[3]["mean_intensity"] - 128 / 255) < 1e-9


def test_bottomk_sample_merge_equals_whole(spark):
    """Bottom-k mergeability: k-smallest-hash of shard-wise k-smallest
    equals the whole-corpus bottom-k EXACTLY, and re-merging a shard
    (replay) changes nothing."""
    from flask_data_pipes_spark.operators.sketches import (
        bottomk_merge,
        bottomk_sample,
    )

    df = spark.range(5000).select(
        F.col("id").alias("doc_id"), (F.col("id") % 7).alias("shard")
    )
    whole = sorted(
        r["doc_id"] for r in bottomk_sample(df, "doc_id", k=100).collect()
    )
    shards = [
        bottomk_sample(df.where(F.col("shard") == s), "doc_id", k=100)
        for s in range(7)
    ]
    merged = sorted(
        r["doc_id"]
        for r in bottomk_merge(shards, "doc_id", k=100).collect()
    )
    assert merged == whole
    replayed = sorted(
        r["doc_id"]
        for r in bottomk_merge(shards + [shards[3]], "doc_id", k=100).collect()
    )
    assert replayed == whole


def test_bottomk_quantiles_accuracy(spark):
    """Quantile estimates from a k=1024 bottom-k sample land within the
    O(1/sqrt(k)) rank band of the true quantiles on a 50k-row corpus
    (uniform values 0..9999): rank error well under 5 percentile
    points at every tested q, across 2 hash seeds."""
    from flask_data_pipes_spark.operators.sketches import (
        bottomk_sample,
        sample_quantiles,
    )

    n = 50_000
    df = spark.range(n).select(
        F.col("id").alias("doc_id"), (F.col("id") % 10_000).alias("v")
    )
    for seed in (47, 131):
        s = bottomk_sample(df, "doc_id", k=1024, seed=seed)
        got = {
            r["q"]: r["value"]
            for r in sample_quantiles(
                s, "v", "doc_id", (0.1, 0.5, 0.9)
            ).collect()
        }
        for q, v in got.items():
            true = q * 9999  # uniform: value ≈ quantile * max
            assert abs(v - true) / 10_000 < 0.05, (seed, q, v)


def test_hll_grouped_matches_per_group_builds(spark):
    """hll_build(by=...) from one pass equals separately-built
    per-group sketches (same registers, same estimates) — the grouped
    key just rides the aggregate."""
    from flask_data_pipes_spark.operators.sketches import (
        hll_build,
        hll_estimate,
    )

    df = spark.range(3000).select(
        F.concat(F.lit("w"), (F.col("id") % 700)).alias("val"),
        (F.col("id") % 3).cast("string").alias("src"),
    )
    grouped = hll_estimate(
        hll_build(df, "val", by="src"), by="src"
    ).collect()
    got = {r["src"]: r["est_distinct"] for r in grouped}
    for s in ("0", "1", "2"):
        solo = hll_estimate(
            hll_build(df.where(F.col("src") == s), "val")
        ).collect()[0]["est_distinct"]
        assert got[s] == solo, s


def test_zorder_layout_improves_rowgroup_locality(spark, tmp_path):
    """The layout claim, proven on REAL parquet row-group statistics:
    write the same table (a) sorted by one column and (b) range-
    clustered by the Z-order key, then read each row group's min/max
    from the footers. Under (a) only the sort column has narrow
    per-row-group ranges; under (b) BOTH interleaved dimensions have
    per-row-group ranges a fraction of the domain — which is exactly
    what makes min/max pruning work for predicates on either column."""
    import pyarrow.parquet as pq

    from flask_data_pipes_spark.functions.scalars import zorder_key

    n = 1 << 14
    df = spark.range(n).select(
        (F.col("id") % 256).alias("x"),
        ((F.col("id") * 7919) % 256).alias("y"),  # decorrelated dim
    )
    zkey = zorder_key([F.col("x"), F.col("y")], bits=8)

    def rg_spans(path, col):
        spans = []
        import os

        for f in os.listdir(path):
            if not f.endswith(".parquet"):
                continue
            md = pq.ParquetFile(os.path.join(path, f)).metadata
            ci = [md.schema.to_arrow_schema().names.index(col)]
            for rg in range(md.num_row_groups):
                st = md.row_group(rg).column(ci[0]).statistics
                spans.append(st.max - st.min)
        return spans

    opts = {"parquet.block.size": 64 * 1024}  # small row groups
    by_x = str(tmp_path / "by_x")
    (df.repartition(1).sortWithinPartitions("x")
       .write.options(**opts).parquet(by_x))
    by_z = str(tmp_path / "by_z")
    (df.withColumn("__z", zkey).repartition(1).sortWithinPartitions("__z")
       .drop("__z").write.options(**opts).parquet(by_z))

    x_spans_z = rg_spans(by_z, "x")
    y_spans_z = rg_spans(by_z, "y")
    y_spans_x = rg_spans(by_x, "y")
    assert len(x_spans_z) >= 4  # enough row groups to mean anything

    def med(s):  # median: robust to the tiny remainder row group
        return sorted(s)[len(s) // 2]

    # single-col sort leaves the OTHER column unclustered (~full domain)
    assert med(y_spans_x) > 0.8 * 255
    # z-order clusters BOTH dims well below the domain per row group
    assert med(x_spans_z) < 0.5 * 255, x_spans_z
    assert med(y_spans_z) < 0.5 * 255, y_spans_z


def _reference_bpe(word_freqs: dict, n_merges: int, min_count: int = 2):
    """Pure-Python reference BPE (Sennrich et al.): independent
    implementation the Spark operators must reproduce exactly."""
    vocab = {tuple(w): c for w, c in word_freqs.items()}
    merges = []
    for _ in range(n_merges):
        pairs = {}
        for sym, c in vocab.items():
            for i in range(len(sym) - 1):
                pairs[(sym[i], sym[i + 1])] = pairs.get((sym[i], sym[i + 1]), 0) + c
        if not pairs:
            break
        # max by count, ties lexicographic — same rule as bpe_train
        best = min(pairs.items(), key=lambda kv: (-kv[1], kv[0]))
        (a, b), cnt = best
        if cnt < min_count:
            break
        merges.append((a, b, cnt))
        new_vocab = {}
        for sym, c in vocab.items():
            out, i = [], 0
            while i < len(sym):
                if i + 1 < len(sym) and sym[i] == a and sym[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(sym[i])
                    i += 1
            new_vocab[tuple(out)] = new_vocab.get(tuple(out), 0) + c
        vocab = new_vocab
    return merges


def test_bpe_apply_merge_left_to_right_nonoverlapping(spark):
    """BPE merge semantics on the pathological overlap case: 'aaaa'
    under merge (a, a) becomes [aa, aa] — left-to-right,
    non-overlapping — and 'aaa' becomes [aa, a]."""
    from flask_data_pipes_spark.operators.bpe import bpe_apply_merge

    df = spark.createDataFrame(
        [("aaaa", 1, ["a", "a", "a", "a"]), ("aaa", 1, ["a", "a", "a"]),
         ("ab", 1, ["a", "b"])],
        "word string, cnt long, symbols array<string>",
    )
    got = {
        r["word"]: r["symbols"]
        for r in bpe_apply_merge(df, "a", "a").collect()
    }
    assert got["aaaa"] == ["aa", "aa"]
    assert got["aaa"] == ["aa", "a"]
    assert got["ab"] == ["a", "b"]


def test_bpe_train_matches_reference(spark):
    """The distributed trainer reproduces the pure-Python reference
    implementation merge-for-merge (same argmax, same tie-break, same
    rewrite) on a corpus exercising repeats, overlaps, and ties."""
    from flask_data_pipes_spark.operators.bpe import bpe_train, word_counts

    texts = [
        "low low low low low",
        "lower lower newest newest newest",
        "newest newest newest widest widest",
        "banana bandana",
    ]
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], ["doc_id", "text"])
    freqs: dict = {}
    for t in texts:
        for w in t.split():
            freqs[w] = freqs.get(w, 0) + 1
    want = _reference_bpe(freqs, n_merges=12)
    got = bpe_train(df, n_merges=12)
    assert got == want, (got, want)
    assert len(got) >= 6  # the corpus supports a real merge sequence


def test_expectations_report_semantics(spark):
    """Null conditions count as violations, thresholds gate ok
    per-check, and uniqueness counts duplicate keys — all from one
    declared pass."""
    import pytest as _pytest

    from flask_data_pipes_spark.operators.expectations import (
        expectations_report,
    )

    df = spark.createDataFrame(
        [(1, 10.0), (2, -1.0), (3, None), (3, 5.0)],
        "k long, v double",
    )
    rep = {
        r["check"]: r
        for r in expectations_report(
            df,
            row_checks={"positive_v": F.col("v") > 0},
            unique_keys=["k"],
            min_pass_rate={"positive_v": 0.5},
        ).collect()
    }
    pv = rep["positive_v"]
    # -1.0 fails, NULL is unevaluable => violation: 2 of 4
    assert pv["n_violations"] == 2 and pv["pass_rate"] == 0.5 and pv["ok"]
    uk = rep["unique_k"]
    assert uk["kind"] == "uniqueness" and uk["n_violations"] == 1
    assert not uk["ok"]

    with _pytest.raises(ValueError):
        expectations_report(df)


def test_jpeg_decoder_rejects_non_interleaved_scan():
    """A baseline JPEG whose SOS covers fewer components than SOF
    declares (non-interleaved, one scan per component) raises the
    named error instead of a confusing Huffman failure (ADVICE r5)."""
    import pytest as _pytest

    from flask_data_pipes_spark.operators.multimodal import (
        jpeg_decoder,
        jpeg_encode,
    )

    good = jpeg_encode([bytes([90] * 64)] * 3, 8, 8)
    sos = good.find(b"\xff\xda")
    assert sos > 0 and good[sos + 4] == 3  # ns byte
    bad = good[: sos + 4] + b"\x01" + good[sos + 5 :]
    with _pytest.raises(ValueError, match="non-interleaved"):
        jpeg_decoder(bad)


def test_jpeg_bitreader_truncated_at_restart_boundary():
    """A stream truncated exactly at a restart boundary raises the
    documented ValueError, not IndexError (ADVICE r5)."""
    import pytest as _pytest

    from flask_data_pipes_spark.operators.multimodal import _JpegBitReader

    r = _JpegBitReader(b"\x12", 0)
    with _pytest.raises(ValueError, match="truncated"):
        r.align_and_expect_rst(0)


def test_hll_merge_grouped_and_schema_guard(spark):
    """hll_merge(by=...) merges per group exactly; passing a grouped
    sketch WITHOUT by raises instead of silently collapsing groups
    into one wrong whole-population sketch (ADVICE r5)."""
    import pytest as _pytest

    from flask_data_pipes_spark.operators.sketches import hll_build, hll_merge

    df = spark.range(600).select(
        F.concat(F.lit("v"), F.col("id")).alias("val"),
        (F.col("id") % 2).cast("string").alias("src"),
        (F.col("id") % 3).alias("shard"),
    )
    whole = sorted(map(tuple, hll_build(df, "val", by="src").collect()))
    shards = [
        hll_build(df.where(F.col("shard") == s), "val", by="src")
        for s in range(3)
    ]
    merged = sorted(map(tuple, hll_merge(shards, by="src").collect()))
    assert merged == whole
    with _pytest.raises(ValueError, match="grouped"):
        hll_merge(shards)


def test_expectations_unknown_threshold_key_raises(spark):
    """A typo'd min_pass_rate key raises instead of silently hardening
    the intended soft constraint to 100% (ADVICE r5)."""
    import pytest as _pytest

    from flask_data_pipes_spark.operators.expectations import (
        expectations_report,
    )

    df = spark.createDataFrame([(1,)], "k long")
    with _pytest.raises(ValueError, match="min_pass_rate"):
        expectations_report(
            df,
            row_checks={"pos": F.col("k") > 0},
            min_pass_rate={"positiv": 0.5},  # typo
        )
    # unique_<col> threshold keys are declared checks — must not raise
    expectations_report(
        df,
        row_checks={"pos": F.col("k") > 0},
        unique_keys=["k"],
        min_pass_rate={"unique_k": 0.9},
    ).collect()


def test_expect_or_quarantine_split_and_roundtrip(spark, tmp_path):
    """Enforcement leg (VERDICT r5 #6): rows failing any check land in
    quarantine with the sorted failed-check diagnosis; clean rows come
    back schema-identical; both sides survive a parquet round-trip."""
    from flask_data_pipes_spark.operators.expectations import (
        expect_or_quarantine,
    )

    df = spark.createDataFrame(
        [(1, 10.0, "ok"), (2, -1.0, "ok"), (3, None, ""), (4, 5.0, "")],
        "k long, v double, s string",
    )
    pass_df, quar_df = expect_or_quarantine(
        df,
        {
            "positive_v": F.col("v") > 0,
            "nonempty_s": F.length("s") > 0,
        },
    )
    assert pass_df.columns == df.columns  # original schema, untouched
    assert [r["k"] for r in pass_df.orderBy("k").collect()] == [1]
    got = {
        r["k"]: r["failed_checks"]
        for r in quar_df.orderBy("k").collect()
    }
    # null v is a violation; arrays are sorted regardless of decl order
    assert got == {
        2: ["positive_v"],
        3: ["nonempty_s", "positive_v"],
        4: ["nonempty_s"],
    }

    # writer round-trip: the split survives parquet out-and-back
    p, q = str(tmp_path / "pass"), str(tmp_path / "quar")
    pass_df.write.parquet(p)
    quar_df.write.parquet(q)
    assert spark.read.parquet(p).count() == 1
    back = spark.read.parquet(q)
    assert back.count() == 3
    assert dict(back.dtypes)["failed_checks"] == "array<string>"


def test_expectations_approx_unique_mode(spark):
    """HLL-approximate uniqueness (one-pass approx_count_distinct):
    same report schema, kind=uniqueness_approx, estimate within rsd
    headroom of the exact answer, and never negative on a clean key."""
    from flask_data_pipes_spark.operators.expectations import (
        expectations_report,
    )

    # 6000 rows over 5000 distinct keys => 1000 true violations
    df = spark.range(6000).select((F.col("id") % 5000).alias("k"))
    rep = {
        r["check"]: r
        for r in expectations_report(
            df, unique_keys=["k"], approx_unique=True, approx_rsd=0.02
        ).collect()
    }
    uk = rep["unique_k"]
    assert uk["kind"] == "uniqueness_approx"
    # true distinct = 5000, violations = 1000; 3-sigma at rsd=0.02 is
    # ±300 on the distinct estimate
    assert abs(uk["n_violations"] - 1000) <= 350, uk["n_violations"]

    clean = spark.range(4000).select(F.col("id").alias("k"))
    rep2 = expectations_report(
        clean, unique_keys=["k"], approx_unique=True, approx_rsd=0.02,
        min_pass_rate={"unique_k": 0.97},
    ).collect()[0]
    assert rep2["n_violations"] >= 0  # clamped, never negative
    assert rep2["ok"]


def test_ivf_recall_on_clustered_corpus(spark, sf_dir):
    """Pin for the ANN crossover guidance (BASELINE.md round-7): on a
    CLUSTERED corpus (`perturbed_copies` — the shape real embedding
    corpora have), IVF reaches recall@5 >= 0.9 while probing a small
    fraction of cells, and recall grows with n_probe. On isotropic
    data (the rotated-copy corpus) no index clears 0.9 — recorded in
    BENCH_SF10.json, guidance: brute-force there."""
    from flask_data_pipes_spark.plans.catalog import load

    base = load(spark, sf_dir, "embeddings")
    corpus = similarity.perturbed_copies(base, copies=8, dim=64, sigma=0.06)
    corpus = corpus.persist()
    q = corpus.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("qid"), "embedding"
    )
    truth = {
        (r["qid"], r["vec_id"])
        for r in similarity.cosine_topk(corpus, q, k=5)
        .select("qid", "vec_id")
        .collect()
    }
    idx = similarity.ivf_fit(corpus, n_cells=16, max_iter=5)
    recalls = {}
    for n_probe in (1, 2, 4):
        got = {
            (r["qid"], r["vec_id"])
            for r in similarity.ivf_search(idx, q, k=5, n_probe=n_probe)
            .select("qid", "vec_id")
            .collect()
        }
        recalls[n_probe] = len(truth & got) / len(truth)
    corpus.unpersist()
    assert recalls[4] >= 0.9, recalls
    assert recalls[4] >= recalls[1], recalls


def test_bpe_train_incremental_matches_reference(spark):
    """The delta-patching trainer reproduces the pure-Python reference
    (and therefore bpe_train) merge-for-merge on the same corpus —
    including pairs whose count hits zero and re-enters via later
    merges, and low checkpoint cadence (forces mid-loop lineage
    truncation of BOTH state tables)."""
    from flask_data_pipes_spark.operators.bpe import bpe_train_incremental

    texts = [
        "low low low low low",
        "lower lower newest newest newest",
        "newest newest newest widest widest",
        "banana bandana",
    ]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], ["doc_id", "text"]
    )
    freqs: dict = {}
    for t in texts:
        for w in t.split():
            freqs[w] = freqs.get(w, 0) + 1
    want = _reference_bpe(freqs, n_merges=12)
    got = bpe_train_incremental(df, n_merges=12, checkpoint_every=3)
    assert got == want, (got, want)
    assert len(got) >= 6


def test_image_hash_neardup_pairs(spark):
    """pHash/dHash over the real PNG codec + banded-Hamming pairing:
    a resized copy and a re-encoded copy collide with their original;
    distinct images never pair (measured separation: copies ≤6 bits,
    distinct ≥20)."""
    import math

    from flask_data_pipes_spark.operators import multimodal as M

    def base_png(g, w=24, h=24):
        px = bytes(
            min(255, max(0, int(
                128 + 100 * math.sin((x * (1 + g % 5) + y * (2 + g % 3)) / 24.0)
            )))
            for y in range(h) for x in range(w)
        )
        return M.png_encode(px, w, h)

    rows = []
    for g in range(4):
        p = base_png(g)
        rows.append((g * 10, p))                       # original
        rows.append((g * 10 + 1, M.png_resizer(p, 16, 16)))  # downscaled copy
        rows.append((g * 10 + 2, M.png_resizer(p, 32, 32)))  # upscaled copy
    df = spark.createDataFrame(rows, "doc_id long, payload binary")

    for method in ("phash", "dhash"):
        pairs = {
            (r["doc_id_a"], r["doc_id_b"])
            for r in M.image_neardup_pairs(
                df, method=method, n_bands=8, max_hamming=6
            ).collect()
        }
        for g in range(4):
            a, b, c = g * 10, g * 10 + 1, g * 10 + 2
            assert (a, b) in pairs, (method, g, sorted(pairs))
            assert (a, c) in pairs, (method, g, sorted(pairs))
        # no cross-group collisions
        for x, y in pairs:
            assert x // 10 == y // 10, (method, x, y)

    # hashes are stable under re-encoding (decode→encode round trip)
    p = base_png(1)
    reenc = M.png_encode(
        bytes(
            int(round(
                M._area_resize(M._gray_matrix(p), 24, 24)[y][x]
            )) for y in range(24) for x in range(24)
        ), 24, 24,
    )
    assert bin(
        (M.image_phash(p) ^ M.image_phash(reenc)) & ((1 << 64) - 1)
    ).count("1") <= 2


def test_cosine_topk_vectorized_matches_fold(spark, sf_dir):
    """The Arrow-vectorized brute twin returns EXACTLY the fold
    version's rows (same rounding, same id tie-break) — per-partition
    heap top-k + global window loses nothing."""
    from flask_data_pipes_spark.plans.catalog import load

    e = load(spark, sf_dir, "embeddings").repartition(8)
    q = e.filter(F.col("vec_id") < 6).select(
        F.col("vec_id").alias("qid"), "embedding"
    )
    want = {
        (r["qid"], r["rnk"]): (r["vec_id"], round(r["sim"], 6))
        for r in similarity.cosine_topk(e, q, k=5).collect()
    }
    got = {
        (r["qid"], r["rnk"]): (r["vec_id"], round(r["sim"], 6))
        for r in similarity.cosine_topk_vectorized(e, q, k=5).collect()
    }
    assert got == want


def test_image_hashes_skip_invalid(spark):
    """skip_invalid=True drops undecodable payloads instead of failing
    the job (the corpus-scale posture); default stays loud."""
    from flask_data_pipes_spark.operators import multimodal as M

    good = M.png_encode(bytes(range(16)), 4, 4)
    rows = [(1, good), (2, b"not a png"), (3, None), (4, good)]
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    out = M.image_hashes(df, method="dhash", skip_invalid=True).collect()
    assert sorted(r["doc_id"] for r in out) == [1, 4]
    assert out[0]["image_hash"] == out[1]["image_hash"]
    import pytest as _pytest

    with _pytest.raises(Exception):
        M.image_hashes(df, method="dhash").collect()


def test_ivf_save_load_roundtrip_and_partition_pruning(spark, sf_dir, tmp_path):
    """A saved IVF index reloads to the exact same search results, and
    the on-disk layout (partitionBy cell) lets the probe join prune at
    the scan: the reloaded search plan carries a dynamic-partition-
    pruning subquery on __cell, so probing p of k cells reads only p
    directories."""
    from flask_data_pipes_spark.plans.catalog import load

    e = load(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("qid"), "embedding"
    )
    idx = similarity.ivf_fit(e, n_cells=8, seed=42)
    path = str(tmp_path / "ivf")
    similarity.ivf_save(idx, path)
    loaded = similarity.ivf_load(spark, path)
    assert loaded.centers == idx.centers

    want = sorted(
        (r["qid"], r["rnk"], r["vec_id"], round(r["sim"], 6))
        for r in similarity.ivf_search(idx, q, k=5, n_probe=3).collect()
    )
    got_df = similarity.ivf_search(loaded, q, k=5, n_probe=3)
    got = sorted(
        (r["qid"], r["rnk"], r["vec_id"], round(r["sim"], 6))
        for r in got_df.collect()
    )
    assert got == want

    plan = got_df._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan.lower(), plan[:2000]


def test_image_dedup_keep(spark):
    """Greedy visual dedup keeps the smallest id of each near-dup
    group, keeps undecodable payloads under skip_invalid (never drop
    what you could not inspect), and keeps distinct images."""
    import math

    from flask_data_pipes_spark.operators import multimodal as M

    def base_png(g, w=24, h=24):
        px = bytes(
            min(255, max(0, int(
                128 + 100 * math.sin((x * (1 + g % 5) + y * (2 + g % 3)) / 24.0)
            )))
            for y in range(h) for x in range(w)
        )
        return M.png_encode(px, w, h)

    p0, p1 = base_png(0), base_png(1)
    rows = [
        (10, p0),
        (11, M.png_resizer(p0, 16, 16)),  # near-dup of 10 → dropped
        (20, p1),                          # distinct → kept
        (30, b"corrupt"),                  # undecodable → kept
    ]
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    kept = sorted(
        r["doc_id"]
        for r in M.image_dedup_keep(df, skip_invalid=True).collect()
    )
    assert kept == [10, 20, 30]


def _replay_merges(word: str, merges: list) -> list:
    """Sequential replay: apply each trained merge, in training order,
    fully (left-to-right, non-overlapping) — correct by definition.
    encode_word's rank-greedy loop must reproduce this exactly."""
    syms = list(word)
    for a, b, *_ in merges:
        out, i = [], 0
        while i < len(syms):
            if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                out.append(a + b)
                i += 2
            else:
                out.append(syms[i])
                i += 1
        syms = out
    return syms


def test_bpe_encode_word_matches_sequential_replay():
    """Rank-greedy inference == sequential training-order replay, on a
    merge list exercising overlaps ('aaaa'), nested merges, and symbols
    absent from training ('zzz' stays as chars)."""
    from flask_data_pipes_spark.operators.bpe import encode_word

    corpus = {
        "aaaa": 5, "aaab": 4, "banana": 3, "bandana": 2,
        "lower": 4, "lowest": 3, "newest": 6,
    }
    merges = _reference_bpe(corpus, n_merges=16)
    ranks = {(a, b): i for i, (a, b, _c) in enumerate(merges)}
    for w in list(corpus) + ["zzz", "a", "", "aab", "nana", "lowered"]:
        assert encode_word(w, ranks) == _replay_merges(w, merges), w


def test_bpe_encode_train_consistency(spark):
    """Encoding the training words with the learned merges reproduces
    the symbol table the trainer itself converged to — the train/apply
    contract that makes token budgets computed at inference time match
    what training saw."""
    from flask_data_pipes_spark.operators.bpe import (
        bpe_train, bpe_apply_merge, encode_word_table, word_counts,
    )

    texts = [
        "low low low lower lowest",
        "newest newest newest widest banana",
        "banana bandana cabana",
    ]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], ["doc_id", "text"]
    )
    w = word_counts(df)
    merges = bpe_train(df, n_merges=10, words=w)
    final = w
    for a, b, _c in merges:
        final = bpe_apply_merge(final, a, b)
    trained = {r["word"]: r["symbols"] for r in final.collect()}
    encoded = {
        r["word"]: r["tokens"]
        for r in encode_word_table(w.select("word"), merges).collect()
    }
    assert trained == encoded


def test_bpe_encode_per_doc_counts(spark):
    """bpe_encode's per-document word/token/char counts equal a pure
    recount; documents with no words survive with zeros; the word
    vocabulary (lower + whitespace) matches word_counts."""
    from flask_data_pipes_spark.operators.bpe import bpe_encode, encode_word

    texts = [
        (0, "Banana bandana BANANA"),
        (1, "newest newest lowest"),
        (2, "   "),          # whitespace-only: zero words
        (3, None),           # null text: zero words
        (4, "zzz aaaa"),
    ]
    df = spark.createDataFrame(texts, "doc_id long, text string")
    corpus = {"banana": 3, "bandana": 1, "newest": 2, "lowest": 1,
              "zzz": 1, "aaaa": 1}
    merges = _reference_bpe(corpus, n_merges=8)
    ranks = {(a, b): i for i, (a, b, _c) in enumerate(merges)}
    got = {r["doc_id"]: r for r in bpe_encode(df, merges).collect()}
    assert set(got) == {0, 1, 2, 3, 4}
    for doc_id, text in texts:
        words = (text or "").lower().split()
        n_tok = sum(len(encode_word(w, ranks)) for w in words)
        assert got[doc_id]["n_words"] == len(words), doc_id
        assert got[doc_id]["n_bpe_tokens"] == n_tok, doc_id
        assert got[doc_id]["n_chars_tokenized"] == sum(len(w) for w in words)


def test_pq_topk_exact_when_rerank_covers_corpus(spark):
    """PQ + exact rerank equals brute force whenever the candidate
    window covers the corpus (k*rerank >= N): the ADC stage then only
    ORDERS candidates, and the exact rerank decides — so any
    disagreement would expose a bug in encode/LUT/rerank plumbing."""
    from flask_data_pipes_spark.operators.similarity import (
        cosine_topk, pq_topk,
    )

    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    n = e.count()
    q = e.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("qid"), "embedding"
    )
    want = {
        (r["qid"], r["rnk"]): r["vec_id"]
        for r in cosine_topk(e, q, k=5).collect()
    }
    got = {
        (r["qid"], r["rnk"]): r["vec_id"]
        for r in pq_topk(
            e, q, k=5, m=8, n_centroids=64, rerank=(n // 5) + 1
        ).collect()
    }
    assert got == want


def test_pq_codes_are_m_bytes_and_recall_reasonable(spark):
    """The encoded corpus is m bytes per vector (the 32x memory story
    at dim 64 float32), and modest rerank already recovers most of the
    true top-5 on the synthetic corpus."""
    from flask_data_pipes_spark.operators.similarity import (
        cosine_topk, pq_fit, pq_search,
    )

    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    q = e.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("qid"), "embedding"
    )
    idx = pq_fit(e, m=8, n_centroids=64)
    lens = idx.codes.select(F.length("__code").alias("l")).distinct().collect()
    assert [r["l"] for r in lens] == [8]
    truth = {
        (r["qid"], r["vec_id"]) for r in cosine_topk(e, q, k=5).collect()
    }
    approx = {
        (r["qid"], r["vec_id"])
        for r in pq_search(idx, q, k=5, rerank=8, corpus=e).collect()
    }
    recall = len(truth & approx) / len(truth)
    assert recall >= 0.8, recall


def test_ivfpq_exact_when_probes_and_rerank_cover_corpus(spark):
    """IVF-PQ == brute force when every cell is probed and the rerank
    window covers the corpus: cell pruning and ADC then only ORDER
    candidates, the exact rerank decides — any disagreement is a bug
    in the residual encode / LUT / base-term decomposition."""
    from flask_data_pipes_spark.operators.similarity import (
        cosine_topk, ivfpq_topk,
    )

    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    n = e.count()
    q = e.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("qid"), "embedding"
    )
    want = {
        (r["qid"], r["rnk"]): r["vec_id"]
        for r in cosine_topk(e, q, k=5).collect()
    }
    got = {
        (r["qid"], r["rnk"]): r["vec_id"]
        for r in ivfpq_topk(
            e, q, k=5, n_cells=8, m=8, n_centroids=32,
            n_probe=8, rerank=(n // 5) + 1,
        ).collect()
    }
    assert got == want


def test_ivfpq_recall_reasonable_with_partial_probes(spark):
    """With half the cells probed and modest rerank, the composed
    index still recovers most of the true top-5 — the residual
    decomposition (q·centroid + ADC) must not wreck the ordering."""
    from flask_data_pipes_spark.operators.similarity import (
        cosine_topk, ivfpq_fit, ivfpq_search,
    )

    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    q = e.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("qid"), "embedding"
    )
    idx = ivfpq_fit(e, n_cells=8, m=8, n_centroids=32)
    truth = {
        (r["qid"], r["vec_id"]) for r in cosine_topk(e, q, k=5).collect()
    }
    got = {
        (r["qid"], r["vec_id"])
        for r in ivfpq_search(idx, q, k=5, n_probe=4, rerank=8, corpus=e).collect()
    }
    assert len(truth & got) / len(truth) >= 0.6, len(truth & got) / len(truth)


def test_pq_and_ivfpq_save_load_roundtrip(spark, tmp_path):
    """Index-at-rest parity for the quantized indexes: search results
    after save+load equal the in-memory index's results (same codes,
    same codebooks/centers through the JSON sidecar)."""
    from flask_data_pipes_spark.operators.similarity import (
        ivfpq_fit, ivfpq_load, ivfpq_save, ivfpq_search,
        pq_fit, pq_load, pq_save, pq_search,
    )

    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    q = e.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("qid"), "embedding"
    )

    pqi = pq_fit(e, m=8, n_centroids=32)
    want = {
        (r["qid"], r["rnk"]): r["vec_id"]
        for r in pq_search(pqi, q, k=5, rerank=4, corpus=e).collect()
    }
    pq_save(pqi, str(tmp_path / "pq"))
    pql = pq_load(spark, str(tmp_path / "pq"))
    got = {
        (r["qid"], r["rnk"]): r["vec_id"]
        for r in pq_search(pql, q, k=5, rerank=4, corpus=e).collect()
    }
    assert got == want

    ipq = ivfpq_fit(e, n_cells=8, m=8, n_centroids=32)
    want = {
        (r["qid"], r["rnk"]): r["vec_id"]
        for r in ivfpq_search(ipq, q, k=5, n_probe=4, rerank=4, corpus=e).collect()
    }
    ivfpq_save(ipq, str(tmp_path / "ipq"))
    ipql = ivfpq_load(spark, str(tmp_path / "ipq"))
    got = {
        (r["qid"], r["rnk"]): r["vec_id"]
        for r in ivfpq_search(ipql, q, k=5, n_probe=4, rerank=4, corpus=e).collect()
    }
    assert got == want


def test_ivf_append_extends_saved_index(spark, tmp_path):
    """Appending a batch to a saved IVF index makes the new vectors
    searchable with NO refit: a query equal to an appended vector must
    return it as the top neighbor; pre-existing results stay intact;
    assignment matches what a fresh fit-assign of the same centroids
    would produce (nearest-centroid rule)."""
    from flask_data_pipes_spark.operators.similarity import (
        ivf_append, ivf_fit, ivf_load, ivf_save, ivf_search,
    )

    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    half = e.filter(F.col("vec_id") < 250)
    rest = e.filter(F.col("vec_id") >= 250)
    idx = ivf_fit(half, n_cells=8)
    ivf_save(idx, str(tmp_path / "ivf"))
    n = ivf_append(spark, str(tmp_path / "ivf"), rest)
    assert n == rest.count()
    full = ivf_load(spark, str(tmp_path / "ivf"))
    assert full.assigned.count() == e.count()
    # an appended vector used as its own query: with every cell
    # probed the exact rerank must surface its true nearest neighbors
    q = e.filter(F.col("vec_id") == 300).select(
        F.col("vec_id").alias("qid"), "embedding"
    )
    got = ivf_search(full, q, k=5, n_probe=8).collect()
    assert len(got) == 5 and all(r["qid"] == 300 for r in got)
    from flask_data_pipes_spark.operators.similarity import cosine_topk
    want = {(r["qid"], r["rnk"]): r["vec_id"] for r in cosine_topk(e, q, k=5).collect()}
    assert {(r["qid"], r["rnk"]): r["vec_id"] for r in got} == want


def test_unicode_clean_strips_invisibles_keeps_structure(spark):
    """unicode_clean removes zero-width chars, bidi overrides, BOMs,
    and C0/C1 controls but PRESERVES tab/newline/CR and legitimate
    unicode (soft hyphen, CJK, accents); null-safe."""
    from flask_data_pipes_spark.functions.text import unicode_clean

    cases = [
        ("a​b‌c‍d", "abcd"),          # zero-widths
        ("﻿doc", "doc"),                         # BOM
        ("x‮evil‬", "xevil"),          # RLO + PDI both in 202A-202E
        ("ctl\x01\x02\x1f\x7f\x85!", "ctl!"),        # C0/C1 + DEL
        ("keep\tthis\nand\rthat", "keep\tthis\nand\rthat"),
        ("café—日本­", "café—日本­"),        # legit unicode + soft hyphen kept
        (None, None),
    ]
    df = spark.createDataFrame([(i, t) for i, (t, _) in enumerate(cases)],
                               "i long, t string")
    got = {r["i"]: r["c"] for r in df.select("i", unicode_clean("t").alias("c")).collect()}
    for i, (_, want) in enumerate(cases):
        assert got[i] == want, (i, got[i], want)


def test_line_dedup_keep_first_and_reassembly(spark):
    rows = [
        (1, "header\nalpha beta\nfooter"),
        (2, "header\ngamma delta\nfooter"),   # header/footer repeat -> dropped
        (3, "header\nheader\nepsilon"),       # in-doc repeat also dropped
        (4, "  header  "),                    # whole doc is a later repeat
        (5, "   "),                           # blank doc: excluded entirely
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    from flask_data_pipes_spark.operators.dedup import line_dedup

    out = {r["doc_id"]: r for r in line_dedup(df).collect()}
    assert set(out) == {1, 2, 3, 4}
    # doc 1 is first for all three of its lines -> everything kept
    assert out[1]["n_segs"] == 3 and out[1]["n_kept"] == 3
    assert out[1]["clean_text"] == "header\nalpha beta\nfooter"
    # doc 2 keeps only its unique middle line
    assert out[2]["n_kept"] == 1 and out[2]["clean_text"] == "gamma delta"
    # doc 3: both 'header' copies are later repeats; epsilon survives
    assert out[3]["n_segs"] == 3 and out[3]["n_kept"] == 1
    assert out[3]["clean_text"] == "epsilon"
    # doc 4: everything was a repeat -> empty but present (trimmed match)
    assert out[4]["n_segs"] == 1 and out[4]["n_kept"] == 0
    assert out[4]["clean_text"] == ""


def test_line_dedup_differs_from_boilerplate_semantics(spark):
    # keep-first retains ONE copy of the repeated line; C4-style
    # boilerplate_prune would remove it from every document.
    rows = [(1, "dup line\nuniq a"), (2, "dup line\nuniq b")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    from flask_data_pipes_spark.operators.dedup import line_dedup

    out = {r["doc_id"]: r["clean_text"] for r in line_dedup(df).collect()}
    assert out[1] == "dup line\nuniq a"
    assert out[2] == "uniq b"


def test_rrf_fuse_scores_and_nrankers(spark):
    # Two rankings over the same corpus: doc 10 is rank-1 in both, doc
    # 20 only in leg A, doc 30 only in leg B at the same rank — their
    # fused scores tie and the id tiebreak orders 20 before 30.
    a = spark.createDataFrame(
        [(1, 10, 1), (1, 20, 2)], "qid long, doc_id long, rnk int"
    )
    b = spark.createDataFrame(
        [(1, 10, 1), (1, 30, 2)], "qid long, doc_id long, rnk int"
    )
    from flask_data_pipes_spark.operators.corpus import rrf_fuse

    out = rrf_fuse([a, b], k_const=60, topk=5).collect()
    rows = {r["doc_id"]: r for r in out}
    assert rows[10]["n_rankers"] == 2 and rows[10]["rnk"] == 1
    assert abs(rows[10]["rrf_score"] - 2 * round(1.0 / 61, 9)) < 1e-12
    assert rows[20]["rrf_score"] == rows[30]["rrf_score"]
    assert rows[20]["rnk"] == 2 and rows[30]["rnk"] == 3  # id tiebreak


def test_rrf_fuse_topk_and_empty_input(spark):
    import pytest as _pytest

    from flask_data_pipes_spark.operators.corpus import rrf_fuse

    with _pytest.raises(ValueError):
        rrf_fuse([])
    a = spark.createDataFrame(
        [(1, d, r) for r, d in enumerate([5, 6, 7, 8], start=1)],
        "qid long, doc_id long, rnk int",
    )
    out = rrf_fuse([a], topk=2).collect()
    assert [r["doc_id"] for r in sorted(out, key=lambda r: r["rnk"])] == [5, 6]


def _wav_bytes(samples, rate=8000, channels=1):
    import io
    import struct as st
    import wave

    buf = io.BytesIO()
    with wave.open(buf, "wb") as wf:
        wf.setnchannels(channels)
        wf.setsampwidth(2)
        wf.setframerate(rate)
        wf.writeframes(st.pack(f"<{len(samples)}h", *samples))
    return buf.getvalue()


def test_audio_features_square_wave_physics(spark):
    # period-4 square wave at 8 kHz: fundamental = rate/4 = 2000 Hz;
    # with all energy there, centroid and rolloff land on it exactly.
    amp = 8192
    samples = [amp if i % 4 < 2 else -amp for i in range(256)]
    payload = _wav_bytes(samples, rate=8000)
    df = spark.createDataFrame([(1, payload)], "doc_id long, payload binary")
    from flask_data_pipes_spark.operators.multimodal import (
        extract_audio_features,
    )

    r = extract_audio_features(df).collect()[0]
    assert r["n_samples"] == 256 and r["sample_rate"] == 8000
    assert abs(r["rms"] - amp / 32768.0) < 1e-6
    assert abs(r["spectral_centroid_hz"] - 2000.0) < 1.0
    assert abs(r["spectral_rolloff_hz"] - 2000.0) < 40.0
    assert 0.45 < r["zcr"] < 0.55


def test_audio_features_empty_and_stereo(spark):
    # 0-frame WAV -> all-zero features, no crash; stereo payloads are
    # channel-averaged before analysis (L=+a, R=-a cancels to silence).
    amp = 4096
    stereo = [amp if i % 2 == 0 else -amp for i in range(128)]
    df = spark.createDataFrame(
        [(1, _wav_bytes([], rate=8000)), (2, _wav_bytes(stereo, channels=2))],
        "doc_id long, payload binary",
    )
    from flask_data_pipes_spark.operators.multimodal import (
        extract_audio_features,
    )

    out = {r["doc_id"]: r for r in extract_audio_features(df).collect()}
    assert out[1]["n_samples"] == 0 and out[1]["rms"] == 0.0
    assert out[2]["n_samples"] == 64 and out[2]["rms"] == 0.0


def test_kmv_overlap_exact_when_under_k(spark):
    # both sets smaller than k: the union sketch IS the union, so
    # k_eff/union are exact and jaccard is the true 5/15
    a = spark.range(0, 10).withColumnRenamed("id", "v")
    b = spark.range(5, 15).withColumnRenamed("id", "v")
    from flask_data_pipes_spark.operators.sketches import kmv_overlap

    r = kmv_overlap(a, b, "v", k=64).collect()[0]
    assert r["k_eff"] == 15 and r["n_common"] == 5
    assert abs(r["jaccard_est"] - round(5 / 15, 6)) < 1e-9
    assert r["union_est"] == 15.0
    assert abs(r["intersection_est"] - 5.0) < 0.01


def test_kmv_overlap_estimates_within_sketch_error(spark):
    # A = 0..999, B = 500..1499: true J = 1/3, union 1500, inter 500.
    # k=512 -> relative error ~ 1/sqrt(512) ~ 4.4%; assert loose bands.
    a = spark.range(0, 1000).withColumnRenamed("id", "v")
    b = spark.range(500, 1500).withColumnRenamed("id", "v")
    from flask_data_pipes_spark.operators.sketches import kmv_overlap

    r = kmv_overlap(a, b, "v", k=512).collect()[0]
    assert r["k_eff"] == 512
    assert abs(r["jaccard_est"] - 1 / 3) < 0.1
    assert abs(r["union_est"] - 1500) / 1500 < 0.15
    assert abs(r["intersection_est"] - 500) / 500 < 0.3


def test_psi_report_identical_and_shifted(spark):
    from flask_data_pipes_spark.operators.corpus import psi_report

    a = spark.range(0, 1000).selectExpr("CAST(id % 100 AS DOUBLE) AS v")
    # identical distributions -> PSI exactly 0
    r0 = psi_report(a, a, "v", lo=0.0, hi=100.0, bins=10).collect()
    assert all(row["psi"] == 0.0 for row in r0) and len(r0) == 10
    # shifted by half the range -> large PSI, empty bins floored at eps
    b = spark.range(0, 1000).selectExpr("CAST(50 + id % 100 AS DOUBLE) AS v")
    r1 = psi_report(a, b, "v", lo=0.0, hi=100.0, bins=10).collect()
    psi = r1[0]["psi"]
    assert psi > 0.25  # the "shifted" alarm threshold
    # clamping: b's values 100..149 land in the top bin
    top = [row for row in r1 if row["bin"] == 9][0]
    assert top["n_b"] > top["n_a"]
    with __import__("pytest").raises(ValueError):
        psi_report(a, a, "v", lo=1.0, hi=1.0)


def test_group_reservoir_caps_and_matches_direct_window(spark):
    from pyspark.sql import Window, functions as F

    from flask_data_pipes_spark.functions import text as T
    from flask_data_pipes_spark.operators.corpus import group_reservoir

    rows = [(i, "big" if i < 500 else f"tiny{i % 3}") for i in range(520)]
    df = spark.createDataFrame(rows, "doc_id long, source string")
    out = group_reservoir(df, "source", k=7, id_col="doc_id", seed=53)
    sizes = {
        r["source"]: r["n"]
        for r in out.groupBy("source").agg(F.count("*").alias("n")).collect()
    }
    assert sizes["big"] == 7  # capped
    for s, n in sizes.items():
        if s != "big":
            assert n <= 7  # tiny groups keep everything (<= 7 members)
    # two-phase salted result == direct one-window bottom-k
    h = T.md5_long(F.col("doc_id").cast("string"), 53)
    w = Window.partitionBy("source").orderBy("__h", "doc_id")
    direct = (
        df.withColumn("__h", h)
        .withColumn("r", F.row_number().over(w))
        .where(F.col("r") <= 7)
    )
    got = {(r["source"], r["doc_id"], r["smp_rank"]) for r in out.collect()}
    want = {(r["source"], r["doc_id"], r["r"]) for r in direct.collect()}
    assert got == want


def test_group_reservoir_count_col_exact_and_invisible(spark):
    """Round-15 optimization: `count_col` lets a caller that needs the
    capped rows AND the pre-cap group size consume the input once. The
    count must equal a direct groupBy count EXACTLY (incl. the skewed
    group whose shard counts are assembled across all 16 salts), it
    must be constant across a group's kept rows, and the kept
    (group, id, smp_rank) set must be IDENTICAL to the count-free
    call — the extra column may not perturb the sample."""
    from pyspark.sql import functions as F

    from flask_data_pipes_spark.operators.corpus import group_reservoir

    rows = [(i, "big" if i < 500 else f"tiny{i % 3}") for i in range(520)]
    df = spark.createDataFrame(rows, "doc_id long, source string")
    out = group_reservoir(
        df, "source", k=7, id_col="doc_id", seed=53, count_col="n_all"
    )
    want_n = {
        r["source"]: r["n"]
        for r in df.groupBy("source").agg(F.count("*").alias("n")).collect()
    }
    per_group: dict = {}
    for r in out.collect():
        per_group.setdefault(r["source"], set()).add(r["n_all"])
    assert {s: ns.pop() for s, ns in per_group.items() if len(ns) == 1} == (
        want_n
    )
    # the sample itself is unchanged by asking for the count
    plain = group_reservoir(df, "source", k=7, id_col="doc_id", seed=53)
    got = {
        (r["source"], r["doc_id"], r["smp_rank"])
        for r in out.drop("n_all").collect()
    }
    assert got == {
        (r["source"], r["doc_id"], r["smp_rank"]) for r in plain.collect()
    }


def test_skew_report_hot_key(spark):
    from pyspark.sql import functions as F

    from flask_data_pipes_spark.operators.expectations import skew_report

    # 1000 rows on key 7, one row each on 0..99: hot key share ~0.909
    rows = [(7,)] * 1000 + [(i,) for i in range(100)]
    df = spark.createDataFrame(rows, "k long")
    out = sorted(skew_report(df, ["k"], top_n=3).collect(),
                 key=lambda r: r["rnk"])
    assert out[0]["k"] == 7 and out[0]["rnk"] == 1
    assert abs(out[0]["share"] - 1001 / 1100) < 1e-6
    # 100 distinct keys (0..99 incl 7) -> mean 11 rows/key -> factor ~91
    assert abs(out[0]["skew_factor"] - 1001 * 100 / 1100) < 1e-3
    assert out[1]["cnt"] == 1 and out[1]["k"] == 0  # tie-broken by key
    with __import__("pytest").raises(ValueError):
        skew_report(df, [], top_n=3)


def test_table_profile_exact_and_approx(spark):
    from flask_data_pipes_spark.operators.expectations import table_profile

    rows = [(1, "a"), (2, None), (3, "a"), (None, "b")]
    df = spark.createDataFrame(rows, "k long, s string")
    out = {r["column"]: r for r in table_profile(df).collect()}
    assert out["k"]["n_rows"] == 4 and out["k"]["n_nulls"] == 1
    assert out["k"]["n_distinct"] == 3 and out["k"]["null_frac"] == 0.25
    assert out["s"]["n_nulls"] == 1 and out["s"]["n_distinct"] == 2
    # approx mode: same frame shape, no Expand in the plan
    ap = table_profile(df, exact=False)
    plan = ap._jdf.queryExecution().executedPlan().toString()
    assert "Expand" not in plan
    got = {r["column"]: r for r in ap.collect()}
    assert got["k"]["n_nulls"] == 1  # null stats unaffected by mode
    with __import__("pytest").raises(ValueError):
        table_profile(df, columns=[])


def test_fuzzy_pairs_blocking_cap_and_validation(spark):
    from pyspark.sql import functions as SF

    from flask_data_pipes_spark.operators.dedup import fuzzy_pairs

    df = spark.createDataFrame(
        [("cold widget",), ("old widget",), ("bold gear",), ("gold gear",),
         ("xyzzy gear",), (None,), ("cold widget",)],
        "name string",
    )
    blk = SF.split(SF.col("name"), " ")[1]
    out = sorted(
        (r["name_a"], r["name_b"], r["dist"])
        for r in fuzzy_pairs(df, "name", block=blk, max_dist=2).collect()
    )
    # duplicates collapse (distinct dictionary), null values dropped,
    # cross-block near-matches ("bold gear"/"cold widget") never compared
    assert out == [
        ("bold gear", "gold gear", 1),
        ("cold widget", "old widget", 1),
    ]
    # max_block drops the over-populated block entirely (3 gear names)
    capped = fuzzy_pairs(df, "name", block=blk, max_dist=2, max_block=2)
    assert sorted(r["name_a"] for r in capped.collect()) == ["cold widget"]
    # dist 0 pairs can't exist on a distinct dictionary; threshold 0 ok
    assert fuzzy_pairs(df, "name", block=blk, max_dist=0).count() == 0
    import pytest as _pt

    with _pt.raises(ValueError, match="max_dist"):
        fuzzy_pairs(df, "name", block=blk, max_dist=-1)
    with _pt.raises(ValueError, match="block"):
        fuzzy_pairs(df, "name", block=[])


def test_retrieval_metrics_hand_computed(spark):
    """Hand-computed recall@k / MRR / nDCG on a 3-query fixture:
    perfect, partial, and zero-hit retrievals."""
    import math

    from flask_data_pipes_spark.operators import similarity

    results = spark.createDataFrame(
        # q1: relevant at ranks 1,2 (perfect for n_rel=2)
        # q2: relevant at rank 3 only
        # q3: no relevant retrieved
        [("q1", "a", 1), ("q1", "b", 2), ("q1", "c", 3),
         ("q2", "x", 1), ("q2", "y", 2), ("q2", "a", 3),
         ("q3", "x", 1), ("q3", "y", 2)],
        "qid string, vec_id string, rnk int",
    )
    relevance = spark.createDataFrame(
        [("q1", "a"), ("q1", "b"),
         ("q2", "a"), ("q2", "zz"),
         ("q3", "zz")],
        "qid string, vec_id string",
    )
    out = {
        r.qid: r
        for r in similarity.retrieval_metrics(
            results, relevance, k=3
        ).collect()
    }
    # q1: n_rel=2, hits at 1,2 -> recall 2/min(3,2)=1.0, mrr 1.0,
    # dcg = 1/log2(2)+1/log2(3), idcg identical -> ndcg 1.0
    assert out["q1"].n_rel == 2
    assert out["q1"].recall_at_k == 1.0
    assert out["q1"].mrr == 1.0
    assert out["q1"].ndcg == 1.0
    # q2: n_rel=2, one hit at rank 3 -> recall 0.5, mrr 1/3,
    # dcg = 1/log2(4) = 0.5, idcg = 1/log2(2)+1/log2(3)
    idcg2 = 1.0 + 1.0 / math.log2(3.0)
    assert out["q2"].recall_at_k == 0.5
    assert out["q2"].mrr == round(1.0 / 3.0, 6)
    assert out["q2"].ndcg == round(0.5 / idcg2, 6)
    # q3: zero hits -> explicit zeros, not a missing row
    assert out["q3"].recall_at_k == 0.0
    assert out["q3"].mrr == 0.0
    assert out["q3"].ndcg == 0.0


def test_cluster_balanced_sample_quota_and_determinism(spark, sf_dir):
    from flask_data_pipes_spark.operators import similarity

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    out = similarity.cluster_balanced_sample(
        e, n_clusters=8, per_cluster=5, seed=42
    )
    rows = out.collect()
    by_cluster = {}
    for r in rows:
        by_cluster.setdefault(r.cluster, []).append(r.sample_rank)
    # quota respected, ranks are 1..n within each cell, ids unique
    for cl, ranks in by_cluster.items():
        assert len(ranks) <= 5
        assert sorted(ranks) == list(range(1, len(ranks) + 1))
    assert len({r.vec_id for r in rows}) == len(rows)
    # deterministic re-run (seeded fit + hash order, no random())
    again = similarity.cluster_balanced_sample(
        e, n_clusters=8, per_cluster=5, seed=42
    ).collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, again))


def test_ks_report_identical_zero_disjoint_one(spark):
    from flask_data_pipes_spark.operators.corpus import ks_report

    a = spark.createDataFrame([(float(i % 7),) for i in range(100)], "value double")
    b = spark.createDataFrame([(float(i % 7) + 100.0,) for i in range(50)], "value double")
    same = ks_report(a, a, "value").collect()[0]
    assert same.ks_d == 0.0
    assert same.n_a == 100 and same.n_b == 100
    far = ks_report(a, b, "value").collect()[0]
    # disjoint supports: CDF gap hits 1.0 at a's last value
    assert far.ks_d == 1.0
    assert far.at_value == 6.0


def test_ks_report_matches_brute_cdf(spark, sf_dir):
    import numpy as np

    from flask_data_pipes_spark.operators.corpus import ks_report

    e = spark.read.parquet(f"{sf_dir}/events.parquet")
    a = e.filter("event_type = 'view'")
    b = e.filter("event_type = 'error'")
    got = ks_report(a, b, "value").collect()[0]
    va = np.sort(np.array([r.value for r in a.select("value").collect()]))
    vb = np.sort(np.array([r.value for r in b.select("value").collect()]))
    vs = np.unique(np.concatenate([va, vb]))
    d = np.round(
        np.abs(
            np.searchsorted(va, vs, side="right") / len(va)
            - np.searchsorted(vb, vs, side="right") / len(vb)
        ),
        9,
    )
    assert got.ks_d == d.max()
    assert got.at_value == vs[int(np.argmax(d))]


def test_ks_report_distributed_prefix_sum_plan(spark, sf_dir):
    """The cumsum over the distinct-value table must be range-
    partitioned (distributed prefix sum), never a single-partition
    window over the data."""
    from flask_data_pipes_spark.operators.corpus import ks_report

    e = spark.read.parquet(f"{sf_dir}/events.parquet")
    out = ks_report(
        e.filter("event_type = 'view'"),
        e.filter("event_type = 'purchase'"),
        "value",
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    # the cumsum window over the distinct-value table is partitioned by
    # the range-partition id (the range Exchange itself ran eagerly at
    # checkpoint time, so it doesn't appear in this plan)
    assert "windowspecdefinition(__pid" in plan, (
        "data cumsum window lost its partition-local shape"
    )
    # the only windows ordered WITHOUT a partition are over the tiny
    # per-partition totals table (<= shuffle.partitions rows), which sit
    # under an aggregate of the checkpointed scan — never over raw data
    for line in plan.splitlines():
        if "windowspecdefinition(v" in line:
            raise AssertionError(
                f"value-ordered window without partition over data: {line}"
            )


def test_partitioned_cumsum_matches_global_window(spark):
    import random

    from pyspark.sql import Window as W

    from flask_data_pipes_spark.operators.corpus import partitioned_cumsum

    rng = random.Random(7)
    rows = [(float(rng.randint(0, 500)), rng.randint(1, 9), rng.randint(1, 9))
            for _ in range(2000)]
    df = spark.createDataFrame(rows, "v double, x long, y long").groupBy(
        "v"
    ).agg(F.sum("x").alias("x"), F.sum("y").alias("y"))
    got = {
        r["v"]: (r["__cum_x"], r["__cum_y"])
        for r in partitioned_cumsum(df, "v", ["x", "y"]).collect()
    }
    w = W.orderBy("v").rowsBetween(W.unboundedPreceding, W.currentRow)
    want = {
        r.v: (r.cx, r.cy)
        for r in df.select(
            "v", F.sum("x").over(w).alias("cx"), F.sum("y").over(w).alias("cy")
        ).collect()
    }
    assert got == want


def test_equidepth_histogram_depth_and_ties(spark):
    from flask_data_pipes_spark.operators.corpus import equidepth_histogram

    # 100 distinct values, one row each -> exactly 10 per bin
    df = spark.createDataFrame([(float(i),) for i in range(100)], "v double")
    out = equidepth_histogram(df, "v", bins=10).collect()
    assert [r.n for r in out] == [10] * 10
    assert [r.bin for r in out] == list(range(10))
    assert out[0].lo == 0.0 and out[9].hi == 99.0
    # a heavy hitter (60% of rows share one value) overflows its bin
    # alone; ties never split across bins
    heavy = spark.createDataFrame(
        [(5.0,)] * 60 + [(float(i),) for i in range(10)], "v double"
    )
    hout = equidepth_histogram(heavy, "v", bins=5)
    hrows = {r.bin: r for r in hout.collect()}
    five_bins = [b for b, r in hrows.items() if r.lo <= 5.0 <= r.hi]
    assert len(five_bins) == 1  # the 60-row value sits in exactly one bin
    assert hrows[five_bins[0]].n >= 60
    with pytest.raises(ValueError, match="bins"):
        equidepth_histogram(df, "v", bins=0)


def test_kmv_overlap_matrix_pairwise_consistency(spark, sf_dir):
    """Each matrix cell must equal the two-corpus kmv_overlap run on
    the same pair, and self-similar groups must score high."""
    from flask_data_pipes_spark.functions import text as T
    from flask_data_pipes_spark.operators.sketches import (
        kmv_overlap,
        kmv_overlap_matrix,
    )

    d = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .filter("trim(text) <> '' AND CAST(substr(source, 4, 10) AS INT) < 3")
    )
    toks = d.select(
        "source",
        F.explode(T.whitespace_tokens(F.lower(F.col("text")))).alias("tok"),
    )
    matrix = {
        (r.g_a, r.g_b): (r.k_eff, r.n_common, r.jaccard_est)
        for r in kmv_overlap_matrix(
            toks, "tok", by="source", k=64, seed=47
        ).collect()
    }
    assert set(matrix) == {("src0", "src1"), ("src0", "src2"), ("src1", "src2")}
    pair = kmv_overlap(
        toks.filter("source = 'src0'"),
        toks.filter("source = 'src1'"),
        "tok",
        k=64,
        seed=47,
    ).collect()[0]
    assert matrix[("src0", "src1")] == (
        pair.k_eff, pair.n_common, pair.jaccard_est,
    )


def test_ks_from_counts_merged_shards_equals_whole(spark):
    """Value counts add across shards: KS over summed shard counts must
    equal KS over the whole population (the cross-batch monitor
    contract, mirroring histogram/psi_from_counts)."""
    from flask_data_pipes_spark.operators.corpus import ks_from_counts, ks_report

    a_rows = spark.createDataFrame(
        [(i, float(i % 13)) for i in range(200)], "id long, value double"
    )
    a = a_rows.select("value")
    b = spark.createDataFrame(
        [(float((i * 7) % 17),) for i in range(150)], "value double"
    )
    whole = ks_report(a, b, "value").collect()[0]
    # shard a by id parity, count each shard, merge by addition
    half1 = a_rows.filter("id % 2 = 0").select("value")
    half2 = a_rows.filter("id % 2 = 1").select("value")
    def counts(df, name):
        return (
            df.select(F.col("value").alias("v"))
            .groupBy("v")
            .agg(F.count(F.lit(1)).alias(name))
        )
    merged_a = (
        counts(half1, "n_a")
        .unionByName(counts(half2, "n_a"))
        .groupBy("v")
        .agg(F.sum("n_a").alias("n_a"))
    )
    got = ks_from_counts(merged_a, counts(b, "n_b")).collect()[0]
    assert (got.ks_d, got.at_value, got.n_a, got.n_b) == (
        whole.ks_d, whole.at_value, whole.n_a, whole.n_b,
    )


def test_score_calibrate_rank_semantics(spark):
    from flask_data_pipes_spark.operators.corpus import score_calibrate

    rows = [
        ("s1", "a", 0.9), ("s1", "b", 0.5), ("s1", "c", 0.1),
        ("s2", "x", 0.11), ("s2", "y", 0.12),  # low raw scores ...
    ]
    df = spark.createDataFrame(rows, "source string, doc string, score double")
    out = {r.doc: r.calibrated for r in score_calibrate(df, "score", "source").collect()}
    # per-source percentile rank: (rank-1)/(n-1)
    assert out["c"] == 0.0 and out["b"] == 0.5 and out["a"] == 1.0
    # cross-source comparability: s2's best doc calibrates to 1.0 even
    # though its raw score is below every s1 doc — the whole point
    assert out["y"] == 1.0 and out["x"] == 0.0


def test_retrieval_metrics_duplicated_relevance_rows(spark):
    """Regression pin for the round-9 relevance-dedup fix
    (similarity.py retrieval_metrics): duplicate (query, id) ground-
    truth rows must not fan out the hits join (recall/nDCG > 1.0) or
    double-count n_rel. Metrics must equal the deduped-input run and
    stay <= 1.0."""
    from flask_data_pipes_spark.operators import similarity

    results = spark.createDataFrame(
        [("q1", "a", 1), ("q1", "b", 2), ("q1", "c", 3),
         ("q2", "x", 1), ("q2", "a", 2)],
        "qid string, vec_id string, rnk int",
    )
    clean = spark.createDataFrame(
        [("q1", "a"), ("q1", "b"), ("q2", "a"), ("q2", "z")],
        "qid string, vec_id string",
    )
    # every pair repeated 3x, plus one 5x-repeated hot pair
    dup = clean.union(clean).union(clean).union(
        spark.createDataFrame(
            [("q1", "a")] * 4, "qid string, vec_id string"
        )
    )
    want = {
        r.qid: r for r in similarity.retrieval_metrics(
            results, clean, k=3
        ).collect()
    }
    got = {
        r.qid: r for r in similarity.retrieval_metrics(
            results, dup, k=3
        ).collect()
    }
    assert set(got) == set(want) == {"q1", "q2"}
    for qid in got:
        g, w = got[qid], want[qid]
        # n_rel is DISTINCT-counted, metrics identical to the clean run
        assert g.n_rel == w.n_rel
        assert g.recall_at_k == w.recall_at_k <= 1.0
        assert g.mrr == w.mrr <= 1.0
        assert g.ndcg == w.ndcg <= 1.0
    assert got["q1"].n_rel == 2 and got["q1"].recall_at_k == 1.0
    assert got["q2"].n_rel == 2 and got["q2"].recall_at_k == 0.5


def test_bpe_merges_save_load_roundtrip_and_encode_parity(spark, tmp_path):
    from flask_data_pipes_spark.operators.bpe import (
        bpe_encode,
        bpe_train,
        merges_load,
        merges_save,
    )

    docs = spark.createDataFrame(
        [(1, "low low lowest"), (2, "newer newest new"), (3, "wider widely")],
        "doc_id long, text string",
    )
    merges = bpe_train(docs, n_merges=6, min_count=1)
    path = str(tmp_path / "bpe_merges")
    merges_save(spark, merges, path)
    loaded = merges_load(spark, path)
    assert loaded == [(a, b, c) for a, b, c in merges]  # rank order kept
    a = sorted(map(tuple, bpe_encode(docs, merges).collect()))
    b = sorted(map(tuple, bpe_encode(docs, loaded).collect()))
    assert a == b
