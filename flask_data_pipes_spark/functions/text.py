"""Text-analysis operators for LLM data pipelines (SURVEY.md §2.9).

All hot-path ops are pure Column expressions (JVM, codegen) — no Python
UDFs. Each has an exact ANSI-SQL twin (see plans/catalog.py oracles) so
the DuckDB correctness gate hash-matches.

Scale posture: these run per-row with no shuffle; at 100 TB they are
embarrassingly parallel map work whose cost is dominated by the scan, so
keeping them JVM-side (≈10-100x over Python UDFs) is the whole game.
"""

from __future__ import annotations

from typing import Union

from pyspark.sql import Column
from pyspark.sql import functions as F

__all__ = [
    "whitespace_tokens",
    "token_count",
    "bpe_ish_token_count",
    "char_ngrams",
    "word_shingles",
    "md5_long",
    "md5_long56",
    "doc_fingerprint",
    "rolling_fingerprint",
    "stopword_ratio",
    "alpha_ratio",
    "punct_ratio",
    "mean_word_len",
    "quality_score",
    "detect_language",
    "chunk_clean",
    "unicode_clean",
    "UNICODE_STRIP_PATTERN",
    "encoding_noise",
    "script_profile",
    "pseudo_weights",
    "hashed_linear_score",
    "STOPWORDS",
]

ColumnOrName = Union[Column, str]


def _col(c: ColumnOrName) -> Column:
    return c if isinstance(c, Column) else F.col(c)


# Per-language function-word lists for the n-gram/stopword language-ID
# heuristic. Short, high-frequency, orthographically distinctive words.
STOPWORDS = {
    "en": ["the", "and", "of", "to", "in", "is", "that", "it", "for", "with"],
    "de": ["der", "die", "und", "das", "ist", "nicht", "ein", "mit", "von", "zu"],
    "fr": ["le", "la", "les", "et", "est", "pas", "pour", "que", "une", "dans"],
    "es": ["el", "la", "los", "y", "es", "no", "por", "que", "una", "con"],
}


def whitespace_tokens(c: ColumnOrName) -> Column:
    """Whitespace tokenization → array<string>; empty/blank → empty array."""
    c = _col(c)
    trimmed = F.trim(c)
    return F.when(
        trimmed.isNull() | (trimmed == ""), F.array().cast("array<string>")
    ).otherwise(F.split(trimmed, r"\s+", -1))


def token_count(c: ColumnOrName) -> Column:
    """Whitespace token count (bigint)."""
    return F.size(whitespace_tokens(c)).cast("long")


def bpe_ish_token_count(c: ColumnOrName) -> Column:
    """BPE-ish token estimate: count of word-piece matches under a
    GPT-2-style pre-tokenizer regex (word / number / punct runs).

    regexp_count is JVM-side; the pattern approximates a BPE
    pre-tokenizer's splits (letters runs, digit runs, non-space symbol
    runs), a standard proxy when no tokenizer model is shippable.
    """
    c = _col(c)
    pat = r"[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]"
    return F.coalesce(F.regexp_count(c, F.lit(pat)), F.lit(0)).cast("long")


def _offsets(count: Column) -> Column:
    """1..count as array<int>; empty when count < 1. A bare
    `sequence(1, count)` counts DOWN for count < 1 (`sequence(1, 0)` is
    [1, 0]), which would shingle short input. Matches the oracles'
    `range(1, count + 1)`."""
    return F.when(count >= 1, F.sequence(F.lit(1), count)).otherwise(
        F.array().cast("array<int>")
    )


def char_ngrams(c: ColumnOrName, n: int = 5) -> Column:
    """Character n-gram (shingle) array over the lowercased text.

    Built-ins only: sequence over offsets + transform/substring.
    Empty/short/null text → empty array. The lambda body embeds
    `lower(c)` and higher-order lambdas get no subexpression
    elimination, so each shingle re-lowers the document: per-row work
    is O(len²). Hot paths shingle with an explode over the offsets
    instead (see operators.dedup.minhash_bands).
    """
    c = F.lower(_col(c))
    return F.transform(
        _offsets(F.length(c) - F.lit(n - 1)),
        lambda i: F.substring(c, i, n),
    )


def word_shingles(
    c: ColumnOrName, k: int = 3, toks: "Column | None" = None
) -> Column:
    """Word k-shingles (space-joined) for n-gram Jaccard dedup; fewer
    than k tokens → empty array.

    `toks` (pre-computed lowered whitespace tokens, ALREADY PROJECTED to
    a column) stages the tokenization once: without it the whole
    `split(trim(lower(text)))` tree sits inside the per-index lambda and
    re-tokenizes the document once per shingle — O(tokens × len) per
    row."""
    if toks is None:
        toks = whitespace_tokens(F.lower(_col(c)))
    return F.transform(
        _offsets(F.size(toks) - F.lit(k - 1)),
        lambda i: F.array_join(F.slice(toks, i, k), " "),
    )


def md5_long(c: ColumnOrName, seed: int = 0) -> Column:
    """Deterministic 60-bit integer hash: first 15 hex chars of
    md5(seed || value) → bigint.

    Chosen over xxhash64/murmur because DuckDB can reproduce it exactly
    (``('0x' || substr(md5(s),1,15))::bigint``), making every
    hash-based operator (minhash, simhash, fingerprint, exact-dup) oracle
    -checkable. 60 bits keeps it positive in both engines.
    """
    s = F.concat(F.lit(str(seed) + "|"), _col(c).cast("string"))
    return F.conv(F.substring(F.md5(s), 1, 15), 16, 10).cast("long")


def md5_long56(c: ColumnOrName, seed: int = 0) -> Column:
    """56-bit md5 hash (14 hex chars). Narrower than md5_long so affine
    combinations h1 + i*h2 (minhash's k-hash family from 2 base hashes)
    stay far below int64 overflow — ANSI mode would error on overflow,
    and DuckDB must agree bit-for-bit."""
    s = F.concat(F.lit(str(seed) + "|"), _col(c).cast("string"))
    return F.conv(F.substring(F.md5(s), 1, 14), 16, 10).cast("long")


def doc_fingerprint(c: ColumnOrName, toks: "Column | None" = None) -> Column:
    """Document fingerprint: 60-bit hash of whitespace-normalized,
    lowercased text (rolling-hash-equivalent canonical form). `toks` as
    in [`stopword_ratio`]."""
    if toks is None:
        toks = whitespace_tokens(F.lower(_col(c)))
    return md5_long(F.array_join(toks, " "))


def prefix_fingerprint(c: ColumnOrName, n_tokens: int = 8) -> Column:
    """Coarse head-of-document fingerprint: 60-bit hash of the first
    `n_tokens` canonical tokens. Documents that share an opening (mirror
    pages, syndicated feeds, templated boilerplate with varying tails)
    collide here while full-text fingerprints don't — the standard
    first-pass key for incremental batch-vs-corpus dedup."""
    head = F.slice(whitespace_tokens(F.lower(_col(c))), 1, n_tokens)
    return md5_long(F.array_join(head, " "))


ROLLING_BASE = 1000003
ROLLING_MOD = (1 << 31) - 1


def rolling_fingerprint(c: ColumnOrName, toks: "Column | None" = None) -> Column:
    """Polynomial rolling hash over whitespace tokens: fold
    acc = (acc * BASE + h(token)) mod 2^31-1 with the first token's
    hash as the seed — order-sensitive, unlike doc_fingerprint's
    bag-of-text hash, so token reorderings get distinct fingerprints.

    Fold shape matches DuckDB list_reduce (first element = initial
    accumulator, no init argument in 1.0) so the oracle is exact.
    Bounds: acc < 2^31, BASE < 2^20, token hash reduced mod 2^31-1
    → every intermediate < 2^52, overflow-free under ANSI.
    NULL for empty/blank text (no tokens to fold).

    Fold shape (optimization round 15): folding from a 0 seed over the
    WHOLE hash array is value-identical to seeding with the first
    element ((0·BASE + h₁) mod M = h₁ because 0 ≤ h₁ < M already), and
    it references the md5-per-token `hs` array ONCE instead of three
    times (slice arg + init element + size). Higher-order transforms
    are CodegenFallback — each textual reference re-ran the whole
    md5-per-token pass per row, so this is a 3×→1× kernel cut with a
    byte-identical result (the list_reduce oracle is untouched).
    """
    toks = whitespace_tokens(F.lower(_col(c))) if toks is None else toks
    hs = F.transform(toks, lambda t: md5_long(t, 3) % F.lit(ROLLING_MOD))
    folded = F.aggregate(
        hs,
        F.lit(0).cast("long"),
        lambda acc, x: (acc * F.lit(ROLLING_BASE) + x) % F.lit(ROLLING_MOD),
    )
    return F.when(F.size(toks) > 0, folded).otherwise(F.lit(None).cast("long"))


def stopword_ratio(
    c: ColumnOrName, lang: str = "en", toks: "Column | None" = None
) -> Column:
    """Fraction of whitespace tokens that are (lang) stopwords.
    `toks` (pre-computed lowered whitespace tokens, ALREADY PROJECTED to
    a column) lets fused pipelines tokenize once — see llm_corpus_clean.
    """
    if toks is None:
        toks = whitespace_tokens(F.lower(_col(c)))
    sw = F.array(*[F.lit(w) for w in STOPWORDS[lang]])
    hits = F.size(F.filter(toks, lambda t: F.array_contains(sw, t)))
    return F.when(F.size(toks) > 0, hits / F.size(toks)).otherwise(F.lit(0.0))


_ASCII_LETTERS = "ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz"
# the regex class [!-/:-@\[-`{-~] spelled out — translate() is a per-char
# table lookup, ~an order of magnitude cheaper than a regex NFA scan,
# and removes exactly the same characters (oracle twins keep the regex).
_ASCII_PUNCT = "".join(
    chr(i)
    for r in ((33, 48), (58, 65), (91, 97), (123, 127))
    for i in range(*r)
)


def alpha_ratio(c: ColumnOrName) -> Column:
    """Fraction of characters that are ASCII letters."""
    c = _col(c)
    n = F.length(c)
    letters = n - F.length(F.translate(c, _ASCII_LETTERS, ""))
    return F.when(n > 0, letters / n).otherwise(F.lit(0.0))


def punct_ratio(c: ColumnOrName) -> Column:
    """Fraction of characters that are punctuation."""
    c = _col(c)
    n = F.length(c)
    punct = F.length(c) - F.length(F.translate(c, _ASCII_PUNCT, ""))
    return F.when(n > 0, punct / n).otherwise(F.lit(0.0))


def mean_word_len(c: ColumnOrName, toks: "Column | None" = None) -> Column:
    """Mean whitespace-token length (0.0 for empty text). `toks` as in
    [`stopword_ratio`] but over RAW (un-lowered) text — lowercasing can
    change codepoint counts for some scripts, so callers staging a
    shared column must stage the raw token array here."""
    if toks is None:
        toks = whitespace_tokens(_col(c))
    total = F.aggregate(
        toks, F.lit(0).cast("long"), lambda acc, t: acc + F.length(t)
    )
    return F.when(F.size(toks) > 0, total / F.size(toks)).otherwise(F.lit(0.0))


# entropy alphabet: lowercase letters, digits, space — everything else
# pools into one "other" bucket so the distribution is total
_ENTROPY_ALPHABET = "abcdefghijklmnopqrstuvwxyz0123456789 "


def char_entropy(c: ColumnOrName) -> Column:
    """Shannon entropy (bits) of the lowercased character distribution
    over [a-z0-9 space] + one other-bucket — the Gopher/CCNet-style
    gibberish signal (base64 blobs and key-mash score far from prose's
    ~4.1 bits; repeated-char junk scores near 0).

    Zero shuffle, zero explode, pure codegen: each symbol's count is
    `length(s) - length(translate(s, sym, ''))` (a per-char table
    lookup, no regex), entropy is a 38-term arithmetic fold. The same
    counts are SQL-twin-expressible so the gate can hash-check it.
    Empty text → 0.0."""
    s = F.lower(_col(c))
    n = F.length(s)

    def count(sym: str) -> Column:
        return n - F.length(F.translate(s, sym, ""))

    counts = [count(ch) for ch in _ENTROPY_ALPHABET]
    other = n - sum(counts[1:], counts[0])
    terms = None
    for cnt in counts + [other]:
        p = cnt / n
        t = F.when(cnt > 0, -p * F.log2(p)).otherwise(F.lit(0.0))
        terms = t if terms is None else terms + t
    return F.when(n > 0, terms).otherwise(F.lit(0.0))


def quality_score(c: ColumnOrName, toks: "Column | None" = None) -> Column:
    """Deterministic heuristic quality score in [0,1]:
    0.3*alpha_ratio + 0.3*stopword-signal + 0.2*length-signal +
    0.2*(1-punct_ratio). Mirrors C4/Gopher-style length/punct/stopword
    filters as one scalar; SQL-twin-exact. `toks` as in
    [`stopword_ratio`] — share one tokenization across fused signals.
    """
    c = _col(c)
    return quality_score_from(
        alpha_ratio(c), punct_ratio(c), stopword_ratio(c, toks=toks), F.length(c)
    )


def quality_score_from(
    alpha: Column, punct: Column, sw_ratio: Column, length: Column
) -> Column:
    """[`quality_score`]'s combiner over ALREADY-PROJECTED signal
    columns — same term order, so the doubles are bit-identical. Lets
    fused pipelines stage the signals once and reference them from both
    the output projection and a filter without re-evaluating the
    tokenize/filter subtrees (see llm_quality / llm_weighted_sample)."""
    len_signal = F.least(length.cast("double") / F.lit(500.0), F.lit(1.0))
    sw_signal = F.least(sw_ratio * F.lit(4.0), F.lit(1.0))
    return (
        F.lit(0.3) * alpha
        + F.lit(0.3) * sw_signal
        + F.lit(0.2) * len_signal
        + F.lit(0.2) * (F.lit(1.0) - punct)
    )


def chunk_tokens(
    c: ColumnOrName, chunk_size: int = 16, toks: "Column | None" = None
) -> Column:
    """Non-overlapping `chunk_size`-token chunks of the whitespace token
    stream (array<array<string>>; blank text → one empty chunk). The
    [`chunk_clean`] chunking, exposed so pipelines can STAGE the chunk
    array through a projection: chunk_clean references it 6 times
    (census counters + kept text), and an inline array re-runs the
    tokenize+slice work per reference — staged, each reference is a
    bound-attribute read (round 15)."""
    if toks is None:
        toks = whitespace_tokens(_col(c))
    starts = F.sequence(
        F.lit(1), F.greatest(F.size(toks), F.lit(1)), F.lit(chunk_size)
    )
    return F.transform(starts, lambda s: F.slice(toks, s, chunk_size))


def chunk_clean(
    c: ColumnOrName,
    chunk_size: int = 16,
    min_tokens: int = 8,
    min_distinct_ratio: float = 0.6,
    max_stop_ratio: float = 0.3,
    stopwords: "tuple[str, ...]" = ("a", "the"),
    chunks: "Column | None" = None,
) -> Column:
    """CCNet-style segment cleaning, adapted to fixed token chunks
    (CCNet filters per *line*; this corpus has no line boundaries):
    split into non-overlapping `chunk_size`-token chunks, drop chunks
    that are (in precedence order) too short (< `min_tokens`),
    repetitive (distinct-token ratio < `min_distinct_ratio`), or
    stopword-heavy (> `max_stop_ratio`), and re-join the survivors.

    Returns struct(n_chunks, n_short, n_repetitive, n_stoppy, n_kept,
    clean_text) with n_chunks = n_short + n_repetitive + n_stoppy +
    n_kept (the precedence makes the counters a partition).

    Scale: the whole operator is higher-order array expressions
    (transform/filter/flatten) inside one projection — zero shuffle,
    zero explode; it scales with scan bandwidth exactly like a map.
    """
    sw = F.array(*[F.lit(w) for w in stopwords])
    if chunks is None:
        chunks = chunk_tokens(c, chunk_size)

    def short(ch):
        return F.size(ch) < min_tokens

    def repetitive(ch):
        n = F.size(ch)
        return ~short(ch) & (F.size(F.array_distinct(ch)) / n < min_distinct_ratio)

    def stoppy(ch):
        n = F.size(ch)
        sr = F.size(F.filter(ch, lambda t: F.array_contains(sw, t))) / n
        return ~short(ch) & ~repetitive(ch) & (sr > max_stop_ratio)

    def kept(ch):
        return ~short(ch) & ~repetitive(ch) & ~stoppy(ch)

    def count_where(pred):
        return F.size(F.filter(chunks, pred)).cast("long")

    return F.struct(
        F.size(chunks).cast("long").alias("n_chunks"),
        count_where(short).alias("n_short"),
        count_where(repetitive).alias("n_repetitive"),
        count_where(stoppy).alias("n_stoppy"),
        count_where(kept).alias("n_kept"),
        F.array_join(F.flatten(F.filter(chunks, kept)), " ").alias("clean_text"),
    )


def detect_language(
    c: ColumnOrName,
    max_tokens: "int | None" = None,
    toks: "Column | None" = None,
) -> Column:
    """Stopword-overlap language ID over STOPWORDS languages; returns the
    lang code with the most token hits ('und' if zero hits everywhere).
    Ties break by language-code order (deterministic, SQL-expressible).

    `max_tokens=w` scores only the first w tokens — the production
    language-ID pattern (fasttext-style detectors read the first 1-2 KB):
    per-document cost becomes O(w), independent of length, and accuracy
    barely moves because language is a document-global property.

    Expression shape (optimization round 15): the argmax is the FLAT
    `greatest` + first-match WHEN chain — the same form the llm_langid
    oracle has always used — so each language's hit count appears O(1)
    times in the final expression. The previous fold of nested
    `when(better, ...)` pairs duplicated every earlier language's
    hit-count subtree inside both running columns, growing the tree
    ~2^L-fold; higher-order `filter(...)` is CodegenFallback (no
    whole-stage codegen, and common-subexpression elimination does not
    reliably extract lambda-bearing subtrees), so each textual copy was
    re-evaluated per row — and worse wherever an outer filter pushdown
    inlined the whole alias (llm_corpus_clean's gate). Semantics are
    identical: first language in sorted code order whose hit count
    equals the max wins; zero hits everywhere → 'und'.
    """
    if toks is None:
        toks = whitespace_tokens(F.lower(_col(c)))
    if max_tokens is not None:
        toks = F.slice(toks, 1, max_tokens)
    return language_argmax(language_hits(toks))


def language_hits(toks: Column) -> "list[Column]":
    """Per-language stopword hit counts over a (lowered, optionally
    sliced) token array, in sorted language-code order. Exposed
    separately from [`detect_language`] so fused pipelines can STAGE the
    counts through a projection (each count is one interpreted filter
    pass; the argmax references every count several times, so computing
    the argmax over staged integer columns instead of inline count
    subtrees cuts ~5 filter passes per language to 1 — see
    llm_corpus_clean)."""
    out = []
    for lang in sorted(STOPWORDS):
        sw = F.array(*[F.lit(w) for w in STOPWORDS[lang]])
        out.append(F.size(F.filter(toks, lambda t: F.array_contains(sw, t))))
    return out


def language_argmax(hit_cols: "list[Column]") -> Column:
    """Flat greatest + first-match WHEN chain over [`language_hits`]
    columns (sorted language-code order — the exact llm_langid oracle
    form): first language at the max wins, zero hits → 'und'."""
    langs = sorted(STOPWORDS)
    best = F.greatest(*hit_cols) if len(hit_cols) > 1 else hit_cols[0]
    det = F.when(best <= 0, F.lit("und"))
    for lang, hits in zip(langs[:-1], hit_cols[:-1]):
        det = det.when(hits == best, F.lit(lang))
    return det.otherwise(F.lit(langs[-1]))


# Characters that almost never occur in clean text but are the
# signature of CP1252-decoded-as-UTF8 mojibake ("â€™", "Ã©", ...) or
# failed decodes (U+FFFD). Counted per CHARACTER via translate — the
# same zero-regex table-lookup trick as char_entropy, so the whole
# signal stays inside whole-stage codegen and has an exact SQL twin.
_MOJIBAKE_CHARS = "�ÃÂâ€™œ¿½"
_CTRL_CHARS = "".join(
    chr(i) for i in range(0x00, 0x20) if chr(i) not in "\t\n\r"
)
_ASCII_CHARS = "".join(chr(i) for i in range(0x20, 0x7F)) + "\t\n\r"


def encoding_noise(c: ColumnOrName) -> Column:
    """Encoding-noise signal → struct(n_replacement, n_mojibake,
    n_ctrl, nonascii_ratio, noise_ratio): the cheap pre-filter that
    catches the three classic corpus poisons — U+FFFD from lossy
    decodes, CP1252/UTF-8 double-decode mojibake, and stray control
    bytes — before they reach tokenization (where they inflate vocab
    and hapax counts; see operators/corpus.py::vocab_stats).

    noise_ratio = (replacement + mojibake + ctrl chars) / length; the
    usual production gate drops docs above ~0.01. Zero shuffle, zero
    regex: every count is `length(s) - length(translate(s, set, ''))`.
    Empty/NULL text → all-zero struct."""
    s = _col(c)
    n = F.length(s)

    def count_of(chars: str) -> Column:
        return n - F.length(F.translate(s, chars, ""))

    n_repl = count_of("�")
    n_moji = count_of(_MOJIBAKE_CHARS) - n_repl
    n_ctrl = count_of(_CTRL_CHARS)
    # translate drops the ASCII set, so nonascii = remaining length
    n_nonascii = F.length(F.translate(s, _ASCII_CHARS, ""))
    denom = F.greatest(n, F.lit(1))
    zero = F.lit(0).cast("long")
    return F.when(
        s.isNull() | (n == 0),
        F.struct(
            zero.alias("n_replacement"),
            zero.alias("n_mojibake"),
            zero.alias("n_ctrl"),
            F.lit(0.0).alias("nonascii_ratio"),
            F.lit(0.0).alias("noise_ratio"),
        ),
    ).otherwise(
        F.struct(
            n_repl.cast("long").alias("n_replacement"),
            n_moji.cast("long").alias("n_mojibake"),
            n_ctrl.cast("long").alias("n_ctrl"),
            F.round(n_nonascii.cast("double") / denom, 6).alias(
                "nonascii_ratio"
            ),
            F.round(
                (n_repl + n_moji + n_ctrl).cast("double") / denom, 6
            ).alias("noise_ratio"),
        )
    )


# Unicode scripts profiled by script_profile. Alphabetical — the order
# is the deterministic dominance tiebreak, mirrored in the SQL twin.
_SCRIPTS = ("arabic", "cyrillic", "greek", "han", "hangul", "latin")


def script_profile(c: ColumnOrName) -> Column:
    """Writing-system profile → struct(n_arabic, n_cyrillic, n_greek,
    n_han, n_hangul, n_latin, dominant): per-script character counts
    plus the dominant script (most characters; ties break alphabetically,
    'none' when no profiled script appears). The router signal a
    multilingual corpus pipeline needs BEFORE language-ID — langid
    vocabularies are per-script, and mixed-script docs (spam, embedded
    code, mojibake) deserve their own lane.

    JVM regexp_count with Java script classes (\\p{IsCyrillic} ...);
    the SQL twin uses RE2's \\p{Cyrillic} — verified to agree on all
    six scripts. Per-row, zero shuffle."""
    s = _col(c)
    counts = {
        name: F.coalesce(
            F.regexp_count(s, F.lit(r"\p{Is%s}" % name.capitalize())),
            F.lit(0),
        )
        for name in _SCRIPTS
    }
    top = F.greatest(*counts.values())
    dominant = F.lit("none")
    # build the when-chain in REVERSE alphabetical order so the
    # earliest alphabetical script wins ties (last when() applied
    # first in the fold below)
    for name in reversed(_SCRIPTS):
        dominant = F.when((top > 0) & (counts[name] == top), name).otherwise(
            dominant
        )
    return F.struct(
        *[counts[n].cast("long").alias(f"n_{n}") for n in _SCRIPTS],
        dominant.alias("dominant"),
    )


def pseudo_weights(n_features: int, seed: int = 0) -> list:
    """Deterministic pseudo-random weight table for
    `hashed_linear_score`, as EXACT BINARY FRACTIONS k/1024 in [-1, 1]:
    every weight is a multiple of 2^-10, so double-precision sums of
    (corpus-realistic) thousands of terms never round — the fold is
    order-independent and bit-identical cross-engine WITHOUT the
    decimal-summation dance. Stand-in for trained classifier weights;
    production swaps in the real vector, same plan."""
    import hashlib

    out = []
    for j in range(n_features):
        h = int(
            hashlib.md5(f"{seed}|{j}".encode()).hexdigest()[:15], 16
        )
        out.append(((h % 2049) - 1024) / 1024.0)
    return out


def hashed_linear_score(
    c: ColumnOrName,
    weights: list,
    seed: int = 29,
    bias: float = 0.0,
    toks: "Column | None" = None,
) -> Column:
    """fastText-style linear text classifier score as ONE codegen
    expression: p = sigmoid(bias + mean of w[h(token) % D]) over
    whitespace tokens — the hashed bag-of-words scoring used by
    DCLM/fastText-quality-filter pipelines, with the weight table
    embedded as a literal array. No explode, no shuffle, no UDF: the
    per-document fold runs inside whole-stage codegen, so scoring
    100 TB costs exactly one scan.

    Weights from `pseudo_weights` (or any list of exact binary
    fractions) keep the double fold order-independent; the sigmoid is
    rounded to 6 decimals to absorb libm exp() ulps. NULL for
    blank/empty docs (no tokens to score)."""
    if toks is None:
        toks = whitespace_tokens(F.lower(_col(c)))
    D = len(weights)
    wlit = F.array(*[F.lit(float(w)) for w in weights])
    term = lambda t: F.element_at(  # noqa: E731
        wlit, (md5_long(t, seed) % F.lit(D) + 1).cast("int")
    )
    total = F.aggregate(
        toks, F.lit(0.0), lambda acc, t: acc + term(t)
    )
    n = F.size(toks)
    z = F.lit(bias) + total / n
    return F.when(
        n > 0, F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-z)), 6)
    )


# characters unicode_clean strips: C0/C1 controls except \t\n\r, DEL,
# zero-width + bidi formatting marks, BOM, word-joiner. Written with
# \x{...} escapes, the one class syntax Java regex (Spark) and RE2
# (DuckDB) both accept — keep the two engines' patterns IDENTICAL.
UNICODE_STRIP_PATTERN = (
    r"[\x00-\x08\x0B\x0C\x0E-\x1F\x7F"
    r"\x{0080}-\x{009F}\x{200B}-\x{200F}\x{202A}-\x{202E}"
    r"\x{2060}\x{FEFF}]"
)


def unicode_clean(c: ColumnOrName) -> Column:
    """Strip invisible sabotage characters — zero-width spaces/joiners,
    bidi override marks, BOMs, C0/C1 controls (tab/newline/CR kept) —
    the standard C4/CCNet sanitation step before tokenization:
    zero-width chars silently split tokens, bidi overrides reorder
    rendered text, and controls break downstream parsers. Null-safe;
    pure codegen (one regexp_replace), no UDF."""
    return F.regexp_replace(_col(c), UNICODE_STRIP_PATTERN, "")
