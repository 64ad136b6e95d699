"""Unigram-LM (SentencePiece-style) tokenizer training — the companion
of `bpe.py` and the algorithm most production LLM tokenizers actually
use (Kudo 2018, "Subword Regularization"; the SentencePiece `unigram`
model). The reference (`/root/reference`) has no tokenizer at all
(SURVEY.md §2); this belongs to the engine's LLM-pipeline superset next
to `bpe_train`/`bpe_encode`.

Same corpus-scale economy as BPE: everything trains on the DISTINCT
word-frequency table (`bpe.word_counts` — Heaps-bounded), never the
corpus. The EM loop is hard (Viterbi) EM:

  seed    one substring-count aggregation over the word table (pure
          Catalyst: nested transform + flatten + groupBy), top-N by
          count plus every single character — collected to the driver
          (≤ seed_size rows, the vocabulary IS driver-sized state).
  E-step  broadcast {piece: logprob}; Viterbi-segment each DISTINCT
          word (Arrow-batched pandas UDF, O(len·max_piece_len) dict
          lookups per word); explode + groupBy piece → expected counts
          weighted by word frequency. One vocabulary-sized aggregation
          per round; the collect is ≤ vocab_size rows — the algorithm's
          inherent sync point, exactly like BPE's argmax.
  M-step  driver-side renormalize; PRUNE by expected count: keep all
          single characters (coverage guarantee) plus the top pieces by
          count up to vocab_size, drop pieces under min_count.

Hard (Viterbi) EM is the DEFAULT: deterministic (integer expected
counts, no float-posterior ties), parity-testable round-for-round
against a pure-Python reference, golden-pinnable. The paper-faithful
FULL-LATTICE E-step (forward-backward posterior expected counts,
`em="full"` / `unigram_estep_posterior_counts`) shares the same
distributed shape — one Arrow pass + one vocabulary-keyed aggregation
— and is reference-tested against exhaustive segmentation enumeration;
its float counts make it tolerance-tested rather than pinned.

Scale: a 100 TB corpus is scanned ONCE (word_counts). Every EM round
costs one narrow Python pass over the distinct-word table plus a
vocabulary-keyed aggregation — cost ∝ vocabulary, not corpus, and the
broadcast vocabulary is ≤ a few MB at a 100k-piece target. Encoding
(`unigram_encode`) joins per-word token counts back to the corpus: a
plain shuffle hash join on `word` that survives a 10^8-word vocabulary.
"""

from __future__ import annotations

import math
from typing import Dict, List, Optional, Tuple

from pyspark.sql import DataFrame, functions as F

from .bpe import byte_fallback_tokens, word_counts

__all__ = [
    "seed_vocab",
    "viterbi_segment",
    "sample_segment",
    "posterior_piece_counts",
    "word_loglik",
    "segment_word_table",
    "sample_segment_word_table",
    "unigram_estep_counts",
    "unigram_estep_posterior_counts",
    "unigram_train",
    "unigram_encode",
    "piece_id_table",
    "unigram_encode_ids",
    "unigram_perplexity",
    "vocab_save",
    "vocab_load",
    "unigram_sample_encode_ids",
]

# Log-prob floor for characters absent from the vocabulary at encode
# time (unseen script at inference): worse than any trained piece so it
# is only used when nothing else covers the position.
UNK_LOGP = -100.0


def seed_vocab(
    words: DataFrame,
    max_piece_len: int = 6,
    seed_size: int = 2000,
) -> List[Tuple[str, int]]:
    """Seed vocabulary from the word-frequency table: every substring
    of length 1..max_piece_len of every distinct word, weighted by the
    word's corpus count; returns the top `seed_size` by (count desc,
    piece asc) UNIONED with every single character (characters are the
    coverage floor and are never pruned). Driver-resident result
    (≤ seed_size + alphabet rows).

    The substring explosion is pure Catalyst — a nested transform over
    start positions × lengths, flattened — so the only Spark cost is
    one word-table scan into a substring-keyed aggregation whose key
    space is the (Heaps-bounded) piece vocabulary.
    """
    if max_piece_len < 1:
        raise ValueError("max_piece_len must be >= 1")
    if seed_size < 1:
        raise ValueError("seed_size must be >= 1")
    w = F.col("word")
    n = F.length(w)
    # positions i=1..len, lengths l=1..min(max_piece_len, len-i+1)
    subs = F.flatten(
        F.transform(
            F.sequence(F.lit(1), n),
            lambda i: F.transform(
                F.sequence(
                    F.lit(1), F.least(F.lit(max_piece_len), n - i + 1)
                ),
                lambda l: F.substring(w, i, l),
            ),
        )
    )
    counts = (
        words.filter(n > 0)
        .select(F.col("cnt"), F.explode(subs).alias("piece"))
        .groupBy("piece")
        .agg(F.sum("cnt").alias("cnt"))
    )
    top = counts.orderBy(
        F.col("cnt").desc(), F.col("piece")
    ).limit(seed_size)
    chars = counts.filter(F.length("piece") == 1)
    rows = (
        top.unionByName(chars)
        .groupBy("piece")
        .agg(F.max("cnt").alias("cnt"))
        .collect()
    )
    return sorted(((r["piece"], r["cnt"]) for r in rows), key=lambda t: (-t[1], t[0]))


def viterbi_segment(
    word: str,
    logp: Dict[str, float],
    max_piece_len: int,
    byte_fallback: bool = False,
    specials=None,
) -> List[str]:
    """Pure-Python Viterbi segmentation of one word under a unigram LM:
    the piece sequence maximizing Σ logp(piece). Characters absent from
    the vocabulary fall back to UNK_LOGP single-char pieces, so every
    word is segmentable.

    With `byte_fallback`, those uncovered characters are then expanded
    to their `<0xNN>` UTF-8 byte pieces (SentencePiece's
    --byte_fallback), so NO out-of-vocabulary piece ever reaches the
    output — the path choice is unchanged (coverage decisions still
    score at UNK_LOGP; only the emitted pieces differ), which keeps
    train-time segmentation and the golden pins identical on covered
    text. A word in `specials` passes through as exactly one piece.

    Deterministic tie-break: candidate pieces are scanned LONGEST
    FIRST and a candidate replaces the incumbent only on a strictly
    greater score — equal-scoring segmentations resolve to the one
    using the longest piece at each boundary (scanning right to left).
    Parity with the distributed E-step is pinned round-for-round in
    tests against an independent reference implementation.
    """
    if specials and word in specials:
        return [word]
    n = len(word)
    if n == 0:
        return []
    NEG = float("-inf")
    best = [NEG] * (n + 1)
    back = [0] * (n + 1)  # start index of the piece ending at i
    best[0] = 0.0
    for i in range(1, n + 1):
        lo = max(0, i - max_piece_len)
        # longest candidate first: j ascending from lo
        for j in range(lo, i):
            piece = word[j:i]
            lp = logp.get(piece)
            if lp is None:
                if i - j == 1:
                    lp = UNK_LOGP  # unseen character fallback
                else:
                    continue
            score = best[j] + lp
            if score > best[i]:
                best[i] = score
                back[i] = j
    out: List[str] = []
    i = n
    while i > 0:
        j = back[i]
        out.append(word[j:i])
        i = j
    out.reverse()
    if byte_fallback:
        expanded: List[str] = []
        for p in out:
            # a piece outside the vocabulary is exactly an UNK-fallback
            # single character (multi-char candidates require a vocab hit)
            if p not in logp:
                expanded.extend(byte_fallback_tokens(p))
            else:
                expanded.append(p)
        return expanded
    return out


def sample_segment(
    word: str,
    logp: Dict[str, float],
    max_piece_len: int,
    alpha: float = 1.0,
    rng=None,
    byte_fallback: bool = False,
    specials=None,
) -> List[str]:
    """Subword-regularization sampling (Kudo 2018, §3.2): draw ONE
    segmentation of `word` with probability ∝ P(s)^α via
    forward-filtering / backward-sampling over the segmentation
    lattice — the training-time augmentation the unigram LM exists to
    enable (each epoch sees a different tokenization of the same
    text, which regularizes like token-level dropout).

    α is Kudo's smoothing exponent: α=1 samples the TRUE posterior
    over segmentations (chi-square-tested against exhaustive
    enumeration), α→∞ sharpens to the Viterbi path (property-tested),
    α→0 flattens toward uniform over all segmentations. Forward pass:
    fwd[i] = logsumexp_j(fwd[j] + α·logp(word[j:i])); backward pass
    samples each boundary j with probability
    exp(fwd[j] + α·lp - fwd[i]) — exact, no rejection.

    Coverage matches `viterbi_segment`: uncovered single characters
    participate at UNK_LOGP (and expand to <0xNN> byte pieces under
    `byte_fallback`); a word in `specials` passes through as one
    piece. `rng` is a `random.Random`; determinism is the CALLER's
    seed discipline (see `sample_segment_word_table`).
    """
    import random as _random

    if alpha <= 0:
        raise ValueError("alpha must be > 0 (α→0 is the uniform limit)")
    if specials and word in specials:
        return [word]
    n = len(word)
    if n == 0:
        return []
    if rng is None:
        rng = _random.Random(0)
    NEG = float("-inf")

    def lse(acc: float, x: float) -> float:
        if acc == NEG:
            return x
        if x == NEG:
            return acc
        m = acc if acc > x else x
        return m + math.log(math.exp(acc - m) + math.exp(x - m))

    def piece_lp(j: int, i: int):
        lp = logp.get(word[j:i])
        if lp is None and i - j == 1:
            lp = UNK_LOGP
        return lp

    fwd = [NEG] * (n + 1)
    fwd[0] = 0.0
    for i in range(1, n + 1):
        for j in range(max(0, i - max_piece_len), i):
            lp = piece_lp(j, i)
            if lp is not None and fwd[j] != NEG:
                fwd[i] = lse(fwd[i], fwd[j] + alpha * lp)
    out: List[str] = []
    i = n
    while i > 0:
        u = rng.random()
        acc = 0.0
        chosen = None
        lo = max(0, i - max_piece_len)
        for j in range(lo, i):
            lp = piece_lp(j, i)
            if lp is None or fwd[j] == NEG:
                continue
            acc += math.exp(fwd[j] + alpha * lp - fwd[i])
            if u < acc:
                chosen = j
                break
        if chosen is None:  # float round-off tail: take the last valid j
            for j in range(i - 1, lo - 1, -1):
                if piece_lp(j, i) is not None and fwd[j] != NEG:
                    chosen = j
                    break
        out.append(word[chosen:i])
        i = chosen
    out.reverse()
    if byte_fallback:
        expanded: List[str] = []
        for p in out:
            if p not in logp:
                expanded.extend(byte_fallback_tokens(p))
            else:
                expanded.append(p)
        return expanded
    return out


def sample_segment_word_table(
    words: DataFrame,
    logp: Dict[str, float],
    max_piece_len: int,
    alpha: float = 1.0,
    seed: int = 0,
    word_col: str = "word",
    byte_fallback: bool = False,
    specials=None,
    salt_col: Optional[str] = None,
) -> DataFrame:
    """Sample-segment a word table under a broadcast unigram LM: adds
    `pieces array<string>`, one α-sampled segmentation per row
    (`sample_segment`). DETERMINISTIC and partitioning-independent:
    each row's RNG is seeded from md5(seed | salt | word), so the same
    (word, seed) always draws the same segmentation regardless of
    executor count or row order — pass a different `seed` per epoch to
    resample (the standard subword-regularization schedule).

    By default rows are memoized per distinct word (one sample per
    word per seed — epoch-grain regularization over a DISTINCT word
    table, the Heaps-law economy). Pass `salt_col` (e.g. a doc id) to
    sample per OCCURRENCE instead; memoization then keys on
    (word, salt)."""
    import hashlib as _hashlib
    import random as _random

    import pandas as pd  # noqa: F401 — anchors the Arrow path

    spark = words.sparkSession
    b_logp = spark.sparkContext.broadcast(dict(logp))
    mpl = int(max_piece_len)
    a = float(alpha)
    sd = int(seed)
    bf = bool(byte_fallback)
    specs = frozenset(specials) if specials else None

    def one_factory(lp):
        def one(w, salt=""):
            h = _hashlib.md5(
                f"{sd}|{salt}|{w}".encode("utf-8")
            ).digest()
            rng = _random.Random(int.from_bytes(h[:8], "big"))
            return sample_segment(
                w, lp, mpl, alpha=a, rng=rng,
                byte_fallback=bf, specials=specs,
            )

        return one

    if salt_col is None:

        def seg(ws):
            one = one_factory(b_logp.value)
            memo: dict = {}

            def memo_one(w):
                t = memo.get(w)
                if t is None:
                    t = one(w)
                    memo[w] = t
                return t

            return ws.map(memo_one)

        from pyspark.sql.functions import pandas_udf

        pieces = pandas_udf(seg, "array<string>")(F.col(word_col))
        return words.withColumn("pieces", pieces)

    def seg2(it):
        import pandas as pd

        one = one_factory(b_logp.value)
        memo: dict = {}

        def memo_one(w, s):
            key = (w, s)
            t = memo.get(key)
            if t is None:
                t = one(w, s)
                memo[key] = t
            return t

        for pdf in it:
            pdf = pdf.copy()
            pdf["pieces"] = [
                memo_one(w, str(s))
                for w, s in zip(pdf[word_col], pdf[salt_col])
            ]
            yield pdf

    fields = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in words.schema.fields
    )
    return words.mapInPandas(seg2, schema=f"{fields}, pieces array<string>")


def posterior_piece_counts(
    word: str, logp: Dict[str, float], max_piece_len: int
) -> Dict[str, float]:
    """Pure-Python FULL-LATTICE E-step for one word: expected piece
    counts under the posterior over ALL segmentations (forward-backward
    on the segmentation lattice) — SentencePiece's paper-faithful
    E-step, where hard EM uses only the Viterbi path.

    count(piece at [j, i)) = exp(fwd[j] + logp(piece) + bwd[i] - Z)
    with fwd/bwd the log-sum-exp prefix/suffix totals and Z = fwd[n]
    the word's total likelihood. Unseen single characters participate
    with UNK_LOGP, matching `viterbi_segment`'s coverage rule. Returns
    {} for the empty word.
    """
    n = len(word)
    if n == 0:
        return {}
    NEG = float("-inf")

    def lse(acc: float, x: float) -> float:
        if acc == NEG:
            return x
        if x == NEG:
            return acc
        m = acc if acc > x else x
        return m + math.log(math.exp(acc - m) + math.exp(x - m))

    def piece_lp(j: int, i: int):
        piece = word[j:i]
        lp = logp.get(piece)
        if lp is None and i - j == 1:
            lp = UNK_LOGP
        return piece, lp

    fwd = [NEG] * (n + 1)
    fwd[0] = 0.0
    for i in range(1, n + 1):
        for j in range(max(0, i - max_piece_len), i):
            _, lp = piece_lp(j, i)
            if lp is not None and fwd[j] != NEG:
                fwd[i] = lse(fwd[i], fwd[j] + lp)
    bwd = [NEG] * (n + 1)
    bwd[n] = 0.0
    for j in range(n - 1, -1, -1):
        for i in range(j + 1, min(n, j + max_piece_len) + 1):
            _, lp = piece_lp(j, i)
            if lp is not None and bwd[i] != NEG:
                bwd[j] = lse(bwd[j], lp + bwd[i])
    z = fwd[n]
    out: Dict[str, float] = {}
    if z == NEG:  # unreachable given the UNK fallback, kept defensive
        return out
    for j in range(n):
        for i in range(j + 1, min(n, j + max_piece_len) + 1):
            piece, lp = piece_lp(j, i)
            if lp is None or fwd[j] == NEG or bwd[i] == NEG:
                continue
            out[piece] = out.get(piece, 0.0) + math.exp(
                fwd[j] + lp + bwd[i] - z
            )
    return out


def word_loglik(
    word: str, logp: Dict[str, float], max_piece_len: int
) -> float:
    """log P(word) under the unigram LM — the forward pass's total
    over ALL segmentations (the Z `posterior_piece_counts` normalizes
    by). The per-word kernel for corpus perplexity scoring, and what
    the EM-monotonicity property test sums: full EM must not decrease
    Σ cnt·log P(word) between rounds when no pruning fires."""
    n = len(word)
    if n == 0:
        return 0.0
    NEG = float("-inf")

    def lse(acc: float, x: float) -> float:
        if acc == NEG:
            return x
        if x == NEG:
            return acc
        m = acc if acc > x else x
        return m + math.log(math.exp(acc - m) + math.exp(x - m))

    fwd = [NEG] * (n + 1)
    fwd[0] = 0.0
    for i in range(1, n + 1):
        for j in range(max(0, i - max_piece_len), i):
            lp = logp.get(word[j:i])
            if lp is None and i - j == 1:
                lp = UNK_LOGP
            if lp is not None and fwd[j] != NEG:
                fwd[i] = lse(fwd[i], fwd[j] + lp)
    return fwd[n]


def segment_word_table(
    words: DataFrame,
    logp: Dict[str, float],
    max_piece_len: int,
    word_col: str = "word",
    byte_fallback: bool = False,
    specials=None,
) -> DataFrame:
    """Viterbi-segment a DISTINCT-word table under a broadcast unigram
    LM: adds `pieces array<string>`. Python cost ∝ vocabulary (the
    Heaps-law economy `encode_word_table` proved for BPE); the logprob
    dict ships as a real Spark broadcast, and the kernel memoizes per
    Arrow batch so the same function is safe on non-distinct input.
    `byte_fallback`/`specials` follow `viterbi_segment`."""
    import pandas as pd  # noqa: F401 — anchors the Arrow path
    from pyspark.sql.functions import pandas_udf

    spark = words.sparkSession
    b_logp = spark.sparkContext.broadcast(dict(logp))
    mpl = int(max_piece_len)
    bf = bool(byte_fallback)
    specs = frozenset(specials) if specials else None

    # no type hints: PEP 563 stringifies them under the module-level
    # `annotations` import and pyspark's hint introspection rejects that
    def seg(ws):
        lp = b_logp.value
        memo: dict = {}

        def one(w):
            t = memo.get(w)
            if t is None:
                t = viterbi_segment(
                    w, lp, mpl, byte_fallback=bf, specials=specs
                )
                memo[w] = t
            return t

        return ws.map(one)

    pieces = pandas_udf(seg, "array<string>")(F.col(word_col))
    return words.withColumn("pieces", pieces)


def unigram_estep_counts(
    words: DataFrame, logp: Dict[str, float], max_piece_len: int
) -> DataFrame:
    """One hard-EM E-step: expected piece counts over the word table —
    (piece, cnt) with each Viterbi piece occurrence weighted by its
    word's corpus count. Explode + one vocabulary-keyed groupBy (the
    partial aggregate collapses map-side; the shuffle carries at most
    piece-vocabulary rows per input partition)."""
    seg = segment_word_table(words, logp, max_piece_len)
    # explode_outer, NOT explode: the plain explode's implicit
    # `size(pieces) > 0` pre-filter gets pushed below the projection
    # and DUPLICATES the Viterbi UDF (two ArrowEvalPython passes per
    # E-step — caught by the plan test); outer adds no pre-filter, and
    # the null guard after the generate cannot push through the UDF.
    # (Empty arrays only arise from empty words, which word_counts
    # already drops — the guard is belt-and-braces.)
    return (
        seg.select("cnt", F.explode_outer("pieces").alias("piece"))
        .where(F.col("piece").isNotNull())
        .groupBy("piece")
        .agg(F.sum("cnt").alias("cnt"))
    )


def unigram_estep_posterior_counts(
    words: DataFrame, logp: Dict[str, float], max_piece_len: int
) -> DataFrame:
    """FULL-EM E-step: posterior expected piece counts over the word
    table — (piece, cnt double), each word's forward-backward counts
    weighted by its corpus count. Same shape as the hard E-step (one
    Arrow pass over the distinct-word table + one vocabulary-keyed
    aggregation); the per-word kernel is `posterior_piece_counts`.

    Expected counts are floats, so unlike the hard E-step the
    aggregation's sum order wiggles the last ulp — full-EM results are
    reference-tested with tolerance rather than golden-pinned."""
    import pandas as pd  # noqa: F401
    from pyspark.sql.functions import pandas_udf

    spark = words.sparkSession
    b_logp = spark.sparkContext.broadcast(dict(logp))
    mpl = int(max_piece_len)

    def post(ws):
        lp = b_logp.value
        memo: dict = {}

        def one(w):
            t = memo.get(w)
            if t is None:
                t = [
                    {"piece": p, "c": c}
                    for p, c in sorted(
                        posterior_piece_counts(w, lp, mpl).items()
                    )
                ]
                memo[w] = t
            return t

        return ws.map(one)

    pc = pandas_udf(post, "array<struct<piece:string,c:double>>")(
        F.col("word")
    )
    seg = words.withColumn("__pc", pc)
    return (
        seg.select("cnt", F.explode_outer("__pc").alias("__p"))
        .where(F.col("__p").isNotNull())
        .groupBy(F.col("__p.piece").alias("piece"))
        .agg(F.sum(F.col("__p.c") * F.col("cnt")).alias("cnt"))
    )


def _mstep_prune(
    counts: List[Tuple[str, int]],
    vocab_size: int,
    min_count: int,
) -> List[Tuple[str, int]]:
    """M-step pruning on driver-side (piece, expected_count) rows: keep
    every single character (floored at count 1 so coverage survives a
    zero-count round), drop multi-char pieces under `min_count`, then
    keep the top pieces by (count desc, piece asc) up to `vocab_size`
    (characters always survive, even past the cap)."""
    chars = [(p, max(c, 1)) for p, c in counts if len(p) == 1]
    multi = [
        (p, c) for p, c in counts if len(p) > 1 and c >= min_count
    ]
    multi.sort(key=lambda t: (-t[1], t[0]))
    room = max(0, vocab_size - len(chars))
    kept = chars + multi[:room]
    kept.sort(key=lambda t: (-t[1], t[0]))
    return kept


def unigram_train(
    df: Optional[DataFrame] = None,
    text_col: str = "text",
    vocab_size: int = 300,
    n_iters: int = 3,
    max_piece_len: int = 6,
    seed_size: int = 2000,
    min_count: int = 2,
    shrink_factor: float = 0.75,
    em: str = "hard",
    words: Optional[DataFrame] = None,
    on_iter=None,
) -> List[Tuple[str, float, int]]:
    """Train a unigram-LM vocabulary: seed → `n_iters` hard-EM rounds
    (E-step on the cluster, M-step + expected-count pruning on the
    driver) → final list of (piece, logprob, expected_count) sorted by
    (count desc, piece asc).

    Pruning schedule (SentencePiece's): each round keeps
    max(vocab_size, shrink_factor · current) pieces by expected count,
    so the vocabulary shrinks GRADUALLY from the seed and EM re-ranks
    survivors between cuts — a one-shot cut to vocab_size would freeze
    the seed's raw-substring ranking. The final round always lands on
    exactly ≤ vocab_size.

    `on_iter(i, vocab, seconds)` observes each round with the PRUNED
    (piece, expected_count) list (the BPE trainers' `on_merge`
    discipline — the cost-curve hook, and what the round-for-round
    parity test pins against the pure-Python reference).

    Scale: the corpus is scanned once (`word_counts`); the word table
    is persisted and every round costs one Arrow pass over it plus a
    vocabulary-sized aggregation; driver state is the ≤ seed_size
    vocabulary. Characters are never pruned, so segmentation coverage
    is total at every round.
    """
    import time as _time

    from pyspark import StorageLevel

    if not 0.0 < shrink_factor <= 1.0:
        raise ValueError("shrink_factor must be in (0, 1]")
    if em not in ("hard", "full"):
        raise ValueError("em must be 'hard' (Viterbi) or 'full' (lattice)")
    estep = (
        unigram_estep_counts if em == "hard" else unigram_estep_posterior_counts
    )
    if words is None:
        if df is None:
            raise ValueError("unigram_train needs df or words")
        words = word_counts(df, text_col)
    words = words.persist(StorageLevel.DISK_ONLY)
    # try/finally so an E-step (or on_iter callback) exception doesn't
    # leak the persisted word table for the session's lifetime
    # (ADVICE r10)
    try:
        vocab = seed_vocab(words, max_piece_len, seed_size)
        vocab = _mstep_prune(vocab, len(vocab), min_count=1)
        # the corpus alphabet: characters re-enter every round even
        # when a round's Viterbi paths cover them only inside
        # multi-char pieces (expected count 0) — otherwise they'd
        # silently leave the vocab and the coverage guarantee would be
        # one unlucky round deep
        alphabet = [p for p, _ in vocab if len(p) == 1]
        for i in range(n_iters):
            t0 = _time.perf_counter()
            total = float(sum(c for _, c in vocab))
            logp = {p: math.log(c / total) for p, c in vocab}
            counts = {
                r["piece"]: r["cnt"]
                for r in estep(words, logp, max_piece_len).collect()
            }
            for ch in alphabet:
                counts.setdefault(ch, 0)
            target = (
                vocab_size
                if i == n_iters - 1
                else max(vocab_size, int(len(vocab) * shrink_factor))
            )
            vocab = _mstep_prune(list(counts.items()), target, min_count)
            if on_iter is not None:
                on_iter(i, list(vocab), _time.perf_counter() - t0)
    finally:
        words.unpersist()
    total = float(sum(c for _, c in vocab))
    return [(p, math.log(c / total), c) for p, c in vocab]


def unigram_encode(
    df: DataFrame,
    vocab: List[Tuple[str, float, int]],
    text_col: str = "text",
    id_col: str = "doc_id",
    max_piece_len: int = 6,
    broadcast_vocab: bool = False,
    byte_fallback: bool = False,
    special_tokens=None,
) -> DataFrame:
    """Tokenize a corpus with a TRAINED unigram vocabulary →
    per-document (id_col, n_words, n_unigram_tokens, n_chars_tokenized,
    n_byte_tokens) — `bpe_encode`'s exact contract, so the two
    tokenizers' fertility is directly comparable (the llm_bpe_encode /
    llm_unigram_encode catalog rows share the per-language rollup).

    `byte_fallback`: characters the vocabulary doesn't cover encode as
    `<0xNN>` UTF-8 byte pieces instead of UNK_LOGP single-char
    fallbacks — the no-UNK guarantee (n_byte_tokens counts them,
    included in n_unigram_tokens; 0 everywhere when the vocab covers
    the corpus alphabet, e.g. trained on the same corpus).
    `special_tokens` are reserved lowercase-stable strings protected
    before word-splitting; each occurrence is exactly one token (and
    one word) — identical semantics to `bpe_encode`'s.

    Shape: one corpus scan explodes words (same lower/whitespace
    vocabulary as `word_counts`, so train and encode agree on what a
    word is); the DISTINCT word table Viterbi-segments in Python
    (vocabulary-sized, Arrow-batched, broadcast logprobs); per-word
    token counts join back and aggregate per document. Documents with
    no words survive with zero counts.
    """
    from .bpe import BYTE_TOKEN_RLIKE, split_words_col, validate_special_tokens

    specs = validate_special_tokens(special_tokens)
    logp = {p: lp for p, lp, *_rest in vocab}
    tokens_words = df.select(
        F.col(id_col),
        F.explode_outer(split_words_col(F.col(text_col), specs)).alias(
            "word"
        ),
    ).where((F.col("word").isNotNull()) & (F.col("word") != ""))
    distinct_words = tokens_words.select("word").distinct()
    seg = segment_word_table(
        distinct_words,
        logp,
        max_piece_len,
        byte_fallback=byte_fallback,
        specials=specs,
    ).select(
        "word",
        F.size("pieces").alias("n_tokens"),
        F.size(
            F.filter("pieces", lambda t: t.rlike(BYTE_TOKEN_RLIKE))
        ).alias("n_byte_tokens"),
        F.length("word").alias("n_word_chars"),
    )
    if broadcast_vocab:
        seg = F.broadcast(seg)
    per_doc = (
        tokens_words.join(seg, "word")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum("n_tokens").cast("long").alias("n_unigram_tokens"),
            F.sum("n_word_chars").cast("long").alias("n_chars_tokenized"),
            F.sum("n_byte_tokens").cast("long").alias("n_byte_tokens"),
        )
    )
    return (
        df.select(id_col)
        .join(per_doc, id_col, "left")
        .na.fill(
            {
                "n_words": 0,
                "n_unigram_tokens": 0,
                "n_chars_tokenized": 0,
                "n_byte_tokens": 0,
            }
        )
    )


def piece_id_table(
    vocab: List[Tuple[str, float, int]],
    byte_fallback: bool = False,
    special_tokens=None,
) -> List[Tuple[str, int]]:
    """Deterministic token→id assignment for a trained vocabulary —
    the contract every downstream consumer of token IDS depends on:
    special tokens first (validated order: longest, then lexicographic
    — `validate_special_tokens`), then the 256 reserved `<0xNN>` byte
    pieces when `byte_fallback` (fixed ids for any vocabulary size, the
    Llama-family layout), then the trained pieces in `unigram_train`'s
    output order (count desc, piece asc). A trained piece that
    collides with an already-assigned token (a corpus that literally
    contains "<0x00>") keeps the reserved id and is skipped."""
    from .bpe import BYTE_TOKENS, validate_special_tokens

    toks: List[str] = list(validate_special_tokens(special_tokens))
    if byte_fallback:
        toks += list(BYTE_TOKENS)
    seen = set(toks)
    for p, *_rest in vocab:
        if p not in seen:
            seen.add(p)
            toks.append(p)
    return [(t, i) for i, t in enumerate(toks)]


def unigram_encode_ids(
    df: DataFrame,
    vocab: List[Tuple[str, float, int]],
    text_col: str = "text",
    id_col: str = "doc_id",
    max_piece_len: int = 6,
    byte_fallback: bool = False,
    special_tokens=None,
    append_eos: Optional[str] = None,
    word_sep: Optional[str] = None,
) -> DataFrame:
    """Tokenize a corpus to REAL token-id sequences →
    (id_col, ids array<int>, n_tokens) — what `unigram_encode` counts,
    materialized: the tensor-ready form a training pipeline actually
    ships (feed to `corpus.pack_sequence_ids` for GPT-style packing).
    Ids come from `piece_id_table` (specials → byte pieces → trained
    pieces); `append_eos` names a special token appended to every
    document (it is added to the id table automatically).

    Shape: posexplode keeps each word's position; the DISTINCT word
    table segments-and-maps to ids in ONE Arrow kernel (vocabulary-
    proportional, broadcast logp + id dict); per-word id arrays join
    back on `word` and one per-doc aggregation reassembles documents
    via array_sort(collect_list(struct(pos, ids))) + flatten — order
    restored without a window sort. Documents with no words survive
    with ids = [] (+ eos). Two shuffles total: the word join and the
    doc groupBy, both keyed, both partial-agg-friendly.

    `word_sep` (opt-in, round-12): a special token whose id follows
    every word's pieces, making `bpe.decode_ids(..., sep_id=...)` the
    exact inverse — see `bpe_encode_ids` for the convention. Default
    None = stream (and every existing pin) unchanged.
    """
    import pandas as pd  # noqa: F401 — anchors the Arrow path
    from pyspark.sql.functions import pandas_udf

    from .bpe import split_words_col, validate_special_tokens

    specs = list(validate_special_tokens(special_tokens))
    if append_eos is not None:
        (eos_ok,) = validate_special_tokens([append_eos])
        if eos_ok not in specs:
            specs.append(eos_ok)
    if word_sep is not None:
        if word_sep == append_eos:
            raise ValueError(
                "word_sep and append_eos must be distinct tokens — "
                "decode_ids could not tell boundaries from document "
                "ends"
            )
        (ws_ok,) = validate_special_tokens([word_sep])
        if ws_ok not in specs:
            specs.append(ws_ok)
    table = piece_id_table(vocab, byte_fallback, specs)
    pid = dict(table)
    eos_id = pid[append_eos] if append_eos is not None else None
    sep_id = pid[word_sep] if word_sep is not None else None
    logp = {p: lp for p, lp, *_rest in vocab}
    spark = df.sparkSession
    b_logp = spark.sparkContext.broadcast(logp)
    b_pid = spark.sparkContext.broadcast(pid)
    mpl = int(max_piece_len)
    bf = bool(byte_fallback)
    spec_set = frozenset(specs)

    def kernel(ws):
        lp = b_logp.value
        ids_of = b_pid.value
        memo: dict = {}

        def one(w):
            t = memo.get(w)
            if t is None:
                pieces = viterbi_segment(
                    w, lp, mpl, byte_fallback=bf, specials=spec_set
                )
                # a piece outside the id table can only be an
                # UNK-fallback char with byte_fallback OFF — fail loud
                # rather than emit a corrupt id
                try:
                    t = [ids_of[p] for p in pieces]
                except KeyError as e:
                    raise ValueError(
                        f"unigram_encode_ids: piece {e.args[0]!r} has "
                        "no id (out-of-vocabulary character without "
                        "byte_fallback=True)"
                    ) from None
                if sep_id is not None:
                    t = t + [sep_id]
                memo[w] = t
            return t

        return ws.map(one)

    from .bpe import assemble_doc_ids

    words = df.select(
        F.col(id_col),
        F.posexplode_outer(split_words_col(F.col(text_col), specs)).alias(
            "pos", "word"
        ),
    ).where((F.col("word").isNotNull()) & (F.col("word") != ""))
    word_ids = (
        words.select("word")
        .distinct()
        .withColumn("__wids", pandas_udf(kernel, "array<int>")(F.col("word")))
    )
    return assemble_doc_ids(df, words, word_ids, id_col, eos_id)


def unigram_sample_encode_ids(
    df: DataFrame,
    vocab: List[Tuple[str, float, int]],
    text_col: str = "text",
    id_col: str = "doc_id",
    max_piece_len: int = 6,
    alpha: float = 1.0,
    seed: int = 0,
    byte_fallback: bool = False,
    special_tokens=None,
    append_eos: Optional[str] = None,
    word_sep: Optional[str] = None,
    per_occurrence: bool = False,
) -> DataFrame:
    """Subword-REGULARIZED token ids (round-12, VERDICT r11 #5/#6):
    `unigram_encode_ids`' exact contract — (id_col, ids array<int>,
    n_tokens) — but each word's segmentation is DRAWN from
    P(s|w) ∝ P(s)^α by `sample_segment_word_table`'s FFBS sampler
    instead of Viterbi-argmaxed, which is how regularized TRAINING
    data (Kudo 2018) actually reaches tensors: feed the output to
    `corpus.pack_sequence_ids` and resample with a new `seed` each
    epoch.

    Determinism: per-(seed, word) md5-seeded RNG — the same seed
    reproduces the same ids regardless of partitioning or executor
    count, a different seed resamples (the per-epoch schedule). EOS /
    word_sep / specials behave exactly as in `unigram_encode_ids`
    (conservation: one EOS per document survives packing).

    `per_occurrence=True` samples per (document, position) occurrence
    instead of per distinct word — more diversity per epoch, but the
    sampling kernel's cost grows with corpus OCCURRENCES instead of
    the distinct-word table (Heaps-law economy lost); the default
    epoch-grain path + a fresh seed per epoch is the 100 TB shape.

    Plan shape (epoch grain): posexplode → distinct words → TWO
    chained Arrow passes (FFBS sample, then id-mapping — no shuffle
    between) → word join-back → per-doc reassembly. Same two keyed
    shuffles as the Viterbi twin."""
    import pandas as pd  # noqa: F401 — anchors the Arrow path
    from pyspark.sql.functions import pandas_udf

    from .bpe import (
        assemble_doc_ids,
        assemble_position_ids,
        split_words_col,
        validate_special_tokens,
    )

    specs = list(validate_special_tokens(special_tokens))
    if append_eos is not None:
        (eos_ok,) = validate_special_tokens([append_eos])
        if eos_ok not in specs:
            specs.append(eos_ok)
    if word_sep is not None:
        if word_sep == append_eos:
            raise ValueError(
                "word_sep and append_eos must be distinct tokens — "
                "decode_ids could not tell boundaries from document "
                "ends"
            )
        (ws_ok,) = validate_special_tokens([word_sep])
        if ws_ok not in specs:
            specs.append(ws_ok)
    table = piece_id_table(vocab, byte_fallback, specs)
    pid = dict(table)
    eos_id = pid[append_eos] if append_eos is not None else None
    sep_id = pid[word_sep] if word_sep is not None else None
    logp = {p: lp for p, lp, *_rest in vocab}
    spark = df.sparkSession
    b_pid = spark.sparkContext.broadcast(pid)
    spec_set = frozenset(specs)

    def ids_kernel(ps):
        ids_of = b_pid.value

        def one(pieces):
            try:
                return [ids_of[p] for p in pieces]
            except KeyError as e:
                raise ValueError(
                    f"unigram_sample_encode_ids: piece {e.args[0]!r} "
                    "has no id (out-of-vocabulary character without "
                    "byte_fallback=True)"
                ) from None

        return ps.map(one)

    to_ids = pandas_udf(ids_kernel, "array<int>")

    words = df.select(
        F.col(id_col),
        F.posexplode_outer(split_words_col(F.col(text_col), specs)).alias(
            "pos", "word"
        ),
    ).where((F.col("word").isNotNull()) & (F.col("word") != ""))

    def with_sep(ids_col):
        if sep_id is None:
            return ids_col
        return F.concat(
            ids_col, F.array(F.lit(int(sep_id)).cast("int"))
        )

    if not per_occurrence:
        sampled = sample_segment_word_table(
            words.select("word").distinct(),
            logp,
            max_piece_len,
            alpha=alpha,
            seed=seed,
            byte_fallback=byte_fallback,
            specials=spec_set,
        )
        word_ids = sampled.select(
            "word", with_sep(to_ids(F.col("pieces"))).alias("__wids")
        )
        return assemble_doc_ids(df, words, word_ids, id_col, eos_id)

    # occurrence grain: salt the RNG with (doc, pos) so every
    # occurrence draws independently; ids resolve in place and the
    # distinct-word join is skipped
    salted = words.withColumn(
        "__salt",
        F.concat_ws("|", F.col(id_col).cast("string"), F.col("pos")),
    )
    sampled = sample_segment_word_table(
        salted,
        logp,
        max_piece_len,
        alpha=alpha,
        seed=seed,
        byte_fallback=byte_fallback,
        specials=spec_set,
        salt_col="__salt",
    )
    pos_ids = sampled.select(
        id_col, "pos", with_sep(to_ids(F.col("pieces"))).alias("__wids")
    )
    return assemble_position_ids(df, pos_ids, id_col, eos_id)


def vocab_save(spark, vocab: List[Tuple[str, float, int]], path: str) -> None:
    """Persist a trained unigram vocabulary as parquet (piece, logprob,
    cnt) — the `ivf_save` discipline for tokenizers: train once, encode
    across sessions/jobs without re-paying the EM rounds. Works on any
    Hadoop-compatible FS (no driver-local path assumption)."""
    spark.createDataFrame(
        [(p, float(lp), int(c)) for p, lp, c in vocab],
        "piece string, logprob double, cnt long",
    ).coalesce(1).write.mode("overwrite").parquet(path)


def vocab_load(spark, path: str) -> List[Tuple[str, float, int]]:
    """Reload a `vocab_save`d vocabulary in `unigram_train`'s output
    order ((count desc, piece asc)), byte-identical logprobs — encode
    parity with the in-session vocabulary is round-trip-tested."""
    rows = spark.read.parquet(path).collect()
    out = [(r["piece"], r["logprob"], r["cnt"]) for r in rows]
    out.sort(key=lambda t: (-t[2], t[0]))
    return out


def unigram_perplexity(
    df: DataFrame,
    vocab: List[Tuple[str, float, int]],
    text_col: str = "text",
    id_col: str = "doc_id",
    max_piece_len: int = 6,
) -> DataFrame:
    """Per-document perplexity under a TRAINED unigram LM — the
    CCNet-style quality-filter signal (documents whose text the corpus
    LM finds surprising are boilerplate, encoding noise, or
    off-distribution): (id_col, n_words, n_tokens, bits_per_token,
    perplexity), where the log-likelihood of each word marginalizes
    over ALL segmentations (`word_loglik`'s forward pass) and
    n_tokens counts the Viterbi segmentation.

    Determinism discipline: per-word loglik is rounded to 6dp and
    aggregated as DECIMAL(38,6) (the catalog's double-sum rule), so
    per-doc sums are exact and engine/partitioning-independent —
    pinnable. bits_per_token = -loglik / (n_tokens·ln 2), perplexity =
    2^bits_per_token, both rounded 6dp.

    Scale: identical shape to `unigram_encode` — one word explode, the
    Python kernel runs over the DISTINCT word table only (vocabulary-
    proportional, broadcast logprobs), counts join back on `word`, one
    per-doc aggregation. Empty documents survive with NULL scores.
    """
    import pandas as pd  # noqa: F401
    from pyspark.sql.functions import pandas_udf

    from ..functions import text as T

    logp = {p: lp for p, lp, *_rest in vocab}
    spark = df.sparkSession
    b_logp = spark.sparkContext.broadcast(logp)
    mpl = int(max_piece_len)

    def kernel(ws):
        # struct-returning scalar pandas UDF: must yield a DataFrame
        # whose columns are the struct fields, not a Series of dicts
        import pandas as _pd

        lp = b_logp.value
        memo: dict = {}

        def one(w):
            t = memo.get(w)
            if t is None:
                t = (
                    round(word_loglik(w, lp, mpl), 6),
                    len(viterbi_segment(w, lp, mpl)),
                )
                memo[w] = t
            return t

        pairs = ws.map(one)
        return _pd.DataFrame(
            {"ll": pairs.map(lambda t: t[0]), "nt": pairs.map(lambda t: t[1])}
        )

    words = df.select(
        F.col(id_col),
        F.explode_outer(
            T.whitespace_tokens(F.lower(F.col(text_col)))
        ).alias("word"),
    ).where((F.col("word").isNotNull()) & (F.col("word") != ""))
    scored = (
        words.select("word")
        .distinct()
        .withColumn(
            "__s", pandas_udf(kernel, "struct<ll:double,nt:int>")(F.col("word"))
        )
        .select(
            "word",
            F.col("__s.ll").cast("decimal(38,6)").alias("__ll"),
            F.col("__s.nt").alias("__nt"),
        )
    )
    ln2 = math.log(2.0)
    per_doc = (
        words.join(scored, "word")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum("__nt").cast("long").alias("n_tokens"),
            F.sum("__ll").alias("__ll_total"),
        )
        .select(
            id_col,
            "n_words",
            "n_tokens",
            F.round(
                -F.col("__ll_total").cast("double")
                / (F.col("n_tokens") * F.lit(ln2)),
                6,
            ).alias("bits_per_token"),
        )
        .withColumn(
            "perplexity",
            F.round(F.pow(F.lit(2.0), F.col("bits_per_token")), 6),
        )
    )
    return df.select(id_col).join(per_doc, id_col, "left").na.fill(
        {"n_words": 0, "n_tokens": 0}
    )
