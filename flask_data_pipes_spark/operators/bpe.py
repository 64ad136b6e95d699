"""BPE tokenizer training support — the corpus-scale half of byte-pair
encoding (Sennrich et al. 2016) done Spark-first.

The classic observation that makes BPE tractable at 100 TB: training
operates on the WORD-FREQUENCY table, not the corpus. One corpus scan
builds `(word, cnt)` (Heaps-bounded — the vocabulary is orders of
magnitude smaller than the token stream); every merge iteration then
runs on that table alone: count adjacent symbol pairs weighted by word
count, pick the argmax, rewrite the symbol arrays. Each iteration is
one ≤vocabulary-sized aggregation plus a narrow map — the corpus is
never touched again.

All per-row work is pure Catalyst expressions (split, aggregate-fold,
slice): no Python UDFs. The merge application uses an `aggregate()`
left-fold that reproduces BPE's left-to-right non-overlapping merge
semantics exactly (verified against a pure-Python reference
implementation in tests). The only driver round-trip per iteration is
collecting the single argmax row — the algorithm's inherent sync
point.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import Column, DataFrame, functions as F

from ..functions import text as T

__all__ = [
    "word_counts",
    "bpe_pair_counts",
    "bpe_apply_merge",
    "bpe_train",
    "bpe_train_incremental",
    "encode_word",
    "encode_word_table",
    "bpe_encode",
    "merges_save",
    "merges_load",
    "bpe_id_table",
    "bpe_encode_ids",
    "assemble_doc_ids",
    "BYTE_TOKENS",
    "byte_fallback_tokens",
    "is_byte_token",
    "decode_pieces",
    "train_alphabet",
    "validate_special_tokens",
    "split_words_col",
    "assemble_position_ids",
    "decode_ids",
]

# --- byte fallback + special tokens (round 11) -------------------------------
#
# Production tokenizers never emit UNK: a character outside the trained
# vocabulary is encoded as its UTF-8 bytes, each byte a reserved
# `<0xNN>` token (SentencePiece's --byte_fallback; every Llama-family
# tokenizer ships the 256 byte pieces). Both engines here (`bpe_encode`
# and `unigram_encode`) share these helpers so the no-UNK invariant and
# the special-token pass-through behave identically — and fertility
# stays a one-join per-doc rollup in both.

BYTE_TOKENS = tuple(f"<0x{b:02X}>" for b in range(256))
_BYTE_TOKEN_SET = frozenset(BYTE_TOKENS)
_BYTE_OF = {t: b for b, t in enumerate(BYTE_TOKENS)}
# Catalyst-side recognizer for byte tokens inside a pieces array
BYTE_TOKEN_RLIKE = "^<0x[0-9A-F]{2}>$"


def byte_fallback_tokens(ch: str) -> list:
    """UTF-8 byte pieces for one uncovered character: 'é' →
    ['<0xC3>', '<0xA9>']."""
    return [BYTE_TOKENS[b] for b in ch.encode("utf-8")]


def is_byte_token(tok: str) -> bool:
    return tok in _BYTE_TOKEN_SET


def decode_pieces(pieces) -> str:
    """Invert a byte-fallback encoding: byte tokens decode through
    UTF-8, every other piece is literal text. The round-trip law the
    property tests pin: decode_pieces(segment(word)) == word."""
    out: list = []
    buf: list = []
    for p in pieces:
        b = _BYTE_OF.get(p)
        if b is not None:
            buf.append(b)
        else:
            if buf:
                out.append(bytes(buf).decode("utf-8"))
                buf = []
            out.append(p)
    if buf:
        out.append(bytes(buf).decode("utf-8"))
    return "".join(out)


def validate_special_tokens(special_tokens) -> tuple:
    """Normalize/validate a special-token list: non-empty strings, no
    whitespace (specials must survive whitespace word-splitting), and
    lowercase-stable (both tokenizers lowercase text BEFORE specials
    are protected, so an uppercase special could never match)."""
    for s in special_tokens or ():
        if not isinstance(s, str) or not s:
            raise ValueError(f"special token must be a non-empty string: {s!r}")
        if any(c.isspace() for c in s):
            raise ValueError(
                f"special token {s!r} contains whitespace — it could not "
                "survive whitespace word-splitting"
            )
        if s != s.lower():
            raise ValueError(
                f"special token {s!r} is not lowercase-stable; the "
                "tokenizers lowercase text before matching specials"
            )
        if s in _BYTE_TOKEN_SET:
            raise ValueError(
                f"special token {s!r} collides with a reserved <0xNN> "
                "byte-fallback piece"
            )
    # longest first so overlapping specials resolve deterministically
    return tuple(sorted(set(special_tokens or ()), key=lambda s: (-len(s), s)))


def split_words_col(text_col, special_tokens=None) -> Column:
    """The SHARED word-splitting expression of both tokenizers:
    lowercase + whitespace split, with special tokens space-padded
    FIRST so each occurrence becomes its own word (and later encodes as
    exactly one token). Pure Catalyst — ONE regexp_replace whose
    pattern is the literal-escaped alternation of all specials, longest
    first: a single pass means a special nested inside another
    (e.g. "eot" inside "<|eot|>") can never re-match INSIDE the already
    -protected longer token, which a sequential per-special replace
    would corrupt."""
    import re as _re

    c = F.lower(text_col if isinstance(text_col, Column) else F.col(text_col))
    specs = validate_special_tokens(special_tokens)
    if specs:
        pattern = "|".join(_re.escape(s) for s in specs)
        c = F.regexp_replace(c, pattern, " $0 ")
    return T.whitespace_tokens(c)


def word_counts(df: DataFrame, text_col: str = "text") -> DataFrame:
    """One corpus scan → the `(word, cnt, symbols)` training table:
    lower-cased whitespace words with frequencies, symbols initialised
    to the character array. Everything downstream of this never reads
    the corpus again."""
    toks = df.filter(F.trim(F.col(text_col)) != "").select(
        F.explode_outer(
            T.whitespace_tokens(F.lower(F.col(text_col)))
        ).alias("word")
    ).where(F.col("word").isNotNull())
    return (
        toks.groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select("word", "cnt", F.split(F.col("word"), "").alias("symbols"))
    )


def _adjacent_pairs(symbols: Column) -> Column:
    """Array of (a, b) structs for each adjacent symbol pair."""
    n = F.size(symbols)
    return F.when(n < 2, F.array().cast("array<struct<a:string,b:string>>")).otherwise(
        F.zip_with(
            F.slice(symbols, 1, n - 1),
            F.slice(symbols, 2, n - 1),
            lambda a, b: F.struct(a.alias("a"), b.alias("b")),
        )
    )


def bpe_pair_counts(words: DataFrame) -> DataFrame:
    """Adjacent-pair frequencies over the word table → (a, b, cnt),
    each pair occurrence weighted by its word's corpus count. The BPE
    scoring aggregation: one explode + one groupBy whose key space is
    the pair vocabulary (≪ corpus)."""
    return (
        words.select(
            "cnt", F.explode(_adjacent_pairs(F.col("symbols"))).alias("__p")
        )
        .groupBy(F.col("__p.a").alias("a"), F.col("__p.b").alias("b"))
        .agg(F.sum("cnt").alias("cnt"))
    )


def bpe_apply_merge(words: DataFrame, a: str, b: str) -> DataFrame:
    """Apply one merge (a, b) → "ab" to every symbol array — BPE's
    left-to-right, non-overlapping replacement ("aaaa" under (a,a)
    becomes [aa, aa], not [aa, a, a]) — as a pure `aggregate()`
    left-fold: push each symbol, and whenever the top two of the stack
    are exactly (a, b), collapse them to the merged symbol. A narrow
    map over the word table; no shuffle."""
    merged = F.lit(a + b)
    sym = F.col("symbols")

    def step(acc: Column, x: Column) -> Column:
        # try_element_at: null (not an ANSI error) on the empty array;
        # the size guard then decides, with no reliance on short-circuit
        top = F.try_element_at(acc, F.lit(-1))
        return F.when(
            (F.size(acc) > 0) & (top == F.lit(a)) & (x == F.lit(b)),
            F.concat(F.slice(acc, 1, F.size(acc) - 1), F.array(merged)),
        ).otherwise(F.concat(acc, F.array(x)))

    folded = F.aggregate(
        sym, F.array().cast("array<string>"), step
    )
    return words.withColumn("symbols", folded)


def bpe_train(
    df: DataFrame,
    text_col: str = "text",
    n_merges: int = 10,
    min_count: int = 2,
    checkpoint_every: int = 8,
    words: Optional[DataFrame] = None,
    on_merge=None,
) -> list:
    """Learn `n_merges` BPE merges → ordered list of (a, b, count).

    Driver-orchestrated loop over distributed iterations (the standard
    shape for BPE at scale — the argmax is the algorithm's sync
    point): per merge, `bpe_pair_counts` (vocabulary-sized groupBy) →
    collect the single best row (ties broken lexicographically so
    training is deterministic) → `bpe_apply_merge` (narrow map).
    Stops early when no pair reaches `min_count`. The word table's
    lineage grows one fold per merge; `checkpoint_every` truncates it
    (same DISK_ONLY discipline as connected_components).

    Scale: the corpus is scanned ONCE (`word_counts`); all iterations
    run on the Heaps-bounded word table. For byte-level BPE on a
    100 TB corpus the word table is still only the distinct-word
    vocabulary — millions of rows, not trillions.
    """
    from pyspark import StorageLevel

    import time as _time

    w = words if words is not None else word_counts(df, text_col)
    merges: list = []
    for i in range(n_merges):
        t0 = _time.perf_counter()
        best = (
            bpe_pair_counts(w)
            .orderBy(F.col("cnt").desc(), F.col("a"), F.col("b"))
            .limit(1)
            .collect()
        )
        if not best or best[0]["cnt"] < min_count:
            break
        a, b, cnt = best[0]["a"], best[0]["b"], best[0]["cnt"]
        merges.append((a, b, cnt))
        w = bpe_apply_merge(w, a, b)
        if (i + 1) % max(1, checkpoint_every) == 0:
            w = w.localCheckpoint(
                eager=True, storageLevel=StorageLevel.DISK_ONLY
            )
        if on_merge is not None:
            on_merge(i, a, b, cnt, _time.perf_counter() - t0)
    return merges


def _pair_hit(a: str, b: str) -> Column:
    """Does this word contain the adjacent pair (a, b)? Pure exists
    over the pair structs — no explode, no shuffle."""
    return F.exists(
        _adjacent_pairs(F.col("symbols")),
        lambda p: (p["a"] == F.lit(a)) & (p["b"] == F.lit(b)),
    )


def bpe_train_incremental(
    df: DataFrame,
    text_col: str = "text",
    n_merges: int = 10,
    min_count: int = 2,
    checkpoint_every: int = 4,
    words: Optional[DataFrame] = None,
    on_merge=None,
) -> list:
    """`bpe_train` with INCREMENTAL pair-count maintenance — the shape
    that survives a real 30k-merge vocabulary (VERDICT r6 #3).

    `bpe_train` re-aggregates adjacent pairs over the WHOLE word table
    every merge: per-merge cost is O(vocabulary), so a v-merge training
    run is O(v · vocabulary). Here the pair-count table is state:

    - per merge, only the words actually CONTAINING the merged pair
      (a tiny, frequency-decaying subset after the first merges) are
      rewritten, and the pair-count deltas (new pairs of the rewritten
      words minus their old pairs, count-weighted) patch the standing
      table: pc' = Σ_(a,b) [pc ∪ +pairs(rewritten) ∪ −pairs(affected)],
      dropping exact zeros. The argmax then reads the patched table —
      no full re-aggregation ever happens again after the first one.
    - the word table updates as (unaffected ∪ rewritten); the full
      table truncates lineage via eager DISK_ONLY localCheckpoint
      every `checkpoint_every` merges (the connected_components
      discipline).
    - the AFFECTED slice, its REWRITE, and the patched pair table are
      eagerly checkpointed EVERY round — they are tiny (affected words
      / pair vocabulary), and materializing them is what keeps
      per-merge cost flat: the `aggregate()` merge fold references its
      accumulator ~4× per step, so letting folds nest in lineage grows
      the expression tree ~4^depth — measured at sf0.1, un-materialized
      rewrites hit 128 s/merge by merge 15 where the materialized form
      stays at tenths of a second (cost curve: BASELINE.md round 7).

    Exactly `bpe_train`'s semantics (same argmax/tie-break/rewrite;
    parity-tested merge-for-merge against the pure-Python reference):
    delta-patching is keyed by symbol STRINGS, so colliding merged
    symbols (('a','bc') and ('ab','c') both → 'abc') accumulate into
    one key just as the full recompute does. Pairs whose count returns
    to zero leave the table and re-enter via later positive deltas.

    Scale: the corpus is scanned once; each merge touches O(affected)
    rows for rewrites + a pair-vocabulary-sized union-agg. At 100 TB /
    30k merges this is the difference between 30k full vocabulary
    aggregations and 30k touch-what-changed patches."""
    from pyspark import StorageLevel

    ckpt = max(1, checkpoint_every)
    w = words if words is not None else word_counts(df, text_col)
    w = w.localCheckpoint(eager=True, storageLevel=StorageLevel.DISK_ONLY)
    base_parts = max(1, w.rdd.getNumPartitions())
    pc = bpe_pair_counts(w).localCheckpoint(
        eager=True, storageLevel=StorageLevel.DISK_ONLY
    )
    import time as _time

    merges: list = []
    for i in range(n_merges):
        t0 = _time.perf_counter()
        best = (
            pc.filter(F.col("cnt") >= min_count)
            .orderBy(F.col("cnt").desc(), F.col("a"), F.col("b"))
            .limit(1)
            .collect()
        )
        if not best:
            break
        a, b, cnt = best[0]["a"], best[0]["b"], best[0]["cnt"]
        merges.append((a, b, cnt))
        hit = _pair_hit(a, b)
        dk = dict(eager=True, storageLevel=StorageLevel.DISK_ONLY)
        # coalesce (narrow, no shuffle) before every materialization:
        # union CONCATENATES partitions and checkpoints PRESERVE them,
        # so without this the split/union update doubles the word
        # table's partition count every merge (npart(w') = npart(w) +
        # npart(rewritten) = 2·npart(w)) — measured as per-merge wall
        # doubling on pure task-scheduling overhead (8192 partitions of
        # a 31-row table by merge 12) while plans and lineage stayed
        # truncated
        affected = w.filter(hit).coalesce(base_parts).localCheckpoint(**dk)
        rewritten = bpe_apply_merge(affected, a, b).localCheckpoint(**dk)
        deltas = bpe_pair_counts(rewritten).unionByName(
            bpe_pair_counts(affected.withColumn("cnt", -F.col("cnt")))
        )
        pc = (
            pc.unionByName(deltas)
            .groupBy("a", "b")
            .agg(F.sum("cnt").alias("cnt"))
            .filter(F.col("cnt") != 0)
            .localCheckpoint(**dk)
        )
        w = w.filter(~hit).unionByName(rewritten)
        if (i + 1) % ckpt == 0:
            w = w.coalesce(base_parts).localCheckpoint(**dk)
        if on_merge is not None:
            on_merge(i, a, b, cnt, _time.perf_counter() - t0)
    return merges


def encode_word(
    word: str,
    ranks: dict,
    alphabet=None,
    byte_fallback: bool = False,
    specials=None,
) -> list:
    """Pure-Python rank-greedy BPE encode of ONE word: repeatedly merge
    every (left-to-right, non-overlapping) occurrence of the
    lowest-rank adjacent pair present until no ranked pair remains.

    Rank-greedy is provably equivalent to replaying the merge list in
    training order (the classic tokenizer-inference identity): a merge
    can never create an occurrence of an EARLIER pair, because that
    pair's right or left symbol would itself have to contain the
    later-merged material — so picking the lowest rank available at
    each step visits merges in exactly training order. Parity against
    both the sequential replay and the trainer's own final symbol
    table is pinned in tests.

    With `byte_fallback` (requires `alphabet`, the trained character
    set — `train_alphabet`): after the merge loop, any single-char
    symbol OUTSIDE the alphabet is expanded to its `<0xNN>` UTF-8 byte
    pieces, so no out-of-vocabulary symbol ever reaches the output
    (multi-char symbols are merge products, always in-vocabulary).
    A word in `specials` passes through as exactly one token.
    """
    if specials and word in specials:
        return [word]
    if byte_fallback and alphabet is None:
        raise ValueError(
            "encode_word: byte_fallback requires the trained alphabet "
            "(train_alphabet) — deriving it from merge pairs would miss "
            "never-merged characters"
        )
    syms = list(word)
    while len(syms) > 1:
        best_rank = None
        best_pair = None
        for i in range(len(syms) - 1):
            r = ranks.get((syms[i], syms[i + 1]))
            if r is not None and (best_rank is None or r < best_rank):
                best_rank, best_pair = r, (syms[i], syms[i + 1])
        if best_pair is None:
            break
        a, b = best_pair
        out = []
        i = 0
        while i < len(syms):
            if i < len(syms) - 1 and syms[i] == a and syms[i + 1] == b:
                out.append(a + b)
                i += 2
            else:
                out.append(syms[i])
                i += 1
        syms = out
    if byte_fallback:
        expanded: list = []
        for s in syms:
            if len(s) == 1 and s not in alphabet:
                expanded.extend(byte_fallback_tokens(s))
            else:
                expanded.append(s)
        return expanded
    return syms


def train_alphabet(
    df: Optional[DataFrame] = None,
    text_col: str = "text",
    words: Optional[DataFrame] = None,
) -> list:
    """The trained character set: every distinct character of the
    lower-cased whitespace words — what `byte_fallback` needs to decide
    coverage. One pure-Catalyst scan (split word → explode → distinct);
    the result is alphabet-sized (≤ a few thousand rows for any human
    script mix), collected to the driver like a vocabulary. Pass the
    already-built `words` table (the `bpe_train*`/`unigram_train`
    `words=` discipline) to avoid re-scanning the corpus."""
    if words is None:
        if df is None:
            raise ValueError("train_alphabet needs df or words")
        words = word_counts(df, text_col)
    rows = (
        words.select(F.explode(F.split("word", "")).alias("ch"))
        .where(F.col("ch") != "")
        .distinct()
        .collect()
    )
    return sorted(r["ch"] for r in rows)


def encode_word_table(
    vocab: DataFrame,
    merges: list,
    word_col: str = "word",
    alphabet=None,
    byte_fallback: bool = False,
    specials=None,
) -> DataFrame:
    """Encode a DISTINCT-word table: (word, ...) -> (word, ...,
    tokens array<string>, n_tokens int) under an ordered merge list
    (the (a, b, ...) tuples `bpe_train*` returns).

    This is where tokenizer INFERENCE earns its scale shape: the
    Python merge loop runs once per VOCABULARY entry, never per corpus
    token — the same Heaps-law economy as training. The merge-rank
    dict ships to executors as a real Spark broadcast (a 30k-merge
    vocabulary is ~1 MB; embedding it in every task closure would
    re-pickle it per task), and the kernel is an Arrow-batched pandas
    UDF with a per-batch memo (Zipf means most batches repeat words
    only when the input ISN'T distinct — the memo makes the same
    kernel safe for direct per-token use too).
    """
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    spark = vocab.sparkSession
    ranks = {(a, b): i for i, (a, b, *_rest) in enumerate(merges)}
    b_ranks = spark.sparkContext.broadcast(ranks)
    alpha = frozenset(alphabet) if alphabet is not None else None
    specs = frozenset(specials) if specials else None
    bf = bool(byte_fallback)
    if bf and alpha is None:
        raise ValueError(
            "encode_word_table: byte_fallback requires alphabet "
            "(train_alphabet)"
        )

    # no type hints: PEP 563 (module-level `annotations` import) would
    # stringify them and pyspark's hint introspection rejects strings
    def enc(ws):
        r = b_ranks.value
        memo: dict = {}

        def one(w):
            t = memo.get(w)
            if t is None:
                t = encode_word(
                    w, r, alphabet=alpha, byte_fallback=bf, specials=specs
                )
                memo[w] = t
            return t

        return ws.map(one)

    tokens = pandas_udf(enc, "array<string>")(F.col(word_col))
    out = vocab.withColumn("tokens", tokens).withColumn(
        "n_tokens", F.size("tokens")
    )
    # byte-token count is Catalyst-side (the kernel stays one pass);
    # without byte_fallback no <0xNN> piece can be EMITTED, so the
    # count is a constant 0 — skipping the per-token regex pass also
    # avoids miscounting a literal input word "<0xab>" as a byte token
    # (ADVICE r11; bpe_encode is safe regardless, it lowercases and
    # word-splits first)
    if not bf:
        return out.withColumn(
            "n_byte_tokens", F.lit(0).cast("int")
        )
    return out.withColumn(
        "n_byte_tokens",
        F.size(
            F.filter("tokens", lambda t: t.rlike(BYTE_TOKEN_RLIKE))
        ),
    )


def bpe_encode(
    df: DataFrame,
    merges: list,
    text_col: str = "text",
    id_col: str = "doc_id",
    broadcast_vocab: bool = False,
    byte_fallback: bool = False,
    alphabet=None,
    special_tokens=None,
) -> DataFrame:
    """Tokenize a corpus with a TRAINED merge list -> per-document
    (id_col, n_words, n_bpe_tokens, n_chars_tokenized, n_byte_tokens).
    The inference half of the tokenizer pair (`bpe_train*` learns the
    merges; this applies them), and the honest way to budget training
    tokens — the regex proxy `functions/text.py::bpe_ish_token_count`
    estimates, this COUNTS.

    `byte_fallback` (+ `alphabet` from `train_alphabet`): characters
    outside the trained alphabet encode as `<0xNN>` UTF-8 byte pieces
    instead of surviving as out-of-vocabulary single-char symbols — the
    no-UNK guarantee production tokenizers ship; `n_byte_tokens` counts
    them (they are included in `n_bpe_tokens`). `special_tokens` are
    reserved lowercase-stable strings protected BEFORE word-splitting;
    each occurrence becomes exactly one token (counted as one word).

    Shape: one corpus scan explodes words (same lower/whitespace
    vocabulary as `word_counts`, so train and encode agree on what a
    word is); the distinct-word table is encoded by
    `encode_word_table` (Python cost ∝ vocabulary); per-word token
    counts join back and aggregate per document. Documents with no
    words survive with zero counts (left join on the pre-explode
    frame).

    Scale: 100 TB of text against a 10^8-word vocabulary is a plain
    shuffle hash join on `word` — both sides partition by the join
    key, no broadcast needed; flip `broadcast_vocab=True` when the
    vocabulary is known small (e.g. byte-level alphabets) to make the
    join map-side and leave ONE shuffle (the final per-doc groupBy).
    """
    specs = validate_special_tokens(special_tokens)
    words = df.select(
        F.col(id_col),
        F.explode_outer(
            split_words_col(F.col(text_col), specs)
        ).alias("word"),
    ).where((F.col("word").isNotNull()) & (F.col("word") != ""))
    vocab = words.select("word").distinct()
    enc = encode_word_table(
        vocab,
        merges,
        alphabet=alphabet,
        byte_fallback=byte_fallback,
        specials=specs,
    ).select(
        "word",
        "n_tokens",
        "n_byte_tokens",
        F.length("word").alias("n_word_chars"),
    )
    if broadcast_vocab:
        enc = F.broadcast(enc)
    per_doc = (
        words.join(enc, "word")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum("n_tokens").cast("long").alias("n_bpe_tokens"),
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
                "n_bpe_tokens": 0,
                "n_chars_tokenized": 0,
                "n_byte_tokens": 0,
            }
        )
    )


def assemble_doc_ids(
    df: DataFrame,
    words: DataFrame,
    word_ids: DataFrame,
    id_col: str,
    eos_id: Optional[int] = None,
) -> DataFrame:
    """Shared document-reassembly tail of both id encoders
    (`bpe_encode_ids`, `unigram_encode_ids`): join per-word id arrays
    (`word_ids`: word, __wids) back onto the positional word stream
    (`words`: id_col, pos, word), restore document order with
    array_sort(collect_list(struct(pos, ids))) + flatten — no window
    sort — and left-join onto `df` so empty documents survive with
    ids = [] (+ optional per-doc eos). → (id_col, ids, n_tokens)."""
    return assemble_position_ids(
        df, words.join(word_ids, "word"), id_col, eos_id
    )


def assemble_position_ids(
    df: DataFrame,
    pos_ids: DataFrame,
    id_col: str,
    eos_id: Optional[int] = None,
) -> DataFrame:
    """The order-restoring tail of `assemble_doc_ids`, taking the
    already-resolved positional stream (`pos_ids`: id_col, pos,
    __wids) directly — the entry point for per-OCCURRENCE encoders
    (`unigram.unigram_sample_encode_ids(per_occurrence=True)`), whose
    id arrays differ per (doc, pos) and so cannot round-trip through a
    distinct-word join."""
    per_doc = (
        pos_ids.groupBy(id_col)
        .agg(
            F.flatten(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "__wids"))),
                    lambda s: s["__wids"],
                )
            ).alias("ids")
        )
    )
    out = (
        df.select(id_col)
        .join(per_doc, id_col, "left")
        .select(
            id_col,
            F.coalesce(F.col("ids"), F.array().cast("array<int>")).alias(
                "ids"
            ),
        )
    )
    if eos_id is not None:
        out = out.withColumn(
            "ids", F.concat("ids", F.array(F.lit(int(eos_id)).cast("int")))
        )
    return out.withColumn("n_tokens", F.size("ids"))


def decode_ids(
    df: DataFrame,
    table,
    ids_col: str = "ids",
    out_col: str = "text",
    sep_id: Optional[int] = None,
    skip_ids=(),
) -> DataFrame:
    """Invert an id encoding (round-12, VERDICT r11 #3): map an
    `array<int>` column back to text through an id table
    (`bpe_id_table` / `unigram.piece_id_table`) — ids → pieces →
    `decode_pieces` (byte tokens decode through UTF-8, every other
    piece is literal). The inverse a dataloader debugging a packed
    shard needs; works on encoder output AND `pack_sequence_ids` rows
    (all other columns pass through).

    Sentinel contract: ids in `skip_ids` (EOS, pad) and `sep_id` are
    consumed as bookkeeping wherever they appear, so those tokens must
    be RESERVED — strip or escape them from raw text upstream, exactly
    the discipline production tokenizers apply to their control
    tokens. Non-sentinel specials round-trip as literal words.
    `sep_id` names the word-separator id the encoders emit with
    `word_sep=...`: the stream splits on it and words rejoin with a
    single space, which is what makes the ID-level round-trip law
    exact — decode_ids ∘ encode_ids(word_sep=s) == the tokenizers'
    canonical text (lowercase, specials space-padded, whitespace
    collapsed). Without `sep_id` the pieces decode as one contiguous
    chunk (word-level use, or streams whose boundaries you don't
    need).

    Scale: one linear Arrow pass; the id→piece mapping broadcasts as
    DENSE numpy lookup arrays (vocabulary-sized), so the kernel is
    numpy gathers — piece lookup, skip/sep masking, and validity all
    vectorize (VERDICT r12 #6: the old per-token dict-get loop is
    gone); only the final per-word string join and the rare
    byte-fallback runs touch Python objects. No shuffle. Raises on an
    id missing from the table rather than emitting silently corrupt
    text.

    Density guard (ADVICE r13): the dense arrays are sized
    max(max_id, sep_id, skip_ids)+1 — a caller passing a large
    sentinel id (e.g. 2**31-1) or a sparse table would allocate
    gigabytes on the driver AND in every executor's broadcast copy, so
    when the top id exceeds 4× the table size (min 4096) the kernel
    falls back to the O(table-entries) dict path, semantics identical
    (parity-tested in tests/test_token_ids.py). The table builders'
    contiguous layouts always stay dense."""
    import numpy as np
    import pandas as pd  # noqa: F401 — anchors the Arrow path
    from pyspark.sql.functions import pandas_udf

    inv = {int(i): t for t, i in table}
    if len(inv) != len(table):
        raise ValueError("decode_ids: id table assigns one id twice")
    skips = frozenset(int(s) for s in skip_ids)
    sid = int(sep_id) if sep_id is not None else None
    max_id = max(inv) if inv else 0
    top = max(max_id, sid if sid is not None else 0, *(list(skips) or [0]))
    if not _decode_dense_ok(top, len(inv) + len(skips) + 1):
        return _decode_ids_sparse(
            df, inv, skips, sid, ids_col=ids_col, out_col=out_col
        )
    # dense lookup tables (ids are small non-negative ints by the
    # table builders' layout): piece string, validity, drop (skip/sep
    # bookkeeping — sep kept distinct for the split), byte-token flag
    piece_arr = np.empty(top + 1, dtype=object)
    valid = np.zeros(top + 1, dtype=bool)
    is_byte = np.zeros(top + 1, dtype=bool)
    for i, t in inv.items():
        piece_arr[i] = t
        valid[i] = True
        is_byte[i] = t in _BYTE_TOKEN_SET
    drop = np.zeros(top + 1, dtype=bool)
    for s in skips:
        drop[s] = True
        valid[s] = True  # consumed, never "missing"
    if sid is not None:
        valid[sid] = True
    b_tabs = df.sparkSession.sparkContext.broadcast(
        (piece_arr, valid, drop, is_byte)
    )

    def kernel(col):
        pieces_t, valid_t, drop_t, byte_t = b_tabs.value
        n_tab = len(valid_t)

        def one(ids):
            if ids is None:
                return None
            a = np.asarray(ids, dtype=np.int64)
            if a.size == 0:
                return ""
            if a.min() < 0 or a.max() >= n_tab or not valid_t[a].all():
                bad = a[(a < 0) | (a >= n_tab) | ~valid_t[np.clip(a, 0, n_tab - 1)]][0]
                raise ValueError(
                    f"decode_ids: id {int(bad)} is not in the id table"
                )
            a = a[~drop_t[a]]
            if sid is None:
                chunks = [a] if a.size else []
            else:
                cuts = np.flatnonzero(a == sid)
                chunks = []
                # each split chunk ends with the separator — strip it,
                # drop empties (consecutive/leading/trailing seps)
                for c in np.split(a, cuts + 1):
                    c = c[c != sid]
                    if c.size:
                        chunks.append(c)
            words = []
            for c in chunks:
                ps = pieces_t[c]
                if byte_t[c].any():
                    words.append(decode_pieces(ps.tolist()))
                else:
                    words.append("".join(ps.tolist()))
            return " ".join(words)

        return col.map(one)

    return df.withColumn(
        out_col, pandas_udf(kernel, "string")(F.col(ids_col))
    )


def _decode_dense_ok(top: int, n_entries: int) -> bool:
    """True when dense numpy lookup tables sized `top + 1` are an
    acceptable trade for an id universe of `n_entries` table entries:
    the top id must stay under max(4096, 4 × entries). Above that the
    table is sparse (or a sentinel id is a large magic number) and the
    dict kernel's O(entries) state wins."""
    return top < max(4096, 4 * max(1, n_entries))


def _decode_ids_sparse(
    df: DataFrame,
    inv: dict,
    skips: frozenset,
    sid: Optional[int],
    ids_col: str,
    out_col: str,
) -> DataFrame:
    """Dict-lookup decode kernel — `decode_ids`' fallback for SPARSE id
    universes (large sentinel sep/skip ids, gappy tables) where the
    dense numpy tables would allocate O(max_id) memory per executor.
    Semantics are byte-identical to the dense path: skip ids consumed,
    sep splits words (empties dropped), byte-token runs decode through
    `decode_pieces`, unknown ids raise."""
    import pandas as pd  # noqa: F401 — anchors the Arrow path
    from pyspark.sql.functions import pandas_udf

    b_inv = df.sparkSession.sparkContext.broadcast(
        (dict(inv), frozenset(skips))
    )

    def kernel(col):
        inv_t, skip_t = b_inv.value

        def flush(words, cur, cur_has_byte):
            if cur:
                if cur_has_byte:
                    words.append(decode_pieces(cur))
                else:
                    words.append("".join(cur))

        def one(ids):
            if ids is None:
                return None
            words: list = []
            cur: list = []
            cur_has_byte = False
            for raw in ids:
                i = int(raw)
                if i in skip_t:
                    continue
                if sid is not None and i == sid:
                    flush(words, cur, cur_has_byte)
                    cur, cur_has_byte = [], False
                    continue
                t = inv_t.get(i)
                if t is None:
                    raise ValueError(
                        f"decode_ids: id {i} is not in the id table"
                    )
                cur.append(t)
                cur_has_byte = cur_has_byte or t in _BYTE_TOKEN_SET
            flush(words, cur, cur_has_byte)
            return " ".join(words)

        return col.map(one)

    return df.withColumn(
        out_col, pandas_udf(kernel, "string")(F.col(ids_col))
    )


def bpe_id_table(
    merges: list,
    alphabet,
    byte_fallback: bool = False,
    special_tokens=None,
) -> list:
    """Deterministic token→id assignment for a trained BPE tokenizer —
    `unigram.piece_id_table`'s layout discipline for the merge-list
    world: special tokens first (validated order), then the 256
    reserved `<0xNN>` byte pieces when `byte_fallback`, then the
    trained ALPHABET (sorted — the single-char base symbols), then the
    merge products in TRAINING RANK order (rank order IS the
    vocabulary order for BPE). Collisions keep the first id."""
    toks: list = list(validate_special_tokens(special_tokens))
    if byte_fallback:
        toks += list(BYTE_TOKENS)
    seen = set(toks)
    for ch in sorted(alphabet):
        if ch not in seen:
            seen.add(ch)
            toks.append(ch)
    for a, b, *_rest in merges:
        t = a + b
        if t not in seen:
            seen.add(t)
            toks.append(t)
    return [(t, i) for i, t in enumerate(toks)]


def bpe_encode_ids(
    df: DataFrame,
    merges: list,
    text_col: str = "text",
    id_col: str = "doc_id",
    alphabet=None,
    byte_fallback: bool = False,
    special_tokens=None,
    append_eos: Optional[str] = None,
    word_sep: Optional[str] = None,
) -> DataFrame:
    """Tokenize a corpus to REAL BPE token-id sequences →
    (id_col, ids array<int>, n_tokens) — `bpe_encode`'s counts,
    materialized; the exact contract of `unigram.unigram_encode_ids`
    so the two tokenizers' id pipelines are drop-in interchangeable
    (both feed `corpus.pack_sequence_ids`). Requires `alphabet`
    (`train_alphabet`) — ids need the full base-symbol set whether or
    not `byte_fallback` is on.

    Shape: identical to the unigram twin — posexplode keeps word
    positions, the DISTINCT word table encodes-and-maps in ONE Arrow
    kernel (broadcast ranks + id dict), `assemble_doc_ids` restores
    document order. Two keyed shuffles.

    `word_sep` (opt-in, round-12) names a special token whose id is
    appended after EVERY word's pieces, making word boundaries
    recoverable from the id stream — the convention under which
    `decode_ids(..., sep_id=...)` inverts this encoder EXACTLY
    (SentencePiece marks boundaries inside pieces with '▁'; a separate
    sep id keeps this repo's piece vocabulary and existing pins
    untouched). Default None = stream unchanged.
    """
    import pandas as pd  # noqa: F401 — anchors the Arrow path
    from pyspark.sql.functions import pandas_udf

    if alphabet is None:
        raise ValueError(
            "bpe_encode_ids requires alphabet (train_alphabet): the id "
            "table must cover every base symbol"
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
    table = bpe_id_table(merges, alphabet, byte_fallback, specs)
    pid = dict(table)
    eos_id = pid[append_eos] if append_eos is not None else None
    sep_id = pid[word_sep] if word_sep is not None else None
    ranks = {(a, b): i for i, (a, b, *_rest) in enumerate(merges)}
    spark = df.sparkSession
    b_ranks = spark.sparkContext.broadcast(ranks)
    b_pid = spark.sparkContext.broadcast(pid)
    alpha = frozenset(alphabet)
    bf = bool(byte_fallback)
    spec_set = frozenset(specs)

    def kernel(ws):
        r = b_ranks.value
        ids_of = b_pid.value
        memo: dict = {}

        def one(w):
            t = memo.get(w)
            if t is None:
                toks = encode_word(
                    w, r, alphabet=alpha, byte_fallback=bf,
                    specials=spec_set,
                )
                try:
                    t = [ids_of[p] for p in toks]
                except KeyError as e:
                    raise ValueError(
                        f"bpe_encode_ids: token {e.args[0]!r} has no id "
                        "(out-of-alphabet character without "
                        "byte_fallback=True)"
                    ) from None
                if sep_id is not None:
                    t = t + [sep_id]
                memo[w] = t
            return t

        return ws.map(one)

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


def merges_save(spark, merges: list, path: str) -> None:
    """Persist a trained BPE merge list as parquet (rank, a, b, cnt) —
    train once, encode across sessions (the unigram `vocab_save`
    discipline; rank preserves training order, which IS the tokenizer)."""
    spark.createDataFrame(
        [(i, a, b, int(c)) for i, (a, b, c, *_rest) in enumerate(
            (m if len(m) >= 3 else (*m, 0)) for m in merges
        )],
        "rank int, a string, b string, cnt long",
    ).coalesce(1).write.mode("overwrite").parquet(path)


def merges_load(spark, path: str) -> list:
    """Reload a `merges_save`d merge list in training (rank) order —
    encode parity with the in-session list is round-trip-tested."""
    rows = spark.read.parquet(path).orderBy("rank").collect()
    return [(r["a"], r["b"], r["cnt"]) for r in rows]
