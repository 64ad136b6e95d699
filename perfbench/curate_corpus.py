"""curate_corpus: the cleaning half of the LLM pretraining-data chain
over a corpus with little duplication.

language ID + quality score and filter -> exact dedup -> line dedup ->
MinHash near-dup keep -> decontaminate train against the held-out split
(the clean documents whose doc_id % 10 == 0).  Every stage is persisted
on disk and counted.  The language-model tail (unigram train, perplexity
filter, id encoding, packing) is left out: it costs about 30 s per pass
whatever the corpus size, more than a whole run may take.
"""

from __future__ import annotations

import os
import time

from pyspark.sql import functions as F

from common import IterResult, Workload, check, duck, materialize, tree_cpu_s

from flask_data_pipes_spark.functions import text as T
from flask_data_pipes_spark.operators import corpus, dedup

LANGID_TOKENS = 64
MINHASH = dict(n_hashes=24, band_size=6, shingle_n=5, seed=1)
DECON = dict(k=8, max_test_gram_df=1000)
# near-dup keep must remove at least this share of the planted near
# copies (one word changed per line: Jaccard about 0.8, which LSH finds
# with high, not certain, probability) and keep at least this share of
# the documents it gets; both with a margin below what seeds 1-24 gave
# (see README)
MIN_NEAR_FOUND = 0.5
MIN_NEAR_KEEP = 0.1

LAYERS = [
    ("operators.dedup.exact_dedup", dedup, "exact_dedup"),
    ("operators.dedup.line_dedup", dedup, "line_dedup"),
    ("operators.dedup.minhash_dedup_keep", dedup, "minhash_dedup_keep"),
    ("operators.corpus.decontaminate", corpus, "decontaminate"),
]


def score(docs):
    """Language ID, quality and fingerprint projection, then the clean
    filter (English, quality >= 0.6)."""
    toks = T.whitespace_tokens(F.lower(F.col("text")))
    staged = docs.select("doc_id", "text", toks.alias("toks"))
    hits = T.language_hits(F.slice(F.col("toks"), 1, LANGID_TOKENS))
    staged = staged.select("doc_id", "text", "toks",
                           *[h.alias(f"h{i}") for i, h in enumerate(hits)])
    scored = staged.select(
        "doc_id", "text",
        T.language_argmax([F.col(f"h{i}") for i in range(len(hits))]).alias("lang"),
        T.quality_score("text", toks=F.col("toks")).alias("quality"),
        T.doc_fingerprint("text", toks=F.col("toks")).alias("fingerprint"),
    )
    return scored.where((F.col("lang") == "en") & (F.col("quality") >= 0.6)) \
                 .select("doc_id", "text")


class CurateCorpus(Workload):
    name = "curate_corpus"

    def install(self, tracer) -> None:
        for name, module, attr in LAYERS:
            tracer.install(module, attr, name, "build")

    def chain(self, path: str) -> tuple[dict, dict, list]:
        """Run the chain; return stage counts, verification handles and
        the persisted frames to release."""
        spark, tr = self.ctx.spark, self.ctx.tracer
        kept_frames = []

        def keep(name, df):
            df, n = materialize(tr, name, df)
            kept_frames.append(df)
            return df, n

        docs = spark.read.parquet(path).repartition(8, "doc_id")
        with tr.span("functions.text.score", "build"):
            scored = score(docs)
        clean, n_clean = keep("functions.text.score", scored)
        survivors = dedup.exact_dedup(clean, "text", "doc_id")
        exact, n_exact = keep("operators.dedup.exact_dedup", clean.join(
            survivors.select(F.col("keep_doc_id").alias("doc_id")), "doc_id", "left_semi"))
        lines, n_lines = keep("operators.dedup.line_dedup", dedup.line_dedup(exact, "text", "doc_id")
                              .select("doc_id", F.col("clean_text").alias("text"))
                              .where(F.trim("text") != ""))
        near, n_near = keep("operators.dedup.minhash_dedup_keep",
                            dedup.minhash_dedup_keep(lines, "text", "doc_id", **MINHASH))
        train = near.where(F.col("doc_id") % 10 != 0)
        test = clean.where(F.col("doc_id") % 10 == 0)
        contam = corpus.decontaminate(train, test, "text", "doc_id", **DECON)
        decon, n_decon = keep("operators.corpus.decontaminate",
                              train.join(contam.select("doc_id"), "doc_id", "left_anti"))
        counts = dict(clean=n_clean, exact=n_exact, lines=n_lines, near=n_near,
                      decon=n_decon)
        frames = dict(exact=exact, lines=lines, near=near, decon=decon)
        return counts, frames, kept_frames

    def verify(self, manifest: dict, counts: dict, frames: dict) -> list[str]:
        """Planted ground truth and DuckDB recounts over the input files."""
        root = manifest["root"]
        con = duck()
        con.execute(f"CREATE VIEW d AS SELECT * FROM read_parquet('{root}/documents.parquet')")
        con.execute(f"CREATE VIEW t AS SELECT * FROM read_parquet('{root}/truth.parquet')")
        clean_kinds = "('clean', 'exact_dup', 'near_dup', 'contaminated')"
        n_clean, n_distinct = con.execute(
            "SELECT count(*), count(DISTINCT array_to_string("
            r"string_split_regex(trim(lower(text)), '\s+'), ' ')) "
            f"FROM d JOIN t USING (doc_id) WHERE kind IN {clean_kinds}").fetchone()
        copies = {r[0] for r in con.execute(
            "SELECT doc_id FROM t WHERE kind = 'exact_dup'").fetchall()}
        near_copies = {r[0] for r in con.execute(
            "SELECT doc_id FROM t WHERE kind = 'near_dup'").fetchall()}
        contaminated = {r[0] for r in con.execute(
            "SELECT doc_id FROM t WHERE kind = 'contaminated'").fetchall()}
        con.close()
        ids = {k: {r[0] for r in frames[k].select("doc_id").collect()}
               for k in ("exact", "lines", "near", "decon")}
        texts = [r[0] for r in frames["lines"].select("text").collect()]
        lines = [ln for t in texts for ln in t.split("\n") if ln.strip()]
        p: list[str] = []
        check(p, counts["clean"] == n_clean, f"clean {counts['clean']} != planted {n_clean}")
        check(p, counts["exact"] == n_distinct, f"exact-dedup {counts['exact']} != {n_distinct}")
        check(p, not (copies & ids["exact"]), "a planted exact copy survived exact dedup")
        check(p, len(lines) == len(set(lines)), "a repeated line survived line dedup")
        check(p, ids["near"] <= ids["lines"], "near-dup keep invented documents")
        check(p, near_copies <= ids["lines"], "line dedup emptied a planted near copy")
        found = len(near_copies - ids["near"]) / max(len(near_copies), 1)
        check(p, found >= MIN_NEAR_FOUND,
              f"near-dup keep removed {found:.2f} of the planted near copies")
        check(p, counts["near"] >= MIN_NEAR_KEEP * counts["lines"],
              f"near-dup keep kept {counts['near']} of {counts['lines']} documents")
        check(p, not (contaminated & ids["decon"]),
              f"contaminated documents survived: {sorted(contaminated & ids['decon'])[:5]}")
        return p

    def layer_probes(self, lines) -> None:
        """Traced run only, after the timed part.  Inside
        minhash_dedup_keep the candidate-pair jobs are that call's, so
        candidate_pairs runs once more here, alone, over a persisted band
        table of the same documents, as near_dup runs it."""
        tr = self.ctx.tracer
        bands = dedup.minhash_bands(lines, "text", "doc_id", **MINHASH).persist()
        bands.count()
        with tr.span("operators.dedup.candidate_pairs", "build"):
            pairs = dedup.candidate_pairs(bands, "doc_id")
        tr.exec("operators.dedup.candidate_pairs", pairs.count)
        bands.unpersist()

    def _pass(self, manifest: dict) -> IterResult:
        path = os.path.join(manifest["root"], "documents.parquet")
        c0, t0 = tree_cpu_s(), time.perf_counter()
        with self.ctx.tracer.span("bench.iteration", "root"):
            counts, frames, kept = self.chain(path)
        wall, cpu = time.perf_counter() - t0, tree_cpu_s() - c0
        try:
            problems = self.verify(manifest, counts, frames)
            if self.ctx.tracer.enabled and self.ctx.tracer.iteration >= 0:
                self.layer_probes(frames["lines"])
        finally:
            for df in kept:
                df.unpersist()
        return IterResult(wall, cpu, manifest["truth"]["rows_in"], [wall * 1000.0],
                          [cpu * 1000.0], [not problems], problems)

    def iteration(self, i: int) -> IterResult:
        return self._pass(self.ctx.inputs)
