"""Plan-shape audits: assert the physical plans have the properties the
100 TB design depends on — broadcast joins for dims, pushed-down
filters, partial aggregation, and no cartesian products anywhere in the
catalog."""

from __future__ import annotations

import pytest

import __spark_entry__ as entry


def _plan(spark, sf_dir, name: str) -> str:
    df = entry.queries()[name](spark, sf_dir)
    return df._jdf.queryExecution().executedPlan().toString()


def test_q3_broadcasts_customer(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q3_top_orders")
    assert "BroadcastHashJoin" in plan
    # top-k is TakeOrderedAndProject, not a global sort
    assert "TakeOrderedAndProject" in plan


def test_q5_broadcasts_all_dims(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q5_nation_revenue")
    assert plan.count("BroadcastHashJoin") >= 4  # customer/supplier/nation/region


def test_q1_pushes_filter_to_scan(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q1_pricing_summary")
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan


def test_q1_partial_aggregation(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q1_pricing_summary")
    # two HashAggregate nodes: partial (map-side) + final after shuffle
    assert plan.count("HashAggregate") >= 2


def test_scan_prunes_columns(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q_mktsegment_stats")
    # only the 2 needed columns reach the parquet reader
    assert "ReadSchema: struct<c_acctbal:double,c_mktsegment:string>" in plan
    assert "c_custkey" not in plan and "c_name" not in plan


@pytest.mark.parametrize("name", sorted(entry.queries()))
def test_no_cartesian_products(spark, sf_dir, name):
    df = entry.queries()[name](spark, sf_dir)
    # driver-contract build check rides the same build (round 16: the
    # suite used to build all 170 entries a SECOND time — including
    # re-executing the eager ones — inside
    # test_driver_contract_integrity, ~200 s of pure duplication)
    assert df.columns, f"{name} produced no columns"
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan, f"{name} plans a cartesian product"


def test_narrow_maps_have_no_exchange(spark, sf_dir):
    """Pure per-row operator queries (scalar vocab, token stats, quality,
    language id) must plan zero shuffles — except the optional
    spread_for_cpu repartition (REPARTITION_BY_NUM), the round-15
    local-parallelism spread that is a no-op at real scale. No
    ENSURE_REQUIREMENTS exchange (a real shuffle an operator demanded)
    may appear."""
    for name in [
        "etl_recast_vocab",
        "llm_token_stats",
        "llm_quality",
        "llm_langid",
        "llm_fingerprint",
        "llm_pii_redact",
    ]:
        plan = _plan(spark, sf_dir, name)
        assert "ENSURE_REQUIREMENTS" not in plan, f"{name} shuffles a narrow map"
        n_exchanges = plan.count("Exchange")
        n_spreads = plan.count("REPARTITION_BY_NUM")
        assert n_exchanges == n_spreads, (
            f"{name} has a non-spread exchange"
        )


def test_pack_sequences_no_global_sort(spark, sf_dir):
    """The packing prefix-sum must run inside hash-group-partitioned
    windows — never a single-partition global window (the classic
    cumulative-sum scale trap)."""
    plan = _plan(spark, sf_dir, "llm_pack_sequences")
    assert "SinglePartition" not in plan, "packing window collapsed to one partition"
    assert "hashpartitioning(grp" in plan


def test_exact_dedup_single_shuffle(spark, sf_dir):
    """Exact dedup = one shuffle on the fingerprint, nothing else."""
    plan = _plan(spark, sf_dir, "llm_dedup_exact")
    assert plan.count("Exchange") == 1


def test_minhash_pairs_scans_input_once(spark, sf_dir):
    """LSH pairing must evaluate the signature subtree once: bucket-local
    pair enumeration, not a self-join (which would scan + re-hash the
    corpus per side). Shuffles: spread + band-key agg + anchor
    round-robin (the skew split) + pair distinct."""
    plan = _plan(spark, sf_dir, "llm_minhash_pairs")
    assert plan.count("Scan parquet") == 1
    assert plan.count("Exchange") <= 4


@pytest.mark.parametrize("scale", ["sf0.001", "sf0.1"])
@pytest.mark.parametrize(
    "name,n_exchanges",
    [
        ("llm_minhash_bands", 1),
        ("llm_minhash_pairs", 3),
        ("llm_minhash_dedup_keep", 5),
    ],
)
def test_minhash_kernel_plan_shape(spark, sf_dir, scale, name, n_exchanges):
    """The MinHash kernel is one codegen'd explode -> min-aggregate pass:
    no higher-order lambda in the band plan, and the id-keyed aggregate
    reuses the spread's hashpartitioning(id), so the MinHash consumers
    keep their Exchange counts (bands: the spread alone)."""
    import os

    scale_dir = os.path.join(os.path.dirname(sf_dir), scale)
    if not os.path.isdir(scale_dir):
        pytest.skip(f"no {scale} testdata")
    plan = _plan(spark, scale_dir, name)
    if name == "llm_minhash_bands":
        assert "lambdafunction" not in plan, plan
    assert plan.count("Exchange") == n_exchanges, plan


def test_cosine_topk_broadcasts_queries(spark, sf_dir):
    """Brute-force top-k must broadcast the query set (Q×N, linear in
    corpus) — the corpus side never shuffles for the join."""
    plan = _plan(spark, sf_dir, "llm_cosine_topk")
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan


@pytest.mark.parametrize(
    "name",
    [
        "etl_recast_vocab",
        "llm_quality",
        "llm_minhash_bands",
        "llm_dedup_exact",
        "llm_cosine_topk",
        "q_sessionize",
        "llm_pii_redact",
        "llm_decontaminate",
        "llm_pack_sequences",
        "llm_repetition",
        "llm_lang_topterms",
        "llm_split_assign",
    ],
)
def test_no_python_in_hot_paths(spark, sf_dir, name):
    """The JVM-side claim: scalar vocabulary, hashing, folds, and window
    ops never drop into a Python worker (BatchEvalPython /
    ArrowEvalPython / FlatMapGroupsInPandas absent). Only the explicitly
    Pandas-backed multimodal ops may."""
    plan = _plan(spark, sf_dir, name)
    for marker in ("BatchEvalPython", "ArrowEvalPython", "FlatMapGroupsInPandas", "MapInPandas"):
        assert marker not in plan, f"{name} plan contains {marker}"


def test_bucketed_join_has_no_shuffle(spark, sf_dir, tmp_path):
    """Co-located join discipline: pre-bucketing both sides on the join
    key (the 100 TB answer for repeated fact-fact joins) must plan a
    SortMergeJoin with NO Exchange on either side — bucket layout
    replaces the shuffle."""
    import uuid

    db = f"bucketdb_{uuid.uuid4().hex[:8]}"
    warehouse = str(tmp_path / "wh")
    spark.sql(f"CREATE DATABASE {db} LOCATION '{warehouse}'")
    try:
        from flask_data_pipes_spark.sinks import write_bucketed

        orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
        lineitem = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        write_bucketed(orders, f"{db}.orders_b", ["o_orderkey"], 8)
        write_bucketed(lineitem, f"{db}.lineitem_b", ["l_orderkey"], 8)
        ob = spark.table(f"{db}.orders_b")
        lb = spark.table(f"{db}.lineitem_b")
        # MERGE hint: at test SF the sides fit the broadcast threshold,
        # which would bypass the bucket layout we're asserting on.
        joined = lb.join(ob.hint("merge"), lb.l_orderkey == ob.o_orderkey).select(
            "l_orderkey", "o_orderdate", "l_quantity"
        )
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan, "bucketed join still shuffles"
        # and it computes the same rows as the shuffle join
        shuffled = lineitem.join(
            orders, lineitem.l_orderkey == orders.o_orderkey
        )
        assert joined.count() == shuffled.count()
    finally:
        spark.sql(f"DROP DATABASE {db} CASCADE")


def test_aqe_splits_skewed_join(spark):
    """Skew resilience: with AQE on, a join whose shuffle has one hot
    key re-plans at runtime into a skew-split SortMergeJoin
    (`skew=true`) instead of serializing on the hot partition — the
    runtime half of the skew strategy (q_salted_agg is the static
    half)."""
    import pyspark.sql.functions as SF

    confs = {
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "64KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "32KB",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    old = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        left = spark.range(0, 200_000).select(
            SF.when(SF.col("id") % 10 < 9, SF.lit(7)).otherwise(SF.col("id")).alias("k"),
            SF.concat(SF.lit("x" * 64), SF.col("id").cast("string")).alias("pad"),
        )
        right = spark.range(0, 5000).select(
            SF.col("id").alias("k"), SF.col("id").alias("v")
        )
        j = left.join(right, "k")
        assert len(j.collect()) == 180_500
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in plan
        assert "skew=true" in plan, "AQE did not split the skewed partition"
    finally:
        for k, v in old.items():
            if v is not None:
                spark.conf.set(k, v)


def test_runtime_bloom_filter_prunes_fact_side(spark, tmp_path):
    """Runtime row-level filtering: a selective predicate on one join
    side injects a bloom-filter (`might_contain`) onto the fact side's
    scan, pruning non-joining rows BEFORE the shuffle — at 100 TB this
    is the difference between shuffling the full fact table and
    shuffling only the ~matching slice. (The application-side size
    threshold is lowered because local testdata is far below the 10 GB
    default that gates the rewrite in production.)"""
    import pyspark.sql.functions as SF

    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
    }
    old = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        fact_p = str(tmp_path / "fact")
        dim_p = str(tmp_path / "dim")
        spark.range(0, 1_000_000).select(
            SF.col("id").alias("k"), (SF.col("id") % 97).alias("v")
        ).write.parquet(fact_p)
        spark.range(0, 1_000_000).select(
            SF.col("id").alias("k"), (SF.col("id") % 13).alias("w")
        ).write.parquet(dim_p)
        fact = spark.read.parquet(fact_p)
        dim = spark.read.parquet(dim_p).where(SF.col("w") == 3)
        j = fact.join(dim, "k")
        plan = j._jdf.queryExecution().executedPlan().toString().lower()
        assert "bloomfilter" in plan or "might_contain" in plan
    finally:
        for k, v in old.items():
            if v is not None:
                spark.conf.set(k, v)


def test_driver_contract_integrity():
    """__spark_entry__ invariants the grading driver relies on: every
    oracle key maps to a registered query, names are unique and
    non-empty, and every entry is callable. The per-entry "builds a
    DataFrame with ≥1 column" check rides test_no_cartesian_products
    (same session, same build — building all 170 entries twice cost
    the suite ~200 s, round 16)."""
    qs = entry.queries()
    os_ = entry.oracle_sql()
    assert set(os_) <= set(qs), set(os_) - set(qs)
    assert all(qs.values())
    assert all(callable(fn) for fn in qs.values())
    assert all(isinstance(n, str) and n for n in qs)


def test_checked_prefix_frozen():
    """The 50 gate-checked names, in order, are frozen as of round 16
    (sha256 over the newline-joined list). A re-curation shows up as
    dropped queries in the verdict even when every entry stays oracled,
    so changing the prefix must be a deliberate edit of this digest."""
    import hashlib

    from flask_data_pipes_spark.plans.catalog import CHECKED_PREFIX

    digest = hashlib.sha256("\n".join(CHECKED_PREFIX).encode()).hexdigest()
    assert digest == "85bef16aee1a6a7e54989a04182eeb94d7d81d8c21017a2059f030a9c8531e4f"


def test_checked_prefix_curated():
    """The driver's gate checks the first 50 queries() names in
    enumeration order. Assert the curated prefix: exactly 50 unique
    registered names, every one oracled (full hash check, not
    rows-only), enumeration leads with them, and each major operator
    family has a representative inside the checked window."""
    from flask_data_pipes_spark.plans.catalog import CHECKED_PREFIX

    qs = entry.queries()
    os_ = entry.oracle_sql()
    names = list(qs)
    assert len(CHECKED_PREFIX) == 50
    assert len(set(CHECKED_PREFIX)) == 50
    assert names[:50] == CHECKED_PREFIX
    missing_oracle = [n for n in CHECKED_PREFIX if n not in os_]
    assert not missing_oracle, missing_oracle
    families = {
        # round-8: q_funnel took q_range_join's slot (asof keeps the
        # temporal-join machinery gated; range_join oracled + swept)
        "temporal": ["q_asof_join", "q_range_join"],
        "funnel": ["q_funnel"],
        # round-6 re-curation: sketch trio / BPE / expectations /
        # layout families are driver-gated
        "hll": ["llm_hll_distinct"],
        "bottomk": ["llm_bottomk_quantiles"],
        "bpe": ["llm_bpe_pair_counts"],
        "expectations": ["q_expectations_orders"],
        # round-7: enforcement leg gated alongside the report
        "expectations-enforcement": ["q_quarantine_orders"],
        "layout": ["q_zorder_key"],
        "minhash": ["llm_minhash_pairs"],
        "simhash": ["llm_simhash_pairs"],
        # round-14: llm_html_extract (the crawl front door's only
        # oracled member; the WARC reader is golden-pinned) took
        # llm_ngram_jaccard_pairs's slot — shingle-set postings +
        # pair equi-join machinery rides minhash/simhash pairs;
        # jaccard_pairs stays oracled + swept
        "html-extract": ["llm_html_extract"],
        "jaccard-pairs": ["llm_ngram_jaccard_pairs", "llm_minhash_pairs"],
        "clusters": ["llm_dedup_clusters"],
        "semantic-dedup": ["llm_semdedup_production", "llm_embedding_neardup"],
        # round-8: llm_retrieval_eval took llm_cosine_topk's slot (it
        # runs cosine_topk k=10 internally — brute path transitively
        # gated; cosine_topk stays oracled + swept)
        "ann": ["llm_retrieval_eval", "llm_lsh_topk"],
        "retrieval-eval": ["llm_retrieval_eval"],
        # round-13: llm_kn_cross took llm_boilerplate_prune's slot
        # (line-grain explode/frequency/rebuild machinery rides
        # llm_line_dedup + the fused corpus_clean; boilerplate_prune
        # stays oracled + swept)
        "corpus": ["llm_corpus_clean", "llm_boilerplate_prune"],
        # round-13: the train-on-A-score-B LM split — model build,
        # persistence, and backoff scoring under one oracle
        "lm-train-score-split": ["llm_kn_cross"],
        # round-15: llm_url_dedup took llm_line_dedup's slot —
        # keep-first line machinery rides the fused corpus_clean;
        # line_dedup stays oracled + swept
        "line-dedup-keep-first": ["llm_line_dedup", "llm_corpus_clean"],
        # round-15: the charset/content-encoding WARC response path
        # (llm_warc_charset took llm_kmv_overlap's slot — bottom-k
        # sketch folds ride llm_bottomk_quantiles; kmv stays oracled
        # + swept + sf10-gated)
        "warc-charset": ["llm_warc_charset"],
        # round-15: URL normalize + dedup + per-domain cap chain
        "url-ops": ["llm_url_dedup"],
        "gapfill-rollup": ["q_gapfill_events"],
        # round-12: llm_decode_roundtrip took llm_media_header's slot
        # (magic-byte sniffing rides multimodal_meta's binary-prefix
        # machinery; media_header stays oracled + swept)
        "multimodal": ["llm_multimodal_meta", "llm_media_header"],
        # round-12: the ID-level round-trip law (encode → decode ==
        # tokenizer-free canonical text), the only oracled member of
        # the decode/inverse family
        "decode-roundtrip": ["llm_decode_roundtrip"],
        "sparse-retrieval": ["llm_bm25_topk"],
        "cdc": ["llm_cdc_chunks"],
        "corpus-health": ["llm_vocab_stats"],
        # round-11: encoding/script signals ride the same
        # tokenize-explode machinery as vocab_stats (encoding_noise
        # displaced by tokenizer coverage, stays oracled + swept)
        "encoding-and-script": ["llm_encoding_noise", "llm_vocab_stats"],
        # round-11: the only ORACLED member of the tokenizer-encode
        # family (bpe/unigram encode are golden-pinned) joins the gate
        "tokenizer-encode": ["llm_tokenizer_coverage"],
        # round-16: dsir_weights displaced (VERDICT r15 item 1 — its
        # md5-threshold + tokenize-explode machinery rides
        # llm_split_assign / llm_vocab_stats); stays oracled + swept
        "dsir": ["llm_dsir_weights", "llm_split_assign"],
        # round-16: line_dedup returns to the gate (direct verification
        # of keep-first line-grain rebuild, not just via corpus_clean)
        "line-dedup": ["llm_line_dedup", "llm_corpus_clean"],
        # round-8 additions: SCD2 history, KMV overlap sketch, PSI
        # drift, hybrid-retrieval RRF (displacing q_top3 / token_stats
        # / repetition / embedding_neardup — all of whose machinery
        # remains gated via bm25's window, quality, corpus_clean, and
        # semdedup_production respectively)
        "scd2-history": ["q_scd2_events"],
        "kmv-overlap": ["llm_kmv_overlap", "llm_bottomk_quantiles"],
        "drift": ["llm_psi_drift"],
        "hybrid-retrieval": ["llm_rrf_fusion"],
        "text-signals": ["llm_quality"],
        # round-16: corr_matrix displaced (VERDICT r15 item 1 — its
        # exact-decimal moment aggregation rides q1's DECIMAL(38,6)
        # partial agg); stays oracled + swept
        "profiling-moments": ["q_corr_matrix", "q1_pricing_summary"],
        # round-12: the trained hashed-LR quality classifier — the
        # only oracled member of the model-TRAINING family
        # (weighted_sample displaced; its md5-threshold predicate
        # rides llm_split_assign, stays oracled + swept)
        "model-training": ["llm_lr_train"],
        "hash-threshold-sampling": ["llm_split_assign", "llm_weighted_sample"],
    }
    for fam, members in families.items():
        assert any(m in CHECKED_PREFIX[:50] for m in members), fam


def test_chunk_documents_no_shuffle(spark, sf_dir):
    """Chunking is tokenize-once + explode — a narrow map; any Exchange
    means the operator stopped scaling with scan bandwidth."""
    plan = _plan(spark, sf_dir, "llm_chunk_documents")
    assert "Exchange" not in plan, "chunking shuffles a narrow map"


def test_stratified_sample_no_shuffle_and_pruned(spark, sf_dir):
    """Hash-threshold sampling is a pure filter: no Exchange, and the
    scan reads only the two output columns + text-free predicate inputs."""
    plan = _plan(spark, sf_dir, "llm_stratified_sample")
    assert "Exchange" not in plan
    assert "text" not in plan.split("ReadSchema")[-1], "scan reads unused text column"


def test_jaccard_pairs_single_scan_no_joins(spark, sf_dir):
    """The single-pass posting shape: one scan (sizes ride in the
    posting struct — no re-evaluation, no re-attach joins)."""
    plan = _plan(spark, sf_dir, "llm_ngram_jaccard_pairs")
    assert plan.count("Scan parquet") == 1
    assert "SortMergeJoin" not in plan and "BroadcastHashJoin" not in plan


@pytest.mark.parametrize(
    "name,pattern,max_count",
    [
        # one tokenize per row: the split/lower tree must sit in a
        # staged projection, never inside a per-shingle lambda body
        # (where it re-runs once per element — O(len²)/row). The counts
        # pin "per side of the plan", not per element.
        ("llm_ngram_jaccard_pairs", "split(trim(lower(", 1),
        ("llm_decontaminate", "split(trim(lower(", 2),  # train + test side
        ("llm_ngram_topk", "split(trim(lower(", 1),
        ("llm_minhash_pairs", "lower(text", 1),
        ("llm_minhash_bands", "lower(text", 1),
    ],
)
def test_tokenize_staged_once(spark, sf_dir, name, pattern, max_count):
    """Round-15 staged-tokenization pin: the expensive text-normalize
    subtree appears at most once per plan side — regression guard
    against CollapseProject (or a future edit) inlining it back into a
    higher-order lambda, where it would re-evaluate per shingle."""
    plan = _plan(spark, sf_dir, name)
    assert plan.count(pattern) <= max_count, (
        f"{name}: {pattern!r} appears {plan.count(pattern)}x "
        f"(expected <= {max_count}) — tokenize no longer staged once"
    )


def test_lsh_multiprobe_broadcasts_probes(spark, sf_dir):
    """Multi-probe fan-out stays on the broadcast query side; the corpus
    is hashed once and equi-joined — never re-scanned per probe."""
    plan = _plan(spark, sf_dir, "llm_lsh_topk_multiprobe")
    assert "BroadcastHashJoin" in plan
    assert plan.count("Scan parquet") <= 2  # corpus + query selection


def test_tfidf_single_scan_for_tf_df(spark, sf_dir):
    """tf and df both come from ONE tokenization scan (df is a window
    over the aggregated counts, not a second aggregation of the raw
    tokens); only the 1-row corpus count may rescan."""
    plan = _plan(spark, sf_dir, "llm_tfidf_topterms")
    assert plan.count("Scan parquet") <= 2
    assert "CartesianProduct" not in plan


def test_token_budget_two_phase_equals_single_window(spark, sf_dir):
    """The bucketed two-phase quota select (no partitionBy(lang) window
    over the full data) must equal the naive single-window semantics."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from flask_data_pipes_spark.functions import text as T
    from flask_data_pipes_spark.plans.catalog import load
    from flask_data_pipes_spark.plans.catalog_llm import _BUDGET_TOKENS

    d = load(spark, sf_dir, "documents").filter(F.trim(F.col("text")) != "")
    w = (
        Window.partitionBy("lang")
        .orderBy(F.desc("q"), F.asc("doc_id"))
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    naive = (
        d.select(
            "doc_id",
            "lang",
            T.token_count("text").alias("n_tok"),
            T.quality_score("text").alias("q"),
        )
        .withColumn("cum", F.sum("n_tok").over(w))
        .filter(F.col("cum") <= _BUDGET_TOKENS)
        .select("doc_id", "lang", "n_tok", "q")
    )
    got = sorted(map(tuple, entry.queries()["llm_token_budget"](spark, sf_dir).collect()))
    want = sorted(map(tuple, naive.collect()))
    assert got == want and len(got) > 0


def test_token_budget_no_full_data_window_per_lang(spark, sf_dir):
    """The per-doc window runs partitioned by (lang, bucket) — never by
    lang alone — so no single task ever holds a whole language."""
    plan = _plan(spark, sf_dir, "llm_token_budget")
    import re

    specs = re.findall(r"windowspecdefinition\(([^)]*)\)", plan)
    perdoc = [s for s in specs if "doc_id" in s]  # the per-doc running sum
    assert perdoc, "expected a per-doc running-sum window in the plan"
    for spec in perdoc:
        assert "bucket" in spec, f"full-language window found: {spec}"


def test_domain_blocklist_broadcast_anti_join(spark, sf_dir):
    """The blocklist is domain-granularity (tiny at any corpus size):
    document rows must flow through a broadcast LeftAnti join, never a
    shuffled one."""
    plan = _plan(spark, sf_dir, "llm_domain_blocklist_filter")
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan
    assert "SortMergeJoin" not in plan


def test_bm25_postings_exchange_reused(spark, sf_dir):
    """BM25's stats and document frequencies derive from the SAME
    (doc, term) postings aggregate as the scoring join; at runtime AQE
    must reuse that exchange so the corpus text is scanned+tokenized
    once, not three times. (The static plan prints the subtree thrice;
    the reuse only materializes in the adaptive executed plan.)"""
    df = entry.queries()["llm_bm25_topk"](spark, sf_dir)
    df.collect()  # reuse is an AQE runtime decision
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("ReusedExchange") >= 2
    assert "CartesianProduct" not in plan


def test_cdc_chunks_zero_shuffle(spark, sf_dir):
    """Content-defined chunking is a pure narrow map: boundaries,
    slices, hashes, explode — no Exchange of any kind."""
    plan = _plan(spark, sf_dir, "llm_cdc_chunks")
    assert "Exchange" not in plan


def test_lsh_multitable_corpus_hashed_once(spark, sf_dir):
    """The multi-table corpus projection computes all T buckets in one
    Arrow matmul + posexplode — one corpus scan, one ArrowEvalPython,
    and the query side broadcasts."""
    plan = _plan(spark, sf_dir, "llm_lsh_topk_multitable")
    import re

    assert len(re.findall(r"ArrowEvalPython", plan)) == 1
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_lsh_topk_single_arrow_pass(spark, sf_dir):
    """Round-15 pin: the corpus bucket UDF is nondeterministic-marked so
    the join's inferred isnotnull filter cannot duplicate the
    ArrowEvalPython node (it used to run twice per corpus row)."""
    plan = _plan(spark, sf_dir, "llm_lsh_topk")
    import re

    assert len(re.findall(r"ArrowEvalPython", plan)) == 1, plan


def test_corpus_clean_filter_not_pushed_below_projection(spark, sf_dir):
    """Round-15 pin: the langid/quality filter stays ABOVE the scored
    projection (pushdown barrier), so the heavy lambda expressions are
    evaluated once, after the spread exchange — never inlined into a
    pre-exchange Filter. The scan-side stage must contain no
    higher-order-function evaluation (lambdafunction) at all."""
    df = entry.queries()["llm_corpus_clean"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    # everything below the spread exchange = the text after the LAST
    # "Exchange hashpartitioning" line (tree prints top-down)
    below = plan[plan.rfind("Exchange hashpartitioning") :]
    assert "lambdafunction" not in below, below[:2000]
    # round-15 (stronger): the filter must test a BOUND boolean, not a
    # re-inlined copy of the battery — a condition-level guard alone is
    # pushed through deterministic projections with every alias
    # inlined (Project pushdown only checks the project's fields), so
    # every Filter line in the plan must be lambda-free
    import re as _re

    for line in plan.splitlines():
        if _re.search(r"\bFilter\b", line):
            assert "lambdafunction" not in line, line[:2000]


def test_hll_registers_single_small_shuffle(spark, sf_dir):
    """The HLL build is one narrow codegen map + one <=64-key groupBy:
    exactly one Exchange, no Python evals, and partial aggregation
    present so the shuffle moves <=m rows per input partition."""
    plan = _plan(spark, sf_dir, "llm_hll_registers")
    assert plan.count("Exchange") == 1, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert plan.count("HashAggregate") >= 2  # partial + final


def test_semdedup_production_lazy_sizing_no_job(spark, sf_dir):
    """The driver-gated production SemDeDup sizes its planes from
    parquet FOOTER metadata: constructing the plan must launch zero
    Spark jobs (the count()-based sizing is a documented last resort,
    never the gate path)."""
    from flask_data_pipes_spark.plans.catalog import load

    sc = spark.sparkContext
    # Baseline: how many jobs does a bare table load launch? (parquet
    # schema inference may run a tiny driver-side job; that's not the
    # corpus pass this test polices.)
    sc.setJobGroup("semdedup-prod-base", "load-only baseline")
    try:
        load(spark, sf_dir, "embeddings")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    base_jobs = len(sc.statusTracker().getJobIdsForGroup("semdedup-prod-base"))

    sc.setJobGroup("semdedup-prod-nojob", "sizing must not run jobs")
    try:
        df = entry.queries()["llm_semdedup_production"](spark, sf_dir)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    got = len(sc.statusTracker().getJobIdsForGroup("semdedup-prod-nojob"))
    # no job beyond what load() itself costs — i.e. no COUNT() sizing pass
    assert got <= base_jobs, (got, base_jobs)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_bottomk_quantiles_no_global_sort(spark, sf_dir):
    """The bottom-k sample must plan as TakeOrderedAndProject
    (per-partition partial top-k + one k-row merge), never a global
    Sort + Exchange over the corpus, and the quantile pick must not
    introduce a window."""
    plan = _plan(spark, sf_dir, "llm_bottomk_quantiles")
    assert "TakeOrderedAndProject" in plan, plan
    assert "Window" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_scd2_single_exchange_shared_sort(spark, sf_dir):
    """SCD2's change-collapse lag and interval-cut lead must share ONE
    user-keyed Exchange and ONE Sort (two Window blocks over the same
    ordering) — a second exchange would mean the two window passes
    re-shuffle the dimension stream."""
    plan = _plan(spark, sf_dir, "q_scd2_events")
    assert plan.count("Exchange hashpartitioning") == 1, plan
    n_sorts = sum(
        1 for ln in plan.splitlines() if ln.strip().startswith(("Sort ", "+- Sort "))
        or "+- Sort [" in ln or ln.strip().startswith("Sort [")
    )
    assert n_sorts == 1, f"expected one shared sort, got {n_sorts}"
    assert plan.count("Window") >= 2


def test_kmv_overlap_takeordered_no_global_sort(spark, sf_dir):
    """Each KMV side must plan orderBy(hash).limit(k) as
    TakeOrderedAndProject (per-partition partial top-k) — a standalone
    global Sort would range-shuffle the whole vocabulary. The only
    hash exchanges allowed are the two per-side distincts."""
    plan = _plan(spark, sf_dir, "llm_kmv_overlap")
    assert plan.count("TakeOrderedAndProject") >= 3  # 2 sides + union
    assert plan.count("Exchange hashpartitioning") <= 2, plan
    for ln in plan.splitlines():
        s = ln.strip().lstrip("+-:* ")
        assert not s.startswith("Sort ["), f"global sort in kmv plan: {ln}"


def test_psi_drift_no_sort_no_smj(spark, sf_dir):
    """PSI is aggregates + tiny grid joins: any SortMergeJoin or Sort
    means a bins-row frame got shuffled like a corpus."""
    plan = _plan(spark, sf_dir, "llm_psi_drift")
    assert "SortMergeJoin" not in plan
    for ln in plan.splitlines():
        s = ln.strip().lstrip("+-:* ")
        assert not s.startswith("Sort ["), f"sort in psi plan: {ln}"


def test_lm_family_no_unbounded_broadcast_hints(spark, sf_dir):
    """VERDICT r12 #1: no LM-family operator may force-broadcast an
    unbounded-cardinality (vocabulary-sized) table — at corpus scale
    the whitespace vocabulary is 1e8-1e9 rows (Heaps), far past any
    driver budget, so a forced hint is a guaranteed OOM even though it
    runs fine at test SF. The ONLY broadcast hint each operator may
    carry is its 1-row grand-total aggregate (AQE remains free to
    choose broadcast for the model joins at runtime when they measure
    small — that is a size-gated runtime decision, not a forced hint).
    Asserted on the ANALYZED plan, where explicit hints survive as
    ResolvedHint nodes regardless of what AQE later picks."""
    from flask_data_pipes_spark.operators.corpus import (
        bigram_logprob,
        kn_trigram_logprob,
        unigram_logprob,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    for fn in (unigram_logprob, bigram_logprob, kn_trigram_logprob):
        df = fn(docs)
        analyzed = df._jdf.queryExecution().analyzed().toString()
        n_hints = analyzed.count("ResolvedHint")
        assert n_hints == 1, (
            f"{fn.__name__}: expected exactly one broadcast hint (the "
            f"1-row total), found {n_hints}:\n{analyzed}"
        )


def test_lm_combined_scorers_join_seen_ngrams_only(spark, sf_dir):
    """A combined LM scorer scores its own training corpus, so every
    n-gram it looks up is in its model: the scoring join is INNER and
    the plan never enters `kn_score`'s backoff cascade (LeftOuter
    joins; 16 joins for KN where the combined scorer needs 6). Pins
    the optimized-plan join counts of the three combined scorers."""
    import re

    from flask_data_pipes_spark.operators.corpus import (
        bigram_logprob,
        kn_trigram_logprob,
        unigram_logprob,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    for fn, n_joins in (
        (kn_trigram_logprob, 6),
        (bigram_logprob, 4),
        (unigram_logprob, 2),
    ):
        plan = fn(docs)._jdf.queryExecution().optimizedPlan().toString()
        joins = re.findall(r"\bJoin (\w+)", plan)
        assert len(joins) == n_joins, (fn.__name__, joins, plan)
        assert "LeftOuter" not in joins, (fn.__name__, plan)


def test_bm25_broadcasts_query_restricted_df_only(spark, sf_dir):
    """bm25's per-term df table is vocabulary-sized; every broadcast
    hint in its plan must sit on a query-bounded or 1-row subtree —
    the df table is semi-joined down to the query terms BEFORE its
    hint. The semi-join itself must appear under a hint (i.e. the
    full dfreq is reduced, then shipped)."""
    plan = _plan(spark, sf_dir, "llm_bm25_topk")
    assert "LeftSemi" in plan, plan


def test_html_extract_oracle_ws_class_matches_python_split():
    """ADVICE r14: llm_html_extract's oracle collapses whitespace with
    a regex class that must equal Python str.split()'s whitespace set
    EXACTLY (the engine-side extractor normalizes via str.split) — RE2
    '\\s' alone is ASCII-only and misses \\x0b, \\x1c-\\x1f, \\x85,
    \\xa0 and the Unicode space separators. Pin the law: for every
    character Python treats as whitespace (and boundary neighbors that
    it does not), DuckDB's collapse equals Python's split-join."""
    import sys

    import duckdb

    from flask_data_pipes_spark.plans.catalog_llm import _PY_WS_CLASS

    con = duckdb.connect()

    def ddb(s):
        return con.execute(
            "select trim(regexp_replace(?, ?, ' ', 'g'))",
            [s, _PY_WS_CLASS],
        ).fetchone()[0]

    spaces = [i for i in range(sys.maxunicode + 1) if chr(i).isspace()]
    # neighbors of every whitespace run boundary, plus lookalikes that
    # must NOT collapse (zero-width space, word joiner, BOM)
    non_spaces = sorted(
        {i - 1 for i in spaces} | {i + 1 for i in spaces}
        | {0x200B, 0x2060, 0xFEFF, ord("x")}
    )
    for i in spaces:
        s = f"a{chr(i)}b{chr(i)}{chr(i)}c"
        assert ddb(s) == " ".join(s.split()) == "a b c", hex(i)
        assert ddb(chr(i)) == "", hex(i)  # whitespace-only → empty
    for i in non_spaces:
        if chr(i).isspace() or i < 0:
            continue
        s = f"a{chr(i)}b"
        assert ddb(s) == " ".join(s.split()) == s, hex(i)


def test_load_rereads_table_rewritten_in_session(spark, tmp_path):
    """The resolved-relation cache keys on the table path's staleness
    token: a table rewritten inside one session is read back fresh, not
    through the first read's file listing."""
    from flask_data_pipes_spark.plans.catalog import load

    sf = str(tmp_path)
    spark.range(3).write.parquet(f"{sf}/t.parquet")
    first = load(spark, sf, "t")
    assert first.count() == 3
    assert load(spark, sf, "t") is first  # unchanged table: cache hit
    spark.range(10, 15).write.mode("overwrite").parquet(f"{sf}/t.parquet")
    again = load(spark, sf, "t")
    assert sorted(r["id"] for r in again.collect()) == [10, 11, 12, 13, 14]
