"""Similarity search over embedding columns (SURVEY.md §2.9):
brute-force cosine top-k (baseline) and random-hyperplane LSH
(the scale path).

Scale design:
- Brute force is Q×N with the QUERY SET broadcast — linear in corpus,
  right answer for small Q. Never N×N.
- LSH buckets corpus and queries by sign-pattern over H deterministic
  hyperplanes; candidates = same-bucket rows (+ optional multi-probe
  neighbors); exact rerank only within candidates. At 1000 executors
  the bucket join is an equi-join on a 2^H-ary key, shuffle-light.
- Hyperplanes are generated from a seeded RNG on the driver and
  embedded as literals → fully deterministic plans (and SQL-twin
  expressible for the oracle gate).
"""

from __future__ import annotations

from typing import Optional

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window, functions as F

from ..functions import vectors as V
from ..sinks import atrest

__all__ = [
    "cosine_topk",
    "cosine_topk_vectorized",
    "hyperplanes",
    "lsh_bucket_expr",
    "lsh_probe_buckets_expr",
    "lsh_topk",
    "perturbed_copies",
    "IvfIndex",
    "ivf_fit",
    "ivf_save",
    "ivf_load",
    "ivf_append",
    "ivf_search",
    "ivf_topk",
    "PqIndex",
    "pq_fit",
    "pq_search",
    "pq_topk",
    "IvfPqIndex",
    "ivfpq_fit",
    "ivfpq_search",
    "ivfpq_topk",
    "pq_save",
    "pq_load",
    "ivfpq_save",
    "ivfpq_load",
    "random_projection",
    "retrieval_metrics",
    "cluster_balanced_sample",
    "threshold_matches",
]


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    query_id_col: str = "qid",
    round_to: Optional[int] = 6,
) -> DataFrame:
    """Exact top-k neighbors per query vector (brute force baseline).
    `queries` must be small (it broadcasts). Rounding + id tie-break
    make the ranking fully deterministic.

    Per-pair cost is ONE dot product: 1/norm is precomputed per row in
    projections *under* the join (a materialization barrier Catalyst
    cannot collapse through), so cosine = dot·inv_q·inv_c — vs
    recomputing both norms for every (query, candidate) pair.

    Self-match exclusion (contract, shared by `cosine_topk`,
    `cosine_topk_vectorized` and `lsh_topk`): a candidate whose
    `id_col` equals the query's `query_id_col` is never returned, so a
    query drawn from the corpus does not rank itself first. Every
    catalog oracle carries the same `qid <> vec_id` predicate. The test
    is on ids alone: a query whose id collides with an unrelated corpus
    id loses that candidate too, so give foreign queries ids disjoint
    from the corpus."""
    q = queries.select(
        F.col(query_id_col),
        F.col(vec_col).cast("array<double>").alias("__qv"),
        F.try_divide(F.lit(1.0), V.norm(vec_col)).alias("__qinv"),
    )
    c = corpus.select(
        F.col(id_col),
        F.col(vec_col).cast("array<double>").alias("__v"),
        F.try_divide(F.lit(1.0), V.norm(vec_col)).alias("__inv"),
    )
    sim = V.dot(F.col("__qv"), F.col("__v")) * F.col("__qinv") * F.col("__inv")
    if round_to is not None:
        sim = F.round(sim, round_to)
    w = Window.partitionBy(query_id_col).orderBy(F.desc("sim"), F.asc(id_col))
    return (
        c.join(F.broadcast(q), F.col(query_id_col) != F.col(id_col))
        .select(query_id_col, id_col, sim.alias("sim"))
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
    )


def cosine_topk_vectorized(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    query_id_col: str = "qid",
    round_to: Optional[int] = 6,
) -> DataFrame:
    """Exact brute-force top-k, Arrow-vectorized — the PRODUCTION twin
    of `cosine_topk` (which keeps the sequential-fold dot product for
    bit-exact SQL-oracle parity). Same results (same rounding + id
    tie-break; equality-tested at 500 and 200k
    vectors), measured 3.5× less wall at 200k on local[16]
    (BASELINE round 7): the per-pair cost drops from an interpreted
    higher-order-function fold to one numpy matmul per Arrow batch.

    Shape: the (small) query matrix ships to every partition inside
    the closure (the same "queries must be small" contract the
    broadcast join version has); each corpus partition computes
    batch×Q sims and keeps a running per-partition top-k per query, so
    the shuffle carries only n_partitions·Q·k rows into the final
    window — at 100 TB the scan dominates and nothing else grows.

    Self-match exclusion (contract, shared by `cosine_topk`,
    `cosine_topk_vectorized` and `lsh_topk`): a candidate whose
    `id_col` equals the query's `query_id_col` is never returned, so a
    query drawn from the corpus does not rank itself first. Every
    catalog oracle carries the same `qid <> vec_id` predicate. The test
    is on ids alone: a query whose id collides with an unrelated corpus
    id loses that candidate too, so give foreign queries ids disjoint
    from the corpus."""
    import heapq

    q_rows = queries.select(query_id_col, vec_col).collect()
    if not q_rows:
        return corpus.sparkSession.createDataFrame(
            [], f"{query_id_col} long, {id_col} long, sim double, rnk int"
        )
    qids = np.array([r[0] for r in q_rows], dtype=np.int64)
    Q = np.stack([np.asarray(r[1], dtype=np.float64) for r in q_rows])
    qinv = np.divide(
        1.0,
        np.linalg.norm(Q, axis=1),
        out=np.zeros(len(qids)),
        where=np.linalg.norm(Q, axis=1) > 0,
    )

    def part_topk(batches):
        # heaps of (sim, -id) per query → per-partition top-k
        heaps = [[] for _ in qids]
        for pdf in batches:
            if not len(pdf):
                continue
            M = np.stack(
                [np.asarray(v, dtype=np.float64) for v in pdf[vec_col]]
            )
            norms = np.linalg.norm(M, axis=1)
            inv = np.divide(
                1.0, norms, out=np.zeros(len(norms)), where=norms > 0
            )
            sims = (M * inv[:, None]) @ (Q * qinv[:, None]).T  # rows × Q
            if round_to is not None:
                sims = np.round(sims, round_to)
            ids = pdf[id_col].to_numpy()
            for j in range(len(qids)):
                col = sims[:, j]
                # tie-exact candidate mask: everything >= the heap-min
                # sim survives (>= not >, so equal-sim ties reach the
                # tuple compare below, where the id tie-break decides —
                # an argpartition top-k would drop boundary ties
                # arbitrarily); the mask shrinks fast as the heap min
                # rises, so later batches touch few elements
                if len(heaps[j]) == k:
                    cand = np.nonzero(col >= heaps[j][0][0])[0]
                else:
                    cand = range(len(col))
                for i in cand:
                    if ids[i] == qids[j]:
                        continue
                    item = (col[i], -int(ids[i]))
                    if len(heaps[j]) < k:
                        heapq.heappush(heaps[j], item)
                    elif item > heaps[j][0]:
                        heapq.heapreplace(heaps[j], item)
        out = [
            (int(qids[j]), -negid, float(sim))
            for j in range(len(qids))
            for sim, negid in heaps[j]
        ]
        yield pd.DataFrame(
            out, columns=[query_id_col, id_col, "sim"]
        ).astype(
            {query_id_col: "int64", id_col: "int64", "sim": "float64"}
        )

    partial = corpus.select(id_col, vec_col).mapInPandas(
        part_topk, schema=f"{query_id_col} long, {id_col} long, sim double"
    )
    w = Window.partitionBy(query_id_col).orderBy(F.desc("sim"), F.asc(id_col))
    return (
        partial.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
    )


def cluster_balanced_sample(
    corpus: DataFrame,
    n_clusters: int = 16,
    per_cluster: int = 100,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    seed: int = 42,
    max_iter: int = 5,
) -> DataFrame:
    """Cluster-balanced curation sample (the DataComp-style diversity
    sampler): KMeans the corpus into `n_clusters` cells, then take up
    to `per_cluster` rows per cell in deterministic hash order —
    a uniform-without-replacement draw within each cell that equalizes
    semantic-cluster representation instead of following the corpus's
    natural (usually head-heavy) cluster mass.

    Emits (id_col, cluster int, sample_rank int). Join back to the
    corpus on id_col for payloads. Deterministic for a fixed seed:
    the KMeans fit is seeded and the within-cell order is
    xxhash64(id), not a random().

    Scale: the fit is pyspark.ml's distributed Lloyd's (reused from
    `ivf_fit` — the same cells can serve ANN search); the quota cut is
    one row_number window partitioned by cell. For head-heavy corpora
    the biggest cell dominates its window partition — if a single cell
    exceeds executor-partition scale, raise n_clusters (cells are the
    salt) rather than window-salting here.
    """
    index = ivf_fit(
        corpus,
        n_cells=n_clusters,
        vec_col=vec_col,
        id_col=id_col,
        seed=seed,
        max_iter=max_iter,
    )
    w = Window.partitionBy("__cell").orderBy(
        F.xxhash64(F.col(id_col)), F.col(id_col)
    )
    return (
        index.assigned.withColumn("__r", F.row_number().over(w))
        .filter(F.col("__r") <= per_cluster)
        .select(
            F.col(id_col),
            F.col("__cell").cast("int").alias("cluster"),
            F.col("__r").cast("int").alias("sample_rank"),
        )
    )


def retrieval_metrics(
    results: DataFrame,
    relevance: DataFrame,
    k: int = 10,
    query_col: str = "qid",
    id_col: str = "vec_id",
    rank_col: str = "rnk",
) -> DataFrame:
    """Ranking-quality evaluation of a retrieval run: per-query
    recall@k, MRR, and binary-gain nDCG@k of `results` (ranked lists:
    query_col, id_col, rank_col with rank 1-based) against `relevance`
    (the ground-truth (query_col, id_col) pairs).

    Definitions (per query):
      recall@k = |topk ∩ relevant| / min(k, n_relevant)
      MRR      = 1 / rank of the first relevant hit   (0 if none)
      nDCG@k   = Σ_hits 1/log2(rank+1)  /  Σ_{i=1..min(k,n_rel)} 1/log2(i+1)

    Queries present in `relevance` but retrieving zero relevant docs
    get explicit 0.0 rows (left join), so means over the output are
    unbiased. Doubles are rounded to 6dp for cross-engine stability.

    Scale: one equi-join of the top-k lists (Q×k rows) against the
    relevance pairs, then two Q-row aggregations — cost is driven by
    the relevance table's size, never the corpus; the ideal-DCG term is
    a closed-form fold over sequence(1, min(k, n_rel)), no join.
    """
    topk = results.filter(F.col(rank_col) <= k).select(
        query_col, id_col, rank_col
    )
    # Ground truth is a SET of (query, id) pairs: dedup defensively so
    # duplicate relevance rows can't fan out the hits join (inflating
    # n_hits/dcg past 1.0) or double-count n_rel (ADVICE round 8). The
    # distinct costs one pass over the Q-scale relevance table only.
    relevance = relevance.select(query_col, id_col).distinct()
    nrel = relevance.groupBy(query_col).agg(
        F.count(F.lit(1)).alias("n_rel")
    )
    hits = topk.join(relevance, [query_col, id_col])
    rank_d = F.col(rank_col).cast("double")
    agg = hits.groupBy(query_col).agg(
        F.count(F.lit(1)).alias("__n_hits"),
        F.min(rank_col).alias("__first"),
        F.sum(F.lit(1.0) / F.log2(rank_d + F.lit(1.0))).alias("__dcg"),
    )
    m = F.least(F.lit(k), F.col("n_rel"))
    idcg = F.aggregate(
        F.sequence(F.lit(1), m),
        F.lit(0.0),
        lambda acc, i: acc + F.lit(1.0) / F.log2(i.cast("double") + F.lit(1.0)),
    )
    out = nrel.join(agg, query_col, "left")
    return out.select(
        query_col,
        "n_rel",
        F.round(
            F.coalesce(F.col("__n_hits"), F.lit(0)) / m, 6
        ).alias("recall_at_k"),
        F.round(
            F.coalesce(F.lit(1.0) / F.col("__first"), F.lit(0.0)), 6
        ).alias("mrr"),
        F.round(
            F.coalesce(F.col("__dcg"), F.lit(0.0)) / idcg, 6
        ).alias("ndcg"),
    )


def threshold_matches(
    corpus: DataFrame,
    queries: DataFrame,
    threshold: float,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    query_id_col: str = "qid",
    round_to: Optional[int] = 6,
) -> DataFrame:
    """All (corpus, query) pairs with cosine >= threshold — the
    SEMANTIC test-set decontamination primitive (embedding-space
    contamination: a training item near-duplicating an eval item in
    meaning, not in n-grams). `queries` is the eval set and must be
    small (it broadcasts); the corpus side never shuffles, and each
    pair costs one dot product (1/norms precomputed under the join).
    At eval sets too big to broadcast, bucket both sides with
    `lsh_bucket_expr` and use `embedding_neardup_pairs` instead
    (recall tradeoff documented there).

    Output: (id, qid, sim) — one row per contaminated (train, eval)
    pair; aggregate per id for a drop list."""
    q = queries.select(
        F.col(query_id_col),
        F.col(vec_col).cast("array<double>").alias("__qv"),
        F.try_divide(F.lit(1.0), V.norm(vec_col)).alias("__qinv"),
    )
    c = corpus.select(
        F.col(id_col),
        F.col(vec_col).cast("array<double>").alias("__v"),
        F.try_divide(F.lit(1.0), V.norm(vec_col)).alias("__inv"),
    )
    sim = V.dot(F.col("__qv"), F.col("__v")) * F.col("__qinv") * F.col("__inv")
    if round_to is not None:
        sim = F.round(sim, round_to)
    return (
        c.crossJoin(F.broadcast(q))
        .select(id_col, query_id_col, sim.alias("sim"))
        .filter(F.col("sim") >= threshold)
    )


class IvfIndex:
    """Fit-once IVF index: the cell-assigned corpus plus the centroid
    table. Build with `ivf_fit`, search many query batches with
    `ivf_search` — the fit (distributed KMeans) and the corpus
    assignment pass are paid ONCE, not per query batch.

    `persist()`/`unpersist()` pin the assigned corpus in cache for
    repeated searches; at scale, write `assigned` out partitioned by
    `__cell` instead and reload (cell-partitioned files = probe reads
    only touch the probed cells' files)."""

    def __init__(self, assigned: DataFrame, centers: list[list[float]], id_col: str):
        self.assigned = assigned
        self.centers = centers
        self.id_col = id_col

    def persist(self) -> "IvfIndex":
        self.assigned = self.assigned.persist()
        return self

    def unpersist(self) -> "IvfIndex":
        self.assigned.unpersist()
        return self


def ivf_fit(
    corpus: DataFrame,
    n_cells: int = 16,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    seed: int = 42,
    max_iter: int = 5,
) -> IvfIndex:
    """Coarse-quantize the corpus into KMeans cells (the expensive,
    reusable half of IVF). The KMeans fit is pyspark.ml's distributed
    Lloyd's; assignment is one model.transform map over the corpus."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    feats = corpus.select(
        F.col(id_col),
        F.col(vec_col).cast("array<double>").alias("__v"),
        F.try_divide(F.lit(1.0), V.norm(vec_col)).alias("__inv"),
    ).withColumn("__features", array_to_vector(F.col("__v")))
    model = KMeans(
        k=n_cells,
        seed=seed,
        maxIter=max_iter,
        featuresCol="__features",
        predictionCol="__cell",
    ).fit(feats)
    assigned = model.transform(feats).select(id_col, "__v", "__inv", "__cell")
    centers = [[float(x) for x in c] for c in model.clusterCenters()]
    return IvfIndex(assigned, centers, id_col)


def ivf_save(index: IvfIndex, path: str) -> None:
    """Persist a fitted IVF index: the cell-assigned corpus written
    `partitionBy(__cell)` (so a probe of p cells READS ONLY p cells'
    files — directory-level partition pruning does at rest what the
    cell equi-join does in memory) plus the centroid table as a single
    JSON sidecar. The at-scale complement to `IvfIndex.persist()`:
    fit once, serve query batches from cold storage across sessions
    without re-paying the KMeans or the assignment pass."""
    import os as _os

    (
        index.assigned.write.mode("overwrite")
        .partitionBy("__cell")
        .parquet(_os.path.join(path, "assigned"))
    )
    spark = index.assigned.sparkSession
    atrest.write_meta(
        spark,
        _os.path.join(path, "meta"),
        {"id_col": index.id_col, "centers": index.centers},
    )


def ivf_load(spark, path: str) -> IvfIndex:
    """Reload an `ivf_save`d index. The assigned corpus comes back
    partition-pruned on `__cell`: `ivf_search` filters/joins on the
    partition column, so Spark lists and reads only the probed cells'
    directories (plan-asserted in tests)."""
    import os as _os

    meta = atrest.read_meta(spark, _os.path.join(path, "meta"))
    assigned = spark.read.parquet(_os.path.join(path, "assigned")).select(
        meta["id_col"],
        "__v",
        "__inv",
        F.col("__cell").cast("int").alias("__cell"),
    )
    return IvfIndex(assigned, meta["centers"], meta["id_col"])


def ivf_append(spark, path: str, new_vectors: DataFrame,
               vec_col: str = "embedding") -> int:
    """Append new vectors to an `ivf_save`d index WITHOUT refitting:
    assign each new row to its nearest existing centroid (the fit is
    the expensive, amortized half — assignment is one narrow map) and
    append into the cell-partitioned layout. Returns the number of
    rows appended.

    This is how a production index tracks a growing corpus: daily
    batches append in O(batch); the coarse quantizer only refits when
    drift degrades the recall gauge (`llm_ann_recall` run on a sample
    — measure, don't guess). Appended rows land in their cell's
    directory, so probe-time partition pruning keeps working.

    Scale: the centroid table is n_cells rows in the closure; the
    assignment argmin is per-row; the write touches only the cells the
    batch lands in (dynamic partition overwrite is NOT used — plain
    append never rewrites existing files)."""
    import os as _os

    index = ivf_load(spark, path)
    centers = np.asarray(index.centers, dtype=np.float64)

    from pyspark.sql.functions import pandas_udf

    b_centers = spark.sparkContext.broadcast(centers)

    def assign(vs):
        C = b_centers.value
        if not len(vs):
            return pd.Series([], dtype="int32")
        M = np.stack([np.asarray(v, dtype=np.float64) for v in vs])
        d = -2.0 * (M @ C.T) + (C * C).sum(axis=1)[None, :]
        return pd.Series(d.argmin(axis=1)).astype("int32")

    rows = new_vectors.select(
        F.col(index.id_col),
        F.col(vec_col).cast("array<double>").alias("__v"),
        F.try_divide(F.lit(1.0), V.norm(vec_col)).alias("__inv"),
        pandas_udf(assign, "int")(F.col(vec_col)).alias("__cell"),
    )
    n = rows.count()
    rows.write.mode("append").partitionBy("__cell").parquet(
        _os.path.join(path, "assigned")
    )
    return n


def ivf_search(
    index: IvfIndex,
    queries: DataFrame,
    k: int = 5,
    n_probe: int = 4,
    vec_col: str = "embedding",
    query_id_col: str = "qid",
    round_to: Optional[int] = 6,
) -> DataFrame:
    """Probe each query's `n_probe` nearest cells of a fitted IvfIndex,
    exact cosine rerank within candidates.

    Scale shape: the centroid table is n_cells rows (broadcast
    everywhere); the candidate join is an equi-join on cell id touching
    ~n_probe/n_cells of the corpus per query."""
    id_col = index.id_col
    cent_df = queries.sparkSession.createDataFrame(
        [(i, c) for i, c in enumerate(index.centers)], "__cell int, __cv array<double>"
    )
    q = queries.select(
        F.col(query_id_col),
        F.col(vec_col).cast("array<double>").alias("__qv"),
        F.try_divide(F.lit(1.0), V.norm(vec_col)).alias("__qinv"),
    )
    wq = Window.partitionBy(query_id_col).orderBy(
        F.asc("__cdist"), F.asc("__cell")
    )
    probed = (
        q.crossJoin(F.broadcast(cent_df))
        .withColumn("__cdist", V.l2_distance(F.col("__qv"), F.col("__cv")))
        .withColumn("__crnk", F.row_number().over(wq))
        .filter(F.col("__crnk") <= n_probe)
        .select(query_id_col, "__qv", "__qinv", "__cell")
    )
    sim = V.dot(F.col("__qv"), F.col("__v")) * F.col("__qinv") * F.col("__inv")
    if round_to is not None:
        sim = F.round(sim, round_to)
    w = Window.partitionBy(query_id_col).orderBy(F.desc("sim"), F.asc(id_col))
    assigned = index.assigned
    return (
        assigned.join(
            F.broadcast(probed),
            (assigned["__cell"] == probed["__cell"])
            & (F.col(query_id_col) != F.col(id_col)),
        )
        .select(query_id_col, id_col, sim.alias("sim"))
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
    )


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_cells: int = 16,
    n_probe: int = 4,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    query_id_col: str = "qid",
    seed: int = 42,
    max_iter: int = 5,
    round_to: Optional[int] = 6,
) -> DataFrame:
    """One-shot IVF ANN: `ivf_fit` + `ivf_search`. For repeated query
    batches fit once and reuse the index (the fit dominates). Seeded →
    deterministic locally, but kmeans is not SQL-expressible →
    rows-only correctness check."""
    index = ivf_fit(
        corpus, n_cells=n_cells, vec_col=vec_col, id_col=id_col, seed=seed,
        max_iter=max_iter,
    )
    return ivf_search(
        index,
        queries,
        k=k,
        n_probe=n_probe,
        vec_col=vec_col,
        query_id_col=query_id_col,
        round_to=round_to,
    )


def hyperplanes(dim: int, n_planes: int, seed: int = 42) -> list[list[float]]:
    """Deterministic random hyperplanes (rounded to 6dp so the literal
    values embed identically in Spark plans and SQL oracles)."""
    rng = np.random.RandomState(seed)
    return [
        [round(float(x), 6) for x in rng.randn(dim)] for _ in range(n_planes)
    ]
def _lit_vec(h: list[float]):
    """Literal double-array column built with ONE JVM parse instead of
    len(h) `F.lit` py4j round-trips (optimization round 16: plan
    CONSTRUCTION is driver-side latency paid per query — an 8×64-plane
    table used to cost ~1500 py4j calls before any row moved).
    `repr(float)` is the shortest decimal that round-trips to the same
    binary64, and Spark's SQL parser does correctly-rounded
    decimal→double, so each element is bit-identical to `F.lit(x)`."""
    return F.expr("array(" + ",".join(f"{x!r}D" for x in h) + ")")


def lsh_bucket_expr(vec_col, planes: list[list[float]]):
    """Sign-pattern bucket id: bit j = (v · h_j) >= 0. Pure fold over
    literal arrays — codegen, no UDF."""
    bucket = F.lit(0).cast("long")
    for j, h in enumerate(planes):
        d = V.dot(vec_col, _lit_vec(h))
        bucket = bucket + F.when(d >= 0, F.lit(1 << j)).otherwise(F.lit(0))
    return bucket


def lsh_probe_buckets_expr(vec_col, planes: list[list[float]], n_probe: int):
    """Multi-probe bucket list for a query vector: its own bucket plus
    the buckets reached by flipping the sign bits with the SMALLEST
    absolute margin |v·h_j| — the classic multi-probe LSH heuristic
    (a vector close to hyperplane j most likely has true neighbors on
    the other side of j). Pure codegen: per-plane dot products →
    (margin, flipped-bucket) structs → sort_array on margin → slice.
    Returns an array of `n_probe` bucket ids (n_probe ≤ n_planes+1)."""
    dots = [V.dot(vec_col, _lit_vec(h)) for h in planes]
    bucket = F.lit(0).cast("long")
    for j, d in enumerate(dots):
        bucket = bucket + F.when(d >= 0, F.lit(1 << j)).otherwise(F.lit(0))
    if n_probe <= 1:
        # single-probe: the probe list is exactly [own bucket] — the
        # flip/margin-sort machinery below would be built only to have
        # `slice(ordered, 1, 0)` discard it (the optimizer does not
        # prune it, and the dead subtree triples the expression tree
        # the analyzer must chew per build — optimization round 16,
        # driver-side plan-construction latency). Same value as
        # concat(array(bucket), slice(ordered, 1, 0)).
        return F.array(bucket)
    flips = F.sort_array(
        F.array(
            *[
                F.struct(
                    F.abs(d).alias("m"),
                    bucket.bitwiseXOR(F.lit(1 << j)).cast("long").alias("b"),
                )
                for j, d in enumerate(dots)
            ]
        )
    )
    ordered = F.transform(flips, lambda s: s["b"])
    return F.concat(F.array(bucket), F.slice(ordered, 1, max(n_probe - 1, 0)))


def _bucket_vectorized(planes: list[list[float]]):
    """Arrow-vectorized sign-pattern bucket id: one numpy matmul per
    batch instead of n_planes interpreted higher-order-function folds
    per ROW (measured ~400µs/row for 8 planes × 64 dims — the
    per-element lambda interpretation is the cost, not the flops; the
    vectorized path is ~0.1µs/row, the difference between a feasible
    and an infeasible corpus-side projection at 100 TB).

    Float caveat: numpy's matmul accumulates in a different order than
    the sequential fold the SQL twin uses; a bucket bit could only
    differ if a margin |v·h| sat within float-epsilon of zero, which
    has vanishing probability for real-valued embeddings (and the
    exact rerank downstream is unaffected either way)."""
    from pyspark.sql.functions import pandas_udf

    P = np.asarray(planes, dtype=np.float64).T  # dim × n_planes
    weights = (1 << np.arange(P.shape[1], dtype=np.int64)).astype(np.int64)

    def bucket(vs: pd.Series) -> pd.Series:
        if not len(vs):
            return pd.Series([], dtype="int64")
        M = np.stack([np.asarray(v, dtype=np.float64) for v in vs])
        return pd.Series(((M @ P) >= 0) @ weights)

    # asNondeterministic (optimization round 15, guide §4.4): the
    # bucket feeds an equi-join key, and the join's inferred
    # isnotnull constraint used to be pushed BELOW the projection,
    # duplicating the ArrowEvalPython node (every corpus row paid the
    # Python boundary twice — plans/r15/llm_lsh_topk_before.txt shows
    # both nodes). The value is deterministic per row in reality; the
    # flag only stops the optimizer from duplicating/reordering it.
    return pandas_udf(bucket, "long").asNondeterministic()


def _buckets_multi_vectorized(tables: list[list[list[float]]]):
    """Arrow-vectorized bucket ids for SEVERAL independent hyperplane
    tables in ONE matmul per batch: all tables' planes stack into one
    dim × (T·H) matrix; per-table sign-weight folds slice the result.
    Returns array<long> of length T per row — the multi-table analog
    of `_bucket_vectorized` (same float caveat)."""
    from pyspark.sql.functions import pandas_udf

    P = np.asarray(
        [h for planes in tables for h in planes], dtype=np.float64
    ).T  # dim × (T·H)
    H = len(tables[0])
    weights = (1 << np.arange(H, dtype=np.int64)).astype(np.int64)

    def buckets(vs: pd.Series) -> pd.Series:
        if not len(vs):
            return pd.Series([], dtype="object")
        M = np.stack([np.asarray(v, dtype=np.float64) for v in vs])
        S = (M @ P) >= 0  # rows × (T·H)
        out = [
            S[:, t * H : (t + 1) * H] @ weights for t in range(len(tables))
        ]
        return pd.Series(np.stack(out, axis=1).tolist())

    return pandas_udf(buckets, "array<long>")


def _tag_with_table(t: int):
    """1-arg HOF lambda closing over the table index (a 2-arg lambda
    with a default would bind as (element, index) in Spark HOFs)."""
    return lambda b: F.struct(F.lit(t).alias("t"), b.alias("b"))


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_planes: int = 8,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    query_id_col: str = "qid",
    dim: int = 64,
    seed: int = 42,
    round_to: Optional[int] = 6,
    n_probe: int = 1,
    n_tables: int = 1,
) -> DataFrame:
    """Approximate top-k: bucket by hyperplane signs, exact-rerank
    within the query's probed buckets.

    `n_probe=1` is the deterministic gate-checkable core (the query's
    own bucket only). `n_probe>1` additionally probes the buckets
    across the lowest-margin hyperplanes (multi-probe LSH): candidate
    volume grows ~linearly in n_probe while recall climbs steeply,
    because most missed neighbors sit just across the nearest
    hyperplane. The probe fan-out happens on the (small, broadcast)
    QUERY side — the corpus is bucketed once and never re-hashed.

    `n_tables>1` is OR-amplification — T independent hyperplane tables
    (seeds seed, seed+1, ...), a candidate qualifies by colliding in
    ANY table: the standard recall lever when a single sign-pattern
    table misses neighbors that sit across some hyperplane (miss rate
    decays as miss_1^T). Cost: the corpus-side projection computes all
    T buckets in ONE Arrow matmul and the join key gains a table index
    (corpus rows fan out T-ways into the equi-join — still linear);
    duplicate (query, candidate) collisions across tables are deduped
    BEFORE ranking. Composes with `n_probe` (probing applies per
    table).

    Self-match exclusion (contract, shared by `cosine_topk`,
    `cosine_topk_vectorized` and `lsh_topk`): a candidate whose
    `id_col` equals the query's `query_id_col` is never returned, so a
    query drawn from the corpus does not rank itself first. Every
    catalog oracle carries the same `qid <> vec_id` predicate. The test
    is on ids alone: a query whose id collides with an unrelated corpus
    id loses that candidate too, so give foreign queries ids disjoint
    from the corpus."""
    tables = [hyperplanes(dim, n_planes, seed + t) for t in range(n_tables)]
    n_probe = min(n_probe, n_planes + 1)
    # round-15 measured note: a spread_for_cpu here LOSES ~0.35 s at
    # local bench scale — the vectorized bucket matmul is so cheap that
    # 32 small-task Python round-trips cost more than one task's 10
    # sequential Arrow batches; left unspread deliberately.
    # Corpus-side projection carries ONLY (id, raw vector, bucket):
    # the double-cast and the 1/norm fold are deferred to the
    # post-join candidate rows (optimization round 16, guide §1.2
    # "don't compute things you throw away"). Only ~1/2^n_planes of
    # corpus rows survive the bucket equi-join per query, so the
    # interpreted 64-element norm fold used to run for every corpus
    # row and be discarded for the vast majority. Values are
    # unchanged: V.dot/V.norm cast to double internally, so the
    # deferred expressions are term-for-term the ones that ran below
    # the join (result equality asserted against the pre-change shape
    # at sf0.1). Wall-neutral at local bench scale (2 000-vector
    # corpus — the Python-boundary and exchange floors dominate); at
    # corpus >> queries scale the saved fold is ~all corpus rows.
    if n_tables == 1:
        c = corpus.select(
            F.col(id_col),
            F.col(vec_col).alias("__v"),
            _bucket_vectorized(tables[0])(F.col(vec_col)).alias("__bucket"),
            F.lit(0).alias("__t"),
        )
    else:
        c = corpus.select(
            F.col(id_col),
            F.col(vec_col).alias("__v"),
            F.posexplode(
                _buckets_multi_vectorized(tables)(F.col(vec_col))
            ).alias("__t", "__bucket"),
        )
    q = queries.select(
        F.col(query_id_col),
        F.col(vec_col).cast("array<double>").alias("__qv"),
        F.try_divide(F.lit(1.0), V.norm(vec_col)).alias("__qinv"),
        F.explode(
            F.flatten(
                F.array(
                    *[
                        F.transform(
                            lsh_probe_buckets_expr(
                                F.col(vec_col), tables[t], n_probe
                            ),
                            # helper, NOT `lambda b, t=t`: a 2-arg
                            # lambda is read as (element, index) by
                            # Spark's HOF binding
                            _tag_with_table(t),
                        )
                        for t in range(n_tables)
                    ]
                )
            )
        ).alias("__qtb"),
    ).select(
        query_id_col,
        "__qv",
        "__qinv",
        F.col("__qtb.t").alias("__qt"),
        F.col("__qtb.b").alias("__qbucket"),
    )
    # Query-side 1/norm is precomputed (tiny broadcast side, reused
    # across all its candidates); corpus-side 1/norm is computed HERE,
    # per candidate, because candidates are a small fraction of the
    # corpus (see the corpus projection note above). Within one table
    # a candidate matches at most ONE probe bucket; ACROSS tables the
    # same pair can collide repeatedly — hence the dropDuplicates on
    # (query, candidate) before ranking (sim is identical per pair, so
    # the kept row is deterministic).
    sim = (
        V.dot(F.col("__qv"), F.col("__v"))
        * F.col("__qinv")
        * F.try_divide(F.lit(1.0), V.norm("__v"))
    )
    if round_to is not None:
        sim = F.round(sim, round_to)
    w = Window.partitionBy(query_id_col).orderBy(F.desc("sim"), F.asc(id_col))
    pairs = (
        c.join(
            F.broadcast(q),
            (F.col("__bucket") == F.col("__qbucket"))
            & (F.col("__t") == F.col("__qt"))
            & (F.col(query_id_col) != F.col(id_col)),
        )
        .select(query_id_col, id_col, sim.alias("sim"))
    )
    if n_tables > 1:
        pairs = pairs.dropDuplicates([query_id_col, id_col])
    return (
        pairs.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
    )


def perturbed_copies(
    corpus: DataFrame,
    copies: int,
    dim: int,
    sigma: float = 0.06,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    id_stride: int = 10_000_000,
) -> DataFrame:
    """Deterministic CLUSTERED scale-up of an embedding corpus: each
    copy c re-normalizes (v + noise_c), where noise is hash-derived
    (xxhash64(id, c, component) → uniform ±sigma) — so every base
    vector becomes a tight cluster of `copies` points, the shape real
    semantic-embedding corpora have (topic/near-dup clusters) and the
    regime where IVF-style ANN indexing actually pays.

    sigma scales CLUSTER TIGHTNESS: noise L2 norm ≈ sigma·sqrt(dim/3),
    so for unit vectors cos(cluster mates) ≈ 1/(1+sigma²·dim/3). At
    dim=64, sigma=0.06 → mates at cos≈0.96, far above the ~0.37
    noise floor of isotropic 64-d data. (sigma=0.25 at dim=64 drowns
    the signal — noise norm 1.15 — which is the other corpus the ANN
    crossover gauge records: isotropic data has NO exploitable
    structure and recall caps low for every index; use brute there.)

    Pure codegen (hash + fold), zero shuffle — synthesizing 100× data
    is scan-bound map work."""

    def _noise(c: int):
        return F.transform(
            F.sequence(F.lit(1), F.lit(dim)),
            lambda i: (
                (F.xxhash64(F.col(id_col), F.lit(c), i) % 2001)
                - F.lit(1000)
            ).cast("double")
            / F.lit(1000.0)
            * F.lit(sigma),
        )

    parts = []
    for c in range(copies):
        v = F.zip_with(
            F.col(vec_col).cast("array<double>"), _noise(c),
            lambda x, y: x + y,
        )
        nrm = F.sqrt(F.aggregate(v, F.lit(0.0), lambda a, x: a + x * x))
        parts.append(
            corpus.select(
                (F.col(id_col) + F.lit(c * id_stride)).alias(id_col),
                F.transform(v, lambda x: x / nrm)
                .cast("array<float>")
                .alias(vec_col),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def random_projection(
    vec_col,
    out_dim: int,
    dim: int,
    seed: int = 42,
    round_to: Optional[int] = 6,
):
    """Johnson-Lindenstrauss random projection to `out_dim` dims as a
    pure Column expression: v' = round(P v / sqrt(out_dim)) with the
    (seeded, literal) Gaussian plane matrix embedded in the plan —
    the cheap dimensionality-reduction step before ANN indexing or
    embedding storage (JL: pairwise cosines survive within
    ~sqrt(ln N / out_dim) distortion, data-obliviously, no fitting
    pass). Per-component rounding makes the projected vectors — and
    everything derived from them — bit-identical cross-engine.

    Scale: per-row codegen fold (out_dim dot products), zero shuffle;
    at 100 TB this is scan-bound map work like every other projection.
    """
    planes = hyperplanes(dim, out_dim, seed)
    scale = 1.0 / float(np.sqrt(out_dim))
    comps = []
    for p in planes:
        d = V.dot(vec_col, _lit_vec(p)) * F.lit(scale)
        comps.append(F.round(d, round_to) if round_to is not None else d)
    return F.array(*comps)


class PqIndex:
    """Fit-once product-quantization index (Jégou et al. 2011): the
    per-subspace codebooks (m × n_centroids × sub_dim, driver-side)
    plus the corpus encoded as m-BYTE codes. The memory story that
    keeps ANN viable at 100 TB: a 64-dim float32 embedding is 256
    bytes; its PQ code is m bytes (32× smaller at m=8) — the
    difference between an index that fits in cluster RAM and one that
    doesn't. Search is ADC (asymmetric distance computation): per
    query, one m×n_centroids lookup table of partial dot products;
    each candidate costs m table adds instead of a 64-mult dot."""

    def __init__(self, codes: DataFrame, codebooks, id_col: str):
        self.codes = codes
        self.codebooks = codebooks  # list[m] of list[n_centroids] of list[sub_dim]
        self.id_col = id_col

    def persist(self) -> "PqIndex":
        self.codes = self.codes.persist()
        return self

    def unpersist(self) -> "PqIndex":
        self.codes.unpersist()
        return self


def _pq_kmeans(X: "np.ndarray", k: int, seed: int, n_iter: int) -> "np.ndarray":
    """Seeded Lloyd's on a driver-side sample (one subspace): random
    distinct-row init, empty clusters keep their previous centroid.
    Deterministic for a fixed sample/seed/numpy."""
    rng = np.random.default_rng(seed)
    k = min(k, len(X))
    C = X[rng.choice(len(X), size=k, replace=False)].copy()
    for _ in range(n_iter):
        # ||x-c||² = ||x||² - 2x·c + ||c||²; x² constant per row → drop
        d = -2.0 * (X @ C.T) + (C * C).sum(axis=1)[None, :]
        a = d.argmin(axis=1)
        for c in range(k):
            mask = a == c
            if mask.any():
                C[c] = X[mask].mean(axis=0)
    return C


def pq_fit(
    corpus: DataFrame,
    m: int = 8,
    n_centroids: int = 256,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    seed: int = 42,
    n_iter: int = 12,
    sample_size: int = 20000,
) -> PqIndex:
    """Fit PQ codebooks and encode the corpus.

    Fit is driver-side seeded k-means per subspace over a
    deterministic sample (first `sample_size` ids) of L2-NORMALIZED
    vectors — normalizing at encode time makes the ADC dot product
    approximate cosine directly. The codebooks are a few hundred KB
    (model, not data); encoding is one Arrow-batched pass over the
    corpus emitting m-byte binary codes.

    Scale: the sample collect is bounded (`sample_size` rows); the
    encode pass is embarrassingly parallel and writes the only
    corpus-sized artifact — at m bytes/vector. n_iter is fixed (not
    to-convergence) so fit cost is predictable."""
    sample = (
        corpus.select(id_col, vec_col)
        .orderBy(id_col)
        .limit(sample_size)
        .collect()
    )
    S = np.stack([np.asarray(r[1], dtype=np.float64) for r in sample])
    norms = np.linalg.norm(S, axis=1, keepdims=True)
    S = np.divide(S, norms, out=np.zeros_like(S), where=norms > 0)
    dim = S.shape[1]
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    sub = dim // m
    books = np.stack(
        [
            _pq_kmeans(S[:, j * sub : (j + 1) * sub], n_centroids, seed + j, n_iter)
            for j in range(m)
        ]
    )  # m × k × sub
    spark = corpus.sparkSession
    b_books = spark.sparkContext.broadcast(books)

    from pyspark.sql.functions import pandas_udf

    def encode(vs):
        B = b_books.value
        mm, kk, ss = B.shape
        # flops per batch: rows × m × k × sub — one matmul per subspace
        cnorm = (B * B).sum(axis=2)  # m × k
        out = []
        if not len(vs):
            return pd.Series([], dtype="object")
        M = np.stack([np.asarray(v, dtype=np.float64) for v in vs])
        n = np.linalg.norm(M, axis=1, keepdims=True)
        M = np.divide(M, n, out=np.zeros_like(M), where=n > 0)
        codes = np.empty((len(M), mm), dtype=np.uint8)
        for j in range(mm):
            Xj = M[:, j * ss : (j + 1) * ss]
            d = -2.0 * (Xj @ B[j].T) + cnorm[j][None, :]
            codes[:, j] = d.argmin(axis=1).astype(np.uint8)
        return pd.Series([c.tobytes() for c in codes])

    codes = corpus.select(
        F.col(id_col), pandas_udf(encode, "binary")(F.col(vec_col)).alias("__code")
    )
    return PqIndex(codes, [[list(map(float, c)) for c in bk] for bk in books], id_col)


def _pq_cand_schema(query_id_col: str, id_col: str) -> str:
    return f"{query_id_col} long, {id_col} long, sim_approx double"


def _pq_rank(
    partial: DataFrame, queries: DataFrame, corpus: Optional[DataFrame],
    k: int, n_keep: int, id_col: str, vec_col: str, query_id_col: str,
    round_to: Optional[int],
) -> DataFrame:
    """The tail shared by `pq_search` and `ivfpq_search`: rank the
    per-partition ADC candidates `partial` (qid, id, sim_approx) per
    query and keep the top `n_keep`. Without `corpus` those come back
    as (qid, id, sim_approx, rnk); with it they are re-ranked by EXACT
    cosine against the raw vectors → top k as (qid, id, sim, rnk)."""
    wa = Window.partitionBy(query_id_col).orderBy(
        F.desc("sim_approx"), F.asc(id_col)
    )
    cand = partial.withColumn("__arnk", F.row_number().over(wa)).filter(
        F.col("__arnk") <= n_keep
    )
    if corpus is None:
        approx = F.col("sim_approx")
        if round_to is not None:
            approx = F.round(approx, round_to)
        return cand.select(
            query_id_col, id_col,
            approx.alias("sim_approx"), F.col("__arnk").alias("rnk"),
        )
    q = queries.select(
        F.col(query_id_col),
        F.col(vec_col).cast("array<double>").alias("__qv"),
        F.try_divide(F.lit(1.0), V.norm(vec_col)).alias("__qinv"),
    )
    c = corpus.select(
        F.col(id_col),
        F.col(vec_col).cast("array<double>").alias("__v"),
        F.try_divide(F.lit(1.0), V.norm(vec_col)).alias("__inv"),
    )
    sim = V.dot(F.col("__qv"), F.col("__v")) * F.col("__qinv") * F.col("__inv")
    if round_to is not None:
        sim = F.round(sim, round_to)
    w = Window.partitionBy(query_id_col).orderBy(F.desc("sim"), F.asc(id_col))
    return (
        cand.select(query_id_col, id_col)
        .join(c, id_col)
        .join(F.broadcast(q), query_id_col)
        .select(query_id_col, id_col, sim.alias("sim"))
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
    )


def pq_search(
    index: PqIndex,
    queries: DataFrame,
    k: int = 5,
    rerank: int = 4,
    corpus: Optional[DataFrame] = None,
    vec_col: str = "embedding",
    query_id_col: str = "qid",
    round_to: Optional[int] = 6,
) -> DataFrame:
    """ADC search over PQ codes: per query, an m×n_centroids lookup
    table of partial dots (query subvector · centroid); each code row
    scores as m table adds; per-partition heaps keep the top
    `k*rerank` candidates (same tie-exact discipline as
    `cosine_topk_vectorized`). With `corpus` given, candidates are
    re-ranked by EXACT cosine (the standard PQ + rerank recipe) and
    the top k returned; without it, approximate scores come back
    directly (column `sim_approx`).

    Scale: the scan touches only m-byte codes (32× less IO than raw
    vectors at m=8/dim=64); the shuffle carries n_partitions·Q·k·rerank
    candidate rows; the exact rerank reads just the candidate ids'
    vectors."""
    import heapq

    q_rows = queries.select(query_id_col, vec_col).collect()
    spark = index.codes.sparkSession
    if not q_rows:
        return _pq_rank(
            spark.createDataFrame([], _pq_cand_schema(query_id_col, index.id_col)),
            queries, corpus, k, k * rerank,
            index.id_col, vec_col, query_id_col, round_to,
        )
    books = np.asarray(index.codebooks, dtype=np.float64)  # m × k × sub
    mm, _kk, ss = books.shape
    qids = np.array([r[0] for r in q_rows], dtype=np.int64)
    Q = np.stack([np.asarray(r[1], dtype=np.float64) for r in q_rows])
    qn = np.linalg.norm(Q, axis=1, keepdims=True)
    Qn = np.divide(Q, qn, out=np.zeros_like(Q), where=qn > 0)
    # LUT[q, j, c] = q_sub_j · centroid_{j,c}
    LUT = np.einsum("qjs,jcs->qjc", Qn.reshape(len(Q), mm, ss), books)
    id_col = index.id_col
    n_keep = k * rerank
    b_lut = spark.sparkContext.broadcast(LUT)

    def part_topk(batches):
        lut = b_lut.value
        heaps = [[] for _ in qids]
        for pdf in batches:
            if not len(pdf):
                continue
            C = np.stack(
                [np.frombuffer(b, dtype=np.uint8) for b in pdf["__code"]]
            ).astype(np.int64)  # rows × m
            ids = pdf[id_col].to_numpy()
            sims = np.zeros((len(qids), len(C)))
            for j in range(mm):
                sims += lut[:, j, :][:, C[:, j]]
            for qj in range(len(qids)):
                col = sims[qj]
                if len(heaps[qj]) == n_keep:
                    cand = np.nonzero(col >= heaps[qj][0][0])[0]
                else:
                    cand = range(len(col))
                for i in cand:
                    if ids[i] == qids[qj]:
                        continue
                    item = (col[i], -int(ids[i]))
                    if len(heaps[qj]) < n_keep:
                        heapq.heappush(heaps[qj], item)
                    elif item > heaps[qj][0]:
                        heapq.heapreplace(heaps[qj], item)
        out = [
            (int(qids[qj]), -negid, float(s))
            for qj in range(len(qids))
            for s, negid in heaps[qj]
        ]
        yield pd.DataFrame(
            out, columns=[query_id_col, id_col, "sim_approx"]
        ).astype({query_id_col: "int64", id_col: "int64", "sim_approx": "float64"})

    partial = index.codes.mapInPandas(
        part_topk, schema=_pq_cand_schema(query_id_col, id_col)
    )
    return _pq_rank(
        partial, queries, corpus, k, n_keep,
        id_col, vec_col, query_id_col, round_to,
    )


def pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    m: int = 8,
    n_centroids: int = 256,
    rerank: int = 4,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    query_id_col: str = "qid",
    seed: int = 42,
    sample_size: int = 20000,
) -> DataFrame:
    """One-shot PQ ANN: `pq_fit` + ADC `pq_search` + exact rerank. For
    repeated query batches fit once and reuse the index. Seeded →
    deterministic locally; k-means fit is iterative → rows-only gate."""
    index = pq_fit(
        corpus, m=m, n_centroids=n_centroids, vec_col=vec_col,
        id_col=id_col, seed=seed, sample_size=sample_size,
    )
    return pq_search(
        index, queries, k=k, rerank=rerank, corpus=corpus,
        vec_col=vec_col, query_id_col=query_id_col,
    )


class IvfPqIndex:
    """Composed IVF-PQ index (the production ANN shape): the coarse
    KMeans cells prune WHICH rows each query scans (`IvfIndex`'s
    win) and the per-row payload is an m-byte PQ code of the RESIDUAL
    vector (PqIndex's win) — at 100 TB both matter: probes touch
    ~n_probe/n_cells of the corpus, and what they touch is 32× smaller
    than raw float32.

    The dot product is linear, so score(q, v) decomposes exactly as
    q·centroid_cell + q·residual; one LUT per query serves every cell
    (no per-(query, cell) tables — the classic IVFADC trick applied to
    inner-product search on normalized vectors)."""

    def __init__(self, codes: DataFrame, centers, codebooks, id_col: str):
        self.codes = codes  # (id, __cell, __code)
        self.centers = centers
        self.codebooks = codebooks
        self.id_col = id_col

    def persist(self) -> "IvfPqIndex":
        self.codes = self.codes.persist()
        return self

    def unpersist(self) -> "IvfPqIndex":
        self.codes.unpersist()
        return self


def ivfpq_fit(
    corpus: DataFrame,
    n_cells: int = 64,
    m: int = 8,
    n_centroids: int = 256,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    seed: int = 42,
    max_iter: int = 5,
    n_iter: int = 12,
    sample_size: int = 20000,
) -> IvfPqIndex:
    """Fit the composed index: distributed KMeans cells over
    NORMALIZED vectors (pyspark.ml, same as `ivf_fit`), then PQ
    codebooks over a driver-side sample of cell RESIDUALS
    (v_norm − centroid), then one Arrow pass encoding every row to
    (cell, m-byte code). Residuals are what PQ quantizes well — their
    spread is the within-cell variance, much tighter than the raw
    space."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector
    from pyspark.sql.functions import pandas_udf

    feats = corpus.select(
        F.col(id_col),
        V.l2_normalize(F.col(vec_col)).alias("__vn"),
    ).withColumn("__features", array_to_vector(F.col("__vn")))
    model = KMeans(
        k=n_cells, seed=seed, maxIter=max_iter,
        featuresCol="__features", predictionCol="__cell",
    ).fit(feats)
    assigned = model.transform(feats).select(id_col, "__vn", "__cell")
    centers = np.stack(
        [np.asarray(c, dtype=np.float64) for c in model.clusterCenters()]
    )
    dim = centers.shape[1]
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    sub = dim // m
    sample = (
        assigned.select(id_col, "__vn", "__cell")
        .orderBy(F.col(id_col))
        .limit(sample_size)
        .collect()
    )
    R = np.stack(
        [
            np.asarray(r["__vn"], dtype=np.float64) - centers[r["__cell"]]
            for r in sample
        ]
    )
    books = np.stack(
        [
            _pq_kmeans(R[:, j * sub : (j + 1) * sub], n_centroids, seed + j, n_iter)
            for j in range(m)
        ]
    )
    spark = corpus.sparkSession
    b_books = spark.sparkContext.broadcast(books)
    b_centers = spark.sparkContext.broadcast(centers)

    def encode(it):
        B = b_books.value
        Cn = b_centers.value
        mm, kk, ss = B.shape
        cnorm = (B * B).sum(axis=2)
        for pdf in it:
            if not len(pdf):
                continue
            M = np.stack([np.asarray(v, dtype=np.float64) for v in pdf["__vn"]])
            cells = pdf["__cell"].to_numpy()
            Rm = M - Cn[cells]
            codes = np.empty((len(M), mm), dtype=np.uint8)
            for j in range(mm):
                Xj = Rm[:, j * ss : (j + 1) * ss]
                d = -2.0 * (Xj @ B[j].T) + cnorm[j][None, :]
                codes[:, j] = d.argmin(axis=1).astype(np.uint8)
            yield pd.DataFrame(
                {
                    "__id": pdf["__id"],
                    "__cell": cells,
                    "__code": [c.tobytes() for c in codes],
                }
            )

    codes = (
        assigned.select(F.col(id_col).alias("__id"), "__vn", "__cell")
        .mapInPandas(encode, schema="__id long, __cell int, __code binary")
        .select(F.col("__id").alias(id_col), "__cell", "__code")
    )
    return IvfPqIndex(
        codes,
        [list(map(float, c)) for c in centers],
        [[list(map(float, c)) for c in bk] for bk in books],
        id_col,
    )


def ivfpq_search(
    index: IvfPqIndex,
    queries: DataFrame,
    k: int = 5,
    n_probe: int = 8,
    rerank: int = 4,
    corpus: Optional[DataFrame] = None,
    vec_col: str = "embedding",
    query_id_col: str = "qid",
    round_to: Optional[int] = 6,
) -> DataFrame:
    """Probe each query's `n_probe` nearest cells, ADC-score only the
    probed cells' codes (score = q·centroid + Σ LUT[j][code_j]), keep
    the top k·rerank, exact-rerank against the raw vectors when
    `corpus` is given.

    Scale: the candidate join is an equi-join on cell id touching
    ~n_probe/n_cells of the CODE table (m bytes/row); the LUT set is
    Q·m·n_centroids doubles broadcast once; the exact rerank reads
    only candidate ids."""
    import heapq

    spark = index.codes.sparkSession
    id_col = index.id_col
    q_rows = queries.select(query_id_col, vec_col).collect()
    if not q_rows:
        return _pq_rank(
            spark.createDataFrame([], _pq_cand_schema(query_id_col, id_col)),
            queries, corpus, k, k * rerank,
            id_col, vec_col, query_id_col, round_to,
        )
    centers = np.asarray(index.centers, dtype=np.float64)
    books = np.asarray(index.codebooks, dtype=np.float64)
    mm, _kk, ss = books.shape
    qids = np.array([r[0] for r in q_rows], dtype=np.int64)
    Q = np.stack([np.asarray(r[1], dtype=np.float64) for r in q_rows])
    qn = np.linalg.norm(Q, axis=1, keepdims=True)
    Qn = np.divide(Q, qn, out=np.zeros_like(Q), where=qn > 0)
    qcent = Qn @ centers.T  # Q × n_cells: the q·centroid base terms
    # per query: n_probe nearest cells by L2 on normalized space —
    # argsort of ||q−c||² = 1 − 2q·c + ||c||² (same probe rule as IVF)
    cd = -2.0 * qcent + (centers * centers).sum(axis=1)[None, :]
    probe_order = np.argsort(cd, axis=1, kind="stable")[:, :n_probe]
    LUT = np.einsum("qjs,jcs->qjc", Qn.reshape(len(Q), mm, ss), books)
    n_keep = k * rerank
    b_state = spark.sparkContext.broadcast(
        (LUT, qcent, probe_order, qids)
    )

    def part_topk(batches):
        lut, qc, po, qa = b_state.value
        # cell → list of probing query indexes
        probing: dict = {}
        for qi in range(len(qa)):
            for c in po[qi]:
                probing.setdefault(int(c), []).append(qi)
        heaps = [[] for _ in qa]
        for pdf in batches:
            if not len(pdf):
                continue
            cells = pdf["__cell"].to_numpy()
            ids = pdf[id_col].to_numpy()
            C = np.stack(
                [np.frombuffer(b, dtype=np.uint8) for b in pdf["__code"]]
            ).astype(np.int64)
            for cell in np.unique(cells):
                qis = probing.get(int(cell))
                if not qis:
                    continue
                rows = np.nonzero(cells == cell)[0]
                Cr = C[rows]
                for qi in qis:
                    s = np.full(len(rows), qc[qi, cell])
                    for j in range(mm):
                        s += lut[qi, j, :][Cr[:, j]]
                    h = heaps[qi]
                    for off, i in enumerate(rows):
                        if ids[i] == qa[qi]:
                            continue
                        item = (s[off], -int(ids[i]))
                        if len(h) < n_keep:
                            heapq.heappush(h, item)
                        elif item > h[0]:
                            heapq.heapreplace(h, item)
        out = [
            (int(qa[qi]), -negid, float(sv))
            for qi in range(len(qa))
            for sv, negid in heaps[qi]
        ]
        yield pd.DataFrame(
            out, columns=[query_id_col, id_col, "sim_approx"]
        ).astype({query_id_col: "int64", id_col: "int64", "sim_approx": "float64"})

    partial = index.codes.mapInPandas(
        part_topk, schema=_pq_cand_schema(query_id_col, id_col)
    )
    return _pq_rank(
        partial, queries, corpus, k, n_keep,
        id_col, vec_col, query_id_col, round_to,
    )


def ivfpq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_cells: int = 64,
    m: int = 8,
    n_centroids: int = 256,
    n_probe: int = 8,
    rerank: int = 4,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    query_id_col: str = "qid",
    seed: int = 42,
) -> DataFrame:
    """One-shot IVF-PQ ANN: `ivfpq_fit` + `ivfpq_search` with exact
    rerank. Fit once and reuse for repeated query batches."""
    index = ivfpq_fit(
        corpus, n_cells=n_cells, m=m, n_centroids=n_centroids,
        vec_col=vec_col, id_col=id_col, seed=seed,
    )
    return ivfpq_search(
        index, queries, k=k, n_probe=n_probe, rerank=rerank,
        corpus=corpus, vec_col=vec_col, query_id_col=query_id_col,
    )


def pq_save(index: PqIndex, path: str) -> None:
    """Persist a fitted PQ index: the m-byte code table as parquet
    plus the codebooks as a 1-row JSON sidecar (same scheme as
    `ivf_save`). The at-rest footprint IS the memory story: m bytes +
    id per vector; codebooks are a few hundred KB regardless of corpus
    size. Fit once, serve query batches across sessions."""
    import os as _os

    index.codes.write.mode("overwrite").parquet(_os.path.join(path, "codes"))
    spark = index.codes.sparkSession
    atrest.write_meta(
        spark,
        _os.path.join(path, "meta"),
        {"id_col": index.id_col, "codebooks": index.codebooks},
    )


def pq_load(spark, path: str) -> PqIndex:
    """Reload a `pq_save`d index."""
    import os as _os

    meta = atrest.read_meta(spark, _os.path.join(path, "meta"))
    codes = spark.read.parquet(_os.path.join(path, "codes")).select(
        meta["id_col"], "__code"
    )
    return PqIndex(codes, meta["codebooks"], meta["id_col"])


def ivfpq_save(index: IvfPqIndex, path: str) -> None:
    """Persist a fitted IVF-PQ index: codes written
    `partitionBy(__cell)` — a probe of p cells READS ONLY p cells'
    directories (the same at-rest pruning as `ivf_save`, now over
    m-byte payloads instead of raw vectors) — plus centers+codebooks
    as one JSON sidecar."""
    import os as _os

    (
        index.codes.write.mode("overwrite")
        .partitionBy("__cell")
        .parquet(_os.path.join(path, "codes"))
    )
    spark = index.codes.sparkSession
    atrest.write_meta(
        spark,
        _os.path.join(path, "meta"),
        {
            "id_col": index.id_col,
            "centers": index.centers,
            "codebooks": index.codebooks,
        },
    )


def ivfpq_load(spark, path: str) -> IvfPqIndex:
    """Reload an `ivfpq_save`d index; the code table comes back
    partition-pruned on `__cell`."""
    import os as _os

    meta = atrest.read_meta(spark, _os.path.join(path, "meta"))
    codes = spark.read.parquet(_os.path.join(path, "codes")).select(
        meta["id_col"],
        F.col("__cell").cast("int").alias("__cell"),
        "__code",
    )
    return IvfPqIndex(codes, meta["centers"], meta["codebooks"], meta["id_col"])
