"""near_dup: the dedup operators under heavy, skewed duplication.

Documents hold planted near-duplicate clusters with power-law sizes and
one giant cluster, which makes hot LSH buckets; they go through
minhash_bands -> candidate_pairs -> connected_components.  A clustered
embedding set goes through semdedup_keep and lsh_topk.
"""

from __future__ import annotations

import time
from collections import Counter
from itertools import combinations

from common import IterResult, Workload, check, materialize, tree_cpu_s

from flask_data_pipes_spark.operators import dedup, similarity

MINHASH = dict(n_hashes=32, band_size=4, shingle_n=5, seed=1)
CC = dict(fixed_rounds=3)  # reach 14 hops: above any planted diameter
SEM = dict(dim=64, seed=42, threshold=0.9, n_planes=6)
TOPK = dict(k=5, n_planes=6, n_probe=3, dim=64, seed=42)
# Verification limits, with a margin over what seeds 1-24 gave (see
# README).  The MinHash family misses a few planted pairs and pairs some
# unrelated documents, so the limits are shares, not zero.
MAX_SPLIT = 0.15  # of planted clusters, not in one component
MAX_MERGED = 0.4  # of unclustered documents, in a component
MIN_SEM_USEFUL = 0.7  # of planted duplicate vectors, dropped

LAYERS = [
    ("operators.dedup.minhash_bands", dedup, "minhash_bands"),
    ("operators.dedup.candidate_pairs", dedup, "candidate_pairs"),
    ("operators.dedup.connected_components", dedup, "connected_components"),
    ("operators.dedup.semdedup_keep", dedup, "semdedup_keep"),
    ("operators.similarity.lsh_topk", similarity, "lsh_topk"),
]


def components(pairs) -> dict[int, int]:
    """Minimum-id label of every id in a pair (union-find)."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in parent}


def component_errors(label: dict, doc_cluster: dict) -> tuple[float, float]:
    """(share of planted clusters not in one component, share of
    unclustered documents in a component)."""
    members: dict[int, set] = {}
    for doc, c in doc_cluster.items():
        if c >= 0:
            members.setdefault(c, set()).add(doc)
    split = sum(len({label.get(d) for d in docs}) != 1 for docs in members.values())
    loose = [doc for doc, c in doc_cluster.items() if c < 0]
    merged = sum(doc in label for doc in loose)
    return split / max(len(members), 1), merged / max(len(loose), 1)


def sem_useful(vec_cluster: dict, kept: set) -> float:
    """Vectors dropped over planted duplicates (cluster sizes minus one)."""
    sizes: dict[int, int] = {}
    for c in vec_cluster.values():
        if c >= 0:
            sizes[c] = sizes.get(c, 0) + 1
    planted = sum(n - 1 for n in sizes.values())
    return (len(vec_cluster) - len(kept)) / planted if planted else 0.0


class NearDup(Workload):
    name = "near_dup"

    def install(self, tracer) -> None:
        for name, module, attr in LAYERS:
            tracer.install(module, attr, name, "build")

    def chain(self, root: str):
        spark, tr = self.ctx.spark, self.ctx.tracer
        docs = spark.read.parquet(f"{root}/documents.parquet").repartition(8, "doc_id")
        emb = spark.read.parquet(f"{root}/embeddings.parquet")
        queries = spark.read.parquet(f"{root}/queries.parquet").select("qid", "embedding")
        bands, n_bands = materialize(tr, "operators.dedup.minhash_bands",
                                     dedup.minhash_bands(docs, "text", "doc_id", **MINHASH))
        pairs, n_pairs = materialize(tr, "operators.dedup.candidate_pairs",
                                     dedup.candidate_pairs(bands, "doc_id"))
        labels = dedup.connected_components(pairs, "doc_id_a", "doc_id_b", **CC)
        labels_rows = tr.exec("operators.dedup.connected_components",
                              lambda: labels.select("id", "label").collect())
        kept = dedup.semdedup_keep(emb, "embedding", "vec_id", **SEM)
        kept_ids = tr.exec("operators.dedup.semdedup_keep",
                           lambda: [r[0] for r in kept.select("vec_id").collect()])
        top = similarity.lsh_topk(emb, queries, **TOPK)
        top_rows = tr.exec("operators.similarity.lsh_topk",
                           lambda: top.select("qid", "vec_id", "sim").collect())
        return dict(bands=bands, pairs=pairs, n_pairs=n_pairs, labels=labels_rows,
                    kept=kept_ids, top=top_rows)

    def verify(self, root: str, out: dict) -> list[str]:
        """Every document gets one band row per band; the candidate pairs
        are exactly the pairs that share a band bucket; the components
        are those of the pairs and keep nearly every planted cluster
        whole without pulling in unrelated documents; semantic dedup
        keeps every singleton and each cluster, and drops most planted
        duplicates; every query gets k rows, the best from its own
        cluster."""
        import pyarrow.parquet as pq

        doc_cluster = dict(zip(*pq.read_table(f"{root}/doc_truth.parquet")
                               .to_pydict().values()))
        vt = pq.read_table(f"{root}/vec_truth.parquet").to_pydict()
        vec_cluster = dict(zip(vt["vec_id"], vt["cluster"]))
        qt = pq.read_table(f"{root}/queries.parquet", columns=["qid", "cluster"]).to_pydict()
        q_cluster = dict(zip(qt["qid"], qt["cluster"]))
        p: list[str] = []

        n_bands = MINHASH["n_hashes"] // MINHASH["band_size"]
        doc_bands: dict[int, set] = {}
        buckets: dict[int, list[int]] = {}
        for doc, band, key in out["band_rows"]:
            doc_bands.setdefault(doc, set()).add(band)
            buckets.setdefault(key, []).append(doc)
        check(p, doc_bands.keys() == doc_cluster.keys()
              and all(b == set(range(n_bands)) for b in doc_bands.values())
              and len(out["band_rows"]) == n_bands * len(doc_cluster),
              "minhash_bands did not give each document one row per band")
        expected = {pair for ids in buckets.values()
                    for pair in combinations(sorted(set(ids)), 2)}
        check(p, len(out["pair_rows"]) == len(expected) and set(out["pair_rows"]) == expected,
              f"{len(out['pair_rows'])} candidate pairs, {len(expected)} share a bucket")

        label = {r[0]: r[1] for r in out["labels"]}
        check(p, label == components(out["pair_rows"]),
              "components differ from those of the candidate pairs")
        split, merged = component_errors(label, doc_cluster)
        check(p, split <= MAX_SPLIT, f"{split:.2f} of the planted clusters split")
        check(p, merged <= MAX_MERGED, f"{merged:.2f} of the unclustered documents joined a component")

        kept = set(out["kept"])
        singles = {v for v, c in vec_cluster.items() if c < 0}
        check(p, singles <= kept, "semantic dedup dropped a vector with no duplicate")
        kept_clusters = {vec_cluster[v] for v in kept if vec_cluster[v] >= 0}
        n_clusters = len({c for c in vec_cluster.values() if c >= 0})
        check(p, len(kept_clusters) == n_clusters, "semantic dedup dropped a whole cluster")
        out["sem_useful"] = sem_useful(vec_cluster, kept)
        check(p, out["sem_useful"] >= MIN_SEM_USEFUL,
              f"semantic dedup dropped {out['sem_useful']:.2f} of the planted duplicates "
              f"(at least {MIN_SEM_USEFUL})")

        hits: dict[int, list] = {}
        for qid, vid, sim in out["top"]:
            hits.setdefault(qid, []).append((sim, -vid))
        check(p, hits.keys() == q_cluster.keys()
              and all(len(h) == TOPK["k"] for h in hits.values()),
              f"top-k: not every one of {len(q_cluster)} queries got {TOPK['k']} rows")
        bad = [q for q, h in hits.items() if vec_cluster[-max(h)[1]] != q_cluster[q]]
        check(p, not bad, f"top-k: {len(bad)} queries' best hit is from a foreign cluster")
        return p

    def layer_probes(self, root: str, out: dict) -> None:
        """Traced-run-only counts from the rows verification collected:
        the largest band bucket and the useful share of the dedup work."""
        import pyarrow.parquet as pq

        doc_cluster = dict(zip(*pq.read_table(f"{root}/doc_truth.parquet")
                               .to_pydict().values()))
        sizes = Counter(key for _doc, _band, key in out["band_rows"])
        true_pairs = sum(doc_cluster[a] == doc_cluster[b] >= 0 for a, b in out["pair_rows"])
        ctx = self.ctx
        ctx.add_layer("operators.dedup.candidate_pairs.bucket_max", max(sizes.values()))
        ctx.add_layer("operators.dedup.candidate_pairs.useful_ratio",
                      true_pairs / out["n_pairs"] if out["n_pairs"] else 0.0)
        ctx.add_layer("operators.dedup.semdedup_keep.useful_ratio", out["sem_useful"])

    def _pass(self, manifest: dict, probes: bool) -> IterResult:
        root = manifest["root"]
        c0, t0 = tree_cpu_s(), time.perf_counter()
        with self.ctx.tracer.span("bench.iteration", "root"):
            out = self.chain(root)
        wall, cpu = time.perf_counter() - t0, tree_cpu_s() - c0
        try:
            out["pair_rows"] = [tuple(r) for r in out["pairs"].collect()]
            out["band_rows"] = [tuple(r) for r in
                                out["bands"].select("doc_id", "band", "band_key").collect()]
            problems = self.verify(root, out)
            if probes:
                self.layer_probes(root, out)
        finally:
            out["bands"].unpersist()
            out["pairs"].unpersist()
        return IterResult(wall, cpu, manifest["truth"]["rows_in"], [wall * 1000.0],
                          [cpu * 1000.0], [not problems], problems)

    def iteration(self, i: int) -> IterResult:
        tr = self.ctx.tracer
        return self._pass(self.ctx.inputs, tr.enabled and tr.iteration >= 0)
