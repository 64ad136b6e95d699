"""Seeded inputs for the benchmark workloads, built with numpy and pyarrow
only (never with the package under test).

Every input set is a pure function of (workload, seed, size): the same
arguments give byte-identical files.  Sets are cached under
``<cache_root>/<workload>-<size>-s<seed>/``; ``manifest.json`` is written
last, so a set without one is incomplete and is rebuilt, as is a set
made by another version of this file.  The manifest
holds the generation parameters, the planted ground truth and a sha256
digest over every file, which each run records.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Per-workload generation parameters.  "full" is what the benchmark
# measures; "tiny" feeds the warm-up pass and the smoke tests.
SIZES = {
    "etl_objects": {
        "full": dict(n_objects=48, rows=250, fanout=3, bad_url_rate=0.1),
        "tiny": dict(n_objects=4, rows=250, fanout=3, bad_url_rate=0.1),
    },
    "curate_corpus": {
        "full": dict(n_docs=1200, foreign=0.05, junk=0.03, exact_dup=0.04,
                     near_dup=0.03, contaminated=0.02, boilerplate=0.15),
        "tiny": dict(n_docs=100, foreign=0.05, junk=0.03, exact_dup=0.04,
                     near_dup=0.03, contaminated=0.02, boilerplate=0.15),
    },
    "near_dup": {
        "full": dict(n_docs=600, giant=200, cluster_share=0.6, zipf=1.5, words=40,
                     n_vecs=1000, vec_cluster_share=0.4, n_queries=64),
        # enough vectors that every query's two probed buckets hold k
        "tiny": dict(n_docs=100, giant=10, cluster_share=0.3, zipf=1.5, words=40,
                     n_vecs=600, vec_cluster_share=0.4, n_queries=8),
    },
}

# The stopword lists the language-ID operator counts (one per
# language).  English documents draw only English stopwords, foreign
# ones only German, so the expected language of every document is known.
STOPWORDS_EN = ["the", "and", "of", "to", "in", "is", "that", "it", "for", "with"]
STOPWORDS_DE = ["der", "die", "und", "das", "ist", "nicht", "ein", "mit", "von", "zu"]
_ALL_STOPWORDS = set(STOPWORDS_EN + STOPWORDS_DE + [
    "le", "la", "les", "et", "est", "pas", "pour", "que", "une", "dans",
    "el", "los", "y", "es", "no", "por", "una", "con",
])
_LETTERS = np.array(list("abcdefghijklmnopqrstuvwxyz"))

DIM = 64  # embedding width
QID_BASE = 1_000_000  # query ids start above it


def _vocab(rng: np.random.Generator, n: int, lo: int = 4, hi: int = 9) -> list[str]:
    """n distinct lowercase words of lo..hi letters, none a stopword."""
    out: list[str] = []
    seen: set[str] = set()
    while len(out) < n:
        lens = rng.integers(lo, hi + 1, size=n)
        letters = rng.choice(_LETTERS, size=(n, hi))
        for row, k in zip(letters, lens):
            w = "".join(row[:k])
            if w not in seen and w not in _ALL_STOPWORDS:
                seen.add(w)
                out.append(w)
                if len(out) == n:
                    break
    return out


class _Prose:
    """English-like lines: Zipf-weighted content words with stopwords
    mixed in at a fixed rate."""

    def __init__(self, rng: np.random.Generator, n_words: int = 6000,
                 stopwords: list[str] = STOPWORDS_EN, sw_rate: float = 0.3):
        self.rng = rng
        self.words = np.array(_vocab(rng, n_words))
        w = 1.0 / np.arange(1, n_words + 1) ** 0.8
        self.p = w / w.sum()
        self.stopwords = np.array(stopwords)
        self.sw_rate = sw_rate

    def line(self, n: int) -> str:
        toks = self.rng.choice(self.words, size=n, p=self.p)
        sw = self.rng.random(n) < self.sw_rate
        toks[sw] = self.rng.choice(self.stopwords, size=int(sw.sum()))
        return " ".join(toks)

    def doc(self, n_lines: int, lo: int = 10, hi: int = 18) -> list[str]:
        return [self.line(int(self.rng.integers(lo, hi + 1))) for _ in range(n_lines)]


def _swap_word(rng: np.random.Generator, line: str, words: np.ndarray) -> str:
    """`line` with one word replaced by a different one."""
    toks = line.split(" ")
    i = int(rng.integers(len(toks)))
    new = toks[i]
    while new == toks[i]:
        new = str(rng.choice(words))
    toks[i] = new
    return " ".join(toks)


def _write_parquet(path: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), path)


def _digest(root: str) -> str:
    h = hashlib.sha256()
    for dirpath, dirnames, files in sorted(os.walk(root)):
        dirnames.sort()
        for f in sorted(files):
            if f == "manifest.json":
                continue
            p = os.path.join(dirpath, f)
            h.update(os.path.relpath(p, root).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


# --- etl_objects --------------------------------------------------------------

_METHODS = np.array(["get", "post", "put", "delete", "patch"])


def _gen_etl_objects(root: str, rng: np.random.Generator, p: dict) -> dict:
    """Small JSON-lines data objects, one file per object."""
    names = np.array(_vocab(rng, 500))
    os.makedirs(os.path.join(root, "objects"))
    expected = {}
    bad_urls = {}
    for obj in range(p["n_objects"]):
        n = p["rows"]
        fan = rng.integers(0, 2 * p["fanout"] + 1, size=n)
        bad = rng.random(n) < p["bad_url_rate"]
        days = rng.integers(0, 365, size=n)
        lines = []
        for j in range(n):
            url = (f"https://host{int(rng.integers(50))}.example/p/{obj}/{j}"
                   if not bad[j] else f"not a url {j}")
            lines.append(json.dumps(dict(
                object_id=obj,
                row_id=j,
                name=str(rng.choice(names)),
                verb=str(rng.choice(_METHODS)),
                url=url,
                day=str(np.datetime64("2025-01-01") + int(days[j])),
                tags=[str(t) for t in rng.choice(names, size=int(fan[j]))],
            )))
        with open(os.path.join(root, "objects", f"obj_{obj:04d}.jsonl"), "w") as fh:
            fh.write("\n".join(lines) + "\n")
        # an empty tag list still yields one (NULL) row
        expected[obj] = int(np.maximum(fan, 1).sum())
        bad_urls[obj] = int((np.maximum(fan, 1) * bad).sum())
    return dict(rows_out=expected, bad_url_rows=bad_urls,
                rows_in=p["n_objects"] * p["rows"])


# --- curate_corpus ------------------------------------------------------------


def _gen_curate_corpus(root: str, rng: np.random.Generator, p: dict) -> dict:
    """A low-duplication web-like corpus with planted structure: foreign
    and junk documents, exact copies, near copies (one word changed in
    every line, so no line repeats and line dedup leaves them whole),
    shared boilerplate lines, and train documents quoting a held-out
    document.

    Test-split documents are the originals whose doc_id % 10 == 0.  Every
    planted copy has a larger doc_id than its original, so a keep-min
    rule keeps the original."""
    prose = _Prose(rng)
    foreign = _Prose(rng, stopwords=STOPWORDS_DE)
    pool = [prose.line(14) for _ in range(20)]  # boilerplate lines
    n = p["n_docs"]
    texts: list[str] = []
    kinds: list[str] = []
    origin: list[int] = []
    originals: list[int] = []  # doc ids of clean train originals
    tests: list[int] = []
    # fixed counts per kind in a seeded order: every seed plants the same
    # amount of each (a copy drawn before any original stays clean)
    plan = np.array(["clean"] * n, dtype=object)
    start = 0
    for kind in ("foreign", "junk", "exact_dup", "near_dup", "contaminated"):
        k = int(round(n * p[kind]))
        plan[start:start + k] = kind
        start += k
    plan = plan[rng.permutation(n)]
    for i in range(n):
        doc_id = i + 1
        want = plan[i]
        lines = None
        kind, src = "clean", 0
        can_copy = bool(originals) and doc_id % 10 != 0
        if want == "foreign":
            kind, lines = "foreign", foreign.doc(int(rng.integers(3, 7)))
        elif want == "junk":
            kind = "junk"
            lines = ["".join(rng.choice(list("#$%&*!?0123456789 "), size=80))]
        elif want == "exact_dup" and can_copy:
            kind, src = "exact_dup", int(rng.choice(originals))
            # same canonical text: case and spacing differ only
            lines = [t.replace(" ", "  ", 1).upper() if k == 0 else t
                     for k, t in enumerate(texts[src - 1].split("\n"))]
        elif want == "near_dup" and can_copy:
            kind, src = "near_dup", int(rng.choice(originals))
            lines = [_swap_word(rng, t, prose.words) for t in texts[src - 1].split("\n")]
        elif want == "contaminated" and can_copy and tests:
            # each held-out document is quoted once: a second quote of
            # the same passage would be removed by line dedup
            kind, src = "contaminated", tests.pop(int(rng.integers(len(tests))))
            lines = prose.doc(int(rng.integers(4, 8)))
            # a passage that starts mid-line, so no whole line repeats
            test_words = texts[src - 1].replace("\n", " ").split(" ")
            lines[1] = " ".join(test_words[3:19])
        if lines is None:
            kind = "clean"
            lines = prose.doc(int(rng.integers(4, 8)))
            if rng.random() < p["boilerplate"]:
                lines.insert(int(rng.integers(len(lines) + 1)),
                             pool[int(rng.integers(len(pool)))])
            if doc_id % 10 == 0:
                tests.append(doc_id)
            else:
                originals.append(doc_id)
        texts.append("\n".join(lines))
        kinds.append(kind)
        origin.append(src)
    ids = np.arange(1, n + 1, dtype=np.int64)
    _write_parquet(os.path.join(root, "documents.parquet"),
                   {"doc_id": ids, "text": texts})
    # ground truth is kept apart from the program's input
    _write_parquet(os.path.join(root, "truth.parquet"),
                   {"doc_id": ids, "kind": kinds,
                    "origin": np.array(origin, dtype=np.int64)})
    return dict(rows_in=n, kinds={k: kinds.count(k) for k in sorted(set(kinds))})


# --- near_dup -----------------------------------------------------------------


def _cluster_sizes(members: int, giant: int, zipf: float) -> list[int]:
    """One giant cluster, then clusters of power-law falling sizes (>= 2)
    summing to `members`.  Sizes depend on the parameters only, so every
    seed plants the same amount of duplication."""
    sizes = [giant]
    left, k = members - giant, 1
    while left >= 2:
        s = min(max(2, int(giant / 8 / k ** zipf)), left)
        if left - s == 1:
            s += 1
        sizes.append(s)
        left -= s
        k += 1
    return sizes


def _gen_near_dup(root: str, rng: np.random.Generator, p: dict) -> dict:
    """Documents with planted near-duplicate clusters, plus clustered
    embeddings and queries.  Text is random letter-words, so unrelated
    documents share almost no character shingles: a candidate pair
    outside a planted cluster comes from the MinHash family, not the
    text."""
    words = np.array(_vocab(rng, 20000, 3, 8))
    n = p["n_docs"]
    members = int(n * p["cluster_share"])
    sizes = _cluster_sizes(members, p["giant"], p["zipf"])
    texts: list[str] = []
    cluster: list[int] = []
    n_words = p["words"]
    for c, size in enumerate(sizes):
        # the base itself plus variants one word away from it
        base = " ".join(rng.choice(words, size=n_words))
        for k in range(size):
            texts.append(base if k == 0 else _swap_word(rng, base, words))
            cluster.append(c)
    while len(texts) < n:
        texts.append(" ".join(rng.choice(words, size=n_words)))
        cluster.append(-1)
    order = rng.permutation(n)  # cluster members are not id-adjacent
    ids = np.arange(1, n + 1, dtype=np.int64)
    _write_parquet(os.path.join(root, "documents.parquet"),
                   {"doc_id": ids, "text": [texts[i] for i in order]})
    _write_parquet(os.path.join(root, "doc_truth.parquet"),
                   {"doc_id": ids,
                    "cluster": np.array([cluster[i] for i in order], dtype=np.int64)})

    # embeddings: tight clusters around random unit centers + singletons
    nv = p["n_vecs"]
    vmembers = int(nv * p["vec_cluster_share"])
    vsizes = _cluster_sizes(vmembers, max(4, p["giant"] // 3), p["zipf"])
    vecs, vcluster = [], []
    for c, size in enumerate(vsizes):
        center = rng.standard_normal(DIM)
        center /= np.linalg.norm(center)
        pts = center + rng.standard_normal((size, DIM)) * 0.01
        vecs.append(pts)
        vcluster += [c] * size
    rest = nv - len(vcluster)
    vecs.append(rng.standard_normal((rest, DIM)))
    vcluster += [-1] * rest
    vecs = np.vstack(vecs).astype(np.float32)
    order = rng.permutation(nv)
    vecs, vcluster = vecs[order], np.array(vcluster, dtype=np.int64)[order]
    vids = np.arange(1, nv + 1, dtype=np.int64)
    emb_type = pa.list_(pa.float32())
    pq.write_table(pa.table({"vec_id": vids,
                             "embedding": pa.array(list(vecs), type=emb_type)}),
                   os.path.join(root, "embeddings.parquet"))
    _write_parquet(os.path.join(root, "vec_truth.parquet"),
                   {"vec_id": vids, "cluster": vcluster})
    # queries: a fresh point very near one member of each of some
    # clusters, so the member shares the query's bucket or one across
    # its lowest-margin planes.  Query ids sit above every vector
    # id: lsh_topk treats an equal id as the query itself.
    qc = rng.choice(len(vsizes), size=min(p["n_queries"], len(vsizes)), replace=False)
    qv = []
    for c in qc:
        member = vecs[int(rng.choice(np.flatnonzero(vcluster == c)))]
        qv.append(member + rng.standard_normal(DIM).astype(np.float32) * 1e-4)
    pq.write_table(pa.table({"qid": np.arange(QID_BASE + 1, QID_BASE + len(qc) + 1,
                                              dtype=np.int64),
                             "embedding": pa.array([np.asarray(v, np.float32) for v in qv],
                                                   type=emb_type),
                             "cluster": qc.astype(np.int64)}),
                   os.path.join(root, "queries.parquet"))
    return dict(rows_in=n + nv, n_doc_clusters=len(sizes), giant=p["giant"],
                n_vec_clusters=len(vsizes))


_GENERATORS = {
    "etl_objects": _gen_etl_objects,
    "curate_corpus": _gen_curate_corpus,
    "near_dup": _gen_near_dup,
}


def _source_digest() -> str:
    with open(os.path.abspath(__file__), "rb") as fh:
        return hashlib.sha256(fh.read()).hexdigest()


def _seed_for(workload: str, seed: int, size: str) -> int:
    """A generator seed that differs per workload and size, so the same
    --seed gives unrelated inputs across workloads."""
    h = hashlib.sha256(f"{workload}|{size}|{seed}".encode()).digest()
    return int.from_bytes(h[:8], "little")


def make_inputs(workload: str, seed: int, size: str, cache_root: str) -> dict:
    """Return the manifest of the input set, generating it if needed."""
    params = SIZES[workload][size]
    root = os.path.join(cache_root, f"{workload}-{size}-s{seed}")
    manifest_path = os.path.join(root, "manifest.json")
    if os.path.exists(manifest_path):
        with open(manifest_path) as fh:
            manifest = json.load(fh)
        if manifest.get("params") == params and manifest.get("generator") == _source_digest():
            return manifest
    shutil.rmtree(root, ignore_errors=True)
    os.makedirs(root)
    rng = np.random.default_rng(_seed_for(workload, seed, size))
    truth = _GENERATORS[workload](root, rng, params)
    manifest = dict(workload=workload, seed=seed, size=size, params=params,
                    generator=_source_digest(), root=root, truth=truth, digest=_digest(root))
    tmp = manifest_path + ".tmp"
    with open(tmp, "w") as fh:
        json.dump(manifest, fh)
    os.replace(tmp, manifest_path)
    with open(manifest_path) as fh:  # the same JSON types a cache hit gives
        return json.load(fh)
