"""``curation``: the registered dedup, similarity, text and retrieval
queries over a generated corpus.

Inputs: ``testgen.gen_documents`` and ``testgen.gen_embeddings`` written
once as ``documents.parquet`` / ``embeddings.parquet``, the layout the
registered queries read. One pass runs every query in :data:`QUERIES`
(the short ones in :data:`REPEATED` three times) and collects its
result; the seed only permutes the call order within a pass. The
warm-up pass runs every query once and records a digest of each result.

Checks on every call: the result digest equals the warm-up pass's; the
exact-duplicate groups equal those of the collected corpus (the planted
``id % 100`` copies among them); MinHash recalls the planted ``id % 40``
near duplicates whose trigram Jaccard reaches the query's threshold;
the planted ``id % 200`` embedding copies are found at cosine 1.

Left out: ``curate_corpus``, which at 10x ran over five minutes and then
failed with ``SparkOutOfMemoryError`` on a 4-core, 6 GB-heap box; and
``semantic_dedup``, whose warm-up and measured calls (about 13 s a run)
did not fit the run budget beside the other queries.
"""

from __future__ import annotations

import hashlib
import os
import random
from collections import Counter

from cashback_data_pipeline_spark import queries as Q
from cashback_data_pipeline_spark import testgen

DOCS = 2_500
VECS = 1_000
DIM = 64
MINHASH_THRESHOLD = 0.8
MIN_RECALL = 0.95

#: query -> layer
QUERIES = {
    "dedup_exact_groups": "operators.dedup",
    "minhash_trigram_near_dups": "operators.dedup",
    "text_quality_scores": "operators.text",
    "embedding_near_dups_fast": "operators.similarity",
    "ann_ivf_topk": "operators.similarity",
    "bm25_search": "operators.retrieval",
}


#: Queries short enough that one call is a noisy sample: three per pass.
REPEATED = ("dedup_exact_groups", "text_quality_scores")


def digest(rows) -> str:
    h = hashlib.sha256()
    for r in sorted(repr(tuple(r)) for r in rows):
        h.update(r.encode())
    return h.hexdigest()


def trigram_jaccard(a: str, b: str) -> float:
    def grams(t):
        w = t.split()
        return {tuple(w[i : i + 3]) for i in range(len(w) - 2)} if len(w) >= 3 else {tuple(w)}

    ga, gb = grams(a), grams(b)
    return len(ga & gb) / len(ga | gb)


class Workload:
    def __init__(self, spark, tracer, rundir: str, seed: int):
        self.spark, self.tracer = spark, tracer
        self.rng = random.Random(seed)
        self.corpus = os.path.join(rundir, "corpus")
        self.digests: dict[str, str] = {}

    def setup(self):
        with self.tracer.call("testgen", "corpus"):
            docs = testgen.gen_documents(self.spark, DOCS)
            docs.write.parquet(os.path.join(self.corpus, "documents.parquet"))
            testgen.gen_embeddings(self.spark, VECS, dim=DIM).write.parquet(
                os.path.join(self.corpus, "embeddings.parquet")
            )
            texts = dict(docs.select("doc_id", "text").collect())
        groups: dict[str, list[int]] = {}
        for i, t in texts.items():
            groups.setdefault(t, []).append(i)
        self.exact_groups = Counter((min(g), len(g)) for g in groups.values())
        self.exact_planted = [(i - 2, i) for i in range(100, DOCS, 100)]
        self.near_planted = {
            (i - 1, i)
            for i in range(40, DOCS, 40)
            if i % 100 and trigram_jaccard(texts[i - 1], texts[i]) >= MINHASH_THRESHOLD
        }
        self.vec_planted = [(i - 1, i) for i in range(200, VECS, 200)]
        if not self.near_planted:
            raise RuntimeError("the corpus has no planted near duplicates above the threshold")
        for i, j in self.exact_planted:
            if texts[i] != texts[j]:
                raise RuntimeError(f"planted exact copy {j} of {i} differs")

    def _call(self, name: str):
        with self.tracer.call(QUERIES[name], name):
            rows = Q.QUERIES[name](self.spark, self.corpus).collect()
        sec = self.tracer.last_s()
        problems = self._check(name, rows)
        d = digest(rows)
        if self.digests.setdefault(name, d) != d:
            problems.append(f"{name}: result digest differs from the warm-up pass")
        return sec, DOCS / len(QUERIES) / (3 if name in REPEATED else 1), problems

    def _check(self, name: str, rows) -> list[str]:
        if name == "dedup_exact_groups":
            got = Counter((r["keep_id"], r["n_copies"]) for r in rows)
            if got != self.exact_groups:
                return ["dedup_exact_groups: groups differ from the corpus's exact copies"]
        elif name == "minhash_trigram_near_dups":
            found = {(min(r["id_a"], r["id_b"]), max(r["id_a"], r["id_b"])) for r in rows}
            recall = len(found & self.near_planted) / len(self.near_planted)
            if recall < MIN_RECALL:
                return [f"minhash recall of planted near dups {recall:.3f} < {MIN_RECALL}"]
        elif name == "embedding_near_dups_fast":
            pairs = {(min(r["id_a"], r["id_b"]), max(r["id_a"], r["id_b"])): r["cos"] for r in rows}
            missing = [p for p in self.vec_planted if pairs.get(p, 0.0) < 0.999999]
            if missing:
                return [f"embedding_near_dups_fast missed planted copies {missing[:5]}"]
        return []

    def _pass(self):
        names = [n for n in QUERIES for _ in range(3 if n in REPEATED else 1)]
        self.rng.shuffle(names)
        return [(n, lambda n=n: self._call(n)) for n in names]

    def warmup(self):
        problems = []
        for name in QUERIES:
            problems += self._call(name)[2]
        if problems:
            raise RuntimeError(f"warm-up pass failed its checks: {problems}")

    def rounds(self):
        while True:
            yield self._pass()

    def summary(self, records: list[dict]) -> dict:
        done = [r for r in records if r["s"] is not None]
        busy = sum(r["s"] for r in done)
        return {"curation.docs_per_s": sum(r["work"] for r in done) / busy if busy else 0.0}

    def trace_summary(self) -> dict:
        return {}

    def close(self) -> list[str]:
        return []
