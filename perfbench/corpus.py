"""corpus_dedup — the LLM-data pipeline.

Set-up: a seeded corpus of documents drawn from a Zipf vocabulary, with
planted exact copies and planted near-duplicates whose word-3-shingle
Jaccard is known; plus seeded clustered embeddings and an ANN index
trained on them (``train_ann_index``).

Each pass (outputs collected, as a pipeline stage hands them on):
``exact_dedup`` (written out as parquet) →
``with_text_analysis`` (which applies ``quality_score``) →
``minhash_lsh_dedup_pairs`` (production ``bands=16``, ``threshold=0.5``)
→ ``simhash_candidate_pairs``, then query batches through
``ivfpq_topk`` (production ``nprobe=4``) and ``lsh_topk`` (production
``bits=8, tables=16``).
"""

from __future__ import annotations

import os
from dataclasses import replace

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from common import Op, Workload, fingerprint, percentile, rows_digest, zipf_choice

N_DOCS = 2_500
VOCAB = 20_000
DOC_TOKENS = (30, 80)
COPY_SHARE = 0.03
NEAR_SHARE = 0.05
#: planted near-duplicates keep this share of tokens, so Jaccard ~0.7-0.95
NEAR_EDIT = (0.02, 0.08)
MINHASH_RECALL_FLOOR = 0.9   # P(detect) >= 0.988 at J >= 0.7, bands=16 x 4 rows
THRESHOLD = 0.5
N_VEC = 3_000
DIM = 64
CLUSTERS = 32
#: each cluster spreads along a random subspace of its own, of this
#: dimension, plus a little isotropic noise: embedding sets have a low
#: intrinsic dimension, so a vector's nearest neighbours stand apart from
#: the rest of its cluster. (In isotropic 64-dim clusters the 20th
#: nearest neighbour is only ~15% farther than the 5th, so the exact
#: top-5 is decided by the noise; here it is ~60% farther.)
INTRINSIC = 8
SPREAD = 0.8
NOISE = 0.05
QUERIES = 100
K = 5
NPROBE = 4
ANN_RECALL_FLOOR = 0.5       # the floor tests/test_operators_similarity.py pins
ANN_BATCHES = ("ivfpq", "lsh")


def _shingles(text: str) -> set[str]:
    toks = text.lower().strip().split()
    n = max(len(toks) - 2, 1)
    return {" ".join(toks[i:i + 3]) for i in range(n)}


def _jaccard(a: str, b: str) -> float:
    x, y = _shingles(a), _shingles(b)
    return len(x & y) / len(x | y)


class CorpusDedup(Workload):
    def setup(self) -> None:
        from druid_hadoop_utils_spark.operators.similarity import train_ann_index

        rng = np.random.default_rng(self.seed)
        words = np.array([f"w{i}" for i in rng.permutation(VOCAB)])
        n_copy = int(N_DOCS * COPY_SHARE)
        n_near = int(N_DOCS * NEAR_SHARE)
        n_orig = N_DOCS - n_copy - n_near
        lengths = rng.integers(*DOC_TOKENS, n_orig)
        flat = words[zipf_choice(rng, VOCAB, int(lengths.sum()), s=1.07)]
        cuts = np.cumsum(lengths)[:-1]
        texts = [" ".join(t) for t in np.split(flat, cuts)]
        self.near_pairs = {}
        for src in rng.choice(n_orig, n_near, replace=False):
            toks = texts[src].split()
            edits = max(1, int(len(toks) * rng.uniform(*NEAR_EDIT)))
            for pos in rng.choice(len(toks), edits, replace=False):
                toks[pos] = str(words[rng.integers(0, VOCAB)])
            self.near_pairs[(int(src), len(texts))] = _jaccard(texts[src], " ".join(toks))
            texts.append(" ".join(toks))
        self.copies = set(range(len(texts), N_DOCS))
        texts += [texts[i] for i in rng.choice(n_orig, n_copy)]
        self.texts = texts
        order = rng.permutation(N_DOCS)   # file order is not id order
        docs = pa.table({"doc_id": pa.array(order, type=pa.int64()),
                         "text": pa.array([texts[i] for i in order])})

        centers = rng.normal(0, 1, (CLUSTERS, DIM))
        labels = rng.integers(0, CLUSTERS, N_VEC)
        basis = rng.normal(0, 1, (CLUSTERS, INTRINSIC, DIM)) / np.sqrt(INTRINSIC)
        z = rng.normal(0, SPREAD, (N_VEC, INTRINSIC))
        vecs = (centers[labels] + np.einsum("nr,nrd->nd", z, basis[labels])
                + rng.normal(0, NOISE, (N_VEC, DIM)))
        self.vecs = vecs
        emb = pa.table({"vec_id": pa.array(np.arange(N_VEC), type=pa.int64()),
                        "embedding": pa.array(list(vecs), type=pa.list_(pa.float64()))})
        self.fingerprint = fingerprint("\n".join(texts).encode(), vecs)

        raw = os.path.join(self.work, "raw")
        os.makedirs(raw)
        pq.write_table(docs, os.path.join(raw, "docs.parquet"))
        pq.write_table(emb, os.path.join(raw, "emb.parquet"))
        self.docs = self.spark.read.parquet(os.path.join(raw, "docs.parquet"))
        self.emb = self.spark.read.parquet(os.path.join(raw, "emb.parquet"))
        self.index = train_ann_index(self.emb, n_cells=16, m=8, ks=16,
                                     corpus_version=str(N_VEC), seed=self.seed)
        self.deduped_path = os.path.join(self.work, "deduped")
        self._checked: set[str] = set()
        self.recall: dict[str, float] = {}

    def warm_ops(self) -> list[Op]:
        """One whole pass over a tenth of the corpus and a tenth of the
        queries, unchecked: the timed pass then finds Spark's codegen,
        the Python workers and the UDFs warm (a cold first pass made a
        run's throughput vary by a tenth on the same seed). The timed
        pass runs the checks."""
        docs = self.docs.where(f"doc_id < {N_DOCS // 10}")
        ops = [replace(op, check=None) for op in self._batch(
            np.random.default_rng([self.seed, 3]), docs, QUERIES // 10)]
        self._checked.clear()
        return ops

    # ------------------------------------------------------------ stream

    def batches(self):
        rng = np.random.default_rng([self.seed, 2])
        while True:
            yield self._batch(rng, self.docs, QUERIES)

    def _batch(self, rng, docs, queries: int) -> list[Op]:
        ops = [self._exact(docs), self._text(), self._minhash(), self._simhash()]
        for kind in ANN_BATCHES:
            ids = sorted(int(i) for i in rng.choice(N_VEC, queries, replace=False))
            ops.append(self._ann(kind, ids))
        return ops

    def _first(self, name: str) -> bool:
        first = name not in self._checked
        self._checked.add(name)
        return first

    def _exact(self, docs) -> Op:
        from druid_hadoop_utils_spark.operators import dedup as DD

        first = self._first("exact")

        def run():
            with self.tracer.span("operators.dedup.exact", "operators.dedup"):
                DD.exact_dedup(docs, ["text"], "doc_id").write.mode(
                    "overwrite").parquet(self.deduped_path)
            return self._deduped(), None

        def check(out):
            if not first:
                return None
            kept = {r[0] for r in out[0].select("doc_id").collect()}
            want = set(range(N_DOCS)) - self.copies
            return None if kept == want else (
                f"exact_dedup kept {len(kept)} docs, expected {len(want)}")

        return Op("exact_dedup", "exact", run, check, rows_digest)

    def _deduped(self):
        return self.spark.read.parquet(self.deduped_path)

    def _text(self) -> Op:
        from druid_hadoop_utils_spark.operators import text as TX

        first = self._first("text")

        def run():
            with self.tracer.span("operators.text.analysis", "operators.text"):
                return self._finish(TX.with_text_analysis(self._deduped()), True)

        def check(out):
            if not first:
                return None
            got = {r["doc_id"]: r["n_tokens"] for r in out[1]}
            bad = [i for i, n in got.items() if n != len(self.texts[i].split())]
            return f"{len(bad)} docs with wrong n_tokens" if bad else None

        return Op("text_analysis", "text", run, check, rows_digest)

    def _minhash(self) -> Op:
        from druid_hadoop_utils_spark.operators import dedup as DD

        first = self._first("minhash")

        def run():
            with self.tracer.span("operators.dedup.minhash", "operators.dedup"):
                return self._finish(DD.minhash_lsh_dedup_pairs(
                    self._deduped(), "doc_id", threshold=THRESHOLD, num_hashes=64,
                    bands=16), True)

        def check(out):
            pairs = {(r["id_a"], r["id_b"]): r["jaccard"] for r in out[1]}
            if self.tracer.enabled and first:
                self._count_lsh(len(pairs))
            if not first:
                return None
            low = [p for p, j in pairs.items() if j < THRESHOLD]
            if low:
                return f"{len(low)} reported pairs below jaccard {THRESHOLD}"
            found = [p for p in self.near_pairs if p in pairs]
            wrong = [p for p in found if abs(pairs[p] - self.near_pairs[p]) > 1e-9]
            if wrong:
                return f"{len(wrong)} planted pairs with a wrong jaccard"
            recall = len(found) / len(self.near_pairs)
            return None if recall >= MINHASH_RECALL_FLOOR else (
                f"minhash recall {recall:.3f} < {MINHASH_RECALL_FLOOR}")

        return Op("minhash_lsh", "minhash", run, check, rows_digest)

    def _count_lsh(self, verified: int) -> None:
        """Counting-only: LSH candidates before verification."""
        from pyspark.sql import functions as F

        from druid_hadoop_utils_spark.operators import dedup as DD

        base = self._deduped().select(
            F.col("doc_id").alias("__id"), DD.word_shingles("text", 3).alias("__sh"))
        sig = DD.minhash_table(base, "__id", "__sh", 64, 42)
        cands = DD.lsh_candidate_pairs(sig, "__id", "signature", 16, 4).count()
        self.tracer.count("operators.dedup.lsh_candidates", cands)
        self.tracer.count("operators.dedup.lsh_verified", verified)

    def _simhash(self) -> Op:
        from druid_hadoop_utils_spark.operators import dedup as DD

        first = self._first("simhash")

        def run():
            with self.tracer.span("operators.dedup.simhash", "operators.dedup"):
                return self._finish(DD.simhash_candidate_pairs(
                    self._deduped(), "doc_id", max_hamming=3), True)

        def check(out):
            if not first:
                return None
            bad = [r for r in out[1] if not r["id_a"] < r["id_b"]]
            return f"{len(bad)} simhash pairs not ordered id_a < id_b" if bad else None

        return Op("simhash", "simhash", run, check, rows_digest)

    def _ann(self, kind: str, ids: list[int]) -> Op:
        from pyspark.sql import functions as F

        from druid_hadoop_utils_spark.operators import similarity as SIM

        first = self._first(kind)

        def run():
            queries = self.emb.where(F.col("vec_id").isin(ids))
            with self.tracer.span("operators.similarity.ann", "operators.similarity"):
                if kind == "ivfpq":
                    out = SIM.ivfpq_topk(self.emb, queries, k=K, nprobe=NPROBE,
                                         index=self.index)
                else:
                    out = SIM.lsh_topk(self.emb, queries, k=K, dim=DIM, bits=8, tables=16)
                return self._finish(out, True)

        def check(out):
            if not first:
                return None
            queries = self.emb.where(F.col("vec_id").isin(ids))
            exact = SIM.brute_force_topk(self.emb, queries, k=K).collect()
            truth = {(r["query_id"], r["neighbor_id"]) for r in exact}
            got = {(r["query_id"], r["neighbor_id"]) for r in out[1]}
            recall = len(truth & got) / len(truth)
            self.recall[kind] = recall
            if self.tracer.enabled:
                self.tracer.count("operators.similarity.recall_hits", len(truth & got))
                self.tracer.count("operators.similarity.recall_checked", len(truth))
                if kind == "ivfpq":
                    self._count_ivf_candidates(ids)
            return None if recall >= ANN_RECALL_FLOOR else (
                f"{kind} recall@{K} {recall:.3f} < {ANN_RECALL_FLOOR}")

        return Op(f"ann_{kind}", "ann", run, check, rows_digest)

    def _count_ivf_candidates(self, ids: list[int]) -> None:
        """Counting-only: corpus vectors in the ``nprobe`` cells each
        query probes (the candidates IVF-PQ scores)."""
        c = np.asarray(self.index["centroids"])
        cells = np.argmin(((self.vecs[:, None, :] - c[None]) ** 2).sum(-1), axis=1)
        sizes = np.bincount(cells, minlength=len(c))
        for q in self.vecs[ids]:
            probe = np.argsort(((c - q) ** 2).sum(-1))[:NPROBE]
            self.tracer.count("operators.similarity.candidates", sizes[probe].sum())
        self.tracer.count("operators.similarity.queries", len(ids))

    def detail_metrics(self, samples: dict[str, list[float]]) -> dict:
        out = {}
        stages = [samples.get(c) for c in ("exact", "text", "minhash", "simhash")]
        if all(stages):
            per_pass = sum(percentile(v, 0.5) for v in stages)
            out["corpus_docs_per_s"] = {"value": round(N_DOCS / per_pass, 2),
                                        "unit": "docs/s", "n": len(stages[0])}
        if samples.get("ann"):
            v = samples["ann"]
            out["ann_query_p50_s"] = {"value": round(percentile(v, 0.5), 4),
                                      "unit": "s", "n": len(v)}
        for kind, recall in self.recall.items():
            out[f"{kind}_recall_at_{K}"] = {"value": recall, "unit": "ratio",
                                            "n": QUERIES * K}
        return out
