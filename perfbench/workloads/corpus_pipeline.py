"""corpus_pipeline: near-duplicate screening and vector search.

Generated documents (Zipf vocabulary, 10% planted near-duplicates with
recorded true shingle Jaccard) and clustered embeddings (exact cosine
top-10 computed in numpy). One pass: ``lsh_verified_neardup``, the
Lloyd-refined IVF top-k, an LSH index built on 75% of the vectors,
appended with the other 25%, then queried. Driver staging (the
multi-job trainer), candidate-join shuffles and index writes dominate.
"""

from __future__ import annotations

import os
import shutil
import statistics

import numpy as np
import pyarrow.parquet as pq

import gen
from harness import Workload, a_set, latency_summary, pass_walls, passes_for

DOCS, DUP_RATE, VOCAB, DOC_ZIPF = 1_000, 0.1, 5_000, 1.1
VECS, DIM, CLUSTERS, NOISE = 1_200, 64, 64, 0.35
QUERY_EVERY, K, THRESHOLD = 100, 10, 0.5
# half the default cells and one Lloyd step: the trainer still runs its
# multi-job staging, and a pass fits twice in a run
IVF_PARAMS = dict(num_centroids=32, lloyd_iters=1)
PASS_S = 6.5  # one warm pass on a 4-core machine
LSH = dict(num_planes=4, num_tables=8, dim=DIM)
# Recall floors: the pipeline is deterministic for a seed, so a recall
# below its floor is a broken operator, not a noisy run.
FLOORS = {"dedup_pair_recall": 0.85, "ivf_recall_at_10": 0.8, "lsh_recall_at_10": 0.4}

DEDUP = "operators.dedup.lsh_verified_neardup"
IVF = "operators.similarity.ann_ivf_refined_topk"
BUILD = "operators.similarity.build_lsh_index"
APPEND = "operators.similarity.append_lsh_index"
QUERY = "operators.similarity.query_lsh_index"
OPS = (DEDUP, IVF, BUILD, APPEND, QUERY)


def _dir_mb(path: str) -> float:
    return sum(os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs) / 2**20


class CorpusPipeline(Workload):
    name = "corpus_pipeline"

    def generate(self) -> None:
        rng = np.random.default_rng(self.seed)
        os.makedirs(self.data_dir, exist_ok=True)
        docs, self.planted = gen.documents(rng, DOCS, dup_rate=DUP_RATE, vocab_size=VOCAB, s=DOC_ZIPF)
        emb, x = gen.embeddings(rng, VECS, dim=DIM, clusters=CLUSTERS, noise=NOISE)
        pq.write_table(docs, os.path.join(self.data_dir, "documents.parquet"))
        pq.write_table(emb, os.path.join(self.data_dir, "embeddings.parquet"))
        self.texts = dict(zip(docs.column("doc_id").to_pylist(), docs.column("text").to_pylist()))
        self.truth = gen.exact_topk(x, np.arange(0, VECS, QUERY_EVERY), K)
        gen.write_json(
            os.path.join(self.data_dir, "truth.json"), {"pairs": self.planted, "top10": self.truth}
        )
        above = sum(1 for _, _, j in self.planted if j >= THRESHOLD)
        self.props = {
            "docs": DOCS,
            "vocab": VOCAB,
            "zipf_s": DOC_ZIPF,
            "near_dup_rate": DUP_RATE,
            "planted_pairs_at_threshold": above,
            "vectors": VECS,
            "dim": DIM,
            "clusters": CLUSTERS,
            "queries": len(self.truth),
        }

    def _calls(self, spark, data_dir: str, index: str):
        from time_sift_spark.operators.dedup import lsh_verified_neardup
        from time_sift_spark.operators.similarity import (
            ann_ivf_refined_topk,
            append_lsh_index,
            build_lsh_index,
            query_lsh_index,
        )
        from time_sift_spark.sources.catalog import load_table

        docs = load_table(spark, "documents", data_dir)
        emb = load_table(spark, "embeddings", data_dir)
        pred = f"vid % {QUERY_EVERY} = 0"

        # results are small (pairs, top-k rows), so each call collects its
        # result as a caller would, and the checks read what was collected
        return [
            (DEDUP, lambda: lsh_verified_neardup(docs, "doc_id", "text", threshold=THRESHOLD).toPandas()),
            (IVF, lambda: ann_ivf_refined_topk(emb, "vec_id", "embedding", query_pred=pred, k=K, **IVF_PARAMS).toPandas()),
            (BUILD, lambda: build_lsh_index(emb.where("vec_id % 4 != 3"), "vec_id", "embedding", index, **LSH)),
            (APPEND, lambda: append_lsh_index(spark, index, emb.where("vec_id % 4 = 3"))),
            (QUERY, lambda: query_lsh_index(spark, index, query_pred=pred, k=K).toPandas()),
        ]

    def warm(self, spark) -> None:
        # one untimed pass on the real input: the first call of each op
        # pays code generation and JIT costs, and a pass on a smaller
        # input leaves the next full-size pass still half cold
        for _, fn in self._calls(spark, self.data_dir, os.path.join(self.data_dir, "warm_index")):
            fn()

    def measure(self, spark, rec, seconds: float) -> None:
        self.outputs = {}
        self.index = None
        self.passes = passes_for(seconds, PASS_S)
        for _ in range(self.passes):
            if self.index:
                shutil.rmtree(self.index, ignore_errors=True)
            self.index = os.path.join(self.data_dir, f"index_{len(rec.spans)}")
            for name, fn in self._calls(spark, self.data_dir, self.index):
                self.outputs[name] = self.call(rec, name, fn)
        self.index_mb = _dir_mb(self.index)

    # -- output checks ----------------------------------------------------------
    def _recall(self, df) -> float:
        found = df.groupby("query_id")["neighbor_id"].apply(set).to_dict()
        hits = sum(len(found.get(q, set()) & set(nn)) for q, nn in self.truth.items())
        return hits / (K * len(self.truth))

    def check(self, spark) -> None:
        self.quality = {}
        got = self.outputs.get(DEDUP)
        if got is not None:
            self.verified = len(got)
            for a, b, j in got[["doc_id_a", "doc_id_b", "jaccard"]].itertuples(index=False):
                true = gen.jaccard(self.texts[int(a)], self.texts[int(b)])
                if true < THRESHOLD - 1e-9 or abs(true - j) > 0.01:
                    self.problem(DEDUP, f"pair ({a}, {b}) reported jaccard {j:.4f}, true {true:.4f}")
                    break
            found = {(min(a, b), max(a, b)) for a, b in got[["doc_id_a", "doc_id_b"]].itertuples(index=False)}
            want = [(min(a, b), max(a, b)) for a, b, j in self.planted if j >= THRESHOLD]
            self.quality["dedup_pair_recall"] = sum(p in found for p in want) / max(len(want), 1)
            if self.traced:
                from time_sift_spark.operators.dedup import minhash_lsh_pairs
                from time_sift_spark.sources.catalog import load_table

                docs = load_table(spark, "documents", self.data_dir)
                self.candidates = minhash_lsh_pairs(docs, "doc_id", "text").count()
        for op, key in ((IVF, "ivf_recall_at_10"), (QUERY, "lsh_recall_at_10")):
            if self.outputs.get(op) is not None:
                self.quality[key] = self._recall(self.outputs[op])
        for key, floor in FLOORS.items():
            if key in self.quality and self.quality[key] < floor:
                self.problem(key, f"{key} = {self.quality[key]:.3f} is below its floor {floor}")

    # -- metrics ----------------------------------------------------------------
    def _calls_walls(self, rec):
        return [s.wall for s in rec.spans if s.parent is None]

    def e2e(self, rec) -> dict:
        walls = self._calls_walls(rec)
        return {
            "rows_per_s": (DOCS + VECS) * self.passes / sum(walls),
            "latency_p50_ms": statistics.median(pass_walls(rec, len(OPS))) * 1000.0,
        }

    def report(self, rec):
        lat = latency_summary(self._calls_walls(rec))
        writes = [b + a for b, a in zip(rec.walls(BUILD), rec.walls(APPEND))]
        out = [
            ("call_p50_ms", lat["p50"], "ms", lat["n"]),
            ("dedup_docs_per_s", DOCS / statistics.median(rec.walls(DEDUP)), "docs/s", self.passes),
            ("ivf_topk_s", statistics.median(rec.walls(IVF)), "s", self.passes),
            ("ann_index_write_s", statistics.median(writes), "s", self.passes),
            ("ann_query_s", statistics.median(rec.walls(QUERY)), "s", self.passes),
        ]
        out += [(k, v, "ratio", 1) for k, v in sorted(self.quality.items())]
        return out

    def layers(self, rec, attrs, progress) -> dict:
        out = {}
        for op in OPS:
            out.update(a_set(attrs, rec.spans, op))
        out["sources.index_written_mb"] = (self.index_mb, "MB")
        out["operators.dedup.verified_per_candidate"] = (self.verified / max(self.candidates, 1), "ratio")
        return out
