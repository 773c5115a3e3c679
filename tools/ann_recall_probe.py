"""ANN recall probe: measure IVF recall@k against exact brute force,
end-to-end through the engine's own operators — kmeans_lloyd trains
the coarse quantizer, ivf_topk searches it, exact cosine (BLAS kernel) provides the
exact ground truth. Prints one JSON line per configuration:
{probe, corpus, dim, k, nprobe, recall_at_k, sec}.

The corpus is a Gaussian mixture (clustered geometry, like real
embedding spaces) generated with mapInPandas — uniform-random vectors
would make ANY inverted-list index look bad for reasons that say
nothing about the operator. Results land in BASELINE.md so the
recall/latency tradeoff of the scale path is measured, not asserted.

Usage: python tools/ann_recall_probe.py [corpus_thousands]
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from genetics_spark_coloc_spark.session import get_session


def main() -> None:
    n_corpus = int(float(sys.argv[1]) * 1000) if len(sys.argv) > 1 else 200_000
    dim, k, n_components = 64, 10, 64
    n_centroids = 256
    spark = get_session(
        app_name="ann_recall_probe",
        master="local[32]",
        shuffle_partitions=64,
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    spark.sparkContext.setLogLevel("ERROR")

    from genetics_spark_coloc_spark.operators.similarity import (
        cosine_topk,
        ivf_topk,
        kmeans_lloyd,
    )

    def gen(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            ids = pdf["id"].to_numpy()
            if len(ids) == 0:
                continue
            rng = np.random.default_rng(int(ids[0]) + 7)
            comp = ids % n_components
            centers = np.random.default_rng(42).normal(size=(n_components, dim))
            vecs = centers[comp] + 0.9 * rng.normal(size=(len(ids), dim))
            yield pd.DataFrame(
                {"vec_id": ids, "embedding": [list(map(float, v)) for v in vecs]}
            )

    corpus = (
        spark.range(n_corpus)
        .repartition(64)
        .mapInPandas(gen, "vec_id long, embedding array<double>")
        .localCheckpoint(eager=True)
    )
    queries = corpus.filter(F.col("vec_id") % max(1, n_corpus // 200) == 0)

    t0 = time.perf_counter()
    truth = (
        cosine_topk(corpus, queries, k=k)
        .select("queryId", "neighborId")
        .localCheckpoint(eager=True)
    )
    truth_sec = round(time.perf_counter() - t0, 2)
    n_truth = truth.count()
    print(
        json.dumps(
            {"probe": "exact_truth", "corpus": n_corpus, "dim": dim, "k": k,
             "pairs": n_truth, "sec": truth_sec}
        ),
        flush=True,
    )

    t0 = time.perf_counter()
    centroids = (
        kmeans_lloyd(corpus, k=n_centroids, n_iter=3, dim=dim)
        .select(F.col("centroidId").alias("vec_id"), "embedding")
        .localCheckpoint(eager=True)
    )
    centroids.count()
    train_sec = round(time.perf_counter() - t0, 2)
    print(
        json.dumps(
            {"probe": "kmeans_train", "corpus": n_corpus, "k_centroids": n_centroids,
             "n_iter": 3, "sec": train_sec}
        ),
        flush=True,
    )

    for nprobe in (1, 2, 4, 8):
        t0 = time.perf_counter()
        approx = ivf_topk(corpus, queries, centroids, k=k, nprobe=nprobe).select(
            "queryId", "neighborId"
        )
        hits = approx.join(truth, on=["queryId", "neighborId"], how="inner").count()
        sec = round(time.perf_counter() - t0, 2)
        print(
            json.dumps(
                {
                    "probe": "ivf_recall",
                    "corpus": n_corpus,
                    "dim": dim,
                    "k": k,
                    "nprobe": nprobe,
                    "recall_at_k": round(hits / n_truth, 4),
                    "sec": sec,
                }
            ),
            flush=True,
        )
    spark.stop()


if __name__ == "__main__":
    main()


def sq8_recall(n_corpus: int = 200_000) -> None:
    """SQ8 fidelity probe: recall@10 of asymmetric int8 search vs
    exact float search on the SAME unit-normalized Gaussian-mixture
    corpus (unit vectors make cosine == dot, so the two rankings are
    directly comparable).
    Run via: python -c "import tools.ann_recall_probe as ap; ap.sq8_recall()"
    """
    dim, k, n_components = 64, 10, 64
    spark = get_session(
        app_name="sq8_recall_probe",
        master="local[32]",
        shuffle_partitions=64,
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    from genetics_spark_coloc_spark.operators.pq import sq8_encode, sq8_topk
    from genetics_spark_coloc_spark.operators.similarity import cosine_topk

    def gen(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            ids = pdf["id"].to_numpy()
            if len(ids) == 0:
                continue
            rng = np.random.default_rng(int(ids[0]) + 7)
            comp = ids % n_components
            centers = np.random.default_rng(42).normal(size=(n_components, dim))
            vecs = centers[comp] + 0.9 * rng.normal(size=(len(ids), dim))
            vecs = vecs / np.linalg.norm(vecs, axis=1, keepdims=True)
            yield pd.DataFrame(
                {"vec_id": ids, "embedding": [list(map(float, v)) for v in vecs]}
            )

    corpus = (
        spark.range(n_corpus)
        .repartition(64)
        .mapInPandas(gen, "vec_id long, embedding array<double>")
        .localCheckpoint(eager=True)
    )
    queries = corpus.filter(F.col("vec_id") % max(1, n_corpus // 100) == 0)
    t0 = time.perf_counter()
    truth = (
        cosine_topk(corpus, queries, k=k)
        .select("queryId", "neighborId")
        .localCheckpoint(eager=True)
    )
    n_truth = truth.count()
    truth_sec = round(time.perf_counter() - t0, 2)
    t0 = time.perf_counter()
    enc = sq8_encode(corpus).localCheckpoint(eager=True)
    enc.count()
    enc_sec = round(time.perf_counter() - t0, 2)
    t0 = time.perf_counter()
    approx = sq8_topk(enc, queries, k=k).select("queryId", "neighborId")
    hits = approx.join(truth, on=["queryId", "neighborId"], how="inner").count()
    sec = round(time.perf_counter() - t0, 2)
    print(
        json.dumps(
            {
                "probe": "sq8_recall",
                "corpus": n_corpus,
                "dim": dim,
                "k": k,
                "recall_at_k": round(hits / n_truth, 4),
                "truth_sec": truth_sec,
                "encode_sec": enc_sec,
                "search_sec": sec,
            }
        ),
        flush=True,
    )
    spark.stop()
