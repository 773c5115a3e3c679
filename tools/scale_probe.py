"""Scale probe: run core operators on synthetic data 100× the sf0.1
testdata to confirm plans stay data-bound (no driver loops, no
quadratic blowups) before the real cluster scale-up.

Generates rows with spark.range (never touches /root/testdata), so
row counts are limited only by local compute. Prints one JSON line
per probe: {probe, rows, sec, rows_per_sec}.

Usage: python tools/scale_probe.py [rows_millions]
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from genetics_spark_coloc_spark.session import get_session


def probe(name: str, rows: int, fn) -> None:
    start = time.perf_counter()
    fn().write.format("noop").mode("overwrite").save()
    sec = round(time.perf_counter() - start, 2)
    print(
        json.dumps(
            {
                "probe": name,
                "rows": rows,
                "sec": sec,
                "rows_per_sec": int(rows / sec) if sec else None,
            }
        ),
        flush=True,
    )


def main() -> None:
    mrows = float(sys.argv[1]) if len(sys.argv) > 1 else 10.0
    n = int(mrows * 1_000_000)
    spark = get_session(
        app_name="scale_probe",
        master="local[32]",
        shuffle_partitions=64,
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    spark.sparkContext.setLogLevel("ERROR")

    def events():
        # ~100k users, poisson-ish inter-event gaps, one hot user with
        # ~1% of all rows to exercise the skew path
        return spark.range(n).select(
            F.col("id").alias("event_id"),
            F.when(F.col("id") % 100 == 0, F.lit(42))
            .otherwise(F.pmod(F.hash("id"), F.lit(100_000)))
            .cast("long")
            .alias("user_id"),
            (F.col("id") * 7 % 864_000).cast("double").alias("epoch_s"),
            (F.pmod(F.hash("id", "id"), F.lit(1000)) / 10.0).alias("value"),
            F.when(F.col("id") % 3 == 0, F.lit("view"))
            .otherwise(F.lit("click"))
            .alias("event_type"),
        )

    from genetics_spark_coloc_spark.operators.asof import asof_join
    from genetics_spark_coloc_spark.operators.clumping import window_based_clumping
    from genetics_spark_coloc_spark.operators.dedup import exact_dedup
    from genetics_spark_coloc_spark.operators.sessions import sessionize

    probe("sessionize_10x_skewed", n, lambda: sessionize(events(), ts_col="epoch_s"))

    def asof():
        base = events()
        views = base.filter(F.col("event_type") == "view").select(
            F.col("user_id").alias("userId"),
            F.col("epoch_s").alias("epochS"),
            F.col("event_id").alias("viewEventId"),
        )
        clicks = base.filter(F.col("event_type") == "click").select(
            F.col("user_id").alias("userId"),
            F.col("epoch_s").alias("epochS"),
            F.col("event_id").alias("clickEventId"),
            F.col("value").alias("clickValue"),
        )
        return asof_join(
            views, clicks, on=["userId"], ts_col="epochS",
            payload_cols=["clickEventId", "clickValue"],
            tiebreak_col="clickEventId",
        )

    probe("asof_join", n, asof)

    def sumstats():
        return spark.range(n).select(
            F.concat(F.lit("S"), (F.col("id") % 50).cast("string")).alias("studyId"),
            (1 + F.col("id") % 22).cast("string").alias("chromosome"),
            (F.pmod(F.hash("id"), F.lit(50_000_000)) + 1).cast("int").alias("position"),
            F.concat(F.lit("v"), F.col("id").cast("string")).alias("variantId"),
            (1.0 + F.pmod(F.hash("id", "id"), F.lit(90)) / 10.0)
            .cast("float")
            .alias("pValueMantissa"),
            (-(F.pmod(F.hash("id", "id", "id"), F.lit(20))) - 1)
            .cast("int")
            .alias("pValueExponent"),
        )

    probe(
        "window_clumping",
        n,
        lambda: window_based_clumping(sumstats(), distance=500_000),
    )

    def docs():
        return spark.range(n // 10).select(
            F.col("id").alias("doc_id"),
            F.concat(
                F.lit("document body "),
                (F.col("id") % (n // 40)).cast("string"),
                F.lit(" common tail of text"),
            ).alias("text"),
        )

    probe("exact_dedup", n // 10, lambda: exact_dedup(docs(), "text", "doc_id"))

    spark.stop()


if __name__ == "__main__":
    main()


def extra_probes() -> None:
    """Similarity/dedup probes: minhash-LSH pairs over synthetic docs,
    banded hyperplane LSH + IVF assignment over synthetic embeddings.
    Run via: python -c "import tools.scale_probe as sp; sp.extra_probes()"
    """
    spark = get_session(
        app_name="scale_probe_sim",
        master="local[32]",
        shuffle_partitions=64,
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    from genetics_spark_coloc_spark.operators.dedup import minhash_dedup_pairs
    from genetics_spark_coloc_spark.operators.similarity import (
        assign_to_centroids,
        lsh_cosine_candidates_banded,
    )

    n_docs = 500_000
    docs = spark.range(n_docs).select(
        F.col("id").alias("doc_id"),
        # md5 FIRST: a long shared prefix would funnel every doc's
        # min-hash onto the same boilerplate shingle and collapse all
        # docs into one quadratic LSH bucket
        F.concat(
            F.md5(F.col("id").cast("string")),
            F.lit(" document body "),
            (F.col("id") % (n_docs // 5)).cast("string"),
            F.lit(" "),
            F.md5((F.col("id") * 31).cast("string")),
        ).alias("text"),
    )
    probe(
        "minhash_lsh_pairs_500k_docs",
        n_docs,
        lambda: minhash_dedup_pairs(docs, "text", "doc_id", num_perm=8, band_size=2),
    )

    n_vec, dim = 200_000, 64
    emb = spark.range(n_vec).select(
        F.col("id").alias("vec_id"),
        F.array(
            *[
                (F.pmod(F.hash(F.col("id"), F.lit(d)), F.lit(2000)) / 1000.0 - 1.0)
                .cast("float")
                for d in range(dim)
            ]
        ).alias("embedding"),
    )
    # uniform random vectors are the LSH worst case: with only
    # 2^8 hashes per band every bucket holds ~n/256 noise rows and
    # the pair join degenerates toward all-pairs. The documented
    # scaling response is raising planes_per_band; probe both.
    probe(
        "banded_lsh_200k_vecs_8planes_noise_worstcase",
        n_vec,
        lambda: lsh_cosine_candidates_banded(emb, num_bands=4, planes_per_band=8),
    )
    probe(
        "banded_lsh_200k_vecs_16planes",
        n_vec,
        lambda: lsh_cosine_candidates_banded(emb, num_bands=4, planes_per_band=16),
    )
    centroids = spark.range(256).select(
        F.col("id").alias("vec_id"),
        F.array(
            *[
                (F.pmod(F.hash(F.col("id"), F.lit(d + 7)), F.lit(2000)) / 1000.0 - 1.0)
                .cast("float")
                for d in range(dim)
            ]
        ).alias("embedding"),
    )
    probe(
        "ivf_assign_200k_vecs_256_centroids",
        n_vec,
        lambda: assign_to_centroids(emb, centroids),
    )
    spark.stop()


def text_probes(n_docs: int = 2_000_000) -> None:
    """Round-4 operator probes: duplicate n-gram coverage,
    decontamination, pre-tokenizer accounting over synthetic docs at
    ~40x the sf0.1 document volume, plus distributed TreeSHAP over
    1M feature rows.
    Run via: python -c "import tools.scale_probe as sp; sp.text_probes()"
    """
    spark = get_session(
        app_name="scale_probe_text",
        master="local[32]",
        shuffle_partitions=64,
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    from genetics_spark_coloc_spark.operators.text import (
        decontaminate,
        duplicate_ngram_coverage,
        pretoken_stats,
    )

    docs = spark.range(n_docs).select(
        F.col("id").alias("doc_id"),
        F.concat(
            F.md5(F.col("id").cast("string")),
            F.lit(" some shared body text fragment number "),
            (F.col("id") % 50_000).cast("string"),
            F.lit(" tail "),
            F.md5((F.col("id") * 17).cast("string")),
        ).alias("text"),
    )
    probe("pretoken_stats_2m_docs", n_docs, lambda: pretoken_stats(docs))
    probe(
        "dup_ngram_coverage_2m_docs",
        n_docs,
        lambda: duplicate_ngram_coverage(docs, n=5),
    )
    probe(
        "decontaminate_2m_docs",
        n_docs,
        lambda: decontaminate(
            docs.filter(F.col("doc_id") % 97 != 0),
            docs.filter(F.col("doc_id") % 97 == 0),
            n=5,
        ),
    )
    from genetics_spark_coloc_spark.operators.text import (
        bigram_lm_score,
        pii_redact,
        pii_stats,
    )

    probe(
        "bigram_lm_2m_docs",
        n_docs,
        lambda: bigram_lm_score(docs, "text", "doc_id"),
    )
    stats = pii_stats(F.col("text"))
    probe(
        "pii_scrub_2m_docs",
        n_docs,
        lambda: docs.select(
            "doc_id",
            stats["email"].alias("nEmails"),
            stats["ipv4"].alias("nIpv4"),
            stats["longDigits"].alias("nLongDigitRuns"),
            pii_redact(F.col("text")).alias("redactedText"),
        ),
    )

    from genetics_spark_coloc_spark.operators.l2g import train_l2g_model
    from genetics_spark_coloc_spark.operators.treeshap import (
        explain_predictions_treeshap,
    )

    feats = [f"f{i}" for i in range(8)]
    fm = spark.range(1_000_000).select(
        F.concat(F.lit("L"), F.col("id").cast("string")).alias("studyLocusId"),
        F.concat(F.lit("G"), (F.col("id") % 997).cast("string")).alias("geneId"),
        *[
            (F.pmod(F.hash(F.col("id"), F.lit(i)), F.lit(1000)) / 1000.0).alias(f)
            for i, f in enumerate(feats)
        ],
        (F.col("id") % 2).cast("double").alias("goldStandardSet"),
    )
    model = train_l2g_model(fm.limit(50_000), feature_names=feats, max_iter=10)
    probe(
        "treeshap_1m_rows_10_trees_8_features",
        1_000_000,
        lambda: explain_predictions_treeshap(model, fm, feats),
    )
    spark.stop()


def pq_probes(n_vec: int = 200_000, dim: int = 64) -> None:
    """Round-5 PQ probes: encode throughput at 256-codes×8-subspaces
    (the faiss-typical config scaled to dim 64) and ADC search over
    the encoded corpus with 16 queries — both at 100× the sf0.1
    embedding volume. Plus temperature-mixture and classifier-score
    at 2M docs.
    Run via: python -c "import tools.scale_probe as sp; sp.pq_probes()"
    """
    spark = get_session(
        app_name="scale_probe_pq",
        master="local[32]",
        shuffle_partitions=64,
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    from genetics_spark_coloc_spark.operators.pq import (
        codebooks_from_first_k,
        ivfpq_index,
        ivfpq_topk,
        pq_adc_topk,
        pq_encode,
    )
    from genetics_spark_coloc_spark.operators.text import (
        classifier_score,
        temperature_mixture,
    )

    emb = spark.range(n_vec).select(
        F.col("id").alias("vec_id"),
        F.array(
            *[
                (F.pmod(F.hash(F.col("id"), F.lit(d)), F.lit(2000)) / 1000.0 - 1.0)
                .cast("float")
                for d in range(dim)
            ]
        ).alias("embedding"),
    )
    cb = codebooks_from_first_k(emb, m=8, k=256, dim=dim)
    probe("pq_encode_200k_vecs_8x256", n_vec, lambda: pq_encode(emb, cb))
    enc = pq_encode(emb, cb).localCheckpoint()
    queries = emb.filter(F.col("vec_id") % (n_vec // 16) == 0)
    probe(
        "pq_adc_topk_200k_vecs_16_queries",
        n_vec,
        lambda: pq_adc_topk(enc, cb, queries, k=10),
    )
    centroids = emb.filter(F.col("vec_id") < 64)
    probe(
        "ivfpq_index_200k_vecs_64_lists",
        n_vec,
        lambda: ivfpq_index(emb, centroids, cb),
    )
    ivf_idx = ivfpq_index(emb, centroids, cb).localCheckpoint()
    probe(
        "ivfpq_topk_200k_vecs_16_queries_nprobe4",
        n_vec,
        lambda: ivfpq_topk(ivf_idx, centroids, cb, queries, k=10, nprobe=4),
    )

    n_docs = 2_000_000
    docs = spark.range(n_docs).select(
        F.col("id").alias("doc_id"),
        F.concat(
            F.md5(F.col("id").cast("string")),
            F.lit(" quality corpus body text "),
            (F.col("id") % 977).cast("string"),
        ).alias("text"),
        # zipf-ish stratum skew: stratum 0 holds ~50% of the corpus
        F.when(F.col("id") % 2 == 0, F.lit("s0"))
        .otherwise(F.concat(F.lit("s"), (F.pmod(F.hash("id"), F.lit(31)) + 1).cast("string")))
        .alias("lang"),
    )
    probe(
        "temperature_mixture_2m_docs",
        n_docs,
        lambda: temperature_mixture(docs, F.col("lang"), alpha=0.5),
    )
    weights = spark.range(1000).select(
        F.md5(F.col("id").cast("string")).alias("term"),
        (F.pmod(F.hash("id"), F.lit(200)) / 100.0 - 1.0).alias("weight"),
    )
    probe(
        "classifier_score_2m_docs_1k_vocab",
        n_docs,
        lambda: classifier_score(docs, weights),
    )
    from genetics_spark_coloc_spark.operators.dedup import (
        incremental_exact_dedup,
        incremental_lsh_candidates,
    )

    # incremental dedup: a 200k-doc delta against a 1.8M-doc index
    # (10% daily batch) — per-batch cost must track the delta
    delta = docs.filter(F.col("doc_id") % 10 == 0)
    index = docs.filter(F.col("doc_id") % 10 != 0)
    probe(
        "incremental_exact_dedup_200k_delta_vs_1800k_index",
        n_docs // 10,
        lambda: incremental_exact_dedup(delta, index),
    )
    probe(
        "incremental_lsh_200k_delta_vs_1800k_index",
        n_docs // 10,
        lambda: incremental_lsh_candidates(
            delta.limit(50_000), index.limit(450_000)
        ),
    )
    spark.stop()


def span_probes(n_docs: int = 2_000_000) -> None:
    """Duplicate-span + winnowing probes at ~40x the sf0.1 document
    volume. The synthetic corpus embeds a shared 7-token fragment in
    every doc (unique head/tail), so ~all docs carry one duplicated
    span — the worst case for the island merge.
    Run via: python -c "import tools.scale_probe as sp; sp.span_probes()"
    """
    spark = get_session(
        app_name="scale_probe_spans",
        master="local[32]",
        shuffle_partitions=64,
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    from genetics_spark_coloc_spark.operators.text import (
        duplicate_spans,
        remove_duplicate_spans,
        winnow_fingerprints,
    )

    docs = spark.range(n_docs).select(
        F.col("id").alias("doc_id"),
        F.concat(
            F.md5(F.col("id").cast("string")),
            F.lit(" some shared body text fragment number "),
            (F.col("id") % 50_000).cast("string"),
            F.lit(" tail "),
            F.md5((F.col("id") * 17).cast("string")),
        ).alias("text"),
    )
    probe(
        "duplicate_spans_2m_docs",
        n_docs,
        lambda: duplicate_spans(docs, min_tokens=5),
    )
    probe(
        "remove_duplicate_spans_2m_docs",
        n_docs,
        lambda: remove_duplicate_spans(docs, min_tokens=5),
    )
    probe(
        "winnow_fingerprints_2m_docs",
        n_docs,
        lambda: winnow_fingerprints(docs, k=5, window=4),
    )
    from genetics_spark_coloc_spark.operators.text import (
        winnow_candidate_pairs,
    )

    # pair generation on a 200k slice: every doc shares the 7-token
    # body fragment with ~3 others (id % 50k families), so posting
    # lists stay small while the bucket join is exercised corpus-wide
    probe(
        "winnow_candidate_pairs_200k_docs",
        n_docs // 10,
        lambda: winnow_candidate_pairs(
            docs.filter(F.col("doc_id") % 10 == 0), k=5, window=4
        ),
    )
    spark.stop()


def retrieval_probes(n_docs: int = 2_000_000, n_vec: int = 500_000) -> None:
    """BM25 / SQ8 / BPE-round probes at pipeline volume.
    Run via: python -c "import tools.scale_probe as sp; sp.retrieval_probes()"
    """
    spark = get_session(
        app_name="scale_probe_retrieval",
        master="local[32]",
        shuffle_partitions=64,
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    from genetics_spark_coloc_spark.operators.pq import sq8_encode, sq8_topk
    from genetics_spark_coloc_spark.operators.text import (
        apply_top_bpe_merge,
        bm25_scores,
    )

    docs = spark.range(n_docs).select(
        F.col("id").alias("doc_id"),
        F.concat(
            F.md5(F.col("id").cast("string")),
            F.lit(" some shared body text fragment number "),
            (F.col("id") % 50_000).cast("string"),
            F.lit(" tail "),
            F.md5((F.col("id") * 17).cast("string")),
        ).alias("text"),
    )
    probe(
        "bm25_2m_docs_3_terms",
        n_docs,
        lambda: bm25_scores(docs, ["shared", "fragment", "tail"]),
    )
    probe(
        "bpe_apply_merge_round_2m_docs",
        n_docs,
        lambda: apply_top_bpe_merge(docs),
    )
    vecs = spark.range(n_vec).select(
        F.col("id").alias("vec_id"),
        F.transform(
            F.sequence(F.lit(0), F.lit(63)),
            lambda i: (
                F.pmod(F.hash(F.col("id"), i), F.lit(2001)) - 1000
            ).cast("double")
            / 1000.0,
        ).alias("embedding"),
    )
    enc = sq8_encode(vecs)
    probe("sq8_encode_500k_x64d", n_vec, lambda: enc)
    probe(
        "sq8_topk_500k_corpus_16_queries",
        n_vec,
        lambda: sq8_topk(enc, vecs.filter(F.col("vec_id") < 16), k=10),
    )
    spark.stop()


def retrieval_probes2(n_docs: int = 2_000_000, n_vec: int = 500_000) -> None:
    """Hamming / vocab-coverage / weighted-sample probes.
    Run via: python -c "import tools.scale_probe as sp; sp.retrieval_probes2()"
    """
    spark = get_session(
        app_name="scale_probe_retrieval2",
        master="local[32]",
        shuffle_partitions=64,
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    from genetics_spark_coloc_spark.operators.similarity import (
        binary_signatures,
        hamming_topk,
    )
    from genetics_spark_coloc_spark.operators.text import (
        token_count,
        vocab_coverage,
        weighted_sample,
    )

    docs = spark.range(n_docs).select(
        F.col("id").alias("doc_id"),
        F.concat(
            F.md5(F.col("id").cast("string")),
            F.lit(" some shared body text fragment number "),
            (F.col("id") % 50_000).cast("string"),
            F.lit(" tail "),
            F.md5((F.col("id") * 17).cast("string")),
        ).alias("text"),
    )
    vocab = spark.range(10_000).select(
        F.md5(F.col("id").cast("string")).alias("term")
    )
    probe(
        "vocab_coverage_2m_docs_10k_vocab",
        n_docs,
        lambda: vocab_coverage(docs, vocab),
    )
    probe(
        "weighted_sample_2m_docs_top1000",
        n_docs,
        lambda: weighted_sample(docs, token_count(F.col("text")), n=1000),
    )
    vecs = spark.range(n_vec).select(
        F.col("id").alias("vec_id"),
        F.transform(
            F.sequence(F.lit(0), F.lit(63)),
            lambda i: (
                F.pmod(F.hash(F.col("id"), i), F.lit(2001)) - 1000
            ).cast("double")
            / 1000.0,
        ).alias("embedding"),
    )
    sigs = binary_signatures(vecs, num_planes=32)
    probe("binary_signatures_500k_x64d_32planes", n_vec, lambda: sigs)
    probe(
        "hamming_topk_500k_corpus_16_queries",
        n_vec,
        lambda: hamming_topk(sigs, sigs.filter(F.col("vid") < 16), k=10),
    )
    spark.stop()


def wide_key_probes(n_docs: int = 2_000_000) -> None:
    """128-bit vs 64-bit gram-key trade (VERDICT r5 task #3): the
    same 2M-doc worst-case corpus as span_probes(), run through
    duplicate_spans and verbatim_match_spans with narrow (xxhash64,
    8-byte) and wide (two-salt struct, 16-byte) keys. The wide key
    pushes the birthday-collision probability from ~3e-9 per gram
    pair at 10^12 grams (≈10^4 falsely merged gram families
    corpus-wide) to the 128-bit regime (~1e-14 total) at 2× the
    shuffle key bytes — this probe measures what that costs in wall.
    Run via: python -c "import tools.scale_probe as sp; sp.wide_key_probes()"
    """
    spark = get_session(
        app_name="scale_probe_wide_keys",
        master="local[32]",
        shuffle_partitions=64,
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    from genetics_spark_coloc_spark.operators.text import (
        duplicate_spans,
        verbatim_match_spans,
    )

    docs = spark.range(n_docs).select(
        F.col("id").alias("doc_id"),
        F.concat(
            F.md5(F.col("id").cast("string")),
            F.lit(" some shared body text fragment number "),
            (F.col("id") % 50_000).cast("string"),
            F.lit(" tail "),
            F.md5((F.col("id") * 17).cast("string")),
        ).alias("text"),
    )
    for wide in (False, True):
        tag = "wide128" if wide else "narrow64"
        probe(
            f"duplicate_spans_2m_docs_{tag}",
            n_docs,
            lambda w=wide: duplicate_spans(docs, min_tokens=5, wide_keys=w),
        )
    # verbatim matches pair-join on the gram key — the shape where
    # key width costs most. The corpus's universal boilerplate prefix
    # ("some shared body text fragment number") is a 200k-frequency
    # gram — C(200k,2) pairs if paired — so the probe REQUIRES the
    # max_gram_freq cap, exactly the knob a production run of this
    # operator needs on boilerplate-heavy corpora; family grams
    # (freq 4) still pair and carry the matches.
    sl = docs.filter(F.col("doc_id") < n_docs // 10)
    for wide in (False, True):
        tag = "wide128" if wide else "narrow64"
        probe(
            f"verbatim_match_spans_200k_docs_{tag}",
            n_docs // 10,
            lambda w=wide: verbatim_match_spans(
                sl, min_tokens=5, max_gram_freq=100, wide_keys=w
            ),
        )
    spark.stop()


def round6_probes(n_rows: int = 20_000_000, n_docs: int = 2_000_000) -> None:
    """Round-6 additions at 100-400x bench volume: Morton keys +
    clustered layout, NB classifier training/scoring, iterative BPE
    training (materialized rounds), stratified quality selection, and
    token-budget allocation.
    Run via: python -c "import tools.scale_probe as sp; sp.round6_probes()"
    """
    spark = get_session(
        app_name="scale_probe_round6",
        master="local[32]",
        shuffle_partitions=64,
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    from genetics_spark_coloc_spark.functions.zorder import (
        zorder_key,
        zorder_layout,
    )
    from genetics_spark_coloc_spark.operators.nb import (
        nb_priors,
        nb_score,
        nb_train,
    )
    from genetics_spark_coloc_spark.operators.text import (
        bpe_train_merges,
        quality_percentile_select,
        token_budget_allocation,
    )

    rows = spark.range(n_rows).select(
        F.col("id"),
        (F.xxhash64("id") % 65536).alias("x"),
        (F.xxhash64("id", F.lit(1)) % 65536).alias("y"),
    )
    probe(
        f"zorder_key_{n_rows // 1_000_000}m",
        n_rows,
        lambda: rows.select(
            "id", zorder_key([F.abs("x"), F.abs("y")], bits=16).alias("z")
        ),
    )
    probe(
        f"zorder_layout_{n_rows // 1_000_000}m",
        n_rows,
        lambda: zorder_layout(rows, [F.abs("x"), F.abs("y")], 64, bits=16),
    )

    # synthetic labeled corpus: ~60-token docs from a zipf-ish pool,
    # 20 labels with label-correlated vocabulary so training is
    # realistic (not all tokens shared)
    docs = spark.range(n_docs).select(
        F.col("id").alias("doc_id"),
        (F.col("id") % 20).cast("string").alias("lang"),
        F.concat_ws(
            " ",
            *[
                F.concat(
                    F.lit(f"w{j}_"),
                    (
                        F.xxhash64("id", F.lit(j))
                        % (50 + ((F.col("id") % 20) * 13 + j) % 200)
                    ).cast("string"),
                )
                for j in range(60)
            ],
        ).alias("text"),
    ).withColumn("source", F.concat(F.lit("s"), (F.col("doc_id") % 20)))
    probe(f"nb_train_{n_docs // 1_000_000}m_docs", n_docs,
          lambda: nb_train(docs))
    model = nb_train(docs).localCheckpoint()
    priors = nb_priors(docs).localCheckpoint()
    sub = docs.filter(F.col("doc_id") % 10 == 0)
    probe(
        f"nb_score_{n_docs // 10_000_000}m_docs" if n_docs >= 10_000_000
        else f"nb_score_{n_docs // 10 // 1000}k_docs",
        n_docs // 10,
        lambda: nb_score(sub, model, priors),
    )
    probe(
        f"bpe_train3_{n_docs // 1_000_000}m_docs",
        n_docs,
        lambda: bpe_train_merges(docs, n_merges=3, materialize_rounds=True),
    )
    probe(
        f"quality_select_{n_docs // 1_000_000}m_docs",
        n_docs,
        lambda: quality_percentile_select(docs),
    )
    probe(
        f"token_budget_{n_docs // 1_000_000}m_docs",
        n_docs,
        lambda: token_budget_allocation(docs, 10_000_000_000, temperature=2.0),
    )
    spark.stop()


def round7_probes(
    n_rows: int = 20_000_000,
    n_sigs: int = 1_000_000,
    n_docs: int = 2_000_000,
) -> None:
    """Round-7 probes: Z-order READ-side payoff (row-group pruning +
    query wall on a 2-dim range predicate, Z-ordered vs hash-laid-out
    parquet), aHash perceptual near-dup at 1M signatures, and the
    verbatim hot-gram guard's bounded wall on a 2M-doc corpus whose
    every document shares one boilerplate gram.
    Run via: python -c "import tools.scale_probe as sp; sp.round7_probes()"
    """
    import glob
    import shutil
    import tempfile

    import pyarrow.parquet as pq

    spark = get_session(
        app_name="scale_probe_round7",
        master="local[32]",
        shuffle_partitions=64,
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    from genetics_spark_coloc_spark.functions.zorder import zorder_layout
    from genetics_spark_coloc_spark.operators.multimodal import (
        ahash_near_dup_pairs,
    )
    from genetics_spark_coloc_spark.operators.text import verbatim_match_spans

    # ---- Z-order read benefit -------------------------------------
    rows = spark.range(n_rows).select(
        F.col("id"),
        F.abs(F.xxhash64("id") % 65536).alias("x"),
        F.abs(F.xxhash64("id", F.lit(1)) % 65536).alias("y"),
    )
    tmp = tempfile.mkdtemp(prefix="zorder_probe_")
    z_path, h_path = f"{tmp}/zordered", f"{tmp}/hashed"
    zorder_layout(rows, [F.col("x"), F.col("y")], 64, bits=16).write.parquet(z_path)
    rows.repartition(64).write.parquet(h_path)

    # a 1/16 x 1/16 corner => ~0.4% of rows qualify
    lo, hi = 0, 4096

    def rg_stats(path: str) -> tuple:
        """(row groups overlapping the predicate, total row groups) from
        parquet footers — the skip rate a min/max-pruning reader gets."""
        overlap = total = 0
        for f in sorted(glob.glob(f"{path}/*.parquet")):
            meta = pq.ParquetFile(f).metadata
            names = [meta.schema.column(i).name for i in range(meta.num_columns)]
            ix, iy = names.index("x"), names.index("y")
            for g in range(meta.num_row_groups):
                rg = meta.row_group(g)
                total += 1
                sx, sy = rg.column(ix).statistics, rg.column(iy).statistics
                if (
                    sx is None
                    or sy is None
                    or (sx.min <= hi and sx.max >= lo and sy.min <= hi and sy.max >= lo)
                ):
                    overlap += 1
        return overlap, total

    for tag, path in (("zordered", z_path), ("hashed", h_path)):
        ov, tot = rg_stats(path)
        pred = (
            (F.col("x").between(lo, hi)) & (F.col("y").between(lo, hi))
        )
        # best-of-3: the first read pays codegen/JIT warmup, which
        # would otherwise be charged to whichever layout runs first
        sec, n_hit = None, 0
        for _ in range(3):
            start = time.perf_counter()
            n_hit = spark.read.parquet(path).filter(pred).count()
            t = round(time.perf_counter() - start, 2)
            sec = t if sec is None else min(sec, t)
        print(
            json.dumps(
                {
                    "probe": f"zorder_read_{tag}_{n_rows // 1_000_000}m",
                    "rows": n_rows,
                    "sec": sec,
                    "rowgroups_overlapping": ov,
                    "rowgroups_total": tot,
                    "rows_selected": n_hit,
                }
            ),
            flush=True,
        )
    shutil.rmtree(tmp, ignore_errors=True)

    # ---- aHash near-dup at 1M signatures ---------------------------
    base = spark.range(n_sigs).select(
        F.col("id").alias("mediaId"), F.xxhash64("id").alias("sig")
    )
    # 10% planted near-dups: <=2 bit flips of an existing signature
    flips = (
        spark.range(n_sigs // 10)
        .select((F.col("id") * 10).alias("src"))
        .select(
            (F.col("src") + n_sigs).alias("mediaId"),
            # SQL form: shiftleft's python API wants a literal count
            F.expr(
                "xxhash64(src) ^ shiftleft(1L, cast(src % 64 as int))"
                " ^ shiftleft(1L, cast((src * 7 + 13) % 64 as int))"
            ).alias("sig"),
        )
    )
    sigs = base.unionByName(flips)
    n_total = n_sigs + n_sigs // 10
    probe(
        f"ahash_pairs_{n_total // 1_000_000}m_sigs",
        n_total,
        lambda: ahash_near_dup_pairs(sigs, n_bits=64, max_hamming=3),
    )

    # ---- hot-gram guard bounded wall -------------------------------
    # every doc = 30 unique tokens + ONE shared 5-token boilerplate run
    # => a 2M-occurrence gram. cap mode excludes it (bounded pair join,
    # the wall below); raise mode aborts the same corpus in seconds.
    docs = spark.range(n_docs).select(
        F.col("id").alias("doc_id"),
        F.concat(
            F.concat_ws(
                " ",
                *[
                    F.concat(F.lit(f"u{j}_"), F.xxhash64("id", F.lit(j)).cast("string"))
                    for j in range(30)
                ],
            ),
            F.lit(" legal boiler plate footer text"),
        ).alias("text"),
    )
    probe(
        f"verbatim_guard_cap_{n_docs // 1_000_000}m_docs",
        n_docs,
        lambda: verbatim_match_spans(
            docs, "text", "doc_id", min_tokens=5, on_hot_gram="cap"
        ),
    )
    start = time.perf_counter()
    try:
        verbatim_match_spans(
            docs, "text", "doc_id", min_tokens=5
        ).write.format("noop").mode("overwrite").save()
        aborted = False
    except Exception:  # noqa: BLE001
        aborted = True
    print(
        json.dumps(
            {
                "probe": f"verbatim_guard_raise_{n_docs // 1_000_000}m_docs",
                "rows": n_docs,
                "sec": round(time.perf_counter() - start, 2),
                "aborted": aborted,
            }
        ),
        flush=True,
    )
    spark.stop()


def sketch_probes(n_docs: int = 2_000_000, n_fact: int = 20_000_000) -> None:
    """Round-9 probes: the sketch family (CMS / HLL / grid-quantile)
    at ~20M tokens and bloom_prune at 20M fact rows — the last
    operator families with oracles but no measured 100×-volume row.

    Each sketch probe also VERIFIES the bounded-output claim (the
    aggregate's output rows never exceed the sketch size, regardless
    of corpus size) and prints it alongside the timing.
    Run via: python -c "import tools.scale_probe as sp; sp.sketch_probes()"
    """
    spark = get_session(
        app_name="scale_probe_sketch",
        master="local[32]",
        shuffle_partitions=64,
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    from genetics_spark_coloc_spark.operators.sketches import (
        bloom_build,
        bloom_prune,
        cms_sketch,
        grid_quantile_sketch,
        hll_registers,
        kmv_sketch,
    )

    n_tokens = n_docs * 10
    # 10 tokens/doc: one zipf-ish hot token from a 5-word set plus 9
    # from a ~500k vocab — heavy hitters present, cardinality high
    docs = spark.range(n_docs).select(
        F.col("id").alias("doc_id"),
        F.concat(
            F.lit("hot"), F.pmod(F.hash("id"), F.lit(5)).cast("string")
        ).alias("_t0"),
        F.array(
            *[
                F.concat(
                    F.lit("t"),
                    F.pmod(F.hash(F.col("id"), F.lit(i)), F.lit(500_000)).cast(
                        "string"
                    ),
                )
                for i in range(9)
            ]
        ).alias("_rest"),
    ).select(
        "doc_id",
        F.concat(F.array("_t0"), F.col("_rest")).alias("tokens"),
        F.pmod(F.hash("doc_id"), F.lit(4)).cast("string").alias("lang"),
    )

    depth, width = 4, 1024
    cms = cms_sketch(docs, F.col("tokens"), depth=depth, width=width)
    probe(f"cms_sketch_{n_tokens // 1_000_000}m_tokens", n_tokens, lambda: cms)
    out_rows = cms.count()
    print(
        json.dumps(
            {
                "probe": "cms_bounded_output",
                "sketch_rows": out_rows,
                "bound": depth * width,
                "holds": out_rows <= depth * width,
            }
        ),
        flush=True,
    )

    b = 10
    hll = hll_registers(docs, F.col("tokens"), ["lang"], b=b)
    probe(f"hll_registers_{n_tokens // 1_000_000}m_tokens", n_tokens, lambda: hll)
    out_rows = hll.count()
    print(
        json.dumps(
            {
                "probe": "hll_bounded_output",
                "sketch_rows": out_rows,
                "bound": 4 * (1 << b),
                "holds": out_rows <= 4 * (1 << b),
            }
        ),
        flush=True,
    )

    n_bins = 1024
    vals = spark.range(n_fact).select(
        (F.pmod(F.hash("id"), F.lit(1_000_000)) / 1000.0).alias("v"),
        F.pmod(F.hash("id", "id"), F.lit(4)).cast("string").alias("g"),
    )
    gq = grid_quantile_sketch(vals, F.col("v"), ["g"], lo=0.0, hi=1000.0, n_bins=n_bins)
    probe(f"grid_quantile_{n_fact // 1_000_000}m_values", n_fact, lambda: gq)
    out_rows = gq.count()
    print(
        json.dumps(
            {
                "probe": "grid_quantile_bounded_output",
                "sketch_rows": out_rows,
                "bound": 4 * n_bins,
                "holds": out_rows <= 4 * n_bins,
            }
        ),
        flush=True,
    )

    # KMV: the sort-rank path — the distinct is the only full
    # shuffle; the per-group top-k sort spills rather than OOMs
    kmv = kmv_sketch(docs, F.col("tokens"), ["lang"], k=256)
    probe(f"kmv_sketch_{n_tokens // 1_000_000}m_tokens", n_tokens, lambda: kmv)
    out_rows = kmv.count()
    print(
        json.dumps(
            {
                "probe": "kmv_bounded_output",
                "sketch_rows": out_rows,
                "bound": 4 * 256,
                "holds": out_rows <= 4 * 256,
            }
        ),
        flush=True,
    )

    # bloom_prune: 10k-key selective dimension vs 20M-row fact table
    # where only ~0.05% of fact rows carry a dimension key. Compare
    # the pruned aggregate against the same aggregate unpruned — the
    # payoff claim is "prune a petabyte scan down to the selective
    # keyspace without shuffling the fact side".
    m_bits, k = 1 << 20, 3
    dim_keys = spark.range(10_000).select(
        (F.col("id") * 2003).cast("long").alias("key")
    )
    bloom = bloom_build(dim_keys, F.col("key"), m_bits=m_bits, k=k).localCheckpoint()
    fact = spark.range(n_fact).select(
        F.pmod(F.hash("id"), F.lit(40_000_000)).cast("long").alias("key"),
        (F.col("id") % 1000).cast("double").alias("amount"),
    )
    probe(
        f"bloom_prune_{n_fact // 1_000_000}m_fact_rows",
        n_fact,
        lambda: bloom_prune(bloom, fact, F.col("key"), m_bits=m_bits, k=k)
        .groupBy("key")
        .agg(F.sum("amount").alias("s")),
    )
    probe(
        f"unpruned_agg_{n_fact // 1_000_000}m_fact_rows",
        n_fact,
        lambda: fact.groupBy("key").agg(F.sum("amount").alias("s")),
    )
    pruned_rows = bloom_prune(bloom, fact, F.col("key"), m_bits=m_bits, k=k).count()
    print(
        json.dumps(
            {
                "probe": "bloom_prune_selectivity",
                "fact_rows": n_fact,
                "surviving_rows": pruned_rows,
                "survive_pct": round(100.0 * pruned_rows / n_fact, 3),
            }
        ),
        flush=True,
    )
    spark.stop()


def band_index_probes(n_index: int = 2_000_000, n_delta: int = 50_000) -> None:
    """Round-10 probe: the persisted bucketed LSH band index vs
    inline re-banding for incremental dedup. The production claim
    (operators/dedup.lsh_band_index) is that per-delta-batch cost
    should scale with |delta| once the corpus band table is at rest
    bucketed by (bandIdx, bandHash) — this measures the claim at 40×
    the sf0.1 corpus volume: (a) the one-time index build + bucketed
    write, (b) a delta batch joined against the persisted index,
    (c) the same batch with the corpus re-banded inline (what every
    batch pays without the index).
    Run via: python -c "import tools.scale_probe as sp; sp.band_index_probes()"
    """
    spark = get_session(
        app_name="scale_probe_band_index",
        master="local[32]",
        shuffle_partitions=64,
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    from genetics_spark_coloc_spark.operators.dedup import (
        incremental_lsh_candidates,
        load_lsh_band_index,
    )

    def docs(n, salt):
        # 1-in-200 docs carry a dup-group body (md5-derived, unique
        # PER GROUP — a literal shared run across all dup docs would
        # be corpus-wide boilerplate and correctly trip the
        # hot-bucket guard, which is not what this probe measures);
        # delta dup docs share their group's body with the index
        dup_body = F.concat(
            F.md5(F.concat(F.lit("dup"), (F.col("id") % 10_000).cast("string"))),
            F.md5(F.concat(F.lit("dup2"), (F.col("id") % 10_000).cast("string"))),
        )
        normal = F.concat(
            F.md5(F.concat(F.lit(salt), F.col("id").cast("string"))),
            F.lit(" "),
            F.md5((F.col("id") * 13).cast("string")),
        )
        return spark.range(n).select(
            F.col("id").alias("doc_id"),
            F.when(F.col("id") % 200 == 0, dup_body).otherwise(normal).alias("text"),
        )

    index, delta = docs(n_index, "i"), docs(n_delta, "d")
    spark.sql("DROP TABLE IF EXISTS band_index_probe")
    # the derby metastore is per-session: a prior run's managed-table
    # LOCATION survives its catalog entry, and saveAsTable refuses to
    # reuse it — clear the orphaned directory too
    import shutil
    import tempfile

    from genetics_spark_coloc_spark.steps import run_step

    wh = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    shutil.rmtree(os.path.join(wh, "band_index_probe"), ignore_errors=True)
    tmp = tempfile.mkdtemp(prefix="band_index_probe_")
    corpus_path = os.path.join(tmp, "corpus.parquet")
    index.write.mode("overwrite").parquet(corpus_path)
    # the REAL step: bucketed write + band-parameter + max-bucket
    # certification properties
    start = time.perf_counter()
    run_step(
        spark,
        "lsh_band_index",
        {"corpus": corpus_path},
        "band_index_probe",
        params={"num_buckets": 64},
    )
    build_sec = round(time.perf_counter() - start, 2)
    print(
        json.dumps(
            {"probe": "band_index_build_2m_docs", "rows": n_index, "sec": build_sec}
        ),
        flush=True,
    )
    # ceiling-certified load: the step recorded max bucket occupancy
    # at build time, so the guard-free path below is sound
    persisted = load_lsh_band_index(
        spark, "band_index_probe", hot_bucket_ceiling=10_000
    )
    probe(
        f"delta_vs_persisted_index_{n_delta // 1000}k_delta",
        n_delta,
        lambda: incremental_lsh_candidates(delta, index_bands=persisted),
    )
    probe(
        f"delta_vs_certified_index_noguard_{n_delta // 1000}k_delta",
        n_delta,
        lambda: incremental_lsh_candidates(
            delta, index_bands=persisted, index_guard=False
        ),
    )
    probe(
        f"delta_vs_inline_rebanding_{n_delta // 1000}k_delta",
        n_delta,
        lambda: incremental_lsh_candidates(delta, index),
    )
    spark.sql("DROP TABLE IF EXISTS band_index_probe")
    spark.stop()


def band_index_append_probes(
    n_delta: int = 50_000, index_sizes: "tuple[int, ...]" = (1_000_000, 4_000_000)
) -> None:
    """Round-11 probe (VERDICT r10 #2): append-mode cost must be
    O(delta), FLAT as the index grows. The r10 shape re-certified the
    hot-bucket ceiling by aggregating the ENTIRE band table per
    append — the one O(corpus) term left in the incremental path; the
    r11 counts-ledger sidecar totals only the delta's touched buckets
    against history. This measures the full `lsh_band_index
    mode=append` step (delta banding + bucketed insert + O(delta)
    re-certification) with the SAME delta against indexes of
    different sizes: a flat wall is the amortization claim, a wall
    growing with index size is the bug.
    Run: python -c "import tools.scale_probe as sp; sp.band_index_append_probes()"
    """
    spark = get_session(
        app_name="scale_probe_band_append",
        master="local[32]",
        shuffle_partitions=64,
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    import shutil
    import tempfile

    from genetics_spark_coloc_spark.steps import run_step

    def docs(n, salt):
        normal = F.concat(
            F.md5(F.concat(F.lit(salt), F.col("id").cast("string"))),
            F.lit(" "),
            F.md5((F.col("id") * 13).cast("string")),
        )
        return spark.range(n).select(
            F.col("id").alias("doc_id"), normal.alias("text")
        )

    tmp = tempfile.mkdtemp(prefix="band_append_probe_")
    wh = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    delta_path = os.path.join(tmp, "delta.parquet")
    docs(n_delta, "d").write.mode("overwrite").parquet(delta_path)
    for n_index in index_sizes:
        tbl = f"band_append_probe_{n_index // 1_000_000}m"
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")
        spark.sql(f"DROP TABLE IF EXISTS {tbl}_bucket_counts")
        shutil.rmtree(os.path.join(wh, tbl), ignore_errors=True)
        shutil.rmtree(os.path.join(wh, f"{tbl}_bucket_counts"), ignore_errors=True)
        corpus_path = os.path.join(tmp, f"corpus_{n_index}.parquet")
        docs(n_index, "i").write.mode("overwrite").parquet(corpus_path)
        start = time.perf_counter()
        run_step(spark, "lsh_band_index", {"corpus": corpus_path}, tbl,
                 params={"num_buckets": 64})
        build_sec = round(time.perf_counter() - start, 2)
        start = time.perf_counter()
        run_step(spark, "lsh_band_index", {"corpus": delta_path}, tbl,
                 params={"mode": "append"})
        append_sec = round(time.perf_counter() - start, 2)
        print(
            json.dumps(
                {
                    "probe": f"band_index_append_{n_delta // 1000}k_delta_vs_{n_index // 1_000_000}m_index",
                    "index_rows": n_index,
                    "delta_rows": n_delta,
                    "build_sec": build_sec,
                    "append_sec": append_sec,
                }
            ),
            flush=True,
        )
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")
        spark.sql(f"DROP TABLE IF EXISTS {tbl}_bucket_counts")
    spark.stop()


def genetics_skew_probes(sizes: "tuple[int, ...]" = (10_000_000, 40_000_000)) -> None:
    """Round-11 probe (VERDICT r10 #5): the genetics self-join family
    under PLANTED chromosome skew — one chromosome holds 30% of all
    tags/sumstat rows (the human chr1/chr2 shape, exaggerated) at
    10-40M rows. Measures (a) overlapping_peaks + align_overlapping_
    tags (the credible-set self theta-join: equi keys are (chromosome,
    tagVariantId), so hash partitioning spreads the hot chromosome
    across its variants — skew should NOT concentrate) and (b)
    annotate_locus_statistics (broadcast range join: the sumstats side
    never shuffles, so the hot chromosome is irrelevant by
    construction). A no-quadratic-term verdict = wall scales ~linearly
    between the two sizes and the skewed chromosome adds no cliff.
    Run: python -c "import tools.scale_probe as sp; sp.genetics_skew_probes()"
    """
    spark = get_session(
        app_name="genetics_skew_probe",
        master="local[32]",
        shuffle_partitions=64,
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    from genetics_spark_coloc_spark.operators.locus_statistics import (
        annotate_locus_statistics,
    )
    from genetics_spark_coloc_spark.operators.overlaps import (
        align_overlapping_tags,
        overlapping_peaks,
    )

    for n in sizes:
        # --- planted-skew tag table: chr '1' holds 30% of the rows;
        # each tagVariantId is shared by ~4 loci so the pair join is
        # linear in |tags| (realistic credible-set sharing), and the
        # gwas/qtl split gives the asymmetric join condition work
        h = F.pmod(F.hash("id"), F.lit(100))
        chrom = F.when(h < 30, F.lit("1")).otherwise(
            (F.pmod(F.hash("id", "id"), F.lit(21)) + 2).cast("string")
        )
        tags = spark.range(n).select(
            F.col("id").alias("_id"),
            chrom.alias("chromosome"),
            F.concat(chrom, F.lit("_v"), F.floor(F.col("id") / 4).cast("string")).alias(
                "tagVariantId"
            ),
            (F.col("id") % 5_000).cast("string").alias("studyId"),
            F.col("id").cast("string").alias("studyLocusId"),
            F.when(F.col("id") % 2 == 0, F.lit("gwas")).otherwise(F.lit("eqtl")).alias(
                "studyType"
            ),
            F.lit("r").alias("region"),
            F.rand(7).alias("logBF"),
            F.rand(11).alias("posteriorProbability"),
            F.rand(13).alias("beta"),
            F.lit(1.0).alias("pValueMantissa"),
            F.lit(-8.0).alias("pValueExponent"),
        ).drop("_id")
        tags = tags.localCheckpoint(eager=True)
        hot_frac = tags.filter(F.col("chromosome") == "1").count() / n
        start = time.perf_counter()
        peaks = overlapping_peaks(tags)
        n_pairs = align_overlapping_tags(tags, peaks).count()
        overlap_sec = round(time.perf_counter() - start, 2)
        peaks.unpersist()
        print(
            json.dumps(
                {
                    "probe": f"overlaps_skew_{n // 1_000_000}m_tags",
                    "rows": n,
                    "hot_chrom_frac": round(hot_frac, 3),
                    "aligned_rows": n_pairs,
                    "sec": overlap_sec,
                }
            ),
            flush=True,
        )
        # --- locus statistics: same skewed distribution on the
        # sumstats side, 10k broadcast leads
        sumstats = tags.select(
            "chromosome",
            (F.pmod(F.hash("studyLocusId"), F.lit(50_000_000)) + 50_000_000).alias(
                "position"
            ),
            F.col("studyId"),
            F.col("beta"),
            F.col("pValueMantissa"),
            F.col("pValueExponent"),
            F.col("tagVariantId").alias("variantId"),
        )
        leads = (
            tags.limit(10_000)
            .select(
                "studyLocusId",
                "studyId",
                "chromosome",
                (F.pmod(F.hash("studyLocusId"), F.lit(50_000_000)) + 50_000_000).alias(
                    "position"
                ),
            )
        )
        locus_sec = None
        for _ in range(2):  # best-of-2: JVM/broadcast warmup asymmetry
            start = time.perf_counter()
            # sum(size(locus)) forces the collect_list itself — a bare
            # count() lets Catalyst prune the aggregation away
            forced = (
                annotate_locus_statistics(leads, sumstats, distance=250_000)
                .agg(F.sum(F.size("locus")).alias("s"), F.count(F.lit(1)).alias("n"))
                .collect()[0]
            )
            t = round(time.perf_counter() - start, 2)
            locus_sec = t if locus_sec is None else min(locus_sec, t)
        print(
            json.dumps(
                {
                    "probe": f"locus_stats_skew_{n // 1_000_000}m_sumstats",
                    "rows": n,
                    "hot_chrom_frac": round(hot_frac, 3),
                    "annotated_loci": forced["n"],
                    "locus_rows_collected": forced["s"],
                    "sec": locus_sec,
                }
            ),
            flush=True,
        )
        tags.unpersist()
    spark.stop()


def edit_distance_probe(n_docs: int = 2_000_000) -> None:
    """Round-11 probe: edit-distance verification of LSH candidate
    pairs at 2M docs (1-in-200 planted dup groups, same corpus shape
    as band_index_probes). Cost = |pairs| x O(len^2) on truncated
    texts, JVM-side levenshtein — the stage should be pair-bound, not
    corpus-bound.
    Run: python -c "import tools.scale_probe as sp; sp.edit_distance_probe()"
    """
    spark = get_session(
        app_name="edit_distance_probe",
        master="local[32]",
        shuffle_partitions=64,
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    from genetics_spark_coloc_spark.operators.dedup import (
        edit_distance_verify,
        minhash_dedup_pairs,
    )

    dup_body = F.concat(
        F.md5(F.concat(F.lit("dup"), (F.col("id") % 10_000).cast("string"))),
        F.md5(F.concat(F.lit("dup2"), (F.col("id") % 10_000).cast("string"))),
    )
    normal = F.concat(
        F.md5(F.concat(F.lit("e"), F.col("id").cast("string"))),
        F.lit(" "),
        F.md5((F.col("id") * 13).cast("string")),
    )
    docs = spark.range(n_docs).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") % 200 == 0, dup_body).otherwise(normal).alias("text"),
    ).localCheckpoint(eager=True)
    pairs = minhash_dedup_pairs(docs, "text", "doc_id", num_perm=8, band_size=2)
    start = time.perf_counter()
    out = edit_distance_verify(docs, pairs, "text", "doc_id")
    agg = out.groupBy().agg(
        F.count(F.lit(1)).alias("n"), F.sum(F.col("isDup").cast("int")).alias("dups")
    ).collect()[0]
    sec = round(time.perf_counter() - start, 2)
    print(
        json.dumps(
            {
                "probe": f"edit_distance_verify_{n_docs // 1_000_000}m_docs",
                "rows": n_docs,
                "pairs": agg["n"],
                "dups": agg["dups"],
                "sec": sec,
                "pairs_per_sec": int(agg["n"] / sec) if sec else None,
            }
        ),
        flush=True,
    )
    spark.stop()


def line_dedup_probe(n_docs: int = 2_000_000) -> None:
    """Round-11 probe: corpus-frequency line dedup (the C4 boilerplate
    scrub) at 2M multi-line docs. Each doc has 6 lines; one line in
    three is drawn from a 100-banner boilerplate pool (~40k occurrences
    each), the rest are unique. The stage is one posexplode + one
    16-byte-key count + one hash join + per-doc rebuild — cost should
    be segment-bound (n_docs x lines), with the frequency shuffle
    bounded by distinct segment hashes.
    Run: python -c "import tools.scale_probe as sp; sp.line_dedup_probe()"
    """
    spark = get_session(
        app_name="line_dedup_probe",
        master="local[32]",
        shuffle_partitions=64,
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    from genetics_spark_coloc_spark.operators.text import line_dedup

    banner = F.concat(
        F.lit("subscribe to our newsletter variant "),
        (F.col("id") % 100).cast("string"),
    )
    uniq = lambda salt: F.md5(  # noqa: E731
        F.concat(F.lit(salt), F.col("id").cast("string"))
    )
    docs = spark.range(n_docs).select(
        F.col("id").alias("doc_id"),
        F.concat_ws(
            "\n", uniq("a"), banner, uniq("b"), uniq("c"),
            F.concat(F.lit("copyright footer "), (F.col("id") % 50).cast("string")),
            uniq("d"),
        ).alias("text"),
    ).localCheckpoint(eager=True)
    start = time.perf_counter()
    out = line_dedup(docs, "text", "doc_id", sep="\n", max_count=5)
    agg = out.groupBy().agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("nDropped").alias("dropped"),
        F.sum("nSegments").alias("segments"),
    ).collect()[0]
    sec = round(time.perf_counter() - start, 2)
    print(
        json.dumps(
            {
                "probe": f"line_dedup_{n_docs // 1_000_000}m_docs",
                "rows": n_docs,
                "segments": agg["segments"],
                "dropped": agg["dropped"],
                "sec": sec,
                "docs_per_sec": int(n_docs / sec) if sec else None,
            }
        ),
        flush=True,
    )
    spark.stop()


def line_scrub_skew_probe(n_corpus: int = 2_000_000, n_delta: int = 2_000_000) -> None:
    """Round-11 probe: incremental line scrub under a planted HOT
    segment — every delta doc carries the same boilerplate line, so
    its segHash is one key holding n_delta of the join's probe rows,
    and the corpus frequency table (~6M distinct hashes) is too big to
    broadcast. The shape must absorb the skew (AQE skew-join split /
    per-partition stripe), not stall on one straggler task.
    Run: python -c "import tools.scale_probe as sp; sp.line_scrub_skew_probe()"
    """
    spark = get_session(
        app_name="line_scrub_skew_probe",
        master="local[32]",
        shuffle_partitions=64,
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    from genetics_spark_coloc_spark.operators.text import (
        line_dedup,
        line_frequency_table,
    )

    hot = "exactly the same cookie banner on every single page"
    uniq = lambda salt: F.md5(  # noqa: E731
        F.concat(F.lit(salt), F.col("id").cast("string"))
    )
    corpus = spark.range(n_corpus).select(
        F.col("id").alias("doc_id"),
        F.concat_ws("\n", uniq("c1"), F.lit(hot), uniq("c2")).alias("text"),
    )
    freq = line_frequency_table(corpus, "text", sep="\n").localCheckpoint(
        eager=True
    )
    n_freq = freq.count()
    delta = spark.range(n_delta).select(
        (F.col("id") + 50_000_000).alias("doc_id"),
        F.concat_ws("\n", uniq("d1"), F.lit(hot), uniq("d2")).alias("text"),
    ).localCheckpoint(eager=True)
    start = time.perf_counter()
    out = line_dedup(delta, "text", "doc_id", sep="\n", freq_table=freq)
    agg = out.groupBy().agg(
        F.count(F.lit(1)).alias("n"), F.sum("nDropped").alias("dropped")
    ).collect()[0]
    sec = round(time.perf_counter() - start, 2)
    print(
        json.dumps(
            {
                "probe": f"line_scrub_skew_{n_delta // 1_000_000}m_delta",
                "rows": n_delta,
                "freq_rows": n_freq,
                "dropped": agg["dropped"],
                "sec": sec,
                "docs_per_sec": int(n_delta / sec) if sec else None,
            }
        ),
        flush=True,
    )
    spark.stop()


def ivfpq_append_probes(
    n_delta: int = 50_000,
    index_sizes: "tuple[int, ...]" = (1_000_000, 4_000_000),
    dim: int = 64,
) -> None:
    """Round-12 probe (VERDICT r11 #2): ivfpq_index append-mode cost
    must be O(delta), FLAT as the index grows — the daily-crawl loop
    for the compressed-ANN index. Appends encode ONLY the delta
    against the frozen shipped centroids+codebooks (plus two tiny
    exceptAll verifications of those artifacts); nothing in the path
    reads the existing code lists, so a wall growing with index size
    is the bug. Measures the full `ivfpq_index mode=append` step with
    the SAME 50k-vector delta against indexes of different sizes.
    Run: python -c "import tools.scale_probe as sp; sp.ivfpq_append_probes()"
    """
    spark = get_session(
        app_name="scale_probe_ivfpq_append",
        master="local[32]",
        shuffle_partitions=64,
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    import shutil
    import tempfile

    from genetics_spark_coloc_spark.operators.pq import codebooks_from_first_k
    from genetics_spark_coloc_spark.steps import run_step

    def vecs(n, offset):
        # deterministic dense vectors in [-1, 1), derived per (id, j)
        return spark.range(n).select(
            (F.col("id") + F.lit(offset)).alias("vec_id"),
            F.transform(
                F.sequence(F.lit(0), F.lit(dim - 1)),
                lambda j: F.pmod(
                    F.hash(F.col("id").cast("string"), j), F.lit(1000)
                ).cast("double")
                / F.lit(500.0)
                - F.lit(1.0),
            ).alias("embedding"),
        )

    tmp = tempfile.mkdtemp(prefix="ivfpq_append_probe_")
    delta_path = os.path.join(tmp, "delta.parquet")
    cent_path = os.path.join(tmp, "centroids.parquet")
    cb_path = os.path.join(tmp, "codebooks.parquet")
    vecs(n_delta, 900_000_000).write.mode("overwrite").parquet(delta_path)
    vecs(64, 0).write.mode("overwrite").parquet(cent_path)
    codebooks_from_first_k(vecs(4096, 0), m=4, k=16, dim=dim).write.mode(
        "overwrite"
    ).parquet(cb_path)
    for n_index in index_sizes:
        corpus_path = os.path.join(tmp, f"corpus_{n_index}.parquet")
        vecs(n_index, 0).write.mode("overwrite").parquet(corpus_path)
        out = os.path.join(tmp, f"idx_{n_index}")
        inputs = {"centroids": cent_path, "codebooks": cb_path}
        start = time.perf_counter()
        run_step(spark, "ivfpq_index", {**inputs, "corpus": corpus_path}, out)
        build_sec = round(time.perf_counter() - start, 2)
        start = time.perf_counter()
        run_step(
            spark,
            "ivfpq_index",
            {**inputs, "corpus": delta_path},
            out,
            params={"mode": "append"},
        )
        append_sec = round(time.perf_counter() - start, 2)
        print(
            json.dumps(
                {
                    "probe": f"ivfpq_append_{n_delta // 1000}k_delta_vs_{n_index // 1_000_000}m_index",
                    "index_rows": n_index,
                    "delta_rows": n_delta,
                    "build_sec": build_sec,
                    "append_sec": append_sec,
                }
            ),
            flush=True,
        )
        shutil.rmtree(out, ignore_errors=True)
    shutil.rmtree(tmp, ignore_errors=True)
    spark.stop()


def l2g_skew_probes(sizes: "tuple[int, ...]" = (10_000_000, 40_000_000)) -> None:
    """Round-12 probe (VERDICT r11 #8): the merged two-pass L2G
    tag-level aggregation (operators/l2g.local_features — one
    tags⋈csq shuffle for all four credible-set families, one
    sentinel⋈csq shuffle for both sentinel families) under a PLANTED
    hot locus: ONE studyLocusId holds 30% of all exploded tag rows at
    10-40M tags. Every aggregate in both passes is algebraic
    (conditional sums, max, mean, qualifying-row counts), so map-side
    partial aggregation must absorb the hot key before the shuffle —
    the verdict is near-linear wall between the two sizes with no
    hot-key cliff.
    Run: python -c "import tools.scale_probe as sp; sp.l2g_skew_probes()"
    """
    spark = get_session(
        app_name="l2g_skew_probe",
        master="local[32]",
        shuffle_partitions=64,
        # the at-scale plan shape is what's being measured: at 100 TB
        # neither join side broadcasts (variant_index is TB-scale), so
        # disable auto-broadcast — with it on, AQE sees the exploded
        # 4M-row csq side compress under the 64 MB threshold and
        # builds an 8g-driver-killing hash relation at 40M tags
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.autoBroadcastJoinThreshold": "-1",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    from genetics_spark_coloc_spark.operators.l2g import local_features

    n_variants = 1_000_000
    # variant index: 4 consequences per variant -> 4M csq rows, genes
    # shared per variant block so hot-locus groups stay realistic
    variant_index = spark.range(n_variants).select(
        F.concat(F.lit("v"), F.col("id").cast("string")).alias("variantId"),
        F.transform(
            F.sequence(F.lit(0), F.lit(3)),
            lambda g: F.struct(
                F.concat(
                    F.lit("g"), (F.floor(F.col("id") / 1000) * 4 + g).cast("string")
                ).alias("targetId"),
                F.pmod(F.hash(F.col("id").cast("string"), g), F.lit(1_000_000)).cast(
                    "long"
                ).alias("distanceFromTss"),
                F.pmod(F.hash(g, F.col("id").cast("string")), F.lit(1_000_000)).cast(
                    "long"
                ).alias("distanceFromFootprint"),
                (F.pmod(F.hash("id"), F.lit(100)).cast("double") / 100.0).alias(
                    "consequenceScore"
                ),
            ),
        ).alias("transcriptConsequences"),
    ).localCheckpoint(eager=True)
    for n in sizes:
        n_rows = n // 100  # 100 tags per study_locus row
        hot = F.pmod(F.hash("id"), F.lit(100)) < 30
        # the hot locus draws its tags from a 10k-variant pool (dense
        # credible-set sharing); cold loci sweep the full index
        vid = F.when(
            hot, F.pmod(F.hash("id", "id"), F.lit(10_000))
        ).otherwise(F.pmod(F.hash("id"), F.lit(n_variants)))
        study_locus = spark.range(n_rows).select(
            F.when(hot, F.lit("HOT"))
            .otherwise(F.concat(F.lit("L"), F.col("id").cast("string")))
            .alias("studyLocusId"),
            F.concat(F.lit("v"), vid.cast("string")).alias("variantId"),
            F.transform(
                F.sequence(F.lit(0), F.lit(99)),
                lambda t: F.struct(
                    F.concat(
                        F.lit("v"),
                        F.pmod(F.hash(F.col("id").cast("string"), t), F.lit(n_variants))
                        .alias("x")
                        .cast("string"),
                    ).alias("variantId"),
                    (F.pmod(F.hash(t, F.col("id").cast("string")), F.lit(1000))
                     .cast("double") / 1000.0).alias("posteriorProbability"),
                ),
            ).alias("locus"),
        ).localCheckpoint(eager=True)
        hot_frac = (
            study_locus.filter(F.col("studyLocusId") == "HOT").count()
            * 100.0
            / n
        )
        start = time.perf_counter()
        n_out = local_features(study_locus, variant_index).count()
        sec = round(time.perf_counter() - start, 2)
        print(
            json.dumps(
                {
                    "probe": f"l2g_local_features_skew_{n // 1_000_000}m_tags",
                    "tag_rows": n,
                    "hot_locus_frac": round(hot_frac, 3),
                    "feature_rows": n_out,
                    "sec": sec,
                    "tags_per_sec": int(n / sec) if sec else None,
                }
            ),
            flush=True,
        )
        study_locus.unpersist()
    spark.stop()


def ann_certify_probes(
    corpus_sizes: "tuple[int, ...]" = (200_000, 800_000),
    dim: int = 64,
    n_centroids: int = 64,
    certify_queries: int = 64,
) -> None:
    """Round-13 probe: the `ivf_index mode=certify` staleness gate's
    cost as the indexed corpus grows. The gate is one deterministic
    query sample answered twice — by the index (partition-pruned to
    nprobe lists) and by the exact brute force (ONE corpus scan ×
    |sample| JVM-side cosine folds) — so the wall should be linear in
    corpus with a small constant, i.e. priceable as 'one extra corpus
    scan per certification', not a second dedup pass.
    Run: python -c "import tools.scale_probe as sp; sp.ann_certify_probes()"
    """
    import shutil
    import tempfile

    spark = get_session(
        app_name="ann_certify_probe",
        master="local[32]",
        shuffle_partitions=64,
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    from genetics_spark_coloc_spark.steps import run_step

    for n in corpus_sizes:
        # clustered gaussian-ish geometry via hash-derived offsets:
        # vectors sit near one of n_centroids anchor points (uniform
        # random vectors make ANY inverted-list index look bad for
        # reasons that say nothing about the step)
        base = spark.range(n).select(
            F.col("id").alias("vec_id"),
            F.transform(
                F.sequence(F.lit(0), F.lit(dim - 1)),
                lambda d: (
                    F.pmod(F.hash(F.pmod(F.col("id"), F.lit(n_centroids)), d), F.lit(1000))
                    / 100.0
                    + F.pmod(F.hash(F.col("id"), d), F.lit(100)) / 1000.0
                ),
            ).alias("embedding"),
        )
        root = tempfile.mkdtemp(prefix="ann_certify_probe_")
        corpus_p = os.path.join(root, "corpus.parquet")
        cents_p = os.path.join(root, "cents.parquet")
        base.write.parquet(corpus_p)
        spark.read.parquet(corpus_p).filter(
            F.col("vec_id") < n_centroids
        ).write.parquet(cents_p)
        out = os.path.join(root, "ivf")
        start = time.perf_counter()
        run_step(
            spark, "ivf_index",
            {"corpus": corpus_p, "centroids": cents_p}, out,
        )
        build_sec = round(time.perf_counter() - start, 2)
        start = time.perf_counter()
        run_step(
            spark, "ivf_index",
            {"corpus": corpus_p, "centroids": cents_p}, out,
            params={
                "mode": "certify",
                "certify_queries": certify_queries,
                "certify_k": 10,
            },
        )
        certify_sec = round(time.perf_counter() - start, 2)
        import json as _json

        from genetics_spark_coloc_spark.session import hadoop_read_text

        cert = _json.loads(
            hadoop_read_text(spark, os.path.join(out, "_recall_cert.json"))
        )[-1]
        print(
            json.dumps(
                {
                    "probe": f"ann_certify_{n // 1000}k_corpus",
                    "corpus": n,
                    "dim": dim,
                    "n_centroids": n_centroids,
                    "certify_queries": certify_queries,
                    "build_sec": build_sec,
                    "certify_sec": certify_sec,
                    "recall_at_10": cert["recall_at_k"],
                }
            ),
            flush=True,
        )
        shutil.rmtree(root, ignore_errors=True)
    spark.stop()


def cc_labels_fold_probes(
    n_delta: int = 50_000,
    hist_sizes: "tuple[int, ...]" = (1_000_000, 4_000_000),
) -> None:
    """Round-13 probe: the AT-REST daily fold (`fold_cc_labels`) with
    the full crash contract — loud Hadoop-FS sidecar discovery,
    sampled converged-input guard, shard append, committed alias
    epoch, superseded-epoch cleanup — timed end-to-end against the
    same delta/history geometry as ``incremental_cc_probes`` (which
    measures the in-memory kernel alone). The difference is the price
    of durability + the guard; it must stay O(delta)-flat as history
    grows. Also times the one-hop resolved read (`load_cc_labels`).
    Run: python -c "import tools.scale_probe as sp; sp.cc_labels_fold_probes()"
    """
    import shutil
    import tempfile

    spark = get_session(
        app_name="cc_labels_fold_probe",
        master="local[32]",
        shuffle_partitions=64,
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    from genetics_spark_coloc_spark.operators.graph import (
        connected_components,
        fold_cc_labels,
        load_cc_labels,
    )

    for n_hist in hist_sizes:
        n_vert = 2 * n_hist
        hist_edges = spark.range(n_hist).select(
            F.col("id").alias("leftId"),
            F.when(F.pmod("id", F.lit(8)) != 7, F.col("id") + 1)
            .otherwise(F.col("id"))
            .alias("rightId"),
        ).filter(F.col("leftId") != F.col("rightId")).localCheckpoint(eager=True)
        verts = spark.range(n_vert).select(F.col("id")).localCheckpoint(eager=True)
        labels = connected_components(verts, hist_edges)
        root = tempfile.mkdtemp(prefix="cc_fold_probe_")
        path = os.path.join(root, "cc_labels")
        labels.write.parquet(path)
        delta_edges = spark.range(n_delta).select(
            F.when(F.pmod("id", F.lit(2)) == 0, F.pmod(F.hash("id"), F.lit(n_hist)))
            .otherwise(F.lit(n_vert) + F.col("id"))
            .alias("leftId"),
            (F.lit(n_vert) + F.lit(n_delta) + F.col("id")).alias("rightId"),
        ).localCheckpoint(eager=True)
        start = time.perf_counter()
        fold_cc_labels(delta_edges, path)
        fold_sec = round(time.perf_counter() - start, 2)
        start = time.perf_counter()
        n_resolved = load_cc_labels(spark, path).count()
        resolve_sec = round(time.perf_counter() - start, 2)
        print(
            json.dumps(
                {
                    "probe": f"cc_labels_fold_{n_delta // 1000}k_delta_vs_{n_hist // 1_000_000}m_edges",
                    "hist_edges": n_hist,
                    "delta_edges": n_delta,
                    "fold_sec": fold_sec,
                    "resolved_read_sec": resolve_sec,
                    "rows_resolved": n_resolved,
                }
            ),
            flush=True,
        )
        shutil.rmtree(root, ignore_errors=True)
        for df in (hist_edges, verts, delta_edges):
            df.unpersist()
    spark.stop()


def incremental_cc_probes(
    n_delta: int = 50_000, hist_sizes: "tuple[int, ...]" = (1_000_000, 4_000_000)
) -> None:
    """Round-12 probe: incremental connected components vs the full
    recompute as history grows. The daily loop folds a 50k-edge delta
    into an existing converged labeling: the reduced solve is O(delta)
    (canonical contraction), and the history side is ONE broadcast-
    remap map scan — no CC rounds over history. The full recompute
    pays propagate+shortcut rounds over the whole union graph every
    day. Half the delta's edges touch history vertices, half connect
    brand-new ones.
    Run: python -c "import tools.scale_probe as sp; sp.incremental_cc_probes()"
    """
    spark = get_session(
        app_name="incremental_cc_probe",
        master="local[32]",
        shuffle_partitions=64,
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    from genetics_spark_coloc_spark.operators.graph import (
        connected_components,
        incremental_connected_components,
    )

    for n_hist in hist_sizes:
        n_vert = 2 * n_hist
        # chains of ~8 vertices: realistic near-dup cluster shapes
        hist_edges = spark.range(n_hist).select(
            F.col("id").alias("leftId"),
            F.when(F.pmod("id", F.lit(8)) != 7, F.col("id") + 1)
            .otherwise(F.col("id"))
            .alias("rightId"),
        ).filter(F.col("leftId") != F.col("rightId")).localCheckpoint(eager=True)
        verts = spark.range(n_vert).select(F.col("id")).localCheckpoint(eager=True)
        start = time.perf_counter()
        labels = connected_components(verts, hist_edges).localCheckpoint(eager=True)
        build_sec = round(time.perf_counter() - start, 2)
        delta_edges = spark.range(n_delta).select(
            F.when(F.pmod("id", F.lit(2)) == 0, F.pmod(F.hash("id"), F.lit(n_hist)))
            .otherwise(F.lit(n_vert) + F.col("id"))
            .alias("leftId"),
            (F.lit(n_vert) + F.lit(n_delta) + F.col("id")).alias("rightId"),
        ).localCheckpoint(eager=True)
        start = time.perf_counter()
        n_rows = incremental_connected_components(labels, delta_edges).count()
        inc_sec = round(time.perf_counter() - start, 2)
        start = time.perf_counter()
        full_edges = hist_edges.unionByName(delta_edges)
        full_verts = verts.unionByName(
            delta_edges.select(F.col("leftId").alias("id"))
        ).unionByName(delta_edges.select(F.col("rightId").alias("id"))).distinct()
        n_full = connected_components(full_verts, full_edges).count()
        full_sec = round(time.perf_counter() - start, 2)
        print(
            json.dumps(
                {
                    "probe": f"incremental_cc_{n_delta // 1000}k_delta_vs_{n_hist // 1_000_000}m_edges",
                    "hist_edges": n_hist,
                    "delta_edges": n_delta,
                    "build_sec": build_sec,
                    "incremental_sec": inc_sec,
                    "full_recompute_sec": full_sec,
                    "rows": n_rows,
                    "rows_full": n_full,
                }
            ),
            flush=True,
        )
        for df in (hist_edges, verts, labels, delta_edges):
            df.unpersist()
    spark.stop()


def lm_probe(n_corpus: int = 2_000_000, n_delta: int = 500_000) -> None:
    """Round-14 probe: the Stupid-Backoff LM loop at corpus scale —
    train the trigram count-table model on 2M docs x 20 tokens (40M
    token occurrences, one explode + one map-side-combined count on
    the gram key), then FROZEN-score a 500k-doc delta against it (the
    CCNet production shape; a tenth of the delta's vocabulary is OOV
    and exercises the add-one unigram floor). Build should be
    occurrence-bound; scoring bounded by delta occurrences + distinct
    scoring keys, with the model side never re-trained.
    Run: python -c "import tools.scale_probe as sp; sp.lm_probe()"
    """
    spark = get_session(
        app_name="lm_probe",
        master="local[32]",
        shuffle_partitions=64,
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    from genetics_spark_coloc_spark.operators.text import (
        lm_stupid_backoff_score,
        ngram_lm_table,
    )

    def corpus(n_docs: int, vocab: int, salt: int):
        # deterministic skew: position-dependent arithmetic pattern
        # mod a vocab — frequent grams repeat across docs, tails stay
        # rare; salt shifts the delta's vocabulary so ~1/10 of its
        # tokens are OOV to the model
        toks = [
            F.concat(
                F.lit("w"),
                (
                    (F.col("id") * 7919 + pos * 104729 + salt)
                    % (vocab if pos % 10 else vocab // 10)
                ).cast("string"),
            )
            for pos in range(20)
        ]
        return spark.range(n_docs).select(
            F.col("id").alias("doc_id"),
            F.concat_ws(" ", *toks).alias("text"),
        )

    train = corpus(n_corpus, 20_000, 0).localCheckpoint(eager=True)
    delta = corpus(n_delta, 22_000, 3).localCheckpoint(eager=True)

    start = time.perf_counter()
    model = ngram_lm_table(train).localCheckpoint(eager=True)
    n_grams = model.count()
    build_sec = round(time.perf_counter() - start, 2)

    start = time.perf_counter()
    agg = (
        lm_stupid_backoff_score(delta, lm=model)
        .groupBy()
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.avg("avgLogScore").alias("meanLog"),
        )
        .collect()[0]
    )
    score_sec = round(time.perf_counter() - start, 2)
    print(
        json.dumps(
            {
                "probe": f"lm_stupid_backoff_{n_corpus // 1_000_000}m_train_{n_delta // 1000}k_score",
                "train_docs": n_corpus,
                "model_grams": n_grams,
                "score_docs": agg["n"],
                "mean_log_score": round(agg["meanLog"], 4),
                "build_sec": build_sec,
                "build_docs_per_sec": int(n_corpus / build_sec) if build_sec else None,
                "score_sec": score_sec,
                "score_docs_per_sec": int(n_delta / score_sec) if score_sec else None,
            }
        ),
        flush=True,
    )
    spark.stop()


def bm25_index_probe(n_docs: int = 2_000_000) -> None:
    """Round-14 probe: the BM25 inverted index at 2M docs x 20 tokens.
    Measures (a) the one-time postings build, (b) a 3-term query
    against the PERSISTED pfx-partitioned index (the scan statically
    prunes to the query terms' partitions), vs (c) the direct
    corpus-scanning bm25_scores — the win the at-rest shape buys is
    (b) << (c) while returning bit-identical scores.
    Run: python -c "import tools.scale_probe as sp; sp.bm25_index_probe()"
    """
    import shutil
    import tempfile

    spark = get_session(
        app_name="bm25_index_probe",
        master="local[32]",
        shuffle_partitions=64,
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    from genetics_spark_coloc_spark.operators.text import (
        bm25_corpus_stats,
        bm25_postings,
        bm25_scores,
        bm25_search,
    )

    toks = [
        F.concat(
            F.lit("w"),
            (
                (F.col("id") * 7919 + pos * 104729)
                % (20_000 if pos % 10 else 2_000)
            ).cast("string"),
        )
        for pos in range(20)
    ]
    query = ["w7919", "w104729", "w42"]

    tmp = tempfile.mkdtemp()
    idx = f"{tmp}/bm25_idx"
    try:
        # the corpus lives on DISK for both sides — at production
        # scale nothing is cached, and the index's win is exactly
        # "3/64 postings partitions read" vs "every document's full
        # text read"; an in-memory corpus would bias the direct scan
        spark.range(n_docs).select(
            F.col("id").alias("doc_id"),
            F.concat_ws(" ", *toks).alias("text"),
        ).write.parquet(f"{tmp}/corpus")
        docs = spark.read.parquet(f"{tmp}/corpus")
        start = time.perf_counter()
        bm25_postings(docs).write.partitionBy("pfx").parquet(idx)
        stats_row = bm25_corpus_stats(docs).collect()[0]
        build_sec = round(time.perf_counter() - start, 2)

        stats = spark.createDataFrame(
            [(stats_row["_nDocs"], stats_row["_sumDl"])],
            "_nDocs long, _sumDl long",
        )
        start = time.perf_counter()
        n_idx = bm25_search(
            spark.read.parquet(idx), query, stats
        ).count()
        query_sec = round(time.perf_counter() - start, 2)

        start = time.perf_counter()
        n_direct = bm25_scores(docs, query).count()
        direct_sec = round(time.perf_counter() - start, 2)
        print(
            json.dumps(
                {
                    "probe": f"bm25_index_{n_docs // 1_000_000}m_docs",
                    "rows": n_docs,
                    "build_sec": build_sec,
                    "indexed_query_sec": query_sec,
                    "direct_scan_sec": direct_sec,
                    "hits_indexed": n_idx,
                    "hits_direct": n_direct,
                    "speedup_vs_scan": round(direct_sec / query_sec, 1)
                    if query_sec
                    else None,
                }
            ),
            flush=True,
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    spark.stop()
