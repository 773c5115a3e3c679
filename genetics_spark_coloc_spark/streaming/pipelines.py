"""Structured Streaming variants of the engine's ingest/quality ops.

The reference is pure batch (SURVEY §2.11: zero streaming APIs); this
module is the additive streaming surface for continuous
training-data ingestion: the same declarative transformations applied
to ``readStream`` sources, with event-time watermarks for late data.

All builders return an un-started streaming DataFrame (or a query via
``run_*``) so tests can drive them with in-memory sources/sinks.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from genetics_spark_coloc_spark.operators import text


def streaming_quality_scores(events: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-record text quality metrics on a stream — stateless
    projection, identical expressions to the batch operator."""
    t = F.col(text_col)
    return events.select(
        "*",
        text.token_count(t).alias("nTokens"),
        F.round(text.quality_score(t), 6).alias("qualityScore"),
        text.language_id(t).alias("predictedLang"),
    )


def streaming_dedup_exact(
    events: DataFrame, text_col: str, event_time_col: str, watermark: str = "10 minutes"
) -> DataFrame:
    """Streaming exact dedup by content hash with a watermark bound.

    Uses ``dropDuplicatesWithinWatermark`` (Spark >= 3.5): plain
    ``dropDuplicates(["contentHash"])`` would NEVER evict state —
    eviction only happens when the event-time column is part of the
    dedup key subset, which would wrongly treat same-hash records
    with different timestamps as distinct. The WithinWatermark
    variant keys state on the hash alone and expires entries once
    the watermark passes their event time — the correct bounded-state
    dedup pattern.
    """
    return (
        events.withColumn("contentHash", F.md5(F.col(text_col)))
        .withWatermark(event_time_col, watermark)
        .dropDuplicatesWithinWatermark(["contentHash"])
    )


def streaming_running_user_stats(
    events: DataFrame,
    user_col: str = "user_id",
    value_col: str = "value",
    state_timeout_ms: int | None = None,
) -> DataFrame:
    """Custom stateful operator via ``applyInPandasWithState``: a
    per-user running (count, sum, max) that survives across
    micro-batches — the pattern for accumulators the built-in
    windowed aggregations can't express (e.g. lifetime per-entity
    counters).

    State is one (count, sum, max) triple per user — O(users), not
    O(events). Pass ``state_timeout_ms`` on a continuous deployment to
    evict idle users via ``ProcessingTimeTimeout``; leave it None for
    finite replays (``trigger(availableNow=True)`` will NOT terminate
    while processing-time timeouts are pending — a timer keeps the
    query alive to fire them).
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    output_schema = (
        f"{user_col} long, nEvents long, valueSum double, valueMax double"
    )
    state_schema = "count long, total double, mx double"

    def update(key, pdfs, state: GroupState):
        if state.hasTimedOut:
            # idle-user eviction: no data in this invocation — remove
            # the accumulator instead of re-arming the timer forever
            state.remove()
            return
        count, total, mx = (
            state.get if state.exists else (0, 0.0, float("-inf"))
        )
        for pdf in pdfs:
            count += len(pdf)
            total += float(pdf[value_col].sum())
            if len(pdf):
                mx = max(mx, float(pdf[value_col].max()))
        state.update((count, total, mx))
        if state_timeout_ms is not None:
            state.setTimeoutDuration(state_timeout_ms)
        import pandas as pd

        yield pd.DataFrame(
            {
                user_col: [key[0]],
                "nEvents": [count],
                "valueSum": [round(total, 6)],
                "valueMax": [mx],
            }
        )

    return events.groupBy(user_col).applyInPandasWithState(
        update,
        outputStructType=output_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf=(
            GroupStateTimeout.ProcessingTimeTimeout
            if state_timeout_ms is not None
            else GroupStateTimeout.NoTimeout
        ),
    )


def streaming_attribution_join(
    views: DataFrame,
    clicks: DataFrame,
    user_col: str = "userId",
    time_col: str = "eventTime",
    lookback: str = "30 minutes",
    watermark: str = "1 hour",
) -> DataFrame:
    """Stream-stream point-in-time attribution: each view joins the
    clicks of the SAME user within ``lookback`` BEFORE it — the
    streaming twin of ``operators.asof.asof_join`` (which returns
    only the latest click; a stream can't rank an unbounded past, so
    the windowed-candidate form is the streaming-native contract).

    Both sides carry watermarks so Spark can evict join state: a
    click older than view-watermark − lookback can never match a
    future view and is dropped from the state store — the state
    bound that makes a 100 TB/day stream joinable at all.
    """
    v = views.select(
        F.col(user_col).alias("userId"),
        F.col(time_col).alias("viewTime"),
        F.col("viewEventId"),
    ).withWatermark("viewTime", watermark)
    c = clicks.select(
        F.col(user_col).alias("clickUserId"),
        F.col(time_col).alias("clickTime"),
        F.col("clickEventId"),
        F.col("clickValue"),
    ).withWatermark("clickTime", watermark)
    return v.join(
        c,
        on=[
            F.col("userId") == F.col("clickUserId"),
            F.col("clickTime") <= F.col("viewTime"),
            F.col("clickTime") >= F.expr(f"viewTime - interval {lookback}"),
        ],
        how="inner",
    ).select("userId", "viewEventId", "viewTime", "clickEventId", "clickTime", "clickValue")


def streaming_band_hashes(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_perm: int = 8,
    band_size: int = 2,
) -> DataFrame:
    """Per-document MinHash band hashes as a STATELESS projection —
    the stream-safe form of ``dedup.minhash_signatures`` +
    band grouping (which use explode + groupBy, illegal mid-stream).

    Identical values to the batch pipeline: each shingle is md5'd
    once, permutation p reads the 8-hex window at offset 3p, the
    signature element is the lexicographic min over shingles, and the
    band hash is md5 of the band's sorted minhashes joined with '|'
    (matching the batch ``sort_array(collect_list(...))`` exactly,
    since sorting makes the aggregation order irrelevant).

    Output: (id, bandIdx, bandHash) — one row per band per document,
    no shuffle.
    """
    from genetics_spark_coloc_spark.operators.dedup import (
        char_shingles,
        perm_window_hash,
    )

    num_bands = num_perm // band_size
    hashes = F.transform(
        char_shingles(F.col(text_col)),
        lambda s: perm_window_hash(s, num_perm),
    )
    min_hash = [
        F.array_min(
            F.transform(hashes, lambda h: F.substring(h, p * 3 + 1, 8))
        )
        for p in range(num_perm)
    ]
    bands = F.array(
        *[
            F.struct(
                F.lit(b).alias("bandIdx"),
                F.md5(
                    F.concat_ws(
                        "|",
                        F.sort_array(
                            F.array(
                                *min_hash[b * band_size : (b + 1) * band_size]
                            )
                        ),
                    )
                ).alias("bandHash"),
            )
            for b in range(num_bands)
        ]
    )
    # null text must vanish exactly as in batch (where exploding the
    # null shingle array drops the row); without this filter every
    # null-text doc would hash all bands to md5('') and spuriously
    # pair with every other null-text doc
    return docs.filter(F.col(text_col).isNotNull()).select(
        F.col(id_col).alias("docId"), F.explode(bands).alias("bh")
    ).select("docId", F.col("bh.bandIdx").alias("bandIdx"), F.col("bh.bandHash").alias("bandHash"))


def streaming_delta_lsh_candidates(
    docs: DataFrame,
    index_bands: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_perm: int = 8,
    band_size: int = 2,
) -> DataFrame:
    """Continuous incremental dedup: arriving documents band
    STATELESSLY (``streaming_band_hashes``) and probe the PERSISTED
    corpus band index via a stream-static inner join — the streaming
    twin of ``dedup.incremental_lsh_candidates(index_bands=...)``.

    No state store at all: the index is the static side (read it with
    ``load_lsh_band_index`` from the ``lsh_band_index`` step's
    bucketed, ceiling-certified table — certification replaces the
    batch guard here, since a stateless stream cannot count bucket
    occupancy), so arbitrary stream volume costs |micro-batch| banding
    plus a bucket-local join per trigger. Spark re-plans the static
    side per micro-batch, picking up index appends (the step's
    ``mode=append`` daily-crawl loop) without restarting the query.

    Emits (deltaId, indexId, bandIdx) — one row PER MATCHING BAND
    (max num_perm/band_size per pair): a global distinct is illegal
    without state, and the downstream exact verifier (ngram_jaccard)
    deduplicates pairs anyway. Replaying a corpus and distinct-ing
    the emissions reproduces the batch candidate set exactly
    (tested).
    """
    banded = streaming_band_hashes(docs, text_col, id_col, num_perm, band_size)
    return (
        banded.alias("d")
        .join(
            index_bands.alias("i"),
            on=[
                F.col("d.bandIdx") == F.col("i.bandIdx"),
                F.col("d.bandHash") == F.col("i.bandHash"),
            ],
        )
        .select(
            F.col("d.docId").alias("deltaId"),
            F.col("i.docId").alias("indexId"),
            F.col("d.bandIdx").alias("bandIdx"),
        )
    )


def streaming_near_dup_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_perm: int = 8,
    band_size: int = 2,
    max_bucket_size: int = 256,
    state_timeout_ms: int | None = None,
    on_hot_bucket: str = "raise",
) -> DataFrame:
    """Streaming MinHash-LSH near-duplicate detection: emit a
    (leftId, rightId, bandIdx) row the moment a document lands in an
    LSH bucket an earlier document already occupies.

    The batch operator (``dedup.minhash_dedup_pairs``) self-joins the
    band table; a stream cannot join its unbounded past, so the
    bucket membership IS the state: ``applyInPandasWithState`` keyed
    by (bandIdx, bandHash) keeps the sorted doc-id list per bucket
    and emits new×seen (plus new×new) pairs per micro-batch, always
    (min, max)-ordered like the batch output.

    State is O(distinct occupied buckets); each bucket list is capped
    at ``max_bucket_size`` ids. A bucket exceeding the cap FAILS the
    query loudly by default (``on_hot_bucket="raise"`` — the same
    contract as the batch guard in functions/guards.py: a bucket this
    hot means a degenerate band hash and quadratic pair fan-out);
    pass ``on_hot_bucket="cap"`` to instead freeze the bucket (stops
    pairing and admission, membership stable across replays). Pass
    ``state_timeout_ms`` on continuous deployments to evict cold
    buckets; replaying the documents table through this with
    ``availableNow`` reproduces the batch candidate-pair set exactly
    (tested).
    """
    banded = streaming_band_hashes(docs, text_col, id_col, num_perm, band_size)
    return bucket_pair_stream(banded, max_bucket_size, state_timeout_ms, on_hot_bucket)


def bucket_pair_stream(
    banded: DataFrame,
    max_bucket_size: int = 256,
    state_timeout_ms: int | None = None,
    on_hot_bucket: str = "raise",
) -> DataFrame:
    """Shared stateful core of streaming LSH dedup: given stateless
    (docId, bandIdx, bandHash) rows from ANY banded signature family
    (MinHash text bands, hyperplane embedding bands), keep per-bucket
    membership as state and emit new-vs-seen pairs per micro-batch.
    See ``streaming_near_dup_pairs`` for semantics and state bounds.

    ``on_hot_bucket`` aligns the stream with the batch guard contract
    (functions/guards.py): a bucket past ``max_bucket_size`` members
    FAILS the query loudly with the bucket key and size in the
    message (``"raise"``, default — the same degenerate corpus that
    aborts the batch generators must not silently degrade here), or
    stops pairing AND admission for that bucket (``"cap"`` — the
    pre-round-9 behavior; membership stays stable across replays).
    Below the cap both modes are identical.
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    from genetics_spark_coloc_spark.functions.guards import validate_on_hot

    validate_on_hot(on_hot_bucket, "bucket_pair_stream")
    out_schema = "leftId string, rightId string, bandIdx int"
    state_schema = "ids array<string>"

    def update(key, pdfs, state: GroupState):
        import pandas as pd

        if state.hasTimedOut:
            # cold-bucket eviction: this invocation carries no data —
            # drop the membership instead of re-arming the timer
            # forever (the whole point of state_timeout_ms)
            state.remove()
            return
        band_idx = int(key[0])
        (seen,) = state.get if state.exists else ([],)
        seen = list(seen)
        fresh: list[str] = []
        for pdf in pdfs:
            for d in pdf["docId"].astype(str):
                if d not in seen and d not in fresh:
                    fresh.append(d)
        fresh.sort()
        if on_hot_bucket == "raise" and len(seen) + len(fresh) > max_bucket_size:
            raise RuntimeError(
                f"bucket_pair_stream hot-bucket guard: bucket {tuple(key)} "
                f"would hold {len(seen) + len(fresh)} docs "
                f"(> max_bucket_size {max_bucket_size}); a bucket this hot "
                "means a degenerate band hash and quadratic pair fan-out. "
                "Pass on_hot_bucket='cap' to freeze the bucket instead "
                "(strip_boilerplate upstream is the documented pipeline "
                "order), or raise max_bucket_size."
            )
        lefts, rights = [], []
        # admission-ordered membership: docs are appended while the
        # bucket is under cap and NEVER evicted — a capped bucket
        # stops both pairing and admission, so membership is stable
        # across replays instead of churning by id order
        for d in fresh:
            if len(seen) >= max_bucket_size:
                break
            for other in seen:
                lo, hi = (other, d) if other < d else (d, other)
                lefts.append(lo)
                rights.append(hi)
            seen.append(d)
        state.update((seen,))
        if state_timeout_ms is not None:
            state.setTimeoutDuration(state_timeout_ms)
        if lefts:
            yield pd.DataFrame(
                {"leftId": lefts, "rightId": rights, "bandIdx": band_idx}
            )

    return banded.groupBy("bandIdx", "bandHash").applyInPandasWithState(
        update,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=(
            GroupStateTimeout.ProcessingTimeTimeout
            if state_timeout_ms is not None
            else GroupStateTimeout.NoTimeout
        ),
    )


def streaming_embedding_near_dup(
    vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    num_bands: int = 4,
    planes_per_band: int = 8,
    dim: int = 64,
    max_bucket_size: int = 256,
    state_timeout_ms: int | None = None,
    on_hot_bucket: str = "raise",
) -> DataFrame:
    """Streaming hyperplane-LSH near-duplicate candidates over an
    embedding stream: the stateless banded signature (the SAME BLAS
    kernel + band slicing as the batch
    ``similarity.lsh_cosine_candidates_banded``) feeds the shared
    stateful bucket machinery. Candidates only — exact cosine
    verification composes downstream exactly as in batch; null or
    malformed vectors produce null band hashes and vanish before the
    stateful stage, like the batch equi-join drops them.
    """
    from genetics_spark_coloc_spark.operators.similarity import (
        hyperplane_signature_bits,
    )

    total = num_bands * planes_per_band
    sig = vectors.select(
        F.col(id_col).cast("string").alias("docId"),
        hyperplane_signature_bits(F.col(vec_col), total, dim).alias("_bits"),
    )
    weights = F.array(*[F.lit(1 << r) for r in range(planes_per_band)])

    def band_hash(b: int):
        sl = F.slice(F.col("_bits"), b * planes_per_band + 1, planes_per_band)
        return F.aggregate(
            F.zip_with(sl, weights, lambda bit, w: bit * w),
            F.lit(0),
            lambda a, x: a + x,
        )

    bands = F.array(
        *[
            F.struct(
                F.lit(b).alias("bandIdx"),
                band_hash(b).cast("string").alias("bandHash"),
            )
            for b in range(num_bands)
        ]
    )
    banded = (
        sig.select("docId", F.explode(bands).alias("bh"))
        .select(
            "docId",
            F.col("bh.bandIdx").alias("bandIdx"),
            F.col("bh.bandHash").alias("bandHash"),
        )
        .filter(F.col("bandHash").isNotNull())
    )
    return bucket_pair_stream(banded, max_bucket_size, state_timeout_ms, on_hot_bucket)


def streaming_decontaminate(
    docs: DataFrame,
    eval_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 5,
    min_matches: int = 1,
) -> DataFrame:
    """STATELESS streaming benchmark decontamination: flag arriving
    training documents that share word n-grams with a fixed
    evaluation set — the streaming twin of ``text.decontaminate``
    (whose train-side distinct + groupBy are illegal mid-stream, and
    whose per-document decision needs no cross-document state
    anyway).

    The eval gram set is collected ONCE on the driver and rides the
    task closure, exactly like the serialized trees in
    ``operators/treeshap.py`` — sound because an eval benchmark is
    small by construction (thousands of prompts, not a corpus); the
    arriving documents are the unbounded side. Tokenization stays the
    IDENTICAL JVM-side ``word_ngrams`` expression as the batch
    operator — only the final membership count crosses into an
    Arrow-batched pandas_udf — so replaying a corpus through this
    stream reproduces the batch operator's output exactly (tested).

    Emits (docId, nMatchingGrams, isContaminated) per arriving
    document; no watermark, no state store.
    """
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    eval_grams = frozenset(
        r["gram"]
        for r in eval_df.select(
            F.explode(text.word_ngrams(F.col(text_col), n)).alias("gram")
        )
        .distinct()
        .collect()
    )

    def _count_hits(grams: pd.Series) -> pd.Series:
        return pd.Series(
            [
                sum(1 for g in set(gs) if g in eval_grams) if gs is not None else 0
                for gs in grams
            ],
            dtype="int64",
        )

    _count_hits.__annotations__ = {"grams": pd.Series, "return": pd.Series}
    kernel = pandas_udf(_count_hits, "long")

    return docs.select(
        F.col(id_col).alias("docId"),
        kernel(text.word_ngrams(F.col(text_col), n)).alias("nMatchingGrams"),
    ).withColumn(
        "isContaminated", F.col("nMatchingGrams") >= min_matches
    )


def streaming_nb_route(
    docs: DataFrame,
    model: DataFrame,
    priors: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    alpha: float = 1.0,
) -> DataFrame:
    """STATELESS streaming corpus routing with a trained Naive Bayes
    model: each arriving document gets its argmax label and score —
    the streaming twin of ``operators.nb.nb_score`` (whose explode +
    groupBy shuffle is unnecessary per-document: the decision is a
    fold over the document's own tokens against a fixed model).

    The (label, token) -> logLik table, per-label smoothed floors,
    and log-priors are collected ONCE on the driver and ride the task
    closure — sound for the same reason the decontamination gram set
    does: a deployed routing classifier is pruned-vocab small by
    construction (a fastText-style model ships as one file), while
    the arriving corpus is the unbounded side. Tokenization is the
    IDENTICAL JVM-side expression as the batch operator; scoring and
    the 6dp-rounded min_by tie-break are replicated exactly
    (half-away rounding, lexicographic label on ties), so replaying a
    corpus through this stream reproduces ``nb_score`` bit for bit
    (tested).

    Emits (docId, label, score) per arriving non-empty document; no
    watermark, no state store.
    """
    import math

    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    lik = {
        (r["label"], r["token"]): (r["logLik"], r["tokenCount"])
        for r in model.select("label", "token", "logLik", "tokenCount").collect()
    }
    # same algebraic floor reconstruction as nb_score: from any model
    # row, floor = logLik - ln(tokenCount + alpha) + ln(alpha)
    floors: dict[str, float] = {}
    for (lab, _), (ll, tc) in lik.items():
        floors[lab] = max(
            floors.get(lab, float("-inf")),
            ll - math.log(tc + alpha) + math.log(alpha),
        )
    prior = {
        r["label"]: r["logPrior"]
        for r in priors.select("label", "logPrior").collect()
    }
    # only labels present in BOTH prior and model: batch nb_score's
    # explode+join inner-joins on label, so a label whose training
    # docs were all empty (priors row, zero model rows) is silently
    # unscorable there — replicate that instead of KeyError-ing the
    # stream on floors[lab].
    labels = sorted(set(prior) & set(floors))

    def _round6(x: float) -> float:
        scaled = x * 1e6
        return (
            math.floor(scaled + 0.5) if x >= 0 else math.ceil(scaled - 0.5)
        ) / 1e6

    def _route(toks: pd.Series) -> pd.DataFrame:
        out_lab, out_score = [], []
        for ts in toks:
            if ts is None or len(ts) == 0:
                out_lab.append(None)
                out_score.append(None)
                continue
            best_lab, best_score = None, None
            for lab in labels:
                s = prior[lab]
                fl = floors[lab]
                for t in ts:
                    hit = lik.get((lab, t))
                    s += hit[0] if hit is not None else fl
                s = _round6(s)
                if best_score is None or s > best_score:
                    best_lab, best_score = lab, s
            out_lab.append(best_lab)
            out_score.append(best_score)
        return pd.DataFrame({"label": out_lab, "score": out_score})

    _route.__annotations__ = {"toks": pd.Series, "return": pd.DataFrame}
    kernel = pandas_udf(_route, "label string, score double")

    routed = docs.select(
        F.col(id_col).alias("docId"),
        kernel(text.tokens(F.lower(F.col(text_col)))).alias("_r"),
    )
    return routed.filter(F.col("_r.label").isNotNull()).select(
        "docId", F.col("_r.label").alias("label"), F.col("_r.score").alias("score")
    )


def streaming_curation_route(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    event_time_col: "str | None" = None,
    watermark: str = "10 minutes",
    min_words: int = 20,
    max_dup_bigram_frac: float = 0.2,
    max_dup_trigram_frac: float = 0.18,
) -> DataFrame:
    """Streaming curation funnel — the live-ingest twin of
    ``operators.text.curation_funnel``: every first-of-family
    arrival gets its per-stage verdicts (Gopher quality rules,
    repetition filter, PII gate) from the IDENTICAL stateless Column
    expressions the batch operator uses, so replaying a corpus
    through the stream reproduces the batch flags bit for bit
    (tested); later copies are dropped entirely. The keeper election
    becomes streaming-native first-arrival-wins dedup
    (``dropDuplicatesWithinWatermark`` on the content hash — the only
    stateful stage; state entries expire once the watermark passes
    their event time, which plain ``dropDuplicates`` on a non-time
    key subset would never do. Batch elects min-id instead, because a
    batch can rank the whole family while a stream can only remember
    who came first).

    Every stage flag rides ONE projection of the deduped stream — no
    joins (stream-stream joins of two projections of the same source
    are not stream-safe), no extra shuffle beyond the dedup state.
    Pass ``event_time_col=None`` only for bounded replay tests (no
    watermark, unbounded state).

    Emits (docId, passQuality, passRepetition, passPii, kept).
    """
    from genetics_spark_coloc_spark.operators.text import (
        gopher_rules,
        ngram_repetition_ratio,
        pii_stats,
    )

    hashed = docs.withColumn(
        "_contentHash", F.md5(F.coalesce(F.col(text_col), F.lit("")))
    )
    if event_time_col is not None:
        first = hashed.withWatermark(
            event_time_col, watermark
        ).dropDuplicatesWithinWatermark(["_contentHash"])
    else:
        first = hashed.dropDuplicates(["_contentHash"])

    rules = gopher_rules(F.col(text_col), min_words=min_words)
    pass_quality = None
    for c in rules.values():
        pass_quality = c if pass_quality is None else (pass_quality & c)
    pass_rep = (
        ngram_repetition_ratio(F.col(text_col), 2) <= max_dup_bigram_frac
    ) & (ngram_repetition_ratio(F.col(text_col), 3) <= max_dup_trigram_frac)
    pii_counts = list(pii_stats(F.col(text_col)).values())
    total_pii = pii_counts[0]
    for c in pii_counts[1:]:
        total_pii = total_pii + c
    return first.select(
        F.col(id_col).alias("docId"),
        pass_quality.alias("passQuality"),
        pass_rep.alias("passRepetition"),
        (total_pii == 0).alias("passPii"),
        (pass_quality & pass_rep & (total_pii == 0)).alias("kept"),
    )


def streaming_cms_sketch(
    docs: DataFrame,
    tokens,
    depth: int = 4,
    width: int = 1024,
) -> DataFrame:
    """Count-Min sketch maintained over a document STREAM: each
    micro-batch's token counts fold into the (row, bucket) register
    state — the streaming-aggregation state IS the sketch, so the
    state store holds at most depth × width rows forever, with no
    watermark needed (the sketch is a monotone running summary by
    design, never evicted).

    Deliberately the SAME hashing/bucketing expressions as the batch
    ``operators.sketches.cms_sketch`` — the CMS merge law (counts add)
    is exactly what Spark's incremental streaming aggregation computes,
    so replaying a corpus through this stream reproduces the batch
    sketch bit for bit (certified in tests). Emit with
    ``outputMode("update")`` (changed registers per trigger) or
    ``"complete"`` (the whole ≤ depth × width register table).
    """
    from genetics_spark_coloc_spark.operators.sketches import cms_sketch

    return cms_sketch(docs, tokens, depth=depth, width=width)


def streaming_hll_registers(
    docs: DataFrame,
    tokens,
    group_cols: "list[str]",
    b: int = 10,
) -> DataFrame:
    """HyperLogLog registers maintained over a STREAM: per-register
    max-rho state, ≤ |groups| × 2^b state rows regardless of stream
    length. The HLL merge law (register-wise max) is what streaming
    ``max`` aggregation computes incrementally, so the stream state
    always equals the batch sketch of everything seen — replay parity
    is certified in tests. Estimates read back through the batch
    ``hll_estimate`` on any emitted register snapshot.
    """
    from genetics_spark_coloc_spark.operators.sketches import hll_registers

    return hll_registers(docs, tokens, group_cols, b=b)


def streaming_kmv_sketch(
    docs: DataFrame,
    tokens,
    group_col: str = "lang",
    k: int = 256,
    emit: str = "snapshot",
) -> DataFrame:
    """KMV sketch maintained over a STREAM: per group, the k smallest
    distinct portable hashes seen so far. Unlike CMS/HLL (whose merge
    laws are plain streaming aggregations), the k-min set needs a
    rank-and-truncate step no built-in streaming aggregate expresses,
    so the state rides ``applyInPandasWithState``: a sorted ≤ k-long
    array per group, merged with each micro-batch's new hashes — the
    textbook KMV insertion, state O(groups × k) forever, no watermark.

    Hashing is the batch operator's own 60-bit portable scheme
    (``operators.sketches._md5_long`` expressions), so replaying a
    corpus reproduces the batch ``kmv_sketch`` value for value
    (certified in tests).

    ``emit`` picks the sink volume trade:

    - ``"snapshot"``: each trigger with a change emits the group's
      FULL current sketch (≤ k rows: g, version, rank, hashValue)
      under an incrementing ``version`` — consumers keep the max
      version per group and feed it to the batch
      ``kmv_distinct_estimate`` / ``kmv_overlap_estimate`` readers
      unchanged. Simple, but a high-cardinality stream re-emits ~k
      rows per trigger while the sketch is still churning.
    - ``"delta"``: emit each hash ONCE, when it first enters the
      sketch (g, version, hashValue — no rank: ranks shift as smaller
      hashes arrive). Reconstruction is exact and order-free: the
      live sketch per group is the k SMALLEST of all delta rows ever
      emitted, because a value above the (monotonically decreasing)
      k-th bound at arrival can never enter later, and an evicted
      value ranks above the current k-th so the k-smallest cut drops
      it. Total sink volume is bounded by distinct-hashes-that-ever-
      entered (≤ k + evictions) instead of k × churn-triggers.

    ``group_col`` must be a string column (the streaming surface's
    usual key restriction — cast upstream).
    """
    if emit not in ("snapshot", "delta"):
        raise ValueError(
            f"streaming_kmv_sketch: emit must be 'snapshot' or 'delta', got {emit!r}"
        )
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    from genetics_spark_coloc_spark.operators.sketches import _md5_long

    hashed = docs.select(
        F.col(group_col).cast("string").alias("g"),
        F.explode(tokens).alias("_tok"),
    ).select("g", _md5_long(F.col("_tok")).alias("hashValue"))
    if emit == "snapshot":
        out_schema = "g string, version long, rank int, hashValue long"
    else:
        out_schema = "g string, version long, hashValue long"
    state_schema = "vals array<long>, version long"

    def update(key, pdfs, state: GroupState):
        import pandas as pd

        if state.hasTimedOut:
            state.remove()
            return
        vals, version = (
            (list(state.get[0]), int(state.get[1])) if state.exists else ([], 0)
        )
        seen = set(vals)
        for pdf in pdfs:
            seen.update(int(h) for h in pdf["hashValue"])
        new_vals = sorted(seen)[:k]
        if new_vals == vals:
            # every new hash was above the current k-th smallest — the
            # sketch is unchanged, emit nothing (KMV's k-th bound only
            # decreases, so truncated values can never re-enter)
            return
        entered = sorted(set(new_vals) - set(vals))
        vals = new_vals
        version += 1
        state.update((vals, version))
        if emit == "delta":
            yield pd.DataFrame(
                {"g": key[0], "version": version, "hashValue": entered}
            )
            return
        yield pd.DataFrame(
            {
                "g": key[0],
                "version": version,
                "rank": range(1, len(vals) + 1),
                "hashValue": vals,
            }
        )

    return hashed.groupBy("g").applyInPandasWithState(
        update,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def streaming_grid_sketch(
    docs: DataFrame,
    value,
    lo: float,
    hi: float,
    n_bins: int = 32,
) -> DataFrame:
    """Fixed-grid histogram sketch maintained over a STREAM: each
    micro-batch's values bin into the shared grid and the per-bin
    counts fold into streaming-aggregation state — like the CMS/HLL
    twins, the state store IS the sketch (≤ ``n_bins`` rows forever,
    counts only grow, no watermark). The binning expressions are the
    batch ``operators.sketches.grid_quantile_sketch``'s own, so
    replaying a corpus reproduces the batch sketch bit for bit
    (certified in tests). Emit with ``outputMode("complete")`` (the
    whole ≤ n_bins bin table per changed trigger) for the drift gate
    below, or ``"update"`` for changed bins only.
    """
    from genetics_spark_coloc_spark.operators.sketches import (
        grid_quantile_sketch,
    )

    return grid_quantile_sketch(docs.select(value.alias("_v")), F.col("_v"), [], lo, hi, n_bins)


def streaming_drift_gate(
    docs: DataFrame,
    value,
    reference_sketch_path: str,
    lo: float,
    hi: float,
    n_bins: int = 32,
    alert_threshold: float = 0.2,
    on_alert=None,
):
    """Continuous distribution-drift monitor: the streaming twin of
    the ``corpus_drift`` step, pairing :func:`streaming_grid_sketch`
    (state = the live corpus's bin counts) with a per-trigger
    ``foreachBatch`` gate that compares the CURRENT sketch snapshot
    against the PERSISTED reference sketch
    (``operators.sketches.psi_from_sketches`` — sketch vs sketch, raw
    data never re-read; the reference side is a ≤ n_bins-row parquet
    written once by ``grid_quantile_sketch``). Mirrors the
    stream-static incremental-dedup twin: per-trigger cost is one
    ≤ n_bins-row join, independent of stream volume.

    Returns a DataStreamWriter ready to ``.start()``; the caller owns
    trigger/checkpoint configuration. Each trigger appends one PSI
    row (trigger epoch id + the psi_from_sketches columns) via
    ``on_alert(batch_df, epoch_id, psi_row)`` — ``on_alert`` is
    called on EVERY trigger with the computed row (a Row with
    ``psi``/``driftAlert``); alerting policy (log, page, abort the
    query) stays with the caller. The grid parameters must match the
    reference sketch's build — persist them next to it (the
    ``corpus_drift`` step records lo/hi/n_bins in its output).
    """
    sketched = streaming_grid_sketch(docs, value, lo, hi, n_bins)

    def _gate(batch_df, epoch_id):
        from genetics_spark_coloc_spark.operators.sketches import (
            psi_from_sketches,
        )

        spark = batch_df.sparkSession
        ref = spark.read.parquet(reference_sketch_path)
        row = psi_from_sketches(
            ref.select("bin", "cnt"),
            batch_df.select("bin", "cnt"),
            alert_threshold=alert_threshold,
        ).collect()[0]
        if on_alert is not None:
            on_alert(batch_df, epoch_id, row)

    return sketched.writeStream.outputMode("complete").foreachBatch(_gate)


def streaming_line_dedup(
    docs: DataFrame,
    freq_table_path: str,
    on_batch,
    text_col: str = "text",
    id_col: str = "doc_id",
    sep: str = "\n",
    max_count: int = 1,
    min_segment_chars: int = 10,
):
    """Continuous C4-style boilerplate scrub: each arriving micro-batch
    of documents is line-deduplicated against the PERSISTED corpus
    segment-frequency table (``operators.text.line_frequency_table``)
    — the streaming twin of ``line_dedup(freq_table=...)``, completing
    the incremental-curation trio (band-index dedup, drift gate, line
    scrub) that all follow the same shape: heavy corpus evidence at
    rest, O(delta) per trigger.

    NO state store: boilerplate membership is a property of the
    REFERENCE corpus, not of the stream, so each trigger is one
    posexplode + one hash join of the batch's segments against the
    frequency table (re-read per trigger — appends from a nightly
    rebuild are picked up without restarting the query) + the
    windowless per-doc rebuild. Runs under ``foreachBatch`` because
    the rebuild regroups exploded segments, which a pure stream-static
    plan would refuse without watermark state the operator doesn't
    need.

    Returns a DataStreamWriter ready to ``.start()``; every trigger
    calls ``on_batch(cleaned_df, epoch_id)`` with the scrubbed batch
    (docId, nSegments, nDropped, cleanText) — sink policy (append to
    the curated table, route to a verifier) stays with the caller.
    Replaying a corpus through any trigger slicing reproduces the
    batch operator's output exactly: per-doc rebuilds never cross
    documents and frequencies come from the static table (tested).
    """

    def _scrub(batch_df, epoch_id):
        from genetics_spark_coloc_spark.operators.text import line_dedup

        spark = batch_df.sparkSession
        freq = spark.read.parquet(freq_table_path)
        cleaned = line_dedup(
            batch_df,
            text_col,
            id_col,
            sep=sep,
            max_count=max_count,
            min_segment_chars=min_segment_chars,
            freq_table=freq,
        )
        on_batch(cleaned, epoch_id)

    return docs.writeStream.outputMode("append").foreachBatch(_scrub)


def streaming_cc_maintenance(
    pairs: DataFrame,
    labels_path: str,
    on_batch=None,
    src_col: str = "leftId",
    dst_col: str = "rightId",
    num_rounds: int = 16,
    verify_converged: int = 64,
    alias_compact_rows: int = 1_000_000,
):
    """Continuous duplicate-cluster maintenance: each arriving
    micro-batch of candidate pairs folds into the PERSISTED cc_labels
    index via :func:`operators.graph.incremental_connected_components`
    — the streaming twin of ``cc_labels mode=append``, completing the
    incremental-curation family (band-index dedup, drift gate, line
    scrub, cluster resolution) that all share one shape: heavy corpus
    evidence at rest, O(delta) per trigger.

    NO state store: cluster membership lives in the at-rest index
    (label shards + one-hop ``_aliases`` sidecar), so each trigger is
    the O(batch) canonical contraction + reduced solve + the same two
    O(batch) index writes the batch step performs — new-vertex rows
    appended as a label shard, the changed-component remap COMPOSED
    into a new committed alias epoch. Runs under ``foreachBatch``
    because the fold is iterative (pointer doubling) and writes two
    sinks per trigger — under the shared kernel's crash contract
    (``fold_cc_labels``): a crash at any point leaves pre-fold,
    appended-rows-only (converged, clusters split but never torn),
    or complete post-fold state, and foreachBatch's replay of the
    interrupted epoch IS the documented repair (the shard append is
    idempotent, the remap re-derives). Replaying the same pairs
    through any trigger slicing converges to the same labeling as
    one batch fold (min-label merges are order-insensitive; tested).

    ``on_batch(resolved_reader, epoch_id)`` (optional) is called
    after each fold with a zero-arg callable returning the freshly
    RESOLVED labeling — readers pull it only if they need it, so the
    per-trigger cost stays at the two delta writes.

    ``verify_converged`` / ``alias_compact_rows`` forward to the
    kernel: the sampled converged-input guard (two small actions per
    trigger — set 0 for high-frequency triggers on a trusted index)
    and the sidecar self-compaction bound.

    Single-writer (r14): each trigger's fold acquires the index's
    exclusive writer lease (two FS calls) and releases it at trigger
    end — a cron fold or manual backfill racing the stream makes the
    LOSING trigger raise ``WriterLeaseHeld`` naming the holder (the
    stream fails loudly; restart replays the batch), never an
    interleaved corruption.
    """

    def _fold(batch_df, epoch_id):
        from genetics_spark_coloc_spark.operators.graph import (
            fold_cc_labels,
            load_cc_labels,
        )

        if not batch_df.take(1):
            return
        fold_cc_labels(
            batch_df,
            labels_path,
            src_col=src_col,
            dst_col=dst_col,
            num_rounds=num_rounds,
            verify_converged=verify_converged,
            alias_compact_rows=alias_compact_rows,
        )
        if on_batch is not None:
            spark = batch_df.sparkSession
            on_batch(lambda: load_cc_labels(spark, labels_path), epoch_id)

    return pairs.writeStream.outputMode("append").foreachBatch(_fold)


def streaming_lm_score(
    docs: DataFrame,
    model_path: str,
    on_batch,
    text_col: str = "text",
    id_col: str = "doc_id",
    order: int = 3,
    alpha: float = 0.4,
):
    """Continuous perplexity filtering: each arriving micro-batch of
    documents is scored against the PERSISTED Stupid-Backoff model
    (``operators.text.ngram_lm_table`` / the ``lm_table`` step) — the
    streaming twin of ``lm_stupid_backoff_score(lm=...)`` and the
    fourth member of the incremental-curation family (band-index
    dedup, drift gate, line scrub, LM score): heavy corpus evidence
    at rest, O(delta) per trigger.

    NO state store: the score is a property of the FROZEN model, not
    of the stream, so each trigger joins the batch's scoring keys
    against the model counts (re-read per trigger — a nightly
    ``lm_table`` append/compact is picked up without restarting the
    query; an interrupted compaction is finished before the read,
    same as the batch consumer). Runs under ``foreachBatch`` because
    the per-document aggregate regroups exploded keys.

    Returns a DataStreamWriter ready to ``.start()``; every trigger
    calls ``on_batch(scored_df, epoch_id)`` with (docId, nTokens,
    avgLogScore, pseudoPerplexity) for the batch. Replaying a corpus
    through any trigger slicing reproduces the batch operator's
    output exactly: documents never interact and every count comes
    from the static model (tested).
    """

    def _score(batch_df, epoch_id):
        from genetics_spark_coloc_spark.operators.text import (
            lm_stupid_backoff_score,
        )
        from genetics_spark_coloc_spark.session import (
            recover_interrupted_overwrite,
        )

        spark = batch_df.sparkSession
        recover_interrupted_overwrite(spark, model_path)
        lm = spark.read.parquet(model_path)
        scored = lm_stupid_backoff_score(
            batch_df, text_col, id_col, lm=lm, order=order, alpha=alpha
        )
        on_batch(scored, epoch_id)

    return docs.writeStream.outputMode("append").foreachBatch(_score)
