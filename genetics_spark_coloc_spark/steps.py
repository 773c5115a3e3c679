"""Step registry — the reference's production entry-point surface.

The reference runs every pipeline stage as ``gentropy step=<name>``
through a hydra ConfigStore of ~30 step configs (reference:
src/gentropy/cli.py:13-22, src/gentropy/config.py:708-787; each step
is a class reading inputs, applying one operator family, and writing
parquet — e.g. src/gentropy/window_based_clumping.py:10-60).

This module reproduces that surface without a hydra dependency: a
plain registry mapping step name -> :class:`StepSpec` (runner +
declared inputs + typed params), executed by
``python -m genetics_spark_coloc_spark run <step> --in key=path ...
--out path [--param k=v ...]`` (see ``__main__.py``).

Every runner is a thin shim over the library operators: it reads the
declared inputs (parquet unless the step ingests a raw source format,
in which case the step's own reader handles the file), applies the
operator, and returns a DataFrame the CLI writes to ``--out`` as
parquet. Sink steps (``variant_to_vcf``) write themselves and return
None. Runners never ``collect``; writing is a distributed
``df.write.parquet`` so the surface scales exactly like the
operators underneath.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Callable, Mapping

from pyspark.sql import DataFrame, SparkSession


@dataclass(frozen=True)
class Param:
    """One typed step parameter (CLI ``--param name=value``)."""

    type: type
    default: object
    help: str = ""


@dataclass(frozen=True)
class StepSpec:
    """One runnable pipeline step.

    ``runner(spark, inputs, output, params)`` gets the input PATHS
    (not DataFrames — raw-format ingest steps read non-parquet files),
    the output path (None when the CLI captures the frame), and the
    merged params dict. Returns the result DataFrame, or None for
    steps that sink their own output.
    """

    name: str
    description: str
    inputs: tuple[str, ...]
    runner: Callable[[SparkSession, Mapping[str, str], str | None, dict], DataFrame | None]
    params: Mapping[str, Param] = field(default_factory=dict)
    sink: bool = False
    # does this invocation need the PERSISTENT catalog (derby
    # metastore under cwd)? Called with user params merged OVER the
    # Param defaults (the CLI builds that dict itself) so steps
    # that only touch the catalog conditionally (lsh_pairs with
    # --param index) stay metastore-free otherwise — the CLI enables
    # the hive catalog only when this returns True (see __main__).
    needs_catalog: "Callable[[dict], bool] | None" = None


def _parquet(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.parquet(path)


# --------------------------------------------------------------- runners


def _run_window_based_clumping(spark, inputs, output, p):
    from genetics_spark_coloc_spark.operators.clumping import window_based_clumping

    return window_based_clumping(
        _parquet(spark, inputs["summary_statistics"]),
        distance=p["distance"],
        gwas_significance=p["gwas_significance"],
    )


def _run_locus_breaker_clumping(spark, inputs, output, p):
    from genetics_spark_coloc_spark.operators.clumping import locus_breaker

    return locus_breaker(
        _parquet(spark, inputs["summary_statistics"]),
        baseline_pvalue_cutoff=p["baseline_pvalue_cutoff"],
        distance_cutoff=p["distance_cutoff"],
        pvalue_cutoff=p["pvalue_cutoff"],
        flanking_distance=p["flanking_distance"],
    )


def _run_ld_based_clumping(spark, inputs, output, p):
    from genetics_spark_coloc_spark.operators.ld import ld_annotate, ld_clump

    annotated = ld_annotate(
        _parquet(spark, inputs["study_locus"]),
        _parquet(spark, inputs["study_index"]),
        _parquet(spark, inputs["ld_index"]),
        r2_threshold=p["r2_threshold"],
    )
    return ld_clump(annotated, drop_linked=p["drop_linked"])


def _run_colocalisation(spark, inputs, output, p):
    from genetics_spark_coloc_spark.operators.coloc import coloc, ecaviar
    from genetics_spark_coloc_spark.operators.overlaps import find_overlaps

    overlaps = find_overlaps(_parquet(spark, inputs["credible_set"]))
    if p["coloc_method"] == "ecaviar":
        return ecaviar(overlaps)
    return coloc(
        overlaps,
        priorc1=p["priorc1"],
        priorc2=p["priorc2"],
        priorc12=p["priorc12"],
    )


def _run_pics(spark, inputs, output, p):
    from genetics_spark_coloc_spark.operators.pics import pics_finemap

    return pics_finemap(_parquet(spark, inputs["study_locus"]), k=p["k"])


def _run_susie_finemapping(spark, inputs, output, p):
    from genetics_spark_coloc_spark.operators.finemapping import finemap_grouped

    return finemap_grouped(
        _parquet(spark, inputs["summary_statistics"]), locus_col=p["locus_col"]
    )


def _run_summary_statistics_qc(spark, inputs, output, p):
    from genetics_spark_coloc_spark.operators.qc import sumstat_qc_metrics

    return sumstat_qc_metrics(
        _parquet(spark, inputs["summary_statistics"]),
        pval_threshold=p["pval_threshold"],
    )


def _run_sumstat_imputation(spark, inputs, output, p):
    from genetics_spark_coloc_spark.operators.imputation import raiss_impute_grouped

    return raiss_impute_grouped(
        _parquet(spark, inputs["observed"]),
        _parquet(spark, inputs["pairwise_ld"]),
        ridge_lambda=p["ridge_lambda"],
        rtol=p["rtol"],
    )


def _run_credible_set_qc(spark, inputs, output, p):
    from genetics_spark_coloc_spark.operators.credible_sets import credible_set_qc

    return credible_set_qc(
        _parquet(spark, inputs["credible_set"]),
        p_value_threshold=p["p_value_threshold"],
        purity_min_r2=p["purity_min_r2"],
    )


def _run_credible_set_validation(spark, inputs, output, p):
    from genetics_spark_coloc_spark.operators.annotation import (
        flag_invalid_variants,
        validate_study_locus,
    )

    validated = validate_study_locus(
        _parquet(spark, inputs["study_locus"]),
        _parquet(spark, inputs["study_index"]),
    )
    return flag_invalid_variants(validated)


def _run_study_validation(spark, inputs, output, p):
    from genetics_spark_coloc_spark.operators.annotation import flag_trans_qtls

    return flag_trans_qtls(
        _parquet(spark, inputs["study_locus"]),
        _parquet(spark, inputs["study_index"]),
        _parquet(spark, inputs["target_index"]),
        trans_threshold=p["trans_threshold"],
    )


def _run_variant_to_vcf(spark, inputs, output, p):
    from genetics_spark_coloc_spark.operators.annotation import write_vcf

    write_vcf(_parquet(spark, inputs["variant_index"]), output)
    return None


def _run_gwas_catalog_sumstat_preprocess(spark, inputs, output, p):
    from genetics_spark_coloc_spark.sources.readers import read_gwas_catalog_sumstats

    return read_gwas_catalog_sumstats(spark, inputs["raw"], study_id=p["study_id"])


def _run_finngen_sumstat_preprocess(spark, inputs, output, p):
    from genetics_spark_coloc_spark.sources.readers import read_finngen_sumstats

    return read_finngen_sumstats(spark, inputs["raw"])


def _run_ukb_ppp_eur_sumstat_preprocess(spark, inputs, output, p):
    from genetics_spark_coloc_spark.sources.readers import read_ukb_ppp_sumstats

    return read_ukb_ppp_sumstats(
        _parquet(spark, inputs["raw"]), _parquet(spark, inputs["annotation"])
    )


def _run_finngen_ukb_meta_ingestion(spark, inputs, output, p):
    from genetics_spark_coloc_spark.sources.readers import read_finngen_ukb_meta_sumstats

    return read_finngen_ukb_meta_sumstats(
        _parquet(spark, inputs["raw"]), _parquet(spark, inputs["annotation"])
    )


def _run_eqtl_catalogue(spark, inputs, output, p):
    from genetics_spark_coloc_spark.sources.eqtl_finemapping import (
        eqtl_susie_to_study_locus,
        parse_eqtl_susie_results,
    )

    processed = parse_eqtl_susie_results(
        _parquet(spark, inputs["credible_sets"]),
        _parquet(spark, inputs["lbf"]),
        _parquet(spark, inputs["studies_metadata"]),
        n_effects=p["n_effects"],
    )
    return eqtl_susie_to_study_locus(processed)


def _run_variant_index(spark, inputs, output, p):
    from genetics_spark_coloc_spark.sources.vep import read_vep_jsonl

    return read_vep_jsonl(spark, inputs["vep_jsonl"])


def _run_interval_ingestion(spark, inputs, output, p):
    from genetics_spark_coloc_spark.operators.liftover import chain_to_df
    from genetics_spark_coloc_spark.sources import intervals as iv

    parsers = {
        "andersson": iv.parse_andersson,
        "javierre": iv.parse_javierre,
        "jung": iv.parse_jung,
        "thurman": iv.parse_thurman,
    }
    source = p["interval_source"]
    if source not in parsers:
        raise ValueError(f"unknown interval_source {source!r}; one of {sorted(parsers)}")
    chain = chain_to_df(spark, inputs["chain"]) if inputs.get("chain") else None
    return parsers[source](
        _parquet(spark, inputs["raw"]), _parquet(spark, inputs["genes"]), chain=chain
    )


def _run_liftover(spark, inputs, output, p):
    from genetics_spark_coloc_spark.operators.liftover import chain_to_df, liftover_intervals

    return liftover_intervals(
        _parquet(spark, inputs["intervals"]),
        chain_to_df(spark, inputs["chain"]),
        chrom_col=p["chrom_col"],
        start_col=p["start_col"],
        end_col=p["end_col"],
        max_difference=p["max_difference"],
    )


def _run_locus_to_gene_feature_matrix(spark, inputs, output, p):
    from genetics_spark_coloc_spark.operators.l2g import build_registry_feature_matrix

    return build_registry_feature_matrix(
        _parquet(spark, inputs["study_locus"]),
        _parquet(spark, inputs["variant_index"]),
        _parquet(spark, inputs["colocalisation"]),
        _parquet(spark, inputs["study_index"]),
        _parquet(spark, inputs["target_index"]),
        genomic_window=p["genomic_window"],
    )


def _run_locus_to_gene(spark, inputs, output, p):
    from genetics_spark_coloc_spark.operators.l2g import predict_l2g, train_l2g_model

    fm = _parquet(spark, inputs["feature_matrix"])
    model = train_l2g_model(
        fm, label_col=p["label_col"], max_iter=p["max_iter"]
    )
    return predict_l2g(model, fm)


def _run_locus_to_gene_predict(spark, inputs, output, p):
    from genetics_spark_coloc_spark.operators.l2g import train_l2g_model
    from genetics_spark_coloc_spark.operators.treeshap import (
        l2g_predictions_with_shap,
    )

    fm = _parquet(spark, inputs["feature_matrix"])
    feature_names = [
        c
        for c in fm.columns
        if c not in ("studyLocusId", "geneId", p["label_col"])
    ]
    model = train_l2g_model(
        fm, label_col=p["label_col"], max_iter=p["max_iter"]
    )
    return l2g_predictions_with_shap(model, fm, feature_names)


def _run_overlaps(spark, inputs, output, p):
    from genetics_spark_coloc_spark.operators.overlaps import find_overlaps

    return find_overlaps(
        _parquet(spark, inputs["credible_set"]),
        intra_study_overlap=p["intra_study_overlap"],
    )


def _run_corpus_curation(spark, inputs, output, p):
    from pyspark.sql import functions as F

    from genetics_spark_coloc_spark.operators import text as t
    from genetics_spark_coloc_spark.operators.dedup import exact_dedup

    docs = _parquet(spark, inputs["documents"]).select(
        F.col("doc_id").alias("docId"), "text"
    )
    quality = t.gopher_quality(docs, "text", "docId", min_words=p["min_words"])
    keepers = exact_dedup(docs, "text", "docId").select(
        F.col("keeperId").alias("docId"), "nCopies"
    )
    curated = (
        docs.join(quality.select("docId", "keep"), on="docId")
        .join(keepers, on="docId")  # inner: non-keeper copies drop
        .filter(F.col("keep"))
    )
    if p["strip_dup_spans"]:
        # Lee et al. 2022 substring dedup over the SURVIVING corpus
        # (post quality + exact dedup, so boilerplate families already
        # collapsed don't re-trigger span marking)
        cleaned = t.remove_duplicate_spans(
            curated.select("docId", "text"),
            "text",
            "docId",
            min_tokens=p["span_min_tokens"],
        )
        curated = curated.drop("text").join(
            cleaned.select("docId", F.col("cleanedText").alias("text")),
            on="docId",
        )
    body = t.pii_redact(F.col("text")) if p["redact_pii"] else F.col("text")
    # metadata is computed over the EMITTED body (post-redaction), so
    # token accounting and language id describe the text the step
    # actually writes
    redacted = curated.withColumn("text", body)
    return redacted.select(
        "docId",
        "text",
        "nCopies",
        t.token_count(F.col("text")).alias("nTokens"),
        t.language_id(F.col("text")).alias("lang"),
        t.hash_split(F.col("docId")).alias("split"),
    )


def _run_nb_classifier_train(spark, inputs, output, p):
    from genetics_spark_coloc_spark.operators.nb import nb_train

    docs = _parquet(spark, inputs["documents"])
    return nb_train(
        docs, label_col=p["label_col"], text_col=p["text_col"], alpha=p["alpha"]
    )


def _run_nb_classifier_predict(spark, inputs, output, p):
    from genetics_spark_coloc_spark.operators.nb import nb_priors, nb_score

    docs = _parquet(spark, inputs["documents"])
    model = _parquet(spark, inputs["model"])
    labeled = _parquet(spark, inputs["labeled"])
    priors = nb_priors(labeled, label_col=p["label_col"], alpha=p["alpha"])
    return nb_score(
        docs,
        model,
        priors,
        id_col=p["id_col"],
        text_col=p["text_col"],
        alpha=p["alpha"],
    )


def _run_foldx_ingestion(spark, inputs, output, p):
    from genetics_spark_coloc_spark.sources.open_targets import (
        foldx_to_amino_acid_variants,
    )

    return foldx_to_amino_acid_variants(
        _parquet(spark, inputs["foldx_dataset"]), p["plddt_threshold"]
    )


def _run_finngen_finemapping_ingestion(spark, inputs, output, p):
    from genetics_spark_coloc_spark.sources.finngen_finemapping import (
        finngen_finemapping_to_study_locus,
    )

    snps = spark.read.csv(inputs["susie_snps"], sep="\t", header=True)
    summaries = spark.read.csv(
        inputs["credset_summaries"], sep="\t", header=True
    )
    return finngen_finemapping_to_study_locus(
        snps,
        summaries,
        release_prefix=p["release_prefix"],
        lbf_threshold=p["lbf_threshold"],
        n_effects=p["n_effects"],
    )


def _run_finngen_studies(spark, inputs, output, p):
    from genetics_spark_coloc_spark.sources.study_indexes import (
        finngen_study_index,
    )

    pheno = spark.read.option("multiLine", "true").json(
        inputs["phenotype_manifest"]
    )
    return finngen_study_index(
        pheno,
        release_prefix=p["release_prefix"],
        sample_size=p["sample_size"],
        sumstats_url_prefix=p["url_prefix"],
        sumstats_url_suffix=p["url_suffix"],
    )


def _run_gwas_catalog_study_index(spark, inputs, output, p):
    from pyspark.sql import functions as F

    from genetics_spark_coloc_spark.sources.gwas_catalog_study_index import (
        annotate_ancestries,
        annotate_discovery_sample_sizes,
        parse_cohorts,
        parse_efos,
    )

    raw = spark.read.csv(inputs["catalog_studies"], sep="\t", header=True)
    studies = raw.select(
        F.col("STUDY ACCESSION").alias("studyId"),
        F.col("PUBMED ID").alias("pubmedId"),
        F.col("DISEASE/TRAIT").alias("traitFromSource"),
        F.col("INITIAL SAMPLE SIZE").alias("initialSampleSize"),
        parse_efos(F.col("MAPPED_TRAIT_URI")).alias("traitFromSourceMappedIds"),
        *(
            [parse_cohorts(F.col("COHORT")).alias("cohorts")]
            if "COHORT" in raw.columns
            else []
        ),
    )
    anc_raw = spark.read.csv(inputs["catalog_ancestry"], sep="\t", header=True)
    lut = anc_raw.select(
        F.col("STUDY ACCESSION").alias("studyId"),
        F.lower(F.col("STAGE")).alias("stage"),
        F.col("BROAD ANCESTRAL CATEGORY").alias("broadAncestralCategory"),
        F.col("NUMBER OF INDIVIDUALS").alias("numberOfIndividuals"),
    )
    return annotate_ancestries(annotate_discovery_sample_sizes(studies), lut)


def _run_gwas_catalog_study_curation(spark, inputs, output, p):
    from genetics_spark_coloc_spark.sources.gwas_catalog_study_index import (
        annotate_from_study_curation,
        parse_ot_curation_table,
    )

    studies = _parquet(spark, inputs["study_index"])
    curation = parse_ot_curation_table(
        spark.read.csv(inputs["curation_table"], sep="\t", header=True)
    )
    return annotate_from_study_curation(studies, curation)


def _run_lof_curation_ingestion(spark, inputs, output, p):
    from pyspark.sql import functions as F

    from genetics_spark_coloc_spark.sources.open_targets import (
        lof_curation_to_variant_index,
    )

    # the raw OTAR2075 export is comma-separated with multi-line
    # quoted fields (reference lof_curation_ingestion.py:24-29)
    raw = spark.read.csv(
        inputs["lof_curation"], sep=",", header=True, multiLine=True
    )
    return lof_curation_to_variant_index(
        raw.select(
            F.col("Variant ID GRCh37").alias("variantIdGrch37"),
            F.col("Variant ID GRCh38").alias("variantIdGrch38"),
            F.col("Verdict").alias("verdict"),
        )
    )


def _run_gwas_catalog_top_hits(spark, inputs, output, p):
    from genetics_spark_coloc_spark.pipelines import gwas_catalog_top_hits

    study_index, clumped = gwas_catalog_top_hits(
        _parquet(spark, inputs["catalog_studies"]),
        _parquet(spark, inputs["catalog_associations"]),
        distance=p["distance"],
    )
    if p["studies_out"]:
        study_index.write.mode("overwrite").parquet(p["studies_out"])
    return clumped


def _run_biosample_index(spark, inputs, output, p):
    from genetics_spark_coloc_spark.operators.ontology import (
        assemble_biosample_index,
    )
    from genetics_spark_coloc_spark.sources.obographs import read_obographs

    return assemble_biosample_index(
        read_obographs(spark, inputs["cell_ontology"]),
        read_obographs(spark, inputs["uberon"]),
        read_obographs(spark, inputs["efo"]),
        cell_root=p["cell_root"],
    )


def _run_zorder_layout(spark, inputs, output, p):
    from pyspark.sql import functions as F

    from genetics_spark_coloc_spark.functions.zorder import zorder_layout

    df = _parquet(spark, inputs["table"])
    cols = [F.col(c.strip()) for c in p["columns"].split(",") if c.strip()]
    return zorder_layout(df, cols, p["num_partitions"], bits=p["bits"])


def _run_bloom_prune(spark, inputs, output, p):
    from pyspark.sql import functions as F

    from genetics_spark_coloc_spark.operators.sketches import (
        bloom_build,
        bloom_prune,
    )

    fact = _parquet(spark, inputs["fact"])
    dim = _parquet(spark, inputs["dimension"])
    if p["dim_filter"]:
        dim = dim.filter(p["dim_filter"])
    bloom = bloom_build(
        dim, F.col(p["dim_key"]), m_bits=p["m_bits"], k=p["k"]
    )
    return bloom_prune(
        bloom, fact, F.col(p["fact_key"]), m_bits=p["m_bits"], k=p["k"]
    )


def _catalog_table_lease_root(spark, table_name: str) -> str:
    """Filesystem anchor for the writer lease of a CATALOG-table
    index (the LSH band index): the table's managed warehouse
    location — same resolution as ``write_bucketed``'s orphan
    reclaim, so the lease survives the drop+rewrite a bucketed
    overwrite performs. Unqualified names only (the band-index step
    takes the table name from --out verbatim)."""
    import os as _os

    wh = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    db = spark.catalog.currentDatabase()
    return _os.path.join(
        wh,
        *([] if db == "default" else [f"{db.lower()}.db"]),
        table_name.lower(),
    )


def _run_lsh_band_index(spark, inputs, output, p):
    """Writer-lease wrapper (r14): every mode writes the band table
    and/or its occupancy ledger — two concurrent appends would
    double-insert delta bands and corrupt the certified max-bucket
    count, and an append racing a rebuild can insert into a table
    being dropped. One lease covers the table AND its
    ``{table}_bucket_counts`` ledger (they commit together)."""
    from genetics_spark_coloc_spark.session import writer_lease

    with writer_lease(
        spark,
        _catalog_table_lease_root(spark, output),
        f"lsh_band_index:{p['mode']}",
    ):
        return _run_lsh_band_index_unlocked(spark, inputs, output, p)


def _run_lsh_band_index_unlocked(spark, inputs, output, p):
    from pyspark.sql import functions as F

    from genetics_spark_coloc_spark.operators.dedup import (
        load_lsh_band_index,
        lsh_band_index,
    )
    from genetics_spark_coloc_spark.session import write_bucketed

    bands = lsh_band_index(
        _parquet(spark, inputs["corpus"]),
        text_col=p["text_col"],
        id_col=p["id_col"],
        num_perm=p["num_perm"],
        band_size=p["band_size"],
    )
    # Per-bucket occupancy ledger (the counts SIDECAR table): one
    # (bandIdx, bandHash, c) row per build/append per touched bucket;
    # a bucket's true occupancy is SUM(c) over its ledger rows. It
    # exists so the hot-bucket ceiling can be re-certified per append
    # in O(delta buckets) instead of a full band-table scan — the one
    # O(corpus) term the r10 audit found left in the incremental path.
    counts_table = f"{output}_bucket_counts"
    # output is a CATALOG TABLE name, not a path: bucketing lives in
    # the table catalog (session.write_bucketed), and the bucketed
    # layout is the entire point of this step
    if p["mode"] == "append":
        # the daily-crawl loop: band ONLY the new corpus and insert
        # into the existing bucketed table (Spark appends new files
        # per bucket — history is never re-banded or rewritten).
        # load_lsh_band_index validates the band parameters first: an
        # append banded differently would silently poison the index.
        load_lsh_band_index(
            spark, output, num_perm=p["num_perm"], band_size=p["band_size"]
        )
        # banding is paid ONCE: the checkpointed delta bands feed both
        # the index insert and the O(delta) per-bucket count
        bands = bands.localCheckpoint(eager=True)
        bands.write.mode("append").insertInto(output)
        delta_counts = bands.groupBy("bandIdx", "bandHash").agg(
            F.count(F.lit(1)).alias("c")
        )
        old_props = {
            r["key"]: r["value"]
            for r in spark.sql(f"SHOW TBLPROPERTIES {output}").collect()
        }
        old_max = int(old_props.get("genetics_spark_coloc.max_bucket_count", 0))
        # the ledger is certification EVIDENCE: a crashed compaction
        # (saveAsTable overwrite = drop + rewrite) can leave it
        # registered but EMPTY, and totalling touched buckets against
        # an empty history would silently under-certify — a hot
        # bucket forming across appends would slip past the ceiling.
        # An empty-but-existing ledger therefore reseeds through the
        # same full-recompute branch as a pre-sidecar index (the band
        # table itself is never lost, so the reseed is always exact;
        # a PARTIAL ledger — driver crash inside the commit window —
        # is narrower and also heals at the next compaction reseed).
        ledger_live = spark.catalog.tableExists(counts_table) and bool(
            spark.table(counts_table).take(1)
        )
        if ledger_live:
            # O(delta) re-certification. A delta-only max is NOT
            # sufficient — a hot bucket can form ACROSS appends with
            # neither append alone over the ceiling — so total the
            # TOUCHED buckets against history via the ledger:
            # new_max = max(old_max, max over touched buckets of
            # their summed ledger rows). Untouched buckets are
            # unchanged and already <= old_max, so this equals the
            # true full-table max without scanning the band table.
            delta_counts.write.mode("append").insertInto(counts_table)
            touched = delta_counts.select("bandIdx", "bandHash").distinct()
            touched_max = (
                spark.table(counts_table)
                .join(F.broadcast(touched), ["bandIdx", "bandHash"])
                .groupBy("bandIdx", "bandHash")
                .agg(F.sum("c").alias("total"))
                .agg(F.max("total"))
                .collect()[0][0]
            )
            max_bucket = max(old_max, int(touched_max or 0))
            # self-compaction: the ledger gains one row per (append ×
            # touched bucket), so a long daily-append history bloats
            # it well past |distinct buckets|. When rows exceed 4× the
            # distinct buckets, re-aggregate to one row per bucket —
            # O(ledger) ≪ O(band table), keeps every later append's
            # read O(buckets) instead of O(appends × buckets)
            stats = (
                spark.table(counts_table)
                .groupBy()
                .agg(
                    F.count(F.lit(1)).alias("rows"),
                    F.count_distinct("bandIdx", "bandHash").alias("buckets"),
                )
                .collect()[0]
            )
            if stats["rows"] > 4 * stats["buckets"]:
                compacted = (
                    spark.table(counts_table)
                    .groupBy("bandIdx", "bandHash")
                    .agg(F.sum("c").alias("c"))
                    .localCheckpoint(eager=True)  # sever the self-read
                )
                write_bucketed(
                    compacted, counts_table, ["bandIdx", "bandHash"],
                    num_buckets=16,
                )
        else:
            # pre-sidecar index (built before the ledger existed):
            # one full recompute — which also SEEDS the ledger, so
            # every later append is O(delta)
            full_counts = (
                spark.table(output)
                .groupBy("bandIdx", "bandHash")
                .agg(F.count(F.lit(1)).alias("c"))
            )
            write_bucketed(
                full_counts, counts_table, ["bandIdx", "bandHash"],
                num_buckets=16,
            )
            max_bucket = int(
                spark.table(counts_table).agg(F.max("c")).collect()[0][0] or 0
            )
    else:
        write_bucketed(
            bands,
            output,
            ["bandIdx", "bandHash"],
            num_buckets=p["num_buckets"],
            sort_cols=["bandIdx", "bandHash"],
        )
        # build-time certification: ONE aggregation over the freshly
        # written table (counting what is actually in the index),
        # persisted as the ledger's seed row-set
        full_counts = (
            spark.table(output)
            .groupBy("bandIdx", "bandHash")
            .agg(F.count(F.lit(1)).alias("c"))
        )
        # the ledger goes through write_bucketed too: same orphaned-
        # location reclaim as the index itself, plus a (bandIdx,
        # bandHash)-bucketed at-rest layout
        write_bucketed(
            full_counts, counts_table, ["bandIdx", "bandHash"], num_buckets=16
        )
        max_bucket = int(
            spark.table(counts_table).agg(F.max("c")).collect()[0][0] or 0
        )
    # band parameters are part of the index identity — a delta banded
    # differently never matches — so pin them to the table; the max
    # per-bucket occupancy is CERTIFIED here (build: one scan of the
    # fresh index; append: O(delta) against the ledger) so
    # incremental_lsh_candidates(index_guard=False) can skip its
    # per-batch index-side guard scan
    spark.sql(
        f"ALTER TABLE {output} SET TBLPROPERTIES ("
        f"'genetics_spark_coloc.num_perm' = '{int(p['num_perm'])}', "
        f"'genetics_spark_coloc.band_size' = '{int(p['band_size'])}', "
        f"'genetics_spark_coloc.max_bucket_count' = '{int(max_bucket)}')"
    )
    return None


def _run_bucket_layout(spark, inputs, output, p):
    from genetics_spark_coloc_spark.session import write_bucketed

    df = _parquet(spark, inputs["table"])
    cols = [c.strip() for c in p["bucket_columns"].split(",") if c.strip()]
    if not cols:
        raise ValueError("bucket_layout: bucket_columns must name >=1 column")
    sort_cols = [
        c.strip() for c in p["sort_columns"].split(",") if c.strip()
    ] or None
    write_bucketed(
        df, output, cols, num_buckets=p["num_buckets"], sort_cols=sort_cols
    )
    return None


def _sample_queries(corpus, id_col, n):
    """Deterministic certification-query sample: the first ``n`` rows
    by md5(id) — stable across runs and engines, and spread across
    the corpus (including appended deltas, which is the point: recall
    is certified against the distribution the index NOW holds, not
    the one it was trained on)."""
    from pyspark.sql import functions as F

    return (
        corpus.orderBy(F.md5(F.col(id_col).cast("string")))
        .limit(int(n))
        .localCheckpoint(eager=True)
    )


def _certify_ann_recall(spark, output, meta_name, approx, exact, p, tune=None):
    """Shared recall-certification recorder for the ANN index steps:
    score recall@k of the index search against the exact ground
    truth, APPEND the result to the ``_recall_cert.json`` ledger
    shipped inside the index (the per-append staleness history the
    r12 verdict asked for — frozen build-time artifacts decay
    silently as the appended distribution drifts; this makes the
    decay a recorded, gateable number), and fail loudly when recall
    falls below ``recall_floor`` (0 = record-only). ``tune`` (optional
    zero-arg callable → str) runs only on FAILURE and appends an
    operator-specific remediation line (e.g. the smallest nprobe that
    restores the floor) to the error."""
    import json as _json

    from genetics_spark_coloc_spark.operators.similarity import topk_recall
    from genetics_spark_coloc_spark.session import (
        crash_safe_overwrite_text,
        hadoop_read_text,
        recover_interrupted_text_overwrite,
    )

    row = topk_recall(approx, exact).collect()[0]
    if not row["nQueries"]:
        raise ValueError(
            f"ANN recall certification for {output}: the deterministic "
            "query sample produced no ground-truth rows (empty or "
            "single-vector corpus?) — a certification that measured "
            "nothing must not be recorded as evidence."
        )
    entry = {
        "recall_at_k": row["avgRecall"],
        "min_query_recall": row["minRecall"],
        "n_queries": row["nQueries"],
        "k": p["certify_k"],
        "nprobe": p["certify_nprobe"],
        "recall_floor": p["recall_floor"],
        "passed": not (
            p["recall_floor"] > 0 and row["avgRecall"] < p["recall_floor"]
        ),
    }
    cert_path = f"{output.rstrip('/')}/{meta_name}"
    # an interrupted crash-safe overwrite (complete new ledger at the
    # sibling tmp, target deleted) is finished before reading
    recover_interrupted_text_overwrite(spark, cert_path)
    try:
        history = _json.loads(hadoop_read_text(spark, cert_path))
    except FileNotFoundError:
        history = []
    except ValueError as exc:  # corrupt ledger (e.g. crashed write)
        raise ValueError(
            f"ANN recall certification ledger at {cert_path} is not "
            "valid JSON — refusing to silently discard the history; "
            "inspect/delete the file to start a fresh ledger."
        ) from exc
    history.append(entry)
    # the ledger is append-only EVIDENCE: a torn in-place write would
    # force discarding the whole history, so commit via tmp + rename
    crash_safe_overwrite_text(spark, cert_path, _json.dumps(history))
    if not entry["passed"]:
        hint = ""
        if tune is not None:
            try:
                hint = " " + tune()
            except Exception as exc:  # noqa: BLE001 — the hint is
                # best-effort diagnostics; the certification failure
                # below is the real signal and must not be masked
                hint = f" (remediation probe itself failed: {exc})"
        raise ValueError(
            f"ANN recall certification FAILED for {output}: "
            f"recall@{p['certify_k']} = {row['avgRecall']} < floor "
            f"{p['recall_floor']} over {row['nQueries']} sampled queries "
            f"(nprobe={p['certify_nprobe']}). The appended corpus has "
            "drifted from the frozen build-time artifacts (centroids"
            "/codebooks) — rebuild the index with mode=overwrite (and "
            "retrain the artifacts on a current sample), or raise nprobe. "
            f"The full certification history is in {cert_path}.{hint}"
        )


def _run_ivf_index(spark, inputs, output, p):
    """Writer-lease wrapper (r14): build/overwrite rewrites the index
    root, append adds member shards + rewrites `_ivf_meta.json`, and
    certify appends to the `_recall_cert.json` evidence ledger — all
    mutually exclusive per index root."""
    from genetics_spark_coloc_spark.session import writer_lease

    with writer_lease(spark, output, f"ivf_index:{p['mode']}"):
        return _run_ivf_index_unlocked(spark, inputs, output, p)


def _run_ivf_index_unlocked(spark, inputs, output, p):
    import json as _json
    import os as _os

    from pyspark.sql import functions as F

    from genetics_spark_coloc_spark.operators.similarity import (
        cosine_topk,
        ivf_members,
        ivf_topk,
        load_ivf_index,
    )
    from genetics_spark_coloc_spark.session import hadoop_write_text

    centroids = _parquet(spark, inputs["centroids"])
    if p["mode"] == "certify":
        # recall staleness gate: the index answers a deterministic
        # query sample with its own frozen centroids; exact cosine
        # brute force over the CURRENT corpus is the ground truth
        members, shipped, meta = load_ivf_index(spark, output)
        corpus = _parquet(spark, inputs["corpus"])
        queries = _sample_queries(corpus, p["id_col"], p["certify_queries"])
        approx = ivf_topk(
            None,
            queries,
            shipped,
            k=p["certify_k"],
            nprobe=p["certify_nprobe"],
            id_col=p["id_col"],
            vec_col=p["vec_col"],
            members=members,
        )
        # BLAS exact ground truth: one corpus scan, per-batch matmul
        # against the (tiny) query matrix — the certify wall is one
        # extra corpus scan, not a corpus×sample pair join
        exact = cosine_topk(
            corpus,
            queries,
            k=p["certify_k"],
            id_col=p["id_col"],
            vec_col=p["vec_col"],
        )

        def _nprobe_hint():
            # remediation probe, run only on failure: the smallest
            # nprobe whose recall meets the floor (doubling curve,
            # reuses the already-loaded inverted lists — each step is
            # one sampled search, never a corpus re-assignment)
            from genetics_spark_coloc_spark.operators.similarity import (
                choose_nprobe,
            )

            best, curve = choose_nprobe(
                corpus,
                shipped,
                target_recall=p["recall_floor"],
                k=p["certify_k"],
                n_queries=p["certify_queries"],
                id_col=p["id_col"],
                vec_col=p["vec_col"],
                members=members,
            )
            last = curve[-1]["recall_at_k"]
            if last >= p["recall_floor"]:
                return (
                    f"Remediation: nprobe={best} restores recall to "
                    f"{last} on the same sample (measured curve: {curve})."
                )
            return (
                f"Remediation: NO nprobe up to {best} reaches the floor "
                f"(best {last}; curve {curve}) — the coarse quantizer "
                "itself is stale; rebuild with retrained centroids."
            )

        _certify_ann_recall(
            spark, output, "_recall_cert.json", approx, exact, p,
            tune=_nprobe_hint,
        )
        return None
    if p["mode"] == "append":
        # the daily-crawl loop, ANN edition: assign ONLY the new
        # vectors and append their list files (history never
        # re-assigned or rewritten). The centroids are the index's
        # identity — a delta assigned with foreign centroids lands in
        # lists that do not correspond — so the supplied centroids
        # must BE the shipped build-time ones, verified exactly (they
        # round-trip bit-identical through parquet).
        _members_old, shipped, meta = load_ivf_index(spark, output)
        if meta["id_col"] != p["id_col"] or meta["vec_col"] != p["vec_col"]:
            raise ValueError(
                f"ivf_index append: {output} was built with columns "
                f"({meta['id_col']}, {meta['vec_col']}) but the caller "
                f"passed ({p['id_col']}, {p['vec_col']})"
            )

        def _norm(df):
            return df.select(
                F.col(p["id_col"]).cast("string").alias("i"),
                F.col(p["vec_col"]).cast("array<double>").alias("v"),
            )

        a, b = _norm(centroids), _norm(shipped)
        if a.exceptAll(b).count() or b.exceptAll(a).count():
            raise ValueError(
                f"ivf_index append: supplied centroids differ from "
                f"{output}'s build-time centroids; appending would file "
                "the delta into non-corresponding lists and silently "
                "return wrong neighbours. Pass the index's own centroids "
                "(load_ivf_index) or rebuild with mode=overwrite."
            )
        delta_members = ivf_members(
            _parquet(spark, inputs["corpus"]),
            shipped,
            id_col=p["id_col"],
            vec_col=p["vec_col"],
        )
        delta_members.write.mode("append").partitionBy("centroidId").parquet(
            output
        )
        return None
    members = ivf_members(
        _parquet(spark, inputs["corpus"]),
        centroids,
        id_col=p["id_col"],
        vec_col=p["vec_col"],
    )
    # at-rest layout IS the point: one directory per inverted list, so
    # an ivf_topk search over the read-back table dynamic-partition-
    # prunes to exactly its nprobe probed lists (plan-pinned in
    # tests/test_plan_quality.py) — each query batch reads nprobe
    # lists, never the corpus
    members.write.mode("overwrite").partitionBy("centroidId").parquet(output)
    # the centroids ARE part of the index identity: searching these
    # lists with different centroids probes lists that do not
    # correspond and silently returns wrong neighbours — so the step
    # ships the build-time centroids (and the column contract) INSIDE
    # the index; underscore-prefixed paths are invisible to parquet
    # readers of the root. load_ivf_index returns both together.
    centroids.write.mode("overwrite").parquet(
        _os.path.join(output, "_centroids")
    )
    # meta goes through the Hadoop FileSystem API, not driver-local
    # open(): the index must round-trip on whatever filesystem the
    # output path names (local, hdfs://, s3a://), not just local disk
    hadoop_write_text(
        spark,
        _os.path.join(output, "_ivf_meta.json"),
        _json.dumps(
            {
                "id_col": p["id_col"],
                "vec_col": p["vec_col"],
                "n_centroids": centroids.count(),
            }
        ),
    )
    return None


def _run_ivfpq_index(spark, inputs, output, p):
    """Writer-lease wrapper (r14) — same exclusivity contract as
    ``_run_ivf_index``: one writer per index root across
    build/append/certify."""
    from genetics_spark_coloc_spark.session import writer_lease

    with writer_lease(spark, output, f"ivfpq_index:{p['mode']}"):
        return _run_ivfpq_index_unlocked(spark, inputs, output, p)


def _run_ivfpq_index_unlocked(spark, inputs, output, p):
    import json as _json
    import os as _os

    from pyspark.sql import functions as F

    from genetics_spark_coloc_spark.operators.pq import (
        _collect_pq_codebooks,
        exact_l2_topk,
        ivfpq_index,
        ivfpq_topk,
        load_ivfpq_index,
    )
    from genetics_spark_coloc_spark.session import hadoop_write_text

    centroids = _parquet(spark, inputs["centroids"])
    codebooks = _parquet(spark, inputs["codebooks"])
    if p["mode"] == "certify":
        # recall staleness gate, IVF-PQ edition: the compressed index
        # answers with its frozen centroids AND codebooks; exact L2
        # over the CURRENT raw corpus is the ground truth (ADC's
        # metric is squared-L2, so the exact counterpart is L2 —
        # certification measures coarse-quantizer AND codebook decay
        # together, which is what a drifted append actually degrades)
        index, shipped_cents, shipped_cbs, meta = load_ivfpq_index(
            spark, output
        )
        corpus = _parquet(spark, inputs["corpus"])
        queries = _sample_queries(corpus, p["id_col"], p["certify_queries"])
        approx = ivfpq_topk(
            index,
            shipped_cents,
            shipped_cbs,
            queries,
            k=p["certify_k"],
            nprobe=p["certify_nprobe"],
            id_col=p["id_col"],
            vec_col=p["vec_col"],
        )
        exact = exact_l2_topk(
            corpus,
            queries,
            k=p["certify_k"],
            id_col=p["id_col"],
            vec_col=p["vec_col"],
        )
        _certify_ann_recall(
            spark, output, "_recall_cert.json", approx, exact, p
        )
        return None

    def _norm_vecs(df, idc, vecc):
        return df.select(
            F.col(idc).cast("string").alias("i"),
            F.col(vecc).cast("array<double>").alias("v"),
        )

    def _norm_cbs(df):
        return df.select(
            F.col("subspace").cast("int").alias("s"),
            F.col("code").cast("int").alias("c"),
            F.col("centroid").cast("array<double>").alias("v"),
        )

    if p["mode"] == "append":
        # the daily-crawl loop, IVF-PQ edition: encode ONLY the new
        # vectors against the FROZEN build-time centroids AND
        # codebooks and append their list files — history is never
        # re-encoded. Both artifacts are the index's identity: codes
        # are residuals against these centroids quantized by these
        # codebooks, so a delta encoded with foreign ones produces
        # codes the search decodes against the wrong tables and
        # silently returns wrong neighbours. Supplied artifacts are
        # verified exactly (doubles round-trip parquet bit-identical).
        _idx, shipped_cents, shipped_cbs, meta = load_ivfpq_index(
            spark, output
        )
        if meta["id_col"] != p["id_col"] or meta["vec_col"] != p["vec_col"]:
            raise ValueError(
                f"ivfpq_index append: {output} was built with columns "
                f"({meta['id_col']}, {meta['vec_col']}) but the caller "
                f"passed ({p['id_col']}, {p['vec_col']})"
            )
        a = _norm_vecs(centroids, p["id_col"], p["vec_col"])
        b = _norm_vecs(shipped_cents, p["id_col"], p["vec_col"])
        if a.exceptAll(b).count() or b.exceptAll(a).count():
            raise ValueError(
                f"ivfpq_index append: supplied centroids differ from "
                f"{output}'s build-time centroids; appending would file "
                "residual codes into non-corresponding lists. Pass the "
                "index's own artifacts (load_ivfpq_index) or rebuild "
                "with mode=overwrite."
            )
        ca, cb_ = _norm_cbs(codebooks), _norm_cbs(shipped_cbs)
        if ca.exceptAll(cb_).count() or cb_.exceptAll(ca).count():
            raise ValueError(
                f"ivfpq_index append: supplied codebooks differ from "
                f"{output}'s build-time codebooks; the stored codes were "
                "quantized in the shipped tables and a delta encoded in "
                "different ones is unsearchable alongside them. Pass the "
                "index's own artifacts (load_ivfpq_index) or rebuild "
                "with mode=overwrite."
            )
        delta = ivfpq_index(
            _parquet(spark, inputs["corpus"]),
            shipped_cents,
            shipped_cbs,
            id_col=p["id_col"],
            vec_col=p["vec_col"],
        )
        delta.write.mode("append").partitionBy("centroidId").parquet(output)
        return None
    # validate the codebooks up front (contiguous subspaces, one
    # sub_dim) and derive the meta geometry from them
    codes_by_s, mats = _collect_pq_codebooks(codebooks)
    index = ivfpq_index(
        _parquet(spark, inputs["corpus"]),
        centroids,
        codebooks,
        id_col=p["id_col"],
        vec_col=p["vec_col"],
    )
    # one directory per inverted list: ivfpq_topk's static probed-
    # list filter becomes partition pruning at the parquet source —
    # each search reads nprobe list directories, never the corpus
    index.write.mode("overwrite").partitionBy("centroidId").parquet(output)
    # both build-time artifacts ship INSIDE the index (underscore
    # paths are invisible to parquet readers of the root); meta goes
    # through the Hadoop FS API so the index round-trips on hdfs://
    # and s3a://, not just local disk
    centroids.write.mode("overwrite").parquet(
        _os.path.join(output, "_centroids")
    )
    codebooks.write.mode("overwrite").parquet(
        _os.path.join(output, "_codebooks")
    )
    hadoop_write_text(
        spark,
        _os.path.join(output, "_ivfpq_meta.json"),
        _json.dumps(
            {
                "id_col": p["id_col"],
                "vec_col": p["vec_col"],
                "n_centroids": centroids.count(),
                "m": len(mats),
                "sub_dim": int(mats[0].shape[1]),
            }
        ),
    )
    return None


def _run_lsh_pairs(spark, inputs, output, p):
    from pyspark.sql import functions as F

    from genetics_spark_coloc_spark.operators.dedup import (
        incremental_lsh_candidates,
        load_lsh_band_index,
        minhash_dedup_pairs,
    )

    corpus = _parquet(spark, inputs["corpus"])
    kw = {
        "text_col": p["text_col"],
        "id_col": p["id_col"],
        "num_perm": p["num_perm"],
        "band_size": p["band_size"],
    }
    self_pairs = minhash_dedup_pairs(
        corpus, hot_bucket_ceiling=p["hot_bucket_ceiling"], **kw
    ).select("leftId", "rightId")
    if not p["index"]:
        return self_pairs
    # daily mode: the corpus is a DELTA — cross pairs against the
    # certified index (guard paid once at build time) plus the
    # intra-delta self pairs; together exactly the union graph's
    # delta-incident edge set, which is all cc_labels append needs
    bands = load_lsh_band_index(
        spark,
        p["index"],
        num_perm=p["num_perm"],
        band_size=p["band_size"],
        hot_bucket_ceiling=p["hot_bucket_ceiling"],
    )
    cross = incremental_lsh_candidates(
        corpus,
        index_bands=bands,
        index_guard=False,
        hot_bucket_ceiling=p["hot_bucket_ceiling"],
        **kw,
    ).select(
        F.col("deltaId").alias("leftId"), F.col("indexId").alias("rightId")
    )
    return cross.unionByName(self_pairs)


def _run_cc_labels(spark, inputs, output, p):
    from pyspark.sql import functions as F

    from genetics_spark_coloc_spark.operators.graph import (
        compact_cc_labels,
        connected_components,
        fold_cc_labels,
    )

    src, dst = p["src_col"], p["dst_col"]

    if p["mode"] == "compact":
        # fold the alias sidecar into the label shards — the ledger /
        # line_freq compaction twin for the labeling, via the
        # crash-safe tmp-write → delete → rename protocol (a crash at
        # any point leaves pre-compact or complete post-compact state;
        # an interrupted run resumes here or in any loader); force=True:
        # the explicit step also consolidates appended shards even when
        # no sidecar exists
        compact_cc_labels(spark, output, force=True)
        return None
    if p["mode"] == "append":
        # the daily fold — shared kernel with streaming_cc_maintenance:
        # two O(delta) writes, history shards never rewritten, alias
        # sidecar composed so resolution stays ONE hop; converged-input
        # guard + sidecar self-compaction bound ride on the kernel
        fold_cc_labels(
            _parquet(spark, inputs["edges"]),
            output,
            src_col=src,
            dst_col=dst,
            num_rounds=p["num_rounds"],
            alias_compact_rows=p["alias_compact_rows"],
        )
        return None
    edges = _parquet(spark, inputs["edges"])
    # the kernel derives its loop set from the edge endpoints itself
    # (r14); the vertex roster's only role (isolated singletons) is
    # empty when vertices == endpoints, so pass an empty frame
    vertices = edges.select(F.col(src).alias("id")).limit(0)
    labels = connected_components(
        vertices,
        edges,
        src_col=src,
        dst_col=dst,
        num_rounds=p["num_rounds"],
    )
    # the root overwrite deletes the whole directory first, so a
    # prior build's _aliases sidecar cannot survive a rebuild; the
    # rebuild takes the same writer lease the fold/compact paths hold
    # (r14) so a manual backfill can never race the daily fold
    from genetics_spark_coloc_spark.session import writer_lease

    with writer_lease(spark, output, "cc_labels:overwrite"):
        labels.write.mode("overwrite").parquet(output)
    return None


def _run_corpus_drift(spark, inputs, output, p):
    from pyspark.sql import functions as F

    from genetics_spark_coloc_spark.operators.sketches import (
        distribution_drift_psi,
    )

    metric = {
        "chars": F.length(F.coalesce(F.col(p["text_col"]), F.lit(""))),
        "tokens": F.size(
            F.split(F.trim(F.coalesce(F.col(p["text_col"]), F.lit(""))), r"\s+")
        ),
    }[p["metric"]]
    return distribution_drift_psi(
        _parquet(spark, inputs["reference"]),
        _parquet(spark, inputs["current"]),
        metric,
        lo=p["lo"],
        hi=p["hi"],
        n_bins=p["n_bins"],
        alert_threshold=p["alert_threshold"],
    )


def _run_line_freq(spark, inputs, output, p):
    from pyspark.sql import functions as F

    from genetics_spark_coloc_spark.operators.text import line_frequency_table
    from genetics_spark_coloc_spark.session import (
        crash_safe_overwrite_parquet,
        recover_interrupted_overwrite,
        writer_lease,
    )

    if p["mode"] in ("append", "compact") and output is None:
        raise ValueError(f"line_freq mode={p['mode']} writes to --out, which was not given")
    if p["mode"] == "compact":
        # the nightly-append loop accumulates one count shard per
        # crawl, so the table grows as O(appends × distinct segments)
        # while holding only O(distinct segments) of information —
        # the line-scrub twin of the band-index ledger's
        # self-compaction. Re-aggregate to one row per segHash:
        # counts are additive by the table's documented contract
        # (consumers SUM per hash), so compaction preserves every
        # scrub's output bit-exactly while restoring the read cost of
        # later scrubs. ``corpus`` names the table to compact (pass
        # the same path as --out for in-place). The table IS the
        # corpus-frequency evidence — the original crawls are gone —
        # so the rewrite goes through the crash-safe tmp→delete→
        # rename protocol (r13): a crash at any point leaves the
        # pre-compact table or the complete post-compact one, and an
        # interrupted rename is finished by any later step touching
        # the path. (The tmp write also materializes the self-read,
        # replacing the old eager-checkpoint device.)
        # r14: the counts table is the corpus-frequency EVIDENCE and
        # shares the delete→rename commit protocol — two concurrent
        # compactions (or a compact racing a nightly append) can
        # interleave into real loss, so maintenance is single-writer
        with writer_lease(spark, output, "line_freq:compact"):
            recover_interrupted_overwrite(spark, inputs["corpus"])
            compacted = (
                _parquet(spark, inputs["corpus"])
                .groupBy("segHash")
                .agg(F.sum("segCount").alias("segCount"))
            )
            crash_safe_overwrite_parquet(compacted, output)
        return None
    freq = line_frequency_table(
        _parquet(spark, inputs["corpus"]), p["text_col"], sep=p["sep"]
    )
    if p["mode"] == "append":
        # nightly shard: counts for the new crawl land as ADDITIONAL
        # rows (duplicate segHash across shards is the documented
        # additive contract — consumers re-aggregate with SUM); an
        # interrupted compact on this table is finished first so the
        # shard never lands next to a half-renamed state; the append
        # itself runs under the table's writer lease (r14) so it can
        # never land inside a concurrent compact's delete window
        with writer_lease(spark, output, "line_freq:append"):
            recover_interrupted_overwrite(spark, output)
            freq.write.mode("append").parquet(output)
        return None
    return freq


def _run_line_scrub(spark, inputs, output, p):
    from genetics_spark_coloc_spark.operators.text import line_dedup
    from genetics_spark_coloc_spark.session import (
        recover_interrupted_overwrite,
    )

    if p["freq"]:
        # the frequency table may carry an interrupted compaction —
        # finish it instead of failing on the missing path
        recover_interrupted_overwrite(spark, p["freq"])
    freq = _parquet(spark, p["freq"]) if p["freq"] else None
    return line_dedup(
        _parquet(spark, inputs["docs"]),
        p["text_col"],
        p["id_col"],
        sep=p["sep"],
        max_count=p["max_count"],
        min_segment_chars=p["min_segment_chars"],
        freq_table=freq,
    )


def _run_lm_table(spark, inputs, output, p):
    from pyspark.sql import functions as F

    from genetics_spark_coloc_spark.operators.text import ngram_lm_table
    from genetics_spark_coloc_spark.session import (
        crash_safe_overwrite_parquet,
        recover_interrupted_overwrite,
        writer_lease,
    )

    if p["mode"] in ("append", "compact") and output is None:
        raise ValueError(
            f"lm_table mode={p['mode']} writes to --out, which was not given"
        )
    if p["mode"] == "append" and int(p["min_count"]) > 1:
        # pruning an append shard breaks the additive contract: a gram
        # below threshold in each of two shards may exceed it jointly,
        # silently under-counting the model. Prune only over FULL
        # counts (overwrite/compact).
        raise ValueError(
            "lm_table: min_count > 1 is not allowed with mode=append — "
            "per-shard pruning under-counts grams that cross the "
            "threshold only across shards; prune at mode=overwrite or "
            "mode=compact, which see full counts"
        )
    if p["mode"] == "compact":
        # nightly appends accumulate one count shard per crawl; the
        # model holds O(distinct grams) of information. Re-aggregate
        # to one row per gram (counts additive by contract); the
        # table is the MODEL artifact — the crawls that produced it
        # may be gone — so the rewrite goes through the crash-safe
        # tmp→delete→rename protocol under the writer lease, exactly
        # like line_freq compaction. min_count pruning is legal here
        # because compaction sees the full aggregated counts.
        with writer_lease(spark, output, "lm_table:compact"):
            recover_interrupted_overwrite(spark, inputs["corpus"])
            compacted = (
                _parquet(spark, inputs["corpus"])
                .groupBy("gram", "n")
                .agg(F.sum("cnt").alias("cnt"))
            )
            if int(p["min_count"]) > 1:
                compacted = compacted.filter(
                    F.col("cnt") >= int(p["min_count"])
                )
            crash_safe_overwrite_parquet(compacted, output)
        return None
    counts = ngram_lm_table(
        _parquet(spark, inputs["corpus"]),
        p["text_col"],
        order=p["order"],
        min_count=p["min_count"],
    )
    if p["mode"] == "append":
        # nightly shard: the crawl's counts land as ADDITIONAL rows
        # (duplicate gram rows are additive by contract — consumers
        # re-aggregate with SUM); an interrupted compact is finished
        # first, and the append runs under the writer lease so it can
        # never land inside a concurrent compact's delete window
        with writer_lease(spark, output, "lm_table:append"):
            recover_interrupted_overwrite(spark, output)
            counts.write.mode("append").parquet(output)
        return None
    return counts


def _run_lm_score(spark, inputs, output, p):
    from genetics_spark_coloc_spark.operators.text import (
        lm_stupid_backoff_score,
    )
    from genetics_spark_coloc_spark.session import (
        recover_interrupted_overwrite,
    )

    if p["model"]:
        # the model table may carry an interrupted compaction —
        # finish it instead of failing on the missing path
        recover_interrupted_overwrite(spark, p["model"])
    lm = _parquet(spark, p["model"]) if p["model"] else None
    return lm_stupid_backoff_score(
        _parquet(spark, inputs["docs"]),
        p["text_col"],
        p["id_col"],
        lm=lm,
        order=p["order"],
        alpha=p["alpha"],
    )


def _bm25_sweep_uncommitted(spark, root: str, committed_epoch: int) -> list[str]:
    """Remove postings partition dirs whose appendEpoch exceeds the
    meta's committed epoch — the leftovers of an append that crashed
    between its postings write and its meta commit. Readers never see
    those rows (they filter appendEpoch <= committed), so the sweep
    only reclaims space and makes the interrupted append exactly
    re-runnable."""
    from genetics_spark_coloc_spark.session import (  # noqa: PLC0415
        hadoop_delete,
        hadoop_list_names,
    )

    swept = []
    for name in hadoop_list_names(spark, root):
        if not name.startswith("appendEpoch="):
            continue
        try:
            epoch = int(name.split("=", 1)[1])
        except ValueError:
            continue
        if epoch > committed_epoch:
            hadoop_delete(spark, f"{root.rstrip('/')}/{name}")
            swept.append(name)
    return swept


def _run_bm25_index(spark, inputs, output, p):
    import json as _json

    from pyspark.sql import functions as F

    from genetics_spark_coloc_spark.operators.text import (
        bm25_corpus_stats,
        bm25_postings,
    )
    from genetics_spark_coloc_spark.session import (
        crash_safe_overwrite_text,
        hadoop_read_text,
        recover_interrupted_text_overwrite,
        writer_lease,
    )

    if output is None:
        raise ValueError("bm25_index writes to --out, which was not given")
    meta_path = output.rstrip("/") + "/_bm25_meta.json"
    docs = _parquet(spark, inputs["corpus"])
    n_docs, sum_dl = (
        bm25_corpus_stats(docs, p["text_col"]).collect()[0]
    )
    if p["mode"] == "append":
        # epoch-committed append (the cc_labels device): the delta's
        # postings land under appendEpoch=committed+1, and only the
        # crash-safe meta update at the end COMMITS that epoch —
        # readers filter appendEpoch <= committed, so a crash between
        # the postings write and the meta commit leaves the index
        # exactly at its pre-append state (the orphan epoch dir is
        # invisible, swept here and by the doctor, and the append is
        # re-runnable). History postings are never rewritten.
        # Contract: the delta's doc ids are NEW (a re-fed document
        # duplicates its (term, docId) postings and inflates df — the
        # doctor's postings_consistent check catches it).
        with writer_lease(spark, output, "bm25_index:append"):
            recover_interrupted_text_overwrite(spark, meta_path)
            meta = _json.loads(hadoop_read_text(spark, meta_path))
            _bm25_sweep_uncommitted(spark, output, meta["committed_epoch"])
            epoch = int(meta["committed_epoch"]) + 1
            posts = bm25_postings(
                docs, p["text_col"], p["id_col"], n_pfx=meta["n_pfx"]
            ).withColumn("appendEpoch", F.lit(epoch))
            posts.write.partitionBy("appendEpoch", "pfx").mode(
                "append"
            ).parquet(output)
            meta["n_docs"] += int(n_docs)
            meta["sum_dl"] += int(sum_dl)
            meta["committed_epoch"] = epoch
            crash_safe_overwrite_text(
                spark, meta_path, _json.dumps(meta, indent=1)
            )
        return None
    with writer_lease(spark, output, "bm25_index:build"):
        posts = bm25_postings(
            docs, p["text_col"], p["id_col"], n_pfx=p["n_pfx"]
        ).withColumn("appendEpoch", F.lit(0))
        posts.write.partitionBy("appendEpoch", "pfx").mode(
            "overwrite"
        ).parquet(output)
        crash_safe_overwrite_text(
            spark,
            meta_path,
            _json.dumps(
                {
                    "n_docs": int(n_docs),
                    "sum_dl": int(sum_dl),
                    "n_pfx": int(p["n_pfx"]),
                    "committed_epoch": 0,
                    "text_col": p["text_col"],
                    "id_col": p["id_col"],
                },
                indent=1,
            ),
        )
    return None


def _run_bm25_query(spark, inputs, output, p):
    import json as _json

    from genetics_spark_coloc_spark.operators.text import bm25_search
    from genetics_spark_coloc_spark.session import (
        hadoop_read_text,
        recover_interrupted_text_overwrite,
    )

    root = inputs["index"]
    meta_path = root.rstrip("/") + "/_bm25_meta.json"
    recover_interrupted_text_overwrite(spark, meta_path)
    meta = _json.loads(hadoop_read_text(spark, meta_path))
    terms = [t for t in p["query"].split() if t]
    if not terms:
        raise ValueError("bm25_query: --param query= must name at least one term")
    stats = spark.createDataFrame(
        [(meta["n_docs"], meta["sum_dl"])], "_nDocs long, _sumDl long"
    )
    from pyspark.sql import functions as F

    # only committed epochs are the index (a crashed append's orphan
    # epoch dir must stay invisible); the predicate is a partition
    # filter, so pruning handles it with the pfx filter in one scan
    posts = _parquet(spark, root).filter(
        F.col("appendEpoch") <= int(meta["committed_epoch"])
    )
    result = bm25_search(
        posts,
        terms,
        stats,
        k1=p["k1"],
        b=p["b"],
        n_pfx=meta["n_pfx"],
    )
    if int(p["top_k"]) > 0:
        from pyspark.sql import functions as F

        result = result.orderBy(
            F.desc("score"), "docId"
        ).limit(int(p["top_k"]))
    return result


def _run_corpus_overlap(spark, inputs, output, p):
    from pyspark.sql import functions as F

    from genetics_spark_coloc_spark.operators.sketches import (
        kmv_overlap_estimate,
        kmv_sketch,
    )
    from genetics_spark_coloc_spark.operators.text import tokens

    k = p["k"]

    def sketch(path: str):
        df = _parquet(spark, path).select(
            F.lit("g").alias("_g"), F.lower(F.col(p["text_col"])).alias("_t")
        )
        return kmv_sketch(df, tokens(F.col("_t")), ["_g"], k=k).select(
            "rank", "hashValue"
        )

    return kmv_overlap_estimate(sketch(inputs["left"]), sketch(inputs["right"]), k=k)


def _run_table_filter(spark, inputs, output, p):
    """Materialize a filtered (and optionally projected) snapshot of a
    parquet table. The predicate is a SQL boolean expression handed to
    Catalyst verbatim, so it PUSHES DOWN to the scan (the snapshot
    read never materializes dropped rows/columns) — the CLI twin of
    ``df.filter(...).select(...)``. The quickstart uses it to carve a
    daily delta out of the bundled testdata; in production the delta
    IS the new crawl and this step is the generic slice/projection
    utility."""
    from pyspark.sql import functions as F

    df = _parquet(spark, inputs["table"]).filter(F.expr(p["predicate"]))
    if p["columns"]:
        df = df.select(*[c.strip() for c in p["columns"].split(",")])
    return df


def _run_kmeans_centroids(spark, inputs, output, p):
    """Train the IVF/SemDeDup coarse quantizer: deterministic
    distributed Lloyd k-means (``similarity.kmeans_lloyd`` — smallest-
    id init, BLAS assignment per Arrow batch, 6dp-rounded iteration
    state, no RNG) over the corpus embedding column, emitted in the
    (id_col, vec_col) shape the ``ivf_index``/``ivfpq_index`` steps
    take as their ``centroids`` input. Train on a corpus SAMPLE at
    scale (pass a table_filter snapshot), as FAISS does."""
    from pyspark.sql import functions as F

    from genetics_spark_coloc_spark.operators.similarity import kmeans_lloyd

    cents = kmeans_lloyd(
        _parquet(spark, inputs["corpus"]),
        k=p["k"],
        n_iter=p["n_iter"],
        id_col=p["id_col"],
        vec_col=p["vec_col"],
        dim=p["dim"],
    )
    return cents.select(
        F.col("centroidId").alias(p["id_col"]),
        F.col("embedding").alias(p["vec_col"]),
    )


def _run_doctor(spark, inputs, output, p):
    """One-command index fsck (VERDICT r13 next #4): given any
    at-rest index root and its kind, run the matching recovery entry
    points + invariant checks and return a (check, status, detail)
    report frame. Statuses: ``ok`` (invariant holds), ``repaired``
    (a documented crash state was finished by the protocol's own
    recovery), ``warning`` (needs operator attention but the index
    is servable), ``failed`` (invariant broken — rebuild or
    investigate). Recovery here is strictly the set every
    loader/maintainer already performs on touch — doctor never
    invents a new repair, it just runs them all up front and reports.
    """
    import json as _json
    import time as _time

    from pyspark.sql import functions as F

    from genetics_spark_coloc_spark.session import (
        WRITER_LEASE_STALE_S,
        hadoop_delete,
        hadoop_list_names,
        hadoop_path_exists,
        hadoop_read_text,
        recover_interrupted_overwrite,
        recover_interrupted_text_overwrite,
        writer_lease_path,
    )

    kind = p["kind"]
    root = inputs["index"]
    rows: list[tuple[str, str, str]] = []

    def check(name, fn):
        """Run one invariant; any exception becomes a loud ``failed``
        row instead of aborting the remaining checks."""
        try:
            status, detail = fn()
        except Exception as exc:  # noqa: BLE001 — fsck must report,
            # not die on, a broken invariant
            status, detail = "failed", f"{type(exc).__name__}: {exc}"
        rows.append((name, status, detail))

    def lease_check(lease_root=None):
        lp = writer_lease_path(lease_root or root)
        if not hadoop_path_exists(spark, lp):
            return "ok", "no writer lease held"
        try:
            info = _json.loads(hadoop_read_text(spark, lp))
        except ValueError:
            info = {}
        age = _time.time() - float(info.get("acquired_unix") or 0)
        declared = info.get("stale_after_s")
        stale = float(declared) if declared is not None else WRITER_LEASE_STALE_S
        holder = info.get("holder", "<unreadable lease>")
        if age > stale:
            if p["clear_stale_lease"]:
                hadoop_delete(spark, lp)
                return (
                    "repaired",
                    f"cleared STALE lease of {holder} (age {age:.0f}s > "
                    f"{stale:.0f}s — holder presumed dead)",
                )
            return "warning", f"STALE lease of {holder} (age {age:.0f}s)"
        return (
            "warning",
            f"LIVE lease held by {holder} (age {age:.0f}s) — another "
            "writer is maintaining this index right now",
        )

    if kind == "cc_labels":
        from genetics_spark_coloc_spark.operators.graph import (
            _ALIAS_EPOCH_PREFIX,
            _alias_state,
            assert_labels_converged,
            load_cc_labels,
        )

        check(
            "interrupted_compaction",
            lambda: (
                ("repaired", "finished an interrupted compaction rename")
                if recover_interrupted_overwrite(spark, root)
                else ("ok", "no interrupted compaction")
            ),
        )

        def epochs():
            names = [
                n
                for n in hadoop_list_names(spark, root)
                if n.startswith(_ALIAS_EPOCH_PREFIX) or n == "_aliases"
            ]
            garbage = [
                n
                for n in names
                if n != "_aliases"
                and not hadoop_path_exists(spark, f"{root}/{n}/_SUCCESS")
            ]
            for n in garbage:  # marker-less crashed epoch writes: the
                hadoop_delete(spark, f"{root}/{n}")  # loader ignores them
            _, epoch = _alias_state(spark, root)
            detail = f"committed epoch {epoch}"
            if garbage:
                return "repaired", (
                    f"{detail}; removed {len(garbage)} marker-less "
                    f"crashed epoch dir(s) {sorted(garbage)}"
                )
            return "ok", detail

        check("alias_epochs", epochs)

        def one_hop():
            aliases, _ = _alias_state(spark, root)
            if aliases is None:
                return "ok", "no alias sidecar (fully compacted)"
            a, b = aliases.alias("a"), aliases.alias("b")
            # one-hop invariant: no alias's target is itself re-targeted
            # by another alias (identity rows o->o are harmless and can
            # legitimately appear in a fold's composed epoch)
            chained = a.join(
                b,
                (F.col("a.newComp") == F.col("b.oldComp"))
                & (F.col("b.oldComp") != F.col("b.newComp"))
                & (F.col("a.oldComp") != F.col("a.newComp")),
            ).count()
            if chained:
                return "failed", (
                    f"{chained} alias entr(ies) chain through another "
                    "alias — resolution is no longer one hop; run "
                    "cc_labels mode=compact"
                )
            return "ok", f"{aliases.count()} aliases, all one-hop"

        check("alias_one_hop", one_hop)

        def converged():
            assert_labels_converged(
                load_cc_labels(spark, root),
                sample=p["convergence_sample"],
                context=root,
            )
            return "ok", "sampled labeling is converged"

        check("labels_converged", converged)
        check("writer_lease", lease_check)

    elif kind == "line_freq":
        check(
            "interrupted_compaction",
            lambda: (
                ("repaired", "finished an interrupted compaction rename")
                if recover_interrupted_overwrite(spark, root)
                else ("ok", "no interrupted compaction")
            ),
        )

        def counts_valid():
            df = spark.read.parquet(root)
            cols = set(df.columns)
            if not {"segHash", "segCount"} <= cols:
                return "failed", f"unexpected schema {sorted(cols)}"
            bad = df.filter(
                F.col("segHash").isNull() | (F.col("segCount") <= 0)
            ).count()
            if bad:
                return "failed", f"{bad} null-hash/nonpositive-count rows"
            return "ok", f"{df.count()} count rows, all positive"

        check("counts_table", counts_valid)
        check("writer_lease", lease_check)

    elif kind == "lsh_band_index":
        table, ledger = root, f"{root}_bucket_counts"

        def table_props():
            if not spark.catalog.tableExists(table):
                return "failed", f"catalog table {table} does not exist"
            props = {
                r["key"]: r["value"]
                for r in spark.sql(f"SHOW TBLPROPERTIES {table}").collect()
            }
            missing = [
                k
                for k in (
                    "genetics_spark_coloc.num_perm",
                    "genetics_spark_coloc.band_size",
                    "genetics_spark_coloc.max_bucket_count",
                )
                if k not in props
            ]
            if missing:
                return "failed", f"missing band-identity properties {missing}"
            return "ok", (
                f"num_perm={props['genetics_spark_coloc.num_perm']} "
                f"band_size={props['genetics_spark_coloc.band_size']} "
                f"max_bucket_count="
                f"{props['genetics_spark_coloc.max_bucket_count']}"
            )

        check("band_identity", table_props)

        def ledger_sums():
            if not spark.catalog.tableExists(ledger):
                return "warning", (
                    f"no ledger table {ledger} (pre-sidecar index — the "
                    "next append reseeds it with a full recompute)"
                )
            truth = (
                spark.table(table)
                .groupBy("bandIdx", "bandHash")
                .agg(F.count(F.lit(1)).alias("trueCount"))
            )
            led = (
                spark.table(ledger)
                .groupBy("bandIdx", "bandHash")
                .agg(F.sum("c").alias("ledgerCount"))
            )
            mismatched = (
                truth.join(led, ["bandIdx", "bandHash"], "full_outer")
                .filter(
                    F.coalesce(F.col("trueCount"), F.lit(0))
                    != F.coalesce(F.col("ledgerCount"), F.lit(0))
                )
                .count()
            )
            if mismatched:
                return "failed", (
                    f"{mismatched} bucket(s) where ledger sum != band-table "
                    "count — the certified max_bucket_count cannot be "
                    "trusted; re-run lsh_band_index (rebuild reseeds)"
                )
            props = {
                r["key"]: r["value"]
                for r in spark.sql(f"SHOW TBLPROPERTIES {table}").collect()
            }
            certified = int(
                props.get("genetics_spark_coloc.max_bucket_count", 0)
            )
            actual = truth.agg(F.max("trueCount")).collect()[0][0] or 0
            if actual > certified:
                return "failed", (
                    f"actual max bucket {actual} exceeds certified "
                    f"{certified}"
                )
            return "ok", (
                f"ledger sums match the band table; max bucket {actual} "
                f"<= certified {certified}"
            )

        check("ledger_matches_index", ledger_sums)
        check(
            "writer_lease",
            lambda: lease_check(_catalog_table_lease_root(spark, table)),
        )

    elif kind in ("ivf", "ivfpq"):
        meta_name = "_ivf_meta.json" if kind == "ivf" else "_ivfpq_meta.json"

        def meta_readable():
            meta = _json.loads(
                hadoop_read_text(spark, f"{root.rstrip('/')}/{meta_name}")
            )
            need = {"id_col", "vec_col", "n_centroids"}
            missing = sorted(need - set(meta))
            if missing:
                return "failed", f"meta missing keys {missing}"
            return "ok", f"meta parses: {sorted(meta)}"

        check("meta_readable", meta_readable)

        def artifacts():
            parts = ["_centroids"] + (["_codebooks"] if kind == "ivfpq" else [])
            absent = [
                d
                for d in parts
                if not hadoop_path_exists(spark, f"{root.rstrip('/')}/{d}")
            ]
            if absent:
                return "failed", f"frozen artifact dir(s) missing: {absent}"
            n = spark.read.parquet(root).count()
            return "ok", f"{n} indexed rows; artifacts present: {parts}"

        check("frozen_artifacts", artifacts)

        def recall_ledger():
            cert = f"{root.rstrip('/')}/_recall_cert.json"
            recovered = recover_interrupted_text_overwrite(spark, cert)
            if not hadoop_path_exists(spark, cert):
                return "warning", (
                    "no recall certification ledger — run mode=certify "
                    "before trusting appended-corpus recall"
                )
            history = _json.loads(hadoop_read_text(spark, cert))
            status = "repaired" if recovered else "ok"
            last = history[-1] if history else {}
            return status, (
                f"{len(history)} certification(s); last: "
                f"recall_at_k={last.get('recall_at_k')} "
                f"passed={last.get('passed')}"
                + (" (finished an interrupted ledger write)" if recovered else "")
            )

        check("recall_ledger", recall_ledger)
        check("writer_lease", lease_check)

    elif kind == "lm_table":
        check(
            "interrupted_compaction",
            lambda: (
                ("repaired", "finished an interrupted compaction rename")
                if recover_interrupted_overwrite(spark, root)
                else ("ok", "no interrupted compaction")
            ),
        )

        def counts_valid():
            df = spark.read.parquet(root)
            cols = set(df.columns)
            if not {"gram", "n", "cnt"} <= cols:
                return "failed", f"unexpected schema {sorted(cols)}"
            bad = df.filter(
                F.col("gram").isNull()
                | (F.col("cnt") <= 0)
                | (F.col("n") != F.size(F.split(F.col("gram"), " ", -1)))
            ).count()
            if bad:
                return "failed", (
                    f"{bad} row(s) with null gram, nonpositive count, or "
                    "order inconsistent with the gram's word count"
                )
            return "ok", f"{df.count()} count rows, all consistent"

        check("counts_table", counts_valid)

        def prefix_consistency():
            # count-monotonicity invariant of any honestly-built model:
            # a context can occur at most as often as its own unigram
            # prefix, i.e. total cnt("v ...") summed over continuations
            # <= total cnt("v"). Checked on the heaviest 1000 left
            # contexts so the check stays bounded on any model size.
            agg = (
                spark.read.parquet(root)
                .groupBy("gram", "n")
                .agg(F.sum("cnt").alias("c"))
            )
            uni = agg.filter(F.col("n") == 1).select(
                F.col("gram").alias("lft"), F.col("c").alias("cUni")
            )
            ctx = (
                agg.filter(F.col("n") == 2)
                .groupBy(F.substring_index("gram", " ", 1).alias("lft"))
                .agg(F.sum("c").alias("cCont"))
                .orderBy(F.desc("cCont"), "lft")
                .limit(1000)
            )
            bad = (
                ctx.join(uni, on="lft", how="left")
                .filter(
                    F.coalesce(F.col("cUni"), F.lit(0)) < F.col("cCont")
                )
                .count()
            )
            if bad:
                return "failed", (
                    f"{bad} left context(s) whose bigram continuations "
                    "outnumber the context's own unigram count — the "
                    "shards were not built from the same corpus snapshots"
                )
            return "ok", (
                "heaviest 1000 contexts satisfy unigram >= continuation "
                "counts"
            )

        check("prefix_consistency", prefix_consistency)
        check("writer_lease", lease_check)

    elif kind == "bm25":
        meta_path = root.rstrip("/") + "/_bm25_meta.json"

        def meta_readable():
            recovered = recover_interrupted_text_overwrite(spark, meta_path)
            meta = _json.loads(hadoop_read_text(spark, meta_path))
            missing = sorted(
                {"n_docs", "sum_dl", "n_pfx", "committed_epoch"} - set(meta)
            )
            if missing:
                return "failed", f"meta missing keys {missing}"
            status = "repaired" if recovered else "ok"
            return status, (
                f"meta parses: n_docs={meta['n_docs']} "
                f"sum_dl={meta['sum_dl']} n_pfx={meta['n_pfx']}"
                + (" (finished an interrupted meta write)" if recovered else "")
            )

        check("meta_readable", meta_readable)

        def uncommitted_epochs():
            meta = _json.loads(hadoop_read_text(spark, meta_path))
            swept = _bm25_sweep_uncommitted(
                spark, root, meta["committed_epoch"]
            )
            if swept:
                return "repaired", (
                    f"swept {len(swept)} uncommitted epoch dir(s) "
                    f"{sorted(swept)} — an append crashed before its "
                    "meta commit; readers never saw those rows and the "
                    "append is re-runnable"
                )
            return "ok", (
                f"no orphan epochs past committed "
                f"{meta['committed_epoch']}"
            )

        check("uncommitted_epochs", uncommitted_epochs)

        def postings_consistent():
            meta = _json.loads(hadoop_read_text(spark, meta_path))
            posts = spark.read.parquet(root).filter(
                F.col("appendEpoch") <= int(meta["committed_epoch"])
            )
            agg = posts.agg(
                F.count(F.lit(1)).alias("nRows"),
                F.count_distinct(F.col("term"), F.col("docId")).alias("nTd"),
                F.count_distinct("docId").alias("nDocs"),
                F.sum("tf").alias("sumTf"),
                F.sum(
                    (
                        F.col("pfx")
                        != F.crc32(F.col("term")) % int(meta["n_pfx"])
                    ).cast("long")
                ).alias("badPfx"),
            ).collect()[0]
            problems = []
            if agg["nRows"] != agg["nTd"]:
                problems.append(
                    f"{agg['nRows'] - agg['nTd']} duplicate (term, doc) "
                    "posting row(s) — a delta re-fed an already-indexed "
                    "document; document frequencies are inflated"
                )
            if agg["badPfx"]:
                problems.append(
                    f"{agg['badPfx']} posting(s) whose pfx != "
                    "crc32(term) % n_pfx — partition pruning would MISS "
                    "them"
                )
            if agg["nDocs"] > meta["n_docs"]:
                problems.append(
                    f"postings hold {agg['nDocs']} distinct docs but meta "
                    f"counts only {meta['n_docs']}"
                )
            if agg["sumTf"] != meta["sum_dl"]:
                problems.append(
                    f"sum(tf)={agg['sumTf']} != meta sum_dl="
                    f"{meta['sum_dl']} — meta and postings disagree on "
                    "total token occurrences"
                )
            if problems:
                return "failed", "; ".join(problems)
            return "ok", (
                f"{agg['nRows']} postings over {agg['nDocs']} docs agree "
                "with meta (unique, pruning-safe, counts match)"
            )

        check("postings_consistent", postings_consistent)
        check("writer_lease", lease_check)

    else:
        raise ValueError(
            f"doctor: unknown kind {kind!r}; expected one of "
            "bm25 | cc_labels | line_freq | lm_table | lsh_band_index | "
            "ivf | ivfpq"
        )

    report = spark.createDataFrame(
        rows, "check string, status string, detail string"
    )
    for r in rows:
        print(f"doctor[{kind}] {r[0]}: {r[1]} — {r[2]}")
    return report


# --------------------------------------------------------------- registry

STEPS: dict[str, StepSpec] = {
    s.name: s
    for s in [
        StepSpec(
            "window_based_clumping",
            "Window-based clumping of summary statistics into lead variants "
            "(reference: window_based_clumping.py:10, config.py WindowBasedClumpingStepConfig)",
            ("summary_statistics",),
            _run_window_based_clumping,
            {
                "distance": Param(int, 500_000, "clumping window (bp)"),
                "gwas_significance": Param(float, 1e-8, "lead p-value cutoff"),
            },
        ),
        StepSpec(
            "locus_breaker_clumping",
            "Locus-breaker clumping: baseline-significance segments split at "
            "distance gaps (reference: locus_breaker_clumping.py)",
            ("summary_statistics",),
            _run_locus_breaker_clumping,
            {
                "baseline_pvalue_cutoff": Param(float, 1e-5, "segment membership cutoff"),
                "distance_cutoff": Param(int, 250_000, "gap splitting segments (bp)"),
                "pvalue_cutoff": Param(float, 1e-8, "lead significance"),
                "flanking_distance": Param(int, 100_000, "locus flank (bp)"),
            },
        ),
        StepSpec(
            "ld_based_clumping",
            "LD-annotate lead variants then drop/flag leads linked by LD "
            "(reference: ld_based_clumping.py)",
            ("study_locus", "study_index", "ld_index"),
            _run_ld_based_clumping,
            {
                "r2_threshold": Param(float, 0.5, "LD r2 linkage threshold"),
                "drop_linked": Param(bool, False, "drop linked leads instead of flagging"),
            },
        ),
        StepSpec(
            "colocalisation",
            "Find credible-set overlaps, then COLOC or eCAVIAR "
            "(reference: colocalisation.py:15)",
            ("credible_set",),
            _run_colocalisation,
            {
                "coloc_method": Param(str, "coloc", "coloc | ecaviar"),
                "priorc1": Param(float, 1e-4, "prior: SNP associated with left trait"),
                "priorc2": Param(float, 1e-4, "prior: SNP associated with right trait"),
                "priorc12": Param(float, 1e-5, "prior: SNP associated with both"),
            },
        ),
        StepSpec(
            "pics",
            "PICS finemapping of LD-annotated study loci (reference: pics.py)",
            ("study_locus",),
            _run_pics,
            {"k": Param(float, 6.4, "PICS noise scaling constant")},
        ),
        StepSpec(
            "susie_finemapping",
            "Per-locus SuSiE finemapping over grouped summary statistics "
            "(reference: susie_finemapper.py)",
            ("summary_statistics",),
            _run_susie_finemapping,
            {"locus_col": Param(str, "studyLocusId", "grouping column")},
        ),
        StepSpec(
            "summary_statistics_qc",
            "Per-study sumstat QC metrics: mean/std beta, GC lambda, PZ check "
            "(reference: sumstat_qc_step.py)",
            ("summary_statistics",),
            _run_summary_statistics_qc,
            {"pval_threshold": Param(float, 5e-8, "significant-SNP count threshold")},
        ),
        StepSpec(
            "sumstat_imputation",
            "RAISS z-score imputation of unobserved SNPs from pairwise LD "
            "(reference: method/sumstat_imputation.py)",
            ("observed", "pairwise_ld"),
            _run_sumstat_imputation,
            {
                "ridge_lambda": Param(float, 0.01, "ridge diagonal loading"),
                "rtol": Param(float, 0.01, "pinv eigenvalue cutoff"),
            },
        ),
        StepSpec(
            "credible_set_qc",
            "Credible-set QC flags: p-value, purity, abnormal PIPs "
            "(reference: credible_set_qc.py)",
            ("credible_set",),
            _run_credible_set_qc,
            {
                "p_value_threshold": Param(float, 1e-5, "lead p-value QC cutoff"),
                "purity_min_r2": Param(float, 0.01, "minimum purity r2"),
            },
        ),
        StepSpec(
            "credible_set_validation",
            "Validate study loci against the study index + variant-id shape "
            "(reference: study_locus_validation.py)",
            ("study_locus", "study_index"),
            _run_credible_set_validation,
            {},
        ),
        StepSpec(
            "study_validation",
            "Flag trans-QTL loci against study + target indices "
            "(reference: study_validation.py)",
            ("study_locus", "study_index", "target_index"),
            _run_study_validation,
            {"trans_threshold": Param(int, 5_000_000, "cis window (bp)")},
        ),
        StepSpec(
            "variant_to_vcf",
            "Export a variant index as VCF partitions (reference: "
            "variant_index.py ConvertToVcfStep)",
            ("variant_index",),
            _run_variant_to_vcf,
            {},
            sink=True,
        ),
        StepSpec(
            "gwas_catalog_sumstat_preprocess",
            "Ingest + harmonise raw GWAS-Catalog summary statistics "
            "(reference: gwas_catalog_sumstat_preprocess.py)",
            ("raw",),
            _run_gwas_catalog_sumstat_preprocess,
            {"study_id": Param(str, "STUDY", "study accession to stamp")},
        ),
        StepSpec(
            "finngen_sumstat_preprocess",
            "Ingest + harmonise raw FinnGen summary statistics "
            "(reference: finngen_sumstat_preprocess.py)",
            ("raw",),
            _run_finngen_sumstat_preprocess,
            {},
        ),
        StepSpec(
            "ukb_ppp_eur_sumstat_preprocess",
            "Harmonise UKB-PPP (EUR) pGWAS sumstats against the variant "
            "annotation (reference: ukb_ppp_eur_sumstat_preprocess.py)",
            ("raw", "annotation"),
            _run_ukb_ppp_eur_sumstat_preprocess,
            {},
        ),
        StepSpec(
            "finngen_ukb_meta_ingestion",
            "Ingest FinnGen+UKB meta-analysis sumstats "
            "(reference: finngen_ukb_meta.py)",
            ("raw", "annotation"),
            _run_finngen_ukb_meta_ingestion,
            {},
        ),
        StepSpec(
            "eqtl_catalogue",
            "Parse eQTL-Catalogue SuSiE credible sets + LBFs into study loci "
            "(reference: eqtl_catalogue.py)",
            ("credible_sets", "lbf", "studies_metadata"),
            _run_eqtl_catalogue,
            {"n_effects": Param(int, 10, "SuSiE effects per dataset")},
        ),
        StepSpec(
            "variant_index",
            "Parse VEP JSONL output into a variant index "
            "(reference: variant_index.py)",
            ("vep_jsonl",),
            _run_variant_index,
            {},
        ),
        StepSpec(
            "interval_ingestion",
            "Parse an enhancer-gene interval source (andersson | javierre | "
            "jung | thurman), optionally lifting to GRCh38 "
            "(reference: datasource/intervals/*)",
            ("raw", "genes"),
            _run_interval_ingestion,
            {"interval_source": Param(str, "andersson", "which parser to run")},
        ),
        StepSpec(
            "liftover",
            "Lift interval coordinates through a UCSC chain file "
            "(reference: common/genomic_region.py liftover usage)",
            ("intervals", "chain"),
            _run_liftover,
            {
                "chrom_col": Param(str, "chrom", ""),
                "start_col": Param(str, "start", ""),
                "end_col": Param(str, "end", ""),
                "max_difference": Param(int, 100, "max lifted-length drift (bp)"),
            },
        ),
        StepSpec(
            "locus_to_gene_feature_matrix",
            "Assemble the full L2G feature matrix from the registry "
            "(reference: l2g.py LocusToGeneFeatureMatrixStep)",
            ("study_locus", "variant_index", "colocalisation", "study_index", "target_index"),
            _run_locus_to_gene_feature_matrix,
            {"genomic_window": Param(int, 500_000, "neighbourhood window (bp)")},
        ),
        StepSpec(
            "locus_to_gene",
            "Train the L2G GBT classifier on a labelled feature matrix and "
            "score it (reference: l2g.py LocusToGeneStep)",
            ("feature_matrix",),
            _run_locus_to_gene,
            {
                "label_col": Param(str, "goldStandardSet", "training label column"),
                "max_iter": Param(int, 20, "GBT boosting iterations"),
            },
        ),
        StepSpec(
            "locus_to_gene_predict",
            "Train, score, and SHAP-explain L2G predictions into the "
            "l2g_predictions entity — exact distributed TreeSHAP replaces "
            "the driver-side shap TreeExplainer "
            "(reference: l2g.py LocusToGenePredictionStep + "
            "dataset/l2g_prediction.py:146-268)",
            ("feature_matrix",),
            _run_locus_to_gene_predict,
            {
                "label_col": Param(str, "goldStandardSet", "training label column"),
                "max_iter": Param(int, 20, "GBT boosting iterations"),
            },
        ),
        StepSpec(
            "overlaps",
            "Find overlapping credible-set pairs across studies "
            "(reference: dataset/study_locus_overlap.py)",
            ("credible_set",),
            _run_overlaps,
            {"intra_study_overlap": Param(bool, False, "include same-study pairs")},
        ),
        StepSpec(
            "corpus_curation",
            "Training-corpus curation pipeline: Gopher quality rules -> "
            "exact dedup (keep-smallest-id) -> PII redaction -> language "
            "ID -> deterministic splits, in one plan (additive layer "
            "beyond the reference's genetics surface; composes the "
            "operators the individual contract queries verify)",
            ("documents",),
            _run_corpus_curation,
            {
                "min_words": Param(int, 50, "Gopher word-count lower bound"),
                "redact_pii": Param(bool, True, "apply PII redaction to text"),
                "strip_dup_spans": Param(
                    bool,
                    False,
                    "cut corpus-duplicated token spans (Lee et al. 2022)",
                ),
                "span_min_tokens": Param(
                    int, 50, "anchor window width for duplicated spans"
                ),
            },
        ),
        StepSpec(
            "nb_classifier_train",
            "Train a multinomial Naive Bayes corpus classifier (language/"
            "source/quality routing) as pure counting aggregations; the "
            "model parquet is the (label, token, tokenCount, logLik) "
            "long form (additive layer beyond the reference's genetics "
            "surface)",
            ("documents",),
            _run_nb_classifier_train,
            {
                "label_col": Param(str, "lang", "label column"),
                "text_col": Param(str, "text", "text column"),
                "alpha": Param(float, 1.0, "Laplace smoothing"),
            },
        ),
        StepSpec(
            "nb_classifier_predict",
            "Score documents against a trained NB model parquet and emit "
            "the argmax label per document (priors recomputed from the "
            "labeled corpus; additive layer beyond the reference's "
            "genetics surface)",
            ("documents", "model", "labeled"),
            _run_nb_classifier_predict,
            {
                "label_col": Param(str, "lang", "label column of the labeled corpus"),
                "id_col": Param(str, "doc_id", "document id column"),
                "text_col": Param(str, "text", "text column"),
                "alpha": Param(float, 1.0, "Laplace smoothing"),
            },
        ),
        StepSpec(
            "zorder_layout",
            "Rewrite a table clustered on the Morton interleave of the "
            "given integer columns (range partition + local sort) so "
            "parquet min/max skipping prunes on every listed dimension "
            "(additive layer beyond the reference's genetics surface)",
            ("table",),
            _run_zorder_layout,
            {
                "columns": Param(str, "", "comma-separated integer columns"),
                "num_partitions": Param(int, 200, "output partition count"),
                "bits": Param(int, 16, "bits per dimension"),
            },
        ),
        StepSpec(
            "bloom_prune",
            "Prune a fact table by a Bloom filter built from a selective "
            "dimension (e.g. summary statistics by credible-set variantIds): "
            "k broadcast left-semi joins on the hashed bit positions, so the "
            "fact side is never shuffled; no false negatives, false "
            "positives fall to the exact step that follows (additive layer "
            "beyond the reference's genetics surface)",
            ("fact", "dimension"),
            _run_bloom_prune,
            {
                "fact_key": Param(str, "variantId", "fact join/prune key column"),
                "dim_key": Param(str, "variantId", "dimension key column"),
                "dim_filter": Param(str, "", "optional SQL filter on the dimension"),
                "m_bits": Param(int, 1 << 20, "bloom filter size in bits"),
                "k": Param(int, 3, "hash count"),
            },
        ),
        StepSpec(
            "bucket_layout",
            "Persist any table as a catalog table bucketed (and optionally "
            "sorted) by the given columns — the generic at-rest co-location "
            "layout: equi-joins and aggregations on the bucket columns "
            "between tables bucketed the same way run with NO shuffle "
            "exchange (the device behind the lsh_band_index step, exposed "
            "for arbitrary keys, e.g. sumstats by (studyId, chromosome) or "
            "an LD index by variantId; complements zorder_layout, which "
            "targets scan pruning rather than join co-location). --out is "
            "the catalog TABLE name (additive layer beyond the reference's "
            "genetics surface)",
            ("table",),
            _run_bucket_layout,
            {
                "bucket_columns": Param(str, "", "comma-separated bucket key columns"),
                "sort_columns": Param(str, "", "optional comma-separated sort columns"),
                "num_buckets": Param(int, 64, "bucket count"),
            },
            sink=True,
            needs_catalog=lambda p: True,
        ),
        StepSpec(
            "ivf_index",
            "Build the IVF inverted lists once (every corpus vector tagged "
            "with its nearest centroid) and persist them PARTITIONED BY "
            "centroidId — the at-rest ANN index: repeated ivf_topk query "
            "batches pass the read-back table as members= and dynamic "
            "partition pruning confines each batch's scan to its nprobe "
            "probed lists (additive layer beyond the reference's genetics "
            "surface)",
            ("corpus", "centroids"),
            _run_ivf_index,
            {
                "id_col": Param(str, "vec_id", "vector id column"),
                "vec_col": Param(str, "embedding", "vector column"),
                "mode": Param(
                    str,
                    "overwrite",
                    "overwrite = full rebuild; append = assign only the "
                    "new corpus with the index's OWN build-time centroids "
                    "(supplied centroids verified identical) and append "
                    "its list files — history never re-assigned; certify "
                    "= score recall@k of the index against exact cosine "
                    "over the CURRENT corpus on a deterministic query "
                    "sample, append the result to the _recall_cert.json "
                    "ledger inside the index, and fail below recall_floor "
                    "— the staleness gate for an append-forever index "
                    "whose frozen centroids silently decay as the corpus "
                    "drifts",
                ),
                "certify_queries": Param(
                    int, 64, "certify: query sample size"
                ),
                "certify_k": Param(int, 10, "certify: recall@k depth"),
                "certify_nprobe": Param(
                    int, 1, "certify: probed lists per query"
                ),
                "recall_floor": Param(
                    float,
                    0.0,
                    "certify: fail when avg recall@k drops below this "
                    "(0 = record-only)",
                ),
            },
            sink=True,
        ),
        StepSpec(
            "lsh_pairs",
            "Emit MinHash-LSH near-dup candidate pairs (leftId, rightId) "
            "as a parquet edge list — the input cc_labels resolves into "
            "clusters. Without --param index: banded self-join over the "
            "corpus (the one-shot path). With index naming a persisted "
            "lsh_band_index table: the corpus is treated as a DELTA and "
            "pairs are delta-vs-index (via the validated, certified-"
            "ceiling incremental path) PLUS intra-delta — exactly the "
            "edge set the daily cc_labels append folds in (additive "
            "layer beyond the reference's genetics surface)",
            ("corpus",),
            _run_lsh_pairs,
            {
                "text_col": Param(str, "text", "document text column"),
                "id_col": Param(str, "doc_id", "document id column"),
                "num_perm": Param(int, 8, "MinHash permutations"),
                "band_size": Param(int, 2, "hashes per LSH band"),
                "index": Param(
                    str,
                    "",
                    "persisted lsh_band_index TABLE name; empty = "
                    "self-join over the corpus",
                ),
                "hot_bucket_ceiling": Param(
                    int, 10_000, "per-bucket occupancy guard"
                ),
            },
            needs_catalog=lambda p: bool(p.get("index")),
        ),
        StepSpec(
            "cc_labels",
            "Persist the duplicate-cluster labeling (connected components "
            "over candidate-pair edges) as an at-rest index with O(delta) "
            "daily maintenance: append folds a delta's edges into the "
            "existing CONVERGED labeling — new-vertex rows land as an "
            "appended shard and the changed-component remap composes into "
            "the _aliases sidecar (one-hop resolution via load_cc_labels; "
            "history shards never rewritten, no CC rounds over history); "
            "compact folds the sidecar back into the shards. An id absent "
            "from the table is its own singleton component (additive "
            "layer beyond the reference's genetics surface)",
            ("edges",),
            _run_cc_labels,
            {
                "src_col": Param(str, "leftId", "edge source id column"),
                "dst_col": Param(str, "rightId", "edge destination id column"),
                "num_rounds": Param(int, 16, "CC round budget"),
                "alias_compact_rows": Param(
                    int,
                    1_000_000,
                    "sidecar self-compaction bound: an append whose "
                    "composed alias epoch exceeds this many rows finishes "
                    "with an inline crash-safe compact (the sidecar is "
                    "broadcast on every resolution, so it must stay "
                    "bounded)",
                ),
                "mode": Param(
                    str,
                    "overwrite",
                    "overwrite = full build from edges; append = fold the "
                    "delta's edges in at O(delta) (converged-input guard, "
                    "idempotent refold crash contract); compact = fold the "
                    "alias sidecar into the label shards crash-safely "
                    "(tmp-write, delete, rename — interrupted runs resume)",
                ),
            },
            sink=True,
        ),
        StepSpec(
            "table_filter",
            "Materialize a filtered/projected snapshot of a parquet table "
            "(SQL predicate pushed down to the scan; optional column "
            "projection) — the generic slice utility for carving deltas "
            "and samples (additive layer beyond the reference's genetics "
            "surface)",
            ("table",),
            _run_table_filter,
            {
                "predicate": Param(
                    str, "true", "SQL boolean expression (pushed down)"
                ),
                "columns": Param(
                    str, "", "comma-separated projection (empty = all)"
                ),
            },
        ),
        StepSpec(
            "kmeans_centroids",
            "Train the IVF coarse quantizer: deterministic distributed "
            "Lloyd k-means over the embedding column (smallest-id init, "
            "no RNG, 6dp-rounded iteration state), emitted in the shape "
            "ivf_index/ivfpq_index take as --in centroids (additive "
            "layer beyond the reference's genetics surface)",
            ("corpus",),
            _run_kmeans_centroids,
            {
                "k": Param(int, 4, "number of centroids"),
                "n_iter": Param(int, 2, "Lloyd iterations"),
                "id_col": Param(str, "vec_id", "vector id column"),
                "vec_col": Param(str, "embedding", "vector column"),
                "dim": Param(int, 64, "embedding dimensionality"),
            },
        ),
        StepSpec(
            "doctor",
            "Index fsck: run every recovery entry point + invariant check "
            "for ONE at-rest index root and report (check, status, detail) "
            "rows — interrupted compaction/ledger renames finished, "
            "marker-less crashed epoch dirs removed, one-hop alias and "
            "converged-labeling invariants, ledger-sum == band-table "
            "counts, frozen-artifact and meta/recall-ledger parses, stale "
            "writer leases cleared (live ones reported with their holder). "
            "Statuses: ok | repaired | warning | failed (additive layer "
            "beyond the reference's genetics surface)",
            ("index",),
            _run_doctor,
            {
                "kind": Param(
                    str,
                    "cc_labels",
                    "index kind: bm25 | cc_labels | line_freq | lm_table "
                    "| lsh_band_index | ivf | ivfpq (lsh takes the "
                    "catalog TABLE name as --in index=...)",
                ),
                "clear_stale_lease": Param(
                    bool,
                    True,
                    "delete writer leases older than their declared stale "
                    "threshold (a live lease is only ever reported)",
                ),
                "convergence_sample": Param(
                    int, 64, "cc_labels: sampled converged-check size"
                ),
            },
            needs_catalog=lambda p: p.get("kind") == "lsh_band_index",
        ),
        StepSpec(
            "ivfpq_index",
            "Build the IVF-PQ index once (coarse assignment + PQ encoding "
            "of the residuals, the FAISS coarse+fine layout) and persist "
            "the code lists PARTITIONED BY centroidId with the build-time "
            "centroids and codebooks shipped inside — the at-rest "
            "compressed-ANN index: repeated ivfpq_topk batches load it "
            "back (load_ivfpq_index) and partition-prune to their probed "
            "lists; append mode re-encodes only the delta against the "
            "FROZEN artifacts (supplied centroids AND codebooks verified "
            "identical, wrong ones rejected) (additive layer beyond the "
            "reference's genetics surface)",
            ("corpus", "centroids", "codebooks"),
            _run_ivfpq_index,
            {
                "id_col": Param(str, "vec_id", "vector id column"),
                "vec_col": Param(str, "embedding", "vector column"),
                "mode": Param(
                    str,
                    "overwrite",
                    "overwrite = full rebuild; append = encode only the "
                    "new corpus against the index's OWN frozen centroids "
                    "and codebooks and append its list files — history "
                    "never re-encoded; certify = score recall@k of the "
                    "compressed search against exact L2 over the CURRENT "
                    "raw corpus on a deterministic query sample, append "
                    "to the _recall_cert.json ledger inside the index, "
                    "and fail below recall_floor — measures coarse-"
                    "quantizer and codebook decay together as the "
                    "appended distribution drifts",
                ),
                "certify_queries": Param(
                    int, 64, "certify: query sample size"
                ),
                "certify_k": Param(int, 10, "certify: recall@k depth"),
                "certify_nprobe": Param(
                    int, 1, "certify: probed lists per query"
                ),
                "recall_floor": Param(
                    float,
                    0.0,
                    "certify: fail when avg recall@k drops below this "
                    "(0 = record-only)",
                ),
            },
            sink=True,
        ),
        StepSpec(
            "lsh_band_index",
            "Materialize the corpus MinHash-LSH band table as a catalog "
            "table bucketed (and sorted) by (bandIdx, bandHash) — the "
            "at-rest index of incremental dedup: every delta batch joins "
            "into it with zero shuffle on the index side, so the corpus is "
            "banded exactly once (additive layer beyond the reference's "
            "genetics surface). --out is the catalog TABLE name; band "
            "parameters are pinned as table properties",
            ("corpus",),
            _run_lsh_band_index,
            {
                "text_col": Param(str, "text", "document text column"),
                "id_col": Param(str, "doc_id", "document id column"),
                "num_perm": Param(int, 8, "minhash permutations"),
                "band_size": Param(int, 2, "hashes per band"),
                "num_buckets": Param(int, 64, "bucket count of the table"),
                "mode": Param(
                    str,
                    "overwrite",
                    "overwrite = rebuild; append = band ONLY the given "
                    "corpus and insert into the existing table (the "
                    "daily-crawl loop — history is never re-banded); "
                    "band params are validated and the bucket-ceiling "
                    "certification is recomputed either way",
                ),
            },
            sink=True,
            needs_catalog=lambda p: True,
        ),
        StepSpec(
            "corpus_drift",
            "Population Stability Index of a document-length metric "
            "between a reference corpus snapshot and the current one — "
            "the per-ingest-batch drift gate: both sides reduce to "
            "n_bins-row grid sketches, PSI = sum((p-q)*ln(p/q)), alert "
            "above the standard 0.2 threshold (additive layer beyond the "
            "reference's genetics surface)",
            ("reference", "current"),
            _run_corpus_drift,
            {
                "text_col": Param(str, "text", "document text column"),
                "metric": Param(str, "chars", "chars | tokens"),
                "lo": Param(float, 0.0, "grid lower bound"),
                "hi": Param(float, 4096.0, "grid upper bound"),
                "n_bins": Param(int, 32, "grid bins"),
                "alert_threshold": Param(float, 0.2, "PSI alert level"),
            },
        ),
        StepSpec(
            "line_freq",
            "Materialize the corpus segment-frequency table for the C4 "
            "boilerplate scrub: (md5(trim(line)), count) over every line "
            "of every document — built once per corpus snapshot, then "
            "line_scrub cleans any delta against it at O(delta) (additive "
            "layer beyond the reference's genetics surface)",
            ("corpus",),
            _run_line_freq,
            {
                "text_col": Param(str, "text", "document text column"),
                "sep": Param(str, "\n", "segment separator"),
                "mode": Param(
                    str,
                    "overwrite",
                    "overwrite = (re)build to --out; append = write the "
                    "corpus's counts as an ADDITIONAL shard of --out (the "
                    "nightly-crawl loop; duplicate segHash rows are "
                    "additive by contract); compact = re-aggregate the "
                    "table named by --corpus to one row per segHash and "
                    "overwrite --out (same path for in-place) — "
                    "scrub-output-preserving by the additive contract",
                ),
            },
        ),
        StepSpec(
            "line_scrub",
            "Corpus-frequency line dedup (the C4 boilerplate scrub): drop "
            "every line occurring more than max_count times and rebuild "
            "documents in order. With --freq pointing at a line_freq "
            "table, frequencies come from that persisted corpus evidence "
            "(the daily-delta loop; streaming twin: "
            "streaming_line_dedup); without it the input self-counts "
            "(additive layer beyond the reference's genetics surface)",
            ("docs",),
            _run_line_scrub,
            {
                "text_col": Param(str, "text", "document text column"),
                "id_col": Param(str, "doc_id", "document id column"),
                "sep": Param(str, "\n", "segment separator"),
                "max_count": Param(int, 1, "max allowed corpus frequency"),
                "min_segment_chars": Param(
                    int, 10, "segments shorter than this are never dropped"
                ),
                "freq": Param(
                    str,
                    "",
                    "path to a persisted line_freq table; empty = "
                    "self-counting over the input itself",
                ),
            },
        ),
        StepSpec(
            "bm25_index",
            "Materialize the BM25 inverted index: postings (pfx, term, "
            "docId, tf, dl) partitioned by pfx = crc32(term) % n_pfx so "
            "every later query statically prunes its scan to its own "
            "terms' partitions, with corpus counts (n_docs, sum_dl) in a "
            "crash-safe _bm25_meta.json — index once, query many times "
            "without rescanning the corpus. mode=append lands a NEW "
            "crawl's postings under the next appendEpoch partition and "
            "COMMITS it with the meta update (readers filter to "
            "committed epochs, so a crashed append is invisible and "
            "re-runnable); history postings are never rewritten "
            "(additive layer beyond the reference's genetics surface)",
            ("corpus",),
            _run_bm25_index,
            {
                "text_col": Param(str, "text", "document text column"),
                "id_col": Param(str, "doc_id", "document id column"),
                "n_pfx": Param(
                    int, 64, "term-hash partition count (build only)"
                ),
                "mode": Param(
                    str,
                    "overwrite",
                    "overwrite = (re)build to --out; append = add a new "
                    "crawl's postings (doc ids must be NEW — the doctor's "
                    "postings_consistent check catches re-fed documents)",
                ),
            },
            sink=True,
        ),
        StepSpec(
            "bm25_query",
            "Okapi BM25 retrieval against a persisted bm25_index: the "
            "postings scan prunes to the query terms' pfx partitions, "
            "document frequencies fall out of the pruned postings, and "
            "scores are bit-identical to the direct corpus-scanning "
            "operator on the corpus the index reflects. top_k > 0 "
            "returns the best k documents (additive layer beyond the "
            "reference's genetics surface)",
            ("index",),
            _run_bm25_query,
            {
                "query": Param(
                    str, "", "space-separated query terms (required)"
                ),
                "k1": Param(float, 1.2, "BM25 k1"),
                "b": Param(float, 0.75, "BM25 b"),
                "top_k": Param(int, 0, "0 = all matching docs"),
            },
        ),
        StepSpec(
            "lm_table",
            "Materialize the Stupid-Backoff n-gram LM count table "
            "(gram, n, cnt over every word 1..order-gram; Brants et al. "
            "2007) — trained once per reference-corpus snapshot, then "
            "lm_score rates any crawl against the frozen model at "
            "O(delta) (the CCNet perplexity-filter loop). mode=append "
            "adds a crawl's counts as an additive shard; mode=compact "
            "re-aggregates to one row per gram via the crash-safe "
            "overwrite under the writer lease (additive layer beyond "
            "the reference's genetics surface)",
            ("corpus",),
            _run_lm_table,
            {
                "text_col": Param(str, "text", "document text column"),
                "order": Param(int, 3, "max n-gram order (1..3)"),
                "min_count": Param(
                    int,
                    1,
                    "prune grams below this count (overwrite/compact "
                    "only — per-shard pruning would break the additive "
                    "append contract)",
                ),
                "mode": Param(
                    str,
                    "overwrite",
                    "overwrite = (re)build to --out; append = write the "
                    "corpus's counts as an ADDITIONAL shard of --out "
                    "(duplicate gram rows are additive by contract); "
                    "compact = re-aggregate the table named by --corpus "
                    "to one row per gram and overwrite --out (same path "
                    "for in-place)",
                ),
            },
        ),
        StepSpec(
            "lm_score",
            "Stupid-Backoff LM document scoring (the CCNet perplexity "
            "filter, Wenzek et al. 2020): mean log S(w|context) and "
            "pseudo-perplexity per document. With --param model= "
            "pointing at an lm_table, scores come from that FROZEN "
            "model (the production train-once/score-many loop; OOV "
            "tokens hit the add-one unigram floor); without it the "
            "input corpus self-trains (additive layer beyond the "
            "reference's genetics surface)",
            ("docs",),
            _run_lm_score,
            {
                "text_col": Param(str, "text", "document text column"),
                "id_col": Param(str, "doc_id", "document id column"),
                "order": Param(int, 3, "scoring order (2 or 3)"),
                "alpha": Param(float, 0.4, "backoff factor"),
                "model": Param(
                    str,
                    "",
                    "path to a persisted lm_table; empty = self-train "
                    "on the input corpus",
                ),
            },
        ),
        StepSpec(
            "corpus_overlap",
            "Estimate the token-set union / intersection / Jaccard between "
            "two document corpora from their KMV sketches alone (Beyer et "
            "al. 2007) — the train/test contamination measurement, never "
            "re-scanning either corpus past the one sketch pass (additive "
            "layer beyond the reference's genetics surface)",
            ("left", "right"),
            _run_corpus_overlap,
            {
                "text_col": Param(str, "text", "document text column"),
                "k": Param(int, 256, "sketch size (k smallest hashes)"),
            },
        ),
        StepSpec(
            "gwas_catalog_top_hits",
            "Composed GWAS-Catalog top-hit ingestion: study splitter, "
            "association studyId adoption + ambiguity/TOP_HIT flags, window "
            "clumping with non-leads flagged "
            "(reference: gwas_catalog_top_hits.py:17-40)",
            ("catalog_studies", "catalog_associations"),
            _run_gwas_catalog_top_hits,
            {
                "distance": Param(int, 500_000, "clumping window (bp)"),
                "studies_out": Param(
                    str, "", "optional parquet path for the split study index"
                ),
            },
        ),
        StepSpec(
            "foldx_ingestion",
            "FoldX ddG per amino-acid change, pLDDT-filtered and averaged "
            "across structural models (reference: foldx_ingestion.py:15-40)",
            ("foldx_dataset",),
            _run_foldx_ingestion,
            {"plddt_threshold": Param(float, 0.7, "min structure confidence")},
        ),
        StepSpec(
            "finngen_finemapping_ingestion",
            "FinnGen released SuSiE fine-mapping -> credible-set study loci "
            "(reference: finngen_finemapping_ingestion.py + "
            "finngen/finemapping.py:207-532)",
            ("susie_snps", "credset_summaries"),
            _run_finngen_finemapping_ingestion,
            {
                "release_prefix": Param(str, "FINNGEN_R11", "study id prefix"),
                "lbf_threshold": Param(float, 2.0, "credible-set log10 BF cutoff"),
                "n_effects": Param(int, 10, "SuSiE L (alpha/lbf column arity)"),
            },
        ),
        StepSpec(
            "finngen_studies",
            "FinnGen phenotype manifest JSON -> study index rows "
            "(reference: finngen_studies.py + finngen/study_index.py:127-189)",
            ("phenotype_manifest",),
            _run_finngen_studies,
            {
                "release_prefix": Param(str, "FINNGEN_R11", "study id prefix"),
                "sample_size": Param(int, 500_348, "release cohort size"),
                "url_prefix": Param(str, "", "sumstats location prefix"),
                "url_suffix": Param(str, "", "sumstats location suffix"),
            },
        ),
        StepSpec(
            "gwas_catalog_study_index",
            "Raw GWAS-Catalog studies + ancestry TSVs -> study index with "
            "free-text sample sizes, pivoted ancestry stages and LD "
            "population mapping (reference: gwas_catalog_study_index.py + "
            "datasource/gwas_catalog/study_index.py:468-632)",
            ("catalog_studies", "catalog_ancestry"),
            _run_gwas_catalog_study_index,
            {},
        ),
        StepSpec(
            "gwas_catalog_study_curation",
            "Merge the Open-Targets curation spreadsheet into a study index: "
            "curated study type wins, analysis flags union, non-curated "
            "sumstats studies flagged (reference: "
            "gwas_catalog_study_curation.py + study_index.py:342-406)",
            ("study_index", "curation_table"),
            _run_gwas_catalog_study_curation,
            {},
        ),
        StepSpec(
            "lof_curation_ingestion",
            "OTAR2075 loss-of-function curation CSV -> variant-index rows "
            "with assessment, normalised score and description "
            "(reference: lof_curation_ingestion.py + "
            "datasource/open_targets/lof_curation.py:60-98)",
            ("lof_curation",),
            _run_lof_curation_ingestion,
            {},
        ),
        StepSpec(
            "biosample_index",
            "Biosample index from Cell Ontology + Uberon + EFO obographs "
            "JSON: per-graph closures, EFO restricted under the cell root, "
            "first-non-null/union merge "
            "(reference: biosample_index.py:9-44)",
            ("cell_ontology", "uberon", "efo"),
            _run_biosample_index,
            {
                "cell_root": Param(
                    str, "CL_0000000", "ancestor id gating EFO terms"
                ),
            },
        ),
    ]
}


def coerce_param(spec: StepSpec, key: str, raw: str):
    """Cast a CLI ``--param key=value`` string to the declared type."""
    if key not in spec.params:
        raise KeyError(
            f"step {spec.name!r} has no param {key!r}; available: {sorted(spec.params)}"
        )
    t = spec.params[key].type
    if t is bool:
        if raw.lower() in ("1", "true", "yes"):
            return True
        if raw.lower() in ("0", "false", "no"):
            return False
        raise ValueError(f"param {key}: expected bool, got {raw!r}")
    return t(raw)


def run_step(
    spark: SparkSession,
    name: str,
    inputs: Mapping[str, str],
    output: str | None = None,
    params: Mapping[str, object] | None = None,
    write: bool = True,
) -> DataFrame | None:
    """Execute one registered step.

    Validates required inputs, merges params over defaults, runs the
    step, and (when ``write`` and the step isn't a sink) writes the
    result to ``output`` as parquet. Returns the result DataFrame
    (None for sink steps).
    """
    if name not in STEPS:
        raise KeyError(f"unknown step {name!r}; available: {sorted(STEPS)}")
    spec = STEPS[name]
    missing = [k for k in spec.inputs if k not in inputs]
    if missing:
        raise ValueError(f"step {name!r} missing inputs {missing}; needs {list(spec.inputs)}")
    merged = {k: v.default for k, v in spec.params.items()}
    for k, v in (params or {}).items():
        if k not in spec.params:
            raise KeyError(
                f"step {name!r} has no param {k!r}; available: {sorted(spec.params)}"
            )
        merged[k] = v
    if spec.sink and output is None:
        # sink steps consume the path themselves; fail with the same
        # clear message non-sink steps get instead of a JVM error
        # from a null path deep inside the writer
        raise ValueError(f"sink step {name!r} writes to --out, which was not given")
    df = spec.runner(spark, dict(inputs), output, merged)
    if df is not None and write:
        if output is None:
            raise ValueError(f"step {name!r} produced a result but no --out was given")
        df.write.mode("overwrite").parquet(output)
    return df
