"""Seeded input generators with planted ground truth.

Only numpy and pyarrow run here, so generating inputs never touches
Spark and never falls inside a timed section. The same seed gives the
same files; the amount of work (rows, loci, overlapping pairs,
duplicate pairs) does not depend on the seed, only the values do.
"""

from __future__ import annotations

import math
import os
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# --- coloc --------------------------------------------------------------

COLOC_DISTANCE = 500_000  # clumping window and locus half-width (bp)
GWAS_SIGNIFICANCE = 1e-8
QTL_SIGNIFICANCE = 1e-5
SITE_SPACING = 2_000_000  # > 2 x COLOC_DISTANCE: loci never share tags across sites
VARIANT_SPACING = 1_000
BACKGROUND_Z = 2.5  # |z| bound off a planted cluster: p > 0.012, never a lead
LD_DECAY = 0.8  # planted z falls by this factor per grid step from the causal variant
SUMSTATS_SCHEMA = pa.schema(
    [
        ("studyId", pa.string()),
        ("variantId", pa.string()),
        ("chromosome", pa.string()),
        ("position", pa.int32()),
        ("beta", pa.float64()),
        ("standardError", pa.float64()),
        ("pValueMantissa", pa.float32()),
        ("pValueExponent", pa.int32()),
    ]
)


@dataclass(frozen=True)
class ColocShape:
    chromosomes: int = 4
    sites_per_chromosome: int = 8
    variants_per_site: int = 200
    gwas_studies: int = 4
    qtl_studies: int = 8
    # Every site is one of four kinds, in fixed numbers (the seed only
    # shuffles which site is which): shared GWAS+QTL signal, GWAS-only,
    # QTL-only, or no signal. Per kind: (GWAS studies, QTL studies)
    # carrying the planted causal variant.
    kinds: tuple = (("shared", 2, 2), ("gwas", 2, 0), ("qtl", 0, 2), ("none", 0, 0))


@dataclass
class ColocTruth:
    """What the generator planted: one entry per (study, site) signal."""

    gwas_path: str
    qtl_path: str
    # study -> arrays over the study's rows, in file order
    z: dict = field(default_factory=dict)
    se: dict = field(default_factory=dict)
    # list of (studyId, studyType, chromosome, site index, causal variant index)
    signals: list = field(default_factory=list)
    chrom: np.ndarray = None  # per grid row
    position: np.ndarray = None
    variant_id: list = None
    site: np.ndarray = None  # per grid row: global site index
    variants_per_site: int = 0


def pvalue_parts(z: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Two-sided normal p-value of z as (mantissa, exponent), p = m * 10^e."""
    p = np.array([math.erfc(abs(v) / math.sqrt(2.0)) for v in z])
    exponent = np.floor(np.log10(p)).astype(np.int32)
    mantissa = (p / 10.0 ** exponent.astype(np.float64)).astype(np.float32)
    return mantissa, exponent


def make_coloc_inputs(seed: int, out_dir: str, shape: ColocShape = ColocShape()) -> ColocTruth:
    rng = np.random.default_rng(seed)
    n_sites = shape.chromosomes * shape.sites_per_chromosome
    kinds = [k for k in shape.kinds for _ in range(n_sites // len(shape.kinds))]
    kinds += [shape.kinds[-1]] * (n_sites - len(kinds))
    kinds = [kinds[i] for i in rng.permutation(n_sites)]

    v = shape.variants_per_site
    site = np.repeat(np.arange(n_sites), v)
    chrom_idx = site // shape.sites_per_chromosome
    offset = np.tile(np.arange(v), n_sites)
    position = (
        1_000_000 + (site % shape.sites_per_chromosome) * SITE_SPACING + offset * VARIANT_SPACING
    ).astype(np.int32)
    chrom = np.array([str(c + 1) for c in chrom_idx])
    variant_id = [f"{c}_{p}_A_G" for c, p in zip(chrom, position)]

    gwas = [f"GWAS{i:02d}" for i in range(shape.gwas_studies)]
    qtl = [f"QTL{i:02d}" for i in range(shape.qtl_studies)]
    truth = ColocTruth(
        gwas_path=os.path.join(out_dir, "gwas.parquet"),
        qtl_path=os.path.join(out_dir, "qtl.parquet"),
        chrom=chrom,
        position=position,
        variant_id=variant_id,
        site=site,
        variants_per_site=v,
    )
    z = {s: rng.uniform(-BACKGROUND_Z, BACKGROUND_Z, size=site.size) for s in gwas + qtl}
    for s_idx, (_, n_g, n_q) in enumerate(kinds):
        causal = int(rng.integers(v // 4, 3 * v // 4))
        carriers = [("gwas", s) for s in rng.choice(gwas, n_g, replace=False)] + [
            ("eqtl", s) for s in rng.choice(qtl, n_q, replace=False)
        ]
        for study_type, study in carriers:
            z_causal = rng.uniform(9.0, 12.0) * rng.choice([-1.0, 1.0])
            rows = slice(s_idx * v, (s_idx + 1) * v)
            steps = np.abs(np.arange(v) - causal)
            # decayed signal plus bounded noise: |z| falls strictly with
            # distance from the causal variant (margin > 0.2 |z_causal| - 1)
            z[study][rows] = z_causal * LD_DECAY ** steps + rng.uniform(-1.0, 1.0, size=v)
            z[study][s_idx * v + causal] = z_causal
            truth.signals.append(
                (str(study), study_type, chrom[s_idx * v], s_idx, causal)
            )
    for s in gwas + qtl:
        truth.z[s] = z[s]
        truth.se[s] = rng.uniform(0.02, 0.08, size=site.size)
    _write_sumstats(truth.gwas_path, gwas, truth)
    _write_sumstats(truth.qtl_path, qtl, truth)
    return truth


def _write_sumstats(path: str, studies: list[str], t: ColocTruth) -> None:
    parts = []
    for s in studies:
        mant, expo = pvalue_parts(t.z[s])
        parts.append(
            pa.table(
                {
                    "studyId": [s] * t.site.size,
                    "variantId": t.variant_id,
                    "chromosome": t.chrom.tolist(),
                    "position": t.position,
                    "beta": t.z[s] * t.se[s],
                    "standardError": t.se[s],
                    "pValueMantissa": mant,
                    "pValueExponent": expo,
                },
                schema=SUMSTATS_SCHEMA,
            )
        )
    pq.write_table(pa.concat_tables(parts), path)


# --- loop ---------------------------------------------------------------

VOCAB = (
    "batch part spark line column order small sort fast value scan hash slow group agg "
    "filter query big key window row table stream merge data join vector customer the "
    "index cluster shard epoch ledger band bucket probe recall centroid label alias "
    "compact append build certify doctor lease crawl corpus token gram sketch drift"
).split()


DOCUMENTS = 1200
EXACT_DUP_SHARE = 0.05  # documents that copy an earlier text verbatim
NEAR_DUP_SHARE = 0.05  # documents that copy an earlier text with one word changed
DELTA_SHARE = 0.2  # the appended day's crawl: the last ids
WORDS = (40, 80)  # words per document, drawn in [low, high)
VECTORS = 1200
DIM = 16
CLUSTERS = 4


@dataclass
class LoopTruth:
    docs_hist: str
    docs_delta: str
    embeddings: str
    null_edges: str
    exact_pairs: list  # (earlier doc_id, copy doc_id)
    near_pairs: list


def make_loop_inputs(seed: int, out_dir: str) -> LoopTruth:
    rng = np.random.default_rng(seed)
    n = DOCUMENTS
    n_exact = int(round(n * EXACT_DUP_SHARE))
    n_near = int(round(n * NEAR_DUP_SHARE))
    texts = [
        " ".join(rng.choice(VOCAB, size=int(rng.integers(*WORDS))))
        for _ in range(n)
    ]
    # Every copy lives in the delta (the last DELTA_SHARE of the ids,
    # the day's crawl) and points back to a distinct original in the
    # history, so each injected pair is incident to the delta that
    # lsh_pairs scans against the index.
    cut = int(n * (1 - DELTA_SHARE))
    copies = cut + rng.permutation(n - cut)[: n_exact + n_near]
    originals = rng.permutation(cut)[: n_exact + n_near]
    exact, near = [], []
    for j, (c, o) in enumerate(zip(copies.tolist(), originals.tolist())):
        if j < n_exact:
            texts[c] = texts[o]
            exact.append((o, c))
        else:
            words = texts[o].split()
            k = int(rng.integers(len(words)))
            words[k] = "zzz" + words[k]
            texts[c] = " ".join(words)
            near.append((o, c))
    doc_ids = np.arange(n, dtype=np.int64)
    docs = pa.table(
        {
            "doc_id": doc_ids,
            "text": texts,
            "lang": ["en"] * n,
            "source": [f"src{i % 3}" for i in range(n)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )
    truth = LoopTruth(
        docs_hist=os.path.join(out_dir, "docs_hist.parquet"),
        docs_delta=os.path.join(out_dir, "docs_delta.parquet"),
        embeddings=os.path.join(out_dir, "embeddings.parquet"),
        null_edges=os.path.join(out_dir, "null_edges.parquet"),
        exact_pairs=exact,
        near_pairs=near,
    )
    pq.write_table(docs.slice(0, cut), truth.docs_hist)
    pq.write_table(docs.slice(cut), truth.docs_delta)

    centers = rng.normal(0.0, 1.0, size=(CLUSTERS, DIM))
    member = rng.integers(CLUSTERS, size=VECTORS)
    vecs = (centers[member] + rng.normal(0.0, 0.3, size=(VECTORS, DIM))).astype(
        np.float32
    )
    pq.write_table(
        pa.table(
            {
                "vec_id": np.arange(VECTORS, dtype=np.int64),
                "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
                "label": member.astype(np.int32),
            }
        ),
        truth.embeddings,
    )
    # The kept failing operation: a string-id edge table with a null
    # endpoint. Fixed, not seeded, so it fails identically every pass.
    pq.write_table(
        pa.table(
            {
                "leftId": pa.array(["a", "b", None], type=pa.string()),
                "rightId": pa.array(["b", "c", "d"], type=pa.string()),
            }
        ),
        truth.null_edges,
    )
    return truth
