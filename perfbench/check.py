"""Output checks made apart from the program: numpy recomputations from
the generator's ground truth, a union-find, and invariants. Each check
returns a list of problems; an empty list means the output is right."""

from __future__ import annotations

import hashlib
import math

import numpy as np

from gen import COLOC_DISTANCE, ColocTruth

ABF_W = 0.15 * 0.15  # Wakefield prior effect variance
PRIOR_C1, PRIOR_C2, PRIOR_C12 = 1e-4, 1e-4, 1e-5
PSEUDOCOUNT = 1e-10
OVERLAP_SIZE_CUTOFF = 5
POSTERIOR_CUTOFF = 0.5
TOL = 1e-9


def _logsumexp(x: np.ndarray) -> float:
    m = float(np.max(x))
    return m + math.log(float(np.sum(np.exp(x - m))))


def expected_loci(t: ColocTruth) -> dict:
    """studyLocusId -> locus: the planted causal variant is the lead, and
    every variant of the study within the window is a tag with its
    Wakefield ABF posterior."""
    loci = {}
    for study, study_type, chrom, s_idx, causal in t.signals:
        lead = s_idx * t.variants_per_site + causal
        lead_id = t.variant_id[lead]
        tags = np.where(
            (t.chrom == chrom) & (np.abs(t.position - t.position[lead]) <= COLOC_DISTANCE)
        )[0]
        z, se = t.z[study][tags], t.se[study][tags]
        r = ABF_W / (ABF_W + se * se)
        log_abf = 0.5 * np.log(1 - r) + z * z * r / 2
        pp = np.exp(log_abf - log_abf.max())
        pp /= pp.sum()
        slid = hashlib.md5(f"{study}|{lead_id}".encode()).hexdigest()
        loci[slid] = {
            "studyId": study,
            "studyType": study_type,
            "chromosome": chrom,
            "tags": {t.variant_id[i]: (lb, p, z_ * s_) for i, lb, p, z_, s_ in zip(tags, log_abf, pp, z, se)},
        }
    return loci


def expected_coloc(t: ColocTruth) -> dict:
    """(left, right, method) -> expected row values, for every pair of
    loci the overlap rule keeps: same chromosome, a shared tag, a GWAS
    left side, and for GWAS/GWAS pairs the larger id on the left."""
    loci = expected_loci(t)
    out = {}
    for lid, left in loci.items():
        if left["studyType"] != "gwas":
            continue
        for rid, right in loci.items():
            if right["chromosome"] != left["chromosome"]:
                continue
            if not set(left["tags"]) & set(right["tags"]):
                continue
            if right["studyType"] == "gwas" and not lid > rid:
                continue
            tags = sorted(set(left["tags"]) | set(right["tags"]))
            both = [v for v in tags if v in left["tags"] and v in right["tags"]]
            n_both = len(both)
            lbf_l = np.array([left["tags"].get(v, (0.0, 0.0, None))[0] for v in tags])
            lbf_r = np.array([right["tags"].get(v, (0.0, 0.0, None))[0] for v in tags])
            clpp = sum(left["tags"][v][1] * right["tags"][v][1] for v in both)
            signs = [
                np.sign(left["tags"][v][2] / right["tags"][v][2])
                for v in both
                if left["tags"][v][2] != 0 and right["tags"][v][2] != 0
            ]
            ratio = float(np.mean(signs)) if signs else None
            base = {
                "rightStudyType": right["studyType"],
                "chromosome": left["chromosome"],
                "numberColocalisingVariants": n_both,
                "betaRatioSignAverage": ratio,
            }
            out[(lid, rid, "eCAVIAR")] = {**base, "clpp": clpp}
            any_high = any(
                left["tags"][v][1] > POSTERIOR_CUTOFF and right["tags"][v][1] > POSTERIOR_CUTOFF
                for v in both
            )
            if n_both > OVERLAP_SIZE_CUTOFF or any_high:
                ls1, ls2, ls12 = _logsumexp(lbf_l), _logsumexp(lbf_r), _logsumexp(lbf_l + lbf_r)
                s = ls1 + ls2
                if s == ls12:
                    logdiff = PSEUDOCOUNT
                else:
                    mx = max(s, ls12)
                    logdiff = mx + math.log(math.exp(s - mx) - math.exp(ls12 - mx))
                lh = np.array(
                    [
                        0.0,
                        math.log(PRIOR_C1) + ls1,
                        math.log(PRIOR_C2) + ls2,
                        math.log(PRIOR_C1) + math.log(PRIOR_C2) + logdiff,
                        math.log(PRIOR_C12) + ls12,
                    ]
                )
                h = np.exp(lh - lh.max())
                h /= h.sum()
                out[(lid, rid, "COLOC")] = {**base, **{f"h{i}": float(h[i]) for i in range(5)}}
    return out


def _close(a, b) -> bool:
    if a is None or b is None:
        return a is None and b is None
    return abs(a - b) <= TOL + 1e-6 * abs(b)


def check_coloc(rows: list[dict], expected: dict, study_of: dict) -> list[str]:
    """Compare pipeline rows to the recomputation, plus invariants: h0..h4
    sum to 1, CLPP in [0, 1], every pair shares a tag, no pair within
    one study."""
    problems = []
    got = {}
    for r in rows:
        key = (r["leftStudyLocusId"], r["rightStudyLocusId"], r["colocalisationMethod"])
        if key in got:
            problems.append(f"duplicate row {key}")
        got[key] = r
        if r["numberColocalisingVariants"] is None or r["numberColocalisingVariants"] < 1:
            problems.append(f"{key}: pair shares no tag")
        if study_of.get(key[0]) is not None and study_of.get(key[0]) == study_of.get(key[1]):
            problems.append(f"{key}: both loci from study {study_of[key[0]]}")
        if key[2] == "COLOC":
            hs = [r[f"h{i}"] for i in range(5)]
            if any(h is None for h in hs) or abs(sum(hs) - 1.0) > 1e-9:
                problems.append(f"{key}: h0..h4 sum to {sum(h or 0 for h in hs)}")
        elif r["clpp"] is None or not 0.0 <= r["clpp"] <= 1.0 + 1e-12:
            problems.append(f"{key}: clpp {r['clpp']} outside [0, 1]")
    if set(got) != set(expected):
        missing, extra = set(expected) - set(got), set(got) - set(expected)
        problems.append(f"pairs differ: {len(missing)} missing, {len(extra)} unexpected")
    for key in set(got) & set(expected):
        for col, want in expected[key].items():
            have = got[key][col]
            ok = have == want if isinstance(want, (str, int)) else _close(have, want)
            if not ok:
                problems.append(f"{key} {col}: got {have}, expected {want}")
    return problems


def union_find(pairs) -> dict:
    """id -> smallest id of its connected component."""
    parent: dict = {}

    def find(x):
        root = x
        while parent.get(root, root) != root:
            root = parent[root]
        while x != root:
            parent[x], x = root, parent[x]
        return root

    for a, b in pairs:
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in parent}


def check_labels(labels: dict, pairs) -> list[str]:
    want = union_find(pairs)
    if labels == want:
        return []
    wrong = sum(1 for k in want if labels.get(k) != want[k])
    extra = len(set(labels) - set(want))
    return [f"cc_labels: {wrong} of {len(want)} vertices mislabelled, {extra} unexpected ids"]


def check_exact_pairs(pairs, exact) -> list[str]:
    have = {frozenset(p) for p in pairs}
    missing = [p for p in exact if frozenset(p) not in have]
    return [f"lsh_pairs: {len(missing)} of {len(exact)} exact duplicates missing"] if missing else []


def check_ivf(vectors: np.ndarray, assigned: np.ndarray, centroid_ids: np.ndarray, centroids: np.ndarray) -> list[str]:
    """Each member's list is its nearest centroid by cosine distance;
    ties within the 6-decimal rounding the index applies are accepted."""
    x = vectors / np.linalg.norm(vectors, axis=1, keepdims=True)
    c = centroids / np.linalg.norm(centroids, axis=1, keepdims=True)
    dist = 1.0 - x @ c.T
    col = {cid: j for j, cid in enumerate(centroid_ids.tolist())}
    mine = dist[np.arange(len(x)), [col[a] for a in assigned.tolist()]]
    bad = int(np.sum(mine > dist.min(axis=1) + 1e-6))
    return [f"ivf_index: {bad} of {len(x)} members not in their nearest list"] if bad else []


def check_doctor(rows: list[tuple]) -> list[str]:
    bad = [f"{c}={s}" for c, s, _ in rows if s != "ok"]
    if not rows:
        return ["doctor: no checks reported"]
    return [f"doctor: {', '.join(bad)}"] if bad else []
