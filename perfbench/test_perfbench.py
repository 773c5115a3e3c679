"""Tests of the benchmark's own logic: metric aggregation, generators and
the independent checks, on tiny inputs. No Spark session is started.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import math
import os
import shutil
import subprocess
import sys

import numpy as np
import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import check  # noqa: E402
import gen  # noqa: E402
import steady  # noqa: E402
from run import Tally  # noqa: E402

TINY = gen.ColocShape(chromosomes=2, sites_per_chromosome=4, variants_per_site=12, gwas_studies=3, qtl_studies=3)


# --- aggregation ----------------------------------------------------------


def test_spread_is_quartile_distance_over_median():
    vals = [1.0, 2.0, 3.0, 4.0, 5.0, 6.0, 7.0, 8.0, 9.0, 10.0]
    q1, q2, q3 = steady.quartiles(vals)
    assert (q1, q2, q3) == (2.75, 5.5, 8.25)
    assert steady.spread(vals) == pytest.approx(5.5 / 5.5)


def test_worse_by_follows_direction():
    assert steady.worse_by(10.0, 11.0, "lower") == pytest.approx(0.1)
    assert steady.worse_by(10.0, 11.0, "higher") == pytest.approx(-0.1)


def _result(value, failed=1, attempted=14):
    return {"correct": True, "failed": failed, "attempted": attempted,
            "metrics": {"setup_s": {"value": value}, "pass_s": {"value": value}}}


SPEC = {"end_to_end": [
    {"name": "setup_s", "better": "lower", "bound": 0.1},
    {"name": "pass_s", "better": "lower", "bound": 0.1},
]}


def test_summarise_flags_wide_spread_but_not_for_setup():
    steady_set = [_result(v) for v in (10.0, 10.1, 9.9, 10.0, 10.05)]
    wide_set = [_result(v) for v in (5.0, 10.0, 15.0, 10.0, 20.0)]
    lines, ok = steady.summarise([steady_set, steady_set], SPEC)
    assert ok
    lines, ok = steady.summarise([steady_set, wide_set], SPEC)
    assert not ok
    assert any("pass_s" in line and "WIDE" in line for line in lines)
    assert not any("setup_s" in line and "WIDE" in line for line in lines)


def test_summarise_flags_sets_that_differ_in_either_direction():
    base = [_result(v) for v in (10.0, 10.1, 9.9, 10.0, 10.05)]
    slower = [_result(v * 1.3) for v in (10.0, 10.1, 9.9, 10.0, 10.05)]
    faster = [_result(v * 0.7) for v in (10.0, 10.1, 9.9, 10.0, 10.05)]
    for later in (slower, faster):
        lines, ok = steady.summarise([base, later], SPEC)
        assert not ok
        assert any("pass_s" in line and "DIFFERS" in line for line in lines)
    assert steady.summarise([base, [_result(v * 0.95) for v in (10.0, 10.1, 9.9, 10.0, 10.05)]], SPEC)[1]


def test_summarise_requires_identical_failed_share():
    a = [_result(10.0, 1, 14) for _ in range(4)]
    b = [_result(10.0, 2, 28) for _ in range(4)]
    assert steady.summarise([a, b], SPEC)[1]  # 1/14 == 2/28
    c = [_result(10.0, 1, 28) for _ in range(4)]
    assert not steady.summarise([a, c], SPEC)[1]


def test_tally_counts_whole_rounds():
    t = Tally(["a", "b", "c"])
    t.add({"c": "TypeError"}, {})
    t.add({"c": "TypeError"}, {"a": []})
    assert (t.attempted, t.failed, t.correct) == (6, 2, True)
    t.add({}, {"b": ["wrong"]})
    assert (t.attempted, t.failed, t.correct) == (9, 3, False)


# --- generators -------------------------------------------------------------


def test_coloc_inputs_repeat_per_seed_and_keep_work_fixed(tmp_path):
    for d in "abc":
        os.makedirs(tmp_path / d)
    a = gen.make_coloc_inputs(7, str(tmp_path / "a"), TINY)
    b = gen.make_coloc_inputs(7, str(tmp_path / "b"), TINY)
    c = gen.make_coloc_inputs(8, str(tmp_path / "c"), TINY)
    assert pq.read_table(a.gwas_path).equals(pq.read_table(b.gwas_path))
    assert not pq.read_table(a.gwas_path).equals(pq.read_table(c.gwas_path))
    assert len(check.expected_coloc(a)) == len(check.expected_coloc(c))


def test_planted_lead_is_the_unique_most_significant_variant(tmp_path):
    t = gen.make_coloc_inputs(3, str(tmp_path), TINY)
    v = t.variants_per_site
    for study, study_type, _, s_idx, causal in t.signals:
        z = np.abs(t.z[study][s_idx * v:(s_idx + 1) * v])
        assert np.argmax(z) == causal
        assert np.sort(z)[-2] < z[causal] - 0.5
        cutoff = gen.GWAS_SIGNIFICANCE if study_type == "gwas" else gen.QTL_SIGNIFICANCE
        assert math.erfc(z[causal] / math.sqrt(2)) < cutoff
    # off-signal rows stay below every significance cutoff
    carriers = {(s, i) for s, _, _, i, _ in t.signals}
    for study, z in t.z.items():
        for s_idx in range(t.site.max() + 1):
            if (study, s_idx) not in carriers:
                assert np.abs(z[s_idx * v:(s_idx + 1) * v]).max() <= gen.BACKGROUND_Z


def test_pvalue_parts_round_trip():
    mant, expo = gen.pvalue_parts(np.array([0.0, 2.0, 10.0]))
    p = mant.astype(float) * 10.0 ** expo
    assert p == pytest.approx([1.0, math.erfc(2 / math.sqrt(2)), math.erfc(10 / math.sqrt(2))], rel=1e-6)
    assert ((mant >= 1) & (mant < 10)).all()


def test_loop_copies_sit_in_the_delta(tmp_path):
    t = gen.make_loop_inputs(5, str(tmp_path))
    hist = set(pq.read_table(t.docs_hist)["doc_id"].to_pylist())
    delta = pq.read_table(t.docs_delta)
    text = dict(zip(delta["doc_id"].to_pylist(), delta["text"].to_pylist()))
    orig = dict(zip(pq.read_table(t.docs_hist)["doc_id"].to_pylist(), pq.read_table(t.docs_hist)["text"].to_pylist()))
    assert len(t.exact_pairs) == len(t.near_pairs) == 60
    for o, c in t.exact_pairs:
        assert o in hist and text[c] == orig[o]
    for o, c in t.near_pairs:
        assert o in hist and text[c] != orig[o]


# --- checks -------------------------------------------------------------------


def test_expected_coloc_invariants_and_pair_count(tmp_path):
    t = gen.make_coloc_inputs(11, str(tmp_path), TINY)
    exp = check.expected_coloc(t)
    # per "shared" site: 2x2 GWAS/QTL pairs + 1 GWAS/GWAS; per "gwas" site: 1
    n_sites_per_kind = TINY.chromosomes * TINY.sites_per_chromosome // 4
    assert len([k for k in exp if k[2] == "eCAVIAR"]) == n_sites_per_kind * 6
    for key, row in exp.items():
        if key[2] == "COLOC":
            assert sum(row[f"h{i}"] for i in range(5)) == pytest.approx(1.0, abs=1e-12)
            assert row["h4"] > 0.5  # the planted signal is shared by construction
        else:
            assert 0.0 <= row["clpp"] <= 1.0


def test_check_coloc_accepts_the_recomputation_and_catches_a_change(tmp_path):
    t = gen.make_coloc_inputs(12, str(tmp_path), TINY)
    exp = check.expected_coloc(t)
    study_of = {k: v["studyId"] for k, v in check.expected_loci(t).items()}
    cols = ["clpp", "h0", "h1", "h2", "h3", "h4"]
    rows = [
        {"leftStudyLocusId": l, "rightStudyLocusId": r, "colocalisationMethod": m,
         **{c: None for c in cols}, **v}
        for (l, r, m), v in exp.items()
    ]
    assert check.check_coloc(rows, exp, study_of) == []
    rows[0] = {**rows[0], "numberColocalisingVariants": rows[0]["numberColocalisingVariants"] + 1}
    assert check.check_coloc(rows, exp, study_of)
    assert check.check_coloc(rows[1:], exp, study_of)


def test_union_find_labels_by_smallest_id():
    assert check.union_find([(3, 1), (1, 2), (7, 9), (9, 8)]) == {1: 1, 2: 1, 3: 1, 7: 7, 8: 7, 9: 7}
    assert check.check_labels({1: 1, 2: 1}, [(1, 2)]) == []
    assert check.check_labels({1: 1, 2: 2}, [(1, 2)])


def test_exact_pairs_in_either_orientation():
    assert check.check_exact_pairs([(5, 2), (7, 8)], [(2, 5)]) == []
    assert check.check_exact_pairs([(7, 8)], [(2, 5)])


def test_ivf_argmin_centroid():
    cents = np.array([[1.0, 0.0], [0.0, 1.0]])
    vecs = np.array([[2.0, 0.1], [0.1, 3.0]])
    assert check.check_ivf(vecs, np.array([10, 11]), np.array([10, 11]), cents) == []
    assert check.check_ivf(vecs, np.array([11, 11]), np.array([10, 11]), cents)


def test_doctor_needs_every_check_ok():
    assert check.check_doctor([("a", "ok", ""), ("b", "ok", "")]) == []
    assert check.check_doctor([("a", "ok", ""), ("b", "warning", "")])
    assert check.check_doctor([])


# --- command --------------------------------------------------------------------


def test_run_fails_without_the_engine(tmp_path):
    """In a directory holding only the benchmark, the command exits
    non-zero and prints no result."""
    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "coloc", "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
        env={k: v for k, v in os.environ.items() if k != "PYTHONPATH"},
    )
    assert proc.returncode != 0
    assert '"metrics"' not in proc.stdout
