"""The two workloads. Each exposes the same surface to run.py:

    prepare(seed, work_dir)             numpy/pyarrow only, untimed
    run_pass(spark, i)   -> failures    the timed pass: {op: error}
    check_pass(i)        -> {op: [problems]}   untimed
    trace_pass(spark, i, counters) -> ({layer metric: value}, failures)

A pass attempts the workload's OPS in order; an op that raises or whose
output check fails counts as failed, the run goes on.
"""

from __future__ import annotations

import os
import time
from contextlib import contextmanager, nullcontext

import numpy as np
import pyarrow.dataset as pads
import pyarrow.parquet as pq

import check
import gen
from probe import du_mb, rss_mb, timed

# --- coloc --------------------------------------------------------------

COLOC_OPS = ["coloc_pipeline"]
# layer name -> the public functions of that module coloc_pipeline calls
COLOC_LAYERS = {
    "clumping": [("pipelines", "window_based_clumping")],
    "locus_statistics": [("pipelines", "annotate_locus_statistics")],
    "finemapping": [("pipelines", "finemap_abf")],
    "credible_sets": [("pipelines", "annotate_credible_sets")],
    "overlaps": [("operators.overlaps", "find_overlaps")],
    "coloc": [("operators.coloc", "ecaviar"), ("operators.coloc", "coloc")],
}
COLOC_LAYER_METRICS = ["build_s", "plan_s", "exec_s", "exec_cpu_s", "tasks", "jobs", "shuffle_mb"]


class Coloc:
    ops = COLOC_OPS

    def prepare(self, seed: int, work_dir: str):
        self.truth = gen.make_coloc_inputs(seed, work_dir)
        self.expected = check.expected_coloc(self.truth)
        self.study_of = {k: v["studyId"] for k, v in check.expected_loci(self.truth).items()}
        self.rows = {}

    def _pipeline(self, spark):
        from genetics_spark_coloc_spark.pipelines import coloc_pipeline

        return coloc_pipeline(
            spark.read.parquet(self.truth.gwas_path),
            spark.read.parquet(self.truth.qtl_path),
            distance=gen.COLOC_DISTANCE,
            gwas_significance=gen.GWAS_SIGNIFICANCE,
            qtl_significance=gen.QTL_SIGNIFICANCE,
        )

    def run_pass(self, spark, i: int) -> dict:
        try:
            self.rows[i] = [r.asDict() for r in self._pipeline(spark).collect()]
        except Exception as e:  # counted, the run goes on
            return {"coloc_pipeline": f"{type(e).__name__}: {e}"}
        return {}

    def check_pass(self, i: int) -> dict:
        if i not in self.rows:
            return {}
        return {"coloc_pipeline": check.check_coloc(self.rows.pop(i), self.expected, self.study_of)}

    def trace_pass(self, spark, i: int, counters) -> tuple[dict, dict]:
        """Whole-pipeline build and plan, then each operator in
        coloc_pipeline's order on the previous operator's materialised
        output, each in its own span."""
        out = {}
        rec: dict = {}
        with counters.span(rec):
            with timed(rec, "build_s"):
                df = self._pipeline(spark)
            with timed(rec, "plan_s"):
                df._jdf.queryExecution().executedPlan()
        out["pipelines.build_s"], out["pipelines.plan_s"] = rec["build_s"], rec["plan_s"]

        recs = {layer: {} for layer in COLOC_LAYERS}
        t = time.perf_counter()
        with _patched_layers(counters, recs):
            failures = self.run_pass(spark, i)
        out["trace.pass_s"] = time.perf_counter() - t
        for layer, r in recs.items():
            for m in COLOC_LAYER_METRICS:
                out[f"{layer}.{m}"] = r.get(m, 0.0)
        return out, failures


def _traced(fn, counters, rec):
    def call(*args, **kwargs):
        with counters.span(rec):
            with timed(rec, "build_s"):
                df = fn(*args, **kwargs)
            with timed(rec, "plan_s"):
                df._jdf.queryExecution().executedPlan()
            with timed(rec, "exec_s"):
                df = df.localCheckpoint(eager=True)
        return df

    return call


@contextmanager
def _patched_layers(counters, recs):
    """Wrap the module attributes coloc_pipeline resolves at call time;
    restore them on exit."""
    import importlib

    saved = []
    for layer, targets in COLOC_LAYERS.items():
        for mod_name, attr in targets:
            mod = importlib.import_module(f"genetics_spark_coloc_spark.{mod_name}")
            saved.append((mod, attr, getattr(mod, attr)))
            setattr(mod, attr, _traced(getattr(mod, attr), counters, recs[layer]))
    try:
        yield
    finally:
        for mod, attr, fn in saved:
            setattr(mod, attr, fn)


# --- loop ---------------------------------------------------------------

# (label, step, inputs, output, params); {o} is the pass's fresh output
# directory, {t} its catalog table name; a bare name is a generated input.
LOOP_CHAIN = [
    ("lsh_band_index", "lsh_band_index", {"corpus": "docs_hist"}, "{t}", {"num_buckets": 16}),
    ("lsh_band_index.append", "lsh_band_index", {"corpus": "docs_delta"}, "{t}", {"mode": "append"}),
    ("lsh_pairs", "lsh_pairs", {"corpus": "docs_delta"}, "{o}/pairs", {"index": "{t}"}),
    ("cc_labels", "cc_labels", {"edges": "{o}/pairs"}, "{o}/cc", {}),
    ("cc_labels.append", "cc_labels", {"edges": "{o}/pairs"}, "{o}/cc", {"mode": "append"}),
    ("cc_labels.compact", "cc_labels", {"edges": "{o}/pairs"}, "{o}/cc", {"mode": "compact"}),
    ("table_filter.hist", "table_filter", {"table": "embeddings"}, "{o}/hist", {"predicate": "vec_id % 10 != 0"}),
    ("table_filter.delta", "table_filter", {"table": "embeddings"}, "{o}/delta", {"predicate": "vec_id % 10 = 0"}),
    ("kmeans_centroids", "kmeans_centroids", {"corpus": "{o}/hist"}, "{o}/cents", {"k": 4, "dim": gen.DIM}),
    ("ivf_index", "ivf_index", {"corpus": "{o}/hist", "centroids": "{o}/cents"}, "{o}/ivf", {}),
    ("ivf_index.append", "ivf_index", {"corpus": "{o}/delta", "centroids": "{o}/cents"}, "{o}/ivf", {"mode": "append"}),
    (
        "ivf_index.certify",
        "ivf_index",
        {"corpus": "embeddings", "centroids": "{o}/cents"},
        "{o}/ivf",
        {"mode": "certify", "certify_nprobe": 2, "recall_floor": 0.5},
    ),
    ("doctor", "doctor", {"index": "{o}/ivf"}, "{o}/doctor", {"kind": "ivf"}),
    # Kept failing until the fault is mended: a null endpoint in a
    # string-id edge table raises in the driver union-find.
    ("cc_labels.null_endpoint", "cc_labels", {"edges": "null_edges"}, "{o}/cc_null", {}),
]
LOOP_LAYER_METRICS = ["s", "jobs", "shuffle_mb", "write_mb"]
LOOP_RSS_STEPS = ["cc_labels", "cc_labels.append", "cc_labels.compact", "kmeans_centroids"]
LOOP_TRACED = [c[0] for c in LOOP_CHAIN if c[0] != "cc_labels.null_endpoint"]


class Loop:
    ops = [c[0] for c in LOOP_CHAIN]

    def prepare(self, seed: int, work_dir: str):
        self.work = work_dir
        self.warehouse = os.path.join(work_dir, "warehouse")
        self.truth = gen.make_loop_inputs(seed, work_dir)
        self.inputs = {
            "docs_hist": self.truth.docs_hist,
            "docs_delta": self.truth.docs_delta,
            "embeddings": self.truth.embeddings,
            "null_edges": self.truth.null_edges,
        }

    def _resolve(self, i: int, s: str) -> str:
        s = s.format(o=os.path.join(self.work, f"pass{i}"), t=f"band_index_p{i}")
        return self.inputs.get(s, s)

    def _steps(self, i: int):
        for label, step, ins, out, params in LOOP_CHAIN:
            yield (
                label,
                step,
                {k: self._resolve(i, v) for k, v in ins.items()},
                self._resolve(i, out),
                {k: self._resolve(i, v) if isinstance(v, str) else v for k, v in params.items()},
            )

    def run_pass(self, spark, i: int, around=None) -> dict:
        from genetics_spark_coloc_spark.steps import run_step

        os.makedirs(os.path.join(self.work, f"pass{i}"))
        failures = {}
        for label, step, ins, out, params in self._steps(i):
            with around(label, out) if around else nullcontext():
                try:
                    run_step(spark, step, ins, out, params)
                except Exception as e:  # counted, the run goes on
                    failures[label] = f"{type(e).__name__}: {e}"
        return failures

    def check_pass(self, i: int) -> dict:
        o = os.path.join(self.work, f"pass{i}")
        # an output missing without its step raising is itself wrong
        problems = {label: ["no output"] for label in ("lsh_pairs", "cc_labels.compact", "ivf_index.append", "doctor")}
        pairs, labels = _read(f"{o}/pairs"), _read(f"{o}/cc")
        if pairs is not None:
            edges = list(zip(pairs["leftId"].to_pylist(), pairs["rightId"].to_pylist()))
            problems["lsh_pairs"] = check.check_exact_pairs(edges, self.truth.exact_pairs)
            if labels is not None:
                problems["cc_labels.compact"] = check.check_labels(
                    dict(zip(labels["id"].to_pylist(), labels["component"].to_pylist())), edges
                )
        members, cents = _read(f"{o}/ivf", hive=True), _read(f"{o}/ivf/_centroids")
        if members is not None and cents is not None:
            problems["ivf_index.append"] = check.check_ivf(
                np.array(members["vv"].to_pylist(), dtype=np.float64),
                np.array(members["centroidId"].to_pylist()),
                np.array(cents["vec_id"].to_pylist()),
                np.array(cents["embedding"].to_pylist(), dtype=np.float64),
            )
        doctor = _read(f"{o}/doctor")
        if doctor is not None:
            problems["doctor"] = check.check_doctor(
                list(zip(doctor["check"].to_pylist(), doctor["status"].to_pylist(), doctor["detail"].to_pylist()))
            )
        null_labels = _read(f"{o}/cc_null")
        if null_labels is not None:  # the fault is mended: check the result too
            e = _read(self.truth.null_edges)
            kept = [
                (a, b)
                for a, b in zip(e["leftId"].to_pylist(), e["rightId"].to_pylist())
                if a is not None and b is not None
            ]
            problems["cc_labels.null_endpoint"] = check.check_labels(
                dict(zip(null_labels["id"].to_pylist(), null_labels["component"].to_pylist())), kept
            )
        return problems

    def trace_pass(self, spark, i: int, counters) -> tuple[dict, dict]:
        recs = {label: {} for label in LOOP_TRACED}

        @contextmanager
        def around(label, out):
            if label not in recs:
                yield
                return
            rec = recs[label]
            before = rss_mb(counters.jvm_pid)
            with counters.span(rec), timed(rec, "s"):
                yield
            rec["driver_rss_mb"] = rss_mb(counters.jvm_pid) - before
            path = out if os.path.isabs(out) else os.path.join(self.warehouse, out)
            rec["write_mb"] = du_mb(path) + (0.0 if os.path.isabs(out) else du_mb(f"{path}_bucket_counts"))

        t = time.perf_counter()
        failures = self.run_pass(spark, i, around)
        out = {"trace.pass_s": time.perf_counter() - t}
        for label, rec in recs.items():
            for m in LOOP_LAYER_METRICS:
                out[f"steps.{label}.{m}"] = rec.get(m, 0.0)
            if label in LOOP_RSS_STEPS:
                out[f"steps.{label}.driver_rss_mb"] = rec.get("driver_rss_mb", 0.0)
        return out, failures


def _read(path: str, hive: bool = False):
    if not os.path.exists(path):
        return None
    if hive:
        return pads.dataset(path, format="parquet", partitioning="hive").to_table()
    return pq.read_table(path)


WORKLOADS = {"coloc": Coloc, "loop": Loop}

