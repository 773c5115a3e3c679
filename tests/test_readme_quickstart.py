"""The README production-loop quickstart, pinned as CI (VERDICT r11
task #4): the commands are PARSED OUT OF README.md and executed, so
the copy-paste path rots with the docs, not alongside them — a step
rename, a param change, or a flag removal fails this test by name
instead of surfacing when a user pastes the block.

Each command runs as its own `python -m` subprocess (the exact
surface the README documents) in a scratch cwd, so catalog tables
land in a throwaway spark-warehouse; `$D` and the `/tmp/quickstart_`
output prefix are substituted with test paths, nothing else is
rewritten.
"""

from __future__ import annotations

import os
import re
import shlex
import subprocess
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SF = "/root/testdata/sf0.001"


def _quickstart_commands() -> list[str]:
    """Extract the `python -m ...` commands from the production-loop
    quickstart's bash block, backslash-continuations joined."""
    with open(os.path.join(REPO, "README.md")) as fh:
        text = fh.read()
    m = re.search(
        r"### Production loop quickstart.*?```bash\n(.*?)```", text, re.S
    )
    assert m, "README production-loop quickstart bash block not found"
    block = m.group(1).replace("\\\n", " ")
    cmds = [
        line.strip()
        for line in block.splitlines()
        if line.strip().startswith("python -m")
    ]
    assert len(cmds) >= 6, cmds
    return cmds


def test_readme_production_loop_runs(tmp_path):
    cmds = _quickstart_commands()
    env = {
        **os.environ,
        "PYTHONPATH": REPO + os.pathsep + os.environ.get("PYTHONPATH", ""),
        # each command's JVM lives ~15 s on sf0.001 data, too short for
        # the C2 compiler to pay back: C1-only JIT takes 8 concurrent
        # commands from ~78 s to ~43 s on 4 cores (same commands, same
        # outputs)
        "JAVA_TOOL_OPTIONS": (
            os.environ.get("JAVA_TOOL_OPTIONS", "") + " -XX:TieredStopAtLevel=1"
        ).strip(),
    }
    # Each command still runs as its own `python -m` subprocess (the
    # exact copy-paste surface), but INDEPENDENT command chains run
    # concurrently (guide §2.6 applied to the harness): ~12 s of each
    # command's ~14 s wall is interpreter+JVM+session fixed cost, so
    # the strictly sequential loop spent ~7 minutes mostly booting
    # JVMs. Dependencies are derived from the commands' own artifact
    # tokens — every /tmp/quickstart_* path and every bare catalog
    # `--out` name (crawl_band_index) — and a command waits for every
    # earlier command that WROTE anything it touches (or touched
    # anything it writes, so an in-place append/compact can never
    # overtake a reader of the previous version). Within a family
    # (build → append → compact → read) the original README order is
    # therefore preserved exactly; only unrelated families overlap.
    # Catalog (derby) access stays serialized for free: the only
    # catalog-using commands are the lsh_band_index/lsh_pairs chain,
    # already ordered by the crawl_band_index token (asserted below).
    resolved = []
    for cmd in cmds:
        cmd = cmd.replace("$D", SF).replace(
            "/tmp/quickstart_", f"{tmp_path}/quickstart_"
        )
        argv = [
            sys.executable if a == "python" else a for a in shlex.split(cmd)
        ]
        # keep the subprocess sessions small: the quickstart documents
        # the surface, not a perf claim
        argv += ["--master", "local[4]", "--shuffle-partitions", "4"]
        resolved.append((cmd, argv))

    tmp_prefix = str(tmp_path)
    outs = []
    for cmd, argv in resolved:
        assert "--out" in argv, f"quickstart command has no --out: {cmd}"
        outs.append(argv[argv.index("--out") + 1])
    bare_outs = {o for o in outs if "/" not in o}
    catalog_steps = {"lsh_band_index", "lsh_pairs"}
    for cmd, argv in resolved:
        step = argv[argv.index("run") + 1]
        touches_catalog = any(
            part in bare_outs for a in argv for part in a.split("=")
        )
        assert step in catalog_steps or not touches_catalog, (
            f"only {sorted(catalog_steps)} may use a catalog table, "
            f"but this command does: {cmd}"
        )

    def _touched(argv: list, out: str) -> tuple:
        written = {out}
        read = set()
        for a in argv:
            for part in a.split("="):
                if (
                    part.startswith(tmp_prefix) or part in bare_outs
                ) and part not in written:
                    read.add(part)
        return written, read

    art = [_touched(argv, out) for (_, argv), out in zip(resolved, outs)]
    deps: list = []
    for i in range(len(resolved)):
        w_i, r_i = art[i]
        d = set()
        for j in range(i):
            w_j, r_j = art[j]
            if (w_i & (w_j | r_j)) or (r_i & w_j):
                d.add(j)
        deps.append(d)

    import threading
    from concurrent.futures import ThreadPoolExecutor

    done = [threading.Event() for _ in resolved]
    failures: list = []

    def _run(i: int) -> None:
        try:
            for j in sorted(deps[i]):
                assert done[j].wait(timeout=900), f"dep {j} of {i} hung"
            if not failures:
                cmd, argv = resolved[i]
                r = subprocess.run(
                    argv, capture_output=True, text=True,
                    cwd=str(tmp_path), env=env, timeout=600,
                )
                if r.returncode != 0:
                    failures.append(
                        f"{cmd}\n--- stderr ---\n{r.stderr[-3000:]}"
                    )
        finally:
            done[i].set()

    # workers pull tasks in list order, so every dependency of a
    # running task has already started (deps always point backwards):
    # a blocked worker can only ever wait on a finished or running
    # task — no deadlock.
    with ThreadPoolExecutor(max_workers=8) as pool:
        list(pool.map(_run, range(len(resolved))))
    assert not failures, failures[0]

    outputs = set()
    for _, argv in resolved:
        for a in argv:
            if a.startswith(tmp_prefix):
                outputs.add(a)
    # every documented output materialized
    for out in outputs:
        assert os.path.exists(out), out
    # the loop's end products are well-formed: overlap/drift emit one
    # row, the scrub rebuilt every document, the compacted freq table
    # holds one row per segment hash
    import duckdb

    con = duckdb.connect()
    n_docs = con.execute(
        f"SELECT count(*) FROM '{SF}/documents.parquet'"
    ).fetchone()[0]
    scrubbed = f"{tmp_path}/quickstart_scrubbed.parquet"
    assert (
        con.execute(f"SELECT count(*) FROM '{scrubbed}/*.parquet'").fetchone()[0]
        == n_docs
    )
    overlap = f"{tmp_path}/quickstart_overlap.parquet"
    row = con.execute(
        f"SELECT estJaccard FROM '{overlap}/*.parquet'"
    ).fetchall()
    assert len(row) == 1 and row[0][0] == pytest.approx(1.0)
    drift = f"{tmp_path}/quickstart_drift.parquet"
    rows = con.execute(
        f"SELECT psi, driftAlert FROM '{drift}/*.parquet'"
    ).fetchall()
    assert len(rows) == 1 and rows[0][0] == pytest.approx(0.0)
    freq = f"{tmp_path}/quickstart_linefreq.parquet"
    n, nd = con.execute(
        f"SELECT count(*), count(DISTINCT segHash) FROM '{freq}/*.parquet'"
    ).fetchone()
    assert n == nd > 0
    # the compacted cluster labeling: one row per edged document, and
    # every component labels itself (min-id canonical invariant)
    cc = f"{tmp_path}/quickstart_cc_labels"
    n, nid = con.execute(
        f"SELECT count(*), count(DISTINCT id) FROM '{cc}/*.parquet'"
    ).fetchone()
    assert n == nid > 0
    dangling = con.execute(
        f"SELECT count(*) FROM '{cc}/*.parquet' l WHERE component NOT IN "
        f"(SELECT id FROM '{cc}/*.parquet')"
    ).fetchone()[0]
    assert dangling == 0
    # r14 (VERDICT r13 next #5): the ANN staleness gate ran on the
    # copy-paste path — the certification ledger exists inside the
    # index, records the quickstart's certify, and PASSED its floor
    import json

    cert_path = f"{tmp_path}/quickstart_ivf/_recall_cert.json"
    assert os.path.exists(cert_path)
    hist = json.load(open(cert_path))
    assert len(hist) == 1
    assert hist[0]["passed"] and hist[0]["recall_floor"] == 0.5
    assert hist[0]["recall_at_k"] >= 0.5
    # the doctor fsck reported a servable index: no failed invariants
    doctor = f"{tmp_path}/quickstart_doctor.parquet"
    statuses = dict(
        con.execute(
            f"""SELECT "check", status FROM '{doctor}/*.parquet'"""
        ).fetchall()
    )
    assert statuses and all(s in ("ok", "repaired") for s in statuses.values()), statuses
    assert statuses.get("recall_ledger") == "ok"
    # r14: the LM perplexity-filter loop ran on the copy-paste path —
    # the compacted model holds one row per gram, every document got
    # a finite frozen-model score, and the lm_table doctor kind
    # reports a servable model
    lm = f"{tmp_path}/quickstart_lm.parquet"
    n, ng = con.execute(
        f"SELECT count(*), count(DISTINCT gram) FROM '{lm}/*.parquet'"
    ).fetchone()
    assert n == ng > 0
    scores = f"{tmp_path}/quickstart_lm_scores.parquet"
    n_scored, n_null = con.execute(
        f"SELECT count(*), count(*) FILTER (avgLogScore IS NULL) "
        f"FROM '{scores}/*.parquet'"
    ).fetchone()
    assert n_scored == n_docs and n_null == 0
    lm_statuses = dict(
        con.execute(
            f"""SELECT "check", status
                FROM '{tmp_path}/quickstart_lm_doctor.parquet/*.parquet'"""
        ).fetchall()
    )
    assert lm_statuses and set(lm_statuses.values()) == {"ok"}, lm_statuses
    assert "prefix_consistency" in lm_statuses
    # r14: the BM25 retrieval loop ran on the copy-paste path — top-10
    # hits materialized with positive scores, and the bm25 doctor kind
    # reports a servable index (meta/postings counts agree)
    hits = f"{tmp_path}/quickstart_bm25_hits.parquet"
    n_hits, min_score = con.execute(
        f"SELECT count(*), min(score) FROM '{hits}/*.parquet'"
    ).fetchone()
    assert 0 < n_hits <= 10 and min_score > 0
    bm25_statuses = dict(
        con.execute(
            f"""SELECT "check", status
                FROM '{tmp_path}/quickstart_bm25_doctor.parquet/*.parquet'"""
        ).fetchall()
    )
    assert bm25_statuses and set(bm25_statuses.values()) == {"ok"}, bm25_statuses
    assert "postings_consistent" in bm25_statuses
    # ...and the gate GATES: the same certify with an unreachable
    # floor fails loudly (and still RECORDS the failed certification)
    certify_cmd = next(
        c for c in cmds if "mode=certify" in c and "ivf_index" in c
    )
    certify_cmd = certify_cmd.replace("$D", SF).replace(
        "/tmp/quickstart_", f"{tmp_path}/quickstart_"
    ).replace("recall_floor=0.5", "recall_floor=1.01")
    argv = [
        sys.executable if a == "python" else a
        for a in shlex.split(certify_cmd)
    ] + ["--master", "local[4]", "--shuffle-partitions", "4"]
    r = subprocess.run(
        argv, capture_output=True, text=True, cwd=str(tmp_path), env=env,
        timeout=600,
    )
    assert r.returncode != 0
    assert "recall certification FAILED" in r.stderr
    hist = json.load(open(cert_path))
    assert len(hist) == 2 and hist[1]["passed"] is False
