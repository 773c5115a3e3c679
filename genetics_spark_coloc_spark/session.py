"""SparkSession factory with scale-oriented defaults.

Mirrors the role of the reference's ``Session`` wrapper
(reference: src/gentropy/common/session.py:19-76) without the Hail
dependency: one place to create/configure a session, plus generic
load/write helpers.

Defaults are tuned for correctness at local[*] test scale while
keeping the knobs that matter on a 1000-executor cluster:
- AQE on (runtime re-plan, skew-join splitting, partition coalescing)
- Arrow on (pandas UDF / toPandas transfer)
- shuffle partitions from env so the bench can size them to the SF
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", "32"))
DEFAULT_CPUS = os.environ.get("SPARK_GRAFT_CPUS", "*")


def get_session(
    app_name: str = "genetics_spark_coloc_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Create (or reuse) a SparkSession with engine defaults."""
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{DEFAULT_CPUS}]")
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS),
        )
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # asymmetric runtime threshold: AQE's broadcast conversion
        # compares COMPRESSED shuffle bytes, so "64 MB at runtime" can
        # be a multi-GB in-memory hash relation — the l2g_skew_probes
        # run measured an exploded 4M-row join side compressing under
        # the 64 MB threshold and the resulting runtime broadcast
        # killing an 8g driver (BASELINE.md r12 row). 16 MB compressed
        # ≈ the same actual data volume the 64 MB UNCOMPRESSED static
        # estimate admits, so deliberate small-dim broadcasts keep
        # their plan while deceptively-compressible wide sides fall
        # back to the shuffle join (which that probe measured 2x
        # faster anyway).
        .config(
            "spark.sql.adaptive.autoBroadcastJoinThreshold",
            str(16 * 1024 * 1024),
        )
        .config("spark.sql.session.timeZone", "UTC")
        # r14 (guide §3.1/§9): let the planner pick shuffled-hash join
        # when its size conditions hold — both sides still shuffle,
        # but the per-partition build replaces two full sorts. A/B on
        # a 12-query SMJ-heavy subset at sf0.1 (warm pairs):
        # sequential sum 17.9 -> 16.9 s (eqtl_finemapping 4.94 ->
        # 4.44, coloc 1.32 -> 1.15). Scale-safe: the planner only
        # chooses SHJ when the build side estimate fits
        # (autoBroadcastJoinThreshold x shuffle partitions) AND is
        # smaller than the probe side; AQE skew-split applies to SHJ
        # exactly as to SMJ, and SMJ remains the spill fallback
        # everywhere the conditions fail.
        .config("spark.sql.join.preferSortMergeJoin", "false")
        # r14: InferFiltersFromGenerate turns every explode(expr) into
        # an inferred `size(expr) > 0` Filter that PushDownPredicates
        # then substitutes through the projections down to the scan —
        # for this engine's generator children (lambda-heavy gram/
        # fingerprint/band arrays: interpreted HigherOrderFunctions,
        # md5 per element) that re-evaluates the whole chain 2-3x per
        # row as a row-level predicate. Measured on the winnow pair
        # generator at sf0.1: 5.4 s -> 1.6 s with the rule excluded;
        # plan-verified the duplicated chain disappears from
        # FileScan DataFilters. Results are identical by construction
        # (explode already drops empty/null arrays; the inferred
        # filter is a pure pre-prune heuristic, worth it only when
        # the generator child is a cheap attribute — which an
        # attribute stays even without the rule, since scanning a
        # stored array column costs nothing extra to explode).
        .config(
            "spark.sql.optimizer.excludedRules",
            "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate",
        )
        # driver testdata writes events.ts as TIMESTAMP(NANOS); Spark
        # has no nanos type — read as long and convert explicitly
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def write_bucketed(
    df: DataFrame,
    table_name: str,
    bucket_cols: list[str],
    num_buckets: int = 64,
    sort_cols: list[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """Persist a table bucketed (and optionally sorted) by join key —
    the at-rest layout the operator docstrings assume at 100 TB:
    equi-joins and aggregations on ``bucket_cols`` between tables
    bucketed the same way need NO shuffle exchange (Spark matches
    HashPartitioning(bucket_cols, num_buckets) on both sides).

    Bucketing requires the table catalog (``saveAsTable``); read the
    result back with ``spark.table(table_name)``.

    Overwrite mode also clears an ORPHANED location: with an
    ephemeral metastore (local derby, fresh per session) a prior
    session's managed-table directory survives its catalog entry, and
    ``saveAsTable`` refuses to reuse the location
    (LOCATION_ALREADY_EXISTS) even though no table exists. Only the
    CURRENT database's warehouse location of an unqualified name is
    cleaned (``<warehouse>/<name>`` for the default database,
    ``<warehouse>/<db>.db/<name>`` otherwise — both checks resolve in
    the same database, so a live ``default.<name>`` can never be
    deleted while the session sits in another database); a qualified
    or externally-located table fails loudly as before.
    """
    spark = df.sparkSession
    if mode == "overwrite" and "." not in table_name and not spark.catalog.tableExists(table_name):
        import shutil

        wh = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
        db = spark.catalog.currentDatabase()
        orphan = os.path.join(
            wh,
            *([] if db == "default" else [f"{db.lower()}.db"]),
            table_name.lower(),
        )
        if os.path.isdir(orphan):
            shutil.rmtree(orphan, ignore_errors=True)
    writer = df.write.mode(mode).bucketBy(num_buckets, *bucket_cols)
    if sort_cols:
        writer = writer.sortBy(*sort_cols)
    writer.saveAsTable(table_name)


def hadoop_write_text(spark: SparkSession, path: str, text: str) -> None:
    """Write a small text file THROUGH the Hadoop FileSystem API, so
    index sidecars (e.g. the IVF `_ivf_meta.json`) land next to their
    parquet parts on whatever filesystem the output path names —
    local, hdfs://, s3a://. Driver-local ``open()`` silently writes a
    bogus local path for remote URIs; this is the at-rest-index twin
    of letting Spark's writers resolve the scheme."""
    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    out = fs.create(jpath, True)
    try:
        out.write(bytearray(text.encode("utf-8")))
    finally:
        out.close()


def _hadoop_fs(spark: SparkSession, path: str):
    """Resolve ``path`` to its (Hadoop Path, FileSystem) pair — every
    FS-protocol helper below goes through this so index maintenance
    (sidecar existence checks, epoch listing, compaction renames)
    works on whatever filesystem the path names, not just local disk."""
    jpath = spark._jvm.org.apache.hadoop.fs.Path(path)
    return jpath, jpath.getFileSystem(spark._jsc.hadoopConfiguration())


def hadoop_path_exists(spark: SparkSession, path: str) -> bool:
    """True iff ``path`` exists on its filesystem. The loud-read
    discipline for at-rest index sidecars: distinguish GENUINE
    absence (fine — e.g. no alias sidecar yet) from a failed read of
    a present path (must raise, never be treated as absence — a
    transient FS error swallowed as 'no sidecar' silently serves
    stale index state)."""
    jpath, fs = _hadoop_fs(spark, path)
    return bool(fs.exists(jpath))


def hadoop_list_names(spark: SparkSession, path: str) -> list[str]:
    """Child basenames of ``path`` (empty list if the path does not
    exist) — directory-protocol discovery for versioned sidecars."""
    jpath, fs = _hadoop_fs(spark, path)
    if not fs.exists(jpath):
        return []
    return [st.getPath().getName() for st in fs.listStatus(jpath)]


def hadoop_delete(spark: SparkSession, path: str) -> bool:
    """Recursively delete ``path``; False if it did not exist."""
    jpath, fs = _hadoop_fs(spark, path)
    return bool(fs.delete(jpath, True))


def hadoop_rename(spark: SparkSession, src: str, dst: str) -> None:
    """Rename ``src`` to ``dst`` through the Hadoop FS API — the
    near-atomic commit primitive of the crash-safe index protocols
    (HDFS directory rename is atomic; object stores degrade to a
    copy, which the callers tolerate by keeping the source complete
    until the rename returns). Raises on failure instead of the
    boolean-False Hadoop contract: a failed commit must be loud."""
    jsrc, fs = _hadoop_fs(spark, src)
    jdst = spark._jvm.org.apache.hadoop.fs.Path(dst)
    if not fs.rename(jsrc, jdst):
        raise OSError(f"hadoop rename failed: {src} -> {dst}")


def crash_safe_overwrite_parquet(df: DataFrame, path: str) -> None:
    """Overwrite a parquet directory that IS the system's evidence
    (a counts table, an index labeling) without the torn-state window
    of ``mode("overwrite")`` (which deletes the directory and then
    writes — a crash mid-write loses the table): write to the sibling
    ``{path}__compacting`` directory (committed by Spark's _SUCCESS
    marker), delete the target, rename into place. A crash before the
    delete leaves the target untouched (the stale tmp is cleared on
    the next attempt); a crash between delete and rename leaves the
    committed result at the tmp path, finished by
    :func:`recover_interrupted_overwrite` — so every observable state
    is pre-overwrite or complete post-overwrite. Also avoids the
    self-read problem of in-place compaction (the plan may read
    ``path`` itself; the tmp write materializes it before the
    delete), so callers no longer need an eager checkpoint."""
    spark = df.sparkSession
    tmp = path.rstrip("/") + "__compacting"
    if hadoop_path_exists(spark, tmp):
        hadoop_delete(spark, tmp)
    df.write.parquet(tmp)
    hadoop_delete(spark, path)
    hadoop_rename(spark, tmp, path)


def recover_interrupted_overwrite(spark: SparkSession, path: str) -> bool:
    """Finish an interrupted :func:`crash_safe_overwrite_parquet`:
    when ``path`` is missing but a COMMITTED result sits at the
    sibling tmp path, rename it into place (returns True). A no-op
    (one existence check) in normal operation — call it before
    reading any table maintained through the crash-safe protocol."""
    if hadoop_path_exists(spark, path):
        return False
    tmp = path.rstrip("/") + "__compacting"
    if hadoop_path_exists(spark, tmp + "/_SUCCESS"):
        hadoop_rename(spark, tmp, path)
        return True
    return False


class WriterLeaseHeld(RuntimeError):
    """Raised when a second writer tries to acquire the exclusive
    writer lease of an at-rest index that another (live) holder owns.
    The message names the holder so the operator can find the other
    process instead of guessing."""


#: default age after which a lease is considered abandoned (the
#: holder crashed without releasing) and may be taken over. Holders
#: of legitimately longer maintenance jobs should pass a larger
#: ``stale_after_s`` — a takeover of a LIVE long-running writer is
#: exactly the corruption the lease exists to prevent.
WRITER_LEASE_STALE_S = float(
    os.environ.get("SPARK_GRAFT_LEASE_STALE_S", "7200")
)


def writer_lease_path(root: str) -> str:
    """The lease marker lives at the SIBLING path ``{root}__lease`` —
    never inside the index root, because the crash-safe maintenance
    protocols delete and rename the root itself (a lease stored
    inside would vanish mid-operation, reopening the race it
    guards)."""
    return root.rstrip("/") + "__lease"


def acquire_writer_lease(
    spark: SparkSession,
    root: str,
    operation: str = "write",
    stale_after_s: float | None = None,
) -> str:
    """Acquire the exclusive writer lease of an at-rest index rooted
    at ``root`` (cc_labels labeling, line_freq counts table, LSH band
    table warehouse location, IVF/IVF-PQ index directory). Returns an
    opaque token to pass to :func:`release_writer_lease`.

    The single-writer contract of the crash-safe index protocols was
    prose only until r14: two concurrent folds/compactions interleave
    their delete→rename windows into REAL corruption that no recovery
    path can repair. This enforces it mechanically: the lease is a
    marker file created with the Hadoop FS exclusive-create primitive
    (``FileSystem.create(path, overwrite=false)`` — atomic on HDFS
    and local disk; object stores degrade to best-effort, documented
    below) holding the holder id, operation, and acquisition time.

    **Stale-lease takeover rule:** a holder that crashes without
    releasing leaves its lease behind; rather than wedging the index
    forever, a later acquirer that finds a lease OLDER than
    ``stale_after_s`` (default :data:`WRITER_LEASE_STALE_S`, env
    ``SPARK_GRAFT_LEASE_STALE_S``) deletes it and retries the
    exclusive create once. A live holder whose job outlasts the
    threshold can therefore be usurped — size ``stale_after_s`` above
    the longest legitimate maintenance run. On object stores (no
    atomic exclusive create) two simultaneous takeovers can both
    believe they won; the window is the single create call, far
    narrower than the unprotected protocol, and HDFS/local are exact.
    """
    import json
    import socket
    import time
    import uuid

    path = writer_lease_path(root)
    stale = WRITER_LEASE_STALE_S if stale_after_s is None else stale_after_s
    holder = f"{socket.gethostname()}:pid{os.getpid()}"
    token = uuid.uuid4().hex
    payload = json.dumps(
        {
            "holder": holder,
            "operation": operation,
            "token": token,
            "acquired_unix": time.time(),
            "stale_after_s": stale,
        }
    )
    for attempt in (0, 1):
        jpath, fs = _hadoop_fs(spark, path)
        try:
            out = fs.create(jpath, False)  # overwrite=False: exclusive
        except Exception as exc:
            if not fs.exists(jpath):
                # not a lease conflict — a genuine FS failure must
                # surface as itself, not as "someone holds the lease"
                raise
            try:
                info = json.loads(hadoop_read_text(spark, path))
            except FileNotFoundError:
                continue  # released between create and read — retry
            except ValueError:
                info = {}  # torn lease write (holder crashed mid-create)
            age = time.time() - float(info.get("acquired_unix") or 0)
            declared = info.get("stale_after_s")
            threshold = float(declared) if declared is not None else stale
            if attempt == 0 and age > threshold:
                hadoop_delete(spark, path)
                continue
            raise WriterLeaseHeld(
                f"writer lease for {root} is held by "
                f"{info.get('holder', '<unreadable lease>')} "
                f"(operation={info.get('operation', '?')}, "
                f"age={age:.0f}s, lease file {path}). Concurrent "
                "maintenance of one at-rest index corrupts it — wait "
                "for the holder to finish, or delete the lease file "
                "if the holder is known dead."
            ) from exc
        try:
            out.write(bytearray(payload.encode("utf-8")))
        finally:
            out.close()
        return token
    raise WriterLeaseHeld(
        f"writer lease for {root} could not be acquired (lease file "
        f"{path} kept reappearing — another writer is actively "
        "cycling it)."
    )


def release_writer_lease(spark: SparkSession, root: str, token: str) -> None:
    """Release a lease acquired by :func:`acquire_writer_lease`. The
    token is verified first: if a later writer declared this holder
    stale and took over, the lease on disk is THEIRS and must not be
    deleted (the usurped holder just returns — its own work already
    raced, and the protocol's crash states cover it)."""
    import json

    path = writer_lease_path(root)
    try:
        info = json.loads(hadoop_read_text(spark, path))
    except FileNotFoundError:
        return
    except ValueError:
        info = {}
    if info.get("token") not in (None, token):
        return
    hadoop_delete(spark, path)


class writer_lease:  # noqa: N801 — context-manager, used like a function
    """``with writer_lease(spark, root, "fold_cc_labels"): ...`` —
    acquire on entry, release on exit (including on error: a FAILED
    maintenance run must not wedge the index; its crash states are
    repaired by the protocols, not by holding the lock)."""

    def __init__(
        self,
        spark: SparkSession,
        root: str,
        operation: str = "write",
        stale_after_s: float | None = None,
    ) -> None:
        self._spark = spark
        self._root = root
        self._operation = operation
        self._stale = stale_after_s
        self._token: str | None = None

    def __enter__(self) -> "writer_lease":
        self._token = acquire_writer_lease(
            self._spark, self._root, self._operation, self._stale
        )
        return self

    def __exit__(self, *exc) -> None:
        if self._token is not None:
            release_writer_lease(self._spark, self._root, self._token)


def crash_safe_overwrite_text(spark: SparkSession, path: str, text: str) -> None:
    """Text-sidecar twin of :func:`crash_safe_overwrite_parquet` for
    small ledgers that ARE the evidence (e.g. the ANN index's
    ``_recall_cert.json`` certification history): write the new
    content to the sibling ``{path}__txn`` file, delete the target,
    rename into place. A crash mid-write of the tmp leaves the target
    untouched (the torn tmp is overwritten on the next attempt); a
    crash between delete and rename leaves the COMPLETE new content
    at the tmp path, finished by
    :func:`recover_interrupted_text_overwrite` — the in-place
    ``hadoop_write_text`` this replaces could tear the ledger and
    force the operator to discard the whole history."""
    tmp = path.rstrip("/") + "__txn"
    hadoop_write_text(spark, tmp, text)
    if hadoop_path_exists(spark, path):
        hadoop_delete(spark, path)
    hadoop_rename(spark, tmp, path)


def recover_interrupted_text_overwrite(spark: SparkSession, path: str) -> bool:
    """Finish an interrupted :func:`crash_safe_overwrite_text`: when
    ``path`` is missing but the sibling tmp file exists, it holds the
    COMPLETE new content (the delete only runs after the tmp write
    returns) — rename it into place (returns True). One existence
    check in normal operation; call before reading any text sidecar
    maintained through the protocol."""
    if hadoop_path_exists(spark, path):
        return False
    tmp = path.rstrip("/") + "__txn"
    if hadoop_path_exists(spark, tmp):
        hadoop_rename(spark, tmp, path)
        return True
    return False


def hadoop_read_text(spark: SparkSession, path: str) -> str:
    """Read a small text file through the Hadoop FileSystem API
    (counterpart of ``hadoop_write_text``). Raises FileNotFoundError
    if the path does not exist on its filesystem."""
    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    if not fs.exists(jpath):
        raise FileNotFoundError(path)
    stream = fs.open(jpath)
    try:
        return jvm.org.apache.commons.io.IOUtils.toString(
            stream, "UTF-8"
        )
    finally:
        stream.close()
