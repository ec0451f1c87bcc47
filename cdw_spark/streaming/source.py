"""Streaming sources + bounded-run helpers.

The driver fixtures are static parquet, so the streaming source is Spark's
file source replaying ``events`` as ordered micro-batches: the table is
staged once into N time-range-split files and read with
``maxFilesPerTrigger=1``, which makes event time advance monotonically
across batches — watermarks progress exactly as they would on a live
stream. On a real deployment the same DataFrame comes from
``spark.readStream.format("kafka")``; every operator downstream is
source-agnostic.

``run_available_now`` executes a bounded run (Trigger.AvailableNow) into a
memory sink and returns the result as a batch DataFrame. Memory sinks are
a test/driver device — the production sink is ``writeStream.format(
"parquet")`` / kafka with checkpointing, same query graph.
"""

from __future__ import annotations

import hashlib
import itertools
import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

_qid = itertools.count()
_STAGE_ROOT = os.path.join(tempfile.gettempdir(), "cdw_stream_stage")


def replay_scratch(prefix: str) -> str:
    """mkdtemp for THROWAWAY replay scratch (checkpoints, WAL, per-batch
    parquet state), preferring RAM-backed /dev/shm when present.

    A bounded memory-sink replay deletes this directory at the end of the
    call — its durability guarantee is nil by design (production sinks
    keep real checkpoints on durable storage; see run_available_now).
    But the checkpoint path is fsync-heavy (offset WAL + commit log per
    micro-batch + one state delta per store per batch), and on this
    host's virtio disk those fsyncs stall unpredictably — measured
    3-10x run-to-run swings on identical replays, the dominant noise
    AND cost of the streaming suite. tmpfs makes them memory writes.

    tmpfs is RAM-capped (ADVICE r12), so the choice is GATED: an env
    override wins, and /dev/shm is used only while it has comfortable
    free headroom (8 GiB — orders of magnitude above any bounded replay
    here); otherwise fall back to the disk tempdir."""
    base = os.environ.get("SPARK_GRAFT_REPLAY_SCRATCH")
    if base:
        os.makedirs(base, exist_ok=True)
        return tempfile.mkdtemp(prefix=prefix, dir=base)
    shm = "/dev/shm"
    if os.path.isdir(shm) and os.access(shm, os.W_OK):
        try:
            st = os.statvfs(shm)
            if st.f_bavail * st.f_frsize >= 8 * 1024**3:
                return tempfile.mkdtemp(prefix=prefix, dir=shm)
        except OSError:
            pass
    return tempfile.mkdtemp(prefix=prefix)


class replay_partition_cap:
    """Context manager capping ``spark.sql.shuffle.partitions`` for one
    bounded replay, restoring the caller's value on exit — the
    run_available_now discipline exposed to the foreachBatch replays.

    Every shuffle a foreachBatch body plans (windows, distincts, joins,
    aggregates over per-batch state) allocates one task per shuffle
    partition PER MICRO-BATCH; at fixture scale a 32-partition session
    turns ~6 tiny shuffles x 4 batches into ~750 near-empty tasks of
    pure scheduling overhead. On a real cluster the cap would be sized
    to executor count — callers pass it via the ``cap`` argument."""

    def __init__(self, spark, cap: int = 16):
        self.spark = spark
        self.cap = cap

    def __enter__(self):
        self.old = self.spark.conf.get("spark.sql.shuffle.partitions")
        self.spark.conf.set(
            "spark.sql.shuffle.partitions", min(int(self.old), self.cap)
        )
        return self

    def __exit__(self, *exc):
        self.spark.conf.set("spark.sql.shuffle.partitions", self.old)
        return False


def _staging_dir(sf_dir: str, table: str, suffix: str) -> str:
    """Staged-copy directory of one fixture table:
    ``<root>/<path key>__<table>__<suffix>/<identity tag>``.

    The identity tag hashes the fixture's file identity (as the artifact
    store's keys do), so a fixture rewritten at the same path stages a new
    copy instead of replaying the old one; the stale copies beside it are
    removed once the new one is staged (:func:`_sweep_stale`)."""
    from ..catalog import file_identity

    ident = file_identity(os.path.join(sf_dir, f"{table}.parquet"))
    tag = hashlib.sha256("|".join(map(str, ident)).encode()).hexdigest()[:12]
    key = f"{sf_dir.strip('/').replace('/', '_')}__{table}__{suffix}"
    return os.path.join(_STAGE_ROOT, key, tag)


def _sweep_stale(out: str) -> None:
    """Remove the staged copies of earlier generations of the same fixture."""
    parent, keep = os.path.split(out)
    for name in os.listdir(parent):
        if name != keep:
            shutil.rmtree(os.path.join(parent, name), ignore_errors=True)


def stage_ordered_files(
    spark: SparkSession, sf_dir: str, table: str = "events", n_files: int = 8,
    order_col: str = "ts",
) -> str:
    """Split a fixture table into ``n_files`` event-time-ordered parquet
    files (staged once per (fixture identity, table, n); cached across
    calls).

    ``repartitionByRange`` on the time column makes part-00000 hold the
    earliest rows; file mtimes are then stamped in that order because the
    file stream source processes oldest-mtime-first (latestFirst=false).
    """
    from ..catalog import load_fixture

    # Engine semantic (SURVEY.md §4): timestamp arithmetic is UTC.
    # load_fixture pins the session TZ, but only runs on a staging cache
    # MISS — pin unconditionally so a caller-built non-UTC session gets
    # the same hour()/window() semantics on the cache-hit path too.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    suffix = str(n_files) if order_col == "ts" else f"{n_files}__{order_col}"
    out = _staging_dir(sf_dir, table, suffix)
    done = os.path.join(out, "_STAGED")
    if not os.path.exists(done):
        # load_fixture normalizes the fixture's TIMESTAMP(NANOS) to
        # microsecond TimestampType, so the staged files stream cleanly.
        df = load_fixture(spark, sf_dir, table)
        df.repartitionByRange(n_files, order_col).write.mode("overwrite").parquet(out)
        parts = sorted(
            p for p in os.listdir(out) if p.startswith("part-") and p.endswith(".parquet")
        )
        base = 1_700_000_000
        for i, p in enumerate(parts):
            os.utime(os.path.join(out, p), (base + i * 60, base + i * 60))
        with open(done, "w") as f:
            f.write("\n".join(parts))
        _sweep_stale(out)
    return out


def events_stream(
    spark: SparkSession, sf_dir: str, n_files: int = 8, files_per_trigger: int = 1
) -> DataFrame:
    """``readStream`` over the staged events files, one file per micro-batch."""
    return table_stream(spark, sf_dir, "events", "ts", n_files, files_per_trigger)


def table_stream(
    spark: SparkSession, sf_dir: str, table: str, order_col: str,
    n_files: int = 4, files_per_trigger: int = 1,
) -> DataFrame:
    """``readStream`` over any staged fixture table (events order by ``ts``;
    documents etc. by their id column).

    The file source needs an explicit schema (no inference mid-stream).
    The staged copy was written from ``load_fixture``, so its schema is
    ``load_fixture``'s — known without reading the staged footers."""
    from ..catalog import load_fixture

    staged = stage_ordered_files(spark, sf_dir, table, n_files, order_col)
    schema = load_fixture(spark, sf_dir, table).schema
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", files_per_trigger)
        .option("latestFirst", "false")
        .parquet(staged)
    )


def run_available_now(sdf: DataFrame, name: str, output_mode: str) -> DataFrame:
    """Run a bounded streaming query (AvailableNow) into a memory sink and
    return the sink contents as a batch DataFrame.

    AvailableNow drains all staged files respecting maxFilesPerTrigger,
    runs trailing no-data batches so the final watermark flushes closed
    windows in append mode, then stops — deterministic bounded replay.
    """
    spark = sdf.sparkSession
    qname = f"cdw_{name}_{next(_qid)}"
    # The state store allocates one store (and one task, and for Python
    # stateful ops one Arrow round-trip) per shuffle partition PER
    # MICRO-BATCH. At fixture scale a default of 200 partitions x 8 batches
    # is pure overhead — cap it for the bounded replay and restore after.
    # On a real cluster the cap would instead be sized to executor count.
    old_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", min(int(old_parts), 16))
    # Memory-sink runs are throwaway replays: the checkpoint must be fresh
    # per run, or the file source sees every staged file as already
    # committed and emits nothing. Production sinks do the opposite —
    # a stable checkpoint dir is exactly what gives exactly-once resume.
    chk = replay_scratch(f"cdw_chk_{qname}_")
    q = (
        sdf.writeStream.format("memory")
        .queryName(qname)
        .outputMode(output_mode)
        .option("checkpointLocation", chk)
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.awaitTermination()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old_parts)
        # the memory sink holds the result; the checkpoint is throwaway
        shutil.rmtree(chk, ignore_errors=True)
    return spark.table(qname)


def finish_replay(result: DataFrame, root: str) -> DataFrame:
    """Materialize a bounded replay's result OFF its scratch root, then
    remove the root (persisted state + checkpoint dirs).

    foreachBatch replays persist state as parquet under a mkdtemp root;
    the returned DataFrame must not lazily reference those files after
    cleanup, so it is localCheckpoint'ed (executor-block storage) first.
    Production deployments keep the state/checkpoint dirs — exactly-once
    resume depends on them; throwaway replays must not leak one scratch
    directory per invocation (ADVICE r6)."""
    out = result.localCheckpoint(eager=True)
    shutil.rmtree(root, ignore_errors=True)
    return out


def stage_exact_quarters(
    spark: SparkSession, sf_dir: str, table: str, id_col: str, n_files: int = 4
) -> tuple[str, int]:
    """Stage a fixture table into ``n_files`` files with EXACT id-quarter
    boundaries (file q holds rows with (id * n_files) div n_rows == q,
    ids dense 0..n-1) — unlike repartitionByRange's SAMPLED boundaries,
    the file membership is a pure function of (id, n_rows), so per-batch
    streaming audits can be restated in SQL oracles. Returns (dir,
    n_rows); staged once per (fixture identity, table, n_files),
    mtime-ordered so the file source replays quarters in id order. The
    staged copy has ``load_fixture``'s schema."""
    from ..catalog import load_fixture

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    out = _staging_dir(sf_dir, table, f"q{n_files}")
    done = os.path.join(out, "_STAGED")
    if not os.path.exists(done):
        df = load_fixture(spark, sf_dir, table)
        n_rows = df.count()
        # Loud precondition (ADVICE r7): the quarter formula silently
        # drops any row whose (id * n_files) div n_rows lands >= n_files,
        # which happens exactly when ids are not dense 0..n-1 (1-based or
        # sparse). Fail the replay setup instead of auditing a truncated
        # stream.
        lohi = df.agg(
            F.min(F.col(id_col).cast("bigint")).alias("lo"),
            F.max(F.col(id_col).cast("bigint")).alias("hi"),
        ).collect()[0]
        if lohi["lo"] != 0 or lohi["hi"] != n_rows - 1:
            raise ValueError(
                f"stage_exact_quarters needs dense 0..n-1 ids in "
                f"{table}.{id_col}: got min={lohi['lo']} max={lohi['hi']} "
                f"for n_rows={n_rows}"
            )
        base = 1_700_000_000
        for q in range(n_files):
            part = df.filter(
                F.expr(f"CAST({id_col} * {n_files} div {n_rows} AS BIGINT) = {q}")
            )
            pdir = os.path.join(out, f"q{q}")
            part.coalesce(1).write.mode("overwrite").parquet(pdir)
            src = next(
                p for p in os.listdir(pdir)
                if p.startswith("part-") and p.endswith(".parquet")
            )
            os.replace(
                os.path.join(pdir, src), os.path.join(out, f"quarter-{q}.parquet")
            )
            shutil.rmtree(pdir, ignore_errors=True)
            os.utime(
                os.path.join(out, f"quarter-{q}.parquet"),
                (base + q * 60, base + q * 60),
            )
        with open(done, "w") as f:
            f.write(str(n_rows))
        _sweep_stale(out)
    with open(done) as f:
        return out, int(f.read())
