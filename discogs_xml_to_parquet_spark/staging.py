"""Build-once staging for derived test corpora (the DPP fact, bucketed
tables, binary file trees, event shards, fragmented directories).

Lives OUTSIDE the queries package: these are harness utilities shared
by several query modules, and a queries-to-queries import would drag
the helper's home module into the driver window with every consumer
(the window planner folds import dependencies forward).

Two contracts, both learned the hard way (ADVICE r8/r9):

- staleness is the CALLER's job: embed `source_fingerprint(...)` AND
  every construction parameter in the staged name, or a regenerated
  source / changed selector silently serves the old corpus;
- publication is ATOMIC: build under a unique temp name, rename into
  place; concurrent first builders race to the rename and the loser
  discards its copy, so a reader can never observe a half-written
  directory.
"""

from __future__ import annotations

import tempfile
from pathlib import Path


def source_fingerprint(sf_dir: str, table: str = "lineitem.parquet") -> str:
    """Cheap content fingerprint of a source parquet table
    (mtime_ns + size over its file(s)): a regenerated testdata file at
    the same path must produce a different staged cache key."""
    import hashlib

    src = Path(sf_dir) / table
    parts = []
    for p in sorted(src.rglob("*")) if src.is_dir() else [src]:
        st = p.stat()
        parts.append(f"{p.name}:{st.st_mtime_ns}:{st.st_size}")
    return hashlib.md5(";".join(parts).encode()).hexdigest()[:12]


def staged(dest_name: str, build) -> str:
    """Build-once staging with atomic publish: `build` writes into a
    unique temp dir, which is renamed to the final name. A build that
    RAISES cleans its partial temp dir before re-raising (a killed
    process can still strand one; the bounded work_dir pattern below
    is for per-run artifacts, this one is build-once so a stranded
    .build-* is rare, not recurring)."""
    import os
    import shutil
    import uuid

    dest = Path(tempfile.gettempdir()) / dest_name
    if dest.exists():
        return str(dest)
    tmp = dest.with_name(dest.name + f".build-{uuid.uuid4().hex[:8]}")
    try:
        build(str(tmp))
    except BaseException:
        shutil.rmtree(tmp, ignore_errors=True)
        raise
    try:
        os.rename(tmp, dest)
    except OSError:
        if not dest.exists():
            raise
        shutil.rmtree(tmp, ignore_errors=True)  # lost the race; theirs won
    return str(dest)


def work_dir(kind: str, key: str) -> str:
    """Per-(kind, key, process) work root under /tmp, REUSED across
    calls: deleted and recreated each call instead of mkdtemp'd. For
    lanes whose returned lazy DataFrames still read from the dir
    after the function returns -- cleanup-at-return is impossible, so
    rebuild-on-next-call bounds the footprint at ONE live copy per
    (kind, key, pid) where mkdtemp leaked a fresh copy per run (the
    bench executes some lanes ~10 times a round; the box had
    accumulated 200+ leaked copies before r11). The pid keeps
    concurrent harness processes (pytest alongside bench) from
    deleting a dir the other's DataFrame is still reading."""
    import os
    import shutil

    slug = key.strip("/").replace("/", "_")
    path = Path(
        tempfile.gettempdir()) / f"spark_graft_{kind}_{slug}_p{os.getpid()}"
    if path.exists():
        shutil.rmtree(path)
    return str(path)


def stage_df(df):
    """Cut lineage and materialize a mid-computation frame -- the ONE
    way the engine does so (setsim's fan-out frames, graph_iter's label
    rounds, matching's candidate pool, incremental's stored MV, the
    two-phase connected-components rounds, prefix's bucketed domain and
    every query's multi-consumer aggregate). The two deliberate
    exceptions are graph_iter's persist() (below) and formats_extra's
    cache(), which Spark requires before a corrupt-record-column-only
    scan.

    Default = `localCheckpoint()`: executor-memory blocks, zero I/O,
    NON-reliable -- on a real cluster a lost executor fails the job
    instead of recomputing (VERDICT r12 item 5). Production mode: set
    SPARK_GRAFT_CHECKPOINT_DIR (e.g. an HDFS/S3 path via
    `spark.checkpoint.dir` conventions) and the same call sites write
    RELIABLE checkpoints there, so at 1000 executors a lost node
    replays from the checkpoint store. The env is read per call, so
    one pytest process can exercise both modes back-to-back.

    Neither mode keeps the staged frame's hash partitioning for its
    consumers under AQE: measured, `repartition("src")` staged either
    way and then grouped by src plans a fresh
    `Exchange hashpartitioning(src)`. Only persist() does --
    InMemoryRelation keeps the cached plan's outputPartitioning because
    session.py sets canChangeCachedPlanOutputPartitioning=false --
    which is why graph_iter persists its src-partitioned edge list
    instead of staging it here."""
    import os

    ckpt_dir = os.environ.get("SPARK_GRAFT_CHECKPOINT_DIR")
    if ckpt_dir:
        sc = df.sparkSession.sparkContext
        # setCheckpointDir mints a fresh UUID SUBDIR under the given
        # path per call, so getCheckpointDir() never string-equals the
        # env value -- compare by containment to set it exactly once
        # per (session, dir) instead of littering a subdir per stage
        cur = sc.getCheckpointDir()
        if not (cur and ckpt_dir.rstrip("/") in cur):
            sc.setCheckpointDir(ckpt_dir)
        return df.checkpoint()
    return df.localCheckpoint()
