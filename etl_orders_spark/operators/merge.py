"""MERGE-style mutation patterns without a table format: upsert and
SCD2 history, emulated with anti-join + union (+ window-free column
logic). With Delta/Iceberg these become `MERGE INTO`; the relational
emulation here is format-agnostic and works over plain parquet with
an overwrite-rewrite (the reference's own full-refresh load semantics,
reference: dags/etl.py:218-235, upgraded to keyed merges).

Scale: both patterns are one keyed join (shuffle on the merge key) +
a union — no windows over the full table, no driver involvement. The
rewrite cost is the table scan itself; with a partitioned layout only
touched partitions need rewriting (dynamic partition overwrite).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def merge_upsert(target: DataFrame, source: DataFrame, keys: list[str]) -> DataFrame:
    """UPSERT: source rows win on key collision, target rows survive
    otherwise. Schemas must match by name."""
    return target.join(source.select(*keys), keys, "left_anti").unionByName(source)


def scd2_apply(
    dim: DataFrame,
    updates: DataFrame,
    keys: list[str],
    effective_ts,
) -> DataFrame:
    """Slowly-changing-dimension type 2: close the current version of
    each updated key (valid_to = effective_ts, is_current = false) and
    append the update as the new current version.

    `dim` must carry the three SCD columns (``valid_from``,
    ``valid_to``, ``is_current``); `updates` carries the business
    columns only. History rows pass through untouched.

    PRECONDITION (enforced): `updates` has at most one row per key —
    duplicates in one batch would each open an is_current version with
    the same valid_from, permanently double-counting the key in every
    `is_current` read. Callers with replayed/late batches must collapse
    to latest-per-key first (max_by on their own ordering column); this
    operator cannot pick for them, so it fails loudly instead.
    """
    from etl_orders_spark.operators.materialize import cache_stage

    eff = F.lit(effective_ts).cast("timestamp")
    # one materialization serves the precondition check AND the merge's
    # two consumers (upd_keys, fresh) — without it the full updates
    # lineage (often a join/agg pipeline) executes three times
    updates = cache_stage(updates, "scd2_apply.updates")
    dup = (
        updates.groupBy(*keys)
        .agg(F.count(F.lit(1)).alias("_n"))
        .filter(F.col("_n") > 1)
        .limit(1)
        .collect()
    )
    if dup:
        raise ValueError(
            f"scd2_apply: updates batch has multiple rows for key {dup[0][:len(keys)]}; "
            "collapse to one row per key before applying (an SCD2 batch defines ONE "
            "new version per key)"
        )
    upd_keys = updates.select(*keys).distinct()
    # current rows being superseded -> closed
    closing = (
        dim.filter(F.col("is_current"))
        .join(upd_keys, keys, "left_semi")
        .withColumn("valid_to", eff)
        .withColumn("is_current", F.lit(False))
    )
    # everything else (history + current rows without an update) passes through
    untouched_current = dim.filter(F.col("is_current")).join(upd_keys, keys, "left_anti")
    history = dim.filter(~F.col("is_current"))
    fresh = (
        updates.withColumn("valid_from", eff)
        .withColumn("valid_to", F.lit(None).cast("timestamp"))
        .withColumn("is_current", F.lit(True))
    )
    return history.unionByName(untouched_current).unionByName(closing).unionByName(fresh)


def snapshot_as_of(dim: DataFrame, ts) -> DataFrame:
    """Point-in-time (time-travel) read over an SCD2 history: the
    version of each key visible at ``ts`` is the one whose validity
    interval contains it — ``valid_from <= ts < valid_to`` with an open
    ``valid_to`` (NULL) meaning "still current". Keys first created
    after ``ts`` simply don't appear, and at most one version per key
    can match because scd2_apply closes the old version at exactly the
    instant it opens the new one.

    Scale: a pure filter — it pushes into the history table's scan
    (parquet min/max on valid_from prunes whole files once history is
    written time-ordered), no join and no shuffle."""
    t = F.lit(ts).cast("timestamp")
    return dim.filter(
        (F.col("valid_from") <= t) & (F.col("valid_to").isNull() | (F.col("valid_to") > t))
    )


_LATEST_POINTER = "_LATEST"
# publish_parquet_versioned: age past which an uncommitted version
# directory counts as a crashed publish's garbage
_GC_GRACE_SEC = 3600.0


def publish_parquet_versioned(df: DataFrame, table_root: str, keep: int = 2) -> str:
    """Atomically publish ``df`` as the new version of a parquet
    serving table. ``mode("overwrite").parquet(dir)`` is delete-then-
    write: a reader (or a kill — a stopped streaming query, a
    preempted executor, a crashed driver) that lands between the
    delete and the commit sees an EMPTY table, and an interrupted
    publish loses the previous version too. Here every publish writes
    a fresh ``v_<n>`` directory under ``table_root`` and then flips a
    one-line ``_LATEST`` pointer file via ``os.replace`` — atomic on
    POSIX — so readers always resolve a fully-committed version:
    an interrupted publish leaves a dangling ``v_<n>`` directory
    (garbage-collected by the next successful publish) and the
    pointer still naming the last good version. This is the manifest
    move table formats (Delta/Iceberg) make, reduced to its minimum
    for plain parquet. Returns the published directory.

    ``keep`` bounds retained versions: the pointer file holds the
    PUBLISH HISTORY (newest first, one version per line); GC keeps the
    newest ``keep`` PUBLISHED versions and removes every other v_*
    directory — including dangling never-published ones from crashed
    publishes. Retention therefore counts successful publishes, never
    dangling directories: a crash between the directory write and the
    pointer flip can never cost a reader the version the pointer still
    names (a raw count of v_* dirs would GC the live version in
    exactly that case).

    Concurrent publishers are safe: each claims its version number by
    an atomic ``os.mkdir`` of the ``v_<n>`` directory — on
    ``FileExistsError`` it retries with the next number — so two racing
    publishers can never write into (or delete-then-rewrite) the same
    directory. Each committed version carries a ``_COMMITTED`` marker
    file written after its data lands, and GC RETENTION IS
    MARKER-BASED: the newest ``keep`` committed versions (by version
    number) plus whatever the pointer currently names survive, so a
    publish that lost the pointer race (the flip is last-writer-wins)
    keeps its fully-written directory on disk — concurrent flips can
    reorder "latest" but can never silently destroy a committed
    version. Dangling claims (no marker: a crash, or a concurrent
    publish mid-write) are collected only once older than
    ``_GC_GRACE_SEC`` (mtime, one hour). CONTRACT: a publish must land
    its data within that grace of claiming its version directory — a
    slower write risks a faster concurrent publisher GC'ing the still-
    empty claim, after which the late rename would resurrect an old
    version number. The pointer keeps a bounded history
    window (``keep + 8`` lines, advisory — GC no longer depends on it)
    so a long-lived foreachBatch sink never grows the file without
    bound."""
    import os
    import shutil
    import time

    os.makedirs(table_root, exist_ok=True)
    pointer = os.path.join(table_root, _LATEST_POINTER)

    def _read_history() -> list[str]:
        if not os.path.exists(pointer):
            return []
        with open(pointer) as f:
            return [ln.strip() for ln in f if ln.strip()]

    # Claim a version directory atomically: mkdir either creates it or
    # raises FileExistsError (another publisher got there first) — the
    # POSIX primitive that makes two racing publishers impossible to
    # land in one directory.
    version = 0
    vdir = ""
    while True:
        existing = sorted(
            int(d[2:]) for d in os.listdir(table_root)
            if d.startswith("v_") and d[2:].isdigit()
        )
        version = (existing[-1] + 1) if existing else 1
        vdir = os.path.join(table_root, f"v_{version}")
        try:
            os.mkdir(vdir)
            break
        except FileExistsError:
            continue  # raced with another publisher; take the next number
    # Write into a private stage dir, then rename over the empty claim
    # dir (POSIX rename replaces an empty directory atomically). A
    # direct mode("overwrite") into vdir would DELETE the claim first,
    # briefly letting another publisher re-claim the same number.
    stage = os.path.join(table_root, f".stage_v_{version}")
    df.write.mode("overwrite").parquet(stage)
    os.rename(stage, vdir)
    # Commit marker: the durable record that this version's data is
    # complete. GC trusts markers, not the pointer, so losing the
    # pointer race below can never cost this version its data.
    with open(os.path.join(vdir, "_COMMITTED"), "w"):
        pass
    # Reread the pointer after the data write so a publish that landed
    # while we were writing stays in the (advisory) history we prepend.
    history = [f"v_{version}"] + _read_history()
    persisted = history[: keep + 8]  # bounded; advisory — GC uses markers
    tmp = pointer + f".tmp.{version}"
    with open(tmp, "w") as f:
        f.write("\n".join(persisted) + "\n")
    os.replace(tmp, pointer)  # the atomic publish
    # Marker-based retention: newest `keep` committed versions by
    # number, plus whatever the pointer NOW names (a concurrent flip
    # may have landed after ours — its line-1 must stay readable).
    committed = sorted(
        (
            int(d[2:])
            for d in os.listdir(table_root)
            if d.startswith("v_") and d[2:].isdigit()
            and os.path.exists(os.path.join(table_root, d, "_COMMITTED"))
        ),
        reverse=True,
    )
    keep_set = {f"v_{v}" for v in committed[:keep]}
    current = _read_history()
    if current:
        keep_set.add(current[0])
    now = time.time()
    for d in os.listdir(table_root):
        is_version = d.startswith("v_") and d[2:].isdigit()
        is_stage = d.startswith(".stage_v_")
        if (not is_version and not is_stage) or d in keep_set:
            continue
        path = os.path.join(table_root, d)
        if is_stage or not os.path.exists(os.path.join(path, "_COMMITTED")):
            # Dangling (never committed): a crashed publish OR a
            # concurrent one mid-write — only collect once stale.
            try:
                if now - os.path.getmtime(path) < _GC_GRACE_SEC:
                    continue
            except OSError:
                continue
        shutil.rmtree(path, ignore_errors=True)
    return vdir


def read_published(spark, table_root: str) -> DataFrame | None:
    """Resolve a versioned serving table's ``_LATEST`` pointer and read
    that version; None when nothing has ever been published (the
    missing-table case a first micro-batch must handle)."""
    import os

    pointer = os.path.join(table_root, _LATEST_POINTER)
    if not os.path.exists(pointer):
        return None
    with open(pointer) as f:
        version = f.readline().strip()  # line 1 = newest; the rest is GC history
    return spark.read.parquet(os.path.join(table_root, version))
