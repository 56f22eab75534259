"""Parquet helpers for the streaming job's ``batch_id=N`` output.

``streaming/job.py:start_to_parquet`` writes one directory per
micro-batch, which keeps a replayed batch idempotent but leaves many
small files on a long-running stream. ``compact_batch_dirs_inplace``
merges the closed batch directories into size-targeted files in place.
``zorder_key`` is the Morton layout key that the analytics layer's
``layout_zorder_locality`` audit computes.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def _hadoop_fs(spark, path: str):
    """FileSystem OWNING ``path`` — resolved from the path's scheme, not
    ``FileSystem.get(conf)`` (the defaultFS): with an ``s3a://`` out_dir
    under an HDFS defaultFS, the default filesystem would silently
    target the wrong store for every exists/rename/delete."""
    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    mk_path = jvm.org.apache.hadoop.fs.Path
    fs = mk_path(path).getFileSystem(conf)
    return fs, mk_path


def _recover_pending_compaction(fs, mk_path, out_dir: str) -> None:
    """Self-heal an interrupted in-place compaction (crash-window repair).

    Protocol state is encoded in dot-prefixed dirs (invisible to Spark
    readers). If the merged tmp dir still exists the swap never finished:
    restore any trashed originals and drop the tmp. If only trash dirs
    remain, the swap finished: the merged dir already holds their rows,
    so the trash is safe to delete.
    """
    base = mk_path(out_dir)
    if not fs.exists(base):
        return
    entries = [st.getPath() for st in fs.listStatus(base)]
    tmps = [p for p in entries if p.getName().startswith(".compact_tmp")]
    trash = [p for p in entries if p.getName().startswith(".compact_trash.")]
    if tmps:
        for p in trash:
            original = mk_path(
                f"{out_dir}/{p.getName()[len('.compact_trash.'):]}"
            )
            if fs.exists(original):
                fs.delete(p, True)
            else:
                if not fs.rename(p, original):
                    # rename reports failure by returning false —
                    # deleting the tmp below with a trash restore
                    # incomplete could strand rows; stop and let the
                    # next recovery attempt retry (r13 review)
                    raise IOError(
                        f"compaction recovery failed: {p} -> {original}"
                    )
        for p in tmps:
            fs.delete(p, True)
    else:
        for p in trash:
            fs.delete(p, True)


def compact_batch_dirs_inplace(
    spark,
    out_dir: str,
    target_file_bytes: int = 128 * 1024 * 1024,
    upto_batch_id: int | None = None,
) -> tuple[int, int]:
    """Merge closed ``batch_id=N`` dirs into size-targeted files, in place.

    The idempotent streaming sink writes one directory per micro-batch;
    at streaming ingest rates that's thousands of KB-sized files per day
    — the classic small-file problem. This rewrites every closed batch
    (``batch_id ≤ upto_batch_id``; default: everything strictly below the
    highest present id, which is the only batch a crashed job can ever
    redeliver) into ONE ``batch_id=<hi>`` directory with
    ``ceil(bytes/target_file_bytes)`` files.

    Transactional against crashes: the merged output is first written to
    a dot-prefixed tmp dir (invisible to readers), originals are moved to
    dot-prefixed trash, then tmp is renamed into place and trash dropped
    — and every call begins by repairing any interrupted predecessor via
    ``_recover_pending_compaction``. Readers see either the old dirs or
    the merged dir, never duplicates. Replay stays safe because an
    overwrite of any *open* batch partition is untouched, and a
    full-history replay simply rebuilds the per-batch layout.

    Uses the Hadoop FileSystem API resolved from ``out_dir``'s scheme,
    so the same code runs on HDFS on a real cluster, not just local
    paths. Caveat: the crash-window guarantee leans on atomic directory
    rename, which HDFS and local FS provide; S3A emulates rename with
    copy+delete, so on object stores the swap window is wider — pair
    with a manifest-committing table format there. Returns
    ``(n_batches_merged, n_files_written)``.
    """
    import math

    fs, mk_path = _hadoop_fs(spark, out_dir)
    _recover_pending_compaction(fs, mk_path, out_dir)
    base = mk_path(out_dir)
    if not fs.exists(base):
        return (0, 0)
    batches = []
    for st in fs.listStatus(base):
        name = st.getPath().getName()
        if name.startswith("batch_id="):
            batches.append((int(name.split("=", 1)[1]), st.getPath()))
    if not batches:
        return (0, 0)
    batches.sort(key=lambda t: t[0])
    max_present = batches[-1][0]
    upto = max_present - 1 if upto_batch_id is None else upto_batch_id
    sized = [
        (bid, p, fs.getContentSummary(p).getLength())
        for bid, p in batches
        if bid <= upto
    ]
    # Skip dirs already at/above the target size: the previous cycle's
    # merged output always sorts <= the new upto, so re-including it
    # re-reads and re-writes the WHOLE corpus every cycle — quadratic
    # total write amplification over a 24/7 stream's lifetime (r13
    # review). With the floor, a byte is rewritten only until its
    # resident dir crosses target_file_bytes (~target/batch-size
    # rewrites — the standard size-tiered amortization), and each
    # cycle's cost tracks the NEW small batches, not corpus size.
    targets = [
        (bid, p, sz) for bid, p, sz in sized if sz < target_file_bytes
    ]
    if len(targets) < 2:
        return (0, 0)

    total_bytes = sum(sz for _, _, sz in targets)
    n_files = max(1, math.ceil(total_bytes / target_file_bytes))
    hi = targets[-1][0]
    merged = spark.read.parquet(*[str(p) for _, p, _sz in targets])
    tmp = mk_path(f"{out_dir}/.compact_tmp_{hi}")
    fs.delete(tmp, True)
    merged.coalesce(n_files).write.mode("overwrite").parquet(str(tmp))

    # Hadoop FileSystem.rename reports failure by RETURNING FALSE, not
    # throwing (quota, destination-exists race, permission) — an
    # unchecked swap would fall through and delete the trash dirs, i.e.
    # silently destroy every merged batch while the only copy sits in a
    # reader-invisible dot dir (r13 review). Raise instead; the next
    # call's _recover_pending_compaction repairs whichever window the
    # failure left behind.
    for bid, p, _sz in targets:
        dst = mk_path(f"{out_dir}/.compact_trash.batch_id={bid}")
        if not fs.rename(p, dst):
            raise IOError(f"compaction swap failed: {p} -> {dst}")
    dst = mk_path(f"{out_dir}/batch_id={hi}")
    if not fs.rename(tmp, dst):
        raise IOError(f"compaction swap failed: {tmp} -> {dst}")
    for bid, _p, _sz in targets:
        fs.delete(mk_path(f"{out_dir}/.compact_trash.batch_id={bid}"), True)
    return (len(targets), n_files)


def zorder_key(
    x: Column, y: Column, x_rng: tuple, y_rng: tuple, bits: int = 16
) -> Column:
    """Morton (Z-order) interleave of two integer columns — the layout
    key that makes parquet min/max pruning effective on BOTH columns at
    once (sort by one column and every file spans the other's full
    range; sort by the Z-key and each file covers a small rectangle in
    (x, y) space).

    ``x_rng``/``y_rng`` are the (min, max) corpus bounds — one tiny
    aggregate upstream, passed as literals so the key itself is a pure
    narrow expression (integer scale to ``bits`` + bit interleave, all
    whole-stage codegen; engine-portable: the same &/>>/<< arithmetic is
    writable in DuckDB for the cross-engine oracle).
    """
    top = (1 << bits) - 1

    def _as_col(v) -> Column:
        return v if isinstance(v, Column) else F.lit(int(v))

    def scale(c: Column, lo, hi) -> Column:
        lo_c, hi_c = _as_col(lo), _as_col(hi)
        span = hi_c.cast("long") - lo_c.cast("long")
        # The (c - lo) offset is cast to DOUBLE before the * top
        # multiply: a LONG product wraps (non-ANSI) or throws (ANSI)
        # once the column span exceeds ~2^47 at bits=16 — nanosecond
        # epochs, snowflake ids — silently destroying the clustering
        # (r13 review). In double the product is exact up to 2^53 and
        # degrades to approximate BUCKETING beyond (fine for a layout
        # key); the DuckDB oracle's integer product / double division
        # agrees exactly over the exact range. floor-then-cast keeps
        # Spark's truncating cast and DuckDB's rounding cast aligned.
        scaled = F.floor(
            (c.cast("long") - lo_c.cast("long")).cast("double")
            * top
            / span
        ).cast("long")
        return F.when(span > 0, scaled).otherwise(F.lit(0).cast("long"))

    sx, sy = scale(x, *x_rng), scale(y, *y_rng)
    key = F.lit(0).cast("long")
    for b in range(bits):
        key = key + (
            F.shiftleft(F.shiftright(sx, b).bitwiseAND(F.lit(1)), 2 * b)
        ) + (
            F.shiftleft(
                F.shiftright(sy, b).bitwiseAND(F.lit(1)), 2 * b + 1
            )
        )
    return key
