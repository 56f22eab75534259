"""Keyed merge-upsert into a copy-on-write bucketed parquet state store.

The reference's sinks are append-only topic sends (``src/events.rs:89-97``);
real consumers routinely need the other shape — *latest state per key*
(contract → last event, account → running balance). Parquet files can't
update in place, so each batch is merged against the current state. This
module implements that merge with the two properties that matter at
100 TB:

* **bucket-pruned copy-on-write** — state lives in ``n_buckets`` hash
  buckets of the key; a micro-batch only reads and rewrites the buckets
  its keys touch. Each commit writes a new version directory containing
  ONLY the dirty buckets plus a manifest mapping every bucket to the
  version that last wrote it (the same manifest-of-files idea Delta/
  Iceberg commits use, reduced to its minimum). Merge cost is
  O(state in dirty buckets), not O(total state).
* **replay-safe, crash-safe commits** — a batch may be merged again
  (a ``foreachBatch`` redelivery after a crash between write and
  checkpoint commit). The merge is idempotent (keep max ``seq_col`` per
  key, ties broken by a content hash), so a replay produces a
  byte-identical state. The commit point is a single atomic ``os.replace`` of the
  ``_LATEST`` pointer; an orphaned version directory from a crash is
  silently overwritten by the next commit (deterministic naming +
  overwrite mode), never read (readers only follow ``_LATEST``).

Local-filesystem ``os.replace`` is the commit primitive here; on an
object store you would swap in a conditional PUT — the layout and merge
logic are unchanged.
"""

from __future__ import annotations

import json
import os
from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

_BUCKET = "_bucket"
_LATEST = "_LATEST"
_META = "_META"


def _read_meta(path: str) -> dict | None:
    try:
        with open(os.path.join(path, _META)) as f:
            return json.load(f)
    except (OSError, json.JSONDecodeError):
        return None


def _check_meta(
    path: str,
    key_cols: Sequence[str],
    seq_col: str,
    n_buckets: int,
    bucket_cols: Sequence[str],
) -> None:
    """Pin the store's layout parameters on first commit; refuse to merge
    with different ones later.

    The bucket assignment is ``hash(bucket_cols) % n_buckets`` — existing
    rows were partitioned under the layout recorded here, so a merge with
    a different modulus or bucketing column set would place the same key
    in two buckets and silently corrupt every subsequent pruned read.
    (Stores written before ``bucket_cols`` existed bucketed on the full
    key; their meta omits the field and it defaults to ``key_cols``.)
    """
    meta = _read_meta(path)
    if meta is None:
        tmp = os.path.join(path, _META + ".tmp")
        with open(tmp, "w") as f:
            json.dump(
                {
                    "key_cols": list(key_cols),
                    "seq_col": seq_col,
                    "n_buckets": n_buckets,
                    "bucket_cols": list(bucket_cols),
                },
                f,
            )
        os.replace(tmp, os.path.join(path, _META))
        return
    want = (list(key_cols), seq_col, n_buckets, list(bucket_cols))
    got = (
        meta["key_cols"],
        meta["seq_col"],
        meta["n_buckets"],
        meta.get("bucket_cols", meta["key_cols"]),
    )
    if want != got:
        raise ValueError(
            f"upsert store at {path} was created with key_cols="
            f"{got[0]}, seq_col={got[1]!r}, n_buckets={got[2]}, "
            f"bucket_cols={got[3]}; refusing to merge with {want[0]}, "
            f"{want[1]!r}, {want[2]}, {want[3]} "
            "(would corrupt bucket pruning)"
        )


def _bucket_col(key_cols: Sequence[str], n_buckets: int):
    return F.pmod(F.xxhash64(*[F.col(c) for c in key_cols]), F.lit(n_buckets))


def _manifest_path(path: str, version: int) -> str:
    return os.path.join(path, f"v{version}", "manifest.json")


def current_version(path: str) -> int:
    """Committed version, 0 if the store is empty (no ``_LATEST``).

    Only a MISSING pointer means empty: an existing-but-garbled
    ``_LATEST`` raises instead of reading as 0 — the old behavior made
    the next ``merge_upsert`` silently restart at version 1 with an
    empty manifest, orphaning all committed state, and the next vacuum
    then deleted it (r13 review). Unreadable-for-permissions also
    propagates (``OSError``) rather than masquerading as empty."""
    latest = os.path.join(path, _LATEST)
    try:
        with open(latest) as f:
            content = f.read()
    except FileNotFoundError:
        return 0
    try:
        return int(content.strip())
    except ValueError as e:
        raise ValueError(
            f"corrupt {_LATEST} pointer at {latest!r} "
            f"({content[:40]!r}): refusing to treat an existing store "
            "as empty — repair or remove the pointer explicitly"
        ) from e


def _read_manifest(path: str) -> tuple[int, dict[str, int]]:
    v = current_version(path)
    if v == 0:
        return 0, {}
    with open(_manifest_path(path, v)) as f:
        return v, {str(k): int(x) for k, x in json.load(f).items()}


class VersionRetiredError(LookupError):
    """A time-travel read named a version that WAS committed but whose
    bucket data has been reclaimed by :func:`vacuum` — the request was
    valid, the retention horizon has simply passed. Distinct from the
    ``None`` a never-committed version returns, so an audit job can
    tell "you asked for a version that never existed" from "raise the
    store's ``retain_versions`` if you need to look this far back"
    (r14 review: both used to come back as ``None``)."""


def read_state_at(
    spark: SparkSession, path: str, version: int
) -> DataFrame | None:
    """TIME-TRAVEL read: the committed state AS OF ``version``. Every
    commit writes a full manifest snapshot (`_manifest_path`), so
    historical reads need no log replay — just the as-of manifest's
    bucket→version map, same pruned per-version scans as
    :func:`read_state`.

    Returns ``None`` when ``version`` was NEVER committed (out of the
    committed range, or its manifest is missing). Raises
    :class:`VersionRetiredError` when the version was committed but
    :func:`vacuum` has reclaimed buckets it references —
    ``retain_versions`` is the time-travel horizon, and a horizon miss
    is a different condition from an invalid request."""
    # COMMITTED versions only: a crash between a merge's manifest write
    # and its _LATEST replace leaves a complete-looking orphan manifest
    # one past the committed version (clobbered by the next commit,
    # never read by read_state) — time travel must not read it either,
    # or "as of version N" can return state no commit ever published
    # (r14 review).
    if version < 1 or version > current_version(path):
        return None
    try:
        with open(_manifest_path(path, version)) as f:
            manifest = json.load(f)
    except FileNotFoundError:
        # the version is IN the committed range (the _LATEST counter
        # proves a commit published it), so a MISSING manifest means
        # vacuum reclaimed the whole version dir — manifest.json lives
        # inside it (r15 review: the first cut of this contract only
        # caught the partial case below, and a fully-reclaimed version
        # still read as the never-committed None). Only absence means
        # retired: EACCES or a transient I/O error propagates as the
        # OSError it is, same refuse-to-masquerade contract as
        # current_version — telling an audit job "retention horizon
        # passed" when the store is merely unreadable would send it
        # chasing the wrong remediation (r15 review).
        raise VersionRetiredError(
            f"version {version} of {path} was committed but its "
            "version directory (including the manifest) has been "
            "reclaimed by vacuum — the store's retain_versions "
            "horizon no longer covers it"
        )
    # Past the vacuum horizon a manifest can survive while some of its
    # referenced bucket dirs are already reclaimed — surface that as
    # an explicit retirement instead of a partial (silently wrong)
    # scan, a deep Spark path error, or the never-committed None.
    for bucket, v in manifest.items():
        # stat + FileNotFoundError, not os.path.isdir: isdir() swallows
        # EACCES/transient I/O as False, which would read as "retired"
        # — only genuine absence means vacuum reclaimed it.
        bucket_dir = os.path.join(path, f"v{int(v)}", f"{_BUCKET}={bucket}")
        try:
            os.stat(bucket_dir)
        except FileNotFoundError:
            raise VersionRetiredError(
                f"version {version} of {path} was committed but bucket "
                f"{bucket} (owned by v{int(v)}) has been reclaimed by "
                "vacuum — the store's retain_versions horizon no "
                "longer covers it"
            )
    return _read_buckets(spark, path, manifest)


def read_state(spark: SparkSession, path: str) -> DataFrame | None:
    """Snapshot read of the latest committed state (None when empty).

    Buckets are grouped by owning version so each version directory is
    one pruned parquet scan; the ``_LATEST`` indirection gives readers
    snapshot isolation against concurrent commits.
    """
    _, manifest = _read_manifest(path)
    if not manifest:
        return None
    return _read_buckets(spark, path, manifest)


def _read_buckets(
    spark: SparkSession, path: str, manifest: dict[str, int]
) -> DataFrame | None:
    if not manifest:
        return None
    by_version: dict[int, list[str]] = {}
    for bucket, v in manifest.items():
        by_version.setdefault(v, []).append(bucket)
    out: DataFrame | None = None
    for v, buckets in sorted(by_version.items()):
        vdir = os.path.join(path, f"v{v}")
        part = (
            spark.read.option("basePath", vdir)
            .parquet(*[os.path.join(vdir, f"{_BUCKET}={b}") for b in buckets])
        )
        out = part if out is None else out.unionByName(part)
    return out.drop(_BUCKET)


def store_meta(path: str) -> dict | None:
    """The store's pinned layout (``key_cols``, ``seq_col``,
    ``n_buckets``, ``bucket_cols``) — what a pruning reader needs to
    compute bucket ids the same way the writer did. None if the store
    does not exist yet."""
    meta = _read_meta(path)
    if meta is not None and "bucket_cols" not in meta:
        meta["bucket_cols"] = meta["key_cols"]
    return meta


def read_state_pruned(
    spark: SparkSession, path: str, buckets: Sequence[int]
) -> DataFrame | None:
    """Snapshot read restricted to the given bucket ids (as computed by
    ``hash(bucket_cols) % n_buckets`` under the store's pinned layout —
    use :func:`store_meta` + :func:`bucket_ids_for` to derive them).
    Returns None when none of the requested buckets exist. Soundness of
    a pruned PROBE rests on the caller requesting a superset of the
    buckets its lookup keys can live in."""
    _, manifest = _read_manifest(path)
    wanted = {str(b) for b in buckets} & manifest.keys()
    if not wanted:
        return None
    return _read_buckets(
        spark, path, {b: manifest[b] for b in wanted}
    )


def bucket_ids_for(
    keys: DataFrame, bucket_cols: Sequence[str], n_buckets: int
) -> list[int]:
    """The distinct store-bucket ids a frame of (partial) keys hashes
    to — bounded by ``n_buckets``, so the collect is safe."""
    return sorted(
        r[_BUCKET]
        for r in keys.select(
            _bucket_col(bucket_cols, n_buckets).alias(_BUCKET)
        )
        .distinct()
        .collect()
    )


def _latest_per_key(
    df: DataFrame, key_cols: Sequence[str], seq_col: str
) -> DataFrame:
    """Max-seq row per key; ties broken by content hash so the winner is
    deterministic — which is what makes batch replay byte-identical."""
    tie = F.xxhash64(F.to_json(F.struct(*df.columns)))
    w = Window.partitionBy(*key_cols).orderBy(
        F.col(seq_col).desc(), tie.desc()
    )
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def merge_upsert(
    batch: DataFrame,
    path: str,
    key_cols: Sequence[str],
    seq_col: str,
    n_buckets: int = 16,
    bucket_cols: Sequence[str] | None = None,
) -> int:
    """Merge one (static) batch into the store; returns the committed
    version. Reads only the buckets the batch touches, writes only
    those buckets into a new version directory, commits by atomically
    advancing ``_LATEST``.

    ``bucket_cols`` (default: ``key_cols``) selects which key columns
    drive the bucket hash. Bucketing on a PREFIX of the key lets readers
    who know only that prefix (e.g. a probe that knows the lookup key
    but not the stored row's discriminator column) compute the bucket
    ids they need and read a pruned subset via
    :func:`read_state_pruned`. Must be a subset of ``key_cols`` so every
    version of a key lands in one bucket.
    """
    spark = batch.sparkSession
    bucket_cols = list(bucket_cols if bucket_cols is not None else key_cols)
    if not set(bucket_cols) <= set(key_cols):
        raise ValueError(
            f"bucket_cols {bucket_cols} must be a subset of key_cols "
            f"{list(key_cols)}"
        )
    os.makedirs(path, exist_ok=True)
    _check_meta(path, key_cols, seq_col, n_buckets, bucket_cols)
    batch = batch.withColumn(_BUCKET, _bucket_col(bucket_cols, n_buckets))
    dirty = sorted(
        r[_BUCKET] for r in batch.select(_BUCKET).distinct().collect()
    )
    if not dirty:
        return current_version(path)

    version, manifest = _read_manifest(path)
    existing = [str(b) for b in dirty if str(b) in manifest]
    merged = batch
    if existing:
        by_version: dict[int, list[str]] = {}
        for b in existing:
            by_version.setdefault(manifest[b], []).append(b)
        for v, buckets in sorted(by_version.items()):
            vdir = os.path.join(path, f"v{v}")
            cur = (
                spark.read.option("basePath", vdir)
                .parquet(
                    *[os.path.join(vdir, f"{_BUCKET}={b}") for b in buckets]
                )
            )
            # recompute the bucket: partition-column inference on read may
            # narrow the type, and union needs both sides identical
            cur = cur.drop(_BUCKET).withColumn(
                _BUCKET, _bucket_col(bucket_cols, n_buckets)
            )
            merged = merged.unionByName(cur)

    resolved = _latest_per_key(merged, key_cols, seq_col)

    new_version = version + 1
    vdir = os.path.join(path, f"v{new_version}")
    # deterministic dir name + overwrite: an orphan vdir from a crashed
    # previous attempt is clobbered, never merged with
    (
        resolved.repartition(len(dirty), _BUCKET)
        .write.mode("overwrite")
        .partitionBy(_BUCKET)
        .parquet(vdir)
    )

    new_manifest = dict(manifest)
    for b in dirty:
        new_manifest[str(b)] = new_version
    with open(_manifest_path(path, new_version), "w") as f:
        json.dump(new_manifest, f)
    tmp = os.path.join(path, _LATEST + ".tmp")
    with open(tmp, "w") as f:
        f.write(str(new_version))
    os.replace(tmp, os.path.join(path, _LATEST))  # the commit point
    return new_version


def vacuum(path: str, retain_versions: int = 2) -> int:
    """Delete bucket directories no longer referenced by the committed
    manifest. Without this, a writer that merges every micro-batch (one
    version per batch) grows storage without bound even though only
    manifest-referenced buckets are ever read.

    Versions newer than ``current - retain_versions`` are left intact so
    in-flight snapshot readers that pinned a recent manifest can finish;
    older versions are pruned to exactly the buckets the RETAINED
    manifests (current and every version inside the horizon) still
    reference — so ``read_state_at`` stays readable for the whole
    retain window. Returns the number of directories removed.
    """
    import shutil

    if retain_versions < 1:
        raise ValueError("retain_versions must be >= 1")
    version, _ = _read_manifest(path)
    if version == 0:
        return 0
    floor = version - retain_versions
    # Liveness must union the manifests of ALL retained versions, not
    # just the committed one (r13 review): a retained manifest (say
    # v3, current=4) can reference a bucket whose OWNING vdir is below
    # the floor (bucket last rewritten at v1) — pruning v1 to the
    # current manifest's refs alone deleted that bucket and broke both
    # documented guarantees (read_state_at inside the horizon, and
    # in-flight readers pinned to a recent manifest). Cost: one KB-
    # sized manifest read per retained version.
    live_by_owner: dict[int, set[str]] = {}
    for v_ref in range(max(floor + 1, 1), version + 1):
        try:
            with open(_manifest_path(path, v_ref)) as f:
                refs = json.load(f)
        except OSError:
            continue  # version never committed or already pruned
        for b, owner in refs.items():
            live_by_owner.setdefault(int(owner), set()).add(str(b))
    removed = 0
    for entry in sorted(os.listdir(path)):
        if not entry.startswith("v"):
            continue
        try:
            v = int(entry[1:])
        except ValueError:
            continue
        if v > floor:
            continue
        vdir = os.path.join(path, entry)
        live = live_by_owner.get(v, set())
        if not live:
            shutil.rmtree(vdir)
            removed += 1
            continue
        for sub in os.listdir(vdir):
            if (
                sub.startswith(f"{_BUCKET}=")
                and sub.split("=", 1)[1] not in live
            ):
                shutil.rmtree(os.path.join(vdir, sub))
                removed += 1
    return removed

