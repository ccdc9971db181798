"""Snapshot tables: Iceberg-style semantics on plain Parquet.

The design targets Iceberg tables; the Spark image has no
``iceberg-spark-runtime`` jar, so this module gives plain parquet
directories the table-format PROPERTIES the engine depends on, using only
a filesystem with atomic rename/link (POSIX, HDFS, and object stores with
a rename shim).  Each snapshot's data is one unpartitioned parquet
directory.

* **atomic commit / snapshot isolation** — a snapshot is a JSON manifest
  listing immutable data directories; it becomes visible via one atomic
  ``os.link`` publish.  Readers resolve the ``current`` pointer once and
  then read only directories listed in that manifest: a crashed or
  in-flight write is invisible (its data dir is simply unreferenced).
* **append / overwrite** — append manifests inherit the parent's data
  dirs; overwrite manifests start fresh.  Data files are never mutated.
* **time travel** — ``read_snapshot(spark, t, version=N)`` reads any
  retained snapshot; ``list_snapshots`` shows the history.
* **optimistic concurrency** — two committers racing for the same
  version: one ``os.link`` wins, the loser gets
  :class:`ConcurrentCommitError` and retries on the fresh parent (same
  contract as Iceberg's optimistic commit).
* **idempotent replay** — a commit whose ``tag`` a retained snapshot
  already holds writes nothing (a replayed streaming epoch or job run).
* **additive schema evolution** — appends may add columns; a type change
  raises :class:`SchemaEvolutionError`.
* **expiry** — ``expire_snapshots`` drops old manifests and deletes data
  dirs no retained manifest references (orphans from failed commits
  included).

Its callers are ``job.py --publish-snapshot``, the streaming sink
(:mod:`.streaming.incremental`) and the learned BPE merge table
(:mod:`.functions.bpe`).
"""

from __future__ import annotations

import json
import os
import shutil
import uuid

from pyspark.sql import DataFrame, SparkSession


class ConcurrentCommitError(RuntimeError):
    """Another committer published this version first — reload and retry."""


class SchemaEvolutionError(ValueError):
    """Append schema is incompatible with the table (type change) — only
    ADDITIVE evolution is supported.  Columns MISSING from an append are
    not an error: they keep their table slot and read NULL."""


def _evolved_schema(parent: dict, new: dict) -> dict:
    """ADDITIVE schema union: parent field order, new-only fields appended
    as nullable.  Type change -> SchemaEvolutionError; a column missing
    from the append keeps its parent slot and reads NULL for new rows
    (pinned by test_missing_column_on_append_is_nulled)."""
    new_by_name = {f["name"]: f for f in new["fields"]}
    fields = []
    for f in parent["fields"]:
        nf = new_by_name.get(f["name"])
        if nf is not None and nf["type"] != f["type"]:
            raise SchemaEvolutionError(
                f"column {f['name']!r}: type {f['type']!r} -> "
                f"{nf['type']!r} is not additive")
        fields.append(f)
    parent_names = {f["name"] for f in parent["fields"]}
    for f in new["fields"]:
        if f["name"] not in parent_names:
            fields.append({**f, "nullable": True})
    return {**parent, "fields": fields}


def _meta(table_dir: str) -> str:
    return os.path.join(table_dir, "metadata")


def _manifest_path(table_dir: str, version: int) -> str:
    return os.path.join(_meta(table_dir), f"v{version}.json")


def current_version(table_dir: str) -> int:
    """Latest PUBLISHED snapshot version; 0 when the table is empty.

    The atomic ``os.link`` of the manifest is the publish point, so the
    truth is the highest ``vN.json`` present; the ``current`` pointer is
    only a fast path.  Taking the max of both heals the crash window
    between publish and pointer advance — without it, a committer dying
    in that window would wedge the table (every later commit would race
    the orphaned version number and lose forever)."""
    meta = _meta(table_dir)
    ptr = 0
    try:
        with open(os.path.join(meta, "current")) as f:
            ptr = int(f.read().strip())
    except (FileNotFoundError, ValueError):
        pass
    newest = ptr
    try:
        for name in os.listdir(meta):
            if name.startswith("v") and name.endswith(".json"):
                try:
                    newest = max(newest, int(name[1:-5]))
                except ValueError:
                    continue
    except FileNotFoundError:
        pass
    return newest


def _load_manifest(table_dir: str, version: int) -> dict:
    with open(_manifest_path(table_dir, version)) as f:
        return json.load(f)


def commit_snapshot(df: DataFrame, table_dir: str, mode: str = "append",
                    tag: str | None = None) -> int | None:
    """Write ``df`` as a new snapshot; returns the published version.

    The data directory is written FIRST (unique name, never referenced
    until publish), then the manifest is published with an atomic
    ``os.link`` — the only point at which the snapshot becomes visible.
    Raises :class:`ConcurrentCommitError` when another committer wins the
    version; the caller re-reads state and retries.  ``tag`` is an opaque
    idempotence label recorded in the manifest (e.g. a streaming epoch id):
    when a retained snapshot already holds it (see :func:`committed_tags`),
    the commit is a replay — nothing is written and None is returned.

    Schema evolution is ADDITIVE on append: new columns join the table
    schema as nullable (old data reads NULL for them); columns missing
    from the append keep their slot and read NULL for the new rows; a
    type change raises :class:`SchemaEvolutionError`.
    """
    if mode not in ("append", "overwrite"):
        raise ValueError(f"mode {mode!r}")
    if tag is not None and tag in committed_tags(table_dir):
        return None
    os.makedirs(_meta(table_dir), exist_ok=True)
    parent_v = current_version(table_dir)
    new_v = parent_v + 1
    data_dir = os.path.join(
        table_dir, "data", f"s{new_v}-{uuid.uuid4().hex[:8]}")
    schema = df.schema.jsonValue()
    parent_dirs: list[str] = []
    if mode == "append" and parent_v:
        parent_m = _load_manifest(table_dir, parent_v)
        parent_dirs = parent_m["data_dirs"]
        schema = _evolved_schema(parent_m["schema"], schema)
    df.write.mode("errorifexists").parquet(data_dir)
    manifest = {
        "version": new_v,
        "parent": parent_v or None,
        "mode": mode,
        "data_dirs": [*parent_dirs, data_dir],
        "schema": schema,
        "tag": tag,
    }
    tmp = os.path.join(_meta(table_dir),
                       f".tmp-{os.getpid()}-{uuid.uuid4().hex[:8]}")
    with open(tmp, "w") as f:
        json.dump(manifest, f)
    try:
        os.link(tmp, _manifest_path(table_dir, new_v))  # atomic publish
    except FileExistsError as e:
        os.unlink(tmp)
        # the data dir is orphaned garbage; expire_snapshots collects it
        raise ConcurrentCommitError(
            f"version {new_v} of {table_dir} was committed concurrently"
        ) from e
    os.unlink(tmp)
    # advance the pointer (atomic rename; publish order manifest->pointer
    # means a reader holding the new pointer always finds the manifest)
    ptr_tmp = os.path.join(_meta(table_dir), f".cur-{uuid.uuid4().hex[:8]}")
    with open(ptr_tmp, "w") as f:
        f.write(str(new_v))
    os.replace(ptr_tmp, os.path.join(_meta(table_dir), "current"))
    return new_v


def read_snapshot(spark: SparkSession, table_dir: str,
                  version: int | None = None) -> DataFrame | None:
    """Read a snapshot (default: current).  None when the table is empty
    or the requested version has been expired."""
    v = current_version(table_dir) if version is None else version
    if v <= 0:
        return None
    try:
        m = _load_manifest(table_dir, v)
    except FileNotFoundError:
        return None
    from pyspark.sql.types import StructType

    schema = StructType.fromJson(m["schema"])
    dirs = [d for d in m["data_dirs"] if os.path.exists(d)]
    if len(dirs) < len(m["data_dirs"]):
        # a retained manifest referencing missing data is corruption
        # (e.g. an expire racing a committer) — never drop rows silently
        import warnings
        missing = sorted(set(m["data_dirs"]) - set(dirs))
        warnings.warn(
            f"snapshot v{m['version']} of {table_dir}: "
            f"{len(missing)} referenced data dir(s) missing "
            f"(first: {missing[0]}); reading the rest", RuntimeWarning)
    if not dirs:
        return spark.createDataFrame([], schema)
    return spark.read.schema(schema).parquet(*dirs)


def list_snapshots(table_dir: str) -> list[dict]:
    """Manifest summaries, oldest first (expired versions omitted)."""
    meta = _meta(table_dir)
    if not os.path.isdir(meta):
        return []
    out = []
    for name in sorted(os.listdir(meta)):
        if name.startswith("v") and name.endswith(".json"):
            try:
                m = json.loads(open(os.path.join(meta, name)).read())
            except (OSError, ValueError):
                continue
            out.append({"version": m["version"], "parent": m["parent"],
                        "mode": m["mode"], "n_data_dirs": len(m["data_dirs"]),
                        "tag": m.get("tag")})
    return sorted(out, key=lambda m: m["version"])


def committed_tags(table_dir: str) -> set:
    """Tags of all retained snapshots — the idempotence check for
    replayable writers (streaming foreachBatch epochs)."""
    return {m["tag"] for m in list_snapshots(table_dir)
            if m.get("tag") is not None}


def expire_snapshots(table_dir: str, keep_last: int = 2,
                     orphan_grace_sec: float = 3600.0) -> list[str]:
    """Drop all but the newest ``keep_last`` manifests and delete every
    data directory no retained manifest references — including orphans
    from crashed/lost commits.  Returns the deleted data dirs.

    ``commit_snapshot`` writes its data dir BEFORE the manifest publish,
    so an expire running concurrently would see the in-flight dir as an
    orphan; unreferenced dirs younger than ``orphan_grace_sec`` are
    therefore left alone (Iceberg's remove_orphan_files has the same
    ``older_than`` guard).  Pass 0 only when no committer can be live.

    Safe against streaming replay: Structured Streaming can only ever
    replay the NEWEST epoch (its checkpoint commits monotonically), and
    ``keep_last >= 1`` always retains the newest manifest — so an
    idempotence tag needed by a future replay is never expired."""
    import time
    snaps = list_snapshots(table_dir)
    if not snaps:
        return []
    keep = {m["version"] for m in snaps[-keep_last:]}
    referenced: set[str] = set()
    for v in keep:
        referenced.update(_load_manifest(table_dir, v)["data_dirs"])
    for m in snaps:
        if m["version"] not in keep:
            os.unlink(_manifest_path(table_dir, m["version"]))
    deleted = []
    now = time.time()
    data_root = os.path.join(table_dir, "data")
    if os.path.isdir(data_root):
        for name in sorted(os.listdir(data_root)):
            d = os.path.join(data_root, name)
            if d in referenced:
                continue
            try:
                age = now - os.path.getmtime(d)
            except OSError:
                continue  # vanished under us (concurrent expire)
            if age < orphan_grace_sec:
                continue  # possibly an in-flight commit's data
            shutil.rmtree(d, ignore_errors=True)
            deleted.append(d)
    return deleted
