"""Manifest-committed snapshot tables — an object-store-native commit with
time travel and vacuum, for tables ``curate`` publishes.

This is exactly the commit shape of
Iceberg/Delta snapshot commits (public designs), reduced to what the runner
needs. The reference's derived tables are plain Postgres tables rebuilt by
SQL (e.g. plugs/podping/functions.sql — the whole table is the unit of
publication); here the unit of publication is a SNAPSHOT:

    table_dir/
      data/snap-<id>-<uuid>/        immutable parquet, unique name, NEVER
                                    renamed or overwritten
      manifests/manifest-<id>-<uuid>.json
                                    lists the snapshot's data dir + audit
                                    metadata, unique name, immutable
      _current                      the ONLY mutable object: the file name
                                    of the committed manifest

Commit protocol (crash-safe on POSIX, HDFS, AND plain object stores):

1. write parquet into a fresh uniquely-named data dir (no destructive op);
2. write the manifest under a fresh unique name (no destructive op);
3. swap ``_current`` with one ``write_bytes_atomic`` — a single-object
   atomic PUT on S3, tmp+rename elsewhere.

A crash before step 3 leaves garbage (an unreferenced data dir / manifest)
but readers — who resolve ``_current`` → manifest → listed data dir and
never enumerate ``data/`` — cannot observe it. There is no window, of any
width, in which the table is missing or partial, and nothing is renamed.
Old snapshots stay readable (time travel) until ``vacuum`` reclaims them.
(The sync runner commits the same way, with one pointer per plug: its
state document, runner/state.py.)

Concurrent writers: when the FS seam can compare-and-swap
(``fs.supports_cas`` — LocalFS via flock; an object store's conditional
PUT would slot in the same way), the pointer swap is CONDITIONAL on the
pointer still holding the manifest this commit built on — of two racing
writers exactly one commits and the loser raises ``ConcurrentWriteError``
(its staged objects are vacuum-able orphans; re-read and retry). The
portable HadoopFS cannot CAS (no conditional PUT in the portable API —
loud ``supports_cas=False`` probe), so there the swap stays last-writer-
wins single-writer semantics unless the caller passes ``require_cas=True``
to fail fast instead.
"""

from __future__ import annotations

import json
import os
import uuid
from datetime import datetime, timezone

from pyspark.sql import DataFrame, SparkSession

from haf_plug_play_spark.runner.fs import ConcurrentWriteError, LocalFS

_CURRENT = "_current"
_MANIFESTS = "manifests"
_DATA = "data"


def _manifest_names(table_dir: str, fs) -> list[str]:
    """Manifest file names, from a bounded listing of ``manifests/`` (one
    small JSON per commit — not the data dirs)."""
    return [
        name
        for name in fs.listdir(os.path.join(table_dir, _MANIFESTS))
        if name.startswith("manifest-") and name.endswith(".json")
    ]


def _manifest_id(name: str) -> int:
    return int(name.split("-")[1])


def _manifest_ids(table_dir: str, fs) -> dict[int, str]:
    """snapshot_id → manifest file name. Used ONLY where id collisions are
    harmless — next-id allocation (max over the key set) and test
    introspection. Lineage resolution must NOT go through this map: racing
    writers intentionally pick the same next id, so a loser that crashed
    between its manifest write and its post-CAS cleanup leaves an orphan
    SHARING the winner's id, and a dict keyed by id silently keeps
    whichever file the listing yields last (see _committed_chain_named)."""
    return {_manifest_id(n): n for n in _manifest_names(table_dir, fs)}


def _load_manifest(table_dir: str, fs, name: str) -> dict:
    return json.loads(fs.read_bytes(os.path.join(table_dir, _MANIFESTS, name)))


def _current_name(table_dir: str, fs) -> str | None:
    ptr = os.path.join(table_dir, _CURRENT)
    if not fs.exists(ptr):
        return None
    return fs.read_bytes(ptr).decode("utf-8").strip()


def current_manifest(table_dir: str, fs) -> dict | None:
    """The committed manifest, or None for a table with no commit yet."""
    name = _current_name(table_dir, fs)
    return _load_manifest(table_dir, fs, name) if name is not None else None


def _committed_chain_named(table_dir: str, fs) -> list[tuple[str, dict]]:
    """(manifest file name, manifest) pairs on the COMMITTED lineage,
    newest first. Lineage resolves by manifest NAME (``parent_manifest``,
    unique by uuid tag), never by snapshot id: a crashed CAS loser's
    orphan manifest can share a committed id, and an id-keyed lookup
    could silently serve the loser's data as history — and let vacuum
    reclaim the committed data dir it shadowed. Manifests from before the
    ``parent_manifest`` field fall back to the id map, LOUDLY refusing an
    ambiguous (duplicated) id instead of guessing."""
    name = _current_name(table_dir, fs)
    chain: list[tuple[str, dict]] = []
    by_id: dict[int, list[str]] | None = None
    while name is not None:
        m = _load_manifest(table_dir, fs, name)
        chain.append((name, m))
        pname = m.get("parent_manifest")
        if pname is None and m.get("parent") is not None:
            if by_id is None:
                by_id = {}
                for n in _manifest_names(table_dir, fs):
                    by_id.setdefault(_manifest_id(n), []).append(n)
            cands = by_id.get(m["parent"], [])
            if len(cands) > 1:
                # vacuum cannot remediate this: it resolves the chain
                # through this same walk, so it raises here too — with
                # pre-name-based manifests only the operator can tell
                # winner from orphan (inspect each candidate's data_dirs
                # / committed_utc against the child manifest)
                raise RuntimeError(
                    f"ambiguous parent snapshot id {m['parent']} in "
                    f"{table_dir}: {sorted(cands)} — an orphan manifest "
                    "shares a committed id and this manifest predates "
                    "name-based lineage, so the chain cannot disambiguate "
                    "them. MANUAL remediation: inspect the candidates' "
                    "data_dirs/committed_utc, then delete the orphan "
                    "manifest FILE (not its data dir) from manifests/; "
                    "a subsequent vacuum(delete_orphans=True) reclaims "
                    "the orphan's data"
                )
            pname = cands[0] if cands else None
        # a vacuumed-away parent ends the retained chain
        if pname is not None and not fs.exists(
            os.path.join(table_dir, _MANIFESTS, pname)
        ):
            pname = None
        name = pname
    return chain


def committed_chain(table_dir: str, fs) -> list[dict]:
    """Manifests on the COMMITTED lineage, newest first: walk parent
    manifest names from ``_current``. A manifest that exists but is not on
    this chain is an uncommitted leftover (a commit that crashed before
    its pointer swap, or a CAS loser that crashed before cleanup) — it is
    not history and neither time travel nor retention treat it as such."""
    return [m for _, m in _committed_chain_named(table_dir, fs)]


def _data_dirs(manifest: dict) -> list[str]:
    """A manifest's data dirs. Append commits list several
    (``data_dirs``); full commits keep the original single ``data_dir``
    key — both spellings stay readable forever."""
    if "data_dirs" in manifest:
        return list(manifest["data_dirs"])
    return [manifest["data_dir"]]


def _commit(
    spark: SparkSession,
    df: DataFrame,
    table_dir: str,
    fs,
    inherit_dirs: bool,
    batch_id: int | None = None,
    writer_id: str | None = None,
    require_cas: bool = False,
) -> dict:
    fs = fs or LocalFS()
    # capability check FIRST: it depends only on the fs and the flag, and
    # failing after the parquet write would burn a full table write and
    # leave orphans behind on every attempt
    if require_cas and not getattr(fs, "supports_cas", False):
        raise NotImplementedError(
            f"require_cas=True but {type(fs).__name__} cannot "
            "compare-and-swap (supports_cas is false) — use a CAS-capable "
            "store or accept single-writer semantics"
        )
    fs.makedirs(os.path.join(table_dir, _MANIFESTS))
    # read the pointer BYTES once: they are both the parent manifest to
    # build on and the compare-and-swap expectation at the commit point —
    # any concurrent commit that lands in between changes them and the
    # final swap fails instead of silently orphaning the other writer's
    # snapshot (last-writer-wins, the r4 gap).
    ptr = os.path.join(table_dir, _CURRENT)
    expected = fs.read_bytes(ptr) if fs.exists(ptr) else None
    cur = (
        _load_manifest(table_dir, fs, expected.decode("utf-8").strip())
        if expected is not None
        else None
    )
    # per-writer high-water marks, carried forward by EVERY commit
    # (appends, full commits, compaction) so a retried batch is
    # recognized even when other commits landed in between — checking
    # only the head manifest (the pre-r9 shape) silently re-appended a
    # retried batch after any interleaved commit or rewrite (review r9).
    # This is the txnAppId→latest-txnVersion ACROSS HISTORY shape of
    # Delta's public foreachBatch idempotency pattern; batch ids are
    # monotonic per writer (Structured Streaming epochs), hence <=.
    writers: dict[str, int] = dict(cur.get("writers", {})) if cur else {}
    if cur is not None and cur.get("writer_id") is not None:
        # fold in a pre-writers-map head manifest (legacy tables)
        w = cur["writer_id"]
        writers[w] = max(writers.get(w, -1), int(cur.get("batch_id", -1)))
    if (
        batch_id is not None
        and writer_id is not None
        and batch_id <= writers.get(writer_id, -1)
    ):
        # idempotent re-commit: an at-least-once stream retrying a batch
        # that already landed (now or any number of commits ago) must not
        # append it twice. The key is (writer_id, batch_id) — batch_id
        # alone would silently drop batch 0 of a DIFFERENT stream (fresh
        # checkpoint, second pipeline) that happens to collide with an
        # already-recorded batch number.
        return cur
    # the recorded schema is the UNION of the inherited chain's schema and
    # this batch's (by name, parent order first) — recording only
    # df.schema (the pre-r10 shape, ADVICE r9) let an append whose batch
    # lacked a column present in earlier data_dirs silently drop that
    # column from every read of the snapshot (the explicit-schema parquet
    # read prunes to the recorded names). Type disagreements fail HERE,
    # before the parquet write (no burned table write, no orphan dir per
    # retry), rather than committing a snapshot whose read dies later.
    schema_entries = [
        [f.name, f.dataType.simpleString()] for f in df.schema.fields
    ]
    if inherit_dirs and cur is not None:
        # the inherited column map. A post-r11 parent manifest is stamped
        # schema_covers_chain and its recorded schema IS the chain union;
        # a legacy parent (pre-union or pre-stamp) recorded only its own
        # batch's columns, so trusting it could still drop a GRANDPARENT
        # column (ADVICE r10) — walk the committed chain once and union
        # every ancestor's recorded schema, oldest first (stable column
        # order; ancestor type disagreement means the chain's reads are
        # already broken → loud, same posture as the batch check below).
        if cur.get("schema") and cur.get("schema_covers_chain"):
            parent_entries = [list(e) for e in cur["schema"]]
        else:
            # union only the INHERITED run of the chain: a full commit or
            # compaction replaces data_dirs (child's dirs no longer
            # contain its parent's), so schemas behind that boundary
            # describe files the current snapshot does not read — a type
            # change across a full commit is legal and must not poison
            # later appends, and a column dropped by it must not
            # resurrect
            chain = _committed_chain_named(table_dir, fs)  # newest first
            cut = len(chain)
            for i in range(len(chain) - 1):
                child_dirs = set(_data_dirs(chain[i][1]))
                parent_dirs = set(_data_dirs(chain[i + 1][1]))
                if not parent_dirs <= child_dirs:
                    cut = i + 1
                    break
            parent_entries = []
            seen: dict[str, str] = {}
            for _, anc in reversed(chain[:cut]):  # oldest-first in the run
                for name, typ in anc.get("schema") or []:
                    if name not in seen:
                        seen[name] = typ
                        parent_entries.append([name, typ])
                    elif seen[name] != typ:
                        raise ValueError(
                            f"inherited chain disagrees on column "
                            f"'{name}' ({seen[name]} vs {typ}); the "
                            "earlier files cannot all be read with one "
                            "type — compact the table before appending"
                        )
        parent = {name: typ for name, typ in parent_entries}
        for name, typ in schema_entries:
            if name in parent and parent[name] != typ:
                raise ValueError(
                    f"append batch changes column '{name}' from "
                    f"{parent[name]} to {typ}; type evolution is not "
                    "supported on an inherited data chain (the earlier "
                    "files cannot be read with the new type)"
                )
        schema_entries = parent_entries + [
            e for e in schema_entries if e[0] not in parent
        ]
    known = _manifest_ids(table_dir, fs)
    # next id rides on the manifest listing, not the pointer, so a crashed
    # commit's orphan manifest can never be ambiguous with a live id
    snap_id = max(known, default=0) + 1
    tag = uuid.uuid4().hex[:8]
    data_rel = f"{_DATA}/snap-{snap_id:08d}-{tag}"
    data_dir = os.path.join(table_dir, data_rel)
    df.write.mode("error").parquet(data_dir)

    dirs = (_data_dirs(cur) if inherit_dirs and cur is not None else []) + [data_rel]
    manifest = {
        "snapshot_id": snap_id,
        "data_dirs": dirs,
        "parent": cur["snapshot_id"] if cur else None,
        # lineage resolves by this NAME, not the id: a crashed CAS loser
        # can leave an orphan manifest sharing the winner's id, and only
        # the unique file name disambiguates (see _committed_chain_named)
        "parent_manifest": (
            expected.decode("utf-8").strip() if expected is not None else None
        ),
        "schema": schema_entries,
        # stamp: this manifest's schema is the union over its whole
        # inherited chain (true by construction above for appends; a
        # full commit/compaction replaces data_dirs so its own schema
        # trivially covers them) — lets the next append trust it
        # instead of re-walking the chain
        "schema_covers_chain": True,
        "committed_utc": datetime.now(timezone.utc).isoformat(),
    }
    if batch_id is not None:
        manifest["batch_id"] = batch_id
        manifest["writer_id"] = writer_id
        if writer_id is not None:
            writers[writer_id] = max(writers.get(writer_id, -1), batch_id)
    if writers:
        manifest["writers"] = writers
    mname = f"manifest-{snap_id:08d}-{tag}.json"
    fs.write_bytes_atomic(
        os.path.join(table_dir, _MANIFESTS, mname),
        json.dumps(manifest, indent=1).encode("utf-8"),
    )
    # THE commit point — everything before this is invisible to readers.
    # Conditional swap when the FS can CAS (LocalFS flock; an object
    # store's conditional PUT): the swap succeeds only if the pointer
    # still holds what this commit built on, so of two concurrent
    # writers exactly one wins and the loser raises
    # ConcurrentWriteError with its objects left as vacuum-able orphans.
    # A non-CAS FS (portable HadoopFS) keeps the documented single-writer
    # last-writer-wins behavior unless the caller demanded safety.
    if getattr(fs, "supports_cas", False):
        try:
            fs.swap_if_current(ptr, expected, mname.encode("utf-8"))
        except ConcurrentWriteError:
            # the loser deletes its OWN staged objects before re-raising:
            # racing writers pick the same next snapshot id (both listed
            # the same manifests), so leaving the losing manifest behind
            # would make the id→manifest listing ambiguous with the
            # winner's. A crash (not a CAS loss) still leaves orphans —
            # that path is covered by opt-in vacuum, same as before.
            fs.delete(os.path.join(table_dir, _MANIFESTS, mname))
            fs.delete(data_dir)
            raise
    else:
        # require_cas was already validated before the data write
        fs.write_bytes_atomic(ptr, mname.encode("utf-8"))
    return manifest


def commit_snapshot(
    spark: SparkSession,
    df: DataFrame,
    table_dir: str,
    fs=None,
    require_cas: bool = False,
) -> dict:
    """Publish ``df`` as the table's next snapshot (replacing the previous
    content); returns the manifest.

    The parquet write is the data plane (Spark's own writers, any scheme);
    nothing in this function renames or overwrites an existing object
    except the final single-pointer swap — conditional when the FS can
    CAS (see module docstring); ``require_cas=True`` refuses to commit
    through a store that cannot.
    """
    return _commit(
        spark, df, table_dir, fs, inherit_dirs=False, require_cas=require_cas
    )


def append_snapshot(
    spark: SparkSession,
    df: DataFrame,
    table_dir: str,
    fs=None,
    batch_id: int | None = None,
    writer_id: str = "default",
    require_cas: bool = False,
) -> dict:
    """Publish ``df`` as an APPEND: the new manifest lists the parent
    snapshot's data dirs plus one fresh dir holding only the new rows —
    an append commit writes the delta, never rewrites the table (the
    Iceberg append shape). Same crash safety as commit_snapshot: the
    pointer swap is the only mutation.

    ``(writer_id, batch_id)`` makes the append idempotent for
    at-least-once writers (Structured Streaming ``foreachBatch`` retries a
    batch after a crash): a re-commit of the batch that is already current
    is a no-op, so the published table sees each micro-batch exactly once.
    ``writer_id`` names the STREAM (use its checkpoint identity): two
    different pipelines appending to one table each restart from batch 0,
    and without the writer key the second stream's first batch would be
    mistaken for a retry of the first's. The append chain
    grows one small dir per batch; fold it periodically with
    ``rewrite_snapshot`` (the compaction story is unchanged).
    """
    return _commit(
        spark, df, table_dir, fs,
        inherit_dirs=True, batch_id=batch_id, writer_id=writer_id,
        require_cas=require_cas,
    )


def read_snapshot(
    spark: SparkSession, table_dir: str, fs=None, snapshot_id: int | None = None
) -> DataFrame:
    """Read the committed snapshot (or a retained older one by id —
    time travel). Resolves pointer → manifest → data dir; never lists
    ``data/``, so crashed-commit garbage is unobservable."""
    fs = fs or LocalFS()
    if snapshot_id is None:
        manifest = current_manifest(table_dir, fs)
        if manifest is None:
            raise FileNotFoundError(f"no committed snapshot in {table_dir}")
    else:
        # time travel resolves through the committed chain ONLY — a crashed
        # commit's manifest must not be readable as if it were history
        chain = {m["snapshot_id"]: m for m in committed_chain(table_dir, fs)}
        if snapshot_id not in chain:
            raise FileNotFoundError(
                f"snapshot {snapshot_id} not retained in {table_dir} "
                f"(committed chain: {sorted(chain)})"
            )
        manifest = chain[snapshot_id]
    dirs = [os.path.join(table_dir, d) for d in _data_dirs(manifest)]
    # read with the MANIFEST's recorded schema (review r9): an append
    # chain whose batches evolved the schema would otherwise take its
    # schema from an arbitrary file footer and silently drop columns
    # present only in newer dirs; the manifest faithfully recorded the
    # schema at commit time — honor it (files missing a column fill NULL)
    schema = manifest.get("schema")
    reader = spark.read
    if schema:
        reader = reader.schema(
            ", ".join(f"`{name}` {typ}" for name, typ in schema)
        )
    return reader.parquet(*dirs)


def rewrite_snapshot(
    spark: SparkSession, table_dir: str, fs=None, target_files: int = 8
) -> dict:
    """Compaction, snapshot-style: read the current snapshot, rewrite it
    into ``target_files`` files as a NEW snapshot, commit by pointer swap.
    The old snapshot stays readable until vacuumed — compaction can crash
    at any step without an invisibility window."""
    fs = fs or LocalFS()
    df = read_snapshot(spark, table_dir, fs).coalesce(target_files)
    return commit_snapshot(spark, df, table_dir, fs)


def vacuum(
    table_dir: str, fs=None, keep_last: int = 2, delete_orphans: bool = False
) -> dict:
    """Reclaim storage: keep the newest ``keep_last`` snapshots of the
    COMMITTED chain (always at least the current one); drop older chain
    manifests and their data dirs.

    Uncommitted leftovers — a manifest off the chain, or a data dir with no
    manifest at all (a commit that crashed, or one mid-flight right now) —
    are only removed with ``delete_orphans=True``, which the single writer
    passes when it knows no commit is in flight."""
    fs = fs or LocalFS()
    names = _manifest_names(table_dir, fs)
    if not names:
        return {"kept": [], "deleted_manifests": [], "deleted_dirs": []}
    chain = _committed_chain_named(table_dir, fs)  # newest first
    keep = chain[: max(1, keep_last)]
    keep_ids = sorted(m["snapshot_id"] for _, m in keep)
    keep_names = {n for n, _ in keep}
    # append manifests SHARE data dirs with their parents — a dir is only
    # reclaimable when no kept manifest lists it
    keep_dirs = {d for _, m in keep for d in _data_dirs(m)}
    # membership by manifest NAME, not id: an orphan sharing a committed
    # id must still be recognizable as an orphan (and reclaimable)
    chain_names = {n for n, _ in chain}
    deleted_manifests, deleted_dirs = [], []
    for name in sorted(names):
        if name in keep_names:
            continue
        if name not in chain_names and not delete_orphans:
            continue  # uncommitted leftover: opt-in only
        for ddir in _data_dirs(_load_manifest(table_dir, fs, name)):
            if ddir not in keep_dirs and ddir not in deleted_dirs:
                fs.delete(os.path.join(table_dir, ddir))
                deleted_dirs.append(ddir)
        fs.delete(os.path.join(table_dir, _MANIFESTS, name))
        deleted_manifests.append(name)
    if delete_orphans:
        kept_manifest_dirs = {
            d
            for n in _manifest_names(table_dir, fs)
            for d in _data_dirs(_load_manifest(table_dir, fs, n))
        }
        for name in fs.listdir(os.path.join(table_dir, _DATA)):
            rel = f"{_DATA}/{name}"
            if rel not in kept_manifest_dirs:
                fs.delete(os.path.join(table_dir, rel))
                deleted_dirs.append(rel)
    return {
        "kept": keep_ids,
        "deleted_manifests": deleted_manifests,
        "deleted_dirs": deleted_dirs,
    }
