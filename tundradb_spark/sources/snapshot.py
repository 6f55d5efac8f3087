"""Snapshot commit/restore: versioned Parquet directories + JSON manifest.

Reference behavior (include/storage/snapshot_manager.hpp:18-99,
src/storage/snapshot_manager.cpp): COMMIT writes dirty shards + edges to
Parquet plus metadata/manifest JSON; startup restores the latest snapshot in
the order metadata → schemas → manifest (**ID counters!**) → shards → edge
schemas → edges. Losing the counters would make fresh IDs collide with
restored rows — the manifest carries them (same bug class the reference
guards at include/core/edge_store.hpp:124-143).

Spark realization: immutable writes make dirty-tracking/compaction
unnecessary; each snapshot is a self-contained directory
``{path}/snapshots/{n}/`` with one parquet dataset per node schema / edge
type and a ``manifest.json``. ``{path}/LATEST`` points at the newest
snapshot (written last, so a crashed commit is simply invisible).
"""

from __future__ import annotations

import json
import os
import time
from concurrent.futures import ThreadPoolExecutor
from typing import TYPE_CHECKING

from pyspark.sql import functions as F

from tundradb_spark.catalog import Catalog
from tundradb_spark.database import _Table

if TYPE_CHECKING:
    from tundradb_spark.database import Database

MANIFEST = "manifest.json"
LATEST = "LATEST"


def commit_snapshot(db: "Database") -> str:
    """Write a snapshot. Incremental like the reference's dirty-shard commit
    (src/storage/snapshot_manager.cpp — only dirty shards are rewritten):
    tables untouched since the previous COMMIT are not re-serialized; the new
    manifest re-points at their existing parquet. Paths in the manifest are
    ROOT-relative (``snapshots/{n}/nodes/{name}``) so any snapshot may
    reference files written by an earlier one; immutable writes make the
    sharing safe."""
    root = db.path
    os.makedirs(os.path.join(root, "snapshots"), exist_ok=True)
    prev = _latest_id(root)
    snap_id = (prev if prev is not None else -1) + 1
    snap_dir = os.path.join(root, "snapshots", str(snap_id))
    prev_manifest: dict = {"nodes": {}, "edges": {}}
    if prev is not None:
        with open(os.path.join(root, "snapshots", str(prev), MANIFEST)) as f:
            prev_manifest = json.load(f)

    def _prev_rel(section: str, name: str) -> str | None:
        rel = prev_manifest.get(section, {}).get(name)
        if rel is None:
            return None
        # old manifests stored snapshot-relative paths; normalize
        return rel if rel.startswith("snapshots/") else f"snapshots/{prev}/{rel}"

    node_paths: dict[str, str] = {}
    #: each versioned table's chain writer, "engine" or "external"
    #: (``pre_versioned``): restore needs both to read AS OF correctly
    chains: dict[str, str] = {}
    writes: list[tuple] = []  # (df, root-relative path) for dirty tables
    for name in db.catalog.node_schemas:
        t = db._nodes[name]
        if t.versioned:
            chains[name] = "external" if t.external_chains else "engine"
        carry = None if t.dirty else _prev_rel("nodes", name)
        if carry is not None:
            node_paths[name] = carry
            continue
        if not t.versioned:
            df = db.get_table(name)
        elif getattr(db, "version_storage", "full") == "delta":
            # sparse COW layout: store only the fields each version changed
            # (+ field mask) — temporal.deltify_versions; restore inverts it
            from tundradb_spark.temporal import deltify_versions

            df = deltify_versions(db.get_table_versions(name))
        else:
            # full-row chains are written CLUSTERED by id: in-memory
            # version tables are union-appends (arrival order), and a
            # scattered chain defeats parquet's dictionary/RLE folding of
            # unchanged values — measured r6 on a wide high-entropy
            # hot-update chain, arrival order costs 6.4-9.4x the delta
            # layout while the SAME rows clustered by id cost 1.1-1.15x
            # (README "Version storage" table).  One shuffle per dirty
            # versioned table buys delta-grade storage with full-row
            # read speed.
            df = (
                db.get_table_versions(name)
                .repartition(F.col("id"))
                .sortWithinPartitions("id", "version_id")
            )
        rel = f"snapshots/{snap_id}/nodes/{name}"
        writes.append((df, rel))
        node_paths[name] = rel
    edge_paths: dict[str, str] = {}
    for etype in db._edges:
        t = db._edges[etype]
        carry = None if t.dirty else _prev_rel("edges", etype)
        if carry is not None:
            edge_paths[etype] = carry
            continue
        rel = f"snapshots/{snap_id}/edges/{etype}"
        writes.append((db.get_edge_table(etype), rel))
        edge_paths[etype] = rel

    # independent immutable directories → submit the write jobs from
    # concurrent driver threads (Spark schedules them fairly); a commit of k
    # dirty tables costs max(write) wall-clock, not sum(write)
    if len(writes) > 1:
        with ThreadPoolExecutor(max_workers=min(4, len(writes))) as pool:
            futures = [
                pool.submit(
                    lambda d, r: d.write.mode("overwrite").parquet(
                        os.path.join(root, r)
                    ),
                    df,
                    rel,
                )
                for df, rel in writes
            ]
            for f in futures:
                f.result()  # propagate the first failure
    elif writes:
        df, rel = writes[0]
        df.write.mode("overwrite").parquet(os.path.join(root, rel))

    manifest = {
        "snapshot_id": snap_id,
        "created_ms": int(time.time() * 1000),
        "versioning": db.versioning,
        "version_storage": getattr(db, "version_storage", "full"),
        "catalog": db.catalog.to_manifest(),
        "nodes": node_paths,
        "chains": chains,
        "edges": edge_paths,
    }
    os.makedirs(snap_dir, exist_ok=True)
    with open(os.path.join(snap_dir, MANIFEST), "w") as f:
        json.dump(manifest, f, indent=2)
    # atomic-ish pointer flip, written last
    tmp = os.path.join(root, LATEST + ".tmp")
    with open(tmp, "w") as f:
        f.write(str(snap_id))
    os.replace(tmp, os.path.join(root, LATEST))
    for t in list(db._nodes.values()) + list(db._edges.values()):
        t.dirty = False
    return snap_dir


def _latest_id(root: str) -> int | None:
    p = os.path.join(root, LATEST)
    if not os.path.exists(p):
        return None
    with open(p) as f:
        return int(f.read().strip())


def gc_snapshots(root: str, keep_last: int = 1) -> list[int]:
    """Reclaim storage from old snapshots, safely under incremental commit.

    Incremental commits SHARE parquet directories across snapshots (a clean
    table's manifest entry points at an earlier snapshot's files), so
    deleting old snapshot directories naively would corrupt newer ones.
    GC therefore works from the manifests: keep the newest ``keep_last``
    snapshots, collect every root-relative path they reference, and delete
    (a) whole snapshot dirs older than the kept set that contribute no
    referenced files, and (b) unreferenced table dirs inside partially
    shared old snapshots.  The LATEST pointer is never touched.

    Single-writer assumption (matches the reference's lone shell process —
    apps/tundra_shell.cpp): GC treats ids beyond LATEST as crashed partial
    commits and reclaims them; a CONCURRENT writer mid-commit on the same
    path (parquet written, LATEST not yet flipped) would lose its in-flight
    snapshot.  Coordinate GC with commits externally if multiple writers
    ever share a path.

    Returns the ids of fully removed snapshots.
    """
    import shutil

    if keep_last < 1:
        # keep_last=0 would reclaim the snapshot LATEST points at — the
        # database would become unrestorable while the pointer survives
        raise ValueError(f"keep_last must be >= 1, got {keep_last}")
    latest = _latest_id(root)
    if latest is None:
        return []
    snaps_dir = os.path.join(root, "snapshots")
    all_ids = sorted(
        int(d) for d in os.listdir(snaps_dir) if d.isdigit()
    )
    # ids beyond LATEST are crashed partial commits (the pointer flips
    # last) — invisible to restore, safe to drop with the old ones
    kept = [i for i in all_ids if latest - keep_last < i <= latest]
    referenced: set[str] = set()
    for sid in kept:
        with open(os.path.join(snaps_dir, str(sid), MANIFEST)) as f:
            m = json.load(f)
        for section in ("nodes", "edges"):
            for rel in m.get(section, {}).values():
                rel = (
                    rel if rel.startswith("snapshots/")
                    else f"snapshots/{sid}/{rel}"
                )
                referenced.add(os.path.normpath(rel))

    removed: list[int] = []
    for sid in all_ids:
        if sid in kept:
            continue
        sdir = os.path.join(snaps_dir, str(sid))
        prefix = os.path.normpath(f"snapshots/{sid}")
        shared = {r for r in referenced if r.startswith(prefix + os.sep)}
        if not shared:
            shutil.rmtree(sdir, ignore_errors=True)
            removed.append(sid)
            continue
        # partially shared: drop only table dirs no kept manifest references
        for kind in ("nodes", "edges"):
            kdir = os.path.join(sdir, kind)
            if not os.path.isdir(kdir):
                continue
            for name in os.listdir(kdir):
                rel = os.path.normpath(f"snapshots/{sid}/{kind}/{name}")
                if rel not in referenced:
                    shutil.rmtree(os.path.join(kdir, name), ignore_errors=True)
    return removed


def try_restore(db: "Database") -> bool:
    """Restore the latest snapshot if one exists (reference
    SnapshotManager::initialize order: schemas → counters → tables)."""
    root = db.path
    snap_id = _latest_id(root)
    if snap_id is None:
        return False
    snap_dir = os.path.join(root, "snapshots", str(snap_id))
    with open(os.path.join(snap_dir, MANIFEST)) as f:
        manifest = json.load(f)

    def _resolve(rel: str) -> str:
        # root-relative (incremental format) vs legacy snapshot-relative
        base = root if rel.startswith("snapshots/") else snap_dir
        return os.path.join(base, rel)

    db.catalog = Catalog.from_manifest(manifest["catalog"])
    db.versioning = manifest.get("versioning", False)
    # the manifest records how the SNAPSHOT was laid out (needed to read
    # it back); db.version_storage keeps the caller's choice for future
    # commits — the two may differ, e.g. migrating full -> delta
    snap_storage = manifest.get("version_storage", "full")
    # a manifest without "chains" predates per-table markers: its tables
    # follow the Database's flag, and their chains count as external, the
    # reading that is right for any chain
    chains = manifest.get("chains")
    if chains is None:
        chains = {n: "external" for n in manifest["nodes"] if db.versioning}
    db._nodes = {}
    db._edges = {}
    for name, rel in manifest["nodes"].items():
        schema = db.catalog.get_node_schema(name)
        df = db.spark.read.parquet(_resolve(rel))
        versioned = name in chains
        if versioned and snap_storage == "delta":
            from tundradb_spark.temporal import undeltify_versions

            df = undeltify_versions(df)
        db._nodes[name] = _Table(
            struct=schema.struct, frame=df, versioned=versioned,
            external_chains=chains.get(name) == "external", dirty=False,
        )
    for etype, rel in manifest["edges"].items():
        es = db.catalog.get_or_create_edge_schema(etype)
        df = db.spark.read.parquet(_resolve(rel))
        db._edges[etype] = _Table(struct=es.full_struct(), frame=df, dirty=False)
    return True
