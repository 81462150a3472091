"""Table maintenance: version retention for parquet sink output.

The reference runs external maintenance against DuckLake destinations —
compaction of small files and snapshot/version expiry
(crates/etl-destinations/src/ducklake/external_maintenance.rs, 932 LoC;
"external maintenance (compaction, snapshot expiry)" SURVEY §2.10 D4).
Here compaction belongs to each sink: ``ParquetChangelogSink.compact``
folds old batch dirs into one segment, and a bucket table's ``compact``
rewrites its manifest chain into one version (``rebucket`` re-lays it).
This module holds the expiry half: it deletes superseded current-state
version dirs, keeping the newest N for time travel/rollback (the
reference's rollback-tables verb needs at least one prior version). It
operates on directories the engine owns — never the source data.
"""

from __future__ import annotations

import os
import shutil


def expire_versions(table_root: str, keep: int = 2) -> list[str]:
    """Delete superseded version directories, newest ``keep`` versions
    retained (the snapshot-expiry half of D4 maintenance). Never touches
    the live pointer's version (keep is clamped to ≥ 1). Returns the
    removed dir names.

    Manifest-aware: bucket-manifest tables
    (:class:`etl_spark.streaming.sinks.ParquetCurrentStateSink` layout)
    reference OLD version dirs from the current manifest (untouched
    buckets are carried forward, never rewritten), so a dir is removable
    only when NO retained manifest references it. Retention is anchored
    on the live VERSION pointer, never on the newest manifest file:
    ``_commit`` writes ``manifest_v{N}`` BEFORE swapping VERSION, so a
    crash in that window leaves a manifest newer than the live version —
    an UNCOMMITTED leftover that must be ignored (anchoring on it with
    keep=1 would reclaim the live version's manifest and the dirs only it
    references, breaking the table VERSION still points at). Plain
    version-dir tables fall back to newest-``keep``-dirs retention."""
    import json

    keep = max(1, keep)
    versions = sorted(
        (d for d in os.listdir(table_root)
         if d.startswith("v") and d[1:].isdigit()),
        key=lambda d: int(d[1:]),
    )
    manifests = sorted(
        (f for f in os.listdir(table_root)
         if f.startswith("manifest_v") and f.endswith(".json")),
        key=lambda f: int(f[len("manifest_v"):-len(".json")]),
    )
    removed = []
    if manifests:
        def _mnum(m: str) -> int:
            return int(m[len("manifest_v"):-len(".json")])

        live_version = None
        try:
            with open(os.path.join(table_root, "VERSION")) as f:
                live_version = json.load(f)["version"]
        except (FileNotFoundError, KeyError, ValueError):
            pass
        # manifests newer than the live pointer are uncommitted (crash
        # between manifest write and VERSION swap): neither the retention
        # anchor nor removable — the retry will overwrite or supersede them
        committed = [
            m for m in manifests
            if live_version is None or _mnum(m) <= live_version
        ]
        retained = committed[-keep:]
        if not retained:
            return removed  # nothing committed yet — touch nothing
        live: set[str] = set()
        for m in retained:
            with open(os.path.join(table_root, m)) as f:
                data = json.load(f)
            live |= set(data["buckets"].values())
            if data.get("empty"):
                live.add(data["empty"].split("/", 1)[0])
        newest = _mnum(retained[-1])
        for d in versions:
            # never touch dirs newer than the newest retained manifest
            # (an in-flight uncommitted write) or any referenced dir
            if int(d[1:]) <= newest and d not in live:
                shutil.rmtree(os.path.join(table_root, d))
                removed.append(d)
        for m in committed[:-keep]:
            os.remove(os.path.join(table_root, m))
    else:
        for d in versions[:-keep]:
            shutil.rmtree(os.path.join(table_root, d))
            removed.append(d)
    return removed
