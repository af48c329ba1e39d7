"""Read-only lake integrity diagnosis (`doctor` CLI verb).

The merge sink's crash-safety story rests on a handful of on-disk
invariants (sinks/merge.py): the ``_CURRENT`` pointer is the commit
point; version dirs beyond it are invisible leftovers; change files
stage under ``.changes_staging`` and publish into ``changes/vN`` only
after the flip, so a published change version implies a committed merge
and the feed must be hole-free up to retention. This module CHECKS those
invariants without mutating anything — unlike ``change_versions()``,
which sweeps pending publishes as a side effect, the doctor only lists
and reads, so it is safe to run against a lake another process is
writing (worst case it reports an in-flight merge's staging dir, which
is exactly what an operator wants to see).

The report also counts the stored top-level columns (the pointer's
``stored`` list; every schema column when a pointer predates it).

Severity model: ``critical`` = the table will fail or lose data on
read/merge (unreadable pointer, pointed version dir missing, stored
columns outside the pointer schema);
``warn`` = crash leftovers or feed truncation that the sink itself
tolerates but an operator should reclaim (stray version dirs, orphan
staging, feed holes — holes also mean a checkpointed ``stream_changes``
tail past them will refuse to resume); ``ok`` otherwise.
"""

from __future__ import annotations

import json
import os

from cumulus_etl_spark.sinks.merge import CURRENT_POINTER


def _vnums(path: str) -> list[int]:
    if not os.path.isdir(path):
        return []
    return sorted(
        int(e[1:])
        for e in os.listdir(path)
        if e.startswith("v") and e[1:].isdigit()
        and os.path.isdir(os.path.join(path, e))
    )


def _version_schema(vdir: str, sample_files: int | None = None) -> dict[str, str] | None:
    """Column → arrow-type map for a version dir, UNIONED across parquet
    footers (recursing into __bucket=N subdirs): the sink hardlinks
    unchanged files from the previous version, so a single footer
    reflects one file's vintage, not the version's read schema (which
    Spark assembles with mergeSchema). Footer reads are metadata-only;
    pyarrow, no Spark session — the doctor stays cheap and
    side-effect-free. On an intra-version type conflict the later file
    wins (the cross-version comparison still surfaces the change).

    ``sample_files`` caps the footers read per version: the sweep is
    driver-side and one-file-at-a-time, so on a 10^5-10^6-file version
    the unbounded walk turns a read-only diagnostic into an hours-long
    loop.  When capped, files are picked evenly spaced across the
    sorted listing (always including the first and last) — drift
    arriving with a new write lands in the newest files, which a
    prefix-only sample would skip."""
    import pyarrow.parquet as pq

    paths = sorted(
        os.path.join(base, f)
        for base, _dirs, files in os.walk(vdir)
        for f in files
        if f.endswith(".parquet")
    )
    if sample_files is not None and sample_files > 0 and len(paths) > sample_files:
        if sample_files == 1:
            paths = [paths[-1]]
        else:
            step = (len(paths) - 1) / (sample_files - 1)
            paths = [paths[round(i * step)] for i in range(sample_files)]
    merged: dict[str, str] = {}
    for p in paths:
        schema = pq.read_schema(p)
        for name, t in zip(schema.names, schema.types):
            merged[name] = str(t)
    return merged or None


def _schema_drift(prev: dict[str, str], cur: dict[str, str]) -> list[str]:
    issues = []
    removed = sorted(set(prev) - set(cur))
    added = sorted(set(cur) - set(prev))
    changed = sorted(
        c for c in set(prev) & set(cur) if prev[c] != cur[c]
    )
    if removed:
        issues.append(
            f"warn: column(s) {removed} present in the previous version "
            "vanished from the current one (mergeSchema unions — a "
            "removal means a rewrite dropped data)"
        )
    if changed:
        issues.append(
            "warn: column type change(s) "
            + ", ".join(f"{c}: {prev[c]} -> {cur[c]}" for c in changed)
        )
    if added:
        issues.append(f"info: column(s) {added} added in the current version")
    return issues


def diagnose_table(path: str, sample_files: int | None = None) -> dict:
    """Integrity report for one ManagedTable directory.

    ``sample_files`` bounds the schema-drift pass to that many parquet
    footers per version (see ``_version_schema``); None reads them all.
    """
    issues: list[str] = []
    report: dict = {"path": path}

    ptr_path = os.path.join(path, CURRENT_POINTER)
    ptr = None
    if not os.path.exists(ptr_path):
        issues.append("critical: no _CURRENT pointer (never committed, or not a table)")
    else:
        try:
            with open(ptr_path) as fh:
                ptr = json.load(fh)
        except (json.JSONDecodeError, OSError) as exc:
            issues.append(f"critical: _CURRENT pointer unreadable ({exc})")
    versions = _vnums(path)
    report["versions_on_disk"] = versions
    if ptr is not None and "schema" in ptr:
        names = [f["name"] for f in json.loads(ptr["schema"])["fields"]]
        stored = ptr.get("stored", names)
        report["stored_columns"] = len(stored)
        outside = sorted(set(stored) - set(names))
        if outside:
            issues.append(
                f"critical: stored column(s) {outside} are not in the pointer "
                "schema (no read sees them, and the next merge drops them)"
            )
    if ptr is not None:
        cur = ptr.get("version")
        report["current_version"] = cur
        if not isinstance(cur, int):
            issues.append("critical: pointer has no integer 'version'")
        elif cur not in versions:
            issues.append(
                f"critical: pointer names v{cur} but that version dir is missing"
            )
        else:
            stray = [v for v in versions if v > cur]
            if stray:
                issues.append(
                    f"warn: {len(stray)} version dir(s) beyond the pointer "
                    f"(crashed merges, invisible to readers): {stray}"
                )
            superseded = [v for v in versions if v < cur]
            if superseded:
                issues.append(
                    f"info: {len(superseded)} superseded version(s) reclaimable "
                    "by `optimize`"
                )

    # schema drift vs the newest surviving previous version (footer read
    # only; absent when optimize already dropped older versions)
    cur = report.get("current_version")
    if isinstance(cur, int) and cur in versions:
        older = [v for v in versions if v < cur]
        if older:
            prev_schema = _version_schema(
                os.path.join(path, f"v{older[-1]}"), sample_files
            )
            cur_schema = _version_schema(os.path.join(path, f"v{cur}"), sample_files)
            if prev_schema and cur_schema:
                issues.extend(_schema_drift(prev_schema, cur_schema))

    # change feed: committed versions must be hole-free up to retention
    feed = _vnums(os.path.join(path, "changes"))
    report["change_versions"] = feed
    cur = report.get("current_version")
    if feed and isinstance(cur, int):
        committed = [v for v in feed if v <= cur]
        phantom = [v for v in feed if v > cur]
        if phantom:
            issues.append(
                f"warn: published change version(s) beyond the pointer: {phantom} "
                "(should be impossible with the staged-publish layout)"
            )
        if committed:
            lo, hi = committed[0], committed[-1]
            holes = sorted(set(range(lo, hi + 1)) - set(committed))
            if holes:
                issues.append(
                    f"warn: change-feed hole(s) {holes} inside [{lo},{hi}] — a "
                    "checkpointed stream_changes tail behind a hole will refuse "
                    "to resume (rebuild the downstream rollup)"
                )

    staging = _vnums(os.path.join(path, ".changes_staging"))
    if staging:
        pending = [v for v in staging if isinstance(cur, int) and v <= cur]
        orphans = [v for v in staging if not isinstance(cur, int) or v > cur]
        if pending:
            issues.append(
                f"warn: staged-but-unpublished change version(s) {pending} — an "
                "interrupted publish; the next merge on this table completes it"
            )
        if orphans:
            issues.append(
                f"info: orphan staging dir(s) {orphans} from pre-flip crashes — "
                "safe to delete; the next merge sweeps them"
            )

    report["issues"] = issues
    report["status"] = (
        "critical" if any(i.startswith("critical") for i in issues)
        else "warn" if any(i.startswith("warn") for i in issues)
        else "ok"
    )
    return report


def diagnose_lake(root: str, sample_files: int | None = None) -> dict:
    """Reports on every table directory under ``root`` (a dir counts as a
    table if it has a _CURRENT pointer or any vN dir).  ``sample_files``
    bounds each table's schema-drift footer sweep."""
    tables: dict[str, dict] = {}
    if not os.path.isdir(root):
        raise ValueError(f"not a directory: {root}")
    for e in sorted(os.listdir(root)):
        p = os.path.join(root, e)
        if not os.path.isdir(p):
            continue
        if os.path.exists(os.path.join(p, CURRENT_POINTER)) or _vnums(p):
            tables[e] = diagnose_table(p, sample_files)
    worst = "ok"
    for rep in tables.values():
        if rep["status"] == "critical":
            worst = "critical"
            break
        if rep["status"] == "warn":
            worst = "warn"
    return {"root": root, "status": worst, "tables": tables}
