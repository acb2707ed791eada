"""Catalog accounting from outside the engine.

Everything here is derived from ``Catalog.snapshots()`` /
``load_snapshot()`` (each manifest's ``created_at``, file entries,
``metrics.phases``, ``metrics.write_secs``, ``metrics.backstop``) and
from file sizes on disk; the engine needs no hook for it."""

from __future__ import annotations

import statistics

from commentsearchengine_spark.sources.icelite import Catalog, Snapshot

TABLES = ("pages", "frontier", "seen", "hosts", "robots", "crawl_log",
          "lineage", "bloom_shards")
PHASES = ("admit", "fetch_write", "expand", "writes")
WRITES = ("frontier_new", "bloom_shards", "hosts", "lineage")


def load_all(root: str) -> list[Snapshot]:
    cat = Catalog(root)
    return [cat.load_snapshot(sid) for sid in cat.snapshots()]


def is_maintenance(snap: Snapshot) -> bool:
    return "maintenance" in snap.metrics


def wave_commits(snaps: list[Snapshot]) -> dict[int, Snapshot]:
    """wave -> the snapshot its wave (or bootstrap, wave 0) committed;
    maintenance commits reuse the wave number and are skipped."""
    return {s.wave: s for s in snaps if not is_maintenance(s)}


def wave_intervals(snaps: list[Snapshot], first: int = 2) -> list[float]:
    """Commit-to-commit seconds of every wave >= ``first``.  The interval
    runs from the previous WAVE commit, so maintenance that ran between
    two waves counts in the later wave's interval."""
    c = wave_commits(snaps)
    return [c[w].created_at - c[w - 1].created_at
            for w in sorted(c) if w >= first and w - 1 in c]


def table_of(rel_path: str) -> str:
    # stage_write layout: data/<table>/<write-id>/...
    return rel_path.split("/")[1]


def compacted_between(snaps: list[Snapshot], a: int, b: int) -> bool:
    """Whether a compaction committed after wave ``a``'s commit and
    before wave ``b``'s."""
    c = wave_commits(snaps)
    if a not in c or b not in c:
        return False
    return any(s.metrics.get("maintenance") == "compact"
               and c[a].created_at <= s.created_at <= c[b].created_at
               for s in snaps)


_BACKSTOP = ("seen_files_scanned", "frontier_files_scanned",
             "seen_files_total", "frontier_files_total")


def recorded(snaps: list[Snapshot], first: int = 2) -> dict[str, bool]:
    """For every manifest key the per-layer metrics read: whether each
    wave >= ``first`` recorded it.  A key the engine stops recording
    must fail a check, not read as a 0 that looks like a gain."""
    waves = [s for w, s in sorted(wave_commits(snaps).items()) if w >= first]

    def has(section, key):
        return bool(waves) and all(
            key in s.metrics.get(section, {}) for s in waves)

    return {f"recorded.{section}.{k}": has(section, k)
            for section, keys in (("phases", PHASES), ("write_secs", WRITES),
                                  ("backstop", _BACKSTOP))
            for k in keys}


def _median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def wave_layer_metrics(snaps: list[Snapshot], first: int = 2) -> dict:
    """Per-phase medians over waves >= ``first`` as the engine recorded
    them, plus the admission overlap and backstop pruning ratios.  A key
    a wave did not record is left out of its median (``recorded`` turns
    that into a failed check)."""
    waves = [s for w, s in sorted(wave_commits(snaps).items()) if w >= first]
    out = {}
    for p in PHASES:
        out[f"wave.{p}_s"] = _median(
            [s.metrics["phases"][p] for s in waves
             if p in s.metrics.get("phases", {})])
    for t in WRITES:
        out[f"wave.write_s.{t}"] = _median(
            [s.metrics["write_secs"][t] for s in waves
             if t in s.metrics.get("write_secs", {})])
    out["wave.admit_overlapped_ratio"] = (
        sum(1 for s in waves
            if "admit_overlapped" in s.metrics.get("phases", {}))
        / len(waves)) if waves else 0.0
    backstop = [s.metrics.get("backstop", {}) for s in waves]
    scanned = [b.get("seen_files_scanned", 0) + b.get("frontier_files_scanned", 0)
               for b in backstop]
    total = sum(b.get("seen_files_total", 0) + b.get("frontier_files_total", 0)
                for b in backstop)
    out["wave.backstop_files"] = _median(scanned)
    out["icelite.pruned_scan_files_ratio"] = (
        1.0 - sum(scanned) / total) if total else 0.0
    return out


def storage_metrics(snaps: list[Snapshot], sizes: dict[str, int],
                    urls: int) -> dict:
    """Bytes and files per table, written (every parquet file the crawl
    ever put on disk, superseded or not — ``sizes`` must hold files seen
    at any time, not only those left at the end) and live (referenced by
    the final snapshot)."""
    final = snaps[-1]
    live = {t: [e["path"] for e in final.tables.get(t, [])] for t in TABLES}
    out = {}
    for t in TABLES:
        out[f"icelite.bytes_written.{t}"] = sum(
            n for p, n in sizes.items() if table_of(p) == t)
        out[f"icelite.live_bytes.{t}"] = sum(sizes.get(p, 0) for p in live[t])
    written = sum(sizes.values())
    live_total = sum(out[f"icelite.live_bytes.{t}"] for t in TABLES)
    out["icelite.files_written"] = len(sizes)
    out["icelite.manifest_entries"] = sum(
        len(v) for v in final.tables.values())
    out["icelite.written_bytes_per_url"] = written / urls if urls else 0.0
    out["icelite.live_bytes_per_url"] = live_total / urls if urls else 0.0
    return out


def maintenance_metrics(snaps: list[Snapshot], sizes: dict[str, int]) -> dict:
    """Compaction cost: seconds from the preceding commit to the
    compaction's own commit, and the bytes of the files it wrote."""
    by_id = {s.snapshot_id: s for s in snaps}
    secs, rewritten = 0.0, 0
    for s in snaps:
        if s.metrics.get("maintenance") != "compact":
            continue
        parent = by_id[s.parent_id]
        secs += s.created_at - parent.created_at
        table = s.metrics["table"]
        old = {e["path"] for e in parent.tables.get(table, [])}
        rewritten += sum(sizes.get(e["path"], 0)
                         for e in s.tables.get(table, [])
                         if e["path"] not in old)
    return {"maintenance.compact_s": secs,
            "maintenance.bytes_rewritten": rewritten}
