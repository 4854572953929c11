"""Samples → metrics: the end-to-end metrics of an untraced run and the
per-layer metrics of a traced one."""

from __future__ import annotations

import os
import statistics
from typing import Any

from spans import LAYERS, Tracer, covered
from workloads import Record

TAIL_BEYOND = 10

# per-layer metric -> the (end-to-end metric, workload) pairs it should
# move; the traced run reports these tags next to the values
_TRICKLE_P50 = [("trigger_cycle_s_p50", "trickle_mor")]
_TRICKLE_TAIL = [("trigger_cycle_s_tail", "trickle_mor")]
_BULK = [("ingest_events_per_s", "bulk_cow")]
_WRITE = [("write_s_p50", "read_mix"), ("write_s_p50", "trickle_mor")]
_READ = [("lookup_s_p50", "read_mix"), ("count_s_p50", "read_mix"),
         ("lookup_s_p50", "trickle_mor"), ("count_s_p50", "trickle_mor")]
MOVES: dict[str, list[tuple[str, str]]] = {
    "replay.stream_overhead_s": _TRICKLE_P50,
    "replay.jobs_per_trigger": _TRICKLE_P50,
    "changelog.scan_amplification": _BULK,
    **{k: _BULK + _TRICKLE_P50 for k in (
        "apply.s", "apply.self_s", "apply.dedup_ratio", "apply.rejected")},
    **{k: _TRICKLE_TAIL for k in ("ledger.s", "ledger.self_s", "ledger.roots_read_per_trigger")},
    **{k: _TRICKLE_P50 for k in ("quarantine.append_s", "quarantine.self_s")},
    **{k: _BULK + _WRITE for k in (
        "merge.s", "merge.self_s", "merge.change_rows", "merge.affected_buckets",
        "merge.bytes_written")},
    **{k: _TRICKLE_P50 for k in (
        "manifest.commit_s", "manifest.self_s", "manifest.commits",
        "manifest.reads_per_trigger", "manifest.meta_bytes")},
    **{k: _TRICKLE_TAIL + [("lookup_s_p50", "read_mix"), ("lookup_s_p50", "trickle_mor")]
       for k in ("maintain.s", "maintain.self_s", "compact.calls", "compact.s",
                 "compact.bytes_rewritten")},
    **{k: _TRICKLE_P50 for k in ("matview.refresh_s", "matview.self_s",
                                  "matview.refresh_calls")},
    **{k: _READ for k in ("read.files_per_lookup", "read.delta_files_outstanding",
                          "read.jobs_per_lookup", "count.scanned_files",
                          "count.metadata_files")},
    # reads the engine makes inside a trigger, outside a view refresh
    "read.self_s": _TRICKLE_P50,
}


def median(xs: list[float]) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def tail(xs: list[float]) -> tuple[float, float, int]:
    """(value, percentile, n): the highest percentile with at least ten
    samples beyond it. Twenty samples or fewer support no percentile
    above the median, and the median is reported, as percentile 50."""
    s = sorted(xs)
    n = len(s)
    if n <= 2 * TAIL_BEYOND:
        return median(s), (50.0 if n else 0.0), n
    k = n - TAIL_BEYOND - 1
    return float(s[k]), round(100.0 * (k + 1) / n, 1), n


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total


def op_times(rec: Record, kind: str) -> list[float]:
    return [o["s"] for o in rec.ops if o["kind"] == kind]


def end_to_end(rec: Record, setup_s: float) -> tuple[dict, dict]:
    """Metrics (name -> (value, unit)) and the sample counts behind them."""
    lookup_tail, lookup_pct, lookup_n = tail(op_times(rec, "lookup"))
    cycle_tail, cycle_pct, cycle_n = tail(rec.cycles)
    ingest_rates = [e / w for e, w in rec.ingest]
    m = {
        "setup_s": (setup_s, "s"),
        "ingest_events_per_s": (median(ingest_rates), "events/s"),
        "trigger_cycle_s_p50": (median(rec.cycles), "s"),
        "trigger_cycle_s_tail": (cycle_tail, "s"),
        "lookup_s_p50": (median(op_times(rec, "lookup")), "s"),
        "lookup_s_tail": (lookup_tail, "s"),
        "scan_s_p50": (median(op_times(rec, "scan")), "s"),
        "count_s_p50": (median(op_times(rec, "count")), "s"),
        "write_s_p50": (median(rec.writes), "s"),
        "mix_ops_per_s": (rec.read_phase_ops / rec.read_phase_s, "ops/s"),
        "table_mb": (dir_bytes(rec.table_dir) / 1e6, "MB"),
    }
    samples = {
        "ingest_units": len(ingest_rates),
        "trigger_cycles": len(rec.cycles),
        "trigger_cycle_tail": {"percentile": cycle_pct, "n": cycle_n},
        "lookups": lookup_n,
        "lookup_tail": {"percentile": lookup_pct, "n": lookup_n},
        "scans": len(op_times(rec, "scan")),
        "counts": len(op_times(rec, "count")),
        "writes": len(rec.writes),
        "mix_ops": rec.read_phase_ops,
    }
    return m, samples


# ---------------------------------------------------------------- per layer
def _history_commits(table_dir: str) -> list[dict[str, Any]]:
    """Every commit of a table with the bytes of the files it added."""
    from dexspark.lake import manifest as mf

    out = []
    prev: set[str] = set()
    for v in mf.available_versions(table_dir):
        m = mf.read_manifest(table_dir, v)
        paths = {f.path for f in m.files}
        added = paths - prev
        prev = paths
        out.append({
            "version": v,
            "at": m.committed_at,
            "summary": m.summary,
            "bytes_added": sum(
                os.path.getsize(os.path.join(table_dir, p)) for p in added
            ),
        })
    return out


def per_layer(rec: Record, tracer: Tracer, workload: str) -> dict[str, tuple[float, str]]:
    spans = tracer.spans
    layer = tracer.layer_of()
    self_t = tracer.self_times()
    by_id = {s.id: s for s in spans}

    # accounting windows: the run_available calls (bulk/trickle), or the
    # operations themselves (read_mix)
    if workload == "read_mix":
        windows = [(s.start, s.end) for s in spans
                   if s.parent is None and s.name.startswith("op.")]
        units = len(windows)
    else:
        windows = rec.windows
        units = sum(u["triggers"] for u in rec.units)
    units = max(units, 1)

    def in_windows(s) -> bool:
        return any(a <= s.start and s.end <= b for a, b in windows)

    inside = [s for s in spans if in_windows(s)]
    window_s = sum(b - a for a, b in windows)
    roots = [s for s in inside if s.parent is None]
    covered_s = sum(
        covered([(r.start, r.end) for r in roots], a, b) for a, b in windows
    )

    def incl(name: str, lay: str | None = None) -> float:
        return sum(s.end - s.start for s in inside
                   if s.name == name and (lay is None or layer[s.id] == lay)) / units

    def calls(name: str, lay: str | None = None) -> float:
        return sum(1 for s in inside
                   if s.name == name and (lay is None or layer[s.id] == lay)) / units

    def under(s, name: str) -> bool:
        p = s.parent
        while p is not None:
            if by_id[p].name == name:
                return True
            p = by_id[p].parent
        return False

    m: dict[str, tuple[float, str]] = {}
    for lay in LAYERS:
        m[f"{lay}.self_s"] = (
            sum(self_t[s.id] for s in inside if layer[s.id] == lay) / units, "s"
        )
    m["trace.cycle_s"] = (window_s / units, "s")
    m["trace.uncovered_s"] = ((window_s - covered_s) / units, "s")
    m["trace.spans_per_trigger"] = (len(inside) / units, "count")

    # ---- streaming.replay and sources.changelog (listener, job groups)
    progress = [p for u in rec.units for p in u.get("progress", [])]
    triggers = sum(u["triggers"] for u in rec.units)
    overhead = [
        (p["duration_ms"].get("triggerExecution", 0) - p["duration_ms"].get("addBatch", 0))
        / 1000.0
        for p in progress if p["num_input_rows"] > 0
    ]
    m["replay.stream_overhead_s"] = (median(overhead), "s")
    if workload == "read_mix":
        jobs = [o["jobs"] for o in rec.ops if o["kind"] == "write" and o.get("jobs") is not None]
        m["replay.jobs_per_trigger"] = (sum(jobs) / max(len(jobs), 1), "count")
    else:
        m["replay.jobs_per_trigger"] = (
            sum(u.get("jobs", 0) for u in rec.units) / max(triggers, 1), "count"
        )
    events = sum(e for e, _ in rec.ingest) if workload != "read_mix" else 0
    m["changelog.scan_amplification"] = (
        sum(p["num_input_rows"] for p in progress) / events if events else 0.0, "ratio"
    )

    # ---- cdc.apply (validate and dedup run inside it), ledger, quarantine
    if workload == "read_mix":
        batches = [(o["applied"], o["rejected"]) for o in rec.ops if o["kind"] == "write"]
        ev = rec.info.get("write_events", 1)
        valid = sum(ev - r for _, r in batches)
    else:
        res = [r for u in rec.units for r in u["results"] if "applied" in r]
        batches = [(r["applied"], r["rejected"]) for r in res]
        valid = sum(e for e, _ in rec.ingest) - sum(r for _, r in batches)
    m["apply.s"] = (incl("apply_changes", "apply"), "s")
    m["apply.dedup_ratio"] = (sum(a for a, _ in batches) / max(valid, 1), "ratio")
    m["apply.rejected"] = (sum(r for _, r in batches) / max(len(batches), 1), "count")
    m["ledger.s"] = (incl("table.committed_batch_ids", "ledger"), "s")
    m["ledger.roots_read_per_trigger"] = (
        sum(1 for s in inside if s.name == "manifest.read_root"
            and layer[s.id] != "matview" and under(s, "table.committed_batch_ids")) / units,
        "count",
    )
    m["quarantine.append_s"] = (incl("table.append", "quarantine"), "s")

    # ---- lake.table merge, lake.manifest, maintain/compact, matview
    tables = dict.fromkeys([u["table_dir"] for u in rec.units] + [rec.table_dir])
    commits = [c for t in tables for c in _history_commits(t)]
    in_run = [c for c in commits
              if any(a <= (c["at"] or 0) <= b for a, b in windows)]
    merges = [c for c in in_run if c["summary"].get("operation") == "merge"]
    compacts = [c for c in in_run if c["summary"].get("operation") == "compact"]
    m["merge.s"] = (incl("table.merge", "merge"), "s")
    m["merge.change_rows"] = (
        median([c["summary"].get("change_rows", 0) for c in merges]), "count")
    m["merge.affected_buckets"] = (
        median([len(c["summary"].get("affected_buckets", [])) for c in merges]), "count")
    m["merge.bytes_written"] = (median([c["bytes_added"] for c in merges]), "bytes")
    m["manifest.commit_s"] = (incl("manifest.commit"), "s")
    m["manifest.commits"] = (calls("manifest.commit"), "count")
    m["manifest.reads_per_trigger"] = (
        calls("manifest.read_root") + calls("manifest.read_manifest"), "count")
    m["manifest.meta_bytes"] = (
        float(dir_bytes(os.path.join(rec.table_dir, "_manifests"))), "bytes")
    m["maintain.s"] = (incl("table.maintain", "maintain") + incl("op.maintain"), "s")
    m["compact.calls"] = (calls("table.compact", "maintain"), "count")
    m["compact.s"] = (incl("table.compact", "maintain"), "s")
    m["compact.bytes_rewritten"] = (median([c["bytes_added"] for c in compacts]), "bytes")
    m["matview.refresh_s"] = (incl("matview.refresh"), "s")
    m["matview.refresh_calls"] = (calls("matview.refresh"), "count")

    # ---- lake.table read path
    lookups = [o for o in rec.ops if o["kind"] == "lookup"]
    counts = [o for o in rec.ops if o["kind"] == "count"]

    def mean(xs: list[float]) -> float:
        return sum(xs) / len(xs) if xs else 0.0

    m["read.files_per_lookup"] = (mean([o["files"] for o in lookups]), "count")
    m["read.delta_files_outstanding"] = (mean([o["delta_files"] for o in lookups]), "count")
    m["read.jobs_per_lookup"] = (mean([o["jobs"] for o in lookups]), "count")
    m["count.scanned_files"] = (mean([o["detail"]["scanned_files"] for o in counts]), "count")
    m["count.metadata_files"] = (mean([o["detail"]["metadata_files"] for o in counts]), "count")
    return m


def tracing_overhead(rec: Record) -> float:
    """Median wall time of a traced unit minus that of the untraced units
    the same run made around them, on the same inputs. The run's first
    measured unit is left out: it runs slower than the rest whether
    traced or not."""
    return median(rec.unit_walls) - median(rec.info["untraced_unit_s"][1:])
