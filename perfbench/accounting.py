"""Arithmetic over the spans, jobs and executions a run records.

Pure functions, so the rules that keep the figures sound are unit-tested
(tests/test_accounting.py): time covered by jobs or child spans is the
length of the *union* of their intervals, never a plain sum, because
compactor jobs overlap wave jobs. A span's self time, and a wave's driver-
serial time, is its wall time minus that union.
"""
import statistics


def union_length(intervals, lo=None, hi=None):
    """Length of the union of (start, end) intervals, clipped to [lo, hi]."""
    clipped = []
    for start, end in intervals:
        if lo is not None:
            start = max(start, lo)
        if hi is not None:
            end = min(end, hi)
        if end > start:
            clipped.append((start, end))
    clipped.sort()
    total = 0.0
    cur_start = cur_end = None
    for start, end in clipped:
        if cur_end is None or start > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = start, end
        else:
            cur_end = max(cur_end, end)
    if cur_end is not None:
        total += cur_end - cur_start
    return total


def uncovered(start, end, intervals):
    """Time in [start, end] that no interval covers: 0 <= result <= end - start.
    With job intervals this is a wave's driver-serial time; with child
    spans, a span's self time."""
    return (end - start) - union_length(intervals, start, end)


def median(values):
    return statistics.median(values) if values else 0.0


# Table directories the crawl loop writes, by action kind.
COMPACT_BG = ("bg-frontier-compact", "bg-seen-compact", "bg-seedcnt-compact",
              "bg-bloom-fold")
COMPACT_VALVE = ("frontier-compact", "seen-compact", "seedcnt-compact",
                 "bloom-fold")


def action_kind(execution):
    """Classify one SQL execution by the table directory it writes or, for
    the seeds-finished count, by the seed-count tables it scans."""
    write_dir = (execution.get("write") or {}).get("dir", "")
    table = write_dir.split("/")[0]
    if table == "log":
        return "log"
    if table == "delta":
        return "delta"
    if table in COMPACT_BG:
        return "compact_bg"
    if table in COMPACT_VALVE:
        return "compact_valve"
    if table in ("frontier", "seedcnt"):
        return "init"
    if table in ("bloom-rebuild", "seedcnt-rebuild"):
        return "rebuild"
    if table in ("pages", "fetch_meta", "robots", "web"):
        return "gen"
    if not write_dir and any(t.startswith("seedcnt") or "/seedcnt" in t
                             for s in execution.get("scans", [])
                             for t in s.get("tables", [])):
        return "seeds_finished"
    return "other"


def group_actions(executions, jobs):
    """One action per root SQL execution: its interval, kind, plan metrics
    and the task time of every job it ran."""
    actions = {}
    for e in executions:
        a = actions.setdefault(e["root"], {
            "start_ms": e["start_ms"], "end_ms": e["end_ms"], "kind": "other",
            "scans": [], "write": {}, "run_s": 0.0, "cpu_s": 0.0, "shuffle_bytes": 0})
        a["start_ms"] = min(a["start_ms"], e["start_ms"])
        a["end_ms"] = max(a["end_ms"], e["end_ms"])
        a["scans"] += e.get("scans", [])
        if e.get("write"):
            a["write"] = e["write"]
        kind = action_kind(e)
        if kind != "other":
            a["kind"] = kind
    for j in jobs:
        a = actions.get(j["root_exec"])
        if a is None:
            continue
        for k in ("run_s", "cpu_s", "shuffle_bytes"):
            a[k] += j[k]
    return list(actions.values())


# Store tables by role, as labelled by the recorder.
FRONTIER_TABLES = {"frontier", "delta/add", "bg-frontier-compact",
                   "frontier-compact"}
SEEN_TABLES = {"delta/seen", "bg-seen-compact", "seen-compact"}


def scan_metric(action, tables, key):
    """Sum a scan metric over the action's scans that read any of `tables`."""
    return sum(s[key] for s in action["scans"]
               if any(t in tables for t in s["tables"]))
