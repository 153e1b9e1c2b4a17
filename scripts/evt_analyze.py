"""Analyze a Spark event log: per-stage wall time, task concurrency, and the
idle budget (stage gaps vs in-stage straggling vs per-task overheads).

Importable: `summarize(path, window_ms=None, cores=None)` returns a dict the
benchmark embeds into the scaling artifact (per-stage wall/cpu split of the
TIMED region of a scaling run), so a weak N-vs-4N ratio carries its own
attribution — which stage lost the time, and whether it lost it to CPU,
GC, shuffle fetch, scheduling gaps, or stragglers.
"""

import json
import sys
from collections import defaultdict


def _iter_lines(path):
    """Yield event-log lines from a plain file, a .zstd file, or a Spark-4
    rolling `eventlog_v2_<appid>/` directory (events_* parts, in order)."""
    import os

    if os.path.isdir(path):
        parts = sorted(
            f for f in os.listdir(path) if f.startswith("events_")
        )
        for f in parts:
            yield from _iter_lines(os.path.join(path, f))
        return
    if path.endswith(".zstd"):
        import io

        import pyarrow as pa

        with pa.input_stream(path, compression="zstd") as st:
            for line in io.TextIOWrapper(io.BytesIO(st.read())):
                yield line
        return
    with open(path) as fh:
        yield from fh


def _resolve_log(path):
    """The writer may have produced `<dir>/<app_id>` (plain) or
    `<dir>/eventlog_v2_<app_id>/` (rolling) — accept either."""
    import os

    if os.path.exists(path):
        return path
    d, base = os.path.split(path)
    v2 = os.path.join(d, f"eventlog_v2_{base}")
    if os.path.isdir(v2):
        return v2
    return path


def _load(path):
    stages = {}
    tasks = defaultdict(list)
    app_start = app_end = None
    for line in _iter_lines(_resolve_log(path)):
        try:
            e = json.loads(line)
        except json.JSONDecodeError:
            continue
        ev = e.get("Event")
        if ev == "SparkListenerApplicationStart":
            app_start = e["Timestamp"]
        elif ev == "SparkListenerApplicationEnd":
            app_end = e["Timestamp"]
        elif ev == "SparkListenerStageCompleted":
            si = e["Stage Info"]
            stages[si["Stage ID"]] = {
                "name": si["Stage Name"].split("\n")[0][:60],
                "submit": si.get("Submission Time"),
                "complete": si.get("Completion Time"),
                "ntasks": si["Number of Tasks"],
            }
        elif ev == "SparkListenerTaskEnd":
            ti = e["Task Info"]
            tm = e.get("Task Metrics") or {}
            sw = (tm.get("Shuffle Write Metrics") or {})
            tasks[e["Stage ID"]].append(
                {
                    "launch": ti["Launch Time"],
                    "finish": ti["Finish Time"],
                    "run": tm.get("Executor Run Time", 0),
                    "cpu": tm.get("Executor CPU Time", 0) / 1e6,
                    "gc": tm.get("JVM GC Time", 0),
                    "deser": tm.get("Executor Deserialize Time", 0),
                    "result_ser": tm.get("Result Serialization Time", 0),
                    "shuffle_write_ms": sw.get("Shuffle Write Time", 0) / 1e6,
                    "fetch_wait": (tm.get("Shuffle Read Metrics") or {}).get(
                        "Fetch Wait Time", 0
                    ),
                }
            )
    return stages, tasks, app_start, app_end


def summarize(path, window_ms=None, cores=None, top=10):
    """Per-stage decomposition, optionally restricted to stages submitted
    inside `window_ms = [start_ms, end_ms]` (the flagship job's timed region).

    Returns {"stages": [...], "totals": {...}} with seconds everywhere.
    `totals.slot_idle_s` is the unused task-slot time (stage_wall*cores −
    Σ task durations): straggler/imbalance loss. `totals.gap_s` is wall not
    covered by any stage interval: driver/scheduling/Python-setup time.
    """
    stages, tasks, app_start, app_end = _load(path)
    rows = []
    intervals = []
    for sid in sorted(stages):
        s = stages[sid]
        ts = tasks.get(sid, [])
        if not ts or s["submit"] is None or s["complete"] is None:
            continue
        if window_ms and not (window_ms[0] <= s["submit"] <= window_ms[1]):
            continue
        wall = (s["complete"] - s["submit"]) / 1000
        durs = sorted((t["finish"] - t["launch"]) / 1000 for t in ts)
        rec = {
            "stage": sid,
            "name": s["name"],
            "ntasks": len(ts),
            "wall_s": round(wall, 2),
            "run_sum_s": round(sum(t["run"] for t in ts) / 1000, 2),
            "cpu_sum_s": round(sum(t["cpu"] for t in ts) / 1000, 2),
            "gc_s": round(sum(t["gc"] for t in ts) / 1000, 2),
            "deser_s": round(sum(t["deser"] for t in ts) / 1000, 2),
            "shuffle_write_s": round(sum(t["shuffle_write_ms"] for t in ts) / 1000, 2),
            "fetch_wait_s": round(sum(t["fetch_wait"] for t in ts) / 1000, 2),
            "task_p50_s": round(durs[len(durs) // 2], 2),
            "task_max_s": round(durs[-1], 2),
        }
        if cores:
            rec["slot_idle_s"] = round(
                max(wall * cores - sum(durs), 0.0), 2
            )
        rows.append(rec)
        lo, hi = s["submit"], s["complete"]
        if window_ms:
            # a stage may overhang the window end: count only its in-window
            # part, so covered ≤ wall and gap_s is never negative
            lo, hi = max(lo, window_ms[0]), min(hi, window_ms[1])
        intervals.append((lo, hi))
    # union of stage intervals → scheduling-gap time inside the window
    merged = []
    for a, b in sorted(intervals):
        if merged and a <= merged[-1][1]:
            merged[-1][1] = max(merged[-1][1], b)
        else:
            merged.append([a, b])
    covered = sum(b - a for a, b in merged) / 1000
    wall = (
        (window_ms[1] - window_ms[0]) / 1000
        if window_ms
        else ((app_end - app_start) / 1000 if app_start and app_end else None)
    )
    totals = {
        "wall_s": round(wall, 2) if wall is not None else None,
        "stage_wall_sum_s": round(sum(r["wall_s"] for r in rows), 2),
        "covered_s": round(covered, 2),
        "gap_s": round(wall - covered, 2) if wall is not None else None,
        "run_sum_s": round(sum(r["run_sum_s"] for r in rows), 2),
        "cpu_sum_s": round(sum(r["cpu_sum_s"] for r in rows), 2),
        "gc_sum_s": round(sum(r["gc_s"] for r in rows), 2),
        "fetch_wait_sum_s": round(sum(r["fetch_wait_s"] for r in rows), 2),
        "n_stages": len(rows),
    }
    if cores:
        totals["slot_idle_sum_s"] = round(sum(r.get("slot_idle_s", 0) for r in rows), 2)
    rows_sorted = sorted(rows, key=lambda r: -r["wall_s"])[:top]
    return {"stages": rows_sorted, "totals": totals}


def main(path):
    s = summarize(path, top=14)
    for r in s["stages"]:
        print(
            f"stage {r['stage']} n={r['ntasks']} wall={r['wall_s']:7.2f}s  "
            f"run_sum={r['run_sum_s']:7.1f}s cpu_sum={r['cpu_sum_s']:7.1f}s "
            f"gc={r['gc_s']:5.1f}s deser={r['deser_s']:5.1f}s "
            f"shufw={r['shuffle_write_s']:5.1f}s fetchwait={r['fetch_wait_s']:5.1f}s "
            f"task[p50={r['task_p50_s']:.2f} max={r['task_max_s']:.2f}]  {r['name']}"
        )
    print(json.dumps(s["totals"]))


if __name__ == "__main__":
    main(sys.argv[1])
