"""Reduce a Spark event log to per-layer task figures.

Each job carries the layer name as its description (the benchmark sets it
with setJobDescription around every layer call). A task belongs to the layer
of the job that submitted its stage. Its interval [launch, finish] is clipped
to that layer's self-time intervals before anything is summed, so task time
can never exceed cores x wall time and `idle_s` can never go negative, even
for tasks that start before or end after the span (for example a broadcast
that outlives the call that issued it).
"""

from __future__ import annotations

import json
import os

from harness import clip, merge_intervals

FIELDS = ("wall_s", "task_s", "cpu_s", "gc_s", "wait_s", "idle_s",
          "shuffle_bytes", "tasks", "task_failures", "rows_out")


def read_events(path: str):
    with open(path) as f:
        for line in f:
            try:
                yield json.loads(line)
            except json.JSONDecodeError:  # a truncated last line of a killed run
                continue


def find_log(evt_dir: str, app_id: str) -> str:
    p = os.path.join(evt_dir, app_id)
    if os.path.exists(p):
        return p
    raise FileNotFoundError(f"no event log for {app_id} in {evt_dir}")


def tasks_by_layer(events) -> dict[str, list[dict]]:
    """layer -> [task dict with launch/finish in epoch seconds and metrics]."""
    stage_layer: dict[int, str] = {}
    out: dict[str, list[dict]] = {}
    for e in events:
        ev = e.get("Event")
        if ev == "SparkListenerJobStart":
            desc = (e.get("Properties") or {}).get("spark.job.description")
            if desc:
                for sid in e.get("Stage IDs", []):
                    stage_layer[sid] = desc
        elif ev == "SparkListenerTaskEnd":
            layer = stage_layer.get(e.get("Stage ID"))
            if layer is None:
                continue
            ti = e["Task Info"]
            tm = e.get("Task Metrics") or {}
            sr = tm.get("Shuffle Read Metrics") or {}
            sw = tm.get("Shuffle Write Metrics") or {}
            launch, finish = ti["Launch Time"] / 1000.0, ti["Finish Time"] / 1000.0
            run = tm.get("Executor Run Time", 0) / 1000.0
            overhead = (tm.get("Executor Deserialize Time", 0)
                        + tm.get("Result Serialization Time", 0)) / 1000.0
            getting = ti.get("Getting Result Time", 0) / 1000.0
            reason = (e.get("Task End Reason") or {}).get("Reason", "Success")
            out.setdefault(layer, []).append(
                {
                    "launch": launch,
                    "finish": finish,
                    "cpu_s": tm.get("Executor CPU Time", 0) / 1e9,
                    "gc_s": tm.get("JVM GC Time", 0) / 1000.0,
                    "fetch_wait_s": sr.get("Fetch Wait Time", 0) / 1000.0,
                    "sched_delay_s": max(0.0, (finish - launch) - run - overhead - getting),
                    "shuffle_bytes": sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                    + sw.get("Shuffle Bytes Written", 0),
                    "failed": reason != "Success" or ti.get("Failed", False),
                }
            )
    return out


def layer_table(
    self_iv: dict[str, list[tuple[float, float]]],
    tasks: dict[str, list[dict]],
    cores: int,
    rows_out: dict[str, float],
    layers,
) -> dict[str, dict[str, float]]:
    """Per-layer figures over the given self-time intervals.

    wall_s is the layer's self time; task_s the clipped task time (busy slot
    seconds); cpu_s, gc_s and wait_s (shuffle fetch wait plus scheduler delay)
    are each task's figure scaled by the share of it that falls inside the
    layer's intervals; idle_s = cores x wall_s - task_s."""
    table = {}
    for layer in layers:
        iv = merge_intervals(self_iv.get(layer, []))
        wall = sum(b - a for a, b in iv)
        row = dict.fromkeys(FIELDS, 0.0)
        row["wall_s"] = wall
        for t in tasks.get(layer, []):
            dur = t["finish"] - t["launch"]
            inside = sum(
                b - a for a, b in (c for c in (clip((t["launch"], t["finish"]), w) for w in iv) if c)
            )
            if dur > 0:
                share = inside / dur
            else:  # a zero-length task counts if it sits inside an interval
                share = 1.0 if any(a <= t["launch"] <= b for a, b in iv) else 0.0
            if share == 0.0:
                continue
            row["task_s"] += inside
            row["cpu_s"] += t["cpu_s"] * share
            row["gc_s"] += t["gc_s"] * share
            row["wait_s"] += (t["fetch_wait_s"] + t["sched_delay_s"]) * share
            row["shuffle_bytes"] += t["shuffle_bytes"] * share
            row["tasks"] += 1
            row["task_failures"] += int(t["failed"])
        row["idle_s"] = max(0.0, cores * wall - row["task_s"])
        row["rows_out"] = float(rows_out.get(layer, 0))
        table[layer] = row
    return table
