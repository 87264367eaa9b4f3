"""Read a Spark event log and total its task metrics per job group.

The traced run turns on ``spark.eventLog.enabled`` with zstd compression;
``pyarrow.CompressedInputStream`` decompresses it, so no extra package is
needed. Jobs are attributed to the job group that was set around the call
that started them; micro-batch jobs of a streaming query carry the query's
run id as their group instead.
"""

from __future__ import annotations

import glob
import io
import json
import os
from collections import defaultdict

import pyarrow as pa


def _lines(path: str):
    raw = pa.CompressedInputStream(pa.OSFile(path, "rb"), "zstd")
    yield from io.TextIOWrapper(io.BufferedReader(raw), encoding="utf-8")


def read(log_dir: str) -> dict[str, dict]:
    """Totals per job group over the one application log under ``log_dir``
    (a v2 directory of numbered ``events_<n>_<app>`` files): ``jobs``,
    ``stages``, ``tasks``, task run/CPU/GC seconds, input, output, shuffle
    and spill bytes, output rows, and ``output_stage_tasks``, the tasks of
    the stages that wrote output."""
    (app_dir,) = glob.glob(os.path.join(log_dir, "eventlog_v2_*"))
    paths = sorted(
        glob.glob(os.path.join(app_dir, "events_*")),
        key=lambda p: int(os.path.basename(p).split("_")[1]),
    )
    stage_group: dict[int, str] = {}
    stage_has_output: dict[int, bool] = defaultdict(bool)
    stage_tasks: dict[int, int] = defaultdict(int)
    out: dict[str, dict] = defaultdict(lambda: defaultdict(float))
    for line in (ln for p in paths for ln in _lines(p)):
        ev = json.loads(line)
        kind = ev["Event"]
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
            out[group]["jobs"] += 1
            for sid in ev["Stage IDs"]:
                stage_group[sid] = group
        elif kind == "SparkListenerStageCompleted":
            sid = ev["Stage Info"]["Stage ID"]
            out[stage_group.get(sid, "")]["stages"] += 1
        elif kind == "SparkListenerTaskEnd":
            sid = ev["Stage ID"]
            m = ev.get("Task Metrics") or {}
            g = out[stage_group.get(sid, "")]
            g["tasks"] += 1
            g["task_run_s"] += m.get("Executor Run Time", 0) / 1e3
            g["task_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            g["gc_s"] += m.get("JVM GC Time", 0) / 1e3
            g["input_bytes"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
            om = m.get("Output Metrics") or {}
            g["output_bytes"] += om.get("Bytes Written", 0)
            g["output_rows"] += om.get("Records Written", 0)
            sw = m.get("Shuffle Write Metrics") or {}
            g["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
            sr = m.get("Shuffle Read Metrics") or {}
            g["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get(
                "Local Bytes Read", 0
            )
            g["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get(
                "Disk Bytes Spilled", 0
            )
            stage_tasks[sid] += 1
            if om.get("Bytes Written", 0) > 0:
                stage_has_output[sid] = True
    # tasks of the stages that wrote output: the write's task count
    for sid, wrote in stage_has_output.items():
        if wrote:
            out[stage_group.get(sid, "")]["output_stage_tasks"] += stage_tasks[sid]
    return {g: dict(v) for g, v in out.items()}
