"""Measurement from outside the program: spans around calls into its
layers, Spark's public status and progress APIs, the checkpoint's file
source log, the sink's files, and DuckDB oracles for every output check.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import time
from contextlib import contextmanager
from datetime import datetime

import duckdb
import numpy as np
import pyarrow as pa


class Tracer:
    """Spans (name, start, end, parent, op id) kept in memory and written
    out once at the end. Disabled, it records nothing."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, op: str = "", **attrs):
        if not self.enabled:
            yield {}
            return
        rec = {
            "id": len(self.spans),
            "name": name,
            "op": op,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.perf_counter(),
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def current_op(self) -> str:
        return self.spans[self._stack[-1]]["op"] if self._stack else ""

    def write(self, path: str, summary: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"summary": summary, "spans": self.spans}, f, indent=1)


def job_counts(spark, groups: list[str], timeout_s: float = 10.0) -> dict[str, int]:
    """Jobs, stages, tasks and failed tasks run under the given job groups,
    from ``statusTracker()``. The status store is fed asynchronously, so
    read until two reads 100 ms apart agree and every job has ended."""
    tracker = spark.sparkContext.statusTracker()

    def read():
        jobs = [j for g in groups for j in tracker.getJobIdsForGroup(g)]
        out = {"jobs": len(jobs), "stages": 0, "tasks": 0, "failed_tasks": 0}
        done = True
        for j in jobs:
            info = tracker.getJobInfo(j)
            if info is None or info.status not in ("SUCCEEDED", "FAILED"):
                done = False
                continue
            for s in info.stageIds:
                st = tracker.getStageInfo(s)
                if st is None:  # skipped stage: never submitted
                    continue
                out["stages"] += 1
                out["tasks"] += st.numTasks
                out["failed_tasks"] += st.numFailedTasks
        return out, done

    deadline = time.monotonic() + timeout_s
    prev, _ = read()
    while True:
        time.sleep(0.1)
        cur, done = read()
        if (cur == prev and done) or time.monotonic() > deadline:
            return cur
        prev = cur


def batch_phases(progress: list) -> list[dict]:
    """One record per executed micro-batch (no-data progress is skipped):
    batch id, rows, end time (epoch s) and the ``durationMs`` phases."""
    out = []
    for p in progress:
        d = p.durationMs
        if "addBatch" not in d:
            continue
        start = datetime.fromisoformat(p.timestamp).timestamp()
        out.append(
            {
                "batch": p.batchId,
                "rows": p.numInputRows,
                "end": start + d.get("triggerExecution", 0) / 1000.0,
                **{k: float(v) for k, v in d.items()},
            }
        )
    return out


def phase_metrics(batches: list[dict]) -> dict[str, float]:
    med = lambda k: statistics.median(b.get(k, 0.0) for b in batches) if batches else 0.0  # noqa: E731
    return {
        "pipeline.batches": float(len(batches)),
        "pipeline.trigger_ms": med("triggerExecution"),
        "pipeline.add_batch_ms": med("addBatch"),
        "pipeline.query_planning_ms": med("queryPlanning"),
        "pipeline.wal_commit_ms": med("walCommit"),
        "pipeline.commit_offsets_ms": med("commitOffsets"),
        "pipeline.rows_per_batch": float(med("rows")),
        "sources.latest_offset_ms": med("latestOffset"),
        "sources.get_batch_ms": med("getBatch"),
    }


def source_log(checkpoint: str) -> dict[str, int]:
    """File path -> batch id from the file source's metadata log. Every
    ``compactInterval`` batches the log folds earlier entries into an
    ``N.compact`` file, so read both kinds and let each entry's own
    ``batchId`` field say where it belongs."""
    out: dict[str, int] = {}
    for path in glob.glob(os.path.join(checkpoint, "sources", "0", "*")):
        name = os.path.basename(path)
        if name.startswith(".") or not name.split(".")[0].isdigit():
            continue
        with open(path) as f:
            for line in f.read().splitlines()[1:]:  # first line is the version
                if line.strip():
                    e = json.loads(line)
                    out[os.path.basename(e["path"])] = e["batchId"]
    return out


def sink_files(sink: str) -> list[str]:
    return sorted(glob.glob(os.path.join(sink, "event_date=*", "*.parquet")))


def sink_stats(sink: str, batches: int) -> dict[str, float]:
    files = sink_files(sink)
    return {
        "sink.files": float(len(files)),
        "sink.bytes": float(sum(os.path.getsize(f) for f in files)),
        "sink.files_per_batch": len(files) / batches if batches else 0.0,
    }


def peak_rss_mb(spark) -> float:
    """Peak resident set of the driver JVM plus this Python process."""
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        jvm_kb = next(int(line.split()[1]) for line in f if line.startswith("VmHWM:"))
    with open("/proc/self/status") as f:
        py_kb = next(int(line.split()[1]) for line in f if line.startswith("VmHWM:"))
    return (jvm_kb + py_kb) / 1024.0


# Per-event_type aggregate of an ETL sink; the oracle side is the
# ``streaming_etl_file_roundtrip`` DuckDB twin over the events rows the
# stream replayed, so both sides produce these columns.
_SINK_AGG = """
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS event_count,
       CAST(SUM(message_length) AS BIGINT) AS total_msg_len,
       MIN(value) AS min_value,
       MAX(value) AS max_value,
       CAST(COUNT(DISTINCT event_date) AS BIGINT) AS active_days
FROM read_parquet({files}, hive_partitioning = true)
GROUP BY event_type ORDER BY event_type
"""


def etl_expected(events_path: str, base_rows: np.ndarray) -> list[tuple]:
    """The sink aggregate the ETL must produce from the valid messages
    behind ``base_rows`` (rejected messages contribute nothing)."""
    from streaming_data_pipeline_spark.plans.streaming_queries import ORACLE

    con = duckdb.connect()
    try:
        con.register("used", pa.table({"row": pa.array(base_rows, pa.int64())}))
        con.execute(
            f"CREATE VIEW events AS SELECT e.* FROM read_parquet({events_path!r}) e "
            "JOIN used u ON e.event_id = u.row"
        )
        return con.execute(ORACLE["streaming_etl_file_roundtrip"]).fetchall()
    finally:
        con.close()


def etl_actual(sink: str) -> list[tuple]:
    files = sink_files(sink)
    if not files:
        return []
    con = duckdb.connect()
    try:
        return con.execute(_SINK_AGG.format(files=repr(files))).fetchall()
    finally:
        con.close()
