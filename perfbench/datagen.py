"""Seeded inputs for the ingest workload.

`write_spool` writes one collector flush as a JSON spool: task metrics in
the `rawMetricSchema` wire shape, one stage-agg passthrough record per
stage, and log events in the `rawLogSchema` shape.  It returns what the
engine's sinks must contain, computed from the generator's own knowledge
of every record.  (The query workload reads a copy of the engine's fixed
test tables in `data/`, not generated ones.)
"""
import json
import os

import numpy as np

from benchlib import skew

# ---- ingest spool -------------------------------------------------------

T0_MS = 1_735_689_600_000  # 2025-01-01T00:00:00Z
ROUND_MS = 6 * 3_600_000   # event-time distance between two flushes
SENTINEL_MS = 3_600_000    # a flush's sentinel, this far past its data
LATE_SHARE = 0.1           # records emitted up to LATE_MS behind their time
LATE_MS = 30_000           # well inside the pipelines' 1-minute watermark


def _zipf_weights(rng, n, a=1.3):
    w = 1.0 / np.arange(1, n + 1) ** a
    rng.shuffle(w)
    return w / w.sum()


def sentinel(t_ms):
    """A task record that only advances the watermark; sinks drop its app."""
    return {"metricsType": "taskMetrics", "appName": "bench-app", "appId": "sentinel",
            "jobId": "s", "stageId": 999, "inputBytesRead": 1, "shuffleBytesRead": 0,
            "metricTime": t_ms}


def write_spool(out, seed, flush, apps=3, jobs=4, stages=5, tasks=2000,
                metric_files=1, log_files=1, logs=2000):
    """Write flush number `flush` of the ingest spool under `out`
    ({metrics,logs}/NNNN.json), its event times starting at
    T0_MS + flush * ROUND_MS and its app ids unique to the flush.

    Task counts per stage and bytes per task are Zipf-skewed; a
    LATE_SHARE of records is emitted out of order, at most LATE_MS late.
    The last metric record is a sentinel SENTINEL_MS past the data.
    Returns the expected sink contents.
    """
    rng = np.random.default_rng(seed)
    keys = [(f"app-{flush}-{a}", str(j), s) for a in range(apps)
            for j in range(jobs) for s in range(stages)]
    counts = np.maximum(1, np.round(_zipf_weights(rng, len(keys)) * tasks)).astype(int)
    records, stage_rows, expect_stages = [], [], {}
    t0 = clock = T0_MS + flush * ROUND_MS
    for (app, job, stage), n in zip(keys, counts):
        inb = (rng.zipf(1.6, n).clip(max=10_000) * 4096).astype(np.int64)
        shb = (rng.zipf(1.8, n).clip(max=10_000) * 1024).astype(np.int64)
        times = clock + np.sort(rng.integers(0, 50 * n + 1000, n))
        clock = int(times[-1]) + 2000
        for t in range(n):
            records.append({
                "metricsType": "taskMetrics", "appName": "bench-app",
                "appId": app, "jobId": job, "stageId": int(stage),
                "stageAttemptId": 0, "taskId": f"{t}.0",
                "executorId": str(t % 4), "partitionId": int(t),
                "inputBytesRead": int(inb[t]), "inputRecordsRead": int(inb[t] // 100),
                "runTime": int(rng.integers(5, 500)),
                "executorCpuTime": int(rng.integers(1, 400)) * 1_000_000,
                "peakExecutionMemory": int(rng.integers(0, 1 << 24)),
                "outputRecordsWritten": 0, "outputBytesWritten": 0,
                "shuffleRecordsRead": int(shb[t] // 50), "shuffleBytesRead": int(shb[t]),
                "shuffleRecordsWritten": 0, "shuffleBytesWritten": 0,
                "metricTime": int(times[t])})
        key = f"{app}|{job}|{stage}"
        expect_stages[key] = {
            "in_skew": skew(int(inb.max()), int(inb.min()), int(inb.sum()), n),
            "max_in": int(inb.max()),
            "sh_skew": skew(int(shb.max()), int(shb.min()), int(shb.sum()), n),
            "max_sh": int(shb.max()), "last_ms": int(times.max())}
        agg = {"metricsType": "stageAggMetrics", "appName": "bench-app",
               "appId": app, "jobId": job, "stageId": int(stage),
               "inputBytesReadSkewness": expect_stages[key]["in_skew"],
               "maxInputBytesRead": int(inb.max()),
               "shuffleBytesReadSkewness": expect_stages[key]["sh_skew"],
               "maxShuffleBytesRead": int(shb.max()), "metricTime": clock}
        records.append(agg)
        stage_rows.append(agg)
    # windowed expectation: 1-minute tumbling windows per stage
    windows = {}
    for r in records:
        if r["metricsType"] != "taskMetrics":
            continue
        k = (r["appId"], r["jobId"], r["stageId"], r["metricTime"] // 60000)
        w = windows.setdefault(k, [0, 0, 1 << 62, -1, 0, 1 << 62, -1, 0])
        w[0] += 1
        w[1] += r["inputBytesRead"]; w[2] = min(w[2], r["inputBytesRead"]); w[3] = max(w[3], r["inputBytesRead"])
        w[4] += r["shuffleBytesRead"]; w[5] = min(w[5], r["shuffleBytesRead"]); w[6] = max(w[6], r["shuffleBytesRead"])
        w[7] = max(w[7], r["metricTime"])
    expect_windows = {
        f"{a}|{j}|{s}|{w[7]}": {
            "in_skew": skew(w[3], w[2], w[1], w[0]), "max_in": w[3],
            "sh_skew": skew(w[6], w[5], w[4], w[0]), "max_sh": w[6]}
        for (a, j, s, _), w in windows.items()}
    # emission order: a share of records arrives late, but never by more
    # than LATE_MS, so none falls behind the watermark
    delay = np.where(rng.random(len(records)) < LATE_SHARE,
                     rng.integers(0, LATE_MS, len(records)), 0)
    order = np.argsort([r["metricTime"] + d for r, d in zip(records, delay)], kind="stable")
    emitted = [records[i] for i in order]
    max_ms = max(r["metricTime"] for r in records)
    assert max_ms + SENTINEL_MS + LATE_MS < t0 + ROUND_MS, "flush overruns its event-time slot"
    emitted.append(sentinel(max_ms + SENTINEL_MS))

    levels = [(200, "ERROR"), (300, "WARN"), (400, "INFO"), (500, "DEBUG")]
    log_recs = []
    for i in range(logs):
        lvl, name = levels[int(rng.integers(0, 4))]
        stage = int(rng.integers(0, stages))
        log_recs.append({
            "appName": "bench-app", "appId": f"app-{flush}-{int(rng.integers(0, apps))}",
            "executorId": str(i % 4), "logTime": t0 + i * 250,
            "loggerName": "org.apache.spark.executor.Executor",
            "threadName": f"Executor task launch worker for task {i}",
            "message": f"Finished task {i}.0 in stage {stage}.0",
            "level": {"intLevel": lvl, "name": name, "standardLevel": name},
            "mdcTaskName": f"task {i}.0 in stage {stage}.0 (TID {i})",
            "thrownName": "java.io.IOException" if lvl == 200 else None,
            "thrownMessage": "disk full" if lvl == 200 else None})

    for sub, recs, n_files in (("metrics", emitted, metric_files), ("logs", log_recs, log_files)):
        os.makedirs(os.path.join(out, sub), exist_ok=True)
        for f, chunk in enumerate(np.array_split(np.arange(len(recs)), n_files)):
            with open(os.path.join(out, sub, f"{f:04d}.json"), "w") as fh:
                fh.writelines(json.dumps(recs[i]) + "\n" for i in chunk)
    return {
        "task_rows": sum(1 for r in records if r["metricsType"] == "taskMetrics"),
        "log_rows": len(log_recs),
        "stages": expect_stages,
        "windows": expect_windows,
        "passthrough": {f"{r['appId']}|{r['jobId']}|{r['stageId']}": {
            "in_skew": r["inputBytesReadSkewness"], "max_in": r["maxInputBytesRead"],
            "sh_skew": r["shuffleBytesReadSkewness"], "max_sh": r["maxShuffleBytesRead"],
            "last_ms": r["metricTime"]} for r in stage_rows},
    }
