"""Pure helpers of the benchmark: percentiles and ingest freshness
attribution. No Spark, no I/O beyond reading a checkpoint directory, so
they are unit-tested on their own (tests/test_stats.py)."""
import json
import math
import os
import re
from datetime import datetime, timezone


def percentile(values, p):
    """The p-th percentile (0-100) with linear interpolation between the
    closest ranks (numpy's default method). Raises on an empty input."""
    if not values:
        raise ValueError("percentile of no values")
    xs = sorted(values)
    k = (len(xs) - 1) * p / 100.0
    lo = math.floor(k)
    hi = math.ceil(k)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def median(values):
    return percentile(values, 50)


_BATCH_FILE = re.compile(r"^(\d+)(\.compact)?$")


def file_batches(source_log_dir):
    """Map each input file's base name to the micro-batch that read it, from
    a file stream source's metadata log (`<checkpoint>/sources/0`).

    The log holds one file per batch (`<id>`) and, every
    `spark.sql.streaming.fileSource.log.compactInterval` batches, a
    `<id>.compact` file that repeats every earlier entry; older batch files
    may already be deleted. Every entry names its own `batchId`, so
    reading all files and keeping the first batch seen for each path
    handles both layouts.
    """
    batches = {}
    for name in os.listdir(source_log_dir):
        if not _BATCH_FILE.match(name):
            continue
        with open(os.path.join(source_log_dir, name), encoding="utf-8") as f:
            lines = f.read().splitlines()
        for line in lines[1:]:  # the first line is the log version ("v1")
            if not line.strip():
                continue
            entry = json.loads(line)
            base = entry["path"].rstrip("/").rsplit("/", 1)[-1]
            b = int(entry["batchId"])
            batches[base] = min(b, batches.get(base, b))
    return batches


def _epoch_ms(iso):
    """StreamingQueryProgress.timestamp ('2024-01-01T00:00:00.123Z')."""
    return datetime.strptime(iso, "%Y-%m-%dT%H:%M:%S.%fZ").replace(
        tzinfo=timezone.utc).timestamp() * 1000.0


def batch_commits(progress):
    """batchId -> (commit epoch ms, progress dict) from progress JSON
    strings: a batch commits when its trigger execution ends. Idle-trigger
    progress (no batch ran, so no `addBatch`) repeats the *next* batch id
    and is skipped."""
    out = {}
    for p in progress:
        p = json.loads(p) if isinstance(p, str) else p
        d = p.get("durationMs", {})
        if "triggerExecution" not in d or "addBatch" not in d:
            continue
        out[int(p["batchId"])] = (_epoch_ms(p["timestamp"]) +
                                  d["triggerExecution"], p)
    return out


def freshness(drops, file_batch, commits):
    """Per dropped file: (drop record, batch id, seconds from the file's
    scheduled drop to the commit of the batch that made it visible).
    A file with no batch or no commit record yields None for both."""
    rows = []
    for d in drops:
        b = file_batch.get(d["file"])
        c = commits.get(b) if b is not None else None
        rows.append((d, b, None if c is None else (c[0] - d["due_ms"]) / 1e3))
    return rows
