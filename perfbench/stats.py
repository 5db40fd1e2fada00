"""Pure helpers of the benchmark: percentiles, the file-to-trigger latency
mapping read from a streaming checkpoint, and the reference computation of
the stream's alert set. Kept free of Spark so they are unit-tested
directly (``python3 -m unittest discover perfbench/tests``)."""
import json
import math
import os
from decimal import Decimal, ROUND_HALF_UP

MIN_BEYOND = 10


def percentile(values, q, min_beyond=MIN_BEYOND):
    """Nearest-rank ``q``-th percentile (0 < q < 100) of ``values``.

    Refuses to answer unless at least ``min_beyond`` samples lie strictly
    beyond the reported rank, so a tail figure is never one or two samples.
    """
    xs = sorted(values)
    n = len(xs)
    if not 0 < q < 100:
        raise ValueError(f"percentile {q} outside (0, 100)")
    rank = max(1, math.ceil(q / 100.0 * n))  # 1-based nearest rank
    if n - rank < min_beyond:
        raise ValueError(
            f"p{q:g} of {n} samples leaves {n - rank} beyond it; "
            f"need at least {min_beyond}")
    return xs[rank - 1]


def median(values):
    xs = sorted(values)
    if not xs:
        raise ValueError("median of no values")
    n = len(xs)
    return xs[n // 2] if n % 2 else (xs[n // 2 - 1] + xs[n // 2]) / 2.0


# ------------------------------------------------------------ checkpoint log

def read_source_log(source_dir):
    """Map each input file name to the micro-batch that consumed it, from a
    file-source checkpoint log directory (``<checkpoint>/sources/0``).

    Batch files are named ``<batchId>`` or ``<batchId>.compact``; each holds
    a version line and then one JSON entry per file with its ``batchId``.
    Compacted files repeat earlier entries, which agree by construction.
    """
    out = {}
    for name in os.listdir(source_dir):
        stem = name[:-len(".compact")] if name.endswith(".compact") else name
        if not stem.isdigit():
            continue  # .crc side files and temporaries
        with open(os.path.join(source_dir, name)) as fh:
            lines = fh.read().splitlines()
        for line in lines[1:]:
            if not line.strip():
                continue
            e = json.loads(line)
            out[os.path.basename(e["path"])] = int(e["batchId"])
    return out


def read_commit_times(commits_dir):
    """Map batch id -> commit time in ms (mtime of ``commits/<batchId>``)."""
    out = {}
    for name in os.listdir(commits_dir):
        if name.isdigit():
            st = os.stat(os.path.join(commits_dir, name))
            out[int(name)] = st.st_mtime_ns / 1e6
    return out


def file_latencies(due_ms, file_batch, commit_ms):
    """Latency per file: from its due time to the commit of the trigger that
    consumed it. ``due_ms`` maps file name -> due time; files never
    consumed or whose batch never committed raise, because a lost file is a
    correctness failure, not a slow one."""
    lat = {}
    for f, due in due_ms.items():
        if f not in file_batch:
            raise ValueError(f"file {f} was never consumed")
        b = file_batch[f]
        if b not in commit_ms:
            raise ValueError(f"batch {b} (file {f}) never committed")
        lat[f] = commit_ms[b] - due
    return lat


def backlog_max(moved_ms, file_batch, batch_start_ms):
    """Largest number of files waiting in the source directory when a
    trigger started: moved in before the start and not taken by an
    earlier batch."""
    worst = 0
    for b, start in batch_start_ms.items():
        waiting = sum(1 for f, t in moved_ms.items()
                      if t <= start and file_batch.get(f, b) >= b)
        worst = max(worst, waiting)
    return worst


# --------------------------------------------------------------- reference

def _d12(v):
    return Decimal(repr(v)).quantize(Decimal("1e-12"), rounding=ROUND_HALF_UP)


def reference_alerts(files, limit, window_ms=3_600_000, lookback=20,
                     z_threshold=2.5):
    """The reference topology replayed in order over every staged file:
    exact dedup on ``event_id`` -> per-user tumbling-window rate limit ->
    per-user trailing z-score over the last ``lookback`` admitted values.

    Returns ``{event_id: z}``. Moments are exact decimals of the values
    rounded to 12 places, like the operator's, so the set and the z values
    agree exactly. Rows are visited per user in ``(ts, event_id)`` order,
    which is the order the operators see because files are ordered by
    event time and disorder stays inside a file.
    """
    seen = set()
    per_user = {}
    for rows in files:
        for r in sorted(rows, key=lambda r: (r["ts"], r["event_id"])):
            if r["event_id"] in seen:
                continue
            seen.add(r["event_id"])
            per_user.setdefault(r["user_id"], []).append(r)
    alerts = {}
    for events in per_user.values():
        events.sort(key=lambda r: (r["ts"], r["event_id"]))
        win, count = -1, 0
        buf, s1, s2 = [], Decimal(0), Decimal(0)
        for e in events:
            w = e["ts"] // window_ms * window_ms
            if w > win:
                win, count = w, 0
            if not count < limit:
                continue
            count += 1
            n = len(buf)
            if n >= 2:
                s1d = float(s1)
                var = (float(s2) - s1d * s1d / n) / (n - 1)
                if var > 0.0:
                    z = (e["value"] - s1d / n) / math.sqrt(var)
                    z = float(Decimal(repr(z)).quantize(
                        Decimal("1e-4"), rounding=ROUND_HALF_UP))
                    if abs(z) >= z_threshold:
                        alerts[e["event_id"]] = z
            v = e["value"]
            buf.append(v)
            s1 += _d12(v)
            s2 += _d12(v * v)
            if len(buf) > lookback:
                old = buf.pop(0)
                s1 -= _d12(old)
                s2 -= _d12(old * old)
    return alerts
