"""Reductions from per-op records to the reported metrics."""
import math
import statistics
import os

# Percentiles a workload may report its tail at, highest first.
TAIL_LADDER = (99, 95, 90, 80, 75, 70, 67, 60, 50)


def percentile(values, p):
    """Nearest-rank percentile: the smallest sample with at least p% of the
    samples at or below it."""
    v = sorted(values)
    return v[max(0, math.ceil(p / 100 * len(v)) - 1)]


def tail(values, p):
    """The p-th percentile as a tail; a tail that fell back to the median is
    the median itself."""
    return median(values) if p == 50 else percentile(values, p)


def samples_beyond(n, p):
    """How many of n samples rank above the nearest-rank p-th percentile."""
    return n - max(1, math.ceil(p / 100 * n))


def tail_percentile(planned_n, min_beyond=10):
    """The highest ladder percentile that leaves at least `min_beyond` of
    `planned_n` samples above it. Fixed per workload from its planned op
    count, so the parent and a change report the same percentile. Too few
    samples for any tail fall back to the median."""
    for p in TAIL_LADDER:
        if samples_beyond(planned_n, p) >= min_beyond:
            return p
    return 50


def at_reference_speed(raw, probe_ms, ref_ms, rates=()):
    """Metrics of one run at the reference speed. The reference job took
    `probe_ms` (median over the run) where the reference speed takes
    `ref_ms`: times are multiplied by ref_ms / probe_ms, and the metrics
    named in `rates` (per second) divided by it."""
    scale = ref_ms / probe_ms
    return {k: v / scale if k in rates else v * scale for k, v in raw.items()}


# --- /proc/stat ------------------------------------------------------------

CPU_FIELDS = ("user", "nice", "system", "idle", "iowait", "irq", "softirq", "steal")


def parse_cpu_line(line):
    """The aggregate `cpu` line of /proc/stat as {field: ticks}. Guest time
    is already inside user/nice, so it is not added again."""
    parts = line.split()
    if not parts or parts[0] != "cpu":
        raise ValueError(f"not an aggregate cpu line: {line!r}")
    vals = [int(x) for x in parts[1:1 + len(CPU_FIELDS)]]
    vals += [0] * (len(CPU_FIELDS) - len(vals))
    return dict(zip(CPU_FIELDS, vals))


def host_cpu(line0, line1, own_cpu_ms, hz=100):
    """(steal %, other-process CPU %) of all CPU time between two snapshots.
    `own_cpu_ms` is the benchmarked process's CPU time in the same window;
    whatever else was busy is other load on the machine."""
    a, b = parse_cpu_line(line0), parse_cpu_line(line1)
    d = {k: b[k] - a[k] for k in CPU_FIELDS}
    total = sum(d.values())
    if total <= 0:
        return 0.0, 0.0
    busy = total - d["idle"] - d["iowait"] - d["steal"]
    own = own_cpu_ms * hz / 1000.0
    return 100.0 * d["steal"] / total, 100.0 * max(0.0, busy - own) / total


# --- space ------------------------------------------------------------------

def tree_bytes(path):
    total = 0
    for dirpath, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(dirpath, f))
    return total


def space_amp(planes_root, log_dir, head):
    """Bytes on disk under the plane roots plus the commit log, over the
    bytes of the generation directories the head manifest `head` binds."""
    return ((tree_bytes(planes_root) + tree_bytes(log_dir))
            / sum(tree_bytes(p) for p in head.values()))


# --- spans ------------------------------------------------------------------

def self_times_ms(spans):
    """{span id: its duration minus the time its direct children cover}.
    Children of one span never overlap (one client thread)."""
    child = {}
    for s in spans:
        if s["parent"] >= 0:
            child[s["parent"]] = child.get(s["parent"], 0) + s["end_ns"] - s["start_ns"]
    return {s["id"]: (s["end_ns"] - s["start_ns"] - child.get(s["id"], 0)) / 1e6 for s in spans}


def median(values):
    """The middle sample, or the mean of the two middle samples."""
    return statistics.median(values) if values else 0.0
