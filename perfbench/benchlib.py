"""Pure helpers of the benchmark harness: order statistics, the share of a
span outside Spark jobs, per-layer roll-ups and the query -> layer map."""
import math
import random

# The `graft` modules measured as layers, in report order.
LAYERS = ["backtest", "catalog", "ingest", "windows", "sim", "report",
          "serve", "sweep", "queries", "bars", "indicators", "ops", "plans",
          "discovery", "signal", "dedup", "similarity", "text", "multimodal",
          "functions"]

LAYER_FIELDS = [("wall_s", "s"), ("driver_s", "s"), ("plan_s", "s"),
                ("task_s", "s"), ("jobs", "count"), ("shuffle_mb", "MB")]

EXTRA_METRICS = [("sim.ticks", "count"), ("sim.core_util", "frac"),
                 ("sim.max_task_s", "s"), ("jvm.gc_s", "s"),
                 ("jvm.heap_peak_mb", "MB"), ("trace.overhead_s", "s")]

# Every registered query -> the module its result comes from. Queries that
# call no graft module are plain-Spark relational queries (`queries`);
# q65's module (graft.stress) has no layer of its own and counts there too.
_BY_LAYER = {
    "queries": "q01 q02 q03 q04 q05 q06 q07 q08 q09 q11 q12 q13 q14 q23 q36 "
               "q37 q41 q42 q56 q57 q58 q59 q60 q65",
    "bars": "q15",
    "indicators": "q19 q20 q21 q46 q47",
    "ops": "q10 q18 q24 q38 q61 q68 q69 q73 q79 q80",
    "plans": "q74 q76",
    "discovery": "q16 q17 q22 q39 q45",
    "signal": "q48",
    "dedup": "q26 q27 q28 q29 q30 q81 q83 q84 q85 q91 q93",
    "similarity": "q33 q34 q35 q44 q70 q71 q78 q94",
    "text": "q25 q31 q32 q82 q86 q87 q88 q89 q90 q92 q95 q96 q97 q98 q99 "
            "q100 q101 q102",
    "multimodal": "q72 q75",
    "functions": "q43 q66 q77",
    "report": "q49 q50 q51 q52 q62 q63 q64",
    "windows": "q53 q54 q55",
    "serve": "q67",
    "sim": "q40",
}
QUERY_PREFIX_LAYER = {p: layer for layer, ps in _BY_LAYER.items()
                      for p in ps.split()}


def query_layer(name):
    """Layer of a registered query name such as `q15_ohlcv_hourly`."""
    return QUERY_PREFIX_LAYER[name.split("_", 1)[0]]


def run_order(names, seed):
    """Seed 0 is name order (the bench contract); other seeds permute it."""
    order = sorted(names)
    if seed != 0:
        random.Random(seed).shuffle(order)
    return order


def median(values):
    return percentile(values, 0.5, min_tail=0)


def percentile(values, p, min_tail=10):
    """Linear-interpolated percentile (numpy's default definition).

    A tail percentile is only meaningful with enough samples beyond it:
    p = 0.9 with `min_tail` = 10 needs at least 100 samples."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no samples")
    tail = round(len(xs) * min(p, 1 - p), 9)
    if tail < min_tail:
        raise ValueError(f"p{p * 100:g} needs {min_tail} samples beyond it, "
                         f"got {len(xs)} samples")
    pos = (len(xs) - 1) * p
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def covered_ms(intervals, lo, hi):
    """Length of the union of [start, end] intervals clipped to [lo, hi]."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals
                     if min(b, hi) > max(a, lo))
    total, cur_a, cur_b = 0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def driver_s(span, jobs):
    """Span wall time not covered by any of the Spark jobs that ran in it."""
    busy = covered_ms([(j["start_ms"], j["end_ms"]) for j in jobs],
                      span["start_ms"], span["end_ms"]) / 1e3
    return max(0.0, span["wall_s"] - busy)


def layer_metrics(trace, cores, overhead_s):
    """Every per-layer metric from a traced run's `spans`, `jobs`, `plans`
    and `jvm` window; a layer the workload never reaches reads 0.

    Jobs and plans carry the layer they are charged to, which inside a
    call-site-attributed span can differ from the span's. A layer's wall
    time is then its own spans' wall time less the jobs charged to other
    layers, plus the union of its jobs that ran inside other layers' spans.
    Driver time (no job running) stays with the span's layer."""
    spans, jobs, plans = trace["spans"], trace["jobs"], trace["plans"]
    out = {f"{layer}.{f}": 0 if f == "jobs" else 0.0
           for layer in LAYERS for f, _ in LAYER_FIELDS}
    for i, span in enumerate(spans):
        inside = [j for j in jobs if j["span"] == i]
        lo, hi = span["start_ms"], span["end_ms"]
        foreign = {}
        for j in inside:
            if j["layer"] != span["layer"]:
                foreign.setdefault(j["layer"], []).append((j["start_ms"], j["end_ms"]))
        away = covered_ms([iv for ivs in foreign.values() for iv in ivs], lo, hi) / 1e3
        _add(out, span["layer"], "wall_s", max(0.0, span["wall_s"] - away))
        _add(out, span["layer"], "driver_s", driver_s(span, inside))
        for layer, ivs in foreign.items():
            _add(out, layer, "wall_s", covered_ms(ivs, lo, hi) / 1e3)
    for j in jobs:
        _add(out, j["layer"], "task_s", j["task_s"])
        _add(out, j["layer"], "jobs", 1)
        _add(out, j["layer"], "shuffle_mb", j["shuffle_bytes"] / 2 ** 20)
    for p in plans:
        _add(out, p["layer"], "plan_s", p["plan_s"])
    out["sim.ticks"] = sum(s["ticks"] for s in spans)
    wall = out["sim.wall_s"]
    out["sim.core_util"] = out["sim.task_s"] / (wall * cores) if wall > 0 else 0.0
    out["sim.max_task_s"] = max((j["max_task_s"] for j in jobs if j["layer"] == "sim"),
                                default=0.0)
    out["jvm.gc_s"] = trace["jvm"]["gc_s"]
    out["jvm.heap_peak_mb"] = trace["jvm"]["heap_peak_mb"]
    out["trace.overhead_s"] = overhead_s
    return out


def _add(out, layer, field, value):
    key = f"{layer}.{field}"
    if key not in out:
        raise ValueError(f"unknown layer {layer!r}")
    out[key] += value


def per_layer_units():
    units = {f"{l}.{f}": u for l in LAYERS for f, u in LAYER_FIELDS}
    units.update(dict(EXTRA_METRICS))
    return units


def heap_size(meminfo_text):
    """The Tier-1 JVM heap: half the host memory in whole GiB, 2g..8g."""
    for line in meminfo_text.splitlines():
        if line.startswith("MemTotal:"):
            g = int(line.split()[1]) // 2097152
            return f"{min(8, max(2, g))}g"
    return "2g"
