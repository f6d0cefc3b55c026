#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload ref_ticks --seed 0 --seconds 10 --trace 0

Builds the project once per checkout (perfbench/build.py), makes the
workload's inputs from the seed, runs the workload in a fresh JVM on
local[nproc] and prints, as the last stdout line, one JSON object with the
keys `correct`, `attempted`, `failed` and `metrics`. `--trace 0` reports
the end-to-end metrics, `--trace 1` the per-layer ones. The line before it
holds the workload's metrics under their report names and the host's load;
the full record (laps, digests, failures, spans) is written to
`.bench_work/<workload>/result.json`. See README.md.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import benchlib  # noqa: E402
import build  # noqa: E402
import gen_tables  # noqa: E402

ROOT = build.ROOT
GOLDENS = os.path.join(HERE, "goldens.json")
DEADLINE_S = 170

# One query per layer that only the query registry exercises. q71 and q99
# build their persisted index in every run: the work directory starts empty.
QUERY_SUBSET = [
    "q03_region_rollup", "q15_ohlcv_hourly", "q46_macd", "q18_asof_join",
    "q74_asof_native", "q16_gap_report", "q48_signal_chain",
    "q81_dedup_clusters", "q71_ivf_ann", "q99_bm25_indexed",
    "q75_frame_sample", "q77_currency_format",
]

WORKLOADS = ("ref_ticks", "fixed_cost")

END_TO_END = [("setup_s", "s"), ("stage1_s", "s"), ("stage2_s", "s")]

# What every seed's outputs must satisfy (see `invariant_failure`).
REF_SCENARIOS = 40
SWEEP_COMBOS = 9  # the 3 x 3 rsi_period x bb_period grid


def nproc():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def loadavg():
    try:
        return os.getloadavg()[0]
    except OSError:
        return -1.0


def heap():
    try:
        with open("/proc/meminfo") as f:
            return benchlib.heap_size(f.read())
    except OSError:
        return "2g"


def jvm_command(classes_cp, mem, scratch, args):
    """The benchmark JVM; its temporary and Spark local files go to `scratch`."""
    tmp = os.path.join(scratch, "tmp")
    os.makedirs(tmp, exist_ok=True)
    opens = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]
    return (["java", f"-Xms{mem}", f"-Xmx{mem}", "-XX:-UsePerfData",
             f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
             "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
            + [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in opens]
            + ["-cp", classes_cp, "perfbench.Main"] + args)


def lap_metrics(workload, ops):
    """End-to-end lap metrics and the same lap under the names the backtest
    and bench reports use, each as (value, unit)."""
    by = {o["name"]: o["secs"] for o in ops}
    if workload == "ref_ticks":
        ticks = next(o["ticks"] for o in ops if o["name"] == "tickrun")
        named = {"warmup_time_s": (by["warmup"], "s"),
                 "tickrun_time_s": (by["tickrun"], "s"),
                 "ticks_per_sec": (ticks / by["tickrun"], "1/s"),
                 "ticks": (ticks, "count")}
        return {"stage1_s": by["warmup"], "stage2_s": by["tickrun"]}, named
    queries = [t for n, t in by.items() if n != "sweep"]
    named = {"sweep_s": (by["sweep"], "s"), "suite_s": (sum(queries), "s"),
             "query_p50_s": (benchlib.median(queries), "s"),
             "queries": (len(queries), "count")}
    return {"stage1_s": by["sweep"], "stage2_s": sum(queries)}, named


def load_goldens():
    if os.path.exists(GOLDENS):
        with open(GOLDENS) as f:
            return json.load(f)
    return {}


def golden_for(goldens, workload, seed):
    g = goldens.get(workload, {})
    return {**g.get("*", {}), **g.get(str(seed), {})}


def digest_fields(digest):
    """`a=1;b=x` -> {"a": "1", "b": "x"}."""
    return dict(f.split("=", 1) for f in digest.split(";") if "=" in f)


def invariant_failure(op, lap_ops):
    """What an op's output must satisfy on every seed, or None.

    `tickrun`: all 40 scenarios ran, none errored, and the kernel replayed
    exactly the ticks the lap's `warmup` mounted. `sweep`: every one of the
    9 grid combinations is ranked (the ranking keeps only status `ok`)."""
    got = digest_fields(op["digest"])
    if op["name"] == "tickrun":
        mounted = next((digest_fields(o["digest"]).get("mounted") for o in lap_ops
                        if o["name"] == "warmup"), None)
        if got.get("scenarios") != str(REF_SCENARIOS):
            return f"{got.get('scenarios')} scenarios, expected {REF_SCENARIOS}"
        if got.get("errors") != "0":
            return f"{got.get('errors')} scenarios failed in the kernel"
        if got.get("ticks") != mounted:
            return f"replayed {got.get('ticks')} ticks of {mounted} mounted"
    if op["name"] in ("sweep", "sweep_probe") and got.get("rows") != str(SWEEP_COMBOS):
        return f"{got.get('rows')} ranked combinations, expected {SWEEP_COMBOS}"
    return None


def check_ops(laps, golden):
    """Marks each op ok/failed: no exception, its output satisfies the
    invariants of every seed, and its digest (when it has one) equals the
    golden and every other digest of the same op. A probe `X_probe` is held
    to op `X`'s digest."""
    first = {}
    failures = []
    for lap in laps:
        for op in lap["ops"]:
            bad = op["error"]
            d = op["digest"]
            if not bad and d:
                bad = invariant_failure(op, lap["ops"])
            if not bad and d:
                key = op["name"].removesuffix("_probe")
                want = golden.get(key, first.setdefault(key, d))
                if d != want:
                    bad = f"digest {d} != expected {want}"
            op["ok"] = not bad
            if bad:
                failures.append(f"{lap['kind']} {op['name']}: {bad}")
    return failures


def main(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[1])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True,
                   help="accepted for the common runner interface; a run "
                        "measures one fixed lap (see README.md)")
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--record-goldens", action="store_true",
                   help="store this run's digests as the goldens of its seed")
    a = p.parse_args(argv)
    build.build()
    started = time.time()
    work = os.path.join(ROOT, ".bench_work", a.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    cores = nproc()
    env = {"nproc": cores, "loadavg_start": loadavg(), "heap": heap()}

    t0 = time.time()
    data = os.path.join(work, "data")
    args = ["--workload", a.workload, "--trace", str(a.trace),
            "--data", data, "--work", work, "--cores", str(cores),
            "--out", os.path.join(work, "raw.json")]
    if a.workload == "ref_ticks":
        gen_tables.write_ticks(os.path.join(data, "ticks"), a.seed)
    else:
        gen_tables.write_events(os.path.join(data, "events"), a.seed)
        gen_tables.write_star_schema(os.path.join(data, "tables"), seed=20260817)
        order = benchlib.run_order(QUERY_SUBSET, a.seed)
        args += ["--queries", ",".join(f"{q}:{benchlib.query_layer(q)}" for q in order)]
    cmd = jvm_command(build.classpath(), env["heap"], work, args)
    with open(os.path.join(work, "jvm.log"), "w") as log:
        try:
            # SPARK_LOCAL_DIRS would override spark.local.dir.
            jenv = {k: v for k, v in os.environ.items() if k != "SPARK_LOCAL_DIRS"}
            proc = subprocess.run(cmd, cwd=work, env=jenv, stdout=log,
                                  stderr=subprocess.STDOUT,
                                  timeout=max(10, DEADLINE_S - (time.time() - started)))
        except subprocess.TimeoutExpired:
            raise SystemExit("perfbench: JVM run exceeded the deadline")
    if proc.returncode != 0:
        with open(os.path.join(work, "jvm.log")) as f:
            sys.stderr.write(f.read()[-6000:])
        raise SystemExit(f"perfbench: JVM exited with {proc.returncode}")
    with open(os.path.join(work, "raw.json")) as f:
        raw = json.load(f)
    env["loadavg_end"] = loadavg()

    goldens = load_goldens()
    failures = check_ops(raw["laps"], golden_for(goldens, a.workload, a.seed))
    all_ops = [o for lap in raw["laps"] for o in lap["ops"]]
    attempted = len(all_ops)
    failed = sum(1 for o in all_ops if not o["ok"])

    measured = next(lap["ops"] for lap in raw["laps"] if lap["kind"] == "measure")
    e2e, named = lap_metrics(a.workload, measured)
    e2e["setup_s"] = raw["setup_end_ms"] / 1e3 - t0
    named["fail_frac"] = (failed / attempted, "frac")
    named = {k: {"value": v, "unit": u} for k, (v, u) in named.items()}

    per_layer = None
    if a.trace:
        lap_s = {lap["kind"]: sum(o["secs"] for o in lap["ops"]) for lap in raw["laps"]}
        overhead = lap_s["traced"] - lap_s["baseline"]
        per_layer = benchlib.layer_metrics(raw, raw["cores"], overhead)

    if a.record_goldens:
        record_goldens(goldens, a.workload, a.seed, raw["laps"])

    record = {"workload": a.workload, "seed": a.seed, "seconds": a.seconds,
              "trace": a.trace, "env": env, "end_to_end": e2e,
              "report_metrics": named, "per_layer": per_layer,
              "failures": failures, "laps": raw["laps"],
              **{k: raw.get(k) for k in ("spans", "jobs", "plans")}}
    with open(os.path.join(work, "result.json"), "w") as f:
        json.dump(record, f, indent=1)
    for line in failures:
        print(f"perfbench: FAILED {line}", file=sys.stderr)
    print(json.dumps({"workload": a.workload, "env": env, "report_metrics": named}))
    if a.trace:
        units = benchlib.per_layer_units()
        metrics = {k: {"value": v, "unit": units[k]} for k, v in per_layer.items()}
    else:
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END}
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


def record_goldens(goldens, workload, seed, laps):
    got = {}
    for lap in laps:
        for op in lap["ops"]:
            if op["digest"] and not op["error"] and not op["name"].endswith("_probe"):
                got.setdefault(op["name"], op["digest"])
    g = goldens.setdefault(workload, {})
    if workload == "fixed_cost":  # the query tables do not depend on the seed
        g["*"] = {k: v for k, v in got.items() if k.startswith("q")}
        got = {k: v for k, v in got.items() if not k.startswith("q")}
    g[str(seed)] = dict(sorted(got.items()))
    with open(GOLDENS, "w") as f:
        json.dump(goldens, f, indent=1, sort_keys=True)
        f.write("\n")


if __name__ == "__main__":
    main()
