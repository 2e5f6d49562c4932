#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the engine and the
benchmark (`perfbench/build.py`); inputs are generated from the seed
(`perfbench/gen.py`). Everything the run writes stays under
`.bench_build/` in the checkout. The last line of standard output is one
JSON object: `correct`, `attempted`, `failed` and `metrics` (the
end-to-end metrics with `--trace 0`, the per-layer ones with `--trace 1`).
Human-readable detail goes to the lines before it.

Extra flags: `--plant 1` plants one wrong result (it must show as a
failed operation); `--record <file>` writes the digests a catalog
workload computed, for `perfbench/expected/`.
"""
import argparse
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402
import checks  # noqa: E402
import gen  # noqa: E402

ROOT = build.ROOT
TABLE_SEED = 42  # the catalog tables are fixed; the seed orders the queries

# `pass_s` is the nominal length of one pass on a 4-core box: a run makes
# max(1, seconds // pass_s) passes, so its shape never depends on timing.
# The stream makes one pass whose length follows from the seconds: the
# generator's schedule fills `fill` of them (the rest drains the stream),
# at least `files` files; a traced run makes its passes `files` long.
WORKLOADS = {
    "cadence_replay": {"kind": "cadence", "pass_s": 10, "employees": 20000, "days": 3},
    "catalog_sf001": {"kind": "catalog", "pass_s": 7, "sf": 0.01},
    "strike_stream": {"kind": "strike", "files": 30, "fill": 0.8, "per_file": 200,
                      "employees": 5000, "interval_ms": 200, "per_trigger": 32,
                      "warm_files": 24},
}
# a stream's single pass is cut into this many windows of consecutive
# files, which stand in for passes in the latency statistics
WINDOWS = 3

END_TO_END = [("setup_s", "s"), ("wall_s", "s"), ("op_p50_s", "s"),
              ("op_tail_s", "s"), ("rows_per_s", "1/s"),
              ("heap_peak_mb", "MB")]

JOBS = ["load_quota", "load_calendar", "clean_timeframe", "merge_timeframe",
        "clean_leave", "merge_leave", "report_active", "report_upcoming",
        "report_quota"]
LAYERS = ["engine", "queries", "shared", "sources", "jobs", "operators",
          "sinks", "runner", "streaming", "sched"]
PER_LAYER = (
    [("engine.table_open_s", "s"), ("engine.table_opens", "count"),
     ("queries.build_s", "s"), ("queries.build_jobs", "count"),
     ("catalyst.analysis_ms", "ms"), ("catalyst.optimization_ms", "ms"),
     ("catalyst.planning_ms", "ms"), ("sched.jobs", "count"),
     ("sched.stages", "count"), ("sched.tasks", "count"),
     ("sched.floor_s", "s"), ("exec.run_s", "s"), ("exec.cpu_s", "s"),
     ("exec.gc_s", "s"), ("exec.deser_s", "s"), ("exec.busy_ratio", "ratio"),
     ("exec.input_rows", "count"), ("exec.input_mb", "MB"),
     ("exec.shuffle_write_mb", "MB"), ("exec.shuffle_read_mb", "MB"),
     ("exec.spill_mb", "MB"), ("exec.result_mb", "MB"),
     ("shared.build_s", "s"), ("shared.artifacts", "count"),
     ("storage.peak_mb", "MB"), ("sources.list_s", "s"),
     ("sources.rows_read", "count"), ("sources.bytes_read", "bytes"),
     ("jobs.build_s", "s"), ("operators.build_s", "s"),
     ("sinks.write_s", "s"), ("sinks.rows_written", "count"),
     ("sinks.bytes_written", "bytes"), ("sinks.files_written", "count"),
     ("sinks.store_ratio", "ratio")] +
    [(f"runner.job_s.{j}", "s") for j in JOBS] +
    [("runner.attempts", "count"), ("stream.batches", "count"),
     ("stream.batch_p50_ms", "ms"), ("stream.add_batch_ms", "ms"),
     ("stream.query_planning_ms", "ms"), ("stream.wal_commit_ms", "ms"),
     ("stream.commit_offsets_ms", "ms"), ("stream.state_rows", "count"),
     ("stream.state_mem_mb", "MB"), ("stream.state_commit_ms", "ms"),
     ("stream.rows_per_batch", "count"), ("stream.backlog_files", "count"),
     ("stream.gen_late_ms", "ms")] +
    [(f"self.{l}_s", "s") for l in LAYERS] +
    [("trace.overhead_s", "s")])


def tail(values):
    """Latency at the highest percentile with at least ten samples beyond
    it: (value, percentile, sample count)."""
    xs = sorted(values)
    n = len(xs)
    if n <= 10:
        return xs[-1], 100.0, n
    i = n - 11  # xs[i] has exactly ten samples above it
    return xs[i], 100.0 * (i + 1) / n, n


def at(values, pct):
    """Nearest-rank value at percentile `pct`."""
    xs = sorted(values)
    return xs[max(0, math.ceil(pct / 100 * len(xs)) - 1)]


def latency_groups(kind, passes):
    """Op latencies, one list per measured pass; a stream's single pass
    is cut into WINDOWS windows of consecutive files."""
    if kind != "strike":
        return [[o["latency_s"] for o in p["ops"]] for p in passes]
    lat = [o["latency_s"] for p in passes for o in p["ops"]]
    n = len(lat)
    return [lat[i * n // WINDOWS:(i + 1) * n // WINDOWS] for i in range(WINDOWS)]


def jvm_cmd(classes, work, args):
    opens = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]
    cmd = ["java"]
    for p in opens:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd += ["-Xmx3g", "-Duser.timezone=UTC", f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            f"-Dspark.local.dir={tmp}",
            f"-Dspark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
            f"-Dderby.system.home={tmp}",
            "-cp", classes + os.pathsep + os.path.join(build.spark_jars(), "*"),
            "graft.perfbench.Main"]
    return cmd + [f"{k}={v}" for k, v in args.items()]


def tables_dir(sf):
    """The catalog tables, generated once per checkout and reused."""
    src = open(os.path.join(HERE, "gen.py"), "rb").read()
    import hashlib
    key = hashlib.sha256(src + f"{sf}:{TABLE_SEED}".encode()).hexdigest()[:12]
    d = os.path.join(build.BUILD, "data", f"tables-sf{sf}-{key}")
    if not os.path.exists(os.path.join(d, ".ok")):
        shutil.rmtree(d + ".tmp", ignore_errors=True)
        gen.tables(d + ".tmp", sf, TABLE_SEED)
        open(os.path.join(d + ".tmp", ".ok"), "w").close()
        shutil.rmtree(d, ignore_errors=True)
        os.rename(d + ".tmp", d)
    return d


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--plant", type=int, choices=[0, 1], default=0)
    ap.add_argument("--record", default="")
    a = ap.parse_args()
    cfg = WORKLOADS[a.workload]

    classes = build.classes_dir()
    work = os.path.join(build.BUILD, "run", f"{a.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    trace_dir = os.path.join(build.BUILD, "trace")
    os.makedirs(trace_dir, exist_ok=True)
    out = os.path.join(work, "result.json")
    if cfg["kind"] == "strike":
        passes = 1
        files = cfg["files"] if a.trace else max(
            cfg["files"], int(a.seconds * cfg["fill"] * 1000 / cfg["interval_ms"]))
    else:
        passes = max(1, int(a.seconds // cfg["pass_s"]))
    jargs = {"workload": cfg["kind"], "seed": a.seed, "passes": passes,
             "trace": a.trace, "cores": os.cpu_count() or 1, "work": work,
             "out": out, "plant": a.plant}
    if a.trace:
        jargs["spans"] = os.path.join(trace_dir, f"{a.workload}-{a.seed}.spans.jsonl")
    t_gen = time.time()
    manifest = {}
    if cfg["kind"] == "catalog":
        exp_path = os.path.join(HERE, "expected", f"{a.workload}.json")
        expected = json.load(open(exp_path))
        jargs.update(data=tables_dir(cfg["sf"]), expected=exp_path,
                     queries=",".join(sorted(expected)))
        if a.record:
            jargs["expected"] = ""
    elif cfg["kind"] == "cadence":
        feeds = os.path.join(work, "feeds")
        manifest = gen.feeds(feeds, a.seed, cfg["employees"], cfg["days"])
        feed_bytes = sum(os.path.getsize(os.path.join(d, f))
                         for d, _, fs in os.walk(feeds) for f in fs if f.endswith(".csv"))
        jargs.update(feeds=feeds, dates=",".join(manifest["run_dates"]),
                     year_date=manifest["year_date"])
    else:
        msgs = os.path.join(work, "messages")
        manifest = gen.messages(msgs, a.seed, files, cfg["per_file"],
                                cfg["employees"])
        jargs.update(messages=msgs, files=files, warm_files=cfg["warm_files"],
                     interval_ms=cfg["interval_ms"], per_trigger=cfg["per_trigger"])
    gen_s = time.time() - t_gen

    log = os.path.join(work, "jvm.log")
    with open(log, "w") as lf:
        rc = subprocess.run(jvm_cmd(classes, work, jargs), stdout=lf,
                            stderr=subprocess.STDOUT,
                            timeout=1800 if a.record else 170).returncode
    if rc != 0 or not os.path.exists(out):
        sys.stderr.write(open(log).read()[-6000:])
        raise SystemExit(f"benchmark JVM failed ({rc})")
    res = json.load(open(out))

    if a.record:
        with open(a.record, "w") as f:
            json.dump(dict(sorted(res["digests"].items())), f, indent=1)
            f.write("\n")

    passes = res["passes"]
    if cfg["kind"] == "cadence":
        checks.cadence(passes, os.path.join(work, "feeds"), manifest)
    ops = [o for p in passes for o in p["ops"]]
    failed = [o for o in ops if not o["ok"]]
    for o in failed[:10]:
        print(f"FAILED {o['name']}: {o['why']}")

    plain = [p for p in passes if not p["traced"]]
    traced = [p for p in passes if p["traced"]]
    # latency statistics are medians over passes (windows of a stream) of
    # each one's statistic, so one disturbed pass moves none of them; the
    # tail's percentile follows from the run's whole sample count
    groups = latency_groups(cfg["kind"], plain)
    _, t_pct, t_n = tail([x for g in groups for x in g])
    walls = [p["wall_s"] for p in plain]
    if cfg["kind"] == "cadence":
        rows = [manifest["feed_rows"]] * len(plain)
    else:
        rows = [p["metrics"]["rows"] for p in plain]
    e2e = {
        "setup_s": statistics.median(res["setup_s"]),
        "wall_s": statistics.median(walls),
        "op_p50_s": statistics.median(statistics.median(g) for g in groups),
        "op_tail_s": statistics.median(at(g, t_pct) for g in groups),
        "rows_per_s": statistics.median(r / w for r, w in zip(rows, walls)),
        "heap_peak_mb": statistics.median(p["metrics"]["heap_peak_mb"] for p in plain),
    }
    print(f"# {a.workload} seed={a.seed}: {len(passes)} passes "
          f"({len(traced)} traced), {len(ops)} ops, {len(failed)} failed; "
          f"inputs generated in {gen_s:.2f} s; setup rounds {res['setup_s']}")
    print(f"# op_tail_s is p{t_pct:.1f} of {t_n} op latencies, "
          f"median over {len(groups)} {'windows' if cfg['kind'] == 'strike' else 'passes'}")
    if a.trace:
        layer = {}
        for name, _ in PER_LAYER:
            vals = [p["metrics"].get(name, 0.0) for p in traced]
            layer[name] = statistics.mean(vals)
        if cfg["kind"] == "cadence":
            layer["sinks.store_ratio"] = statistics.mean(
                p["metrics"]["store_bytes"] for p in traced) / feed_bytes
        layer["trace.overhead_s"] = (statistics.median(p["wall_s"] for p in traced)
                                     - statistics.median(walls))
        report = sorted(((k[5:-2], v) for k, v in layer.items()
                         if k.startswith("self.")), key=lambda kv: -kv[1])
        print("# self seconds per layer (per traced pass): " +
              ", ".join(f"{k} {v:.3f}" for k, v in report))
        metrics = {n: {"value": layer[n], "unit": u} for n, u in PER_LAYER}
    else:
        metrics = {n: {"value": e2e[n], "unit": u} for n, u in END_TO_END}
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"correct": not failed, "attempted": len(ops),
                      "failed": len(failed), "metrics": metrics}))


if __name__ == "__main__":
    main()
