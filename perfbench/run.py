#!/usr/bin/env python3
"""The graft benchmark: one command, named workloads, end-to-end and per-layer metrics.

Run from the root of a checkout:

    python3 perfbench/run.py --workload dump_lake --seed 1 --seconds 10 --trace 0

It builds the program and the harness in ``perfbench/`` with sbt (once per
source state, cached under ``.bench_build/``), runs the workload in one JVM
on ``local[N]`` with N = the machine's cores, checks the outputs, prints
every metric by name with its unit, and ends with one JSON line:
``{"correct", "attempted", "failed", "metrics"}``.  With ``--trace 0`` the
metrics are the end-to-end ones; with ``--trace 1`` a traced pass adds spans
and Spark listener counts and the metrics are the per-layer ones.

``--record 1`` rewrites ``perfbench/expected/query_suite.json`` from the
current program's outputs; use it only when a query's output changes on
purpose.
"""

import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import metrics  # noqa: E402

BENCH_DIR = "perfbench"
BUILD_DIR = ".bench_build"
DATA_DIR = os.path.join(BENCH_DIR, "data", "sf0.01")
EXPECTED = os.path.join(BENCH_DIR, "expected", "query_suite.json")
BUILD_LIMIT_S = 840

# Workload → how long its JVM may run.  The first two are sized for a
# three-minute run; the full catalog and the live-Postgres dump are not.
WORKLOADS = {"dump_lake": 170, "query_sample": 170, "dump_pg": 600, "query_suite": 900}

END_TO_END = [
    ("setup_s", "s"),
    ("wall_s", "s"),
    ("op_p50_s", "s"),
    ("rows_per_s", "1/s"),
]

FAMILIES = ("q", "d", "s", "t", "p", "m")

PER_LAYER = (
    [("core.parse_ms", "ms"), ("core.dump_s", "s"), ("core.attempts", "count"),
     ("core.retries", "count"), ("core.backoff_s", "s"), ("core.attempt_yield", "ratio"),
     ("core.self_s", "s"),
     ("sources.register_s", "s"), ("sources.translate_ms", "ms"), ("sources.pin_ms", "ms"),
     ("sources.scan_s", "s"), ("sources.scan_rows_per_s", "1/s"), ("sources.self_s", "s"),
     ("sink.write_s", "s"), ("sink.encode_s", "s"), ("sink.recount_s", "s"),
     ("sink.commit_s", "s"), ("sink.delete_s", "s"), ("sink.files", "count"),
     ("sink.mb", "MB"), ("sink.max_rows_per_file", "count"), ("sink.file_fill", "ratio"),
     ("sink.write_tasks", "count"), ("sink.self_s", "s"), ("sink.self_share", "ratio"),
     ("queries.construct_s", "s"), ("queries.construct_jobs", "count"),
     ("queries.plan_s", "s"), ("queries.exec_s", "s"), ("queries.self_s", "s")]
    + [(f"queries.{f}.{k}", "s") for f in FAMILIES for k in ("construct_s", "exec_s")]
    + [("artifacts.build_s", "s"), ("artifacts.builds", "count"), ("artifacts.max_build_s", "s"),
       ("spark.jobs", "count"), ("spark.stages", "count"), ("spark.tasks", "count"),
       ("spark.tasks_per_stage", "ratio"), ("spark.task_s", "s"), ("spark.cores_busy", "ratio"),
       ("spark.shuffle_mb", "MB"), ("spark.spill_mb", "MB"), ("spark.gc_s", "s"),
       ("trace.wall_s", "s"), ("trace.overhead_s", "s")]
)

JVM_OPTS = [
    "--add-opens", "java.base/java.lang=ALL-UNNAMED",
    "--add-opens", "java.base/java.lang.invoke=ALL-UNNAMED",
    "--add-opens", "java.base/java.lang.reflect=ALL-UNNAMED",
    "--add-opens", "java.base/java.io=ALL-UNNAMED",
    "--add-opens", "java.base/java.net=ALL-UNNAMED",
    "--add-opens", "java.base/java.nio=ALL-UNNAMED",
    "--add-opens", "java.base/java.util=ALL-UNNAMED",
    "--add-opens", "java.base/java.util.concurrent=ALL-UNNAMED",
    "--add-opens", "java.base/java.util.concurrent.atomic=ALL-UNNAMED",
    "--add-opens", "java.base/sun.nio.ch=ALL-UNNAMED",
    "--add-opens", "java.base/sun.nio.cs=ALL-UNNAMED",
    "--add-opens", "java.base/sun.security.action=ALL-UNNAMED",
    "--add-opens", "java.base/sun.util.calendar=ALL-UNNAMED",
    "-Xmx3g",
    "-Dspark.ui.enabled=false",
    "-Dspark.sql.session.timeZone=UTC",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_stamp():
    """Hash of everything the build reads, so a changed tree rebuilds."""
    h = hashlib.sha256()
    roots = ["build.sbt", os.path.join("project", "build.properties"), os.path.join("src", "main"),
             os.path.join(BENCH_DIR, "build.sbt"), os.path.join(BENCH_DIR, "project", "build.properties"),
             os.path.join(BENCH_DIR, "src")]
    for root in roots:
        paths = [root] if os.path.isfile(root) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(root) for f in fs)
        for p in paths:
            h.update(p.encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    """The harness classpath, building with sbt when the sources changed."""
    os.makedirs(BUILD_DIR, exist_ok=True)
    stamp = source_stamp()
    cached = os.path.join(BUILD_DIR, "classpath.json")
    if os.path.exists(cached):
        with open(cached) as f:
            c = json.load(f)
        if c.get("stamp") == stamp:
            return c["classpath"]
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    opts = env.get("SBT_OPTS", "")
    if "sbt.offline" not in opts:
        opts += " -Dsbt.offline=true"
    env["SBT_OPTS"] = opts.strip()
    log_path = os.path.join(BUILD_DIR, "build.log")
    with open(log_path, "w") as log:
        p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "export Runtime/fullClasspath"],
                           cwd=BENCH_DIR, env=env, stdout=subprocess.PIPE, stderr=log,
                           stdin=subprocess.DEVNULL, text=True, timeout=BUILD_LIMIT_S)
        log.write(p.stdout)
    lines = [ln for ln in p.stdout.splitlines() if ln.strip() and not ln.startswith("[")]
    if p.returncode != 0 or not lines:
        fail(f"build failed, see {log_path}")
    classpath = lines[-1].strip()
    with open(cached, "w") as f:
        json.dump({"stamp": stamp, "classpath": classpath}, f)
    return classpath


def run_jvm(classpath, args, deadline):
    """Runs the harness JVM; returns its raw result document."""
    work = os.path.abspath(os.path.join(BUILD_DIR, "work", args.workload))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    out = os.path.join(work, "result.json")
    cmd = ["java"] + JVM_OPTS + [f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
                                 "-cp", classpath, "graft.perfbench.Main",
                                 "--workload", args.workload, "--seed", str(args.seed),
                                 "--seconds", str(args.seconds), "--trace", str(args.trace),
                                 "--data", os.path.abspath(DATA_DIR), "--work", work, "--out", out,
                                 "--expected", os.path.abspath(EXPECTED), "--record", str(args.record)]
    pg_root = None
    if args.workload == "dump_pg":
        # The server runs as the postgres user, which may not be able to
        # enter the checkout, so its data directory lives in the system
        # temporary directory and is always removed below.
        pg_root = tempfile.mkdtemp(prefix="perfbench-pg-")
        os.chmod(pg_root, 0o755)
        cmd += ["--pgroot", pg_root]
    log_path = os.path.join(work, "jvm.log")
    proc = code = None
    try:
        with open(log_path, "w") as log:
            proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL,
                                    start_new_session=True)
            code = proc.wait(timeout=max(1, deadline - time.time()))
    except subprocess.TimeoutExpired:
        pass
    finally:
        # Also reached when this process is told to stop: leave nothing running.
        if proc is not None and proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        if pg_root:
            stop_postgres(pg_root)
    if code is None:
        fail(f"{args.workload} ran out of time, see {log_path}", 3)
    if code != 0 or not os.path.exists(out):
        with open(log_path) as f:
            tail = f.read()[-3000:]
        fail(f"harness exited with {code}, see {log_path}\n{tail}", 3)
    with open(out) as f:
        return json.load(f)


def stop_postgres(root):
    """Stops a server the JVM left running and deletes its directory."""
    data = os.path.join(root, "data")
    if os.path.exists(os.path.join(data, "postmaster.pid")):
        pg_ctl = shutil.which("pg_ctl")
        if pg_ctl:
            cmd = f"{pg_ctl} -D {data} -m immediate -w stop"
            argv = ["su", "-s", "/bin/sh", "postgres", "-c", cmd] if os.geteuid() == 0 else ["sh", "-c", cmd]
            subprocess.run(argv, stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL, cwd="/", timeout=60)
    shutil.rmtree(root, ignore_errors=True)


def end_to_end(raw):
    passes = raw["passes"]
    ops = [o for p in passes for o in p["ops"]]
    walls = [p["wall_s"] for p in passes]
    rows = sum(o["rows"] for o in ops)
    out = {
        # Session start and sources (median of fresh sessions), plus the
        # artifact builds of the warm-up pass.
        "setup_s": metrics.median(raw["setup_s"]) + raw["setup_detail"].get("artifacts.build_s", 0.0),
        "wall_s": metrics.median(walls),
        "op_p50_s": metrics.median([o["latency_s"] for o in ops]),
        "rows_per_s": rows / sum(walls),
    }
    # Reported beside the contract metrics, not in the JSON line: these are
    # zero or undefined on some workloads, or (peak RSS, which follows the
    # JVM's heap sizing) too unsteady between runs to bound.
    extra = {
        "peak_rss_mb": raw["peak_rss_mb"],
        "op_p90_s": metrics.reportable_percentile([o["latency_s"] for o in ops], 90),
        "error_rate": sum(1 for o in ops if not o["ok"]) / len(ops),
        "samples": len(ops),
        "passes": len(passes),
    }
    counts = [p.get("counts", {}) for p in passes]
    if counts and "files_written" in counts[0]:
        per_pass_rows = rows / len(passes)
        extra["files_written"] = metrics.median([c["files_written"] for c in counts])
        extra["bytes_per_row"] = metrics.median([c["bytes"] for c in counts]) / per_pass_rows
    return out, extra


def per_layer(raw, untraced_wall):
    t = raw["traced"]
    spans = t["spans"]
    jobs = t["jobs"]
    ops = t["ops"]
    wall = t["wall_s"]
    out = {name: 0.0 for name, _ in PER_LAYER}
    out.update({k: v for k, v in t["layer"].items() if k in out})
    detail = raw.get("setup_detail", {})
    for k in ("sources.register_s", "artifacts.build_s", "artifacts.builds", "artifacts.max_build_s"):
        if k in detail:
            out[k] = detail[k]

    def total(name):
        return sum((s["end"] - s["start"] for s in spans if s["name"] == name), 0.0)

    def inside(job, kinds):
        return any(s["start"] <= job["start"] <= s["end"] for s in spans if s["name"] in kinds)

    out["core.dump_s"] = total("core.dump")
    out["sources.translate_ms"] = total("sources.translate") * 1e3
    out["sources.pin_ms"] = total("sources.pin") * 1e3
    out["sink.write_s"] = total("sink.write")
    out["sink.delete_s"] = total("sink.delete")
    for w in (s for s in spans if s["name"] == "sink.write"):
        kinds = metrics.sink_job_kinds(w, jobs)
        split = metrics.sink_split(w, kinds)
        out["sink.encode_s"] += split["encode"]
        out["sink.recount_s"] += split["recount"]
        out["sink.commit_s"] += split["commit"]
        out["sink.write_tasks"] += sum(j["tasks"] for j in kinds if j["kind"] == "encode")
    out["queries.construct_s"] = total("queries.construct")
    out["queries.exec_s"] = total("queries.exec")
    out["queries.construct_jobs"] = sum(1 for j in jobs if inside(j, ("queries.construct",)))
    if out["queries.exec_s"] > 0:
        out["queries.plan_s"] = t["spark"]["plan_s"]
    family = {i + 1: o["family"] for i, o in enumerate(ops)}
    for s in spans:
        if s["name"] in ("queries.construct", "queries.exec"):
            key = f"queries.{family[s['op']]}.{s['name'].split('.')[1]}_s"
            if key in out:
                out[key] += s["end"] - s["start"]
    for layer, secs in metrics.layer_self_times(spans).items():
        if f"{layer}.self_s" in out:
            out[f"{layer}.self_s"] = secs
    out["sink.self_share"] = out["sink.self_s"] / wall
    sp = t["spark"]
    out["spark.jobs"] = len(jobs)
    out["spark.stages"] = sp["stages"]
    out["spark.tasks"] = sp["tasks"]
    out["spark.tasks_per_stage"] = sp["tasks"] / sp["stages"] if sp["stages"] else 0.0
    out["spark.task_s"] = sp["task_s"]
    out["spark.cores_busy"] = sp["task_s"] / wall
    out["spark.shuffle_mb"] = sp["shuffle_mb"]
    out["spark.spill_mb"] = sp["spill_mb"]
    out["spark.gc_s"] = sp["gc_s"]
    out["trace.wall_s"] = wall
    out["trace.overhead_s"] = wall - untraced_wall
    return out


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    # Turn a termination request into an exception, so cleanup runs.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    if not (os.path.isfile("build.sbt") and os.path.isdir(os.path.join("src", "main", "scala", "graft"))):
        fail("run this from the root of a graft checkout: the program's sources are missing")
    if shutil.which("java") is None or shutil.which("sbt") is None:
        fail("java and sbt must be on PATH")

    classpath = build()
    raw = run_jvm(classpath, args, time.time() + WORKLOADS[args.workload])
    if "skipped" in raw:
        print(f"{args.workload}: skipped: {raw['skipped']}")
        print(json.dumps({"workload": args.workload, "skipped": raw["skipped"]}))
        return

    e2e, extra = end_to_end(raw)
    ops = [o for p in raw["passes"] for o in p["ops"]]
    if args.trace:
        ops += raw["traced"]["ops"]
    failed = [o for o in ops if not o["ok"]]
    for o in {o["name"]: o for o in failed}.values():
        print(f"FAILED {o['name']}: {o['error']}", file=sys.stderr)

    units = dict(END_TO_END)
    units.update({"peak_rss_mb": "MB", "op_p90_s": "s", "error_rate": "ratio", "files_written": "count",
                  "bytes_per_row": "B", "samples": "count", "passes": "count"})
    print(f"# {args.workload} seed={args.seed} cores={raw['cores']} "
          f"setups={len(raw['setup_s'])} passes={extra['passes']} samples={extra['samples']}")
    for name, value in list(e2e.items()) + list(extra.items()):
        shown = "n/a (fewer than 10 samples beyond)" if value is None else f"{value:.6g}"
        print(f"{args.workload} {name} = {shown} {units[name] if value is not None else ''}".rstrip())

    if args.trace:
        layer = per_layer(raw, e2e["wall_s"])
        for name, unit in PER_LAYER:
            print(f"{args.workload} {name} = {layer[name]:.6g} {unit}")
        reported = {name: {"value": layer[name], "unit": unit} for name, unit in PER_LAYER}
    else:
        reported = {name: {"value": e2e[name], "unit": unit} for name, unit in END_TO_END}

    print(json.dumps({"correct": not failed, "attempted": len(ops), "failed": len(failed),
                      "metrics": reported}))


if __name__ == "__main__":
    main()
