#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload <athenaeum_sql|batch_sf0.1|gate_ingest>
                             --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --pin <dir>   # re-derive batch_sf0.1 pins

Run from the root of a checkout. The first run builds the program and the
harness from source with sbt (`perfbench/build.sbt`, which compiles the
root build) and caches the classpath under `.bench_build/perfbench`; later
runs start the JVM directly. Everything the run writes stays under
`.bench_build/perfbench`. The JVM's own output goes to stderr; the last
line of stdout is the one-line JSON result.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

WORKLOADS = ("athenaeum_sql", "batch_sf0.1", "gate_ingest")
RUN_LIMIT_S = 170  # a run (not counting the build) must end by this
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


def die(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_files(root):
    """Every file the build reads from the checkout, in a stable order."""
    picks = ["build.sbt", "perfbench/build.sbt"]
    for proj in ("project", "perfbench/project"):
        d = os.path.join(root, proj)
        if os.path.isdir(d):
            picks += [os.path.join(proj, f) for f in sorted(os.listdir(d))
                      if f.endswith((".sbt", ".properties", ".scala"))]
    for src in ("src/main", "perfbench/src/main"):
        for dirpath, dirs, files in os.walk(os.path.join(root, src)):
            dirs.sort()
            picks += [os.path.relpath(os.path.join(dirpath, f), root)
                      for f in sorted(files)]
    return picks


def fingerprint(root):
    h = hashlib.sha256()
    for rel in source_files(root):
        h.update(rel.encode())
        with open(os.path.join(root, rel), "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def run_group(cmd, cwd, env, timeout, out):
    """Run `cmd` in its own process group; kill the group on timeout and
    wait for it, so nothing outlives the run."""
    p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=out,
                         stderr=subprocess.STDOUT, start_new_session=True)
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return None
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise


def build(root, state):
    """Compile with sbt when the sources changed; return the classpath."""
    cp_file = os.path.join(state, "classpath.txt")
    stamp_file = os.path.join(state, "build.stamp")
    fp = fingerprint(root)
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read().strip() == fp:
                with open(cp_file) as g:
                    return g.read().strip()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    opts = env.get("SBT_OPTS", "")
    if "-Xmx" not in opts:
        opts += " -Xmx2g"
    if "sbt.offline" not in opts:
        opts += " -Dsbt.offline=true"
    env["SBT_OPTS"] = opts.strip()
    log_path = os.path.join(state, "build.log")
    t0 = time.time()
    with open(log_path, "w") as log:
        rc = run_group(["sbt", "--batch", "-Dsbt.log.noformat=true",
                        "compile", "export Runtime/fullClasspath"],
                       os.path.join(root, "perfbench"), env, 840, log)
    with open(log_path) as f:
        lines = f.read().splitlines()
    if rc != 0:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        die(f"build failed (exit {rc})", 3)
    cp = [l for l in lines if "perfbench" in l and "classes" in l
          and not l.startswith("[")]
    if not cp:
        die("build printed no classpath", 3)
    with open(cp_file, "w") as f:
        f.write(cp[-1].strip())
    with open(stamp_file, "w") as f:
        f.write(fp)
    print(f"perfbench: built in {time.time() - t0:.1f} s", file=sys.stderr)
    return cp[-1].strip()


def java_cmd(cp, tmp):
    cmd = ["java", "-cp", cp]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    return cmd + ["-Xms2g", "-Xmx2g", "-XX:ReservedCodeCacheSize=512m",
                  "-XX:+UseCodeCacheFlushing", f"-Djava.io.tmpdir={tmp}",
                  "-Dspark.ui.enabled=false",
                  "-Dspark.sql.session.timeZone=UTC"]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--trace", choices=("0", "1"))
    ap.add_argument("--pin", metavar="DIR",
                    help="write batch_sf0.1 results, oracle SQL and pins "
                         "to DIR instead of running the benchmark")
    a = ap.parse_args()
    if a.pin is None and None in (a.workload, a.seed, a.seconds, a.trace):
        ap.error("--workload, --seed, --seconds and --trace are required")

    root = os.getcwd()
    for need in ("build.sbt", "src/main/scala", "perfbench/build.sbt",
                 "perfbench/data/sf0.1"):
        if not os.path.exists(os.path.join(root, need)):
            die(f"not a checkout of the repository: {need} is missing")

    state = os.path.join(root, ".bench_build", "perfbench")
    os.makedirs(state, exist_ok=True)
    cp = build(root, state)

    if a.pin is not None:
        out = os.path.abspath(a.pin)
        os.makedirs(os.path.join(out, "tmp"), exist_ok=True)
        rc = run_group(java_cmd(cp, os.path.join(out, "tmp")) + [
            "graft.perfbench.Pin", os.path.join(root, "perfbench", "data"),
            out], out, dict(os.environ), 600, sys.stderr)
        sys.exit(0 if rc == 0 else 5)

    run_id = (f"{a.workload}-seed{a.seed}-trace{a.trace}-"
              f"{int(time.time() * 1000)}-{os.getpid()}")
    out = os.path.join(state, "runs", run_id)
    tmp = os.path.join(out, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = java_cmd(cp, tmp) + [
        "graft.perfbench.Main",
        "--workload", a.workload, "--seed", str(a.seed),
        "--seconds", str(a.seconds), "--trace", a.trace,
        "--data", os.path.join(root, "perfbench", "data"),
        "--out", out, "--state", state]
    rc = run_group(cmd, out, dict(os.environ), RUN_LIMIT_S, sys.stderr)
    if rc is None:
        die(f"run exceeded {RUN_LIMIT_S} s and was stopped", 4)
    result_file = os.path.join(out, "result.json")
    if rc != 0 or not os.path.exists(result_file):
        die(f"run failed (exit {rc})", 5)
    with open(result_file) as f:
        result = json.loads(f.read())
    # keep the run's record, result and spans; drop its inputs and state
    for entry in os.listdir(out):
        path = os.path.join(out, entry)
        if os.path.isdir(path):
            shutil.rmtree(path, ignore_errors=True)
    with open(os.path.join(out, "record.json")) as f:
        record = json.load(f)
    summary = {k: f"{v['value']:.6g} {v['unit']}"
               for k, v in record["end_to_end"].items()}
    summary["error_rate"] = f"{record['error_rate']:.6g} ratio"
    for k, v in record["extras"].items():
        summary[k] = f"{v:.6g}"
    print(f"perfbench: {a.workload} seed {a.seed}: " + ", ".join(
        f"{k} = {v}" for k, v in summary.items()) +
        f" ({record['latency_samples']} latency samples, "
        f"{record['samples_beyond_p90']} beyond p90)", file=sys.stderr)
    if a.trace == "1":
        report_overhead(state, a.workload, out)
    sys.stdout.write(json.dumps(result) + "\n")


def report_overhead(state, workload, out):
    """Tracing overhead: this traced run's end-to-end figures minus those
    of the latest untraced run of the same workload in this checkout."""
    runs = os.path.join(state, "runs")
    base = None
    for d in sorted(os.listdir(runs), key=lambda d: os.path.getmtime(
            os.path.join(runs, d))):
        rec = os.path.join(runs, d, "record.json")
        if d.startswith(f"{workload}-") and "-trace0-" in d and \
                os.path.exists(rec):
            base = rec
    with open(os.path.join(out, "record.json")) as f:
        traced = json.load(f)
    if base is None:
        print("perfbench: no untraced run of this workload yet; "
              "tracing overhead not computed", file=sys.stderr)
        return
    with open(base) as f:
        untraced = json.load(f)
    over = {k: {"traced": v["value"],
                "untraced": untraced["end_to_end"][k]["value"],
                "overhead": v["value"] - untraced["end_to_end"][k]["value"],
                "unit": v["unit"]}
            for k, v in traced["end_to_end"].items()}
    traced["tracing_overhead"] = {"against": untraced["run_id"], **over}
    with open(os.path.join(out, "record.json"), "w") as f:
        json.dump(traced, f, indent=1)
    print("perfbench: tracing overhead " + json.dumps(over), file=sys.stderr)


if __name__ == "__main__":
    main()
