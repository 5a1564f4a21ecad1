#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the harness (sbt, offline) if the sources changed, wipes the state
a previous run left, generates the seeded inputs, runs the workload in
one JVM, checks every result (DuckDB oracle, replay, last-writer-wins
state) and prints one JSON line last: end-to-end metrics with --trace 0,
per-layer metrics with --trace 1. Exits non-zero when a result is wrong
or the program cannot be built. See perfbench/README.md.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

import checks
import gen

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
BUILD = os.path.join(BENCH, ".build")
OUT = os.path.join(BENCH, ".out")
WORKLOADS = ("lake_read", "fixture_batch", "lake_write", "cdc_stream")
DEADLINE_S = 170            # a run must end within 180 s
# set-up repetitions per run (setup_s is their median); fewer where one
# set-up is long, so a run stays within its time. Smoke runs set up once.
SETUP_REPS = {"lake_read": 1, "fixture_batch": 2, "lake_write": 2, "cdc_stream": 3}

END_TO_END = {
    "setup_s": "s", "ops_per_s": "1/s", "latency_p50_ms": "ms", "latency_p90_ms": "ms",
    "rows_per_s": "rows/s", "heap_retained_mb": "MB", "disk_bytes_per_row": "B/row",
}


def layer_unit(name):
    if name.endswith("_ms"):
        return "ms"
    if name.endswith(("_bytes", "bytes_written_per_commit")):
        return "B"
    if name.endswith(("_share", "_ratio")) or name == "error_rate":
        return "fraction"
    return "count"


# JDK 17 module opens Spark needs outside spark-submit (the root build's list)
ADD_OPENS = [a for p in (
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar") for a in ("--add-opens", f"{p}=ALL-UNNAMED")]


def log(msg):
    print(f"[run.py] {msg}", file=sys.stderr, flush=True)


def source_stamp():
    """Content hash of everything the harness build compiles."""
    h = hashlib.sha1()
    tops = [os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
             os.path.join(BENCH, "build.sbt"), os.path.join(BENCH, "project", "build.properties")]
    for top in tops:
        for d, _, fs in os.walk(top):
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        h.update(f[len(ROOT):].encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compiles the harness with the repository's main sources; returns the
    runtime classpath. Reuses the last build while the sources are unchanged."""
    if not (os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))
            and os.path.isfile(os.path.join(ROOT, "build.sbt"))):
        raise SystemExit("run.py: no program sources next to the benchmark (src/main/scala, build.sbt)")
    stamp = source_stamp()
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "stamp")
    if os.path.exists(cp_file) and open(stamp_file).read() == stamp:
        return open(cp_file).read().strip()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    if "SBT_OPTS" not in env and os.path.exists(repos):
        # resolve only from the local caches, as the root build's tests do
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true -Dsbt.offline=true "
                           f"-Dsbt.repository.config={repos}")
    t0 = time.time()
    p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "export Runtime/fullClasspath"],
                       cwd=BENCH, env=env, stdout=subprocess.PIPE, stderr=sys.stderr,
                       stdin=subprocess.DEVNULL, text=True, timeout=840)
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    if p.returncode != 0 or not lines or ".jar" not in lines[-1]:
        sys.stderr.write(p.stdout[-4000:])
        raise SystemExit(f"run.py: harness build failed (sbt exit {p.returncode})")
    cp = lines[-1].strip()
    with open(cp_file, "w") as fh:
        fh.write(cp)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    log(f"built in {time.time() - t0:.0f}s")
    return cp


def warehouses(work):
    """Glob of the warehouses the program persists for the fixture copies
    under `work/fx`: it keys them by fixture path under /tmp."""
    key = "".join(c if c.isalnum() or c == "." else "_" for c in os.path.join(work, "fx"))
    return f"/tmp/graft_*{key}*"


def wipe(work):
    """Removes a previous run's state: the work dir (tables, landing and
    checkpoint dirs, inputs) and the warehouses the program persisted for
    this work dir's fixture copies."""
    shutil.rmtree(work, ignore_errors=True)
    for d in glob.glob(warehouses(work)):
        shutil.rmtree(d, ignore_errors=True)


def run_jvm(cp, args, work, budget):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", *ADD_OPENS, "-Xmx3g", f"-Djava.io.tmpdir={tmp}",
           "-Dspark.ui.enabled=false", "-cp", cp, "perfbench.Main", *args]
    proc = subprocess.Popen(cmd, cwd=work, stdout=sys.stderr, stderr=sys.stderr,
                            stdin=subprocess.DEVNULL, start_new_session=True)
    try:
        return proc.wait(timeout=budget)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise SystemExit("run.py: the workload did not finish in time")
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()


def quantile(xs, q):
    """Linear-interpolated quantile of a sample."""
    s = sorted(xs)
    if not s:
        return 0.0
    pos = q * (len(s) - 1)
    i = int(pos)
    return s[i] if i + 1 >= len(s) else s[i] + (s[i + 1] - s[i]) * (pos - i)


def main(argv=None):
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    # self-test knobs (smoke mode and the fault-injection checks)
    ap.add_argument("--scale", choices=tuple(gen.SCALES), default="bench")
    ap.add_argument("--max-ops", type=int, default=0)
    ap.add_argument("--fault", choices=("", "fingerprint", "oracle", "state"), default="")
    a = ap.parse_args(argv)
    t_start = time.time()
    cp = build()
    work = os.path.join(BENCH, ".work", a.workload)
    out_dir = os.path.join(OUT, a.workload)
    wipe(work)
    os.makedirs(out_dir, exist_ok=True)
    inputs = os.path.join(work, "inputs")
    gen.generate(a.workload, a.seed, inputs, a.scale, cdc_files=gen.cdc_files_for(a.seconds))
    log(f"inputs generated at +{time.time() - t_start:.1f}s")
    raw_path = os.path.join(out_dir, "raw.json")
    if os.path.exists(raw_path):
        os.remove(raw_path)
    cores = len(os.sched_getaffinity(0))
    reps = 1 if a.scale == "smoke" else SETUP_REPS[a.workload]
    args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--work", work, "--inputs", inputs,
            "--reps", str(reps), "--out", raw_path, "--cores", str(cores),
            "--max-ops", str(a.max_ops), "--fault", a.fault or "none",
            "--warehouses", warehouses(work),
            "--cdc-events-per-file", str(gen.CDC_EVENTS_PER_FILE),
            "--cdc-files-per-sec", str(gen.CDC_FILES_PER_SEC),
            "--cdc-warm-files", str(gen.CDC_WARM_FILES),
            "--cdc-open-files", str(gen.cdc_open_files(a.seconds)),
            "--cdc-max-files-per-trigger", str(gen.CDC_MAX_FILES_PER_TRIGGER)]
    try:
        code = run_jvm(cp, args, work, DEADLINE_S - (time.time() - t_start))
        if code != 0 or not os.path.exists(raw_path):
            raise SystemExit(f"run.py: the harness failed (exit {code})")
        raw = json.load(open(raw_path))
        log(f"harness done at +{time.time() - t_start:.1f}s")
        verdict = checks.check(a.workload, raw, inputs, a.fault)
        log(f"results checked at +{time.time() - t_start:.1f}s")
    finally:
        wipe(work)
    for e in raw["errors"] + verdict["errors"]:
        log(f"error: {e}")
    attempted = int(raw["attempted"])
    failed = int(raw["failed"]) + int(raw["wrong"]) + int(verdict["wrong"])
    correct = failed == 0 and not raw["errors"] and not verdict["errors"]
    if a.trace:
        layers = dict(raw["per_layer"])
        layers["error_rate"] = failed / attempted
        metrics = {k: {"value": v, "unit": layer_unit(k)} for k, v in sorted(layers.items())}
        log(f"trace file: {raw.get('trace_file')}")
        log(f"sanity: {json.dumps(raw.get('sanity', {}))}")
    else:
        metrics = {k: {"value": v, "unit": END_TO_END[k]}
                   for k, v in end_to_end(a.workload, raw, verdict).items()}
        log("host.calib_ms before/after: "
            f"{raw['per_layer']['host.calib_ms']:.1f} / {raw['per_layer']['host.calib_after_ms']:.1f}")
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}), flush=True)
    return 0 if correct else 1


def end_to_end(workload, raw, verdict):
    samples = raw["samples_ms"]
    window = raw["window_s"]
    if workload == "cdc_stream":
        ops = raw["open_commits_per_s"]
        rows = raw["drain_rows_per_s"]
    elif workload == "lake_write":
        ops = raw["ops_done"] / window
        rows = verdict["rows_touched"] / window
    else:
        ops = raw["ops_done"] / window
        rows = raw["rows_done"] / window
    return {
        "setup_s": raw["session_s"] + statistics.median(raw["setup_reps_s"]),
        "ops_per_s": ops,
        "latency_p50_ms": quantile(samples, 0.5),
        "latency_p90_ms": quantile(samples, 0.9),
        "rows_per_s": rows,
        "heap_retained_mb": raw["heap_retained_mb"],
        "disk_bytes_per_row": raw["disk_bytes"] / max(1, raw["disk_rows"]),
    }


if __name__ == "__main__":
    sys.exit(main())
