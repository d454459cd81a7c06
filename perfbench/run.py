#!/usr/bin/env python3
"""Benchmark of the DSPA activity stream and vector search paths of the
program, one workload and one seed per invocation.

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload dspa_activity --seed 1 --seconds 12 --trace 0

Steps: build the harness and the program from source with sbt (skipped when
nothing changed since the last build), generate the seeded inputs with
`gen.py` into their own directory, run one JVM (`perfbench.Main`), check the
outputs of its last pass against the DuckDB oracle with the repo's
`scripts/compare.py`, and delete the files the program derived from the
inputs under /tmp/graft_stream.

Every metric is printed as `name value unit` on its own line; the last line
of stdout is one JSON object with `correct`, `attempted`, `failed` and
`metrics` (the `end_to_end` metrics of BENCHMARK.json with `--trace 0`, its
`per_layer` ones with `--trace 1`). `spec.json` holds the calls of each
workload and, per metric, the layer it measures and what it should move.
The full record of the run, spans included, stays in
`perfbench/work/runs/<workload>-<seed>-trace<0|1>/`.
"""
import argparse
import hashlib
import json
import os
import re
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, "work")
DEADLINE_S = 165  # a run must end within 180 s; build and inputs come first
BUILD_TIMEOUT_S = 840
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


def die(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_stamp():
    """Hash of every file the build reads, so an unchanged tree skips sbt."""
    h = hashlib.sha256()
    tops = [os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "build.sbt"),
            os.path.join(ROOT, "project", "build.properties"),
            os.path.join(HERE, "src"), os.path.join(HERE, "build.sbt"),
            os.path.join(HERE, "project", "build.properties")]
    for top in tops:
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for p in paths:
            h.update(p.encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    """Compile with sbt and return the runtime classpath."""
    stamp = source_stamp()
    cache = os.path.join(WORK, "build", "classpath.txt")
    if os.path.exists(cache):
        with open(cache) as f:
            old, cp = f.read().split("\n", 1)
        # the first two entries are the compiled harness and program
        if old == stamp and all(os.path.isdir(d) for d in cp.strip().split(":")[:2]):
            return cp.strip()
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    os.makedirs(os.path.dirname(cache), exist_ok=True)
    try:
        r = subprocess.run(["sbt", "-batch", "-Dsbt.log.noformat=true",
                            "export perfbench/Runtime/fullClasspath"],
                           cwd=HERE, env=env, capture_output=True, text=True,
                           timeout=BUILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        die("build timed out", 1)
    with open(os.path.join(WORK, "build", "sbt.log"), "w") as f:
        f.write(r.stdout + r.stderr)
    lines = [l for l in r.stdout.splitlines() if l.strip()]
    if r.returncode != 0 or not lines or "perfbench" not in lines[-1]:
        die("build failed, see perfbench/work/build/sbt.log:\n" + "\n".join(lines[-15:]), 1)
    with open(cache, "w") as f:
        f.write(stamp + "\n" + lines[-1])
    return lines[-1]


def inputs(seed):
    """The seeded input directory, generated once per seed and version of
    gen.py, so an edited generator never reuses old inputs."""
    with open(os.path.join(HERE, "gen.py"), "rb") as f:
        gen = hashlib.sha256(f.read()).hexdigest()[:12]
    d = os.path.join(WORK, "data", f"gen{gen}-seed{seed}")
    if not os.path.isdir(d):
        subprocess.run([sys.executable, os.path.join(HERE, "gen.py"), d, "--seed", str(seed)],
                       check=True, timeout=120)
    return d


def derived_dir(data):
    """Where the program derives files from an input directory."""
    return os.path.join("/tmp/graft_stream", re.sub(r"[^A-Za-z0-9.]", "_", data))


def run_jvm(cp, wl, calls, data, out, seconds, trace, deadline):
    tmp = os.path.join(out, "tmp")
    os.makedirs(tmp)
    cmd = ["java", "-Xms3g", "-Xmx3g", f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
           "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main", "--workload", wl,
            "--calls", ",".join(calls), "--data", data, "--out", out,
            "--seconds", str(seconds), "--trace", str(trace),
            "--launched-ms", str(int(time.time() * 1000))]
    with open(os.path.join(out, "jvm.log"), "w") as log:
        proc = subprocess.Popen(cmd, cwd=out, stdout=log, stderr=subprocess.STDOUT)
        try:
            code = proc.wait(timeout=max(deadline - time.time(), 1))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            die("the run did not end in time, see " + os.path.join(out, "jvm.log"), 1)
    shutil.rmtree(tmp, ignore_errors=True)
    result = os.path.join(out, "result.json")
    if code != 0 or not os.path.exists(result):
        with open(os.path.join(out, "jvm.log")) as f:
            tail = f.read()[-3000:]
        die(f"the JVM exited with {code}:\n{tail}", 1)
    with open(result) as f:
        return json.load(f)


def oracle(data, calls_dir, deadline):
    """Names of the calls whose written output differs from the oracle."""
    r = subprocess.run([sys.executable, os.path.join(ROOT, "scripts", "compare.py"),
                        data, calls_dir], capture_output=True, text=True,
                       timeout=max(deadline - time.time(), 1))
    fails = {}
    for line in r.stdout.splitlines():
        m = re.match(r"FAIL (\S+?): (.*)", line)
        if m:
            fails[m.group(1)] = m.group(2)
    if r.returncode not in (0, 1) or (r.returncode == 1 and not fails):
        die("oracle check failed to run:\n" + r.stdout[-2000:] + r.stderr[-2000:], 1)
    return fails


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    for need in ["build.sbt", "src/main/scala/graft/SparkEntry.scala", "scripts/compare.py"]:
        if not os.path.exists(os.path.join(ROOT, need)):
            die(f"{need} not found: run from the root of a checkout of the program")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    with open(os.path.join(HERE, "spec.json")) as f:
        calls = json.load(f)["workloads"].get(a.workload)
    if calls is None:
        die(f"unknown workload {a.workload}")

    cp = build()
    data = inputs(a.seed)
    out = os.path.join(WORK, "runs", f"{a.workload}-{a.seed}-trace{a.trace}")
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    # counted from here: a first run also builds, which may take longer
    deadline = time.time() + DEADLINE_S
    try:
        res = run_jvm(cp, a.workload, calls, data, out, a.seconds, a.trace, deadline - 20)
        mismatches = oracle(data, os.path.join(out, "calls"), deadline)
    finally:
        shutil.rmtree(derived_dir(data), ignore_errors=True)

    threw = sum(res["threw"].values())
    failed = threw + len(mismatches)
    attempted = max(res["attempted"], 1)
    if a.trace:
        values, calls_s, listed = res["per_layer"], res["traced_calls_s"], bench["per_layer"]
    else:
        values, calls_s, listed = res["end_to_end"], res["calls_s"], bench["end_to_end"]
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in listed}
    for n, m in metrics.items():
        print(f"{n} {m['value']} {m['unit']}")
    for n, v in calls_s.items():
        print(f"query.{n}.s {v} s")
    for i, v in enumerate(res["setups_s"], 1):
        print(f"setup.{i}.s {v} s")
    print(f"passes {res['end_to_end']['passes']} count")
    print(f"error_rate {failed / attempted} fraction")
    for n, c in res["threw"].items():
        print(f"threw {n} {c}")
    for n, why in mismatches.items():
        print(f"mismatch {n}: {why}")
    with open(os.path.join(out, "summary.json"), "w") as f:
        json.dump({"metrics": metrics, "calls_s": calls_s, "mismatches": mismatches,
                   "threw": res["threw"], "error_rate": failed / attempted}, f, indent=1)
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
