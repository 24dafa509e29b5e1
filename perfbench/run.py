#!/usr/bin/env python3
"""Run one benchmark workload and print its result as one JSON line.

    python3 perfbench/run.py --workload convert|batch_queries \
        --seed N --seconds S --trace 0|1

Run from the root of a checkout. The first run builds the engine and the
benchmark from source with sbt (offline) and caches the classpath under
`.bench_build/`; later runs reuse it while the sources are unchanged. Inputs
are generated from the seed (see gen_tsv.py, gen_tables.py), the workload
runs in one JVM on a local[4] session (PerfBench.scala), and the run's full
record (passes, metrics, spans when traced) is kept in
`.bench_build/perfbench/results/`.

The last line of standard output is
`{"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}` with
the end-to-end metrics (`--trace 0`) or the per-layer metrics (`--trace 1`)
named in BENCHMARK.json.

`--pin` instead makes one short `batch_queries` run and writes the row
counts and content hashes it observed into perfbench/pins.json.
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

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
WORKLOADS = ("convert", "batch_queries")
CONVERT_ROWS = 40_000
DIRTY_SHARE = 0.01
TABLES_SEED = 42
TABLES_SF = 0.01
JVM_GRACE_S = 150

sys.path.insert(0, BENCH)
import gen_tables  # noqa: E402
import gen_tsv  # noqa: E402


def die(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def tree_files(*paths):
    out = []
    for p in paths:
        if os.path.isfile(p):
            out.append(p)
        elif os.path.isdir(p):
            for d, dirs, files in os.walk(p):
                dirs[:] = sorted(x for x in dirs if x != "target")
                out += [os.path.join(d, f) for f in sorted(files)]
    return out


def sources_stamp():
    h = hashlib.sha256()
    for f in tree_files(os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
                        os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "build.sbt"),
                        os.path.join(BENCH, "project", "build.properties"), os.path.join(BENCH, "src")):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def sbt_env(tmp):
    # sbt binds a unix socket under XDG_RUNTIME_DIR (else java.io.tmpdir),
    # and a socket path may not exceed ~100 bytes
    env = dict(os.environ, COURSIER_MODE="offline", XDG_RUNTIME_DIR=tmp)
    opts = ["-Dsbt.offline=true", "-Dsbt.override.build.repos=true", "-Xmx2g",
            f"-Djava.io.tmpdir={tmp}"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.isfile(repos):
        opts.append(f"-Dsbt.repository.config={repos}")
    env["SBT_OPTS"] = " ".join(opts)
    return env


def build():
    """Compile engine + benchmark once per source state; return the classpath."""
    for need in ("build.sbt", os.path.join("src", "main", "scala", "graft")):
        if not os.path.exists(os.path.join(ROOT, need)):
            die(f"{need} not found: run from the root of a full checkout")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        die("sbt and java are required")
    stamp = sources_stamp()
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "classpath.stamp")
    if os.path.isfile(cp_file) and os.path.isfile(stamp_file):
        with open(stamp_file) as f, open(cp_file) as g:
            if f.read() == stamp:
                return g.read()
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    if len(tmp) > 40:
        # too long for sbt's socket path: a short directory, removed below
        tmp = tempfile.mkdtemp(prefix="perfbench")
    log = os.path.join(BUILD, "build.log")
    try:
        rc = run_logged(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                         "export Runtime/fullClasspath"], BENCH, sbt_env(tmp), log, timeout=850)
    finally:
        if not tmp.startswith(BUILD):
            shutil.rmtree(tmp, ignore_errors=True)
    with open(log) as f:
        out = f.read()
    lines = [ln for ln in out.splitlines() if ln.startswith("/") and "perfbench" in ln.split(":")[0]]
    if rc != 0 or not lines:
        sys.stderr.write(out[-4000:])
        die("build timed out" if rc is None else "build failed")
    with open(cp_file, "w") as f:
        f.write(lines[-1])
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return lines[-1]


def ensure_tables():
    """The corpus tables: fixed seed and scale, generated once per checkout."""
    with open(os.path.join(BENCH, "gen_tables.py"), "rb") as f:
        key = hashlib.sha256(f.read()).hexdigest()[:12]
    path = os.path.join(BUILD, "data", f"tables-{key}")
    if not os.path.isdir(path):
        tmp = f"{path}.tmp{os.getpid()}"
        gen_tables.write(tmp, TABLES_SEED, TABLES_SF)
        os.replace(tmp, path)
    return path


def heap():
    """Driver heap: half the host memory, clamped to 2..8 GiB."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(ln.split()[1]) for ln in f if ln.startswith("MemTotal:"))
        return f"{min(8, max(2, kb // 2097152))}g"
    except (OSError, StopIteration, ValueError):
        return "2g"


ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def run_logged(cmd, cwd, env, log, timeout):
    """Run `cmd` in its own process group, output to `log`; on timeout kill
    the whole group. Returns the exit code, or None on timeout."""
    with open(log, "w") as f:
        proc = subprocess.Popen(cmd, cwd=cwd, env=env, stdin=subprocess.DEVNULL,
                                stdout=f, stderr=subprocess.STDOUT, start_new_session=True)
        try:
            return proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            return None


def run_jvm(classpath, work, args, timeout):
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    # knobs the engine reads from the environment would change what is measured
    env = {k: v for k, v in os.environ.items() if not k.startswith(("SPARK_", "PYSPARK_"))}
    cmd = ["java", *ADD_OPENS, f"-Xmx{heap()}", f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
           "-cp", classpath, "graft.perfbench.PerfBench", *args]
    rc = run_logged(cmd, work, env, os.path.join(work, "jvm.log"), timeout)
    if rc != 0:
        with open(os.path.join(work, "jvm.log")) as f:
            sys.stderr.write(f.read()[-4000:])
        die("benchmark JVM timed out" if rc is None else f"benchmark JVM exited {rc}", 3)


def spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def measure(a):
    """Run one workload in the JVM; return its full record, also kept in
    `.bench_build/perfbench/results/`."""
    classpath = build()
    work = os.path.join(BUILD, "runs", f"{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        t0 = time.perf_counter()
        tables = ensure_tables()
        tsv = os.path.join(work, "convert", "input.tsv")
        if a.workload == "convert":
            os.makedirs(os.path.dirname(tsv))
            gen_tsv.generate(tsv, a.seed, CONVERT_ROWS, DIRTY_SHARE)
        gen_s = time.perf_counter() - t0
        out = os.path.join(work, "record.json")
        run_jvm(classpath, work, [
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--tables", tables, "--work", work, "--out", out,
            "--tsv", tsv, "--pins", os.path.join(BENCH, "pins.json")],
            timeout=a.seconds + JVM_GRACE_S)
        with open(out) as f:
            record = json.load(f)
    finally:
        results = os.path.join(BUILD, "results")
        os.makedirs(results, exist_ok=True)
        stem = os.path.join(results, f"{a.workload}-s{a.seed}-t{a.trace}")
        if os.path.isfile(os.path.join(work, "jvm.log")):
            shutil.copyfile(os.path.join(work, "jvm.log"), stem + ".log")
        shutil.rmtree(work, ignore_errors=True)
    record["per_layer"]["bench.input_gen_s"] = gen_s
    with open(stem + ".json", "w") as f:
        json.dump(record, f)
    return record


def run(a):
    record = measure(a)
    chosen, source = ("per_layer", record["per_layer"]) if a.trace else ("end_to_end", record["end_to_end"])
    metrics = {m["name"]: {"value": source[m["name"]], "unit": m["unit"]} for m in spec()[chosen]}
    for name, m in metrics.items():
        print(f"{name} = {m['value']:.6g} {m['unit']}")
    print(json.dumps({"correct": bool(record["correct"]), "attempted": int(record["attempted"]),
                      "failed": int(record["failed"]), "metrics": metrics}))


def pin():
    a = argparse.Namespace(workload="batch_queries", seed=1, seconds=1, trace=0)
    pins = measure(a)["pins"]
    with open(os.path.join(BENCH, "pins.json"), "w") as f:
        json.dump(dict(sorted(pins.items())), f, indent=1)
        f.write("\n")
    print(json.dumps(pins))


def main(argv):
    p = argparse.ArgumentParser(description="Run one perfbench workload.")
    p.add_argument("--workload", choices=WORKLOADS)
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=int, default=spec()["run_seconds"])
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--pin", action="store_true")
    a = p.parse_args(argv)
    if a.pin:
        pin()
    elif a.workload is None:
        die("--workload is required")
    else:
        run(a)


if __name__ == "__main__":
    main(sys.argv[1:])
