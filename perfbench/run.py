#!/usr/bin/env python3
"""Run one graft benchmark workload from a seed and print its result.

    python3 perfbench/run.py --workload daily_delta --seed 1 --seconds 5 --trace 0

Run from the root of a checkout. The first run compiles the engine and the
benchmark with sbt (offline) and caches the class path and the build's JVM
options (the engine's, with a 2 GB heap) under perfbench/.build; later runs
start the JVM directly with them. Every file a run writes goes to its own
directory under perfbench/.work, deleted when the run ends.

stdout ends with two lines: the run's configuration and details, then the
result object {"correct", "attempted", "failed", "metrics"}. With --trace 0
the metrics are the end_to_end list of BENCHMARK.json; with --trace 1 the
per_layer list. Redirect stdout to a file to compare results with compare.py.
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

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(HERE, ".build")
WORK = os.path.join(HERE, ".work")
WORKLOADS = ("serve_reads", "daily_delta", "curate")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 850


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_files():
    """Every file whose change needs a rebuild."""
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt"),
             os.path.abspath(__file__)]
    for base in (os.path.join(ROOT, "project"), os.path.join(HERE, "project")):
        if os.path.isdir(base):
            files += [os.path.join(base, f) for f in sorted(os.listdir(base))
                      if f.endswith((".sbt", ".properties", ".scala"))]
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")):
        for d, _, fs in sorted(os.walk(base)):
            files += [os.path.join(d, f) for f in sorted(fs)]
    return files


def stamp():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    return env


def launch():
    """Compile if any source changed since the cached build; return the
    class path and the JVM options of the benchmark build."""
    cp_file, opts_file = os.path.join(BUILD, "classpath"), os.path.join(BUILD, "java_options")
    stamp_file = os.path.join(BUILD, "stamp")
    want = stamp()
    if all(os.path.exists(f) for f in (cp_file, opts_file, stamp_file)):
        with open(stamp_file) as fh:
            if fh.read() == want:
                with open(cp_file) as c, open(opts_file) as o:
                    return c.read(), json.load(o)
    os.makedirs(BUILD, exist_ok=True)
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.supershell=false",
           "compile", "print Runtime/javaOptions", "export Runtime/fullClasspathAsJars"]
    print("perfbench: building with sbt", file=sys.stderr)
    proc = subprocess.Popen(cmd, cwd=HERE, env=sbt_env(), stdout=subprocess.PIPE,
                            stderr=subprocess.STDOUT, text=True, start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=BUILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        stop(proc)
        fail("sbt build timed out")
    lines = [l for l in out.splitlines() if l.strip()]
    # `print` writes one "* option" line per option; `export` writes the
    # class path as the last line
    opts = [l[2:].strip() for l in lines if l.startswith("* ")]
    if (proc.returncode != 0 or not lines or lines[-1].startswith(("[", "* "))
            or not any(o.startswith("-Xmx") for o in opts)):
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        fail("sbt build failed")
    cp = lines[-1].strip()
    with open(cp_file, "w") as fh:
        fh.write(cp)
    with open(opts_file, "w") as fh:
        json.dump(opts, fh)
    with open(stamp_file, "w") as fh:
        fh.write(want)
    return cp, opts


def java_env():
    return dict(os.environ, SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))))


def java_cmd(cp, opts, work, args):
    """The build's JVM options, then this run's private scratch dirs."""
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    return (["java", *opts,
             f"-Djava.io.tmpdir={work}/tmp", f"-Dspark.local.dir={work}/spark-local",
             f"-Dspark.sql.warehouse.dir={work}/warehouse", f"-Dderby.system.home={work}",
             "-cp", cp, "perfbench.Main", "--work", os.path.join(work, "data"), *args])


def stop(proc):
    """Kill a child's whole process group and wait for it."""
    if proc.poll() is None:
        try:
            os.killpg(proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    proc.wait()


def reap_stale_work():
    """Remove work dirs left by runs whose process is gone."""
    if not os.path.isdir(WORK):
        return
    for name in os.listdir(WORK):
        pid = name.split("-")[-1]
        alive = False
        if pid.isdigit():
            try:
                os.kill(int(pid), 0)
                alive = True
            except OSError:
                pass
        if not alive:
            shutil.rmtree(os.path.join(WORK, name), ignore_errors=True)


def expected_names(trace):
    path = os.path.join(ROOT, "BENCHMARK.json")
    with open(path) as fh:
        spec = json.load(fh)
    return [m["name"] for m in spec["per_layer" if trace else "end_to_end"]]


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail(f"no engine sources next to {HERE}; run from a full checkout")
    reap_stale_work()
    cp, opts = launch()
    work = os.path.join(WORK, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    cmd = java_cmd(cp, opts, work, ["--workload", a.workload, "--seed", str(a.seed),
                                    "--seconds", str(a.seconds), "--trace", str(a.trace)])
    log_path = os.path.join(work, "jvm.log")
    proc = None
    try:
        with open(log_path, "w") as log:
            cmd += ["--launch-ms", str(int(time.time() * 1000))]
            proc = subprocess.Popen(cmd, cwd=ROOT, env=java_env(), stdout=subprocess.PIPE,
                                    stderr=log, text=True, start_new_session=True)
            try:
                out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                stop(proc)
                out = ""
                print("perfbench: run timed out", file=sys.stderr)
        lines = [l for l in out.splitlines() if l.strip()]
        result = config = None
        for l in lines:
            if l.startswith("{"):
                obj = json.loads(l)
                if "correct" in obj:
                    result = obj
                elif "config" in obj:
                    config = obj
        if proc.returncode != 0 or result is None:
            with open(log_path) as fh:
                sys.stderr.write("".join(fh.readlines()[-60:]))
            fail(f"workload {a.workload} did not produce a result (exit {proc.returncode})")
        with open(log_path) as fh:
            for l in fh:
                if l.startswith("perfbench:"):
                    sys.stderr.write(l)
        names = expected_names(a.trace)
        if sorted(result["metrics"]) != sorted(names):
            fail(f"printed metrics {sorted(result['metrics'])} differ from BENCHMARK.json")
        print(json.dumps(config))
        print(json.dumps(result))
    finally:
        if proc is not None:
            stop(proc)
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
