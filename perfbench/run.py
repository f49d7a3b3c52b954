#!/usr/bin/env python3
"""Benchmark entry point.

  python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Builds the repository and the harness from source (once per source
state), makes the workload's seeded inputs (cached per generator
version, scale and seed),
runs the workload in one JVM at local[nproc] and prints one JSON line:

  {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

`--trace 0` reports the end-to-end metrics, `--trace 1` the per-layer
ones (see BENCHMARK.json and perfbench/README.md). Everything the run
writes stays under perfbench/.state in the checkout.

Extra options: `--inject corrupt_fixture|bad_query|extra_action` plants a
fault for the self-tests; `--record-goldens` stores this run's digests
in perfbench/goldens.json.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(HERE, ".state")

WORKLOADS = ("pipeline_batch", "hourly_append", "query_mix")
# Input sizes. pipeline_batch: tools/pipeline_scale_gen.py record counts
# times this scale. hourly_append: hour files of jhub lines, one per
# micro-batch. query_mix reads the committed sf0.01 test tables.
PIPELINE_SCALE = 0.03
HOURS, PER_HOUR = 6, 2500
QUERY_DATA = os.path.join(HERE, "data", "sf0.01")
FIXTURES_KEPT = 4
RUN_LIMIT_S = 175

JAVA_OPTS = ["-Xmx2g", "-Dspark.ui.enabled=false"] + [
    a for p in (
        "java.base/java.lang", "java.base/java.lang.invoke",
        "java.base/java.lang.reflect", "java.base/java.io",
        "java.base/java.net", "java.base/java.nio",
        "java.base/java.util", "java.base/java.util.concurrent",
        "java.base/java.util.concurrent.atomic",
        "java.base/sun.nio.ch", "java.base/sun.nio.cs",
        "java.base/sun.security.action", "java.base/sun.util.calendar")
    for a in ("--add-opens", f"{p}=ALL-UNNAMED")]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_files():
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    return sorted(f for f in files if os.path.isfile(f))


def build():
    """Compile with sbt when the sources changed; return the classpath."""
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    stamp = os.path.join(STATE, "build.stamp")
    cp_file = os.path.join(STATE, "classpath.txt")
    digest = h.hexdigest()
    if os.path.exists(cp_file) and open(stamp).read() == digest:
        return open(cp_file).read()
    env = dict(os.environ, COURSIER_MODE="offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true",
                     f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    log("building with sbt")
    out = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export perfbench/Runtime/fullClasspath"],
        cwd=HERE, env=env, stdin=subprocess.DEVNULL, capture_output=True,
        text=True, timeout=840)
    lines = [l for l in out.stdout.splitlines() if ".jar" in l and not l.startswith("[")]
    if out.returncode != 0 or not lines:
        sys.stderr.write(out.stdout[-4000:] + out.stderr[-4000:])
        raise SystemExit("build failed")
    with open(cp_file, "w") as f:
        f.write(lines[-1].strip())
    with open(stamp, "w") as f:
        f.write(digest)
    return lines[-1].strip()


def cached(kind, name, make):
    """A fixture directory made once by `make(tmp_dir)`, kept among the
    FIXTURES_KEPT most recently used of its kind. The directory name
    holds a hash of fixtures.py, so a changed generator makes new inputs."""
    with open(os.path.join(HERE, "fixtures.py"), "rb") as f:
        version = hashlib.sha256(f.read()).hexdigest()[:12]
    base = os.path.join(STATE, "fixtures")
    path = os.path.join(base, f"{kind}_{version}_{name}")
    if not os.path.exists(os.path.join(path, "done")):
        tmp = path + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        t0 = time.time()
        make(tmp)
        open(os.path.join(tmp, "done"), "w").close()
        shutil.rmtree(path, ignore_errors=True)
        os.rename(tmp, path)
        log(f"generated {name} in {time.time() - t0:.1f} s")
    os.utime(path)
    same = sorted((d for d in os.listdir(base) if d.startswith(kind + "_")
                   and not d.endswith(".tmp")),
                  key=lambda d: os.path.getmtime(os.path.join(base, d)))
    for old in same[:-FIXTURES_KEPT]:
        shutil.rmtree(os.path.join(base, old), ignore_errors=True)
    return path


def gen(*args):
    subprocess.run([sys.executable, os.path.join(HERE, "fixtures.py")] +
                   [str(a) for a in args], check=True)


def corrupt(src):
    """A copy of a pipeline fixture with one vk wall page cut in half."""
    dst = os.path.join(STATE, "fixtures", "corrupt")
    shutil.rmtree(dst, ignore_errors=True)
    shutil.copytree(src, dst)
    page = os.path.join(dst, "raw", "vk", "data2024-01-01", "wall_owner_id_0.json")
    with open(page, "rb") as f:
        data = f.read()
    with open(page, "wb") as f:
        f.write(data[: len(data) // 2])
    return dst


def java(cp, args, work, timeout):
    opts = JAVA_OPTS + [
        f"-Dspark.local.dir={work}/spark-local",
        f"-Dspark.sql.warehouse.dir={work}/warehouse",
        f"-Djava.io.tmpdir={work}/tmp", f"-Dderby.system.home={work}"]
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    with open(os.path.join(work, "jvm.log"), "w") as err:
        p = subprocess.run(["java"] + opts + ["-cp", cp, "perfbench.Main"] +
                           [str(a) for a in args],
                           stdin=subprocess.DEVNULL, stdout=subprocess.PIPE,
                           stderr=err, text=True, timeout=timeout)
    if p.returncode != 0:
        with open(os.path.join(work, "jvm.log")) as f:
            sys.stderr.write(f.read()[-6000:])
        raise SystemExit(f"JVM exited with {p.returncode}")
    return p.stdout


def record_goldens(work):
    path = os.path.join(work, "observed.json")
    if not os.path.exists(path):
        return
    with open(path) as f:
        observed = json.load(f)
    path = os.path.join(HERE, "goldens.json")
    with open(path) as f:
        goldens = json.load(f)
    goldens.update(observed)
    with open(path, "w") as f:
        json.dump(goldens, f, indent=1, sort_keys=True)
        f.write("\n")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--inject", choices=("corrupt_fixture", "bad_query", "extra_action"))
    ap.add_argument("--record-goldens", action="store_true")
    a = ap.parse_args()

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt")) and
            os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        raise SystemExit("no program to benchmark: build.sbt and src/main/scala/graft "
                         "must sit next to perfbench/")
    os.makedirs(STATE, exist_ok=True)
    cp = build()
    t0 = time.time()

    work = os.path.join(STATE, "work", a.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    args = ["--workload", a.workload, "--seed", a.seed, "--seconds", a.seconds,
            "--trace", a.trace, "--work", work,
            "--goldens", os.path.join(HERE, "goldens.json")]
    if a.inject:
        args += ["--inject", a.inject]
    if a.record_goldens:
        args += ["--record", 1]
    if a.workload == "pipeline_batch":
        fx = cached("pipeline", f"s{PIPELINE_SCALE}_seed{a.seed}",
                    lambda d: gen("pipeline", d, "--scale", PIPELINE_SCALE, "--seed", a.seed))
        args += ["--fixture", corrupt(fx) if a.inject == "corrupt_fixture" else fx]
    elif a.workload == "hourly_append":
        fx = cached("hourly", f"h{HOURS}x{PER_HOUR}_seed{a.seed}",
                    lambda d: gen("hourly", d, "--hours", HOURS, "--per-hour", PER_HOUR,
                                  "--seed", a.seed))
        args += ["--fixture", fx]
    else:
        args += ["--data", QUERY_DATA]

    out = java(cp, args, work, max(30, RUN_LIMIT_S - (time.time() - t0)))
    result = [l for l in out.splitlines() if l.startswith("PERFBENCH_RESULT ")]
    if not result:
        raise SystemExit("the JVM printed no result")
    line = result[-1][len("PERFBENCH_RESULT "):]
    json.loads(line)
    if a.record_goldens:
        record_goldens(work)
    print(line, flush=True)


if __name__ == "__main__":
    main()
