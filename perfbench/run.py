#!/usr/bin/env python3
"""graft benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds graft and the benchmark main from the source of this checkout
(sbt, once per source state; the classpath, the root build's JVM
options and a start-up archive are cached under perfbench/target),
then runs one benchmark process and prints its JSON result as the
last line of stdout. With --trace 1 the span side file is
written to perfbench/target/trace/<workload>-seed<n>.json.

Exits non-zero without printing a result when the checkout holds no
graft source, the build fails, or the run fails or times out.
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
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TARGET = os.path.join(HERE, "target")
STAMP = os.path.join(TARGET, "bench-build.json")
LIB = os.path.join(TARGET, "lib")
ARCHIVE = os.path.join(LIB, "graftbench.jsa")
WORKLOADS = ["etl_daily", "curate_serve"]
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840

# The benchmark's own heap; the root build's default is sized for the
# full-scale queries.
HEAP = ["-Xms2g", "-Xmx2g"]


def log(msg):
    print(f"[run.py] {msg}", file=sys.stderr, flush=True)


def source_files():
    """Every file whose content the build depends on."""
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for d in (os.path.join(ROOT, "project"), os.path.join(HERE, "project")):
        if os.path.isdir(d):
            files += [os.path.join(d, f) for f in os.listdir(d)
                      if f.endswith((".sbt", ".properties", ".scala"))]
    for r in roots:
        for dirpath, _, names in os.walk(r):
            files += [os.path.join(dirpath, n) for n in names]
    return sorted(f for f in files if os.path.isfile(f))


def stamp():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def java_cmd(built, tmp, extra):
    """The benchmark JVM: the root build's JVM options (module opens,
    Spark settings) with the benchmark's heap."""
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    opts = [o for o in built["java_options"] if not o.startswith(("-Xmx", "-Xms"))]
    # JVM logging to stderr: stdout carries the result line only
    return ([java] + opts + HEAP + [f"-Djava.io.tmpdir={tmp}", "-Xlog:disable",
            "-Xlog:all=warning:stderr"] + extra
            + ["-cp", built["classpath"], "graftbench.Main"])


def jar_classpath(classpath):
    """Class directories packed into jars: a start-up archive (CDS) only
    covers classes loaded from jars."""
    shutil.rmtree(LIB, ignore_errors=True)
    os.makedirs(LIB)
    out = []
    for i, p in enumerate(classpath.split(os.pathsep)):
        if os.path.isdir(p):
            jar = os.path.join(LIB, f"classes-{i}.jar")
            with zipfile.ZipFile(jar, "w", zipfile.ZIP_STORED) as z:
                for dirpath, _, names in os.walk(p):
                    for n in sorted(names):
                        full = os.path.join(dirpath, n)
                        z.write(full, os.path.relpath(full, p))
            out.append(jar)
        else:
            out.append(p)
    return os.pathsep.join(out)


def dump_archive(built):
    """Run every workload once and dump the classes it loaded into a
    start-up archive. Start-up then maps them instead of parsing about
    300 jars again, which halves a run's fixed cost. Every run starts
    from the archive, so a failed dump fails the build."""
    work = os.path.join(TARGET, "train")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    t0 = time.time()
    cmd = java_cmd(built, os.path.join(work, "tmp"),
                   [f"-XX:ArchiveClassesAtExit={ARCHIVE}"]) + ["--train", work]
    try:
        proc = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.DEVNULL,
                              stderr=subprocess.PIPE, stdin=subprocess.DEVNULL,
                              timeout=BUILD_TIMEOUT_S, text=True)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if proc.returncode != 0 or not os.path.exists(ARCHIVE):
        sys.stderr.write(proc.stderr[-4000:])
        raise RuntimeError(f"start-up archive not dumped (exit {proc.returncode})")
    log(f"start-up archive dumped in {time.time() - t0:.0f}s")


def build():
    """Compile graft and the benchmark; return the runtime classpath and
    the root build's JVM options."""
    key = stamp()
    if os.path.exists(STAMP):
        with open(STAMP) as fh:
            cached = json.load(fh)
        if cached.get("stamp") == key:
            return cached
    log("building graft and the benchmark with sbt")
    t0 = time.time()
    # resolve only from the local caches, as the root build is set up to
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    if "SBT_OPTS" not in env and os.path.isfile(repos):
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true -Dsbt.offline=true "
                           f"-Dsbt.repository.config={repos}")
    # `print` lists the JVM options one a line as "* <option>"; the
    # classpath is the last line
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "print perfbench/javaOptions", "export perfbench/Runtime/fullClasspath"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        stdin=subprocess.DEVNULL, timeout=BUILD_TIMEOUT_S, text=True)
    lines = [ln for ln in proc.stdout.splitlines() if ln.strip()]
    options = [ln[2:].strip() for ln in lines if ln.startswith("* ")]
    if proc.returncode != 0 or not lines or "[error]" in lines[-1] or not options:
        sys.stderr.write(proc.stdout[-8000:])
        raise RuntimeError(f"sbt build failed (exit {proc.returncode})")
    if os.path.exists(STAMP):
        os.remove(STAMP)
    built = {"stamp": key, "java_options": options,
             "classpath": jar_classpath(lines[-1].strip())}
    dump_archive(built)
    with open(STAMP, "w") as fh:
        json.dump(built, fh)
    log(f"built in {time.time() - t0:.0f}s")
    return built


def run(args, built, work):
    trace_out = os.path.join(TARGET, "trace", f"{args.workload}-seed{args.seed}.json")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = java_cmd(built, tmp, [f"-XX:SharedArchiveFile={ARCHIVE}"]) + [
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--work", work, "--trace-out", trace_out]
    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE,
                            stdin=subprocess.DEVNULL, text=True,
                            start_new_session=True)

    def stop(*_):
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        sys.exit(1)

    signal.signal(signal.SIGTERM, stop)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise RuntimeError(f"benchmark run exceeded {RUN_TIMEOUT_S}s")
    if proc.returncode != 0:
        raise RuntimeError(f"benchmark run exited {proc.returncode}")
    for line in reversed(out.splitlines()):
        try:
            result = json.loads(line)
        except ValueError:
            continue
        if isinstance(result, dict) and "metrics" in result:
            return line
    raise RuntimeError("benchmark run printed no result")


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        log(f"no graft source next to {HERE}: nothing to build")
        return 2
    work = os.path.join(TARGET, f"run-{args.workload}-{os.getpid()}")
    try:
        built = build()
        shutil.rmtree(work, ignore_errors=True)
        os.makedirs(work)
        line = run(args, built, work)
    except (RuntimeError, subprocess.TimeoutExpired, OSError) as e:
        log(f"failed: {e}")
        return 1
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(line, flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
