#!/usr/bin/env python3
"""Builds the library and the benchmark from source, then runs one workload.

    python3 perfbench/run.py --workload impute_rbm --seed 1 --seconds 20 --trace 0

Run it from the root of a checkout. The first run builds with sbt (offline)
into `.bench_build/` and the sbt `target/` directories, then makes one short
untimed training run whose JVM dumps a class-data-sharing archive at exit.
Later runs reuse both while the sources are unchanged, and every measured
run launches the JVM the same way, with that archive. The archive only
shortens JVM and Spark start-up (by about 8 s a run on a 4-core host): it
changes where classes are loaded from, not how the program runs. The last
line of stdout is one JSON object: {"correct", "attempted", "failed",
"metrics"}.
"""
import argparse
import hashlib
import os
import shutil
import signal
import subprocess
import sys
import tempfile
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
WORKLOADS = ("impute_rbm", "curate_serve")
# with the training run and one run, inside the 900 s a first run may take
BUILD_TIMEOUT_S = 600
TRAIN_TIMEOUT_S = 110
RUN_TIMEOUT_S = 170
HEAP = "3g"

# Spark on JDK 17 needs these outside spark-submit (the root build sets the same).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_key():
    """Hash of every input of the build, so a changed checkout rebuilds."""
    h = hashlib.sha256()
    inputs = [ROOT / "build.sbt", BENCH / "build.sbt", Path(__file__).resolve()]
    for d in (ROOT / "project", BENCH / "project"):
        inputs += sorted(p for p in d.glob("*") if p.is_file())
    for d in (ROOT / "src" / "main", BENCH / "src"):
        inputs += sorted(p for p in d.rglob("*") if p.is_file())
    for p in inputs:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()[:16]


def run_bounded(cmd, cwd, timeout, env=None, stdout=None):
    """Runs cmd in its own process group; kills the group on timeout and
    waits for it, so no process outlives this script."""
    proc = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=stdout,
                            start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=timeout)
    except BaseException:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise
    return proc.returncode, out


def launch(classpath, work, share, main_args, timeout, stdout=None):
    """Runs perfbench.Main in a JVM with its temp directory under `work`,
    which is removed afterwards; returns the exit code."""
    # JVM log lines go to stderr: the last stdout line must stay the result;
    # no perf-data file in the system temp directory
    cmd = (["java", f"-Xmx{HEAP}", "-XX:-UsePerfData", f"-Djava.io.tmpdir={work}",
            "-Xlog:disable", "-Xlog:all=warning:stderr", share]
           + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", classpath, "perfbench.Main", "--work-dir", str(work),
              "--cores", str(len(os.sched_getaffinity(0)))] + main_args)
    try:
        return run_bounded(cmd, ROOT, timeout, stdout=stdout)[0]
    finally:
        shutil.rmtree(work, ignore_errors=True)


def build(build_dir, key):
    """Returns the classpath and the class-data-sharing archive of the
    build for `key`, making both the first time."""
    stamp = build_dir / f"classpath-{key}.txt"
    archive = build_dir / f"classes-{key}.jsa"
    if stamp.exists():
        return stamp.read_text().strip(), archive
    env = dict(os.environ, COURSIER_MODE="offline")
    repos = Path.home() / ".sbt" / "repositories"
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    if repos.exists():
        opts = ["-Dsbt.override.build.repos=true",
                f"-Dsbt.repository.config={repos}"] + opts
    env["SBT_OPTS"] = " ".join(opts)
    print("perfbench: building the library and the benchmark with sbt",
          file=sys.stderr)
    code, out = run_bounded(
        ["sbt", "--batch", "-Dsbt.log.noformat=true",
         "export Runtime/fullClasspathAsJars"],
        BENCH, BUILD_TIMEOUT_S, env=env, stdout=subprocess.PIPE)
    text = out.decode(errors="replace")
    sys.stderr.write(text[-4000:])
    cps = [l for l in text.splitlines()
           if l.startswith("/") and ".jar" in l and not l.startswith("[")]
    if code != 0 or not cps:
        fail(f"build failed (sbt exit {code})")
    classpath = cps[-1]
    # the training run: a short impute_rbm run loads the Spark SQL, parquet
    # and codegen classes every workload uses
    print("perfbench: dumping the class-data-sharing archive", file=sys.stderr)
    dumping = build_dir / f"classes-{key}.jsa.part"
    code = launch(classpath, work_dir(build_dir, "train"),
                  f"-XX:ArchiveClassesAtExit={dumping}",
                  ["--workload", "impute_rbm", "--seed", "0", "--seconds", "1",
                   "--trace", "0"], TRAIN_TIMEOUT_S, stdout=subprocess.DEVNULL)
    if code != 0 or not dumping.exists():
        fail(f"the training run failed (exit {code})")
    dumping.replace(archive)
    stamp.write_text(classpath)
    return classpath, archive


def work_dir(build_dir, prefix):
    tmp_root = build_dir / "tmp"
    tmp_root.mkdir(parents=True, exist_ok=True)
    return Path(tempfile.mkdtemp(prefix=f"{prefix}-", dir=tmp_root))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    args = ap.parse_args()

    if not (ROOT / "build.sbt").is_file() or not (ROOT / "src" / "main").is_dir():
        fail(f"no library sources next to the benchmark in {ROOT}")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        fail("sbt and java must be on PATH")

    build_dir = (ROOT / os.environ.get("CARGO_TARGET_DIR", ".bench_build")).resolve()
    key = source_key()
    classpath, archive = build(build_dir, key)
    main_args = ["--workload", args.workload, "--seed", str(args.seed),
                 "--seconds", str(args.seconds), "--trace", args.trace]
    if args.trace == "1":
        traces = build_dir / "traces"
        traces.mkdir(parents=True, exist_ok=True)
        main_args += ["--trace-out",
                      str(traces / f"{args.workload}-seed{args.seed}.jsonl")]
    sys.exit(launch(classpath, work_dir(build_dir, args.workload),
                    f"-XX:SharedArchiveFile={archive}", main_args, RUN_TIMEOUT_S))


if __name__ == "__main__":
    main()
