#!/usr/bin/env python3
"""Seeded end-to-end and per-layer benchmark of the sstable engine.

    python3 perfbench/run.py --workload scan_merge --seed 1 --seconds 7 --trace 0
    python3 perfbench/run.py --workload all --seed 1

Run from the root of a checkout. The first run compiles the engine from the
checkout's sources together with the harness in perfbench/src (sbt, offline)
and caches the classpath under perfbench/target; later runs start the JVM
directly. With --trace 0 the last stdout line is a JSON object holding every
`end_to_end` metric of BENCHMARK.json; with --trace 1 every `per_layer`
metric. The lines before it print every metric by name and unit, including
the workload-specific ones (write_amp, recall, ...). The exit code is not 0
when a check fails or the benchmark cannot run.
"""
import argparse
import hashlib
import json
import os
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
TARGET = HERE / "target"
CLASSPATH = TARGET / "classpath.txt"
STAMP = TARGET / "build.stamp"
CDS = TARGET / "perfbench.jsa"
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 850
HEAP = "2g"
YOUNG = "512m"

# Spark on JDK 17 outside spark-submit needs these (the engine's build.sbt
# passes the same list to its forked runs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def build_inputs():
    """Every file the build reads: engine sources and build, harness sources and build."""
    roots = [ROOT / "src" / "main", HERE / "src" / "main", ROOT / "project", HERE / "project"]
    files = [ROOT / "build.sbt", HERE / "build.sbt"]
    for r in roots:
        if r.is_dir():
            files += [p for p in r.rglob("*") if p.is_file() and "target" not in p.parts
                      and p.suffix in (".scala", ".java", ".sbt", ".properties", ".conf")
                      or (p.is_file() and "META-INF" in p.parts)]
    return sorted(set(files))


def java_version():
    try:
        r = subprocess.run(["java", "-version"], capture_output=True, text=True, timeout=60)
    except (OSError, subprocess.TimeoutExpired) as e:
        fail(f"cannot run java: {e}")
    return r.stderr


def stamp():
    """Identifies a build: the sources, the JDK the class-data-sharing archive
    was recorded with, and the checkout's place (the classpath is absolute)."""
    h = hashlib.sha256()
    h.update(java_version().encode())
    h.update(str(ROOT).encode())
    for p in build_inputs():
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def build():
    """Compile once per source state; returns the runtime classpath."""
    if not (ROOT / "build.sbt").is_file() or not (ROOT / "src" / "main" / "scala").is_dir():
        fail(f"no engine sources next to {HERE.name}/ (want build.sbt and src/main/scala)")
    want = stamp()
    if CLASSPATH.is_file() and CDS.is_file() and STAMP.is_file() and STAMP.read_text() == want:
        return CLASSPATH.read_text().strip()
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = Path.home() / ".sbt" / "repositories"
        if repos.is_file():  # resolve only from the locally configured repositories
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    print("perfbench: building engine and harness (sbt writeClasspath) ...", file=sys.stderr)
    try:
        r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "writeClasspath"],
                           cwd=HERE, env=env, stdin=subprocess.DEVNULL, stdout=sys.stderr,
                           stderr=sys.stderr, timeout=BUILD_TIMEOUT_S)
    except (OSError, subprocess.TimeoutExpired) as e:
        fail(f"build failed: {e}")
    if r.returncode != 0 or not CLASSPATH.is_file():
        fail(f"build failed (sbt exit {r.returncode})")
    cp = CLASSPATH.read_text().strip()
    # one short run of every workload records the classes they load as a
    # class-data-sharing archive: later JVMs start in about half the time.
    # Every run requires it (-Xshare:on), so set-up time is always measured
    # on the same start-up path.
    CDS.unlink(missing_ok=True)
    STAMP.unlink(missing_ok=True)
    print("perfbench: recording the class-data-sharing archive ...", file=sys.stderr)
    code, _ = run_workload(cp, "train", 0, 0.5, False, out=sys.stderr,
                           jvm=[f"-XX:ArchiveClassesAtExit={CDS}", "-Xlog:cds=off"])
    if code != 0:
        fail(f"training run failed (exit {code})")
    if not CDS.is_file():
        fail(f"training run wrote no class-data-sharing archive ({CDS})")
    STAMP.write_text(want)
    return cp


def benchmark_spec():
    p = ROOT / "BENCHMARK.json"
    if not p.is_file():
        fail("BENCHMARK.json not found at the checkout root")
    return json.loads(p.read_text())


def run_workload(cp, workload, seed, seconds, trace, out=sys.stdout, jvm=None):
    """One JVM run; returns (exit code, result dict or None)."""
    tmp = TARGET / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    if jvm is None:
        jvm = [f"-XX:SharedArchiveFile={CDS}", "-Xshare:on"]
    # a fixed young generation keeps the peak RSS from following G1's
    # adaptive sizing
    # the JVM sizes its GC and compiler threads for two cores, like Spark
    # (local[2]): a run that leaves half the box idle is less exposed to
    # neighbouring load
    cmd = ["java", *jvm, "-XX:ActiveProcessorCount=2", f"-Xms{HEAP}", f"-Xmx{HEAP}",
           f"-Xmn{YOUNG}", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={tmp}",
           f"-Dlog4j2.configurationFile={HERE / 'log4j2.properties'}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main", "--workload", workload, "--seed", str(seed),
            "--seconds", str(seconds), "--trace", "1" if trace else "0",
            "--work", str(TARGET / "work")]
    proc = subprocess.Popen(cmd, cwd=ROOT, stdin=subprocess.DEVNULL, stdout=subprocess.PIPE,
                            stderr=sys.stderr, text=True)
    try:
        stdout, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        fail(f"{workload} did not finish within {RUN_TIMEOUT_S} s")
    lines = stdout.splitlines()
    result = None
    if lines and lines[-1].startswith("{"):
        result = json.loads(lines.pop())
    for line in lines:
        print(line, file=out)
    return proc.returncode, result


def select(result, wanted):
    """Keep exactly the metrics BENCHMARK.json names; all must be present."""
    missing = [m["name"] for m in wanted if m["name"] not in result["metrics"]]
    if missing:
        fail(f"run did not report {', '.join(missing)}")
    return {m["name"]: result["metrics"][m["name"]] for m in wanted}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, help="a workload name, or 'all'")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=None,
                    help="timed seconds per run (default: BENCHMARK.json run_seconds)")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    spec = benchmark_spec()
    names = [w["name"] for w in spec["workloads"]]
    if args.workload != "all" and args.workload not in names:
        fail(f"unknown workload {args.workload!r} (one of {', '.join(names)}, all)")
    seconds = args.seconds if args.seconds is not None else spec["run_seconds"]
    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    cp = build()

    if args.workload != "all":
        code, result = run_workload(cp, args.workload, args.seed, seconds, args.trace)
        if result is None:
            fail(f"{args.workload} printed no result (exit {code})")
        result["metrics"] = select(result, wanted)
        print(json.dumps(result))
        sys.exit(0 if code == 0 and result["correct"] else 1)

    total = {"correct": True, "attempted": 0, "failed": 0, "metrics": {}}
    for w in names:
        print(f"== {w}")
        code, result = run_workload(cp, w, args.seed, seconds, args.trace)
        if result is None:
            fail(f"{w} printed no result (exit {code})")
        total["correct"] &= bool(code == 0 and result["correct"])
        total["attempted"] += result["attempted"]
        total["failed"] += result["failed"]
        for k, v in select(result, wanted).items():
            total["metrics"][f"{w}.{k}"] = v
    print(json.dumps(total))
    sys.exit(0 if total["correct"] else 1)


if __name__ == "__main__":
    main()
