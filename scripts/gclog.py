#!/usr/bin/env python3
"""Run one perfbench workload with a G1 GC log and summarise every collection.

    python3 scripts/gclog.py --checkout . --workload ingest_compact --seed 11
    python3 scripts/gclog.py --checkout ../parent --workload ingest_compact --seed 11 --log /tmp/gc.log

Runs the workload once through the checkout's own `perfbench/run.py`
(`build` and `run_workload`, so the JVM flags, heap, class-data-sharing
archive and classpath are exactly the benchmark's), adding only
`-Xlog:gc*:file=LOG`. `perfbench/` itself is not changed. Then prints one
line per GC: its id and cause, heap before and after (MB) and humongous
regions before and after, followed by the peaks over the run and the run's
`peak_rss_mb`. Useful when a change moves `peak_rss_mb`: G1 allocates objects
of half a region or more (1 MB regions at this heap size) as humongous
regions, and how many pile up between young GCs shows up directly here.

The workload's own output goes to stderr; the summary to stdout.
"""
import argparse
import importlib.util
import re
import sys
from pathlib import Path

# [1.234s][info][gc] GC(3) Pause Young (Normal) (G1 Evacuation Pause) 700M->120M(2048M) 8.1ms
PAUSE = re.compile(r"GC\((\d+)\) (Pause \S+(?: \([^)]*\))*) (\d+)M->(\d+)M\((\d+)M\)")
# [1.234s][info][gc,heap] GC(3) Humongous regions: 314->2
HUMONGOUS = re.compile(r"GC\((\d+)\) Humongous regions: (\d+)->(\d+)")


def load_runner(checkout):
    path = Path(checkout).resolve() / "perfbench" / "run.py"
    if not path.is_file():
        sys.exit(f"gclog: no perfbench/run.py under {checkout}")
    spec = importlib.util.spec_from_file_location("perfbench_run", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def parse(log_text):
    """GC id -> {cause, before, after, hum_before, hum_after} (MB / regions)."""
    gcs = {}
    for line in log_text.splitlines():
        m = PAUSE.search(line)
        if m:
            g = gcs.setdefault(int(m.group(1)), {})
            g.update(cause=m.group(2), before=int(m.group(3)), after=int(m.group(4)))
            continue
        m = HUMONGOUS.search(line)
        if m:
            g = gcs.setdefault(int(m.group(1)), {})
            g.update(hum_before=int(m.group(2)), hum_after=int(m.group(3)))
    return gcs


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--checkout", required=True, help="root of the checkout to run")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=None,
                    help="timed seconds (default: BENCHMARK.json run_seconds)")
    ap.add_argument("--log", default=None,
                    help="GC log path (default: perfbench/target/gc-WORKLOAD-SEED.log)")
    args = ap.parse_args()

    run = load_runner(args.checkout)
    seconds = args.seconds if args.seconds is not None else run.benchmark_spec()["run_seconds"]
    log = Path(args.log or run.TARGET / f"gc-{args.workload}-{args.seed}.log").resolve()
    log.parent.mkdir(parents=True, exist_ok=True)
    log.unlink(missing_ok=True)
    cp = run.build()
    jvm = [f"-XX:SharedArchiveFile={run.CDS}", "-Xshare:on", f"-Xlog:gc*:file={log}"]
    code, result = run.run_workload(cp, args.workload, args.seed, seconds, False,
                                    out=sys.stderr, jvm=jvm)
    if result is None:
        sys.exit(f"gclog: {args.workload} printed no result (exit {code})")

    gcs = parse(log.read_text())
    print(f"{'gc':>4}  {'heap before':>11}  {'heap after':>10}  {'hum before':>10}  "
          f"{'hum after':>9}  cause")
    for gid in sorted(gcs):
        g = gcs[gid]
        print(f"{gid:>4}  {g.get('before', '-'):>9}MB  {g.get('after', '-'):>8}MB  "
              f"{g.get('hum_before', '-'):>10}  {g.get('hum_after', '-'):>9}  "
              f"{g.get('cause', '-')}")
    def peak(field):
        vals = [g[field] for g in gcs.values() if field in g]
        return max(vals) if vals else "-"
    rss = result["metrics"].get("peak_rss_mb", {}).get("value", float("nan"))
    print(f"peak: {len(gcs)} GCs, heap before {peak('before')} MB, humongous regions "
          f"before {peak('hum_before')}, peak_rss_mb {rss:.1f}")
    print(f"log: {log}")
    return 0 if code == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
