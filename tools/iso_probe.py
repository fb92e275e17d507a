#!/usr/bin/env python3
"""Isolation-probe runner: the one-command "CPU triangle for stage/query X
at sf{1,3,10}" harness (validation tooling only -- never a dependency of
the shipped Scala library, like tools/check.py).

Rounds 12-14 each hand-rolled these probes (one fresh JVM per probe, warm
page cache, SPARK_GRAFT_BENCH_STAGES_ONLY / BENCH_ONLY filters) to
adjudicate growth-law suspects (winnow_fps, ppjoin_pairs,
dedup_containment) -- this tool makes the methodology reproducible and
its output the committed artifact.

Each probe = one fresh JVM running graft.Bench with:
  * SPARK_GRAFT_BENCH_STAGES_ONLY = the probed stage's dependency chain
    (so upstream builds get their own ledger lines instead of billing
    inside the target), plus the target itself when it IS a stage;
  * SPARK_GRAFT_BENCH_ONLY = the probed query, or "none" for stage-only
    probes (matches no query -- the Bench filter is exact-name);
  * SPARK_GRAFT_BENCH_PRIOR pointed at a nonexistent file so the 3x-prior
    retry heuristic never fires inside a probe;
  * the same JVM flags sbt's `run` fork uses (build.sbt javaOptions).

Per-sf output carries the full Bench ledger fields for the probed lines
(wall runs, per-run task CPU, gc, sentinels) plus the capture-time git
head/dirty, so the output names the code it measured.

Usage:
  python3 tools/iso_probe.py --out /tmp/iso.json \
      --sfs /tmp/testdata_sf1,/tmp/testdata_sf3,/tmp/testdata_sf10 \
      --query dedup_containment --stages shingle_sets,shingle_index \
      [--rounds 2] [--jvm-runs 1] [--cpus N] [--driver-mem 4g]

  --query   query name for SPARK_GRAFT_BENCH_ONLY (omit for stage-only)
  --stages  comma list for SPARK_GRAFT_BENCH_STAGES_ONLY, dependency
            order, target last when probing a stage (omit for query-only
            probes whose inputs are raw parquet)
  --jvm-runs  repeat the whole JVM probe N times per sf (stages build
            once per JVM via the memo, so stage min-of-2 needs 2 JVMs;
            queries already get --rounds runs inside one JVM)
  --cpus-sweep  comma list of local[N] sizes (e.g. "2,32"): runs the
            whole probe once per N and nests results per cpus level.
            THE allocation-stall discriminator (r14-r15 found three):
            a corpus growth law keeps per-row task CPU flat across N,
            an allocation-bandwidth stall inflates it with CONCURRENT
            task count (normalize r15: 155 ns/char at 2 tasks vs
            ~2,900 at 32 on identical data). Compare task_cpu at equal
            sf across the sweep; wall obviously drops with N -- CPU is
            the evidence. Usually paired with a single mid-size --sfs.
  --cpus    local[N] size (default: this host's core count)
  --driver-mem  -Xmx/-Xms of the probe JVM, pre-touched at start
            (default: half of MemTotal, clamped to 2-8g, the rule the
            test suite's SPARK_DRIVER_MEM uses)
"""
import argparse
import glob
import json
import os
import subprocess
import sys
import tempfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CLASSES = os.path.join(REPO, "target", "scala-2.13", "classes")
SPARK_JARS = "/opt/spark/jars/*"

# keep in sync with build.sbt jdk17AddOpens
ADD_OPENS_PKGS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def newest_mtime(pattern):
    files = glob.glob(pattern, recursive=True)
    return max((os.path.getmtime(f) for f in files), default=0.0)


def check_freshness():
    """Abort when src/main is newer than the compiled classes: a probe
    against stale bytecode produces numbers attributed to code it never
    ran. (The tool does not shell out to sbt itself -- an interactive sbt
    server may hold the build lock; compile there first.)"""
    src = newest_mtime(os.path.join(REPO, "src", "main", "**", "*.scala"))
    cls = newest_mtime(os.path.join(CLASSES, "**", "*.class"))
    if cls == 0.0:
        sys.exit("iso_probe: no compiled classes under target/ -- run "
                 "`sbt compile` first")
    if src > cls:
        sys.exit("iso_probe: src/main is newer than target/ classes -- "
                 "run `sbt compile` first so the probe measures HEAD code")


def git(args):
    return subprocess.run(["git"] + args, cwd=REPO, capture_output=True,
                          text=True).stdout.strip()


def default_driver_mem():
    """Half of MemTotal in whole GiB, clamped to 2-8g: the heap is
    committed and touched up front, so it must fit the host."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(line.split()[1]) for line in f
                      if line.startswith("MemTotal:"))
    except (OSError, StopIteration, ValueError):
        return "2g"
    return f"{min(8, max(2, kb // 2097152))}g"


def run_probe(sf_dir, query, stages, rounds, cpus, driver_mem):
    ledger = tempfile.NamedTemporaryFile(
        suffix=".json", prefix="iso_ledger_", delete=False)
    ledger.close()
    env = dict(os.environ)
    env.update({
        "SPARK_GRAFT_SF_DIR": sf_dir,
        "SPARK_GRAFT_BENCH_ONLY": query or "none",
        "SPARK_GRAFT_BENCH_ROUNDS": str(rounds),
        "SPARK_GRAFT_BENCH_LEDGER": ledger.name,
        "SPARK_GRAFT_BENCH_PRIOR": "/nonexistent-iso-probe-prior",
    })
    if stages:
        env["SPARK_GRAFT_BENCH_STAGES_ONLY"] = stages
    else:
        env["SPARK_GRAFT_BENCH_STAGES_ONLY"] = "none"
    cmd = ["java"]
    for p in ADD_OPENS_PKGS:
        cmd += ["--add-opens", p + "=ALL-UNNAMED"]
    cmd += [
        "-Dspark.ui.enabled=false",
        "-Dspark.sql.session.timeZone=UTC",
        f"-Xmx{driver_mem}", f"-Xms{driver_mem}", "-XX:+AlwaysPreTouch",
        "-cp", f"{CLASSES}:{SPARK_JARS}",
        "graft.Bench",
    ]
    if cpus:
        env["SPARK_GRAFT_CPUS"] = str(cpus)
    r = subprocess.run(cmd, cwd=REPO, env=env,
                       capture_output=True, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-2000:] + "\n" + r.stderr[-4000:] + "\n")
        sys.exit(f"iso_probe: probe JVM failed for {sf_dir}")
    with open(ledger.name) as f:
        full = json.load(f)
    os.unlink(ledger.name)
    out = {
        "sentinels": full.get("sentinels"),
        "head": full.get("head"),
        "dirty": full.get("dirty"),
        "stages": {},
        "query": None,
    }
    for name, detail in full.get("shared_stages_detail", {}).items():
        out["stages"][name] = detail
    if query and query in full.get("queries", {}):
        out["query"] = {query: full["queries"][query]}
    return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--out", required=True)
    ap.add_argument("--sfs", required=True,
                    help="comma-separated sf dirs, ascending scale")
    ap.add_argument("--query", default=None)
    ap.add_argument("--stages", default=None)
    ap.add_argument("--rounds", type=int, default=2)
    ap.add_argument("--jvm-runs", type=int, default=1)
    ap.add_argument("--cpus", default=str(os.cpu_count()))
    ap.add_argument("--cpus-sweep", default=None,
                    help="comma list of local[N] sizes; overrides --cpus "
                         "and nests per_sf results per level")
    ap.add_argument("--driver-mem", default=default_driver_mem())
    ap.add_argument("--note", default="",
                    help="free text; NAME THE CORPUS VARIANT (scaled vs "
                         "dup-dense) -- r15's phash packed-vs-isolated "
                         "gap was a corpus difference disclosed only in "
                         "a commit message")
    args = ap.parse_args()
    if not (args.query or args.stages):
        sys.exit("iso_probe: need --query and/or --stages")
    check_freshness()
    head = git(["rev-parse", "HEAD"])
    # dirty is scoped to the ENGINE paths, matching graft.Bench: a probe
    # may write its own artifact into the repo, and a whole-tree check
    # would mark every later probe dirty on its predecessor's output
    dirty = bool(git(["status", "--porcelain", "--",
                      "src/main", "build.sbt"]))
    if dirty:
        sys.stderr.write("iso_probe: WARNING working tree dirty -- "
                         "output marked dirty\n")
    sweep = ([c.strip() for c in args.cpus_sweep.split(",") if c.strip()]
             if args.cpus_sweep else None)
    result = {
        "tool": "tools/iso_probe.py",
        "head": head,
        "dirty": dirty,
        "target": {"query": args.query, "stages": args.stages},
        "rounds": args.rounds,
        "jvm_runs": args.jvm_runs,
        "cpus": sweep or args.cpus,
        "note": args.note,
        "per_sf": {},
    }

    def probe_at(sf, cpus):
        runs = []
        for i in range(args.jvm_runs):
            sys.stderr.write(
                f"iso_probe: {sf} cpus={cpus} jvm {i + 1}/{args.jvm_runs}\n")
            runs.append(run_probe(sf, args.query, args.stages,
                                  args.rounds, cpus, args.driver_mem))
        return runs if args.jvm_runs > 1 else runs[0]

    for sf in args.sfs.split(","):
        sf = sf.strip()
        if sweep:
            result["per_sf"][sf] = {c: probe_at(sf, c) for c in sweep}
        else:
            result["per_sf"][sf] = probe_at(sf, args.cpus)
        with open(args.out, "w") as f:
            json.dump(result, f, indent=1)
    print(json.dumps({"out": args.out, "head": head, "dirty": dirty}))


if __name__ == "__main__":
    main()
