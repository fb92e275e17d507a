#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

Usage (from the repository root):
    python3 perfbench/run.py --workload curation --seed 1 --seconds 10 --trace 0

Steps: build the library and the benchmark JVM (`perfbench/build.py`, skipped
when unchanged); run the benchmark JVM (`perfbench/src/perfbench/Main.scala`)
on the tables in `perfbench/data/`, with `--seed` setting the order of the
queries in each pass; check the results against DuckDB running
`SparkEntry.oracleSql` on the same parquet; print each metric by name with
its unit, then one JSON line:
    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
`--trace 0` reports the end-to-end metrics, `--trace 1` the per-layer
ones. Everything it writes goes under `.bench_build/` in the repository.
"""
import argparse
import glob
import hashlib
import json
import math
import shutil
import signal
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))

import build  # noqa: E402
import metrics as M  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

ROOT = HERE.parent
RUN_DIR = build.BUILD_DIR / "run"
# the seed-42 sf0.01 fixture tables of the repository (TESTDATA.md)
DATA_DIR = HERE / "data"
TABLES = ["region", "nation", "customer", "supplier", "part", "orders", "lineitem",
          "events", "documents", "embeddings"]
JVM_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]
HEAP = "2g"
RUN_LIMIT_S = 175  # one run must end within 180 s, build excluded
# Wall times in the metrics are host-adjusted: each is scaled by
# PROBE_REF_S / (the fixed-loop probe measured next to it), i.e. reported
# in seconds of a host on which the probe takes PROBE_REF_S (this 4-core
# host when no neighbour loads it), and by the share of CPU time the
# hypervisor left this VM while it ran (1 - steal). Raw walls are printed
# beside them.
PROBE_REF_S = 0.130

E2E_UNITS = {"setup_s": "s", "first_pass_s": "s", "pass_s": "s", "query_p50_s": "s",
             "heap_live_mb": "MB"}
KERNELS = ["GramHashes", "NormalizeText", "Phash256", "SrpBucketKeys", "WinnowPositions",
           "SortedIntersectCount", "CharCounts"]
COUNTERS = {  # accumulated by the JVM listeners (perfbench/src/perfbench/Trace.scala)
    "scheduler.jobs": "count", "scheduler.stages": "count", "scheduler.tasks": "count",
    "task.run_s": "s", "task.cpu_s": "s", "task.gc_s": "s", "task.deser_s": "s",
    "shuffle.write_mb": "MB", "shuffle.read_mb": "MB", "shuffle.fetch_wait_s": "s",
    "shuffle.spill_mb": "MB", "scan.mb": "MB", "scan.rows": "count",
    "plan.exchanges": "count", "plan.broadcasts": "count", "plan.wscg": "count",
    "plan.graft_nodes": "count", "streaming.batches": "count", "streaming.state_rows": "count",
    "streaming.add_batch_s": "s", "streaming.query_planning_s": "s",
    "streaming.wal_commit_s": "s", "streaming.commit_offsets_s": "s",
    "streaming.latest_offset_s": "s", "streaming.trigger_s": "s",
    "streaming.state_commit_s": "s"}
LAYER_UNITS = dict(COUNTERS, **{
    "entry.build_s": "s", "entry.eager_jobs": "count",
    "catalyst.analysis_s": "s", "catalyst.optimization_s": "s", "catalyst.planning_s": "s",
    "codegen.compiles": "count", "codegen.compile_s": "s", "codegen.first_pass_compiles": "count",
    "scheduler.idle_s": "s", "scheduler.busy_cores": "cores", "jvm.gc_s": "s",
    "stages.build_s": "s", "stages.new_persists": "count", "stages.cache_mb": "MB",
    "streaming.start_stop_s": "s", "trace.coverage": "ratio", "trace.overhead_s": "s",
    "self.query_s": "s", "self.construct_s": "s", "self.execute_s": "s", "self.job_s": "s",
    "self.stage_s": "s", "self.batch_s": "s"},
    **{f"functions.{k}.ns_per_row": "ns" for k in KERNELS})


def declared(kind):
    """Metric names BENCHMARK.json declares under `kind`."""
    return [m["name"] for m in json.loads((ROOT / "BENCHMARK.json").read_text())[kind]]


def run_jvm(args, wl, queries, classpath, limit_s):
    out = RUN_DIR / "out"
    cmd = (["java", f"-Xmx{HEAP}", f"-Xms{HEAP}", "-XX:+AlwaysPreTouch",
            f"-Djava.io.tmpdir={RUN_DIR / 'tmp'}"]
           + [x for p in JVM_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
           + ["-cp", classpath, "perfbench.Main",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--queries", ",".join(queries),
              "--stages", ",".join(wl["stages"]),
              "--probe-cp", classpath, "--data", str(DATA_DIR), "--out", str(out), "--scratch", str(RUN_DIR / "spark")])
    with open(RUN_DIR / "jvm.log", "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=RUN_DIR)
        try:
            code = proc.wait(timeout=limit_s)
        except subprocess.TimeoutExpired:
            raise SystemExit(f"perfbench: benchmark JVM exceeded {limit_s:.0f} s; log in {RUN_DIR / 'jvm.log'}")
        finally:  # never leave the JVM behind, also on a signal
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    if code != 0:
        tail = (RUN_DIR / "jvm.log").read_text(errors="replace").splitlines()[-20:]
        sys.stderr.write("\n".join(tail) + "\n")
        raise SystemExit(f"perfbench: benchmark JVM exited {code}")
    return json.loads((out / "result.json").read_text())


def value_token(v):
    """One value as the DuckDB-oracle compare sees it (mirrors
    tools/check.py: floats by value with NaN == NaN, the rest by str)."""
    if v is None:
        return "None"
    if isinstance(v, float):
        return "nan" if math.isnan(v) else repr(v + 0.0)
    return str(v)


def frame_hash(df):
    h = hashlib.sha256()
    df = df[sorted(df.columns)]
    h.update(repr(list(df.columns)).encode())
    for row in df.itertuples(index=False):
        h.update(("\x1f".join(value_token(v) for v in row) + "\n").encode())
    return h.hexdigest()


def check_results(res):
    """Names of checked queries whose result is wrong, with the reason."""
    import duckdb
    bad = {q["name"]: q["error"] for p in res["passes"] for q in p["queries"] if q["error"]}
    bad.update({name: f"check pass: {err}" for name, err in res["check_errors"]})
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{DATA_DIR / t}.parquet')")
    for name, sql in res["oracle_sql"].items():
        if name in bad:
            continue
        files = glob.glob(str(RUN_DIR / "out" / "verify" / name / "*.parquet"))
        if not files:
            bad[name] = "no result written"
            continue
        try:
            want = frame_hash(con.execute(sql).fetchdf())
        except Exception as e:  # the oracle itself failed
            bad[name] = f"oracle error: {e}"
            continue
        got = frame_hash(con.execute(f"SELECT * FROM read_parquet({files!r})").fetchdf())
        if got != want:
            bad[name] = "result differs from the DuckDB oracle"
    for name, hashes in res["hashes"].items():
        if len(set(hashes)) != 1:
            bad[name] = "result hash differs between runs"
    return bad


def spans_of(p):
    return [dict(zip(("id", "parent", "name", "trace", "start", "end"), s)) for s in p["spans"]]


def host_factors(res):
    """For setup (first) and each pass (the rest): PROBE_REF_S over the
    mean of the probes taken just before and just after it, times the
    share of CPU time not stolen from the VM during it."""
    pr = res["probe_s"]
    return [PROBE_REF_S / ((a + b) / 2) * (1 - st)
            for a, b, st in zip(pr, pr[1:], res["steal"])]


def end_to_end(res, factors):
    """The end-to-end metrics; `factors` all 1.0 gives raw walls."""
    setup_f, pass_f = factors[0], factors[1:]
    later = [(p, f) for p, f in zip(res["passes"], pass_f) if p["index"] > 0 and not p["traced"]]
    walls = [q["wall_s"] * f for p, f in later for q in p["queries"]]
    return {
        "setup_s": (statistics.median(res["session_s"]) + sum(s for _, s in res["stage_builds"])) * setup_f,
        "first_pass_s": res["passes"][0]["wall_s"] * pass_f[0],
        "pass_s": statistics.median([p["wall_s"] * f for p, f in later]),
        "query_p50_s": statistics.median(walls),
        "heap_live_mb": res["heap_live_mb"],
    }, len(walls)


def per_layer(res):
    """Per-layer metrics: the median over traced later passes of each
    pass's total, plus setup-time and kernel figures."""
    traced = [p for p in res["passes"][1:] if p["traced"]]
    untraced = [p for p in res["passes"][1:] if not p["traced"]]
    rows = []
    for p in traced:
        spans = spans_of(p)
        by_name = M.self_time_by_name(spans)
        queries = [s for s in spans if s["name"] == "query"]
        q_wall = sum(s["end"] - s["start"] for s in queries) / 1e6
        task_cover = sum(M.union_length([tuple(t) for t in p["tasks"]], s["start"], s["end"])
                         for s in queries) / 1e6
        in_construct = M.descendants(spans, {"construct"})
        c = dict(p["counters"])
        streaming = {s["trace"] for s in spans if s["name"] == "batch"}
        r = {
            "entry.build_s": sum(s["end"] - s["start"] for s in spans if s["name"] == "construct") / 1e6,
            "entry.eager_jobs": sum(1 for s in spans if s["name"] == "job" and s["id"] in in_construct),
            "catalyst.analysis_s": by_name.get("catalyst.analysis", 0) / 1e6,
            "catalyst.optimization_s": by_name.get("catalyst.optimization", 0) / 1e6,
            "catalyst.planning_s": by_name.get("catalyst.planning", 0) / 1e6,
            "codegen.compiles": p["codegen_compiles"],
            "codegen.compile_s": p["codegen_compile_s"],
            "scheduler.idle_s": q_wall - task_cover,
            "scheduler.busy_cores": c["task.run_s"] / q_wall if q_wall else 0.0,
            "jvm.gc_s": p["gc_s"],
            "stages.new_persists": p["new_persists"],
            "streaming.start_stop_s": sum(s["end"] - s["start"] for s in queries
                                          if s["trace"] in streaming) / 1e6 - c["streaming.trigger_s"],
            "trace.coverage": q_wall / p["wall_s"],
        }
        for name in ("query", "construct", "execute", "job", "stage", "batch"):
            r[f"self.{name}_s"] = by_name.get(name, 0) / 1e6
        r.update(c)
        rows.append(r)
    out = {k: statistics.median([r[k] for r in rows]) for k in rows[0]}
    out["codegen.first_pass_compiles"] = res["passes"][0]["codegen_compiles"]
    out["stages.build_s"] = sum(s for _, s in res["stage_builds"])
    out["stages.cache_mb"] = res["cache_mb"]
    out["trace.overhead_s"] = (statistics.median([p["wall_s"] for p in traced])
                               - statistics.median([p["wall_s"] for p in untraced]))
    for k, v in res["kernels_ns_per_row"].items():
        out[f"functions.{k}.ns_per_row"] = v
    if set(out) != set(LAYER_UNITS):
        raise SystemExit(f"perfbench: layer metrics drifted: {sorted(set(out) ^ set(LAYER_UNITS))}")
    return out


def main():
    ap = argparse.ArgumentParser(description="Run one graft benchmark workload.")
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--only", help="comma-separated queries to time instead of the "
                    "workload's timed set (for one-off layer splits; not for comparisons)")
    args = ap.parse_args()
    for sig in (signal.SIGTERM, signal.SIGINT):
        signal.signal(sig, lambda n, _: sys.exit(128 + n))
    if not (ROOT / "src/main/scala/graft/SparkEntry.scala").is_file():
        raise SystemExit(f"perfbench: no graft sources under {ROOT / 'src/main/scala'}")
    wl = WORKLOADS[args.workload]

    t_build = time.monotonic()
    classpath = build.ensure()
    started = time.monotonic()
    shutil.rmtree(RUN_DIR, ignore_errors=True)
    (RUN_DIR / "tmp").mkdir(parents=True)
    queries = args.only.split(",") if args.only else wl["timed"]
    res = run_jvm(args, wl, queries, classpath, RUN_LIMIT_S - (time.monotonic() - started))

    t_jvm = time.monotonic()
    bad = check_results(res)
    runs = [q["name"] for p in res["passes"] for q in p["queries"]] + res["checked"]
    attempted = len(runs)
    failed = sum(1 for name in runs if name in bad)

    factors = host_factors(res)
    e2e, samples = end_to_end(res, factors)
    raw, _ = end_to_end(res, [1.0] * len(factors))
    batch = sorted(ms for p in res["passes"][1:] for ms in p["batch_ms"])
    print(f"workload {args.workload}  seed {args.seed}  cpus {res['cpus']}  "
          f"passes {len(res['passes'])}  query samples {samples}  "
          f"build {started - t_build:.1f} s  run {t_jvm - started:.1f} s  "
          f"check {time.monotonic() - t_jvm:.1f} s")
    print("confs " + " ".join(f"{k}={v}" for k, v in res["confs"].items()))
    print(f"host probe ({res['cpus']} threads of a fixed loop; reference {PROBE_REF_S} s): "
          + " ".join(f"{x:.3f}" for x in res["probe_s"]) + " s; benchmark JVM CPU meanwhile "
          + " ".join(f"{x:.3f}" for x in res["probe_jvm_cpu_s"]) + " s; stolen CPU share "
          + " ".join(f"{x:.3f}" for x in res["steal"]))
    print("pass walls " + " ".join(f"{p['wall_s']:.2f}" for p in res["passes"])
          + f" s; session setups " + " ".join(f"{x:.2f}" for x in res["session_s"])
          + f" s; stage builds {sum(s for _, s in res['stage_builds']):.2f} s")
    for name, v in e2e.items():
        print(f"{name} = {v:.4f} {E2E_UNITS[name]}  (raw {raw[name]:.4f})")
    print(f"failed_frac = {failed / attempted:.4f} ({failed} of {attempted})")
    for name, why in sorted(bad.items()):
        print(f"FAILED {name}: {why}")
    if batch:
        p90 = M.tail_percentile(batch, 0.9) if len(batch) >= M.min_samples(0.9) else float("nan")
        print(f"batch_p50_ms = {statistics.median(batch):.1f} ms  batch_p90_ms = {p90:.1f} ms  "
              f"({len(batch)} batches)")

    if args.trace:
        layer = per_layer(res)
        for k in sorted(layer):
            print(f"{k} = {layer[k]:.6g} {LAYER_UNITS[k]}")
        (RUN_DIR / "layers.json").write_text(json.dumps(layer, indent=1, sort_keys=True))
        chosen = {k: {"value": layer[k], "unit": LAYER_UNITS[k]} for k in declared("per_layer")}
    else:
        chosen = {k: {"value": e2e[k], "unit": E2E_UNITS[k]} for k in declared("end_to_end")}
    for k in chosen:
        M.check_name(k)
    print(json.dumps({"correct": not bad, "attempted": attempted, "failed": failed,
                      "metrics": chosen}))


if __name__ == "__main__":
    main()
