"""graft benchmark: one command, run from the repo root.

    python3 perfbench/run.py --workload <etl_daily|query_mix> --seed N \
        --seconds S --trace <0|1>

Builds the program from source (perfbench/build.py), makes the seeded
inputs, runs the workload in one JVM on local[nproc] as one closed-loop
client (perfbench/scala/graftbench/PerfBench.scala), checks every timed
result, and prints as its last stdout line one JSON object:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the
metrics are BENCHMARK.json's end_to_end list, with --trace 1 its
per_layer list. Workload definitions, the per-layer -> end-to-end map and
what cannot be measured from outside live in perfbench/workloads.json.

Everything the run writes goes under .bench_build/perfbench/ in the
checkout: the compiled classes and generated tables are cached there
(keyed by a hash of their sources), each run gets its own scratch
directory (Spark warehouse, local dirs, sink, pages) that is deleted at
exit, and a traced run leaves its spans in traces/.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import checks  # noqa: E402
import gen_pages  # noqa: E402
import gen_tables  # noqa: E402

JVM_TIMEOUT_S = 170
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def tables_dir(bdir, sf, seed):
    """Generate the query tables once per checkout and generator version."""
    with open(os.path.join(HERE, "gen_tables.py"), "rb") as f:
        key = hashlib.sha256(f.read() + f"{sf}/{seed}".encode()).hexdigest()[:16]
    d = os.path.join(bdir, f"tables-{key}")
    if not os.path.exists(os.path.join(d, "DONE")):
        shutil.rmtree(d, ignore_errors=True)
        gen_tables.generate(d, sf, seed)
        open(os.path.join(d, "DONE"), "w").close()
    return d


def run_jvm(cp, work, jvm_args, deadline):
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    cmd = (["java", "-Xmx3g", "-XX:+UseG1GC", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}", "-Dspark.ui.enabled=false"] +
           [a for p in ADD_OPENS for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")] +
           ["-cp", cp, "graftbench.PerfBench"] + jvm_args)
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "local"))
    with open(os.path.join(work, "jvm.log"), "w") as logf:
        p = subprocess.Popen(cmd, cwd=work, env=env, stdout=logf,
                             stderr=subprocess.STDOUT, start_new_session=True)
        try:
            rc = p.wait(timeout=max(10, deadline - time.time()))
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            rc = "timeout"
    if rc != 0:
        with open(os.path.join(work, "jvm.log")) as f:
            sys.stderr.write(f.read()[-6000:])
        raise SystemExit(f"perfbench: JVM run failed ({rc})")


def median(xs):
    return statistics.median(xs) if xs else 0.0


def summarize(spec, bench, raw, failed_ops, trace):
    recs = raw["records"]
    for r in recs:
        if r["op"] in failed_ops and r["ok"]:
            r["ok"], r["why"] = False, failed_ops[r["op"]]
    timed = [r for r in recs if r["pass"] > 0]
    rebuilds = raw.get("layout_rebuilds", 0)
    attempted = len(recs) + len(spec.get("layouts", []))
    failed = sum(not r["ok"] for r in recs) + rebuilds
    for r in recs:
        if not r["ok"]:
            log(f"FAILED {r['op']} (pass {r['pass']}): {r['why']}")

    def op_medians(traced):
        by = {}
        for r in timed:
            if r["ok"] and r["traced"] == traced:
                by.setdefault(r["op"], []).append(r["s"])
        return {k: median(v) for k, v in by.items()}

    # a warm pass is timed as the sum of each op's median: a whole-pass
    # sum carries every op's noise at once, and the last pass of a run
    # stops part-way at the deadline
    metrics = {}
    if not trace:
        meds = op_medians(False)
        values = {
            "setup_s": raw["setup_s"],
            "pass_s": sum(meds.values()),
            "op_geomean_s": math.exp(statistics.fmean(math.log(v) for v in meds.values()))
            if meds else 0.0,
            "store_ratio": raw["store_ratio"],
        }
        metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
                   for m in bench["end_to_end"]}
    else:
        layers = dict(raw["layers"])
        layers["trace.overhead_s"] = (sum(op_medians(True).values()) -
                                      sum(op_medians(False).values()))
        for op, v in op_medians(False).items():
            layers[f"q.{op}_s" if op in spec.get("queries", {}) else f"etl.{op}_s"] = v
        # per traced op: the median of each timed component, summed over
        # the ops of a family (a pass assembled from medians, as pass_s)
        fams = spec.get("queries", {})
        for comp in ("build", "plan", "exec", "s"):
            by = {}
            for r in timed:
                if r["ok"] and r["traced"] and r["op"] in fams:
                    by.setdefault(r["op"], []).append(r[comp])
            for op, v in by.items():
                key = f"ops.{fams[op]}_s" if comp == "s" else f"query.{comp}_s"
                layers[key] = layers.get(key, 0.0) + median(v)
        # tail beside the medians: each untraced sample's ratio to its
        # op's median, at the highest percentile that leaves >= 10 samples
        # above it (with ten samples or fewer, the maximum)
        meds = op_medians(False)
        ratios = sorted(r["s"] / meds[r["op"]] for r in timed
                        if r["ok"] and not r["traced"])
        n = len(ratios)
        layers["e2e.op_samples"] = n
        layers["e2e.op_tail_pct"] = 100.0 * (n - 10) / n if n > 10 else 100.0
        layers["e2e.op_tail_ratio"] = ratios[n - 11] if n > 10 else max(ratios, default=0.0)
        layers["e2e.failed_frac"] = failed / attempted
        metrics = {m["name"]: {"value": float(layers.get(m["name"], 0.0)), "unit": m["unit"]}
                   for m in bench["per_layer"]}
    return {"correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": metrics}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    t_start = time.time()
    root = os.getcwd()
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        bench = json.load(f)
    with open(os.path.join(HERE, "workloads.json")) as f:
        spec = json.load(f)["workloads"].get(args.workload)
    if spec is None:
        raise SystemExit(f"perfbench: unknown workload {args.workload}")
    bdir = os.path.join(root, ".bench_build", "perfbench")
    os.makedirs(bdir, exist_ok=True)
    cp = build.ensure(root, bdir)
    work = os.path.join(bdir, "runs", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "local"))
    try:
        jvm = ["--workload", args.workload, "--seed", str(args.seed),
               "--seconds", str(args.seconds), "--trace", str(args.trace),
               "--work", work, "--out", os.path.join(work, "raw.json")]
        if args.workload == "etl_daily":
            m = gen_pages.generate(os.path.join(work, "pages"), args.seed)
            jvm += ["--pages", os.path.join(work, "pages"),
                    "--expect", f"{m['day1']['new']},{m['day2']['new']}"]
            data = None
        else:
            data = tables_dir(bdir, spec["data_sf"], spec["data_seed"])
            jvm += ["--data", data, "--queries", ",".join(spec["queries"]),
                    "--layouts", ",".join(spec["layouts"])]
        # the first run in a checkout builds and generates; allow for it
        prep = time.time() - t_start
        run_jvm(cp, work, jvm, time.time() + JVM_TIMEOUT_S - (prep if prep < 10 else 0))
        with open(os.path.join(work, "raw.json")) as f:
            raw = json.load(f)
        failed_ops = {}
        if data is not None:
            failed_ops = checks.check_queries(root, data, os.path.join(work, "results"),
                                              raw["oracle_sql"], work)
        out = summarize(spec, bench, raw, failed_ops, args.trace == 1)
        if args.trace:
            tdir = os.path.join(bdir, "traces")
            os.makedirs(tdir, exist_ok=True)
            shutil.copy(os.path.join(work, "spans.json"),
                        os.path.join(tdir, f"{args.workload}-seed{args.seed}.json"))
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
