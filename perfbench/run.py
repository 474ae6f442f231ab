#!/usr/bin/env python3
"""graft benchmark: cold and warm pass cost of graft's entry families.

One run starts one fresh JVM with `local[nproc]` and runs one workload's
`graft.SparkEntry.queries` entries with a single closed-loop client: a cold
pass (first touch: JIT, codegen and every session-cache build), then warm
passes served from the caches: at least two, and more while the next one is
expected to end within `--seconds`. Warm figures are medians over the later
half of the warm passes. Each entry's output is checked against the digests
in `expected/`.

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload apriori --seed 1 --seconds 20 --trace 0
    python3 perfbench/run.py --workload apriori --seed 1 --seconds 20 --trace 1
    python3 perfbench/run.py --all --seed 1 --seconds 20

`--trace 0` reports the end-to-end metrics, `--trace 1` the per-layer
metrics of a traced run (spans in `.bench_build/out/`). `--all` runs every
workload untraced and traced and prints one table. The last line of
standard output is one JSON object.

The program is compiled from `src/main/scala` into `.bench_build/` with the
Scala compiler that ships in Spark's jar directory (`$SPARK_HOME/jars`, or
that of the first Spark install on the PATH); the compile is skipped when
the sources have not changed.
"""
import argparse
import fcntl
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
SCALE = "sf0.01"
DATA = os.path.join(HERE, "data", SCALE)
EXPECTED = os.path.join(HERE, "expected", f"{SCALE}.json")

# Entries of each workload; the seed fixes their order in every pass.
# BENCHMARK.json gates apriori and sgd; one graph_build or llm_dedup run
# takes 45-65 s, which the gate's run budget has no room for, so they run
# on request (`--workload` or `--all`).
WORKLOADS = {
    "apriori": [
        "apriori_seq_pairs", "apriori_freq_items", "apriori_freq_itemsets",
        "apriori_freq_itemsets_sql", "apriori_freq_itemsets_lw",
        "apriori_freq_all", "apriori_maximal", "apriori_closed",
        "apriori_assoc_rules", "apriori_rules_metrics",
        "apriori_candidates_raw", "apriori_freq_items_text",
        "apriori_freq_itemsets_txorder"],
    "sgd": ["sgd_linreg_theta", "sgd_logreg_theta", "sgd_gram_matrix"],
    "graph_build": ["graph_link_pred", "graph_als_factors", "graph_pagerank"],
    "llm_dedup": [
        "llm_dedup_recall", "llm_dedup_spans", "llm_dedup_apply",
        "llm_dedup_clusters", "llm_dedup_cluster_sizes",
        "llm_dedup_keep_best", "llm_dedup_apply_best", "llm_dedup_exact",
        "llm_dedup_minhash", "llm_dedup_incremental", "llm_dedup_ngram",
        "llm_dedup_prefix", "llm_dedup_containment", "llm_dedup_span_align",
        "llm_dedup_simhash", "llm_dedup_embedding", "llm_dedup_semantic",
        "llm_dedup_bow_cosine", "llm_dedup_keep_scored"],
}
TABLES = ["lineitem", "orders", "part", "documents", "embeddings"]

# Set-up is sampled in this many extra JVMs besides the measuring one.
SETUP_PROBES = 1
RUN_LIMIT_S = 170.0
MIN_FREE_GB = 2.0

# Per-layer metrics of the traced run; each is reported as `.cold` and
# `.warm` (the median over the later half of the warm passes).
LAYER_METRICS = [
    ("operators.call_s", "s"), ("operators.jobs", "count"),
    ("cache.mb", "MB"), ("cache.rdds", "count"), ("cache.reuse", "frac"),
    ("functions.noncodegen_nodes", "count"),
    ("tables.input_mb", "MB"), ("tables.input_rows", "count"),
    ("spark.planner.analysis_ms", "ms"),
    ("spark.planner.optimization_ms", "ms"),
    ("spark.planner.planning_ms", "ms"), ("spark.planner.plan_s", "s"),
    ("spark.scheduler.jobs", "count"), ("spark.scheduler.stages", "count"),
    ("spark.scheduler.tasks", "count"),
    ("spark.scheduler.parallelism", "ratio"),
    ("spark.executor.run_s", "s"), ("spark.executor.cpu_s", "s"),
    ("spark.executor.gc_s", "s"),
    ("spark.exchange.shuffle_write_mb", "MB"),
    ("spark.exchange.shuffle_read_mb", "MB"),
    ("spark.exchange.spill_mb", "MB"),
]
# Counts that must repeat exactly between two traced runs of one build,
# workload and seed. Not among them:
# - jobs, stages, tasks and input rows: on apriori_seq_pairs AQE reuses a
#   shuffle exchange in some passes and not in others (9 or 10 jobs);
# - cached MB and RDDs: Apriori.freqItemsetsTxOrderOf checkpoints its
#   baskets on every call and never releases them, so whether those
#   blocks are still held depends on when the garbage collector ran.
EXACT = ["operators.jobs", "functions.noncodegen_nodes"]


class BenchError(Exception):
    pass


def log(msg):
    print(msg, flush=True)


def spark_jars():
    """`$SPARK_HOME/jars`, else the jar directory of the first Spark install
    whose `bin/spark-submit` is on the PATH."""
    path = os.environ.get("PATH", "").split(os.pathsep)
    homes = [os.environ.get("SPARK_HOME", "")] + [
        os.path.dirname(d) for d in path
        if os.path.isfile(os.path.join(d, "spark-submit"))]
    for home in filter(None, homes):
        jars = os.path.join(home, "jars")
        if os.path.isdir(jars) and any(
                j.startswith("scala-compiler-") for j in os.listdir(jars)):
            return jars
    raise BenchError("no Spark jar directory with a Scala compiler: "
                     "set SPARK_HOME")


def sources():
    main = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(main):
        raise BenchError(f"no program sources: {main} is missing")
    graft = sorted(os.path.join(d, f) for d, _, fs in os.walk(main)
                   for f in fs if f.endswith(".scala"))
    harness = sorted(os.path.join(HERE, "harness", f)
                     for f in os.listdir(os.path.join(HERE, "harness"))
                     if f.endswith(".scala"))
    return graft, harness


def scalac(jars, cp, out, files):
    os.makedirs(out)
    cmd = ["java", "-Xss8m", "-Xmx3g", "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-nowarn", "-d", out,
           "-classpath", cp] + files
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True)
    if r.returncode != 0:
        raise BenchError("compile failed:\n" + r.stdout[-4000:])


def build(jars):
    """Compile the program and the harness unless the stamp matches."""
    graft, harness = sources()
    h = hashlib.sha256()
    for f in graft + harness:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    h.update(" ".join(sorted(os.listdir(jars))).encode())
    stamp = h.hexdigest()
    classes = os.path.join(BUILD, "classes")
    os.makedirs(BUILD, exist_ok=True)
    with open(os.path.join(BUILD, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        stamp_file = os.path.join(classes, "stamp")
        if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
            return classes, stamp
        t0 = time.monotonic()
        tmp = classes + ".new"
        shutil.rmtree(tmp, ignore_errors=True)
        alljars = os.path.join(jars, "*")
        scalac(jars, alljars, os.path.join(tmp, "graft"), graft)
        scalac(jars, alljars + os.pathsep + os.path.join(tmp, "graft"),
               os.path.join(tmp, "harness"), harness)
        with open(os.path.join(tmp, "stamp"), "w") as fh:
            fh.write(stamp)
        shutil.rmtree(classes, ignore_errors=True)
        os.rename(tmp, classes)
        log(f"built in {time.monotonic() - t0:.1f} s")
    return classes, stamp


def heap():
    """Half of RAM, clamped to 2..8 GiB, as the repo's test runs size it."""
    try:
        with open("/proc/meminfo") as fh:
            line = next(l for l in fh if l.startswith("MemTotal:"))
            kb = int(line.split()[1])
        return f"{min(8, max(2, kb // 2097152))}g"
    except (OSError, StopIteration, ValueError):
        return "2g"


# The JDK 17 module opens Spark needs outside spark-submit (build.sbt's
# javaOptions).
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar"]


def fresh_run_dir():
    run = os.path.join(BUILD, "run")
    shutil.rmtree(run, ignore_errors=True)
    for d in ("spark-local", "tmp"):
        os.makedirs(os.path.join(run, d))
    return run


def jvm(jars, classes, args, deadline, tag):
    """Run the harness in a fresh JVM; return its result JSON."""
    run = fresh_run_dir()
    out = os.path.join(run, "result.json")
    cmd = ["java"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cp = os.pathsep.join([os.path.join(classes, "harness"),
                          os.path.join(classes, "graft"),
                          os.path.join(jars, "*")])
    cmd += [f"-Xmx{heap()}", "-Xss8m",
            f"-Djava.io.tmpdir={os.path.join(run, 'tmp')}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", cp, "graftbench.Harness",
            "--t0-ms", str(int(time.time() * 1000)), "--out", out,
            "--local-dir", os.path.join(run, "spark-local")] + args
    logf = os.path.join(BUILD, "out", f"{tag}.log")
    with open(logf, "w") as lf:
        p = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT,
                             cwd=run, start_new_session=True)
        try:
            p.wait(timeout=max(1.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            raise BenchError(f"JVM ran past the run limit; log: {logf}")
        finally:
            if p.poll() is None:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()
    shutil.rmtree(os.path.join(run, "spark-local"), ignore_errors=True)
    if p.returncode != 0 or not os.path.exists(out):
        with open(logf) as fh:
            tail = fh.read()[-3000:]
        raise BenchError(f"JVM exited {p.returncode}; log {logf}:\n{tail}")
    with open(out) as fh:
        return json.load(fh)


def check_inputs():
    missing = [t for t in TABLES
               if not os.path.exists(os.path.join(DATA, f"{t}.parquet"))]
    if missing:
        raise BenchError(f"missing fixtures in {DATA}: {missing}")
    free_gb = shutil.disk_usage(ROOT).free / 2**30
    if free_gb < MIN_FREE_GB:
        raise BenchError(f"only {free_gb:.1f} GiB free under {ROOT}; "
                         f"need {MIN_FREE_GB} GiB for shuffle and spill")


def cpu_ticks():
    """(steal, total) jiffies of all CPUs from /proc/stat; (0, 0) if absent."""
    try:
        with open("/proc/stat") as fh:
            f = [int(x) for x in fh.readline().split()[1:]]
        return f[7], sum(f)
    except (OSError, ValueError, IndexError):
        return 0, 0


def spans_path(workload, seed):
    return os.path.join(BUILD, "out", f"spans-{workload}-{seed}.json")


def run_workload(workload, seed, seconds, trace, jars, classes, stamp):
    """One run: set-up samples plus the measuring JVM. Returns a record."""
    deadline = time.monotonic() + RUN_LIMIT_S
    setups = []
    for i in range(SETUP_PROBES):
        r = jvm(jars, classes, ["--setup-only", "1"], deadline,
                f"setup-{workload}-{i}")
        setups.append(r["setup_s"])
    t0 = cpu_ticks()
    res = jvm(jars, classes, [
        "--workload", workload, "--seed", str(seed),
        "--seconds", str(seconds), "--trace", str(trace),
        "--data", DATA, "--entries", ",".join(WORKLOADS[workload]),
        "--spans", spans_path(workload, seed)],
        deadline, f"{workload}-{seed}-t{trace}")
    t1 = cpu_ticks()
    setups.append(res["setup_s"])
    # host CPU withheld from this guest while the measuring JVM ran
    steal = (t1[0] - t0[0]) / max(1, t1[1] - t0[1])
    res.update(setup_samples=setups, stamp=stamp, trace=trace, steal=steal)
    record = f"result-{workload}-{seed}-t{trace}.json"
    with open(os.path.join(BUILD, "out", record), "w") as fh:
        json.dump(res, fh)
    return res


def check_outputs(res):
    """(attempted, failed, problems): an entry that threw, or whose
    checked digest differs from the expected one, failed."""
    with open(EXPECTED) as fh:
        expected = json.load(fh)
    attempted = failed = 0
    problems = []
    for p in res["passes"]:
        for e in p["entries"]:
            attempted += 1
            want = expected.get(e["name"])
            if e["err"]:
                bad = e["err"]
            elif e["digest"] and e["digest"] != want:
                bad = f"digest {e['digest']} != expected {want}"
            else:
                continue
            failed += 1
            problems.append(f"{p['pass']} {e['name']}: {bad}")
    return attempted, failed, problems


def steady(res):
    """The warm passes that count: the later half. Warm passes keep getting
    faster while the JIT compiles the serving paths: on `sgd` a warm pass
    takes about 0.25 s at first and settles near 0.17 s after 10 to 15 s."""
    warm = res["passes"][1:]
    return warm[len(warm) // 2:]


def end_to_end(res, attempted, failed):
    warm = [p["wall_s"] for p in steady(res)]
    return {
        "setup_s": (statistics.median(res["setup_samples"]), "s"),
        "cold_s": (res["passes"][0]["wall_s"], "s"),
        "warm_s": (statistics.median(warm), "s"),
        "cached_mb": (res["cached_mb"], "MB"),
        "failed_frac": (failed / attempted, "frac"),
    }


def per_layer(res):
    cold = res["passes"][0]["layers"]
    warm = [p["layers"] for p in steady(res)]
    out = {}
    for name, unit in LAYER_METRICS:
        if name == "cache.reuse":
            # only a warm pass reuses: 1 - warm jobs / cold jobs
            c = cold["spark.scheduler.jobs"]
            out[f"{name}.warm"] = (statistics.median(
                1 - w["spark.scheduler.jobs"] / c for w in warm), unit)
            continue
        out[f"{name}.cold"] = (cold[name], unit)
        out[f"{name}.warm"] = (statistics.median(w[name] for w in warm), unit)
    return out


def record_path(kind, res, by_seed=False):
    seed = f"-{res['seed']}" if by_seed else ""
    return os.path.join(BUILD, "out", f"{kind}-{res['workload']}{seed}-"
                        f"{res['stamp'][:12]}.json")


def exact_count_problems(res, layers):
    """Compare the exact counts with the last traced run of this build,
    workload and seed, then store this run's counts. The seed is part of
    the key because the entry order decides which entry pays a build."""
    counts = {k: v for k, (v, _) in layers.items()
              if k.rsplit(".", 1)[0] in EXACT}
    path = record_path("counts", res, by_seed=True)
    problems = []
    if os.path.exists(path):
        with open(path) as fh:
            before = json.load(fh)
        problems = [f"count {k} = {v}, but {before.get(k)} in the previous "
                    f"traced run" for k, v in counts.items()
                    if before.get(k) != v]
    with open(path, "w") as fh:
        json.dump(counts, fh)
    return problems


def trace_overhead(res):
    """Traced over untraced pass time, against the last untraced run of
    this build and workload; None when there is none."""
    path = record_path("untraced", res)
    if not os.path.exists(path):
        return None
    with open(path) as fh:
        base = json.load(fh)
    warm = statistics.median(p["wall_s"] for p in steady(res))
    return {"cold": res["passes"][0]["wall_s"] / base["cold_s"] - 1,
            "warm": warm / base["warm_s"] - 1, "seed": base["seed"]}


def self_times(path):
    """Seconds of self time (duration minus the time child spans cover)
    per span kind, summed over the cold pass and over the warm passes."""
    with open(path) as fh:
        spans = json.load(fh)
    by_id = {s["id"]: s for s in spans}
    covered = {}
    for s in spans:
        if s["parent"] >= 0:
            covered[s["parent"]] = (covered.get(s["parent"], 0)
                                    + s["end_ns"] - s["start_ns"])
    out = {}
    for s in spans:
        p, passname = s, None
        while p["parent"] >= 0:
            if p["kind"] == "pass":
                passname = "cold" if p["name"] == "cold" else "warm"
            p = by_id[p["parent"]]
        if passname:
            key = (passname, s["kind"])
            own = s["end_ns"] - s["start_ns"] - covered.get(s["id"], 0)
            out[key] = out.get(key, 0) + own / 1e9
    return out


def one(workload, seed, seconds, trace, jars, classes, stamp):
    """One run of one workload; prints its metrics by name and returns
    (result line, end-to-end metrics, trace overhead)."""
    res = run_workload(workload, seed, seconds, trace, jars, classes, stamp)
    attempted, failed, problems = check_outputs(res)
    e2e = end_to_end(res, attempted, failed)
    log(f"workload {workload} seed {seed} cpus {res['cpus']} "
        f"passes {len(res['passes'])} trace {trace} "
        f"host steal {res['steal']:.1%}")
    log(f"  cold order: {' '.join(res['passes'][0]['order'])}")
    for k, (v, u) in e2e.items():
        log(f"  {k} = {v:.4f} {u}")
    ov = None
    if trace:
        metrics = per_layer(res)
        problems += exact_count_problems(res, metrics)
        ov = trace_overhead(res)
        if ov:
            log(f"  trace overhead vs untraced seed {ov['seed']}: "
                f"cold {ov['cold']:+.1%}, warm {ov['warm']:+.1%}")
        spans = spans_path(workload, seed)
        log(f"  spans: {os.path.relpath(spans, ROOT)}; self time by kind:")
        for (p, kind), v in sorted(self_times(spans).items()):
            log(f"    {p} {kind} {v:.3f} s")
    else:
        metrics = {k: e2e[k] for k in ("setup_s", "cold_s", "warm_s")}
        with open(record_path("untraced", res), "w") as fh:
            json.dump(dict({k: v for k, (v, _) in e2e.items()}, seed=seed),
                      fh)
    for pr in problems:
        log(f"  FAILED {pr}")
    line = {"correct": not problems, "attempted": attempted,
            "failed": failed,
            "metrics": {k: {"value": v, "unit": u}
                        for k, (v, u) in metrics.items()}}
    return line, e2e, ov


def run_all(seed, seconds, jars, classes, stamp):
    """Every workload, untraced and then traced, as one table."""
    rows = []
    total = {"correct": True, "attempted": 0, "failed": 0, "metrics": {}}
    for w in WORKLOADS:
        for trace in (0, 1):
            line, e2e, ov = one(w, seed, seconds, trace, jars, classes, stamp)
            total["correct"] &= line["correct"]
            total["attempted"] += line["attempted"]
            total["failed"] += line["failed"]
            if trace == 0:
                rows.append((w, e2e))
            else:
                rows[-1] += (ov,)
    names = list(rows[0][1])
    log("")
    log(f"{'workload':<12}" + "".join(
        f"{n + ' (' + rows[0][1][n][1] + ')':>20}" for n in names)
        + "   trace overhead cold / warm")
    for w, e2e, ov in rows:
        log(f"{w:<12}" + "".join(f"{e2e[n][0]:>20.4f}" for n in names)
            + f"   {ov['cold']:+.1%} / {ov['warm']:+.1%}")
    return total


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=sorted(WORKLOADS))
    ap.add_argument("--all", action="store_true")
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=20)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not args.all and not args.workload:
        ap.error("give --workload or --all")
    try:
        jars = spark_jars()
        classes, stamp = build(jars)
        check_inputs()
        os.makedirs(os.path.join(BUILD, "out"), exist_ok=True)
        if args.all:
            line = run_all(args.seed, args.seconds, jars, classes, stamp)
        else:
            line = one(args.workload, args.seed, args.seconds, args.trace,
                       jars, classes, stamp)[0]
    except BenchError as e:
        print(f"perfbench: {e}", file=sys.stderr)
        sys.exit(2)
    print(json.dumps(line))


if __name__ == "__main__":
    main()
