#!/usr/bin/env python3
"""Benchmark of the graft library: two seeded workloads, end-to-end
metrics, output checks and a traced per-layer ledger.

Run from the repository root:

    python3 perfbench/run.py --workload etl_curation --seed 1 --seconds 15 --trace 0

The first run builds the library and the benchmark with sbt (the
benchmark's own build in perfbench/ depends on the repository's build);
later runs reuse the build while the sources are unchanged. Each run
starts one JVM with a plain local SparkSession, generates the workload's
inputs from the seed under .bench_build/, runs one cold pass and then
back-to-back passes for --seconds (at least two), checks every
operation's output digest, and prints the metrics. The last line of
standard output is one JSON object. Exit code 0 means every output check
passed.

    python3 perfbench/run.py --workload W --record 0-9

re-records the expected output digests of seeds 0..9 into
perfbench/expected.json.
"""

import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
EXPECTED = os.path.join(HERE, "expected.json")
WORKLOADS = ("etl_curation", "olap_mix")
JVM_TIMEOUT_S = 165
BUILD_TIMEOUT_S = 850
# A fixed heap and the parallel collector: with G1's adaptive heap,
# resizing events changed peak memory, CPU time and pass times from run to
# run. No perf-data file, so the JVM writes nothing outside the checkout.
JVM_OPTS = ["-Xms2g", "-Xmx2g", "-XX:+UseParallelGC", "-XX:-UsePerfData"]
# Spark on JDK 17 outside spark-submit needs the same opens the
# repository's build.sbt passes to forked runs.
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


# ---- build -------------------------------------------------------------

def source_files(root):
    """Every file whose change invalidates the build."""
    for rel in ("build.sbt", "project/build.properties", "perfbench/build.sbt",
                "perfbench/project/build.properties"):
        yield rel
    for top in ("src/main", "perfbench/src"):
        for d, _, files in os.walk(os.path.join(root, top)):
            for f in files:
                yield os.path.relpath(os.path.join(d, f), root)


def build(root, bdir):
    """Compiles the library and the benchmark; returns the JVM classpath."""
    h = hashlib.sha256()
    for rel in sorted(source_files(root)):
        path = os.path.join(root, rel)
        if os.path.isfile(path):
            h.update(rel.encode() + b"\0")
            with open(path, "rb") as f:
                h.update(f.read())
    stamp, cpfile = os.path.join(bdir, "stamp"), os.path.join(bdir, "classpath")
    if os.path.exists(cpfile) and os.path.exists(stamp):
        with open(stamp) as f:
            if f.read() == h.hexdigest():
                with open(cpfile) as g:
                    return g.read()
    if shutil.which("sbt") is None:
        fail("sbt not found on PATH")
    # the build resolves nothing over the network: same defaults as the
    # repository's own test command
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        repos = os.path.expanduser("~/.sbt/repositories")
        env["SBT_OPTS"] = "-Dsbt.offline=true -Xmx4g" + (
            f" -Dsbt.override.build.repos=true -Dsbt.repository.config={repos}"
            if os.path.exists(repos) else "")
    log = os.path.join(bdir, "build.log")
    with open(log, "w") as out:
        try:
            rc = subprocess.run(
                ["sbt", "--batch", "-Dsbt.log.noformat=true", "export Runtime/fullClasspath"],
                cwd=os.path.join(root, "perfbench"), stdout=out, stderr=subprocess.STDOUT,
                stdin=subprocess.DEVNULL, timeout=BUILD_TIMEOUT_S, env=env).returncode
        except subprocess.TimeoutExpired:
            fail(f"build timed out after {BUILD_TIMEOUT_S} s; see {log}")
    with open(log) as f:
        lines = f.read().splitlines()
    cps = [l for l in lines if os.pathsep in l and ".jar" in l and not l.startswith("[")]
    if rc != 0 or not cps:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        fail(f"build failed (exit {rc}); see {log}")
    with open(cpfile, "w") as f:
        f.write(cps[-1])
    with open(stamp, "w") as f:
        f.write(h.hexdigest())
    return cps[-1]


def run_jvm(root, bdir, cp, args, timeout=JVM_TIMEOUT_S):
    """Runs perfbench.Main in a fresh JVM; returns its JSON report."""
    work = os.path.join(bdir, "work")
    shutil.rmtree(work, ignore_errors=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    out = os.path.join(work, "report.json")
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    cmd = [java, *ADD_OPENS, *JVM_OPTS, f"-Djava.io.tmpdir={tmp}", "-cp", cp,
           "perfbench.Main", "--cores", str(len(os.sched_getaffinity(0))),
           "--work", work, "--out", out, *args]
    log = os.path.join(bdir, "jvm.log")
    with open(log, "w") as f:
        try:
            rc = subprocess.run(cmd, cwd=root, stdout=f, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL, timeout=timeout).returncode
        except subprocess.TimeoutExpired:
            fail(f"run timed out after {timeout} s; see {log}", 1)
    if rc != 0 or not os.path.exists(out):
        with open(log) as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        fail(f"run failed (exit {rc}); see {log}", 1)
    with open(out) as f:
        return json.load(f)


# ---- checks ------------------------------------------------------------

def load_expected():
    with open(EXPECTED) as f:
        return json.load(f)


def check(report, expected):
    """Compares every operation's digest with the digest recorded for this
    workload and seed (or, for a seed with no record, with the same
    operation in the run's first pass), and the quality values with their
    floors. Returns (attempted, failures)."""
    recorded = expected["digests"].get(report["workload"], {}).get(str(report["seed"]))
    first, failures, attempted = {}, [], 0
    for p in report["passes"]:
        ops = {f"{o['layer']}.{o['name']}": o for o in p["ops"]}
        for key, o in ops.items():
            attempted += 1
            want = recorded.get(key) if recorded else first.setdefault(key, o["digest"])
            problems = []
            if o["digest"] != want:
                problems.append(f"digest {o['digest']} != {want}")
            for note, floor_key in (("accuracy", "ml.accuracy"), ("recall", "similarity.recall_at_k")):
                if note in o["notes"] and o["notes"][note] < expected["floors"][floor_key]:
                    problems.append(f"{floor_key} {o['notes'][note]} below {expected['floors'][floor_key]}")
            if key == "imdb.readback" and "imdb.etl" in ops and \
                    o["digest"] != ops["imdb.etl"]["digest"]:
                problems.append("parquet read-back differs from the written dataset")
            if problems:
                failures.append(f"{p['run_id']} {key}: " + "; ".join(problems))
    return attempted, failures


# ---- metrics -----------------------------------------------------------

def tail(samples):
    """Mean of the slowest quarter of the operation times, and how many that
    is. A run's 24-48 operation times are too few for a tail percentile
    with ten samples beyond it, and a single percentile reads the time of
    whichever operation sits at its rank, which changed from run to run;
    the mean over the slowest quarter does not depend on one operation."""
    k = max(1, len(samples) // 4)
    return statistics.mean(sorted(samples)[-k:]), k


def end_to_end(report):
    timed = [p for p in report["passes"] if p["kind"] in ("timed", "untraced")]
    cold = next(p for p in report["passes"] if p["kind"] == "cold")
    ops = [o["s"] for p in timed for o in p["ops"]]
    run_s = statistics.median(p["wall_s"] for p in timed)
    tail_s, tail_n = tail(ops)
    m = {
        "setup_s": (report["session_s"] + statistics.median(report["gen_s"]), "s"),
        "run_s": (run_s, "s"),
        "cold_run_s": (cold["wall_s"], "s"),
        "op_p50_s": (statistics.median(ops), "s"),
        "op_tail_s": (tail_s, "s"),
        "rows_per_s": (sum(report["input_rows"].values()) / run_s, "1/s"),
        "cpu_s": (statistics.median(p["cpu_s"] for p in timed), "s"),
        "peak_mem_mb": (report["peak_mem_mb"], "MB"),
    }
    info = {"passes": len(timed), "ops": len(ops), "tail_n": tail_n}
    return m, info


def per_layer(report):
    traced = [p for p in report["passes"] if p["kind"] == "traced"]
    untraced = [p for p in report["passes"] if p["kind"] == "untraced"]
    cores = report["cores"]

    def per_pass(fn):
        return statistics.median(fn(p) for p in traced)

    def ops_of(p, layer, name=None):
        return [o for o in p["ops"] if layer in (None, o["layer"]) and name in (None, o["name"])]

    def op_s(layer, name):
        return per_pass(lambda p: sum(o["s"] for o in ops_of(p, layer, name)))

    def note(key, layer, name=None):
        return per_pass(lambda p: sum(o["notes"].get(key, 0.0) for o in ops_of(p, layer, name)))

    def counter(key, layer=None):
        return per_pass(lambda p: sum(o["counters"][key] for o in ops_of(p, layer)))

    stages = counter("stages")
    cand = note("pairs", "dedup", "candidates")
    verified = note("pairs", "dedup", "verify")
    m = {
        "imdb.load_s": (op_s("imdb", "load"), "s"),
        "imdb.etl_s": (op_s("imdb", "etl"), "s"),
        "imdb.save_s": (op_s("imdb", "save"), "s"),
        "imdb.readback_s": (op_s("imdb", "readback"), "s"),
        "imdb.trends_s": (op_s("imdb", "trends"), "s"),
        "imdb.rows_in": (note("rows", "imdb", "load"), "count"),
        "imdb.rows_out": (note("rows", "imdb", "etl"), "count"),
        "ml.split_s": (op_s("ml", "split"), "s"),
        "ml.train_s": (op_s("ml", "train"), "s"),
        "ml.eval_s": (op_s("ml", "eval"), "s"),
        "ml.jobs": (counter("jobs", "ml"), "count"),
        "ml.accuracy": (note("accuracy", "ml", "eval"), "ratio"),
        "text.quality_s": (op_s("text", "quality"), "s"),
        "text.span_dedup_s": (op_s("text", "span_dedup"), "s"),
        "dedup.exact_s": (op_s("dedup", "exact"), "s"),
        "dedup.candidates_s": (op_s("dedup", "candidates"), "s"),
        "dedup.verify_s": (op_s("dedup", "verify"), "s"),
        "dedup.clusters_s": (op_s("dedup", "clusters"), "s"),
        "dedup.canonical_s": (op_s("dedup", "canonical"), "s"),
        "dedup.candidate_pairs": (cand, "count"),
        "dedup.verified_pairs": (verified, "count"),
        "dedup.pair_yield": (verified / cand if cand else 0.0, "ratio"),
        "similarity.topk_s": (op_s("similarity", "topk"), "s"),
        "similarity.recall_at_k": (note("recall", "similarity", "topk"), "ratio"),
        "queries.plan_s": (note("plan_s", "queries"), "s"),
        "queries.exec_s": (note("exec_s", "queries"), "s"),
        **{f"queries.{q}_s": (op_s("queries", q), "s") for q in report["query_ids"]},
        "spark.jobs": (counter("jobs"), "count"),
        "spark.stages": (stages, "count"),
        "spark.tasks": (counter("tasks"), "count"),
        "spark.tasks_per_stage": (counter("tasks") / stages if stages else 0.0, "ratio"),
        "spark.task_cpu_s": (counter("task_cpu_s"), "s"),
        "spark.task_run_s": (counter("task_run_s"), "s"),
        "spark.core_util": (per_pass(lambda p: sum(o["counters"]["task_run_s"] for o in p["ops"])
                                     / (p["wall_s"] * cores)), "ratio"),
        "spark.shuffle_write_mb": (counter("shuffle_write_mb"), "MB"),
        "spark.shuffle_read_mb": (counter("shuffle_read_mb"), "MB"),
        "spark.spill_mb": (counter("spill_mb"), "MB"),
        "spark.gc_s": (counter("gc_s"), "s"),
        "spark.codegen_compiles": (per_pass(lambda p: p["compiles"]), "count"),
        "spark.codegen_compile_s": (per_pass(lambda p: p["compile_s"]), "s"),
        "trace.overhead": (statistics.mean(p["wall_s"] for p in traced)
                           / statistics.mean(p["wall_s"] for p in untraced), "ratio"),
        "trace.coverage": (per_pass(lambda p: sum(o["s"] for o in p["ops"]) / p["wall_s"]), "ratio"),
    }
    return m


# ---- main --------------------------------------------------------------

def parse_seeds(spec):
    out = []
    for part in spec.split(","):
        a, _, b = part.partition("-")
        out.extend(range(int(a), int(b or a) + 1))
    return out


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=15)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record", metavar="SEEDS", help="re-record digests, e.g. 0-9")
    a = ap.parse_args()

    root = os.getcwd()
    for rel in ("build.sbt", "src/main/scala", "perfbench/build.sbt"):
        if not os.path.exists(os.path.join(root, rel)):
            fail(f"{rel} not found: run from the root of a checkout of the repository")
    bdir = os.path.join(root, ".bench_build", "perfbench")
    os.makedirs(bdir, exist_ok=True)
    cp = build(root, bdir)

    if a.record:
        seeds = parse_seeds(a.record)
        rep = run_jvm(root, bdir, cp, ["--workload", a.workload,
                                       "--record", ",".join(map(str, seeds))],
                      timeout=JVM_TIMEOUT_S * len(seeds))
        expected = load_expected()
        expected["digests"].setdefault(a.workload, {}).update(
            {seed: r["digests"] for seed, r in rep["record"].items()})
        with open(EXPECTED, "w") as f:
            json.dump(expected, f, indent=1, sort_keys=True)
            f.write("\n")
        for seed, r in sorted(rep["record"].items(), key=lambda x: int(x[0])):
            print(f"seed {seed}: " + ", ".join(f"{op}.{k}={v}" for op, notes in r["notes"].items()
                                               for k, v in notes.items()))
        print(f"recorded {a.workload} digests for seeds {seeds}")
        return 0

    t0 = time.time()
    spans = os.path.join(bdir, f"spans-{a.workload}-{a.seed}.json")
    rep = run_jvm(root, bdir, cp, ["--workload", a.workload, "--seed", str(a.seed),
                                   "--seconds", str(a.seconds), "--trace", str(a.trace),
                                   "--spans", spans])
    print(f"perfbench {a.workload} seed={a.seed} cores={rep['cores']} trace={a.trace} "
          f"wall={time.time() - t0:.1f}s")
    return summarize(rep, load_expected())


def summarize(rep, expected):
    """Prints every metric with its unit and the output checks, then the
    result line; returns the exit code (1 when any check failed)."""
    attempted, failures = check(rep, expected)
    recorded = str(rep["seed"]) in expected["digests"].get(rep["workload"], {})
    e2e, info = end_to_end(rep)
    print(f"  timed passes: {info['passes']}")
    for k, (v, unit) in e2e.items():
        extra = (f"  (mean of the slowest {info['tail_n']} of {info['ops']} operations)"
                 if k == "op_tail_s" else "")
        print(f"  {k:<13} {v:12.4f} {unit}{extra}")
    print(f"  {'failed_frac':<13} {len(failures) / attempted:12.4f} "
          f"({len(failures)} of {attempted} operations; digests "
          f"{'recorded for this seed' if recorded else 'checked pass against pass'})")
    for f in failures:
        print(f"  FAILED {f}")

    metrics = e2e
    if rep["trace"]:
        metrics = per_layer(rep)
        for k, (v, unit) in metrics.items():
            print(f"  {k:<28} {v:12.4f} {unit}")
        print(f"  spans: {rep['spans_file']}")
    print(json.dumps({
        "correct": not failures, "attempted": attempted, "failed": len(failures),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}))
    return 0 if not failures else 1

if __name__ == "__main__":
    sys.exit(main())
