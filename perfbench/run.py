#!/usr/bin/env python3
"""graft's benchmark: Pipeline chains over seeded social-media corpora.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds graft and the harness
with sbt (offline) and caches the result under .bench_build/. See
perfbench/README.md for the workloads, the metrics and the layer map.

The last line of stdout is one JSON object: `correct`, `attempted` and
`failed` count pipeline stages (a stage fails when its artifact is missing
or does not match the expected row count and digest; a stage that throws
ends the run with exit code 2 and no result), and `metrics` holds the
end-to-end metrics (--trace 0) or the per-layer metrics (--trace 1).
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

import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import check   # noqa: E402
import inputs  # noqa: E402

# graft.Pipeline.curationStages at the commit that defined this benchmark.
CURATION = ["tx_gopher", "dd_decisions", "tx_contamination", "cur_verdict",
            "tx_mix", "tx_pack"]
WORKLOADS = {
    "curation_sf01": ("sf01", CURATION),
    "curation_replica": ("replica", CURATION),
}
# Call sites reported one by one in the traced run; jobs whose first graft
# frame is in any other object are summed under `other`.
SITES = ["Curation", "Dedup", "Pipeline", "Sampling", "TextOps", "Tables",
         "unattributed"]
KERNELS = ["simHash32", "wordShingles", "minHashSigs", "rewardStats",
           "wordTokens", "argminL2", "knnTopK"]
KERNEL_ROWS = 2000
SETUP_ONLY_JVMS = 1
JVM_TIMEOUT_S = 170
# A fixed heap and young generation: under G1's adaptive sizing peak RSS
# varied by a third between identical runs. Two JIT compiler and two GC
# worker threads instead of the 3 and 4 the JVM picks on 4 CPUs: the chain is
# bound by one driver thread, and fewer threads competing with it for the
# CPUs made its time repeat more closely. No perf-data file in /tmp.
JVM_FLAGS = ["-Xms4g", "-Xmx4g", "-Xmn512m", "-XX:CICompilerCount=2",
             "-XX:ParallelGCThreads=2", "-XX:-UsePerfData"]

WORK = os.path.join(ROOT, ".bench_build", "perfbench")
# Spark on JDK 17 outside spark-submit (org.apache.spark.launcher.JavaModuleOptions).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


class BenchError(Exception):
    pass


# ---------------------------------------------------------------- build

def _build_inputs():
    yield os.path.join(ROOT, "build.sbt")
    yield os.path.join(ROOT, "project", "build.properties")
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "harness", "src")):
        for dirpath, _, files in os.walk(top):
            for f in files:
                yield os.path.join(dirpath, f)
    yield os.path.join(HERE, "harness", "build.sbt")
    yield os.path.join(HERE, "harness", "project", "build.properties")


def build():
    """Compile graft and the harness with sbt when their sources changed;
    return the runtime classpath."""
    required = [os.path.join(ROOT, "build.sbt"),
                os.path.join(ROOT, "src", "main", "scala", "graft", "Pipeline.scala"),
                inputs.MAKE_STRESS]
    missing = [p for p in required if not os.path.exists(p)]
    if missing:
        raise BenchError(f"not a graft checkout, missing: {missing}")
    h = hashlib.sha256()
    for p in sorted(_build_inputs()):
        st = os.stat(p)
        h.update(f"{os.path.relpath(p, ROOT)}:{st.st_size}:{st.st_mtime_ns}\n".encode())
    stamp = h.hexdigest()
    cp_file = os.path.join(WORK, "classpath.txt")
    stamp_file = os.path.join(WORK, "build.stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as c:
                    return c.read()
    if shutil.which("sbt") is None:
        raise BenchError("sbt not found")
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true",
                        "export Runtime/fullClasspath"],
                       cwd=os.path.join(HERE, "harness"), env=env,
                       stdin=subprocess.DEVNULL, capture_output=True, text=True,
                       timeout=840)
    lines = [l for l in p.stdout.splitlines() if "perfbench" in l and "classes" in l
             and not l.startswith("[")]
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stdout[-4000:] + p.stderr[-4000:])
        raise BenchError("sbt build failed")
    os.makedirs(WORK, exist_ok=True)
    with open(cp_file, "w") as f:
        f.write(lines[-1].strip())
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return lines[-1].strip()


# ---------------------------------------------------------------- JVMs

def cpus():
    return len(os.sched_getaffinity(0))


def jvm(classpath, main, args, log):
    """Run one fresh JVM; return the wall time at which it was spawned."""
    tmp = os.path.join(WORK, "tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    env = {k: v for k, v in os.environ.items() if not k.startswith("SPARK_GRAFT_")}
    env["SPARK_GRAFT_CPUS"] = str(cpus())
    cmd = (["java"] + [a for m in ADD_OPENS for a in ("--add-opens", f"{m}=ALL-UNNAMED")]
           + JVM_FLAGS + [f"-Djava.io.tmpdir={tmp}", "-cp", classpath, main] + args)
    with open(log, "w") as out:
        spawned = time.time()
        proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdin=subprocess.DEVNULL,
                                stdout=out, stderr=subprocess.STDOUT)
        try:
            code = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            code = "timeout"
    shutil.rmtree(tmp, ignore_errors=True)
    if code != 0:
        with open(log) as f:
            sys.stderr.write(f.read()[-3000:])
        raise BenchError(f"{main} exited with {code}")
    return spawned


def read_json(path):
    with open(path) as f:
        return json.load(f)


def timed(classpath, sf_dir, out_dir, stages, mode):
    """One Pipeline.main JVM. `setup` mode stops at the ready session."""
    os.makedirs(out_dir, exist_ok=True)
    result = os.path.join(out_dir, "timed.json")
    spawned = jvm(classpath, "perfbench.Timed",
                  [result, mode, sf_dir, out_dir, "run", ",".join(stages)],
                  os.path.join(out_dir, f"{mode}.log"))
    r = read_json(result)
    sample = {"setup_s": r["ready_ms"] / 1e3 - spawned}
    if mode == "chain":
        sample.update(
            chain_s=(r["end_ms"] - r["ready_ms"]) / 1e3,
            cpu_s=(r["end_cpu_ns"] - r["ready_cpu_ns"]) / 1e9,
            peak_rss_mb=r["peak_rss_kb"] / 1024)
    return sample


def manifest(run_dir):
    rows = {}
    mdir = os.path.join(run_dir, "_manifest")
    for f in sorted(os.listdir(mdir)):
        if f.endswith(".json"):
            with open(os.path.join(mdir, f)) as fh:
                for line in fh:
                    if line.strip():
                        r = json.loads(line)
                        rows[r["stage"]] = r
    return rows


def artifact_bytes(run_dir, stages):
    total = 0
    for s in stages:
        d = os.path.join(run_dir, s)
        total += sum(os.path.getsize(os.path.join(d, f)) for f in os.listdir(d)
                     if f.endswith(".parquet"))
    return total


def kernel_inputs(sf_dir, out):
    """Every n-th document and vector in id order, KERNEL_ROWS of each."""
    os.makedirs(out, exist_ok=True)
    docs = pq.read_table(os.path.join(sf_dir, "documents.parquet"),
                         columns=["doc_id", "text"]).sort_by("doc_id").to_pydict()
    step = max(1, len(docs["text"]) // KERNEL_ROWS)
    texts = docs["text"][::step][:KERNEL_ROWS]
    if any("\n" in t for t in texts):
        raise BenchError("kernel input texts must be single-line")
    with open(os.path.join(out, "texts.txt"), "w") as f:
        f.write("\n".join(texts) + "\n")
    vecs = pq.read_table(os.path.join(sf_dir, "embeddings.parquet"),
                         columns=["vec_id", "embedding"]).sort_by("vec_id").to_pydict()
    step = max(1, len(vecs["vec_id"]) // KERNEL_ROWS)
    with open(os.path.join(out, "vectors.txt"), "w") as f:
        for i, v in list(zip(vecs["vec_id"], vecs["embedding"]))[::step][:KERNEL_ROWS]:
            f.write(" ".join([str(i)] + [repr(x) for x in v]) + "\n")


# ---------------------------------------------------------------- runs

def metric(value, unit):
    return {"value": value, "unit": unit}


def untraced(classpath, sf_dir, stages, docs, expected, seconds, runs):
    setups = []
    for i in range(SETUP_ONLY_JVMS):
        setups.append(timed(classpath, sf_dir, os.path.join(runs, f"setup{i}"),
                            stages, "setup")["setup_s"])
    chains, failed = [], 0
    begin = time.time()
    while not chains or time.time() - begin < seconds:
        out = os.path.join(runs, f"chain{len(chains)}")
        s = timed(classpath, sf_dir, out, stages, "chain")
        failed += len(check.failed_stages(os.path.join(out, "run"), stages, expected))
        shutil.rmtree(out)
        chains.append(s)
        setups.append(s["setup_s"])

    def med(k):
        return statistics.median(c[k] for c in chains)
    print(f"samples: chain={len(chains)} setup={len(setups)}")
    return len(chains) * len(stages), failed, {
        "chain_s": metric(med("chain_s"), "s"),
        "input_docs_per_s": metric(statistics.median(docs / c["chain_s"] for c in chains),
                                   "docs/s"),
        "setup_s": metric(statistics.median(setups), "s"),
        "cpu_s": metric(med("cpu_s"), "s"),
        "peak_rss_mb": metric(med("peak_rss_mb"), "MB"),
    }


def traced(classpath, sf_dir, stages, expected, runs):
    base = os.path.join(runs, "untraced")
    untraced_chain = timed(classpath, sf_dir, base, stages, "chain")
    failed = len(check.failed_stages(os.path.join(base, "run"), stages, expected))
    layers = {}
    man = manifest(os.path.join(base, "run"))
    for s in stages:
        layers[f"pipeline.stage_s.{s}"] = metric(man[s]["millis"] / 1e3, "s")
    layers["pipeline.artifact_bytes"] = metric(
        artifact_bytes(os.path.join(base, "run"), stages), "bytes")

    kdir = os.path.join(runs, "kernels")
    kernel_inputs(sf_dir, kdir)
    out = os.path.join(runs, "traced")
    os.makedirs(out)
    result = os.path.join(out, "traced.json")
    jvm(classpath, "perfbench.Traced",
        [result, os.path.join(base, "timed.json"), sf_dir, out, "run", ",".join(stages), kdir],
        os.path.join(out, "traced.log"))
    failed += len(check.failed_stages(os.path.join(out, "run"), stages, expected))
    r = read_json(result)

    for s in stages:
        for p in ("build", "plan", "exec"):
            layers[f"operators.{p}_s.{s}"] = metric(r[f"operators.{p}_s.{s}"], "s")
        layers[f"operators.eager_jobs.{s}"] = metric(r[f"operators.eager_jobs.{s}"], "count")
        layers[f"spark.jobs.{s}"] = metric(r[f"spark.jobs.{s}"], "count")
        layers[f"spark.tasks.{s}"] = metric(r[f"spark.tasks.{s}"], "count")
    units = {"jobs": "count", "stages": "count", "tasks": "count",
             "tasks_per_stage": "count", "no_task_s": "s", "executor_run_s": "s",
             "executor_cpu_s": "s", "gc_s": "s", "shuffle_write_bytes": "bytes",
             "shuffle_read_bytes": "bytes", "spill_bytes": "bytes",
             "peak_exec_mem_bytes": "bytes"}
    for k, unit in units.items():
        layers[f"spark.{k}"] = metric(r[f"spark.{k}"], unit)
    by_site = {site: 0 for site in SITES + ["other"]}
    for k, v in r.items():
        if k.startswith("spark.jobs_by_site."):
            site = k.split(".", 2)[2]
            by_site[site if site in SITES else "other"] += int(v)
    for site, n in by_site.items():
        layers[f"spark.jobs_by_site.{site}"] = metric(n, "count")
    for k in KERNELS:
        layers[f"functions.ns_per_row.{k}"] = metric(r[f"functions.ns_per_row.{k}"], "ns")
    layers["trace_overhead_ratio"] = metric(r["traced_chain_s"] / untraced_chain["chain_s"], "ratio")
    print(f"traced chain {r['traced_chain_s']:.3f} s, untraced chain "
          f"{untraced_chain['chain_s']:.3f} s")
    return 2 * len(stages), failed, layers


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)
    kind, stages = WORKLOADS[a.workload]

    try:
        classpath = build()
        sf_dir = os.path.join(WORK, "inputs", f"{kind}-{a.seed}")
        stats = inputs.generate(kind, a.seed, sf_dir)
        with open(os.path.join(HERE, "expected.json")) as f:
            want = json.load(f)[inputs.expected_key(kind, a.seed)]
        if stats != want["input"]:
            raise BenchError(f"generated input {stats} differs from {want['input']}")
        runs = os.path.join(WORK, "runs", f"{a.workload}-{a.seed}-{os.getpid()}")
        shutil.rmtree(runs, ignore_errors=True)
        os.makedirs(runs)
        try:
            if a.trace:
                attempted, failed, metrics = traced(classpath, sf_dir, stages,
                                                    want["stages"], runs)
            else:
                attempted, failed, metrics = untraced(classpath, sf_dir, stages,
                                                      stats["docs"], want["stages"],
                                                      a.seconds, runs)
        finally:
            shutil.rmtree(runs, ignore_errors=True)
    except BenchError as e:
        print(f"benchmark error: {e}", file=sys.stderr)
        return 2
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
