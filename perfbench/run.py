#!/usr/bin/env python3
"""graft benchmark: one command per workload, run from the repository root.

    python3 perfbench/run.py --workload interactive --seed 1 --seconds 20 --trace 0

Builds the engine from `src/main` and the harness from `perfbench/harness`
with the Scala compiler that ships with Spark (skipped while sources are
unchanged), generates the workload's inputs from the seed (cached by seed
and scale), runs one JVM at local[nproc] with one client thread, checks
every result, and prints one JSON line last: every end-to-end metric with
`--trace 0`, every per-layer metric with `--trace 1`. The raw record of the
run (host state, per-op samples with their counters, spans) is written
under `.perfbench/runs/`; its path goes to stderr.
"""
import argparse
import glob
import hashlib
import json
import os
import re
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import gen  # noqa: E402
import report  # noqa: E402

ROOT = os.getcwd()
WORK = os.path.join(ROOT, ".perfbench")
SCALA = "2.13.17"
KEEP_DATASETS = 32  # 1.8 MB each at sf0.01
RUN_LIMIT_S = 150  # for the JVM; the checks after it take seconds
MIN_PASSES = 2  # timed passes per run, whatever --seconds says

# Each op: name -> (owning module, tables it reads). "fit:*" and "index:*"
# call the model and index registries directly.
OPS = {
    "fit:als": ("Recommender", ["orders", "lineitem"]),
    "index:items": ("Recommender", []),
    "fit:sentiment": ("Sentiment", ["documents"]),
    "index:ann": ("Similarity", ["embeddings"]),
    "q1_pricing_summary": ("Relational", ["lineitem"]),
    "q3_top_revenue": ("Relational", ["customer", "lineitem", "orders"]),
    "q14_sessionize": ("Sessionize", ["events"]),
    "q22_moving_avg": ("Advanced", ["events"]),
    "q36_grouping_sets": ("Analytics", ["orders"]),
    "q66_kcore": ("Graph", ["lineitem"]),
    "m1_als_recommend": ("Recommender", ["orders", "lineitem"]),
    "m2_sentiment": ("Sentiment", ["documents"]),
    "t7_bigram_freq": ("TextAnalysis", ["documents"]),
    "s1_knn_brute": ("Similarity", ["embeddings"]),
    "s2_ann_ivf": ("Similarity", ["embeddings"]),
    "d1_exact_dedup": ("Dedup", ["documents"]),
    "i1_csv_ingest": ("Ingest", ["nation"]),
}
# `warm`: untimed passes in the set-up. Timed passes on interactive still
# got 15% faster from the first to the third after one; two halved the
# spread of its per-query time over seeds. cold_start's passes are fits on
# new datasets, already as steady after one.
WORKLOADS = {
    # one dataset; every pass clears the memo layer and runs the mix in a
    # seeded order
    "interactive": {
        "scale": 0.01, "fresh": False, "warm": 2,
        "ops": ["q1_pricing_summary", "q3_top_revenue", "q36_grouping_sets",
                "q22_moving_avg", "q14_sessionize", "q66_kcore", "t7_bigram_freq",
                "s1_knn_brute", "d1_exact_dedup", "i1_csv_ingest"],
    },
    # every pass is a new dataset name: the first query of each head,
    # model fits and index builds included, in this order
    "cold_start": {
        "scale": 0.01, "fresh": True, "warm": 1,
        "ops": ["fit:als", "index:items", "m1_als_recommend", "fit:sentiment",
                "m2_sentiment", "index:ann", "s2_ann_ivf"],
    },
}


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def nproc():
    return len(os.sched_getaffinity(0))


def heap_gb():
    """A quarter of physical memory, clamped to 2..4 GiB."""
    with open("/proc/meminfo") as f:
        kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
    return max(2, min(4, kb // (4 * 1024 * 1024)))


def loadavg():
    with open("/proc/loadavg") as f:
        return f.read().strip()


def cpu_ticks():
    """(busy, steal, total) jiffies of all CPUs since boot."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    return v[0] + v[1] + v[2] + v[5] + v[6], v[7], sum(v[:8])


# ---------------------------------------------------------------- build

def spark_jars():
    """The Spark distribution's jars: $SPARK_HOME/jars, else the directory
    the sbt build takes its unmanaged jars from."""
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    try:
        with open(os.path.join(ROOT, "build.sbt")) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    except OSError:
        m = None
    if not m:
        raise SystemExit("[perfbench] set SPARK_HOME: no Spark jars found")
    return m.group(1)


def sources():
    main = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"), recursive=True))
    harness = sorted(glob.glob(os.path.join(HERE, "harness", "*.scala")))
    return main, harness


def scalac(jars_dir, out, classpath, files):
    jars = [os.path.join(jars_dir, f"scala-{j}-{SCALA}.jar")
            for j in ("compiler", "library", "reflect")]
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", ":".join(jars),
           "scala.tools.nsc.Main", "-nowarn", "-d", out,
           "-classpath", ":".join(classpath)] + files
    r = subprocess.run(cmd, capture_output=True, text=True, timeout=800)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:] + r.stderr[-4000:])
        raise SystemExit(f"[perfbench] compile failed: {out}")


def build():
    """Compile the engine, then the harness, into jars; each is compiled
    again only when its stamp (its sources, and for the harness the
    engine's sources too) changed. Returns the java class path options."""
    main, harness = sources()
    if not main or not harness:
        raise SystemExit("[perfbench] no engine sources (src/main/scala) in the working directory")
    jars_dir = spark_jars()
    spark = sorted(glob.glob(os.path.join(jars_dir, "*.jar")))
    if not spark:
        raise SystemExit(f"[perfbench] no Spark jars under {jars_dir}")
    bdir = os.path.join(WORK, "build")
    os.makedirs(bdir, exist_ok=True)
    main_jar, harness_jar = (os.path.join(bdir, f"{n}.jar") for n in ("main", "harness"))
    h = hashlib.sha256()
    for name, files, cp in (("main", main, spark), ("harness", harness, [main_jar] + spark)):
        for f in files:
            h.update(f.encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
        stamp, stamp_file = h.hexdigest(), os.path.join(bdir, f"{name}.stamp")
        if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
            continue
        t = time.time()
        out = os.path.join(bdir, name)
        scalac(jars_dir, out, cp, files)
        subprocess.run(["jar", "-J-XX:-UsePerfData", "cf", os.path.join(bdir, f"{name}.jar"),
                        "-C", out, "."], check=True)
        shutil.rmtree(out)
        with open(stamp_file, "w") as f:
            f.write(stamp)
        log(f"built {name}.jar in {time.time() - t:.1f} s")
    return ["-cp", ":".join([harness_jar, main_jar, os.path.join(jars_dir, "*")])]


# ----------------------------------------------------------------- data

def dataset(workload, seed):
    """The workload's generated tables for `seed`; made once, then reused.
    Returns (dir, {table: rows})."""
    spec = WORKLOADS[workload]
    name = f"sf{spec['scale']}-seed{seed}"
    root = os.path.join(WORK, "data")
    path = os.path.join(root, name)
    marker = os.path.join(path, "counts.json")
    if not os.path.exists(marker):
        gen.remove(path)
        t = time.time()
        counts = gen.generate(path, seed, spec["scale"])
        with open(marker, "w") as f:
            json.dump(counts, f)
        log(f"generated {name} in {time.time() - t:.1f} s")
        others = sorted((d for d in glob.glob(os.path.join(root, "*")) if d != path),
                        key=os.path.getmtime)
        for d in others[:max(0, len(others) - KEEP_DATASETS + 1)]:
            gen.remove(d)
    os.utime(path)
    with open(marker) as f:
        counts = json.load(f)
    gen.verify_counts(path, counts)
    return path, counts


# --------------------------------------------------------------- oracle

def load_verified(data_dir):
    """{name: [sql sha256, result digest]} of the results that passed the
    oracle check on this dataset."""
    cache_file = os.path.join(data_dir, "verified.json")
    return json.load(open(cache_file)) if os.path.exists(cache_file) else {}


def oracle_check(data_dir, run_dir, samples, timeout):
    """Compare every oracle-backed result the harness wrote with the
    engine's DuckDB oracle SQL over the same tables, through the
    repository's `tools/check.py` (one process per query). A result whose
    value digest check.py already passed for this dataset and SQL is not
    compared again. Returns {name: error or None}."""
    results = os.path.join(run_dir, "results")
    with open(os.path.join(results, "oracle_sql.json")) as f:
        oracle = json.load(f)
    digest = {s["name"]: s["hash"] for s in samples if s["hash"]}  # last result wins
    cache_file = os.path.join(data_dir, "verified.json")
    verified = load_verified(data_dir)

    def key(name):
        return [hashlib.sha256(oracle[name].encode()).hexdigest(), digest.get(name, "")]

    out = {n: None for n in oracle if verified.get(n) == key(n)}
    todo = sorted(n for n in oracle if n not in out)
    if not todo:
        return out
    check_dir = os.path.join(run_dir, "check")
    os.makedirs(check_dir)
    with open(os.path.join(check_dir, "oracle_sql.json"), "w") as f:
        json.dump({n: oracle[n] for n in todo}, f)
    for n in todo:
        if os.path.exists(os.path.join(results, n)):
            os.rename(os.path.join(results, n), os.path.join(check_dir, n))
    checker = os.path.join(ROOT, "tools", "check.py")
    if not os.path.exists(checker):
        raise SystemExit("[perfbench] no tools/check.py in the working directory")
    # its own process group: check.py starts one process per query, and a
    # time-out stops all of them
    proc = subprocess.Popen([sys.executable, checker, data_dir, check_dir],
                            stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True,
                            start_new_session=True)
    try:
        stdout, _ = proc.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.communicate()
        raise SystemExit("[perfbench] tools/check.py exceeded the run's time limit")
    verdict = {}
    for line in stdout.splitlines():
        m = re.match(r"(PASS|FAIL) (\S+?)(?::| |$)(.*)", line)
        if m:
            verdict[m.group(2)] = None if m.group(1) == "PASS" else line
    for n in todo:
        out[n] = verdict.get(n, f"no verdict from tools/check.py (exit {proc.returncode})")
        if out[n] is None:
            verified[n] = key(n)
    with open(cache_file, "w") as f:
        json.dump(verified, f)
    return out


# ------------------------------------------------------------------ run

def java_cmd(options, heap):
    opens = []
    for p in ("java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
              "java.net", "java.nio", "java.util", "java.util.concurrent",
              "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
              "sun.security.action", "sun.util.calendar"):
        opens += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # no -XX:+UsePerfData: it would write a file under /tmp
    return ["java", "-XX:-UsePerfData"] + opens + options + [
        f"-Xmx{heap}g", f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
        "-Dspark.sql.session.timeZone=UTC", "perfbench.GraftBench"]


def harness_args(workload, ops, fresh, data, work, out, seconds, min_passes, warm, seed,
                 trace, cpus):
    return [f"workload={workload}", "ops=" + ",".join(f"{n}@{OPS[n][0]}" for n in ops),
            f"fresh={int(fresh)}", f"data={data}", f"work={work}", f"out={out}",
            f"seconds={seconds}", f"min_passes={min_passes}", f"warm_passes={warm}",
            f"seed={seed}",
            f"trace={trace}", f"cpus={cpus}"]


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    spec = WORKLOADS[args.workload]
    options = build()
    data_dir, counts = dataset(args.workload, args.seed)
    t_start = time.time()  # the first run's build may take longer
    run_dir = os.path.join(WORK, "run")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    cpus, heap = nproc(), heap_gb()
    raw_file = os.path.join(run_dir, "raw.json")
    verified_file = os.path.join(run_dir, "verified.txt")
    with open(verified_file, "w") as f:
        f.writelines(f"{n} {k[0]} {k[1]}\n" for n, k in load_verified(data_dir).items())
    cmd = java_cmd(options, heap) + harness_args(
        args.workload, spec["ops"], spec["fresh"], data_dir, run_dir, raw_file,
        args.seconds, MIN_PASSES, spec["warm"], args.seed, args.trace, cpus) + [
        f"verified={verified_file}"]
    load_before, ticks_before = loadavg(), cpu_ticks()
    t_jvm = time.time()
    with open(os.path.join(run_dir, "jvm.log"), "w") as jlog:
        proc = subprocess.Popen(cmd, stdout=jlog, stderr=subprocess.STDOUT)
        try:
            rc = proc.wait(timeout=max(30, RUN_LIMIT_S - (t_jvm - t_start)))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            raise SystemExit("[perfbench] run exceeded its time limit")
    if rc != 0 or not os.path.exists(raw_file):
        with open(os.path.join(run_dir, "jvm.log")) as f:
            sys.stderr.write(f.read()[-4000:])
        raise SystemExit(f"[perfbench] harness exited with {rc}")
    t_oracle = time.time()
    raw = json.load(open(raw_file))
    oracle = oracle_check(data_dir, run_dir, raw["samples"],
                          max(10, RUN_LIMIT_S + 25 - (t_oracle - t_start)))
    log(f"jvm {t_oracle - t_jvm:.1f} s, oracle check {time.time() - t_oracle:.1f} s")
    rec = report.build(raw, OPS, counts, oracle)
    ticks = [b - a for a, b in zip(ticks_before, cpu_ticks())]
    rec["host"] = {"nproc": cpus, "heap_gb": heap, "traced": bool(args.trace),
                   "loadavg_before": load_before, "loadavg_after": loadavg(),
                   # while the JVM ran: share of all CPU time busy, and stolen
                   # by the hypervisor (other tenants of the host)
                   "cpu_busy_share": ticks[0] / ticks[2], "cpu_steal_share": ticks[1] / ticks[2],
                   "wall_s": time.time() - t_start}
    rec["command"] = {"workload": args.workload, "seed": args.seed,
                      "seconds": args.seconds, "trace": args.trace}
    runs = os.path.join(WORK, "runs")
    os.makedirs(runs, exist_ok=True)
    rec_file = os.path.join(runs, f"{args.workload}-seed{args.seed}-trace{args.trace}-"
                                  f"{int(t_start)}.json")
    with open(rec_file, "w") as f:
        json.dump(rec, f, indent=1)
    for name, err in sorted(oracle.items()):
        if err:
            log(f"oracle mismatch {name}: {err}")
    for s in rec["samples"]:
        if not s["ok"]:
            log(f"failed op {s['name']} (pass {s['pass']}): {s['err']}")
    log(f"host {rec['host']}")
    if args.trace:
        log(f"tracing overhead: {rec['tracing_overhead']}")
    log(f"raw record: {rec_file}")
    metrics = rec["per_layer"] if args.trace else rec["end_to_end"]
    print(json.dumps({"correct": rec["correct"], "attempted": rec["attempted"],
                      "failed": rec["failed"], "metrics": metrics}))


if __name__ == "__main__":
    main()
