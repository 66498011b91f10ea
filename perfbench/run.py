#!/usr/bin/env python3
"""graft benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload <lake_serve|corpus_curate|daily_cycle> \
        --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run compiles the engine
(`src/main/scala`) and the benchmark's JVM half (`perfbench/src`) with
scalac against the Spark jars into `$CARGO_TARGET_DIR` (default
`.bench_build`); later runs reuse the classes while the sources are
unchanged. Inputs are generated from the seed (`perfbench/gen.py`) and
cached per seed. The JVM half times the workload and writes raw
measurements; this script checks the answers, computes the metrics,
prints one JSON line per metric (and, traced, one per span rollup), and
prints the summary line last.
"""
import argparse
import fcntl
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import gen  # noqa: E402
import metrics  # noqa: E402

ROOT = os.path.dirname(HERE)
WORKLOADS = ("lake_serve", "corpus_curate", "daily_cycle")
DEADLINE_S = 170  # the whole run, build excluded
HEAP = "2g"
INPUT_CACHE = 32  # input sets kept per workload (a repeat series uses more than 10 seeds)

# lake_serve's catalog entries. The relational surface of
# SparkEntry.queries (CoreCatalog, FlagshipCatalog, ExtrasCatalog and
# SketchCatalog) has 60 entries once the four that rewrite a lake or
# table on every call (lake_daily_prune, q36_bucketed_latest,
# q109_zorder_prune, q116_copy_verify) are left out. It does not fit the
# time budget of a run on 4 cores, so every run serves the same eight:
# ordered by warm latency at sf0.1 on 4 cores, the 56 lightest form
# eight strata of seven, and each stratum gives its middle entry. The
# last stratum's middle entry, q64_sliding_window, returns 180k rows,
# whose answer check took longer than the requests; its neighbour
# q72_anomaly_days (17k rows) stands in. The seed varies the data, the
# range windows and nothing else.
LAKE_SERVED = ["q37_pagination", "q29_stations", "q19_semi_join", "q117_kmv_dedup_report",
               "q3_join_agg", "q11_daily_rollup", "q98_heavy_hitters", "q72_anomaly_days"]


def fail_setup(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    try:
        import pyspark
        d = os.path.join(os.path.dirname(pyspark.__file__), "jars")
        if os.path.isdir(d):
            return d
    except ImportError:
        pass
    fail_setup("no Spark jars: set SPARK_HOME")


def java_bin():
    home = os.environ.get("JAVA_HOME")
    j = os.path.join(home, "bin", "java") if home else shutil.which("java")
    if not j or not os.path.exists(j):
        fail_setup("no java on PATH or JAVA_HOME")
    return j


def sources(d):
    out = []
    for root, _, files in os.walk(d):
        out.extend(os.path.join(root, f) for f in files if f.endswith(".scala"))
    return sorted(out)


def build(bdir, jars, java):
    """Compile engine + benchmark into two jars once per source state;
    returns the directory that holds them. Concurrent runs serialize on
    a lock file."""
    main_src, bench_src = sources(os.path.join(ROOT, "src", "main", "scala")), sources(os.path.join(HERE, "src"))
    if not main_src:
        fail_setup(f"no engine sources under {os.path.join(ROOT, 'src', 'main', 'scala')}")
    h = hashlib.sha256()
    for p in main_src + bench_src:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    out = os.path.join(bdir, "classes-" + h.hexdigest()[:16])
    os.makedirs(bdir, exist_ok=True)
    with open(os.path.join(bdir, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if os.path.exists(os.path.join(out, "_OK")):
            return out
        shutil.rmtree(out, ignore_errors=True)
        os.makedirs(out)
        for name, srcs, extra_cp in (("main", main_src, []), ("bench", bench_src, [os.path.join(out, "main.jar")])):
            argfile = os.path.join(out, f"{name}.args")
            with open(argfile, "w") as f:
                f.write("\n".join(srcs))
            r = subprocess.run(
                [java, "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={out}",
                 "-cp", os.path.join(jars, "*"), "scala.tools.nsc.Main",
                 "-nowarn", "-d", os.path.join(out, f"{name}.jar"),
                 "-cp", os.pathsep.join(extra_cp + [os.path.join(jars, "*")]), "@" + argfile],
                capture_output=True, text=True)
            if r.returncode != 0:
                print(r.stdout[-4000:], r.stderr[-4000:], file=sys.stderr)
                fail_setup(f"compiling {name} failed")
        open(os.path.join(out, "_OK"), "w").close()
    for d in os.listdir(bdir):  # classes of older source states
        if d.startswith("classes-") and os.path.join(bdir, d) != out:
            shutil.rmtree(os.path.join(bdir, d), ignore_errors=True)
    return out


def inputs(bdir, workload, seed):
    """The seed's inputs, generated once per generator version and cached
    (a `_DONE` marker makes a directory valid; the workload's sets beyond
    INPUT_CACHE are dropped, least recently used first)."""
    base = os.path.join(bdir, "inputs")
    with open(gen.__file__, "rb") as f:
        version = hashlib.sha256(f.read() + " ".join(LAKE_SERVED).encode()).hexdigest()[:12]
    d = os.path.join(base, f"{workload}-{seed}-{version}")
    if not os.path.exists(os.path.join(d, "_DONE")):
        tmp = f"{d}.tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        m = gen.generate(workload, seed, tmp, LAKE_SERVED)
        with open(os.path.join(tmp, "_DONE"), "w") as f:
            f.write(m["inputs_sha256"])
        shutil.rmtree(d, ignore_errors=True)
        os.rename(tmp, d)
    os.utime(d)
    sets = sorted((os.path.getmtime(os.path.join(base, x)), x) for x in os.listdir(base)
                  if x.startswith(workload + "-"))
    for _, x in sets[:-INPUT_CACHE]:
        shutil.rmtree(os.path.join(base, x), ignore_errors=True)
    with open(os.path.join(d, "_DONE")) as f:
        return d, f.read().strip()


JDK_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def run_jvm(java, classes, jars, workload, ind, work, out, trace, cores, deadline):
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    # the heap grows on demand up to HEAP, so peak resident memory
    # follows what the program allocates and keeps
    cmd = [java, f"-Xmx{HEAP}", "-XX:-UsePerfData", "-Xlog:cds=off", "-Xlog:cds+dynamic=off",
           "-Duser.timezone=UTC", "-Dspark.ui.enabled=false", f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}"]
    # Class data sharing: the first run of a workload on a build dumps the
    # classes it loaded into an archive; later runs map them instead of
    # loading and verifying them from the jars, which takes about 5 s off
    # each run's JVM start, session build and first calls.
    archive = os.path.join(classes, f"cds-{workload}.jsa")
    dump = None
    if os.path.exists(archive):
        cmd.append(f"-XX:SharedArchiveFile={archive}")
    else:
        dump = f"{archive}.tmp{os.getpid()}"
        cmd.append(f"-XX:ArchiveClassesAtExit={dump}")
    for o in JDK_OPENS:
        cmd += ["--add-opens", f"{o}=ALL-UNNAMED"]
    cp = [os.path.join(classes, "bench.jar"), os.path.join(classes, "main.jar"), os.path.join(jars, "*")]
    cmd += ["-cp", os.pathsep.join(cp), "graft.perfbench.Main", workload, ind, work, out, str(trace), str(cores)]
    with open(os.path.join(work, "jvm.out"), "w") as so, open(os.path.join(work, "jvm.err"), "w") as se:
        t_launch = time.time()
        p = subprocess.Popen(cmd, stdout=so, stderr=se, cwd=work, start_new_session=True)
        try:
            rc = p.wait(timeout=max(5.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            rc = "timeout"
    if dump and os.path.exists(dump):
        if rc == 0:
            os.replace(dump, archive)
        else:
            os.remove(dump)
    return rc, t_launch


def tail(path, n=3000):
    try:
        with open(path, errors="replace") as f:
            return f.read()[-n:]
    except OSError:
        return ""


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    # accepted for the command contract; every workload does a fixed
    # amount of work, so that runs of different seeds compare
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    os.chdir(ROOT)
    bdir = os.path.abspath(os.environ.get("CARGO_TARGET_DIR") or ".bench_build")
    jars, java = spark_jars(), java_bin()
    t0 = time.time()
    classes = build(bdir, jars, java)
    deadline = time.time() + DEADLINE_S
    t1 = time.time()
    ind, in_hash = inputs(bdir, a.workload, a.seed)
    t2 = time.time()
    work = os.path.join(bdir, "work", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    out = os.path.join(work, "out")
    cores = len(os.sched_getaffinity(0))
    try:
        rc, t_launch = run_jvm(java, classes, jars, a.workload, ind, work, out, a.trace, cores,
                               deadline - 10)
        if rc != 0:
            print(tail(os.path.join(work, "jvm.err")), file=sys.stderr)
            fail_setup(f"benchmark JVM exited with {rc}")
        with open(os.path.join(out, "result.json")) as f:
            res = json.load(f)
        spans_path = os.path.join(out, res["spans_file"])
        with open(spans_path) as f:
            spans = json.load(f)
        if a.trace:  # keep the latest traced run's raw spans per workload
            os.makedirs(os.path.join(bdir, "spans"), exist_ok=True)
            kept = os.path.join(bdir, "spans", f"{a.workload}.json")
            shutil.copyfile(spans_path, kept)
        with open(os.path.join(ind, "manifest.json")) as f:
            manifest = json.load(f)
        t3 = time.time()
        report = metrics.evaluate(a.workload, res, spans, manifest, ind, t_launch, bool(a.trace))
        print(f"perfbench: build {t1 - t0:.1f}s inputs {t2 - t1:.1f}s jvm {t3 - t2:.1f}s "
              f"checks {time.time() - t3:.1f}s", file=sys.stderr)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    report.lines.insert(0, {"inputs_sha256": in_hash, "workload": a.workload, "seed": a.seed,
                            "cores": cores, "heap": HEAP})
    if a.trace:
        report.lines.insert(1, {"span_file": os.path.relpath(kept, ROOT)})
    # headline lines last: per-op and span lines first, then checks and
    # metrics, then the summary, so a short log tail keeps the numbers
    order = ("inputs_sha256", "span_file", "op", "span", "check", "metric")
    for line in sorted(report.lines, key=lambda ln: next(i for i, k in enumerate(order) if k in ln)):
        print(json.dumps(line, separators=(",", ":")))
    print(json.dumps(report.summary(a.trace), separators=(",", ":")))


if __name__ == "__main__":
    main()
