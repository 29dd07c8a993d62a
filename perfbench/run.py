"""Flow benchmark entry point.

    python3 perfbench/run.py --workload ingest_incremental --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. Builds the program with its own build
(`sbt compile` at the root) and the benchmark package in this directory,
generates the workload's inputs from the seed, runs one JVM that drives
the program's public flow entry points, checks every output against the
generator's truth, and prints as its last line one JSON object:
`correct`, `attempted`, `failed` and `metrics` (the end-to-end metrics, or
with `--trace 1` the per-layer metrics). See README.md.

Everything the run writes goes under `.bench_work/` in the checkout.
"""
import argparse
import fcntl
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
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".bench_work")
WORKLOADS = ("ingest_incremental", "corpus_daily")
RUN_LIMIT_S = 170  # a run, build excluded, must end well inside 180 s
BUILD_LIMIT_S = 800
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]
BOX_LOCK = "/tmp/graft_bench.lock"


CHILD = None  # the sbt or JVM process running now, in its own session


def stop_child(signum, _frame):
    """A run that is stopped stops what it started, and waits for it."""
    if CHILD is not None and CHILD.poll() is None:
        os.killpg(CHILD.pid, signal.SIGKILL)
        CHILD.wait()
    fail(f"stopped by signal {signum}", 1)


def run_child(cmd, cwd, log, env, timeout):
    """Run `cmd` in its own session; on timeout kill the whole session."""
    global CHILD
    with open(log, "ab") as out:
        CHILD = subprocess.Popen(cmd, cwd=cwd, stdout=out, stderr=subprocess.STDOUT, env=env,
                                 start_new_session=True)
        try:
            return CHILD.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.killpg(CHILD.pid, signal.SIGKILL)
            CHILD.wait()
            return -1
        finally:
            CHILD = None


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def box():
    """Driver heap a quarter of MemTotal, between 1 and 4 GiB, since the box
    is shared. The JVM takes its cores from the CPU affinity mask itself."""
    mem_kb = 0
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                mem_kb = int(line.split()[1])
    heap_g = max(1, min(4, mem_kb // (4 * 1024 * 1024)))
    return {"mem_total_gib": round(mem_kb / 1048576, 1), "driver_heap_gib": heap_g}


def take_locks():
    """One run per checkout at a time (runs share `.bench_work`), and one
    benchmark on the box at a time through the box-wide bench lock. That
    file is locked exclusively when it exists but never created (a lock
    needs no write access), so the run writes nothing outside its checkout."""
    os.makedirs(WORK, exist_ok=True)
    held = []
    fd = os.open(os.path.join(WORK, "graft_bench.lock"), os.O_RDWR | os.O_CREAT, 0o644)
    try:
        fcntl.flock(fd, fcntl.LOCK_EX | fcntl.LOCK_NB)
    except BlockingIOError:
        fail(f"another benchmark run holds {WORK}/graft_bench.lock; refusing to share the box", 3)
    held.append(fd)
    if os.path.exists(BOX_LOCK):
        bfd = os.open(BOX_LOCK, os.O_RDONLY)
        try:
            fcntl.flock(bfd, fcntl.LOCK_EX | fcntl.LOCK_NB)
        except BlockingIOError:
            fail(f"{BOX_LOCK} is held by another benchmark run; refusing to share the box", 3)
        held.append(bfd)
    return held


def tree_hash(paths):
    h = hashlib.sha256()
    for base in paths:
        if os.path.isfile(base):
            files = [base]
        else:
            files = sorted(os.path.join(d, f) for d, _, fs in os.walk(base) for f in fs)
        for p in files:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def sbt(cwd, log, env):
    return run_child(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"], cwd, log, env,
                     BUILD_LIMIT_S)


def build():
    """Compile the program with the repo's own build, then this package
    against its classes. Skipped when no source file changed."""
    program = os.path.join(ROOT, "target", "scala-2.13", "classes")
    bench = os.path.join(HERE, "target", "scala-2.13", "classes")
    stamp = os.path.join(WORK, "build.stamp")
    key = tree_hash([os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
                     os.path.join(ROOT, "src", "main"), os.path.join(HERE, "build.sbt"),
                     os.path.join(HERE, "src")])
    if os.path.exists(stamp) and open(stamp).read() == key and os.path.isdir(bench):
        return program, bench
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true "
                   "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories")
                   + " -Dsbt.offline=true -Xmx2g")
    log = os.path.join(WORK, "build.log")
    open(log, "w").close()
    if sbt(ROOT, log, env) != 0 or not os.path.isdir(program):
        fail(f"program build failed, see {log}", 4)
    if sbt(HERE, log, env) != 0 or not os.path.isdir(bench):
        fail(f"benchmark build failed, see {log}", 4)
    with open(stamp, "w") as f:
        f.write(key)
    return program, bench


def inputs(workload, seed):
    """Generated once per (workload, seed, generator version)."""
    gen = os.path.join(HERE, "gen.py")
    key = hashlib.sha256(open(gen, "rb").read()).hexdigest()[:12]
    d = os.path.join(WORK, "inputs", f"{workload}-{seed}-{key}")
    if not os.path.exists(os.path.join(d, "truth.json")):
        shutil.rmtree(d, ignore_errors=True)
        r = subprocess.run([sys.executable, gen, "--workload", workload, "--seed", str(seed),
                            "--out", d], timeout=120)
        if r.returncode != 0:
            fail("input generation failed", 5)
    return d


def spark_jars():
    """The Spark jar directory the program's own build compiles against."""
    with open(os.path.join(ROOT, "build.sbt")) as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    if not m:
        fail("no unmanagedBase in the program's build.sbt")
    return m.group(1)


def jvm(args, program, bench, b, run_dir, log, budget):
    cp = os.pathsep.join([bench, program, os.path.join(spark_jars(), "*")])
    # A fixed, pre-touched heap: the resident set then no longer depends on
    # when the collector chose to grow the heap, so peak_rss_mb is steady.
    heap = f"{b['driver_heap_gib']}g"
    cmd = (["java", f"-Xms{heap}", f"-Xmx{heap}", "-XX:+AlwaysPreTouch", "-Duser.timezone=UTC",
            f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "flowbench.FlowBench"] + args)
    os.makedirs(os.path.join(run_dir, "tmp"), exist_ok=True)
    env = dict(os.environ, SPARK_GRAFT_LOCAL_DIR=os.path.join(run_dir, "spark-local"))
    open(log, "w").close()
    return run_child(cmd, run_dir, log, env, budget)


def summary(workload, e2e, failed_ratio):
    """The end-to-end metrics under their flow-specific names."""
    if workload == "corpus_daily":
        names = [("corpus_day_s", "flow_run_s", "s"), ("corpus_docs_per_s", "flow_items_per_s", "1/s"),
                 ("report_read_ms", "read_ms", "ms"), ("report_read_ms_p75", "read_ms_p75", "ms")]
    else:
        names = [("ingest_run_s", "flow_run_s", "s"), ("ingest_articles_per_s", "flow_items_per_s", "1/s"),
                 ("topn_ms", "read_ms", "ms"), ("topn_ms_p75", "read_ms_p75", "ms")]
    parts = [f"{n}={e2e[k]:.6g} {u}" for n, k, u in names]
    parts += [f"setup_s={e2e['setup_s']:.6g} s", f"failed_ratio={failed_ratio:.6g} ratio",
              f"peak_rss_mb={e2e['peak_rss_mb']:.6g} MB"]
    return " ".join(parts)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    signal.signal(signal.SIGTERM, stop_child)
    signal.signal(signal.SIGINT, stop_child)
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail(f"no program sources at {ROOT} (build.sbt, src/main/scala/graft)")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        fail("sbt and java are required")
    _locks = take_locks()
    b = box()
    program, bench = build()
    t_start = time.time()
    ind = inputs(a.workload, a.seed)
    for d in os.listdir(WORK):  # left by a stopped run; the lock says none is live
        if d.startswith("run-"):
            shutil.rmtree(os.path.join(WORK, d), ignore_errors=True)
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    os.makedirs(run_dir)
    for d in ("results", "traces", "logs"):
        os.makedirs(os.path.join(WORK, d), exist_ok=True)
    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    out = os.path.join(run_dir, "result.json")
    trace_out = os.path.join(WORK, "traces", f"{tag}.json")
    log = os.path.join(WORK, "logs", f"{tag}.log")
    args = ["--workload", a.workload, "--root", ROOT, "--inputs", ind,
            "--work", os.path.join(run_dir, "w"), "--out", out, "--trace-out", trace_out,
            "--seconds", str(a.seconds), "--trace", str(a.trace)]
    code = jvm(args, program, bench, b, run_dir, log,
               RUN_LIMIT_S - (time.time() - t_start))
    if code != 0 or not os.path.exists(out):
        shutil.rmtree(run_dir, ignore_errors=True)
        fail(f"benchmark JVM exited with {code}, see {log}", 1)
    with open(out) as f:
        r = json.load(f)
    shutil.rmtree(run_dir, ignore_errors=True)
    attempted = r["ops"] + r["reads"]
    failed = r["failed_ops"] + r["failed_reads"]
    correct = failed == 0 and not r["problems"]
    for p in r["problems"][:20]:
        print(f"check failed: {p}")
    print(f"box: {r['cores']} cpus, {b['mem_total_gib']} GiB, driver heap {b['driver_heap_gib']} GiB, "
          f"local[{r['cores']}], {r['cores']} shuffle partitions; "
          f"host steal {r['steal_s']:.2f} s during the timed loop")
    if a.trace:
        metrics = {k: {"value": v, "unit": unit_of(k)} for k, v in sorted(r["per_layer"].items())}
        print(f"trace: {trace_out}")
    else:
        e2e = r["end_to_end"]
        print(summary(a.workload, e2e, failed / max(1, attempted)))
        metrics = {k: {"value": v, "unit": E2E_UNITS[k]} for k, v in e2e.items()}
    record = {"box": b, "seed": a.seed, "result": r}
    with open(os.path.join(WORK, "results", f"{tag}.json"), "w") as f:
        json.dump(record, f)
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


E2E_UNITS = {"setup_s": "s", "flow_run_s": "s", "flow_items_per_s": "1/s", "read_ms": "ms",
             "read_ms_p75": "ms", "peak_rss_mb": "MB"}


def unit_of(name):
    if name.endswith("_s") or name == "extract.s":
        return "s"
    if name.endswith("_bytes"):
        return "bytes"
    if name.endswith("ratio") or name == "store.write_amp":
        return "ratio"
    if name == "store.bytes_per_row":
        return "B/row"
    if name == "index.bytes_per_doc":
        return "B/doc"
    if name == "heap.live_mb":
        return "MB"
    return "count"


if __name__ == "__main__":
    main()
