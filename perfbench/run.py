"""graft feature-store benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload training_set --seed 1 --seconds 10 --trace 0

Run from the root of a graft checkout. The first run builds the program and
the harness from source (sbt, perfbench/jvm); later runs reuse the build
while the sources are unchanged. Inputs are generated from the seed
(perfbench/gen.py) and cached per (seed, scale); the program receives only
the generated parquet files.

Workloads (see BENCHMARK.json for why each exists):
  training_set       closed loop: materialize + online load + as-of training
                     set + trailing-window aggregate + split, per iteration;
                     traced runs then run the corpus-dedup journey (MinHash
                     near-dups + cluster-safe split) for the functions layer
  online_serve       open loop on /features and /nearest at a nominal rate:
                     reads only (measured end to end), then the same reads
                     while a stream upserts update files into the same store
                     (per-layer); traced runs add a ladder of doubling rates

Every output is checked: offline digests against a DuckDB replay of the
program's own oracle SQL, served values against the generated answers.
The last line of stdout is one JSON object
{"correct", "attempted", "failed", "metrics"}: the end-to-end metrics with
--trace 0, the per-layer metrics with --trace 1. A table of every metric,
with units and sample counts, and a host record precede it; the full record
goes to .bench_build/perfbench/results/. Exits 1 when an output is wrong.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import oracle  # noqa: E402

WORKLOADS = {
    # workload: (input kind, input scale)
    "training_set": ("offline", 1.0),
    "online_serve": ("serve", 1.0),
}
CLOSED = ("training_set",)
# the corpus of a traced training_set run's dedup journey: 1000 documents
# at scale 1, never fewer than 400
CORPUS_SCALE = 0.05
NOMINAL_RPS = 1000
JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(*a):
    print(*a, file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(f"perfbench: {msg}")
    sys.exit(code)


# ----------------------------------------------------------------- host
def host_record(nproc, heap):
    mem_kb = 0
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                mem_kb = int(line.split()[1])
    try:
        commit = subprocess.run(["git", "rev-parse", "HEAD"], capture_output=True,
                                text=True, timeout=10).stdout.strip()
    except OSError:
        commit = ""
    return {"nproc": nproc, "mem_total_mb": mem_kb // 1024, "heap": heap,
            "master": f"local[{nproc}]", "shuffle_partitions": nproc,
            "git_commit": commit or "unknown (not a git checkout)"}


def heap_for_host():
    """Spark heap limit the way the repository's tier-1 test command derives
    it: half of MemTotal in GiB, clamped to [2, 8]."""
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                g = int(int(line.split()[1]) / 2097152)
                return f"{min(8, max(2, g))}g"
    return "2g"


def nproc_for_host():
    return len(os.sched_getaffinity(0))


# ---------------------------------------------------------------- build
def source_stamp(root):
    """Digest of every file the build reads: a change rebuilds."""
    h = hashlib.sha1()
    tops = [os.path.join(root, "src", "main"), os.path.join(HERE, "jvm", "src")]
    files = [os.path.join(root, "build.sbt"), os.path.join(HERE, "jvm", "build.sbt")]
    for top in tops:
        for d, _, fs in os.walk(top):
            files += [os.path.join(d, f) for f in fs]
    for p in sorted(files):
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def build(root, work):
    """Compile graft + the harness; return the runtime classpath."""
    stamp = source_stamp(root)
    cp_file = os.path.join(work, "classpath.txt")
    if os.path.exists(cp_file):
        with open(cp_file) as f:
            saved = json.load(f)
        if saved["stamp"] == stamp:
            return saved["classpath"]
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = (env.get("SBT_OPTS", "") + " " + " ".join(opts)).strip()
    logf = os.path.join(work, "build.log")
    t = time.perf_counter()
    with open(logf, "w") as lf:
        r = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export perfbench/Runtime/fullClasspath"],
            cwd=os.path.join(HERE, "jvm"), env=env, stdout=subprocess.PIPE,
            stderr=lf, text=True, timeout=850)
    lines = [l for l in r.stdout.splitlines() if l.strip()]
    if r.returncode != 0 or not lines or lines[-1].startswith("["):
        with open(logf, "a") as lf:
            lf.write(r.stdout)
        fail(f"build failed (exit {r.returncode}); see {logf}", 3)
    classpath = lines[-1].strip()
    log(f"perfbench: built in {time.perf_counter() - t:.1f}s")
    sql_dir = os.path.join(work, "oracle_sql")
    java(classpath, "1g", ["perfbench.Main", "--oracle-sql", sql_dir], work, check=True)
    with open(cp_file, "w") as f:
        json.dump({"stamp": stamp, "classpath": classpath}, f)
    return classpath


def java_cmd(classpath, heap, args, tmp):
    """A java command line with heap limit `heap`, temporary files under
    `tmp`. The heap is not pinned (-Xms): a pinned multi-GB heap lets G1
    grow eden over untouched memory, and the first-touch page faults slow
    every allocation."""
    opens = [x for p in JDK_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    return (["java", f"-Xmx{heap}", "-XX:+UseG1GC", "-XX:-UsePerfData",
             f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}", "-Dspark.ui.enabled=false",
             "-Dspark.sql.session.timeZone=UTC"] + opens + ["-cp", classpath] + args)


def java(classpath, heap, args, tmp, check=False):
    r = subprocess.run(java_cmd(classpath, heap, args, tmp), capture_output=True, text=True,
                       timeout=120)
    if check and r.returncode != 0:
        fail(f"java {args[0]} failed: {r.stderr[-2000:]}", 3)
    return r


# ---------------------------------------------------------------- stats
def median(xs):
    return statistics.median(xs) if xs else 0.0


def tail(xs):
    """(label, value): the highest of p99.9/p99/p95/p90/p50 that has at least
    ten samples beyond it, else the maximum."""
    s = sorted(xs)
    for q, label in ((0.999, "p99.9"), (0.99, "p99"), (0.95, "p95"), (0.9, "p90")):
        if len(s) * (1 - q) >= 10:
            return label, quantile(s, q)
    return "max", (s[-1] if s else 0.0)


def quantile(s, q):
    if not s:
        return 0.0
    s = sorted(s)
    pos = q * (len(s) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


# ------------------------------------------------------------ processes
class Proc:
    """A child process whose stdout lines are collected by a reader thread;
    always stopped and waited for."""

    def __init__(self, cmd, stdin=False):
        self.p = subprocess.Popen(cmd, stdin=subprocess.PIPE if stdin else subprocess.DEVNULL,
                                  stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
        self.lines = []
        self.err = []
        self.ready = threading.Event()
        self._t = [threading.Thread(target=self._read, args=(self.p.stdout, self.lines), daemon=True),
                   threading.Thread(target=self._read, args=(self.p.stderr, self.err), daemon=True)]
        for t in self._t:
            t.start()

    def _read(self, stream, sink):
        for line in stream:
            sink.append(line.rstrip("\n"))
            if line.startswith("READY"):
                self.ready.set()
        self.ready.set()

    def wait(self, timeout):
        try:
            return self.p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            self.kill()
            return None

    def kill(self):
        if self.p.poll() is None:
            self.p.kill()
            self.p.wait()
        for t in self._t:
            t.join(timeout=5)


# ------------------------------------------------------------------ run
def run_system(a, classpath, heap, nproc, data, corpus, work, deadline):
    """Start the system JVM (and, for serving, the load generator); return
    (system result, load generator result or None). Every wait ends by
    `deadline` (time.monotonic())."""
    def left():
        return max(1.0, deadline - time.monotonic())

    rundir = os.path.join(work, f"run-{os.getpid()}")
    os.makedirs(rundir, exist_ok=True)
    out = os.path.join(rundir, "system.json")
    spawn_ms = int(time.time() * 1000)
    sysp = Proc(java_cmd(classpath, heap, [
        "perfbench.Main", "--workload", a.workload, "--data", data,
        "--seconds", str(a.seconds), "--trace", str(a.trace), "--nproc", str(nproc),
        "--seed", str(a.seed), "--spawn-ms", str(spawn_ms), "--out", out,
        "--rundir", rundir] + (["--corpus", corpus] if corpus else []), rundir), stdin=True)
    procs = [sysp]
    lg = None
    try:
        if a.workload not in CLOSED:
            if not sysp.ready.wait(left()) or not any(l.startswith("READY") for l in sysp.lines):
                raise RuntimeError("server did not come up:\n" + "\n".join(sysp.err[-30:]))
            ready = next(l for l in sysp.lines if l.startswith("READY")).split()
            lg_out = os.path.join(rundir, "loadgen.json")
            lgp = Proc(java_cmd(classpath, "512m", [
                "perfbench.LoadGen", "--port", ready[1], "--data", data,
                "--seed", str(a.seed), "--nproc", str(nproc),
                "--seconds", str(a.seconds), "--trace", str(a.trace),
                "--stream-dir", ready[2], "--nominal-rps", str(NOMINAL_RPS),
                "--out", lg_out], rundir))
            procs.append(lgp)
            if lgp.wait(left()) != 0:
                raise RuntimeError("load generator failed:\n" + "\n".join(lgp.err[-30:]))
            with open(lg_out) as f:
                lg = json.load(f)
            sysp.p.stdin.write("STOP\n")
            sysp.p.stdin.flush()
        code = sysp.wait(left())
        if code != 0 or not os.path.exists(out):
            raise RuntimeError(f"system JVM exit {code}:\n" + "\n".join(sysp.err[-30:]))
        with open(out) as f:
            res = json.load(f)
        final = os.path.join(rundir, "final_f_d.tsv")
        if os.path.exists(final):
            with open(final) as f:
                res["final_f_d"] = f.read()
        return res, lg
    finally:
        for p in procs:
            p.kill()
        shutil.rmtree(rundir, ignore_errors=True)


def check_newest_wins(res, lg, data):
    """After the stream drained, the served f_d must be newest-wins
    (ts desc, then value desc) over the base and every dropped update."""
    dropped = int(lg["nums"].get("ingest.files_dropped", 0))
    want = {}
    with open(os.path.join(data, "features.tsv")) as f:
        for line in f:
            e, _, _, _, d, t = line.split("\t")
            want[int(e)] = (int(t), float(d))
    with open(os.path.join(data, "updates.tsv")) as f:
        for line in f:
            i, e, v, t = line.split("\t")
            if int(i) < dropped:
                cur = want[int(e)]
                new = (int(t), float(v))
                if new > cur:
                    want[int(e)] = new
    bad = 0
    for line in res.get("final_f_d", "").splitlines():
        x = line.split("\t")
        got = (int(x[2]), float(x[1])) if len(x) == 3 else None
        if got != want.get(int(x[0])):
            bad += 1
    n = len(res.get("final_f_d", "").splitlines())
    return n == len(want) and bad == 0, f"{bad} of {n} entities differ ({len(want)} expected)"


def summarize(a, res, lg, expected, data_info):
    """(correct, attempted, failed, end-to-end metrics {name: (value, unit)},
    per-layer metrics {name: value}, table rows, checks)."""
    checks = [(c["name"], c["ok"], c["detail"]) for c in res["checks"]]
    nums, series, layer = res["nums"], res["series"], dict(res["per_layer"])
    attempted = failed = 0
    for name, got in res["hashes"].items():
        want = expected.get(name)
        bad = [h for h in got if h != want]
        attempted += len(got)
        failed += len(bad)
        checks.append((f"{name} digest equals DuckDB oracle replay", not bad,
                       f"{len(bad)} of {len(got)} iterations differ (want {want}, got {sorted(set(got))})"))
    if a.workload in CLOSED and not res["hashes"]:
        checks.append(("outputs were digested", False, "no digests recorded"))

    rows = []  # (name, unit, median, tail label, tail, n)
    e2e = {}
    setup = nums.get("session_s", 0.0) + nums.get("setup_work_s", 0.0)
    e2e["setup_s"] = (setup, "s")
    layer["peak_rss_mb"] = nums.get("peak_rss_mb", 0.0)
    rows.append(("setup_s", "s", setup, "", None, 1))

    def timing(name, unit, xs, scale=1.0):
        xs = [x * scale for x in xs]
        lbl, tv = tail(xs)
        rows.append((name, unit, median(xs), lbl, tv, len(xs)))
        return median(xs), tv

    # closed loops: the first iteration runs cold (JIT, codegen) and the
    # following ones keep warming up; the median is over the iterations
    # after the harness's fixed warm-up count. A handful of iterations has
    # no percentile with ten samples beyond it, so the table shows the
    # slowest measured one.
    def warm(k, prefix=""):
        return series.get(k, [])[int(nums.get(prefix + "warmup_iters", 0)):]

    if a.workload == "training_set":
        timing("materialize_s", "s", warm("materialize_s"))
        timing("train_set_s", "s", warm("train_set_s"))
        p50, _ = timing("journey_ms", "ms", warm("journey_s"), 1000.0)
        tl = series["journey_s"][0] * 1000.0
        rows.append(("journey_ms_cold", "ms", tl, "", None, 1))
        layer["materialize_s"] = median(warm("materialize_s"))
        layer["train_set_s"] = median(warm("train_set_s"))
        if a.trace:
            timing("dedup_ms", "ms", warm("dedup_s", "dedup."), 1000.0)
            rows.append(("dedup_ms_cold", "ms", series["dedup_s"][0] * 1000.0, "", None, 1))
            layer["dedup_s"] = median(warm("dedup_s", "dedup."))
    else:
        ln = lg["nums"]
        ls = lg["series"]
        attempted += int(ln.get("requests_sent", 0))
        failed += int(ln.get("requests_failed", 0))
        p50, _ = timing("lookup_ms", "ms", ls.get("lookup_ms", []))
        tl = 0.0  # no cold iteration: the warm-up phase precedes the measured one
        n50, _ = timing("nearest_ms", "ms", ls.get("nearest_ms", []))
        layer.update(lg["per_layer"])
        layer["lookup_p50_ms"] = p50
        layer["lookup_p99_ms"] = quantile(ls.get("lookup_ms", []), 0.99)
        layer["nearest_p50_ms"] = n50
        layer["nearest_p99_ms"] = quantile(ls.get("nearest_ms", []), 0.99)
        layer["nearest_recall"] = sum(ls.get("recall", [])) / max(1, len(ls.get("recall", [])))
        layer["gen.late_ms_p99"] = quantile(ls.get("late_ms", []), 0.99)
        layer["serving.requests_sent"] = ln.get("requests_sent", 0)
        layer["serving.requests_failed"] = ln.get("requests_failed", 0)
        rows.append(("nearest_recall", "fraction", layer["nearest_recall"], "", None,
                     len(ls.get("recall", []))))
        if a.trace:
            rows.append(("max_rate_rps", "req/s", layer.get("max_rate_rps", 0.0), "", None, 1))
        rows.append(("ingest.lookup_p50_ms", "ms", layer.get("ingest.lookup_p50_ms", 0.0), "p99",
                     layer.get("ingest.lookup_p99_ms", 0.0), int(ln.get("ingest.sent", 0))))
        il, _ = timing("ingest_lag_ms", "ms", ls.get("ingest_lag_ms", []))
        layer["ingest_lag_p50_ms"] = il
        layer["ingest_lag_p99_ms"] = quantile(ls.get("ingest_lag_ms", []), 0.99)
        ok, detail = check_newest_wins(res, lg, data_info["dir"])
        checks.append(("final served f_d is newest-wins over all updates", ok, detail))
        checks += [(c["name"], c["ok"], c["detail"]) for c in lg["checks"]]
        if failed:
            checks.append(("no request failed or returned a wrong value", False,
                           f"{failed} of {attempted} failed"))
    if a.workload in CLOSED:
        attempted = max(attempted, 1)
    e2e["op_p50_ms"] = (p50, "ms")
    layer["op_cold_ms"] = tl
    layer["failed_frac"] = failed / max(1, attempted)
    rows.append(("failed_frac", "fraction", layer["failed_frac"], "", None, attempted))
    rows.append(("peak_rss_mb", "MB", layer["peak_rss_mb"], "", None, 1))
    correct = all(ok for _, ok, _ in checks)
    return correct, attempted, failed, e2e, layer, rows, checks


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=None,
                    help="input scale (default: the workload's benchmark scale)")
    a = ap.parse_args()
    # a terminated run still stops and waits for its child processes
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    start = time.monotonic()
    root = os.getcwd()
    if not (os.path.isfile(os.path.join(root, "build.sbt"))
            and os.path.isdir(os.path.join(root, "src", "main", "scala", "graft"))):
        fail("run from the root of a graft checkout (build.sbt and src/main/scala/graft not found)")
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        bench = json.load(f)

    work = os.path.join(root, ".bench_build", "perfbench")
    os.makedirs(work, exist_ok=True)
    nproc = nproc_for_host()
    heap = heap_for_host()
    classpath = build(root, work)
    built = time.monotonic()

    kind, scale = WORKLOADS[a.workload]
    scale = a.scale if a.scale is not None else scale
    data, info, gen_s = gen.generate(kind, a.seed, scale, os.path.join(work, "data"))
    info["dir"] = data
    t = time.perf_counter()
    expected = oracle.replay(a.workload, data, os.path.join(work, "oracle_sql"), a.seed, nproc)
    oracle_s = time.perf_counter() - t
    corpus = None
    if a.workload == "training_set" and a.trace:
        corpus, cinfo, cgen_s = gen.generate(
            "corpus", a.seed, max(0.02, CORPUS_SCALE * scale), os.path.join(work, "data"))
        info["corpus"] = {k: v for k, v in cinfo.items() if k != "dir"}
        gen_s += cgen_s
        t = time.perf_counter()
        expected.update(oracle.replay("corpus_dedup", corpus, os.path.join(work, "oracle_sql"),
                                      a.seed, nproc))
        oracle_s += time.perf_counter() - t

    # a run ends within 180 s of its start; one that built first, within
    # 120 s of the build
    deadline = max(start + 170, built + 120)
    res, lg = run_system(a, classpath, heap, nproc, data, corpus, work, deadline)
    correct, attempted, failed, e2e, layer, rows, checks = summarize(a, res, lg, expected, info)

    host = host_record(nproc, heap)
    host.update(seed=a.seed, scale=scale, workload=a.workload, trace=a.trace,
                seconds=a.seconds, gen_s=round(gen_s, 3), oracle_s=round(oracle_s, 3),
                inputs={k: v for k, v in info.items() if k != "dir"})
    print(f"# perfbench {a.workload} seed={a.seed} " +
          " ".join(f"{k}={v}" for k, v in host.items() if k not in ("workload", "seed", "inputs")))
    print(f"# inputs {json.dumps(host['inputs'])}")
    print(f"# {'metric':<22} {'unit':<9} {'median':>12} {'tail':>14} {'n':>7}")
    for name, unit, med, lbl, tv, n in rows:
        tl = f"{lbl}={tv:.4g}" if tv is not None else ""
        print(f"# {name:<22} {unit:<9} {med:>12.6g} {tl:>14} {n:>7}")
    for name, ok, detail in checks:
        print(f"# check {'ok  ' if ok else 'FAIL'} {name}" + ("" if ok else f": {detail}"))

    if a.trace:
        want = [m["name"] for m in bench["per_layer"]]
        units = {m["name"]: m["unit"] for m in bench["per_layer"]}
        # 0 where a layer did no work on this workload (or a ratio had no base)
        metrics = {k: {"value": float(layer.get(k) or 0.0), "unit": units[k]} for k in want}
    else:
        units = {m["name"]: m["unit"] for m in bench["end_to_end"]}
        metrics = {k: {"value": float(e2e[k][0]), "unit": units[k]} for k in units}
    rdir = os.path.join(work, "results")
    os.makedirs(rdir, exist_ok=True)
    with open(os.path.join(rdir, f"{a.workload}-seed{a.seed}-trace{a.trace}.json"), "w") as f:
        json.dump({"host": host, "rows": rows, "checks": checks, "per_layer": layer,
                   "system": {k: v for k, v in res.items() if k != "final_f_d"},
                   "loadgen": lg}, f)
    print(json.dumps({"correct": correct, "attempted": int(attempted), "failed": int(failed),
                      "metrics": metrics}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
