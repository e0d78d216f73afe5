#!/usr/bin/env python3
"""graft benchmark: runs one workload for one seed against graft's public
entry points (the SparkEntry op builders, Readers, Writers, AnnIndex and the
streaming helpers) and prints its metrics as the last line of stdout.

Usage:
  python3 bench/run.py --workload etl|curate --seed N --seconds S --trace 0|1
  python3 bench/run.py --record etl|curate --seed N [--seed M ...]
  python3 bench/run.py --selftest

See bench/README.md for the workloads, the metrics and the protocol.
"""

import argparse
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402
import gen  # noqa: E402
import stats  # noqa: E402

# Input sizes: orders (lineitem is ~4x), customers, events, users, documents,
# vectors. Each workload generates every table; the small ones feed only the
# traced run's layer probes.
WORKLOADS = {
    "etl": {
        "sizes": [30000, 3000, 30000, 450, 400, 300],
        "ops": ["q02_group_agg", "q09_nearby_selfjoin", "q13_running_window", "q15_asof_join",
                "q18_revenue_join"],
    },
    "curate": {
        "sizes": [2000, 200, 8000, 150, 800, 400],
        "ops": ["q26_ann_bruteforce", "q39_dedup_clusters", "q72_boilerplate_strip"],
    },
}
# the tiny input the class-data sharing archive is trained on
TRAINING_SIZES = [2000, 200, 4000, 100, 200, 100]
TABLES = ["region", "nation", "customer", "orders", "lineitem", "events", "documents", "embeddings"]

PASS_BOUND = 0.25       # BENCHMARK.json bound of pass_s; a steady warm-up ends inside it
STEADY_TOL = PASS_BOUND
WARMUP_PASSES = 6       # every run does exactly these before its timed passes
MIN_TIMED_PASSES = 3
# Two task threads leave the other cores of a 4-core box to the driver
# thread, the JIT compiler threads and the collector. The ops are
# driver-bound at these sizes, so a steady pass is no slower than with four
# threads, and the warm-up flattens after ~5 passes instead of ~9.
TASK_THREADS = 2
# A fixed-size heap: growing from a small one made the first pass ~40 %
# slower (curate: 19-22 s against 13-15 s) and the timed passes noisier.
# JVM logging goes to stderr, so it can never block the reply pipe; no
# perf-data file, so nothing is written to the system temp directory.
JVM_OPTS = ["-Xms3g", "-Xmx3g", "-Xss8m", "-XX:+UseG1GC", "-XX:-UsePerfData", "-Xlog:disable",
            "-Xlog:all=warning:stderr"] + [
    a for p in ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
                "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
                "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
                "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
                "java.base/sun.util.calendar"]
    for a in ("--add-opens", p + "=ALL-UNNAMED")]


def log(msg):
    print("[bench] " + msg, file=sys.stderr, flush=True)


class Jvm:
    """The harness process: one command per line in, one @@-prefixed JSON
    reply per command out."""

    def __init__(self, classpath, run_dir, cores, build_dir, flags=()):
        self.stderr = open(os.path.join(run_dir, "jvm.log"), "w")
        # graft.BoxLock's default file is outside the checkout, where the
        # benchmark must not write; this lock keeps runs of one checkout apart
        env = dict(os.environ, SPARK_GRAFT_LOCK=os.path.join(build_dir, "graft-box.lock"))
        tmp = os.path.join(run_dir, "tmp")
        os.makedirs(tmp)
        self.proc = subprocess.Popen(
            ["java"] + JVM_OPTS + list(flags) + ["-Djava.io.tmpdir=" + tmp, "-cp", classpath, "graftbench.Harness",
                                   os.path.join(run_dir, "data"), os.path.join(run_dir, "work"), str(cores)],
            stdin=subprocess.PIPE, stdout=subprocess.PIPE, stderr=self.stderr, text=True, env=env,
            cwd=run_dir)

    def wait_ready(self):
        """The harness's first reply, once its Spark session is up."""
        return self._read()

    def _read(self):
        for line in self.proc.stdout:
            if line.startswith("@@"):
                reply = json.loads(line[2:])
                if "error" in reply:
                    raise RuntimeError(reply["error"])
                return reply
        raise RuntimeError("harness exited (code %s); see its log" % self.proc.wait())

    def call(self, *words):
        self.proc.stdin.write(" ".join(str(w) for w in words) + "\n")
        self.proc.stdin.flush()
        return self._read()

    def close(self, timeout=60):
        try:
            if self.proc.poll() is None:
                self.proc.stdin.write("quit\n")
                self.proc.stdin.flush()
                self.proc.wait(timeout=timeout)
        except (OSError, subprocess.TimeoutExpired, ValueError):
            self.proc.kill()
            self.proc.wait()
        self.stderr.close()


def cpu_times():
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_share(before, after):
    d = [b - a for a, b in zip(before, after)]
    return d[7] / sum(d) if len(d) > 7 and sum(d) > 0 else 0.0


def loadavg():
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


# --------------------------------------------------------------------------- checks

def oracle_failures(data_dir, oracle, check):
    """Ops whose written output differs from the DuckDB oracle on the same
    inputs (column names, row count, then a NULL/NaN-aware multiset compare)."""
    import duckdb
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet/*.parquet')")
    bad = {}
    for op in check:
        sql = oracle.get(op["op"])
        if sql is None or "error" in op:
            continue
        got = f"read_parquet('{op['path']}/*.parquet')"
        try:
            want_cols = sorted(c[0] for c in con.execute(f"DESCRIBE ({sql})").fetchall())
            got_cols = sorted(c[0] for c in con.execute(f"DESCRIBE SELECT * FROM {got}").fetchall())
            if want_cols != got_cols:
                bad[op["op"]] = f"columns {got_cols} != {want_cols}"
                continue
            cols = ", ".join(f'"{c}"' for c in want_cols)
            n_want = con.execute(f"SELECT count(*) FROM ({sql})").fetchone()[0]
            diff = con.execute(
                f"WITH w AS ({sql}), g AS (SELECT * FROM {got}) SELECT count(*) FROM ("
                f"(SELECT {cols} FROM w EXCEPT ALL SELECT {cols} FROM g) UNION ALL "
                f"(SELECT {cols} FROM g EXCEPT ALL SELECT {cols} FROM w))").fetchone()[0]
            if n_want != op["rows"] or diff:
                bad[op["op"]] = f"rows {op['rows']} vs oracle {n_want}, {diff} differing rows"
        except Exception as e:  # an oracle that cannot run is a failed check
            bad[op["op"]] = f"oracle error: {e}"
    return bad


def expected_failures(workload, seed, check):
    """Ops whose row count or digest differs from the value recorded for this
    seed in bench/expected.json (seeds never recorded are not compared)."""
    with open(os.path.join(HERE, "expected.json")) as f:
        want = json.load(f).get(workload, {}).get(str(seed))
    if want is None:
        return {}, False
    bad = {}
    for op in check:
        rec = want.get(op["op"])
        got = [op.get("rows"), op.get("digest")]
        if rec is None or rec != got:
            bad[op["op"]] = f"recorded {rec}, got {got}"
    return bad, True


# --------------------------------------------------------------------------- traced run

def layer_metrics(p, cores):
    """Per-layer totals of one traced pass, from its op spans and its trace."""
    t = p["trace"]
    jobs = [j for j in t["jobs"] if j["end"] >= j["start"]]
    phases = [(ph["start"], ph["end"]) for ph in t["phases"]]
    m = {k: 0.0 for k in ["entry.construct_s", "entry.construct_jobs", "exec.driver_gap_s",
                          "self.entry_s", "self.catalyst_s", "self.exec_s", "self.run_gap_s"]}
    for op in p["ops"]:
        start, built, end = op["start"], op["built"], op["end"]
        mine = [j for j in jobs if j["group"] == op["op"] or (not j["group"] and start <= j["start"] <= end)]
        job_iv = [(j["start"], j["end"]) for j in mine]
        ph_iv = [(s, e) for s, e in phases if start <= s <= end] + [tuple(op["analysis"])] * ("analysis" in op)
        construct, run = (start, built), (built, end)
        m["entry.construct_s"] += (built - start) / 1e3
        m["entry.construct_jobs"] += sum(1 for j in mine if j["start"] <= built)
        m["exec.driver_gap_s"] += stats.self_time((start, end), job_iv) / 1e3
        m["self.exec_s"] += stats.covered((start, end), job_iv) / 1e3
        m["self.catalyst_s"] += (stats.covered((start, end), job_iv + ph_iv)
                                 - stats.covered((start, end), job_iv)) / 1e3
        m["self.entry_s"] += stats.self_time(construct, job_iv + ph_iv) / 1e3
        m["self.run_gap_s"] += stats.self_time(run, job_iv + ph_iv) / 1e3
    wall = (p["end"] - p["start"]) / 1e3
    m["self.harness_s"] = wall - sum((o["end"] - o["start"]) / 1e3 for o in p["ops"])
    m["trace.unattributed_ratio"] = m["self.harness_s"] / wall
    for name in ["analysis", "optimization", "planning"]:
        m["catalyst.%s_s" % name] = sum(ph["end"] - ph["start"] for ph in t["phases"] if ph["phase"] == name) / 1e3
    m["catalyst.analysis_s"] += sum(o["analysis"][1] - o["analysis"][0] for o in p["ops"] if "analysis" in o) / 1e3
    m["catalyst.codegen_fallback_ops"] = t["codegen_fallback_ops"]
    m["exec.jobs"] = len(jobs)
    m["exec.stages"] = sum(j["stages"] for j in jobs)
    m["exec.tasks"] = sum(j["tasks"] for j in jobs)
    m["exec.task_run_s"] = sum(j["run_ms"] for j in jobs) / 1e3
    m["exec.task_cpu_s"] = sum(j["cpu_ns"] for j in jobs) / 1e9
    m["exec.gc_s"] = t["jvm_gc_ms"] / 1e3
    m["exec.core_busy_ratio"] = m["exec.task_run_s"] / (wall * cores)
    mb = 1024.0 * 1024.0
    m["exec.shuffle_write_mb"] = sum(j["shuffle_write"] for j in jobs) / mb
    m["exec.shuffle_read_mb"] = sum(j["shuffle_read"] for j in jobs) / mb
    m["exec.spill_mb"] = sum(j["spill"] for j in jobs) / mb
    m["exec.peak_task_mem_mb"] = max([j["peak_mem"] for j in jobs] or [0]) / mb
    m["sources.input_mb"] = sum(j["input"] for j in jobs) / mb
    return m


UNITS = {"_s": "s", "_mb": "MB", "_ratio": "ratio"}


def unit_of(name):
    return next((u for suffix, u in UNITS.items() if name.endswith(suffix)), "count")


# --------------------------------------------------------------------------- main

def fresh_dir(build_dir, name):
    path = os.path.join(build_dir, "runs", name)
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path


def class_archive(classpath, build_dir, cores):
    """JVM flags that map the classes one pass of every workload loads from a
    class-data sharing archive, made once per build: it takes seconds off
    JVM start and the first pass of every run. Every run uses it, so a run
    that cannot make it fails rather than time a slower start."""
    path = os.path.join(os.path.dirname(classpath.split(":")[0]), "classes.jsa")
    if not os.path.isfile(path):
        run_dir = fresh_dir(build_dir, "archive")
        jvm = Jvm(classpath, run_dir, cores, build_dir, ["-XX:ArchiveClassesAtExit=" + path + ".tmp"])
        try:
            gen.generate(os.path.join(run_dir, "data"), 0, *TRAINING_SIZES)
            jvm.wait_ready()
            jvm.call("ops", *[op for w in WORKLOADS.values() for op in w["ops"]])
            jvm.call("pass", 0)
        finally:
            jvm.close(timeout=600)  # the archive is written at exit
        shutil.rmtree(run_dir, ignore_errors=True)
        if not os.path.isfile(path + ".tmp"):
            raise RuntimeError("the class-data sharing archive was not written; see the JVM log")
        os.rename(path + ".tmp", path)
    return ["-XX:SharedArchiveFile=" + path]


def run(args):
    root = os.getcwd()
    t_build = time.monotonic()
    spec = WORKLOADS[args.workload]
    cores = min(TASK_THREADS, os.cpu_count() or 1)
    build_dir = os.path.join(root, ".bench_build")
    classpath = build.build(root)
    flags = class_archive(classpath, build_dir, cores)
    build_s = time.monotonic() - t_build
    run_dir = fresh_dir(build_dir, "%s-%d-%d" % (args.workload, args.seed, os.getpid()))
    try:
        measure(args, spec, cores, classpath, flags, build_dir, run_dir, build_s)
    except Exception:
        log_path = os.path.join(run_dir, "jvm.log")
        if os.path.isfile(log_path):
            with open(log_path) as f:
                sys.stderr.writelines(f.readlines()[-40:])
        raise
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def measure(args, spec, cores, classpath, flags, build_dir, run_dir, build_s):
    """One run in a fresh JVM; prints the context record and the result line."""
    jvm = None
    try:
        t_launch = time.monotonic()
        jvm = Jvm(classpath, run_dir, cores, build_dir, flags)
        gen.generate(os.path.join(run_dir, "data"), args.seed, *spec["sizes"])
        context = {"workload": args.workload, "seed": args.seed, "cores": cores,
                   "build_s": build_s, "gen_s": time.monotonic() - t_launch,
                   "load_start": loadavg(), "lock_wait_s": jvm.wait_ready()["lock_wait_s"]}
        context["canary_start"] = jvm.call("canary")
        oracle = jvm.call("ops", *spec["ops"])["oracle"]

        def one_pass(traced=False):
            p = jvm.call("pass", int(traced))
            return p, (p["end"] - p["start"]) / 1e3

        warm = []
        while len(warm) < WARMUP_PASSES:
            p, wall = one_pass()
            if not warm:
                context["first_pass_ops"] = {o["op"]: round((o["end"] - o["start"]) / 1e3, 3) for o in p["ops"]}
            warm.append(wall)
        reached = stats.steady(warm, STEADY_TOL)
        # set-up starts at JVM launch but does not count the wait for the lock
        setup_s = time.monotonic() - t_launch - context["lock_wait_s"]
        context.update(warmup_passes=warm, steady=reached)
        if not reached:
            log("warm-up did not reach steady state (last changes outside %.3f)" % STEADY_TOL)

        # a traced run alternates untraced and traced passes in ABBA order, so
        # both sample the same stretch of the warm-up slope
        cpu0 = cpu_times()
        timed, traced = [], []
        t0 = time.monotonic()
        while time.monotonic() - t0 < args.seconds or len(timed) < MIN_TIMED_PASSES:
            order = [False, True] if len(timed) % 2 == 0 else [True, False]
            for tr in order if args.trace else [False]:
                (traced if tr else timed).append(one_pass(traced=tr)[0])
        context["steal_share"] = steal_share(cpu0, cpu_times())
        context["load_end"] = loadavg()
        heap = None if args.trace else jvm.call("heap")["live_heap_mb"]
        check = jvm.call("check", os.path.join(run_dir, "out"))["ops"]
        probes = jvm.call("probe") if args.trace else {}
        context["canary_end"] = jvm.call("canary")
    finally:
        if jvm is not None:
            jvm.close()

    # ---- correctness: every op execution of the timed passes and the check
    # pass is attempted; a pass execution fails when it throws, a check when
    # it throws or differs from the oracle or the recorded digest
    runs = timed + traced
    thrown = [(op["op"], "threw: " + op["error"]) for p in runs for op in p["ops"] if op["error"]]
    check_bad = {op["op"]: "check pass threw: " + op["error"] for op in check if "error" in op}
    check_bad.update(oracle_failures(os.path.join(run_dir, "data"), oracle, check))
    recorded, context["recorded_seed"] = expected_failures(args.workload, args.seed, check)
    for k, v in recorded.items():
        check_bad.setdefault(k, v)
    failures = dict(thrown)
    failures.update(check_bad)
    attempted = sum(len(p["ops"]) for p in runs) + len(check)
    failed = len(thrown) + len(check_bad)
    context["failures"] = failures
    context["oracle_ops"] = sorted(oracle)
    context["steady_note"] = ("timed passes ran after the warm-up reached steady state" if reached else
                              "NOT STEADY: after %d warm-up passes the last two pass-to-pass "
                              "changes were not both inside %.3f; the timed passes are still on "
                              "the warm-up slope" % (WARMUP_PASSES, STEADY_TOL))

    # ---- metrics
    def walls(ps):
        return [(p["end"] - p["start"]) / 1e3 for p in ps]

    def geomeans(ps):
        return [stats.geomean([max(o["end"] - o["start"], 1e-3) / 1e3 for o in p["ops"]]) for p in ps]

    timed_walls = walls(timed)
    context["timed_passes"] = timed_walls
    if args.trace:
        layers = [layer_metrics(p, cores) for p in traced]
        metrics = {k: stats.median([l[k] for l in layers]) for k in layers[0]}
        metrics.update(probes)
        metrics["trace.overhead_ratio"] = stats.median(walls(traced)) / stats.median(timed_walls)
        context["traced_passes"] = walls(traced)
    else:
        per_op = {}
        for p in timed:
            for o in p["ops"]:
                per_op.setdefault(o["op"], []).append((o["end"] - o["start"]) / 1e3)
        context["op_median_s"] = {k: round(stats.median(v), 4) for k, v in per_op.items()}
        tail = stats.tail_percentile(timed_walls)
        context["pass_tail"] = ({"percentile": tail[0], "value_s": tail[1], "samples": len(timed_walls)}
                                if tail else {"percentile": None, "samples": len(timed_walls),
                                              "note": "fewer than 11 passes: no percentile has "
                                                      "10 samples beyond it"})
        metrics = {"setup_s": setup_s, "pass_s": stats.median(timed_walls),
                   "query_geomean_s": stats.median(geomeans(timed)), "live_heap_mb": heap}
    print(json.dumps({"context": context}))
    print(json.dumps({"correct": not failures, "attempted": attempted, "failed": failed,
                      "metrics": {k: {"value": v, "unit": unit_of(k)} for k, v in metrics.items()}}))


def record(workload, seeds):
    """Record row counts and digests of every op for the given seeds into
    bench/expected.json, from a check pass without timing."""
    root = os.getcwd()
    classpath = build.build(root)
    build_dir = os.path.join(root, ".bench_build")
    spec = WORKLOADS[workload]
    recorded = {}
    for seed in seeds:
        run_dir = fresh_dir(build_dir, "record-%s-%d" % (workload, seed))
        jvm = Jvm(classpath, run_dir, min(TASK_THREADS, os.cpu_count() or 1), build_dir)
        try:
            gen.generate(os.path.join(run_dir, "data"), seed, *spec["sizes"])
            jvm.wait_ready()
            oracle = jvm.call("ops", *spec["ops"])["oracle"]
            check = jvm.call("check", os.path.join(run_dir, "out"))["ops"]
        finally:
            jvm.close()
        bad = {op["op"]: op["error"] for op in check if "error" in op}
        bad.update(oracle_failures(os.path.join(run_dir, "data"), oracle, check))
        if bad:
            raise SystemExit("seed %d: not recorded, ops failed: %s" % (seed, bad))
        recorded[str(seed)] = {op["op"]: [op["rows"], op["digest"]] for op in check}
        shutil.rmtree(run_dir, ignore_errors=True)
        log("recorded %s seed %d" % (workload, seed))
    path = os.path.join(HERE, "expected.json")
    with open(path) as f:
        expected = json.load(f)
    expected.setdefault(workload, {}).update(recorded)
    with open(path, "w") as f:
        json.dump(expected, f, indent=1, sort_keys=True)
        f.write("\n")


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, action="append")
    ap.add_argument("--seconds", type=float, default=20)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--record", choices=sorted(WORKLOADS))
    ap.add_argument("--selftest", action="store_true")
    args = ap.parse_args()
    try:
        if args.selftest:
            cp = build.build(os.getcwd())
            tmp = fresh_dir(os.path.join(os.getcwd(), ".bench_build"), "selftest")
            code = subprocess.call(["java"] + JVM_OPTS + ["-Djava.io.tmpdir=" + tmp, "-cp", cp,
                                                          "graftbench.Harness", "selftest"], cwd=tmp)
            shutil.rmtree(tmp, ignore_errors=True)
            code |= subprocess.call([sys.executable, "-m", "unittest", "-q", "test_stats"], cwd=HERE)
            sys.exit(code)
        if args.record:
            record(args.record, args.seed or [])
            return
        if not args.workload or not args.seed or len(args.seed) != 1:
            ap.error("--workload and one --seed are required")
        args.seed = args.seed[0]
        run(args)
    except (OSError, RuntimeError, subprocess.CalledProcessError) as e:
        log("failed: %s" % e)
        sys.exit(2)


if __name__ == "__main__":
    main()
