#!/usr/bin/env python3
"""perfbench: the graft benchmark.

Run from the root of a graft checkout:

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds graft and the harness from source (sbt, offline; cached by a
hash of the sources), generates the seeded inputs (cached per seed),
runs the workload in one JVM on local[nproc], checks every result and
prints one JSON line last: with --trace 0 the end-to-end metrics, with
--trace 1 the per-layer metrics of a traced run. Everything it writes
stays under perfbench/.state in the checkout. See perfbench/README.md.
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

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(HERE, ".state")

# scale factor of each workload's generated inputs (sf 0.01 = 60 000
# lineitem rows); see README.md for why each is sized as it is
WORKLOADS = {"query": 0.05, "maintain": 0.02}
CYCLES = 40          # maintain cycles generated; a run uses what fits
JVM_TIMEOUT = 150    # seconds; the whole run must end within 180


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


_child = None


def run_child(cmd, cwd, log, timeout, env=None):
    """Runs cmd in its own process group with output to `log`; on
    timeout or when this process is terminated the whole group is
    killed and waited for. Returns the exit code, None on timeout."""
    global _child
    with open(log, "w") as out:
        _child = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=out, stderr=subprocess.STDOUT,
                                  start_new_session=True)
        try:
            return _child.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            _stop_child()
            return None
        finally:
            _child = None


def _stop_child():
    if _child is not None and _child.poll() is None:
        os.killpg(_child.pid, signal.SIGKILL)
        _child.wait()


def _on_signal(signum, _frame):
    _stop_child()
    sys.exit(128 + signum)


def cores():
    return len(os.sched_getaffinity(0))


def heap_gb():
    """A quarter of MemTotal, between 2 and 4 GiB."""
    with open("/proc/meminfo") as f:
        kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
    return max(2, min(4, kb // (4 * 1024 * 1024)))


def sources_hash():
    h = hashlib.sha256()
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for d, dirs, files in sorted(os.walk(base)):
            dirs.sort()
            for f in sorted(files):
                p = os.path.join(d, f)
                h.update(p.encode())
                h.update(open(p, "rb").read())
    for p in ("build.sbt", "project/build.properties", "perfbench/build.sbt",
              "perfbench/project/build.properties"):
        h.update(open(os.path.join(ROOT, p), "rb").read())
    return h.hexdigest()


def build():
    """Compile graft and the harness; returns the runtime classpath."""
    stamp = os.path.join(STATE, "build", "stamp")
    cpfile = os.path.join(STATE, "build", "classpath")
    key = sources_hash()
    if os.path.exists(stamp) and open(stamp).read() == key and os.path.exists(cpfile):
        return open(cpfile).read()
    os.makedirs(os.path.dirname(stamp), exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    log = os.path.join(STATE, "build", "sbt.log")
    rc = run_child(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                    "export Runtime/fullClasspath"], HERE, log, 840, env)
    lines = open(log).read().splitlines()
    cp = [l for l in lines if "perfbench" in l and ":" in l and not l.startswith("[")]
    if rc != 0 or not cp:
        sys.stderr.write("\n".join(lines[-30:]) + "\n")
        fail(f"build failed (log: {log})")
    # class directories go into jars, so the JVM can map every class
    # of the classpath from a class-data-sharing archive
    jars = []
    for entry in cp[-1].strip().split(":"):
        if os.path.isdir(entry):
            jar = os.path.join(STATE, "build", f"classes{len(jars)}.jar")
            shutil.make_archive(jar[:-4], "zip", entry)
            os.replace(jar[:-4] + ".zip", jar)
            entry = jar
        jars.append(entry)
    classpath = ":".join(jars)
    train(classpath)
    with open(cpfile, "w") as f:
        f.write(classpath)
    with open(stamp, "w") as f:
        f.write(key)
    return classpath


def train(cp):
    """Dumps the classes one query pass loads into a class-data-sharing
    archive (CDS); later JVMs map them instead of loading and verifying
    them one by one, which takes seconds off every run's start."""
    archive = os.path.join(STATE, "build", "classes.jsa")
    if os.path.exists(archive):
        os.remove(archive)
    data = inputs("query", 0)
    work = os.path.join(STATE, "work", f"train-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        run_jvm(cp, ["query", "0", "0", "0", data, work, str(cores())], work,
                [f"-XX:ArchiveClassesAtExit={archive}"])
    finally:
        shutil.rmtree(work, ignore_errors=True)


def inputs(workload, seed):
    sf = WORKLOADS[workload]
    cycles = CYCLES if workload == "maintain" else 0
    d = os.path.join(STATE, "data", f"sf{sf}-seed{seed}-c{cycles}")
    if not os.path.exists(os.path.join(d, "_DONE")):
        shutil.rmtree(d, ignore_errors=True)
        subprocess.run([sys.executable, os.path.join(HERE, "gen.py"), d, str(sf), str(seed),
                        str(cycles)], check=True)
        open(os.path.join(d, "_DONE"), "w").close()
    return d


def run_jvm(cp, args, work, jvm_opts=()):
    opens = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
        "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
        "sun.nio.cs", "sun.security.action", "sun.util.calendar")]
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    archive = os.path.join(STATE, "build", "classes.jsa")
    if not jvm_opts and os.path.exists(archive):
        jvm_opts = [f"-XX:SharedArchiveFile={archive}", "-Xlog:cds=off", "-Xlog:cds+dynamic=off"]
    cmd = (["java", f"-Xmx{heap_gb()}g", f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC"] + list(jvm_opts) + opens +
           ["-cp", cp, "perfbench.Main"] + args)
    log = os.path.join(work, "jvm.log")
    # bucketed tables get one bucket per core, as shuffles get one
    # partition per core
    env = dict(os.environ, SPARK_GRAFT_BUCKETS=str(cores()))
    rc = run_child(cmd, work, log, JVM_TIMEOUT, env)
    if rc is None:
        fail(f"harness timed out after {JVM_TIMEOUT} s")
    if rc != 0 or not os.path.exists(os.path.join(work, "result.json")):
        sys.stderr.write("".join(open(log).readlines()[-40:]))
        fail(f"harness exited with {rc}")
    return json.load(open(os.path.join(work, "result.json")))


def tail(xs):
    """The highest percentile with at least 10 samples beyond it."""
    s = sorted(xs)
    i = max(0, len(s) - 11)
    return s[i], 100.0 * (i + 1) / len(s)


def per_statement_median(samples):
    by = {}
    for name, _, t in samples:
        by.setdefault(name, []).append(t)
    return {n: statistics.median(ts) for n, ts in by.items()}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    for p in ("build.sbt", "src/main/scala/graft", "perfbench/build.sbt"):
        if not os.path.exists(os.path.join(ROOT, p)):
            fail(f"not a graft checkout: {ROOT}/{p} is missing")
    global checks
    import checks  # beside this file; uses tools/ of the checkout, duckdb and pyarrow

    cp = build()
    data = inputs(a.workload, a.seed)
    work = os.path.join(STATE, "work", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        r = run_jvm(cp, [a.workload, str(a.seed), str(a.seconds), str(a.trace), data, work,
                         str(cores())], work)
        report(a, r, data)
    finally:
        last = os.path.join(STATE, "last")
        os.makedirs(last, exist_ok=True)
        for f in ("jvm.log", "trace.json", "result.json"):
            if os.path.exists(os.path.join(work, f)):
                shutil.copy(os.path.join(work, f), os.path.join(last, f"{a.workload}-{f}"))
        shutil.rmtree(work, ignore_errors=True)


def report(a, r, data):
    # ---- correctness ----
    bad = [(n, m) for n, m in r["failures"]]
    con = checks.connect(data)
    if a.workload == "maintain":
        con, mismatches = checks.replay(data, r["copy"], r["cycles_applied"], r["dml_stats"])
        bad += mismatches
    for name, path, oracle in r["dumps"]:
        try:
            if oracle:
                why = checks.compare(con, oracle, path)
            else:
                why = checks.dedup(data, name, path)
        except Exception as e:  # a check that cannot run is a failed check
            why = f"check error {type(e).__name__}: {e}"
        if why:
            bad.append((name, why))
    for name, why in bad:
        print(f"FAIL {name}: {why}")
    errored = {n for n, _ in r["failures"]}
    failed = len(r["failures"]) + sum(
        r["executions"].get(n, 1) for n in {n for n, _ in bad} if n not in errored)
    attempted = max(1, r["attempted"])

    samples = r["samples"]
    lat = [s[2] for s in samples]
    if not lat or not r["passes"]:
        fail("no statement completed in the timed window")
    setup = r["setup"]
    t, pct = tail(lat)
    print(f"{len(r['passes'])} passes, {len(lat)} statements; latency p50 "
          f"{statistics.median(lat):.4f} s, tail p{pct:.1f} {t:.4f} s; "
          f"fail_ratio {failed / attempted:.4f}")
    if a.trace == 0:
        metrics = {
            "setup_s": (statistics.median(setup["round_s"]), "s"),
            "pass_s": (statistics.median(r["passes"]), "s"),
        }
    else:
        lay = r["layers"]
        metrics = {k: (v, unit(k)) for k, v in lay.items()}
        for k in ("cold_s", "session_s", "register_s", "bucketize_s", "warmup_s"):
            metrics[f"setup.{k}"] = (statistics.median(setup[k]), "s")
        for op in ("insert", "update", "delete", "merge", "compact"):
            xs = [s[2] for s in samples if s[0].startswith(op + "_")]
            metrics[f"dml.{op}_s"] = (statistics.mean(xs) if xs else 0.0, "s")
        for kind in ("write", "read"):
            xs = [s[2] for s in samples if s[1] == kind]
            metrics[f"{kind}_p50_s"] = (statistics.median(xs) if xs else 0.0, "s")
        metrics["latency_p50_s"] = (statistics.median(lat), "s")
        metrics["latency_tail_s"] = (t, "s")
        metrics["fail_ratio"] = (failed / attempted, "ratio")
        # same-session DuckDB reference over the oracle-gated statements
        # the untraced window ran, each once at its median latency
        graft = per_statement_median(samples)
        oracles = {n: o for n, _, o in r["dumps"] if o and n in graft}
        duck = checks.duckdb_times(data, sorted(oracles.items()), cores())
        metrics["baseline.duckdb_pass_s"] = (sum(duck.values()), "s")
        metrics["baseline.graft_pass_s"] = (sum(graft[n] for n in duck), "s")
        print(f"baseline: duckdb {checks.duckdb.__version__}, threads {cores()}, "
              f"{len(duck)} statements")
    print(json.dumps({
        "correct": not bad,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))


def unit(name):
    if name.endswith("_rows_per_s"):
        return "1/s"
    if name.endswith("_s"):
        return "s"
    if name.endswith("_ratio") or name.endswith("write_amp"):
        return "ratio"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith("bytes"):
        return "bytes"
    return "count"


if __name__ == "__main__":
    signal.signal(signal.SIGTERM, _on_signal)
    signal.signal(signal.SIGINT, _on_signal)
    main()
