#!/usr/bin/env python3
"""Closed-loop benchmark of the graft library (see perfbench/README.md).

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

The first run in a checkout builds the library and the harness with sbt
(offline) and generates the fixtures and their oracle digests under
`.bench_build/`; later runs reuse them while the sources are unchanged.
Each run starts a fresh JVM with `java` directly, so no build tool output
can mix with the result. The last line of standard output is the result:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the metrics
are the end-to-end ones of untraced passes; with --trace 1 they are the
per-layer ones of a traced pass, which runs between two untraced passes in
the same JVM so that the tracing overhead can be measured.
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
sys.path.insert(0, os.path.join(HERE, "pylib"))

import digest  # noqa: E402
import fixture  # noqa: E402
import metrics  # noqa: E402
import workloads  # noqa: E402

BUILD_DIR = ".bench_build"
FIXTURE_SF = 0.01
# one fixture for the priming pass and one per timed pass, at most
PRIME_SEED, PASS_SEEDS = 43, [42, 44, 45]
RUN_DEADLINE_S = 170
UNITS = {"setup_s": "s", "makespan_s": "s", "job_p50_s": "s"}


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg, code=2):
    log("error: " + msg)
    sys.exit(code)


# --- pinned environment ---------------------------------------------------------

def cpus():
    return len(os.sched_getaffinity(0))


def heap():
    """Half of MemTotal in whole GB, clamped to [2, 8] — the sizing the
    repository's tier-1 verify uses instead of build.sbt's 24g default."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
        return f"{min(8, max(2, kb // 2097152))}g"
    except (OSError, StopIteration, ValueError):
        return "2g"


def steal_s():
    """CPU time the hypervisor gave to other guests, summed over all CPUs."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


def jvm_env(tmp):
    """The environment of every benchmark JVM: program knobs cleared, cores
    and heap pinned, scratch kept inside the checkout."""
    env = {k: v for k, v in os.environ.items()
           if not k.startswith(("SPARK_GRAFT_", "GRAFT_", "SPARK_DRIVER_MEM"))}
    env.update({
        "SPARK_GRAFT_CPUS": str(cpus()),
        "SPARK_DRIVER_MEM": heap(),
        "SPARK_GRAFT_NO_TMPFS": "1",
        "SPARK_GRAFT_CONF": f"spark.sql.warehouse.dir={os.path.join(tmp, 'warehouse')}",
    })
    return env


# --- build --------------------------------------------------------------------------

def _source_stamp(root):
    h = hashlib.sha256()
    tops = ["build.sbt", "project/build.properties", "src/main",
            "perfbench/build.sbt", "perfbench/project/build.properties", "perfbench/src/main"]
    for top in tops:
        path = os.path.join(root, top)
        files = [path] if os.path.isfile(path) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(path) for f in fs)
        for p in files:
            h.update(os.path.relpath(p, root).encode())
            with open(p, "rb") as f:
                h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def ensure_build(root, bdir):
    """Compiles the library and the harness once per source state and
    returns the launch directory (classpath, JVM options, oracle SQL)."""
    launch = os.path.join(bdir, "launch")
    stamp = _source_stamp(root)
    stamp_file = os.path.join(launch, "stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return launch
    log("building library and harness with sbt (first run in this checkout)")
    shutil.rmtree(launch, ignore_errors=True)
    os.makedirs(launch)
    env = dict(os.environ, COURSIER_MODE="offline", PERFBENCH_LAUNCH_DIR=launch,
               SPARK_DRIVER_MEM=heap())
    repos = os.path.expanduser("~/.sbt/repositories")
    offline = "-Dsbt.offline=true -Xmx2g"
    if os.path.exists(repos):
        offline = f"-Dsbt.override.build.repos=true -Dsbt.repository.config={repos} " + offline
    env["SBT_OPTS"] = os.environ.get("SBT_OPTS", offline)
    with open(os.path.join(bdir, "build.log"), "w") as out:
        rc = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true",
                             "-Dsbt.server.forcestart=false", "writeLaunch"],
                            cwd=os.path.join(root, "perfbench"), env=env,
                            stdout=out, stderr=subprocess.STDOUT).returncode
    if rc != 0:
        fail(f"sbt build failed (exit {rc}); see {BUILD_DIR}/build.log")
    run_java(launch, ["perfbench.Oracles", os.path.join(launch, "oracle_sql.json")],
             os.path.join(bdir, "oracles.log"), jvm_env(bdir), timeout=300)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return launch


# --- inputs -----------------------------------------------------------------------------

def ensure_fixture(bdir, launch, seed):
    """One fixture's tables and the oracle digest of every fixture job,
    generated once per checkout (the oracle SQL is part of the sources)."""
    with open(fixture.__file__, "rb") as f:     # a changed generator makes new tables
        gen = hashlib.sha256(f.read()).hexdigest()[:8]
    fdir = os.path.join(bdir, f"fixture-sf{FIXTURE_SF}-seed{seed}-{gen}")
    if not os.path.exists(os.path.join(fdir, "done")):
        log(f"generating fixture tables at sf{FIXTURE_SF}, seed {seed}")
        shutil.rmtree(fdir, ignore_errors=True)
        fixture.write(fdir, FIXTURE_SF, seed)
        open(os.path.join(fdir, "done"), "w").close()
    with open(os.path.join(launch, "oracle_sql.json")) as f:
        sql = json.load(f)
    key = hashlib.sha256(json.dumps([fdir, sql, workloads.ORACLE_ENTRIES],
                                    sort_keys=True).encode()).hexdigest()[:16]
    path = os.path.join(bdir, f"oracle-{key}.json")
    if not os.path.exists(path):
        log(f"computing oracle digests with DuckDB for fixture seed {seed}")
        import duckdb
        con = duckdb.connect()
        for t in fixture.TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"read_parquet('{os.path.join(fdir, t + '.parquet')}')")
        out = {}
        for name in workloads.ORACLE_ENTRIES:
            if name not in sql:
                fail(f"entry {name} has no oracle SQL")
            cur = con.execute(sql[name])
            out[name] = digest.digest([d[0] for d in cur.description], cur.fetchall())
        with open(path + ".tmp", "w") as f:
            json.dump(out, f)
        os.replace(path + ".tmp", path)
    with open(path) as f:
        return fdir, json.load(f)


# --- JVM runs ----------------------------------------------------------------------------

_children = []


def _kill_children(*_):
    for p in _children:
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
    sys.exit(3)


def run_java(launch, args, log_path, env, timeout):
    with open(os.path.join(launch, "classpath.txt")) as f:
        cp = ":".join(l.strip() for l in f if l.strip())
    with open(os.path.join(launch, "javaopts.txt")) as f:
        opts = [l.strip() for l in f if l.strip() and not l.startswith(("-Xmx", "-Xms"))]
    mem = env.get("SPARK_DRIVER_MEM", heap())
    tmp = os.path.join(os.path.dirname(log_path), "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java"] + opts + [f"-Xmx{mem}", f"-Xms{mem}", f"-Djava.io.tmpdir={tmp}",
                              "-cp", cp] + args)
    with open(log_path, "w") as out:
        p = subprocess.Popen(cmd, env=env, stdout=out, stderr=subprocess.STDOUT,
                             start_new_session=True)
        _children.append(p)
        try:
            rc = p.wait(timeout=timeout)
        except BaseException as e:   # timeout, or interrupted: never leave it running
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            if isinstance(e, subprocess.TimeoutExpired):
                fail(f"JVM timed out after {timeout:.0f} s; see {log_path}", code=3)
            raise
    if rc != 0:
        fail(f"JVM exited {rc}; see {log_path}", code=3)


def bench_jvm(launch, rundir, name, plan, traced, deadline):
    d = os.path.join(rundir, name)
    os.makedirs(d)
    env = jvm_env(os.path.join(d, "tmp"))
    p = dict(plan, traced=traced)
    plan_path, res_path = os.path.join(d, "plan.json"), os.path.join(d, "result.json")
    with open(plan_path, "w") as f:
        json.dump(p, f)
    run_java(launch, ["perfbench.Main", plan_path, res_path], os.path.join(d, "jvm.log"),
             env, timeout=max(10.0, deadline - time.time()))
    with open(res_path) as f:
        return json.load(f)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=workloads.WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    signal.signal(signal.SIGTERM, _kill_children)

    root = os.getcwd()
    for need in ("build.sbt", "src/main/scala", "perfbench/build.sbt"):
        if not os.path.exists(os.path.join(root, need)):
            fail(f"{need} not found: run from the root of a full checkout")
    bdir = os.path.join(root, BUILD_DIR)
    os.makedirs(bdir, exist_ok=True)
    with open(os.path.join(bdir, "lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        launch = ensure_build(root, bdir)
        fixtures = {"prime": ensure_fixture(bdir, launch, PRIME_SEED),
                    "passes": [ensure_fixture(bdir, launch, s) for s in PASS_SEEDS]}
    deadline = time.time() + RUN_DEADLINE_S

    n = workloads.pass_count(a.workload, a.seconds, a.trace)
    plan = workloads.plan(a.workload, a.seed,
                          dict(fixtures, passes=fixtures["passes"][:n]))
    plan.update(fixture_dir=fixtures["passes"][0][0], tables=fixture.TABLES)
    # the last run's plans, results and JVM logs stay for inspection
    rundir = os.path.join(bdir, "last-run")
    shutil.rmtree(rundir, ignore_errors=True)
    try:
        steal0 = steal_s()
        result = bench_jvm(launch, rundir, "jvm", plan, bool(a.trace), deadline)
        result["host_steal_s"] = steal_s() - steal0
        if a.trace:
            values = metrics.per_layer(result, plan)
            out = {k: {"value": values[k], "unit": u} for k, u in metrics.PER_LAYER.items()}
        else:
            values = metrics.end_to_end(result)
            out = {k: {"value": values[k], "unit": UNITS[k]} for k in UNITS}
        jobs = result["jobs"]
        failed = sum(1 for j in jobs if not j["ok"])
        for j in jobs:
            if not j["ok"]:
                log(f"job {j['name']} failed: {j['error']}")
        for w in result["untimed_errors"]:
            log(f"untimed job failed: {w}")
        record = {"workload": a.workload, "seed": a.seed, "trace": a.trace,
                  "cpus": cpus(), "heap": heap(), "source": _source_stamp(root)[:16],
                  "passes": len({j["pass"] for j in jobs}),
                  "host_steal_s": result["host_steal_s"], "metrics": out,
                  "jobs": [[j["name"], (j["end"] - j["start"]) / 1000.0] for j in jobs]}
        with open(os.path.join(bdir, "results.jsonl"), "a") as f:
            f.write(json.dumps(record) + "\n")
    finally:
        shutil.rmtree(os.path.join(rundir, "jvm", "tmp"), ignore_errors=True)
    print(json.dumps({"correct": failed == 0 and not result["untimed_errors"],
                      "attempted": len(jobs), "failed": failed, "metrics": out}))


if __name__ == "__main__":
    main()
