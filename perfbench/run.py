#!/usr/bin/env python3
"""Benchmark runner: builds the program, generates its inputs, runs one
workload in one JVM and prints the result as the last line of stdout.

    python3 perfbench/run.py --workload <query_mix|production_day>
        --seed <n> --seconds <s> --trace <0|1> [--sf <scale>] [--corrupt]

Run it from the root of a checkout. The first run builds the program
and the runner with sbt (perfbench/build.sbt, offline) and generates
the fixtures (perfbench/gendata.py), and production_day's first run lands
its KBO input tables with Stage000LandTables; later runs reuse all three
while the sources are unchanged. Everything it writes stays under
perfbench/work.

The last stdout line is {"correct", "attempted", "failed", "metrics"}:
with --trace 0 the end-to-end metrics of BENCHMARK.json, with --trace 1
its per-layer metrics (a layer the workload does not exercise reads 0).
The line before it records the run: seed, workload, the figures each
workload names, and any output-check failures. `--corrupt` damages one
output before the checks, to show that they catch it.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

sys.dont_write_bytecode = True

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, "work")
# fixture scale per workload
WORKLOAD_SF = {"query_mix": 0.01, "production_day": 0.1}
JVM_TIMEOUT_S = 170
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def die(msg):
    log(msg)
    sys.exit(2)


def digest(paths):
    h = hashlib.sha256()
    for p in sorted(paths):
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def build():
    """Compile the program and the runner; return the runtime classpath."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        die("no program sources (src/main/scala) next to the benchmark")
    sources = (glob.glob(os.path.join(ROOT, "src/main/**/*"), recursive=True)
               + glob.glob(os.path.join(HERE, "src/**/*"), recursive=True)
               + [os.path.join(ROOT, "build.sbt"),
                  os.path.join(HERE, "build.sbt")])
    stamp = digest([p for p in sources if os.path.isfile(p)])
    cp_file = os.path.join(WORK, "classpath.txt")
    stamp_file = os.path.join(WORK, "build.stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp_file) \
            and open(stamp_file).read() == stamp:
        return open(cp_file).read().strip()
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false",
            "-XX:-UsePerfData",
            "-Dsbt.log.noformat=true", f"-Djava.io.tmpdir={tmp}",
            f"-Djna.tmpdir={tmp}", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true",
                 f"-Dsbt.repository.config={repos}"]
    env = dict(os.environ, COURSIER_MODE="offline", SBT_OPTS=" ".join(opts))
    log("building the program and the runner with sbt")
    t0 = time.time()
    out = run_proc(["sbt", "--batch", "compile",
                    "export perfbench/Runtime/fullClasspath"],
                   cwd=HERE, env=env, timeout=840, capture=True)
    if out is None:
        die("sbt build failed")
    lines = [l for l in out.splitlines() if ".jar" in l and os.pathsep in l]
    if not lines:
        die("sbt printed no classpath")
    with open(cp_file, "w") as f:
        f.write(lines[-1].strip())
    with open(stamp_file, "w") as f:
        f.write(stamp)
    log(f"built in {time.time() - t0:.0f} s")
    return lines[-1].strip()


def run_proc(cmd, cwd, env, timeout, capture=False):
    """Run `cmd` in its own process group; kill the group on timeout.
    Returns its stdout (capture) or "" on success, None on failure."""
    p = subprocess.Popen(cmd, cwd=cwd, env=env, start_new_session=True,
                         stdout=subprocess.PIPE if capture else sys.stderr,
                         stderr=sys.stderr, text=True)
    try:
        out, _ = p.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        log(f"timed out after {timeout} s: {cmd[0]}")
        return None
    finally:
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
    if p.returncode != 0:
        if capture and out:
            sys.stderr.write(out[-4000:])
        return None
    return out or ""


def fixtures(sf):
    """The fixture tables at scale `sf`, generated once per generator."""
    gen = os.path.join(HERE, "gendata.py")
    d = os.path.join(WORK, "data", f"sf{sf}-{digest([gen])[:12]}")
    if not os.path.exists(os.path.join(d, "_done")):
        shutil.rmtree(d, ignore_errors=True)
        if run_proc([sys.executable, gen, d, str(sf)], HERE, None, 300) is None:
            die("fixture generation failed")
        open(os.path.join(d, "_done"), "w").close()
    return d


def run_java(classpath, work, args):
    """Run perfbench.Main with scratch space under `work`."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", *ADD_OPENS, "-Xmx3g", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
           "-cp", classpath, "perfbench.Main", "--work", work, *args]
    return run_proc(cmd, ROOT, None, JVM_TIMEOUT_S) is not None


def landed_tables(classpath, data):
    """The KBO input tables Stage000LandTables derives from the fixtures:
    seed-independent, so they are landed once per build and fixture set,
    like the fixtures themselves."""
    stamp = open(os.path.join(WORK, "build.stamp")).read()[:12]
    d = os.path.join(WORK, "landed", f"{os.path.basename(data)}-{stamp}")
    if not os.path.exists(os.path.join(d, "_done")):
        shutil.rmtree(d, ignore_errors=True)
        scratch = os.path.join(WORK, "landing")
        shutil.rmtree(scratch, ignore_errors=True)
        if not run_java(classpath, scratch, ["--land", d, "--data", data]):
            die("landing the KBO input tables failed")
        shutil.rmtree(scratch, ignore_errors=True)
        open(os.path.join(d, "_done"), "w").close()
    return d


def cpu_ticks():
    """(steal, total) CPU ticks of the host so far: the share of CPU time
    the hypervisor gave to other guests during a run explains much of the
    run-to-run spread on a shared host."""
    with open("/proc/stat") as f:
        t = [int(x) for x in f.readline().split()[1:9]]
    return t[7], sum(t)


def canon(df):
    df = df.reindex(sorted(df.columns), axis=1)
    return df.sort_values(by=list(df.columns), na_position="first",
                          ignore_index=True, kind="mergesort")


def oracle_failures(results, data):
    """Compare each query result with its DuckDB oracle twin: same
    columns, same rows, exact values. Oracle answers are cached per SQL
    text and fixture set."""
    import duckdb
    import pandas as pd
    import pyarrow.parquet as pq
    sqls = json.load(open(os.path.join(results, "oracle_sql.json")))
    cache = os.path.join(WORK, "oracle")
    os.makedirs(cache, exist_ok=True)
    con = None
    bad = []
    for name, sql in sorted(sqls.items()):
        key = hashlib.sha256((data + "\0" + sql).encode()).hexdigest()[:24]
        cached = os.path.join(cache, f"{key}.parquet")
        try:
            if not os.path.exists(cached):
                if con is None:
                    con = duckdb.connect()
                    con.execute("SET threads TO 4")
                    for t in TABLES:
                        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                                    f"'{data}/{t}.parquet'")
                pq.write_table(con.execute(sql).fetch_arrow_table(),
                               cached + ".tmp")
                os.replace(cached + ".tmp", cached)
            duck = canon(pd.read_parquet(cached))
            files = glob.glob(os.path.join(results, name, "*.parquet"))
            if not files:
                bad.append(f"{name}: no result")
                continue
            got = canon(pd.concat([pd.read_parquet(f) for f in files]))
        except Exception as e:  # a failing oracle or unreadable result
            bad.append(f"{name}: {str(e)[:200]}")
            continue
        if list(got.columns) != list(duck.columns):
            bad.append(f"{name}: columns {list(got.columns)} vs "
                       f"{list(duck.columns)}")
        elif len(got) != len(duck):
            bad.append(f"{name}: {len(got)} rows vs {len(duck)}")
        else:
            for c in got.columns:
                a = got[c].astype(object).where(pd.notna(got[c]), None)
                b = duck[c].astype(object).where(pd.notna(duck[c]), None)
                if not a.equals(b):
                    bad.append(f"{name}: column {c} differs")
                    break
    return bad


def metric_names(kind):
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    return [(m["name"], m["unit"]) for m in spec[kind]]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True,
                    choices=sorted(WORKLOAD_SF))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--sf", type=float)
    ap.add_argument("--corrupt", action="store_true")
    a = ap.parse_args()
    if not os.path.exists(os.path.join(ROOT, "BENCHMARK.json")):
        die("BENCHMARK.json not found at the checkout root")

    os.makedirs(WORK, exist_ok=True)
    classpath = build()
    a.sf = a.sf or WORKLOAD_SF[a.workload]
    data = fixtures(a.sf)
    rundir = os.path.join(WORK, "runs", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(rundir, ignore_errors=True)
    os.makedirs(rundir)
    inputs = {}
    if a.workload == "production_day":
        shutil.copytree(landed_tables(classpath, data),
                        os.path.join(rundir, "lake"),
                        ignore=shutil.ignore_patterns("_done"))
        sys.path.insert(0, HERE)
        import gendata
        late, again = gendata.day_files(os.path.join(data, "events.parquet"),
                                        os.path.join(rundir, "days"), a.seed)
        inputs = {"late_share": late, "redeliver_share": again}
    cpu0 = cpu_ticks()
    ok = run_java(classpath, rundir, [
        "--workload", a.workload, "--seed", str(a.seed),
        "--seconds", str(a.seconds), "--trace", str(a.trace),
        "--data", data] + (["--corrupt", "1"] if a.corrupt else []))
    cpu1 = cpu_ticks()
    result_file = os.path.join(rundir, "result.json")
    if not ok or not os.path.exists(result_file):
        die("the workload JVM failed")
    res = json.load(open(result_file))
    failures = list(res["failures"])
    if a.workload == "query_mix":
        failures += oracle_failures(os.path.join(rundir, "results"), data)
    for f in failures:
        log(f"FAIL {f}")
    attempted = max(int(res["attempted"]), 1)
    failed = min(len(failures), attempted)

    if a.trace:
        values = dict(res["layers"], error_rate=failed / attempted)
        names = metric_names("per_layer")
    else:
        values = res["e2e"]
        names = metric_names("end_to_end")
    metrics = {n: {"value": float(values.get(n, 0.0)), "unit": u}
               for n, u in names}
    record = {"workload": a.workload, "seed": a.seed, "sf": a.sf,
              "trace": a.trace, "inputs": inputs, "rounds": res["rounds"],
              "host_steal_share": (cpu1[0] - cpu0[0]) / max(cpu1[1] - cpu0[1], 1),
              "timed_s": res["timed_s"],
              "calls": {k: v for k, v in res["e2e"].items()
                        if k.startswith("call_")},
              "detail": res["detail"], "failures": failures}
    records = os.path.join(WORK, "records")
    os.makedirs(records, exist_ok=True)
    stem = os.path.join(records, f"{a.workload}-t{a.trace}-seed{a.seed}")
    with open(stem + ".json", "w") as f:
        json.dump(dict(record, result=res), f)
    if os.path.exists(os.path.join(rundir, "spans.jsonl")):
        shutil.copy(os.path.join(rundir, "spans.jsonl"), stem + ".spans.jsonl")
    shutil.rmtree(rundir, ignore_errors=True)
    print(json.dumps({"perfbench_run": record}))
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
