#!/usr/bin/env python3
"""Execute the Airflow deployment face end-to-end, without Airflow.

The sandbox has no Airflow scheduler, so this smoke does what
`airflow dags test graft_daily_chain` would:

 1. EXECUTES `deploy/airflow/graft_daily_chain_dag.py` — the real DAG
    file, not a copy of its task list — against a minimal shim of the
    two Airflow symbols it imports (`DAG`,
    `SparkSubmitOperator`). The shim records every task and `>>` edge,
    so a broken import, a renamed main class, or dropped wiring fails
    here exactly as it would in the scheduler's DAG parse.
 2. Verifies the captured graph IS the reference chain (000 -> 001 ->
    hitter stages -> 041 -> 050/060 — the TriggerDagRunOperator wiring
    of zjacom/airflow-baseball, pinned as an explicit edge set).
 3. Topologically runs each task's spark-submit payload (java_class +
    application_args) as a local JVM over the sf0.001 fixture into a
    temp lake — the same per-stage mains a real SparkSubmitOperator
    would launch.
 4. Runs graft.jobs.ChainCheck over the landed lake: the staged
    composition must equal the in-process DailyChain bit-for-bit.

Usage: python3 tools/run_dag_smoke.py [fixture_dir] [lake_dir]
Defaults: /root/testdata/sf0.001 and a fresh temp dir. Exit 0 = PASS.
A lake made here is deleted after PASS and kept (its path printed) on
FAIL; a lake given as an argument is always kept.
"""
import os
import shutil
import subprocess
import sys
import tempfile
import types

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
DAG_FILE = os.path.join(REPO, "deploy", "airflow", "graft_daily_chain_dag.py")
TRIGGER_DAG_FILE = os.path.join(REPO, "deploy", "airflow",
                                "graft_lineup_trigger_dag.py")
FIVE_DAG_FILE = os.path.join(REPO, "deploy", "airflow",
                             "graft_five_innings_dag.py")
CLASSPATH = os.path.join(REPO, "target", "scala-2.13", "classes") \
    + ":/opt/spark/jars/*"
ADD_OPENS = [
    f"--add-opens=java.base/{p}=ALL-UNNAMED"
    for p in ("java.lang java.lang.invoke java.lang.reflect java.io java.net "
              "java.nio java.util java.util.concurrent "
              "java.util.concurrent.atomic sun.nio.ch sun.nio.cs "
              "sun.security.action sun.util.calendar").split()
]

# The reference chain (graft_daily_chain_dag.py's `>>` wiring, which
# mirrors the TriggerDagRunOperator graph of the reference DAGs
# 000 -> 001/010.. -> 060). Any drift in the DAG file fails the smoke.
EXPECTED_EDGES = {
    ("s000_land_tables", "s001_park_factor"),
    ("s000_land_tables", "s011_hitter_woba"),
    ("s000_land_tables", "s013_hitter_rates"),
    ("s000_land_tables", "s021_pitcher_metrics"),
    ("s011_hitter_woba", "s012_hitter_wrc"),
    ("s001_park_factor", "s041_hitter_metrics"),
    ("s012_hitter_wrc", "s041_hitter_metrics"),
    ("s013_hitter_rates", "s041_hitter_metrics"),
    ("s041_hitter_metrics", "s050_hitter_records"),
    ("s021_pitcher_metrics", "s060_pitcher_records"),
    ("s041_hitter_metrics", "s060_pitcher_records"),
}


class _Task:
    """SparkSubmitOperator shim: records payload + `>>` edges."""

    def __init__(self, registry, edges, task_id, java_class,
                 application_args, **kw):
        if task_id in registry:
            raise ValueError(f"duplicate task_id {task_id}")
        registry[task_id] = self
        self._edges = edges
        self.task_id = task_id
        self.java_class = java_class
        self.application_args = application_args

    def __rshift__(self, other):
        for o in other if isinstance(other, list) else [other]:
            self._edges.add((self.task_id, o.task_id))
        return other

    def __rrshift__(self, other):  # [a, b] >> c
        for o in other if isinstance(other, list) else [other]:
            self._edges.add((o.task_id, self.task_id))
        return self


def load_dag(fixture, lake, dag_file=DAG_FILE, extra_env=None):
    """Execute a DAG file under the shim; return (tasks, edges,
    globals) — globals so the 031 smoke can drive a PythonOperator's
    callable directly."""
    registry, edges = {}, set()

    class _DAG:
        def __init__(self, dag_id=None, **kw):
            self.dag_id = dag_id

        def __enter__(self):
            return self

        def __exit__(self, *a):
            return False

    airflow = types.ModuleType("airflow")
    airflow.DAG = _DAG
    spark_mod = types.ModuleType(
        "airflow.providers.apache.spark.operators.spark_submit")
    spark_mod.SparkSubmitOperator = (
        lambda task_id, java_class, application_args, **kw:
        _Task(registry, edges, task_id, java_class, application_args, **kw))
    # PythonOperator shim (the 031 trigger DAG): records the callable
    # so the smoke can drive it with injected stubs
    py_mod = types.ModuleType("airflow.operators.python")

    class _PyTask(_Task):
        def __init__(self, task_id, python_callable, **kw):
            _Task.__init__(self, registry, edges, task_id, None, None, **kw)
            self.python_callable = python_callable

    py_mod.PythonOperator = _PyTask
    for name, mod in [
            ("airflow", airflow),
            ("airflow.operators", types.ModuleType("airflow.operators")),
            ("airflow.operators.python", py_mod),
            ("airflow.providers", types.ModuleType("airflow.providers")),
            ("airflow.providers.apache",
             types.ModuleType("airflow.providers.apache")),
            ("airflow.providers.apache.spark",
             types.ModuleType("airflow.providers.apache.spark")),
            ("airflow.providers.apache.spark.operators",
             types.ModuleType("airflow.providers.apache.spark.operators")),
            ("airflow.providers.apache.spark.operators.spark_submit",
             spark_mod)]:
        sys.modules[name] = mod

    os.environ["GRAFT_RAW"] = fixture
    os.environ["GRAFT_LAKE"] = lake
    for k, v in (extra_env or {}).items():
        os.environ[k] = v
    src = open(dag_file).read()
    code = compile(src, dag_file, "exec")
    g = {"__name__": os.path.basename(dag_file)[:-3]}
    exec(code, g)
    return registry, edges, g


def toposort(tasks, edges):
    indeg = {t: 0 for t in tasks}
    for _, dst in edges:
        indeg[dst] += 1
    order, ready = [], sorted(t for t, d in indeg.items() if d == 0)
    while ready:
        t = ready.pop(0)
        order.append(t)
        for src, dst in sorted(edges):
            if src == t:
                indeg[dst] -= 1
                if indeg[dst] == 0:
                    ready.append(dst)
        ready.sort()
    if len(order) != len(tasks):
        raise SystemExit(f"[dag-smoke] FAIL: cycle in DAG, ran {order}")
    return order


def run_java(main_class, args, cpus="8"):
    cmd = ["java", *ADD_OPENS, "-Xmx4g", "-cp", CLASSPATH, main_class, *args]
    env = dict(os.environ, SPARK_GRAFT_CPUS=cpus)
    r = subprocess.run(cmd, env=env, stdout=subprocess.PIPE,
                       stderr=subprocess.STDOUT)
    if r.returncode != 0:
        tail = r.stdout.decode(errors="replace")[-3000:]
        raise SystemExit(
            f"[dag-smoke] FAIL: {main_class} exit {r.returncode}\n{tail}")
    return r.stdout.decode(errors="replace")


def main():
    fixture = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    own_lake = len(sys.argv) <= 2
    lake = tempfile.mkdtemp("graft-lake") if own_lake else sys.argv[2]
    try:
        smoke(fixture, lake)
    except BaseException:
        print(f"[dag-smoke] lake kept for inspection: {lake}")
        raise
    if own_lake:
        shutil.rmtree(lake)


def smoke(fixture, lake):
    tasks, edges, _ = load_dag(fixture, lake)
    print(f"[dag-smoke] parsed {DAG_FILE}: {len(tasks)} tasks, "
          f"{len(edges)} edges")
    if edges != EXPECTED_EDGES:
        missing = EXPECTED_EDGES - edges
        extra = edges - EXPECTED_EDGES
        raise SystemExit("[dag-smoke] FAIL: DAG wiring drifted from the "
                         f"reference chain; missing={sorted(missing)} "
                         f"extra={sorted(extra)}")
    order = toposort(tasks, edges)
    print(f"[dag-smoke] topological order: {' -> '.join(order)}")
    for tid in order:
        t = tasks[tid]
        print(f"[dag-smoke] run {tid} ({t.java_class})")
        run_java(t.java_class, t.application_args)
    smoke_five_innings_dag(fixture, lake)
    out = run_java("graft.jobs.ChainCheck", [lake])
    print("\n".join(l for l in out.splitlines() if "[chaincheck]" in l))
    if "[chaincheck] PASS" not in out:
        raise SystemExit("[dag-smoke] FAIL: chain check did not pass")
    smoke_trigger_dag(fixture, lake)
    print(f"[dag-smoke] PASS ({len(order)} stages, lake={lake})")


def smoke_five_innings_dag(fixture, lake):
    """Parse + run the standalone 070 DAG (the reference runs
    first-5-innings as its own cron DAG, dags/070_get_game_resulty.py:
    141-152): one spark-submit task over the landed scoreboard.
    ChainCheck afterwards adjudicates the landed
    game_records_until_5_innings against the in-process transform."""
    tasks, edges, _ = load_dag(fixture, lake, dag_file=FIVE_DAG_FILE)
    print(f"[dag-smoke] parsed {FIVE_DAG_FILE}: {len(tasks)} tasks, "
          f"{len(edges)} edges")
    if set(tasks) != {"s070_five_innings"} or edges:
        raise SystemExit("[dag-smoke] FAIL: 070 DAG drifted: "
                         f"tasks={sorted(tasks)} edges={sorted(edges)}")
    t = tasks["s070_five_innings"]
    if t.java_class != "graft.jobs.stages.Stage070FiveInnings":
        raise SystemExit(f"[dag-smoke] FAIL: 070 main is {t.java_class}")
    print(f"[dag-smoke] run s070_five_innings ({t.java_class})")
    run_java(t.java_class, t.application_args)


def smoke_trigger_dag(fixture, lake):
    """Parse + drive the 031 lineup-trigger DAG: run its Spark stage at
    a pinned `now`, then its PythonOperator callable against stubbed
    Airflow trigger/find APIs — one dedup'd trigger per upcoming game
    at game_time - 15 min (the reference 031 contract)."""
    now = "2024-03-01 17:56:00"  # fixture games start 18:00 + i*5 min
    tasks, edges, g = load_dag(fixture, lake, dag_file=TRIGGER_DAG_FILE,
                               extra_env={"GRAFT_NOW": now})
    print(f"[dag-smoke] parsed {TRIGGER_DAG_FILE}: {len(tasks)} tasks, "
          f"{len(edges)} edges")
    if edges != {("s031_due_games", "s031_schedule_lineup")}:
        raise SystemExit("[dag-smoke] FAIL: 031 DAG wiring drifted: "
                         f"{sorted(edges)}")
    due = tasks["s031_due_games"]
    run_java(due.java_class, due.application_args)
    triggered, known = [], set()
    n1 = g["schedule_lineup_runs"](
        lake=lake,
        trigger=lambda dag_id, run_id, execution_date:
            (triggered.append((dag_id, run_id, execution_date)),
             known.add(run_id)),
        find_existing=lambda dag_id, run_id: run_id in known)
    from datetime import datetime, timedelta
    t0 = datetime(2024, 3, 1, 17, 45)  # first game 18:00 minus 15 min
    expected = [
        "scheduled__" + (t0 + timedelta(minutes=5 * i))
        .strftime("%Y-%m-%dT%H:%M:%S") for i in range(5)]
    got = sorted(r for _, r, _ in triggered)
    if n1 != 5 or got != expected:
        raise SystemExit("[dag-smoke] FAIL: expected 5 triggers at "
                         f"game_time-15min, got {n1}: {got}")
    if any(d != "graft_lineup_scrape" for d, _, _ in triggered):
        raise SystemExit("[dag-smoke] FAIL: wrong target dag id")
    # re-run: every run_id already known -> the DagRun.find-style dedup
    n2 = g["schedule_lineup_runs"](
        lake=lake,
        trigger=lambda *a: triggered.append(a),
        find_existing=lambda dag_id, run_id: run_id in known)
    if n2 != 0:
        raise SystemExit(f"[dag-smoke] FAIL: re-run scheduled {n2} dups")
    print("[dag-smoke] 031 trigger DAG: 5 runs scheduled at t-15min, "
          "re-run dedup'd")


if __name__ == "__main__":
    main()
