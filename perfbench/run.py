#!/usr/bin/env python3
"""spark-graft benchmark: one workload, one fresh process, one result.

    python3 perfbench/run.py --workload olap_llm --seed 1 \
        --seconds 12 --trace 0

Run from the repository root. The run

1. checks the input tables in ``perfbench/data`` against their
   checksums and caches the DuckDB oracle hashes under
   ``$CARGO_TARGET_DIR`` (default ``.bench_build``), then measures in a
   fresh child process, so that this build work is not measured;
2. sets up: ``get_spark`` on ``local[nproc]`` (``configure_session``
   inside it) and an untimed warm-up at sf0.001 — ``setup_s`` runs from
   the measured process's start to here;
3. checks correctness (query ops: in-engine hash against the DuckDB
   oracle in an untimed pass at sf0.1; warehouse_ops: each timed
   statement and reconcile call, and the final reconcile catalog,
   against a plain-Python model);
4. times a fixed number of whole passes over the workload's ops (about
   ``--seconds`` of work on an idle host), one client in a closed loop,
   in a seeded order;
5. with ``--trace 1`` also records the JSON event log, streaming
   progress and spans around the engine's public functions, and
   reports per-layer metrics instead of end-to-end ones.

The last stdout line is ``{"correct", "attempted", "failed",
"metrics"}``; the line before it holds the full run record (environment,
sample counts, failures).
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shlex
import shutil
import signal
import statistics
import subprocess
import sys
import time
from contextlib import nullcontext

import numpy as np

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gate  # noqa: E402
import stats  # noqa: E402
import workloads as wl  # noqa: E402

# Byte copies of the project's read-only sf0.1 and sf0.001 fixture
# tables (checksums in data/SHA256SUMS), kept inside the benchmark so a
# run reads nothing outside its checkout.
DATA = os.path.join(HERE, "data")
TIMED_DIR = os.path.join(DATA, "sf0.1")
WARM_DIR = os.path.join(DATA, "sf0.001")
# Driver JVM heap, below the engine's 8g default (the sample data needs
# far less) and committed in full at start (-Xms): G1 otherwise grows
# the heap by a different amount each run, which made peak memory vary
# by up to 70 % between runs of warehouse_ops.
DRIVER_MEM = "2g"
# A run stops starting passes once this much time has passed since it
# was launched, so it always exits inside three minutes: after the
# limit at most one pass (up to 30 s on a busy host), the catalog check,
# the event-log parse and the shutdown follow. An untraced baseline run
# made before a traced one (see ``launch``) stops at the second limit,
# leaving the rest to the traced run.
HARD_STOP_S = 120.0
BASELINE_STOP_S = 60.0


def process_start_epoch() -> float:
    """Wall-clock start of this process, from /proc (clock-tick units)."""
    with open("/proc/self/stat") as fh:
        ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/stat") as fh:
        btime = next(int(l.split()[1]) for l in fh if l.startswith("btime"))
    return btime + ticks / os.sysconf("SC_CLK_TCK")


def fail(msg: str, code: int = 2) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


# ---------------------------------------------------------------- build


def build_dir() -> str:
    d = os.environ.get("CARGO_TARGET_DIR") or ".bench_build"
    return os.path.join(ROOT, d, "perfbench")


def sha256_file(path: str) -> str:
    with open(path, "rb") as fh:
        return hashlib.sha256(fh.read()).hexdigest()


def check_data() -> None:
    """The input tables must be the bytes listed in ``SHA256SUMS``."""
    with open(os.path.join(DATA, "SHA256SUMS")) as fh:
        for line in fh:
            digest, rel = line.split()
            if sha256_file(os.path.join(DATA, rel)) != digest:
                fail(f"input table {rel} differs from data/SHA256SUMS")


def oracle_hashes(names: list[str]) -> dict[str, tuple[int, int]]:
    """DuckDB oracle hash per query at sf0.1, cached per oracle text and
    data manifest under the build dir."""
    import __spark_entry__ as entry

    oracles = entry.oracle_sql()
    data_key = sha256_file(os.path.join(DATA, "SHA256SUMS"))[:12]
    path = os.path.join(build_dir(), "oracle_hashes.json")
    cache = {}
    if os.path.exists(path):
        with open(path) as fh:
            cache = json.load(fh)
    out, dirty, con = {}, False, None
    for name in names:
        if name not in oracles:
            raise RuntimeError(f"{name} has no oracle")
        key = (f"{name}:{data_key}:"
               + hashlib.sha256(oracles[name].encode()).hexdigest())
        if key not in cache:
            if con is None:
                import duckdb

                con = duckdb.connect()
                for f in sorted(os.listdir(TIMED_DIR)):
                    con.execute(
                        f"CREATE VIEW {f.removesuffix('.parquet')} AS SELECT * "
                        f"FROM read_parquet('{os.path.join(TIMED_DIR, f)}')"
                    )
            from tools import hashcheck

            n, s = hashcheck.duck_hash(con, oracles[name])
            cache[key] = [n, str(s)]
            dirty = True
        n, s = cache[key]
        out[name] = (int(n), int(s))
    if dirty:
        os.makedirs(build_dir(), exist_ok=True)
        with open(path + ".tmp", "w") as fh:
            json.dump(cache, fh)
        os.replace(path + ".tmp", path)
    if con is not None:
        con.close()
    return out


def code_key(workload: str, seconds: float) -> str:
    """Identifies what an untraced ``wall_s`` was measured on: the
    workload, the run length, and the engine and benchmark sources."""
    h = hashlib.sha256(f"{workload}:{seconds}".encode())
    files = ["__spark_entry__.py", "tools/hashcheck.py",
             os.path.join("perfbench", "data", "SHA256SUMS")]
    for top in ("clickhouse_modules_spark", "perfbench"):
        for d, subdirs, names in os.walk(os.path.join(ROOT, top)):
            subdirs[:] = sorted(
                x for x in subdirs if x not in ("tests", "data", "__pycache__"))
            files += [os.path.relpath(os.path.join(d, n), ROOT)
                      for n in sorted(names) if n.endswith(".py")]
    for rel in files:
        h.update(rel.encode() + b"\0" + sha256_file(os.path.join(ROOT, rel)).encode())
    return h.hexdigest()[:16]


# ---------------------------------------------------------- environment


def pin_environment(run_dir: str, trace: bool) -> dict:
    """Fix cores, scratch dirs and Spark submit args before pyspark is
    imported; return the record of what was pinned."""
    cpus = len(os.sched_getaffinity(0))
    dirs = {k: os.path.join(run_dir, k) for k in ("tmp", "local", "wh", "events")}
    for d in dirs.values():
        os.makedirs(d, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ.pop("SPARK_GRAFT_MASTER", None)
    os.environ["TMPDIR"] = dirs["tmp"]
    os.environ["SPARK_LOCAL_DIRS"] = dirs["local"]
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    import tempfile

    tempfile.tempdir = dirs["tmp"]
    args = [
        "--driver-java-options",
        # -XX:-UsePerfData: no hsperfdata file outside the checkout;
        # -Xms: see DRIVER_MEM
        f"-Djava.io.tmpdir={dirs['tmp']} -Dderby.system.home={dirs['tmp']} "
        f"-XX:-UsePerfData -Xms{DRIVER_MEM}",
        "--conf", "spark.ui.showConsoleProgress=false",
        "--conf", f"spark.sql.warehouse.dir={os.path.join(run_dir, 'spark-warehouse')}",
    ]
    if trace:
        args += [
            "--conf", "spark.eventLog.enabled=true",
            "--conf", f"spark.eventLog.dir=file://{dirs['events']}",
            "--conf", "spark.eventLog.compress=false",
            "--conf", "spark.eventLog.rolling.enabled=false",
        ]
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join(args + ["pyspark-shell"])
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    return {
        "master": f"local[{cpus}]",
        "SPARK_GRAFT_CPUS": cpus,
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "scratch": {k: os.path.relpath(v, ROOT) for k, v in dirs.items()},
        "python": sys.version.split()[0],
    }


def stop_processes(spark) -> None:
    """Stop Spark, end the JVM gateway and wait for every child process."""
    try:
        spark.stop()
    except Exception as e:  # the run's result is already recorded
        print(f"perfbench: spark.stop failed: {e}", file=sys.stderr)
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    try:
        if gw is not None:
            gw.shutdown()
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            proc.wait(timeout=30)
    except Exception as e:  # whatever is left is killed below
        print(f"perfbench: gateway shutdown: {e}", file=sys.stderr)
    deadline = time.time() + 20
    while True:
        kids = stats.descendants(os.getpid())
        if not kids:
            return
        if time.time() > deadline:
            for pid in kids:
                try:
                    os.kill(pid, signal.SIGKILL)
                except OSError:
                    pass
        time.sleep(0.2)


# --------------------------------------------------------------- setup


def start_session() -> tuple[object, dict]:
    """``get_spark`` with ``configure_session`` timed inside it."""
    from clickhouse_modules_spark import session as sess

    configure = sess.configure_session
    spent = [0.0]

    def timed_configure(spark):
        t = time.time()
        try:
            return configure(spark)
        finally:
            spent[0] += time.time() - t

    sess.configure_session = timed_configure
    t0 = time.time()
    try:
        spark = sess.get_spark("perfbench")
    finally:
        sess.configure_session = configure
    total = time.time() - t0
    spark.sparkContext.setLogLevel("ERROR")
    return spark, {"start_s": total - spent[0], "configure_s": spent[0]}


def query_fns(names: list[str]):
    from clickhouse_modules_spark.queries import QUERIES

    return {n: QUERIES[n] for n in names}


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


# ------------------------------------------------------------ workloads


class Recorder:
    """Ops, latencies, failures and pass walls of a timed phase."""

    def __init__(self) -> None:
        self.latencies: list[float] = []
        self.ops: list[dict] = []
        self.failures: list[str] = []
        self.attempted = 0
        self.pass_walls: list[float] = []
        self.pass_no = 0
        self.repeat_calls = 0
        self.noop_repeat_calls = 0

    def fail(self, what: str) -> None:
        self.failures.append(what[:300])

    @property
    def windows(self) -> list[tuple[float, float]]:
        return [(o["t0"], o["t1"]) for o in self.ops]


def run_op(rec, tracer, slot, label, kind, build, execute=None):
    """Time one op. ``build()`` alone is the op, or it returns what
    ``execute`` runs (a DataFrame to write or collect); the two parts
    get their own spans when tracing. ``slot`` names the op's place in
    the op mix, the same in every pass. Returns (ok, result, seconds)."""
    rec.attempted += 1
    op_id = len(rec.ops) + 1
    if tracer is not None:
        tracer.op = op_id
    span = tracer.span if tracer is not None else (lambda *a, **k: nullcontext())
    t0 = time.time()
    t1 = t0
    out, ok = None, True
    try:
        if execute is None:
            out = build()
        else:
            with span("query.build", query=label):
                x = build()
            t1 = time.time()
            with span("query.exec", query=label):
                out = execute(x)
    except Exception as e:
        rec.fail(f"{label}: {type(e).__name__}: {e}")
        ok = False
    t2 = time.time()
    secs = t2 - t0
    rec.ops.append({"op": op_id, "name": label, "kind": kind, "slot": slot,
                    "pass": rec.pass_no, "t0": t0, "build_end": t1, "t1": t2,
                    "s": secs, "ok": ok})
    if ok:
        rec.latencies.append(secs)
    return ok, out, secs


def timed_phase(passes, one_pass, rec: Recorder, stop_at: float) -> None:
    """``passes`` whole passes, or fewer if the clock passes ``stop_at``."""
    while rec.pass_no < passes:
        rec.pass_walls.append(one_pass(rec))
        rec.pass_no += 1
        if time.time() > stop_at:
            return


def warm_queries(spark, workload) -> None:
    """Untimed warm-up at sf0.001: the workload's first op only. The
    sf0.1 correctness pass that follows warms every op at scale."""
    name = wl.QUERY_WORKLOADS[workload][0]
    noop(query_fns([name])[name](spark, WARM_DIR))


def gate_queries(spark, workload, rec) -> None:
    """Untimed: hash every query op's sf0.1 output inside Spark and
    compare it with the DuckDB oracle (this also warms each op)."""
    from tools import hashcheck

    names = wl.QUERY_WORKLOADS[workload]
    fns = query_fns(names)
    expect = oracle_hashes(names)
    for name in names:
        rec.attempted += 1
        try:
            got = hashcheck.spark_hash(fns[name](spark, TIMED_DIR))
            bad = gate.hash_mismatch(name, got, expect[name])
            if bad:
                rec.fail(f"gate {bad}")
        except Exception as e:
            rec.fail(f"gate {name}: {type(e).__name__}: {e}")


def query_pass(spark, workload, seed, tracer):
    fns = query_fns(wl.QUERY_WORKLOADS[workload])

    def one_pass(rec: Recorder) -> float:
        wall = 0.0
        for name in wl.query_order(seed, workload, rec.pass_no):
            wall += run_op(rec, tracer, name, name, "query",
                           lambda: fns[name](spark, TIMED_DIR), noop)[2]
        return wall

    return one_pass


def warm_warehouse(spark, run_dir) -> None:
    from clickhouse_modules_spark.ddl import ChWarehouse
    from clickhouse_modules_spark.reconcile import engine
    from clickhouse_modules_spark.reconcile.catalog import Catalog

    wh = ChWarehouse(spark, os.path.join(run_dir, "wh-warm"))
    for op in wl.warm_warehouse_pass():
        if op.kind == "reconcile":
            getattr(engine, op.call)(Catalog.demo(spark), **op.spec)
            continue
        out = wh.execute(op.sql)
        if op.kind == "select":
            out.collect()


def catalog_state(catalog) -> dict[str, list]:
    """The reconcile catalog's six tables, read back in one Spark job
    (each row as JSON, tagged with its table)."""
    from functools import reduce

    from pyspark.sql import functions as F

    from clickhouse_modules_spark.reconcile.catalog import TABLES

    parts = [
        getattr(catalog, t).select(
            F.lit(t).alias("t"), F.to_json(F.struct("*")).alias("j")
        )
        for t in TABLES
    ]
    rows: dict[str, list[dict]] = {t: [] for t in TABLES}
    for r in reduce(lambda a, b: a.unionByName(b), parts).collect():
        rows[r["t"]].append(json.loads(r["j"]))

    def cols(table, *names):
        return sorted(tuple(x.get(n) for n in names) for x in rows[table])

    return {
        "users": sorted(x["name"] for x in rows["users"]),
        "role_grants": cols("role_grants", "user_name", "granted_role_name"),
        "settings_profile_elements": cols(
            "settings_profile_elements", "user_name", "inherit_profile"),
        "quotas": sorted(
            (x["name"], tuple(x["apply_to_list"])) for x in rows["quotas"]),
        "roles": sorted(x["name"] for x in rows["roles"]),
        "grants": cols("grants", "grantee", "privilege", "database", "table"),
    }


class WarehousePass:
    """One call is one pass: the seeded script through
    ``ChWarehouse.execute``, then the reconcile convergence and its
    repeat on a fresh demo catalog. SELECT rows and repeat plans are
    checked against the generator's model outside the timed windows;
    ``check_catalog`` compares the last pass's catalog with the model
    (reading the catalog back takes seconds, so once per run)."""

    def __init__(self, spark, seed: int, run_dir: str, tracer) -> None:
        from clickhouse_modules_spark.ddl import ChWarehouse

        self.spark, self.seed, self.tracer = spark, seed, tracer
        self.wh = ChWarehouse(spark, os.path.join(run_dir, "wh"))
        self.catalog = self.model = None

    def __call__(self, rec: Recorder) -> float:
        from clickhouse_modules_spark.reconcile import engine
        from clickhouse_modules_spark.reconcile.catalog import Catalog

        self.catalog = Catalog.demo(self.spark)
        self.model = model = wl.CatalogModel()
        wall = 0.0
        for i, op in enumerate(wl.warehouse_pass(self.seed, rec.pass_no)):
            slot = f"{i:02d}.{op.kind}"
            if op.kind == "reconcile":
                def call(op=op):
                    self.catalog, res = getattr(engine, op.call)(self.catalog, **op.spec)
                    return res

                ok, res, dt = run_op(rec, self.tracer, slot, op.call, op.kind, call)
            elif op.kind == "select":
                ok, res, dt = run_op(rec, self.tracer, slot, op.sql[:60], op.kind,
                                     lambda: self.wh.execute(op.sql),
                                     lambda df: df.collect())
            else:
                ok, res, dt = run_op(rec, self.tracer, slot, op.sql[:60], op.kind,
                                     lambda: self.wh.execute(op.sql))
            wall += dt
            if not ok:
                continue
            if op.kind == "select":
                bad = gate.rows_mismatch(op.sql, res, op.expect)
                if bad:
                    rec.fail(bad)
            elif op.kind == "reconcile":
                rec.ops[-1]["stmts"] = len(res.run_queries)
                if not op.repeat:
                    model.apply(op.call, op.spec)
                elif model.expected_empty_repeat(op.call):
                    rec.repeat_calls += 1
                    rec.noop_repeat_calls += not res.run_queries
                    if res.run_queries:
                        rec.fail(f"repeat {op.call} planned {res.run_queries}")
        return wall

    def check_catalog(self, rec: Recorder) -> None:
        rec.attempted += 1
        bad = gate.catalog_mismatch(catalog_state(self.catalog), self.model.state())
        if bad:
            rec.fail(bad)


# -------------------------------------------------------------- metrics


def end_to_end(rec: Recorder, setup: dict, peak_mem: int) -> tuple[dict, dict]:
    n = len(rec.latencies)
    p_tail = stats.tail_percentile(n)
    lat = rec.latencies or [0.0]  # every op failed: `correct` is false
    done = [o for o in rec.ops if o["ok"]]
    metrics = {
        "setup_s": (setup.get("setup_s", 0.0), "s"),
        "wall_s": (stats.pass_time(done) if done else 0.0, "s"),
        "op_p50_s": (statistics.median(lat), "s"),
        "success_frac": (1.0 - len(rec.failures) / max(rec.attempted, 1), "frac"),
        "peak_pss_mb": (peak_mem / 2**20, "MB"),
    }
    detail = {
        "op_median_s": {k: round(v, 4) for k, v in stats.slot_medians(done).items()},
        "op_samples": n,
        "op_tail_percentile": p_tail,
        "op_tail_s": float(np.percentile(lat, p_tail)),
        "passes": len(rec.pass_walls),
        "pass_walls_s": [round(x, 4) for x in rec.pass_walls],
        "failed_frac": len(rec.failures) / max(rec.attempted, 1),
    }
    return metrics, detail


def layer_metrics(rec, setup, tracer, listener, events_dir) -> dict:
    import eventlog
    import tracing

    passes = max(len(rec.pass_walls), 1)

    def per(x):
        return x / passes

    def ratio(a, b):
        return a / b if b else 0.0

    log = eventlog.parse(events_dir)
    tot = eventlog.window_totals(log, rec.windows)
    build = eventlog.window_totals(log, [(o["t0"], o["build_end"]) for o in rec.ops])
    m: dict[str, tuple[float, str]] = {
        "session.start_s": (setup["start_s"], "s"),
        "session.configure_s": (setup["configure_s"], "s"),
        "session.warmup_s": (setup["warmup_s"], "s"),
        "queries.build_s": (per(tracer.total("query.build")[1]), "s"),
        "queries.build_jobs": (per(build["jobs"]), "count"),
        "queries.exec_s": (per(tracer.total("query.exec")[1]), "s"),
        "tables.input_mb": (per(tot["input_mb"]), "MB"),
        "tables.scan_tasks": (per(tot["input_tasks"]), "count"),
    }
    for k in ("jobs", "stages", "tasks"):
        m[f"spark.{k}"] = (per(tot[k]), "count")
    m["spark.empty_task_frac"] = (ratio(tot["empty_tasks"], tot["tasks"]), "frac")
    for k in ("cpu_s", "run_s", "plan_s", "gc_s"):
        m[f"spark.{k}"] = (per(tot[k]), "s")
    m["spark.wait_s"] = (per(tot["run_s"] - tot["cpu_s"]), "s")
    for k in ("shuffle_read_mb", "shuffle_write_mb", "spill_mb"):
        m[f"spark.{k}"] = (per(tot[k]), "MB")
    for k in ("smj", "shj", "bhj", "exchanges"):
        m[f"spark.aqe.{k}"] = (per(tot[f"aqe.{k}"]), "count")
    m["operators.py_tasks"] = (per(tot["py_tasks"]), "count")
    m["operators.py_run_s"] = (per(tot["py_run_s"]), "s")
    m["operators.py_cpu_s"] = (per(tot["py_cpu_s"]), "s")
    st = tracing.streaming_totals(listener.batches, rec.windows)
    m["streaming.batches"] = (per(st["batches"]), "count")
    m["streaming.empty_batch_frac"] = (st["empty_batch_frac"], "frac")
    for k in ("trigger_ms", "add_batch_ms", "planning_ms", "wal_commit_ms",
              "commit_offsets_ms"):
        m[f"streaming.{k}"] = (per(st[k]), "ms")
    m["streaming.state_rows"] = (per(st["state_rows"]), "count")
    m["streaming.state_mem_mb"] = (per(st["state_mem_mb"]), "MB")
    m["streaming.state_partitions"] = (per(st["state_partitions"]), "count")
    n_tr, s_tr = tracer.total("ch_sql.translate")
    m["ch_sql.translate_calls"] = (per(n_tr), "count")
    m["ch_sql.translate_s"] = (per(s_tr), "s")
    stmts = [o for o in rec.ops if o["kind"] in ("ddl", "insert", "mutation", "select")]
    for kind in ("ddl", "insert", "mutation", "select"):
        secs = sum(o["t1"] - o["t0"] for o in stmts if o["kind"] == kind)
        m[f"ddl.{kind}_s"] = (per(secs), "s")
    stmt_jobs = eventlog.window_totals(log, [(o["t0"], o["t1"]) for o in stmts])["jobs"]
    m["ddl.jobs_per_stmt"] = (ratio(stmt_jobs, len(stmts)), "count")
    calls = [o for o in rec.ops if o["kind"] == "reconcile"]
    call_jobs = eventlog.window_totals(log, [(o["t0"], o["t1"]) for o in calls])["jobs"]
    m["reconcile.plan_s"] = (per(tracer.total("reconcile.plan")[1]), "s")
    m["reconcile.apply_s"] = (per(tracer.total("reconcile.apply")[1]), "s")
    m["reconcile.jobs_per_call"] = (ratio(call_jobs, len(calls)), "count")
    m["reconcile.stmts_emitted"] = (per(sum(o.get("stmts", 0) for o in calls)), "count")
    m["reconcile.noop_replan_frac"] = (
        ratio(rec.noop_repeat_calls, rec.repeat_calls), "frac")
    return m


def results_path(key: str) -> str:
    return os.path.join(build_dir(), "results", f"{key}.jsonl")


def untraced_walls(key: str) -> list[float]:
    """``wall_s`` of this checkout's earlier correct untraced runs with
    the same ``code_key``."""
    path = results_path(key)
    if not os.path.exists(path):
        return []
    with open(path) as fh:
        return [json.loads(line)["wall_s"] for line in fh if line.strip()]


# ----------------------------------------------------------------- main


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=wl.WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    # set by launch() for the measured process
    ap.add_argument("--measured", action="store_true", help=argparse.SUPPRESS)
    ap.add_argument("--stop-at", type=float, help=argparse.SUPPRESS)
    args = ap.parse_args()
    if not args.measured:
        launch(args)
        return

    t_proc = process_start_epoch()
    stop_at = args.stop_at or t_proc + HARD_STOP_S
    run_dir = os.path.join(
        build_dir(), "runs", f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    )
    shutil.rmtree(run_dir, ignore_errors=True)
    try:
        record, result = measure(args, t_proc, stop_at, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(record))
    print(json.dumps(result))


def launch(args) -> None:
    """Check the inputs and build the oracle hashes, then measure in a
    fresh process, so that build work is neither timed nor sampled.

    A traced run needs an untraced ``wall_s`` of the same code and run
    length for ``trace.overhead_frac``; when this checkout has none on
    record, an untraced run (same seed) is made first and records one.
    """
    t0 = time.time()
    for rel in ("clickhouse_modules_spark/__init__.py", "tools/hashcheck.py",
                "__spark_entry__.py"):
        if not os.path.isfile(os.path.join(ROOT, rel)):
            fail(f"engine source missing: {rel} (run from a full checkout)")
    check_data()
    sys.path.insert(0, ROOT)
    if args.workload in wl.QUERY_WORKLOADS:
        oracle_hashes(wl.QUERY_WORKLOADS[args.workload])
    child = [sys.executable, os.path.abspath(__file__), "--measured",
             "--workload", args.workload, "--seed", str(args.seed),
             "--seconds", str(args.seconds)]
    if args.trace and not untraced_walls(code_key(args.workload, args.seconds)):
        r = subprocess.run(
            child + ["--trace", "0", "--stop-at", str(t0 + BASELINE_STOP_S)],
            stdout=subprocess.PIPE, text=True)
        print(f"perfbench: untraced baseline run exited {r.returncode}",
              file=sys.stderr)
    r = subprocess.run(
        child + ["--trace", str(args.trace), "--stop-at", str(t0 + HARD_STOP_S)])
    sys.exit(r.returncode)


def measure(args, t_proc: float, stop_at: float, run_dir: str):
    """One run in ``run_dir``: returns (run record, result object)."""
    passes = wl.timed_passes(args.workload, args.seconds)
    env = pin_environment(run_dir, bool(args.trace))
    box_before = stats.box_snapshot()
    sampler = stats.MemSampler().start()
    phases = {"pinned": time.time() - t_proc}
    spark = tracer = listener = None
    rec = Recorder()
    setup: dict = {}
    steal = None
    key = code_key(args.workload, args.seconds)
    try:
        spark, setup = start_session()
        t_warm = time.time()
        if args.workload == "warehouse_ops":
            warm_warehouse(spark, run_dir)
        else:
            warm_queries(spark, args.workload)
        setup["warmup_s"] = time.time() - t_warm
        setup["setup_s"] = time.time() - t_proc

        if args.workload != "warehouse_ops":
            gate_queries(spark, args.workload, rec)
        phases["gate_end"] = time.time() - t_proc
        if args.trace:
            import tracing

            tracer = tracing.Tracer()
            listener = tracing.make_stream_listener()
            spark.streams.addListener(listener)
            tracer.install_engine_wrappers()
        if args.workload == "warehouse_ops":
            one_pass = WarehousePass(spark, args.seed, run_dir, tracer)
        else:
            one_pass = query_pass(spark, args.workload, args.seed, tracer)
        ticks = stats.cpu_ticks()
        timed_phase(passes, one_pass, rec, stop_at)
        steal = stats.steal_frac(ticks, stats.cpu_ticks())
        if args.workload == "warehouse_ops":
            one_pass.check_catalog(rec)
        if tracer is not None:
            tracer.uninstall()
            time.sleep(1.0)  # let the listener bus deliver the last progress
            spark.streams.removeListener(listener)
    finally:
        phases["work_end"] = time.time() - t_proc
        if spark is not None:
            stop_processes(spark)
        peak = sampler.stop()
        phases["stopped"] = time.time() - t_proc
    box_after = stats.box_snapshot()

    e2e, detail = end_to_end(rec, setup, peak)
    record = {
        "workload": args.workload,
        "seed": args.seed,
        "confirm_seed": args.seed + 1_000_003,
        "seconds": args.seconds,
        "passes_planned": passes,
        "trace": args.trace,
        "env": env,
        "code_key": key,
        "box_before": box_before,
        "box_after": box_after,
        "setup": {k: round(v, 4) for k, v in setup.items()},
        "peak_pss_split_mb": {k: round(v / 2**20, 1) for k, v in sampler.split.items()},
        **detail,
        "phases_s": {k: round(v, 3) for k, v in phases.items()},
        "timed_steal_frac": steal,
    }
    if args.trace:
        metrics = layer_metrics(rec, setup, tracer, listener,
                                os.path.join(run_dir, "events"))
        base_walls = untraced_walls(key)
        overhead = base = None
        if base_walls:
            base = statistics.median(base_walls)
            overhead = (e2e["wall_s"][0] - base) / base
        else:
            rec.fail("trace.overhead_frac: no untraced run of this code on record")
        metrics["trace.overhead_frac"] = (overhead or 0.0, "frac")
        record["untraced_wall_s"] = base
        record["untraced_runs"] = len(base_walls)
        spans_path = os.path.join(
            build_dir(), "traces", f"{args.workload}-s{args.seed}-{os.getpid()}.json"
        )
        os.makedirs(os.path.dirname(spans_path), exist_ok=True)
        with open(spans_path, "w") as fh:
            json.dump({"ops": rec.ops, "spans": tracer.spans,
                       "batches": listener.batches}, fh)
        record["spans_file"] = os.path.relpath(spans_path, ROOT)
    else:
        metrics = e2e
        if not rec.failures:
            os.makedirs(os.path.dirname(results_path(key)), exist_ok=True)
            with open(results_path(key), "a") as fh:
                fh.write(json.dumps({"seed": args.seed, "wall_s": e2e["wall_s"][0]}) + "\n")
    record["failures"] = rec.failures[:20]
    result = {
        "correct": not rec.failures,
        "attempted": rec.attempted,
        "failed": len(rec.failures),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    return record, result


if __name__ == "__main__":
    main()
