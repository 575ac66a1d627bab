#!/usr/bin/env python3
"""Closed-loop benchmark of the query registry.

Usage (from the root of a checkout)::

    python3 perfbench/run.py --workload ingest --seed 1 --seconds 8 --trace 0

A run generates the workload's seeded twin with ``tools/gen_sf.gen`` (cached
under ``.perfbench_work/twins``, outside the timed work), starts one
``local[nproc]`` session through ``session.get_spark`` and drives the
workload's queries with one closed-loop client: ``fn(spark, sf_dir)``, then
a ``noop`` write, then the next query; nothing is cleaned up in between.

- ``setup_s``: session start, ``registry.load_all()`` and the warm pass.
- ``run_s``: median wall time of the timed passes that fit in ``--seconds``
  (at least one); a pass runs every query of the workload once.
- ``retained_mb``: memory the driver holds after the warm pass: JVM heap
  after a full collection, JVM non-heap, and this process's resident set.

After its warm-pass call each query's result is checked against its
registry oracle with ``tests/oracle.compare`` (results over 100k rows
through a key slice or a per-column summary, so nothing big is collected);
queries without a usable oracle must return the same row count on every
call.

``--trace 1`` adds a traced pass (status store, a streaming listener and
wrapped catalog calls) and a traced single-threaded ``local[1]`` pass, and
reports per-layer metrics instead; spans and the self-time table are
written to ``.perfbench_work/out``.

The last line of stdout is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics``.  The exit code is non-zero when a call fails,
a result is wrong, or the repository is incomplete.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
REQUIRED = (
    "satellite_data_ingestion_spark/registry.py",
    "satellite_data_ingestion_spark/session.py",
    "tools/gen_sf.py",
    "tests/oracle.py",
)
WORK = os.path.join(ROOT, ".perfbench_work")
DRIVER_MEM = "4g"
FULL_COMPARE_ROWS = 100_000
TWIN_CACHE_BYTES = 3 * 2**30
SETTLE_S = 1.0

import helpers  # noqa: E402  (sits beside this file)


def log(*parts) -> None:
    print(*parts, file=sys.stderr, flush=True)


def load_spec() -> dict:
    with open(os.path.join(HERE, "workloads.json")) as fh:
        return json.load(fh)


def parse_args(argv, workloads):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(workloads))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


# --------------------------------------------------------------- inputs ---


def _dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs)


def ensure_twin(sf: float, seed: int) -> tuple[str, dict]:
    """Directory of the ``(sf, seed)`` twin, generated on first use in a
    subprocess, and each table's row count."""
    import pyarrow.parquet as pq

    cache = os.path.join(WORK, "twins")
    twin = os.path.join(cache, f"sf{sf:g}_seed{seed}")
    if not os.path.isdir(twin):
        os.makedirs(cache, exist_ok=True)
        partial = f"{twin}.partial{os.getpid()}"
        code = (
            "import sys; sys.path.insert(0, 'tools'); import gen_sf; "
            f"gen_sf.gen({sf!r}, {partial!r}, {seed!r})"
        )
        t0 = time.perf_counter()
        subprocess.run([sys.executable, "-c", code], cwd=ROOT, check=True,
                       stdout=subprocess.DEVNULL)
        os.replace(partial, twin)
        log(f"generated sf{sf:g} seed {seed} in {time.perf_counter() - t0:.1f} s")
    os.utime(twin)
    # Evict least recently used twins beyond the cache budget.
    others = sorted((os.path.getmtime(p), p) for p in
                    (os.path.join(cache, d) for d in os.listdir(cache)) if p != twin)
    total = sum(_dir_bytes(p) for _, p in others) + _dir_bytes(twin)
    for _, p in others:
        if total <= TWIN_CACHE_BYTES:
            break
        total -= _dir_bytes(p)
        shutil.rmtree(p, ignore_errors=True)
    rows = {f[:-len(".parquet")]: pq.ParquetFile(os.path.join(twin, f)).metadata.num_rows
            for f in sorted(os.listdir(twin)) if f.endswith(".parquet")}
    return twin, rows


# -------------------------------------------------------------- session ---


def prepare_env(tmp: str) -> None:
    """Keep every file the engine, Spark and the JVM write inside ``tmp``."""
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    import tempfile

    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "local")
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join([
        "--driver-java-options", shlex.quote(f"-Djava.io.tmpdir={tmp}"),
        "--conf", shlex.quote(f"spark.sql.warehouse.dir={os.path.join(tmp, 'warehouse')}"),
        "--conf", "spark.ui.showConsoleProgress=false",
        "pyspark-shell",
    ])


def start_session(master: str):
    from satellite_data_ingestion_spark.session import get_spark

    spark = get_spark(app_name="perfbench", master=master,
                      shuffle_partitions=int(os.environ["SPARK_GRAFT_CPUS"]))
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_jvm(spark) -> None:
    """Stop the session, then the JVM it runs in, and wait for it."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway server exits on EOF
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def _proc_status_mb(pid: int | str, field: str) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith(field + ":"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no {field} for pid {pid}")


def vm_hwm_mb(pid: int | str) -> float:
    return _proc_status_mb(pid, "VmHWM")


def retained_mb(spark) -> dict:
    """Memory the driver still holds: the JVM's heap after a full
    collection plus its non-heap, and this process's resident set."""
    jvm = spark._jvm
    # The first collection lets Spark's ContextCleaner drop the shuffles,
    # broadcasts and RDDs whose handles died; the second frees what it drops.
    jvm.java.lang.System.gc()
    time.sleep(0.5)
    jvm.java.lang.System.gc()
    mem = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    return {
        "jvm_heap": mem.getHeapMemoryUsage().getUsed() / 2**20,
        "jvm_non_heap": mem.getNonHeapMemoryUsage().getUsed() / 2**20,
        "python_rss": _proc_status_mb("self", "VmRSS"),
    }


# --------------------------------------------------------------- client ---


class Client:
    """The single closed-loop client: calls queries, counts outcomes."""

    def __init__(self, spark, twin: str, specs: list, rows_only: set):
        self.spark = spark
        self.twin = twin
        self.specs = specs
        self.rows_only = rows_only
        self.rows = {}  # rows-only query -> row count of its first call
        self.attempted = 0
        self.failures = []

    def call(self, spec, clock=time.perf_counter):
        """One query call; returns ``(df, t0, t1, t2)`` or ``None`` on failure."""
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        self.attempted += 1
        try:
            t0 = clock()
            df = spec.fn(self.spark, self.twin)
            t1 = clock()
            target, obs = df, None
            if spec.name in self.rows_only:
                obs = Observation()
                target = df.observe(obs, F.count(F.lit(1)).alias("rows"))
            target.write.format("noop").mode("overwrite").save()
            t2 = clock()
            if obs is not None:
                n = obs.get["rows"]
                if self.rows.setdefault(spec.name, n) != n:
                    self.fail(spec.name, f"row count {n} != first call's {self.rows[spec.name]}")
            return df, t0, t1, t2
        except Exception:  # a failing query must not stop the loop
            self.fail(spec.name, traceback.format_exc())
            return None

    def fail(self, name: str, why: str) -> None:
        self.failures.append({"query": name, "error": why[-2000:]})
        log(f"FAILED {name}: {why[-2000:]}")

    def timed_pass(self) -> tuple[float, dict]:
        per = {}
        for spec in self.specs:
            r = self.call(spec)
            if r is not None:
                per[spec.name] = r[3] - r[1]
        return sum(per.values()), per


# ---------------------------------------------------------- correctness ---


def _duck_ident(name: str) -> str:
    return '"' + name.replace('"', '""') + '"'


def summary_pair(df, sql: str):
    """A one-row per-column summary of a large result, as a Spark frame and
    as DuckDB SQL over the oracle, with matching column names."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    spark_aggs = [F.count(F.lit(1)).alias("n")]
    duck_aggs = ["count(*) AS n"]
    for i, f in enumerate(sorted(df.schema.fields, key=lambda f: f.name)):
        col, q, alias = F.col(f"`{f.name}`"), _duck_ident(f.name), f"c{i}"
        if isinstance(f.dataType, T.NumericType):
            spark_aggs.append(F.sum(col.cast("double")).alias(alias))
            duck_aggs.append(f"CAST(sum(CAST({q} AS DOUBLE)) AS DOUBLE) AS {alias}")
        elif isinstance(f.dataType, T.StringType):
            spark_aggs.append(F.sum(F.length(col)).cast("long").alias(alias))
            duck_aggs.append(f"CAST(sum(length({q})) AS BIGINT) AS {alias}")
        elif isinstance(f.dataType, T.BooleanType):
            spark_aggs.append(F.sum(col.cast("int")).cast("long").alias(alias))
            duck_aggs.append(f"CAST(sum(CAST({q} AS INTEGER)) AS BIGINT) AS {alias}")
        else:
            spark_aggs.append(F.count(col).alias(alias))
            duck_aggs.append(f"CAST(count({q}) AS BIGINT) AS {alias}")
    inner = sql.strip().rstrip(";")
    return df.agg(*spark_aggs), f"SELECT {', '.join(duck_aggs)} FROM ({inner}) AS oracle_result"


def check_oracle(df, con, spec, places, slice_sql) -> list:
    """Compare a result with its oracle: whole when small; else the rows a
    key predicate selects (``slice_sql``) or a per-column summary."""
    from tests import oracle

    tol = helpers.last_place_tol(places) if places is not None else 1e-9
    sql = spec.oracle.strip().rstrip(";")
    duck_cols = sorted(d[0] for d in con.execute(f"SELECT * FROM ({sql}) AS q LIMIT 0").description)
    if sorted(df.columns) != duck_cols:
        return [f"columns differ: spark={sorted(df.columns)} duck={duck_cols}"]
    if df.count() <= FULL_COMPARE_ROWS:
        return oracle.compare(df, con, sql, float_tol=tol)
    if slice_sql:
        return oracle.compare(df.filter(slice_sql), con,
                              f"SELECT * FROM ({sql}) AS q WHERE {slice_sql}", float_tol=tol)
    summary_df, summary_sql = summary_pair(df, sql)
    return oracle.compare(summary_df, con, summary_sql)


# ---------------------------------------------------------------- trace ---


def traced_pass(client: Client, label: str) -> dict:
    """One pass with the status store, a streaming listener and the catalog
    spy attached; returns per-call records with spans."""
    import probes

    spark = client.spark
    reader = probes.StatusReader(spark)
    recorder = probes.StreamRecorder()
    spark.streams.addListener(recorder)
    catalog_calls = []
    calls = []
    try:
        with probes.CatalogSpy(lambda name, s, e: catalog_calls.append((name, s, e))):
            for spec in client.specs:
                snap = reader.snapshot()
                mark = len(catalog_calls)
                r = client.call(spec, clock=time.time)
                if r is None:
                    continue
                _, t0, t1, t2 = r
                calls.append({
                    "query": spec.name,
                    "layer": helpers.layer_of(spec.fn.__module__),
                    "t0": t0, "t1": t1, "t2": t2,
                    "spark": reader.delta(snap),
                    "catalog": catalog_calls[mark:],
                    "triggers": [],
                })
        time.sleep(SETTLE_S)  # the listener bus delivers progress asynchronously
    finally:
        spark.streams.removeListener(recorder)
    for p in recorder.drain():
        owner = None
        for c in calls:
            if c["t0"] - 0.001 <= p["start"] <= c["t2"]:
                owner = c
        if owner is not None:
            owner["triggers"].append(p)
    build_spans(calls, label)
    return {"label": label, "calls": calls, "run_s": sum(c["t2"] - c["t0"] for c in calls)}


def build_spans(calls: list, label: str) -> None:
    next_id = 0
    for n, c in enumerate(calls):
        call_id = f"{label}:{n}:{c['query']}"
        raw = [("query", c["query"], 0, c["t0"], c["t2"]),
               ("fn", c["query"], 1, c["t0"], c["t1"]),
               ("action", c["query"], 1, c["t1"], c["t2"])]
        raw += [("catalog", name, 2, s, e) for name, s, e in c["catalog"]]
        raw += [("trigger", p["run_id"], 2, p["start"], p["start"] + p["trigger_s"]) for p in c["triggers"]]
        raw += [("job", str(j), 3, s, e) for j, s, e in c["spark"]["job_intervals"]]
        spans = []
        for kind, name, rank, s, e in raw:
            spans.append({"id": next_id, "call": call_id, "kind": kind, "name": name,
                          "layer": c["layer"], "rank": rank, "start": s, "end": max(s, e)})
            next_id += 1
        helpers.assign_parents(spans)
        selfs = helpers.self_times(spans)
        for sp in spans:
            sp["self_s"] = selfs[sp["id"]]
        c["spans"] = spans
        c["self_sum_error_s"] = abs(sum(selfs.values()) - (c["t2"] - c["t0"]))


def layer_metrics(traced: dict, untraced_run_s: float, single: dict, peak_rss_mb: float) -> dict:
    units = helpers.per_layer_metric_units()
    m = {name: 0.0 for name in units}
    runs = {}
    for c in traced["calls"]:
        L, sp = c["layer"], c["spark"]
        wall = c["t2"] - c["t0"]
        m[f"{L}.fn_s"] += c["t1"] - c["t0"]
        m[f"{L}.action_s"] += c["t2"] - c["t1"]
        jobs = [(s, e) for _, s, e in sp["job_intervals"]]
        m[f"{L}.driver_self_s"] += wall - helpers.covered_within(jobs, c["t0"], c["t2"])
        for k in ("jobs", "tasks", "executor_run_s", "executor_cpu_s", "jvm_gc_s", "shuffle_write_mb",
                  "fetch_wait_s", "spill_mb", "input_mb", "output_mb", "python_mb", "persisted_rdds_left"):
            m[f"{L}.{k}"] += sp[k]
        trig = c["triggers"]
        if trig:
            ivs = [(p["start"], p["start"] + p["trigger_s"]) for p in trig]
            m["streaming.lifecycle_s"] += (c["t1"] - c["t0"]) - helpers.covered_within(ivs, c["t0"], c["t1"])
        for p in trig:
            m["streaming.triggers"] += 1
            m["streaming.trigger_s"] += p["trigger_s"]
            m["streaming.commit_s"] += p["commit_s"]
            runs[p["run_id"]] = p  # the last progress of each stream run holds its state
        m["catalog.calls"] += len(c["catalog"])
        m["catalog.s"] += sum(e - s for _, s, e in c["catalog"])
    m["streaming.state_rows"] = float(sum(p["state_rows"] for p in runs.values()))
    m["streaming.state_mb"] = sum(p["state_mb"] for p in runs.values())
    m["trace_overhead"] = traced["run_s"] / untraced_run_s
    m["spark.parallel_speedup"] = single["run_s"] / traced["run_s"]
    m["driver.peak_rss_mb"] = peak_rss_mb
    return {name: {"value": v, "unit": units[name]} for name, v in m.items()}


def self_time_table(traced: dict) -> str:
    kinds = ("fn", "action", "catalog", "trigger", "job")  # a query span's self time is 0
    tot = {}
    for c in traced["calls"]:
        for sp in c["spans"]:
            key = (c["layer"], sp["kind"])
            tot[key] = tot.get(key, 0.0) + sp["self_s"]
    layers = sorted({layer for layer, _ in tot})
    lines = [f"self time (s) by layer, pass {traced['label']}, wall {traced['run_s']:.3f} s",
             f"{'layer':<10}" + "".join(f"{k:>10}" for k in kinds) + f"{'total':>10}"]
    for layer in layers:
        row = [tot.get((layer, k), 0.0) for k in kinds]
        lines.append(f"{layer:<10}" + "".join(f"{v:>10.3f}" for v in row) + f"{sum(row):>10.3f}")
    return "\n".join(lines)


# ----------------------------------------------------------------- main ---


def main(argv=None) -> int:
    missing = [p for p in REQUIRED if not os.path.isfile(os.path.join(ROOT, p))]
    if missing:
        log(f"not a complete checkout, missing: {missing}")
        return 2
    spec_all = load_spec()
    workloads = {**spec_all["workloads"], **spec_all["dropped"]}
    args = parse_args(argv, workloads)
    if args.seconds <= 0:
        log("--seconds must be positive")
        return 2
    wl = workloads[args.workload]
    sys.path.insert(0, ROOT)

    twin, table_rows = ensure_twin(wl["sf"], args.seed)
    tmp = os.path.join(WORK, "tmp", str(os.getpid()))
    prepare_env(tmp)
    nproc = int(os.environ["SPARK_GRAFT_CPUS"])
    try:
        return run(args, wl, twin, table_rows, nproc)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def run(args, wl, twin, table_rows, nproc) -> int:
    t_setup = time.perf_counter()
    spark = start_session(f"local[{nproc}]")
    from satellite_data_ingestion_spark import registry

    registry.load_all()
    session_s = time.perf_counter() - t_setup
    specs = [registry.spec(q) for q in wl["queries"]]
    rows_only = {s.name for s in specs if s.oracle is None} | set(wl["rows_only"])
    client = Client(spark, twin, specs, rows_only)
    record = {"workload": args.workload, "seed": args.seed, "sf": wl["sf"], "nproc": nproc,
              "tables": table_rows, "queries": wl["queries"], "clients": 1}
    try:
        # Warm pass: part of set-up.  Each result is checked right after its
        # call, outside the set-up clock.
        from tests import oracle

        con = oracle.duck_con(twin)
        warm_s, checks = 0.0, {}
        for spec in specs:
            r = client.call(spec)
            if r is None:
                continue
            df, t0, _, t2 = r
            warm_s += t2 - t0
            if spec.name in rows_only:
                checks[spec.name] = {"rows": client.rows.get(spec.name),
                                     "why": wl["rows_only"].get(spec.name, "no oracle")}
                continue
            try:
                errs = check_oracle(df, con, spec, wl["round_places"].get(spec.name),
                                    wl["slices"].get(spec.name))
            except Exception:
                errs = [traceback.format_exc()]
            checks[spec.name] = {"match": not errs}
            if errs:
                client.fail(spec.name, "oracle mismatch: " + "; ".join(errs[:5]))
        con.close()
        setup_s = session_s + warm_s
        retained = retained_mb(spark)
        record.update(session_s=session_s, warm_s=warm_s, setup_s=setup_s, checks=checks,
                      retained=retained)

        passes, per_query = [], []
        t_run = time.perf_counter()
        while True:
            total, per = client.timed_pass()
            passes.append(total)
            per_query.append(per)
            if time.perf_counter() - t_run >= args.seconds:
                break
        run_s = helpers.median(passes)
        jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
        peak_rss_mb = vm_hwm_mb(jvm_pid) + vm_hwm_mb("self")
        record.update(passes=passes, per_query=per_query, run_s=run_s, peak_rss_mb=peak_rss_mb)

        metrics = {
            "run_s": {"value": run_s, "unit": "s"},
            "setup_s": {"value": setup_s, "unit": "s"},
            "retained_mb": {"value": sum(retained.values()), "unit": "MB"},
        }
        if args.trace:
            traced = traced_pass(client, f"local{nproc}")
            spark.stop()
            spark = start_session("local[1]")
            client.spark = spark
            single = traced_pass(client, "local1")
            metrics = layer_metrics(traced, run_s, single, peak_rss_mb)
            write_trace(args, [traced, single], metrics)
            record["trace"] = {
                "self_sum_error_s": max(
                    [c["self_sum_error_s"] for c in traced["calls"] + single["calls"]], default=0.0),
                "calls": [{k: v for k, v in c.items() if k != "spans"} for c in traced["calls"]],
            }
    finally:
        stop_jvm(spark)

    record.update(attempted=client.attempted, failures=client.failures,
                  ops_failed_ratio=len(client.failures) / max(1, client.attempted))
    out_dir = os.path.join(WORK, "out")
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, f"{args.workload}_seed{args.seed}_trace{args.trace}.json")
    with open(path, "w") as fh:
        json.dump(record, fh, indent=1, default=str)
    log(f"run record: {path}")

    for name in metrics:
        helpers.check_metric_name(name)
    failed = len(client.failures)
    print(json.dumps({"correct": failed == 0, "attempted": client.attempted,
                      "failed": failed, "metrics": metrics}))
    return 0 if failed == 0 else 1


def write_trace(args, passes: list, metrics: dict) -> None:
    out_dir = os.path.join(WORK, "out")
    os.makedirs(out_dir, exist_ok=True)
    stem = os.path.join(out_dir, f"trace_{args.workload}_seed{args.seed}")
    spans = [sp for p in passes for c in p["calls"] for sp in c["spans"]]
    with open(stem + "_spans.json", "w") as fh:
        json.dump(spans, fh)
    text = "\n\n".join(self_time_table(p) for p in passes)
    text += f"\n\ntrace_overhead {metrics['trace_overhead']['value']:.4f}"
    text += f"\nspark.parallel_speedup {metrics['spark.parallel_speedup']['value']:.4f}\n"
    with open(stem + "_self_times.txt", "w") as fh:
        fh.write(text)
    log(text)
    log(f"spans: {stem}_spans.json")


if __name__ == "__main__":
    sys.exit(main())
