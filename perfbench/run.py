#!/usr/bin/env python3
"""One benchmark run of graft.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Builds graft and the harness from the checkout (perfbench/build.py),
generates the inputs, runs the workload in one JVM (local[4]), checks the
outputs and prints each metric on its own line. The last line of stdout is
one JSON object: end-to-end metrics with --trace 0, per-layer metrics with
--trace 1. --seconds is the length of the open-loop stream run; the
closed-loop workloads run a fixed amount of work. Run from the root of a
graft checkout.
"""
import argparse
import datetime
import glob
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import datagen  # noqa: E402
import metrics as M  # noqa: E402

CONFIG = json.load(open(os.path.join(HERE, "workloads.json")))
BENCH = json.load(open(os.path.join(HERE, "..", "BENCHMARK.json")))
JVM_TIMEOUT_S = 160
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


class BenchError(Exception):
    pass


def log(msg):
    print(msg, file=sys.stderr, flush=True)


def iso_ms(s):
    """Epoch ms of an ISO-8601 UTC timestamp as Spark writes it."""
    s = s.rstrip("Z")
    return datetime.datetime.fromisoformat(s).replace(
        tzinfo=datetime.timezone.utc).timestamp() * 1000.0


# ---------------------------------------------------------------- the JVM

def run_jvm(root, run_dir, args):
    out = open(os.path.join(run_dir, "jvm.stdout"), "w")
    err = open(os.path.join(run_dir, "jvm.stderr"), "w")
    heap = CONFIG["jvm_heap"]
    cmd = (["java", f"-Xms{heap}", f"-Xmx{heap}", f"-Xmn{CONFIG['jvm_young']}",
            "-XX:ReservedCodeCacheSize=512m", "-XX:-UsePerfData",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            f"-Dlog4j2.configurationFile={os.path.join(HERE, 'harness', 'log4j2.properties')}",
            f"-Djava.io.tmpdir={run_dir}", f"-Dspark.local.dir={run_dir}/spark-local"]
           + ADD_OPENS + ["-cp", build.classpath(root), "graftbench.Harness"]
           + [x for k, v in args.items() for x in (f"--{k}", str(v))])
    spawn_ms = time.time() * 1000.0
    proc = subprocess.Popen(cmd, stdout=out, stderr=err, cwd=run_dir)
    try:
        code = proc.wait(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        raise BenchError(f"workload JVM exceeded {JVM_TIMEOUT_S}s")
    finally:
        out.close()
        err.close()
    path = os.path.join(run_dir, "records.jsonl")
    recs = [json.loads(line) for line in open(path)] if os.path.exists(path) else []
    fatal = [r for r in recs if r["type"] == "fatal"]
    if code != 0 or fatal:
        tail = open(os.path.join(run_dir, "jvm.stderr")).read()[-2000:]
        raise BenchError(f"workload JVM failed (exit {code}): "
                         f"{fatal[0]['error'] if fatal else ''}\n{tail}")
    return spawn_ms, recs


def by_type(recs, kind):
    return [r for r in recs if r["type"] == kind]


def one(recs, kind):
    xs = by_type(recs, kind)
    return xs[0] if xs else {}


def setup_ms(recs, phase):
    return sum(r["ms"] for r in by_type(recs, "setup") if r["phase"] == phase)


# ---------------------------------------------------------------- catalog

def compare_module(root):
    sys.path.insert(0, os.path.join(root, "tools"))
    import compare
    return compare


def digest(compare, con, sql):
    """(sorted columns with types, rows, canonical hash) of a DuckDB query,
    hashed exactly as tools/compare.py hashes outputs."""
    types = compare.described_types(con, sql)
    cur = con.execute(sql)
    cols = [d[0] for d in cur.description]
    rows = cur.fetchall()
    return [[list(t) for t in sorted(types.items())], len(rows), compare.table_hash(rows, cols)]


def oracle_digests(root, bdir, data_dir, oracle):
    """DuckDB-oracle digests over the same parquet, computed outside the
    timed run and kept per (dataset, SQL text)."""
    import duckdb
    compare = compare_module(root)
    path = os.path.join(bdir, "oracle", os.path.basename(data_dir) + ".json")
    cache = json.load(open(path)) if os.path.exists(path) else {}
    con = None
    for name, sql in oracle.items():
        key = hashlib.sha256(sql.encode()).hexdigest()
        if sql and cache.get(name, {}).get("sql") != key:
            if con is None:
                con = duckdb.connect()
                for t in datagen.NAMES:
                    con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
            try:
                cache[name] = {"sql": key, "digest": digest(compare, con, sql)}
            except Exception as e:  # an oracle error fails the query's check
                cache[name] = {"sql": key, "digest": None, "error": str(e)[:300]}
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as fh:
        json.dump(cache, fh)
    return {n: cache.get(n, {}).get("digest") for n in oracle}


def spark_digest(root, out_dir):
    import duckdb
    files = sorted(glob.glob(os.path.join(out_dir, "*.parquet")))
    if not files:
        return None
    compare = compare_module(root)
    return digest(compare, duckdb.connect(), f"SELECT * FROM read_parquet({files!r})")


def eval_catalog(root, bdir, wl, run_dir, recs, data_dir):
    oracle = dict(one(recs, "oracle")["sql"])
    want = oracle_digests(root, bdir, data_dir, oracle)
    ops, mismatched, errors = [], [], []
    for q in by_type(recs, "query"):
        ok = q["ok"]
        if not ok:
            errors.append(f"{q['name']}: {q['error'][:200]}")
        elif want.get(q["name"]) is None or \
                spark_digest(root, os.path.join(run_dir, "q", q["name"])) != want[q["name"]]:
            ok = False
            mismatched.append(q["name"])
        q["checked_ok"] = ok
        ops.append((ok, (q["end"] - q["start"]) / 1000.0 if ok else None))
    attempted, failed, secs = M.ops_summary(ops)
    notes = [f"mismatch {n}" for n in mismatched] + [f"error {e}" for e in errors]
    e2e = M.op_stats([s * 1000.0 for s in secs], attempted, wl["tail_q"])
    return attempted, failed, e2e, notes, {"batch_total_s": sum(secs)}


# ---------------------------------------------------------------- streams

def progress_by_query(recs, ids, names, since):
    out = {n: [] for n in names}
    for r in by_type(recs, "progress"):
        p = r["p"]
        if p["id"] in ids and r["recv"] >= since:
            out[names[ids.index(p["id"])]].append(p)
    for ps in out.values():
        ps.sort(key=lambda p: p["batchId"])
    return out


def sink_files(sink_dir, last_batch=None):
    """{batch id: (commit epoch ms, [parquet files])} from a file sink's
    metadata log; only committed batches are visible to readers. A
    compacted log file repeats the files of earlier batches."""
    logs = []
    for f in glob.glob(os.path.join(sink_dir, "_spark_metadata", "*")):
        base = os.path.basename(f)
        head = base.split(".")[0]
        if head.isdigit() and base in (head, head + ".compact"):
            logs.append((int(head), base.endswith(".compact"), f))
    out, seen = {}, set()
    for b, _, f in sorted(logs):
        if last_batch is not None and b > last_batch:
            continue
        lines = open(f).read().splitlines()[1:]
        paths = [json.loads(x)["path"].replace("file://", "") for x in lines if x.strip()]
        out[b] = (os.stat(f).st_mtime_ns / 1e6, [p for p in paths if p not in seen])
        seen.update(paths)
    return out


def read_rows(paths, cols):
    import pyarrow.parquet as pq
    rows = []
    for p in paths:
        t = pq.read_table(p, columns=cols)
        rows.extend(zip(*[t.column(c).to_pylist() for c in cols]))
    return rows


def eval_reference(wl, run_dir, recs):
    end = one(recs, "run_end")
    start = one(recs, "run_start")["t"]
    prog = progress_by_query(recs, end["ids"], end["names"], start)
    batches = sum(len(ps) for ps in prog.values())
    sinks = sink_files(os.path.join(run_dir, "run", "alerts"))
    commit = {b: t for b, (t, _) in sinks.items()}
    alert_batch, stamped, values = [], [], []
    for b, (_, paths) in sinks.items():
        for (v,) in read_rows(paths, ["value"]):
            a = json.loads(v)
            values.append(int(a["order_id"].split("_")[1]))
            alert_batch.append(b)
            stamped.append(iso_ms(a["event_timestamp"]))
    # A row is due when the open-loop schedule, which starts at the fixed
    # phase `start`, offers it; the source's own timestamps start only when
    # the query has created it, so they would hide start-up time.
    lat = M.row_latencies(commit, zip(alert_batch, (M.due_ms(start, v, wl["rate"]) for v in values)))
    if len(lat) < 1000:
        raise BenchError(f"only {len(lat)} alert rows; p99 needs >= 1000")
    # the check: every rate row with value % 10 = 0 is alerted exactly once
    alert_prog = {p["batchId"]: p for p in prog["alerts"]}
    last = max(commit)
    rows_read = wl["rate"] * int(alert_prog[last]["sources"][0]["endOffset"]) \
        if last in alert_prog else None
    notes = []
    if rows_read is None:
        notes.append(f"no progress for committed alert batch {last}")
    elif sorted(values) != list(range(0, rows_read, 10)):
        notes.append(f"alerts {len(values)} rows ({len(set(values))} distinct) != "
                     f"{len(range(0, rows_read, 10))} multiples of 10 below {rows_read}")
    dead = [q for q in by_type(recs, "query_stopped") if q["error"]]
    notes += [f"dead stream {q['id']}: {q['error'][:200]}" for q in dead]
    failed = len(dead) + (len(alert_prog) if notes else 0)
    e2e = M.op_stats(lat, len(lat), wl["tail_q"])
    source_start = min(d for d, v in zip(stamped, values) if v == 0) if 0 in values else None
    extra = {"rows_read": rows_read, "alert_rows": len(lat),
             "lag_rows": (end["t"] - source_start) / 1000.0 * wl["rate"] - rows_read
             if source_start is not None and rows_read is not None else None}
    extra = {k: v for k, v in extra.items() if v is not None}
    return batches, failed, e2e, notes, prog, extra


def eval_saturate(wl, run_dir, recs):
    import duckdb
    end = one(recs, "run_start")
    prog = progress_by_query(recs, end["ids"], end["names"], end["t"])
    last = wl["batches"] - 1
    notes = []
    timed = {}
    for name, ps in prog.items():
        got = {p["batchId"]: p for p in ps}
        missing = [b for b in range(1, last + 1) if b not in got]
        if missing:
            raise BenchError(f"{name}: no progress for batches {missing[:5]}")
        timed[name] = [got[b] for b in range(1, last + 1)]
    t0 = min(iso_ms(ps[0]["timestamp"]) for ps in timed.values())
    t1 = max(iso_ms(ps[-1]["timestamp"]) + ps[-1]["durationMs"]["triggerExecution"]
             for ps in timed.values())
    trig = [p["durationMs"]["triggerExecution"] for ps in timed.values() for p in ps]
    rows = wl["rows_per_batch"] * last
    # check 1: windowed aggregates equal the batch reference over the rows
    # the watermark admits, for every window the final watermark closed
    con = duckdb.connect()
    agg_files = [p for _, ps in sink_files(os.path.join(run_dir, "run", "agg"), last).values()
                 for p in ps]
    wm = iso_ms(timed["agg"][-1]["eventTime"]["watermark"])
    cols = ("window_start, window_end, category, location, order_count, total_revenue, "
            "max_order_value, min_order_value, unique_customers, round(avg_order_value, 6) a")
    exp = con.execute(
        f"SELECT {cols} FROM read_parquet('{run_dir}/expected/agg/*.parquet') "
        f"WHERE epoch_ms(window_end) <= {wm} ORDER BY ALL").fetchall()
    got = con.execute(f"SELECT {cols} FROM read_parquet({agg_files!r}) ORDER BY ALL"
                      ).fetchall() if agg_files else []
    if exp != got:
        notes.append(f"windowed aggregates: {len(got)} rows != {len(exp)} expected")
    # check 2: alerts equal the batch fraud rule over every generated row
    alert_files = [p for _, ps in sink_files(os.path.join(run_dir, "run", "alerts"), last).values()
                   for p in ps]

    def alerts(rows_):
        out = []
        for (v,) in rows_:
            a = json.loads(v)
            a.pop("alert_timestamp", None)
            out.append(json.dumps(a, sort_keys=True))
        return sorted(out)
    got_a = alerts(read_rows(alert_files, ["value"]))
    exp_a = alerts(read_rows(glob.glob(f"{run_dir}/expected/alerts/*.parquet"), ["value"]))
    if got_a != exp_a:
        notes.append(f"alerts: {len(got_a)} rows != {len(exp_a)} expected")
    # check 3: the dedup output equals the rows the model keeps, and the
    # dedup operator's progress reports conserve rows
    dedup_files = [p for _, ps in sink_files(os.path.join(run_dir, "run", "dedup"), last).values()
                   for p in ps]
    key = "order_id, epoch_ms(event_timestamp)"
    exp_d = con.execute(f"SELECT {key} FROM read_parquet('{run_dir}/expected/dedup/*.parquet') "
                        "ORDER BY ALL").fetchall()
    got_d = con.execute(f"SELECT {key} FROM read_parquet({dedup_files!r}) ORDER BY ALL"
                        ).fetchall() if dedup_files else []
    if exp_d != got_d:
        notes.append(f"dedup: {len(got_d)} rows != {len(exp_d)} expected")
    model = one(recs, "model")
    ops = [p["stateOperators"][0] for p in prog["dedup"] if p["batchId"] <= last]
    kept = sum(s["numRowsUpdated"] for s in ops)
    late = sum(s["numRowsDroppedByWatermark"] for s in ops)
    if (kept, late) != (model["kept"], model["late"]):
        notes.append(f"dedup kept/late {kept}/{late} != model {model['kept']}/{model['late']}")
    dead = [q for q in by_type(recs, "query_stopped") if q["error"]]
    notes += [f"dead stream {q['id']}: {q['error'][:200]}" for q in dead]
    batches = sum(len(ps) for ps in timed.values())
    e2e = M.op_stats(trig, len(trig), wl["tail_q"])
    extra = {"rows_per_s": rows / ((t1 - t0) / 1000.0), "timed_rows": rows,
             "wall_s": (t1 - t0) / 1000.0, "model": model}
    return batches, len(dead) + (batches if notes else 0), e2e, notes, prog, extra


# ---------------------------------------------------------------- layers

def layer_metrics(wl, recs, prog, extra):
    """The per-layer metrics of the layers the run exercises."""
    out = {}
    start = one(recs, "setup_done").get("t", 0.0)
    trig = [p for ps in (prog or {}).values() for p in ps]
    if trig:
        d = [p["durationMs"] for p in trig]
        # means, not medians: Spark reports whole milliseconds, and a phase
        # such as latestOffset takes less than one on most triggers
        for key, name in (("latestOffset", "latest_offset"), ("queryPlanning", "planning"),
                          ("addBatch", "add_batch"), ("walCommit", "wal_commit"),
                          ("commitOffsets", "commit_offsets"), ("triggerExecution", "total")):
            out[f"trigger.{name}_ms"] = sum(x.get(key, 0) for x in d) / len(d)
        out["trigger.total_max_ms"] = max(x.get("triggerExecution", 0) for x in d)
        out["trigger.busy_ms"] = sum(p["durationMs"]["triggerExecution"] for p in trig
                                     if p["numInputRows"] > 0)
        out["trigger.unattributed_ms"] = sum(
            x.get("triggerExecution", 0) - sum(v for k, v in x.items() if k != "triggerExecution")
            for x in d) / len(d)
        ratios = [p["processedRowsPerSecond"] / p["inputRowsPerSecond"]
                  for p in trig if p.get("inputRowsPerSecond")]
        if ratios:
            out["source.processed_to_input"] = M.median(ratios)
        ops = [s for p in trig for s in p.get("stateOperators", [])]
        lasts = [ps[-1] for ps in prog.values() if ps]
        out["state.rows"] = sum(s["numRowsTotal"] for p in lasts for s in p.get("stateOperators", []))
        out["state.mem_bytes"] = sum(s["memoryUsedBytes"] for p in lasts
                                     for s in p.get("stateOperators", []))
        out["state.dropped_late_rows"] = sum(s.get("numRowsDroppedByWatermark", 0) for s in ops)
        out["state.commit_ms"] = sum(s.get("commitTimeMs", 0) for s in ops)
        out["state.update_ms"] = sum(s.get("allUpdatesTimeMs", 0) for s in ops)
        out["state.remove_ms"] = sum(s.get("allRemovalsTimeMs", 0) for s in ops)
    if "lag_rows" in extra:
        out["source.lag_rows"] = float(extra["lag_rows"])
    qs = [q for q in by_type(recs, "query") if q["ok"]]
    if qs:
        out["query.build_ms"] = sum(q["build_end"] - q["start"] for q in qs)
        out["query.plan_ms"] = sum(q["plan_end"] - q["build_end"] for q in qs)
        out["query.exec_ms"] = sum(q["end"] - q["plan_end"] for q in qs)
        reads = [q for q in qs if q["memo_reads"]]
        built = [q for q in qs if q["memo_built"]]
        out["memo.builds"] = len(built)
        out["memo.hits"] = sum(1 for q in reads if not q["memo_built"])
        out["memo.build_ms"] = sum(q["build_end"] - q["start"] for q in built)
        if reads:
            out["memo.hit_ratio"] = out["memo.hits"] / len(reads)
    jobs = {j["job"]: j for j in by_type(recs, "job") if j["start"] >= start}
    stage_job = {s: j["job"] for j in jobs.values() for s in j["stages"]}
    stages = [s for s in by_type(recs, "stage") if s["stage"] in stage_job]
    out["sched.jobs"] = len(jobs)
    out["sched.stages"] = len(stages)
    out["sched.tasks"] = sum(s["tasks"] for s in stages)
    out["sched.tasks_failed"] = sum(s["failed_tasks"] for s in stages)
    spans = {}
    for s in stages:
        if s["start"] is not None and s["end"] is not None:
            spans.setdefault(jobs[stage_job[s["stage"]]]["group"], []).append((s["start"], s["end"]))
    if qs:  # the gap and the Tables scans belong to catalog queries
        out["sched.gap_ms"] = sum(M.sched_gap(q["plan_end"], q["end"], spans.get(q["name"], []))
                                  for q in qs)
        out["scan.bytes"] = sum(s["input_bytes"] for s in stages)
        out["scan.rows"] = sum(s["input_rows"] for s in stages)
    out["shuffle.write_bytes"] = sum(s["shuffle_write"] for s in stages)
    out["shuffle.read_bytes"] = sum(s["shuffle_read"] for s in stages)
    out["shuffle.fetch_wait_ms"] = sum(s["fetch_wait_ms"] for s in stages)
    out["shuffle.spill_bytes"] = sum(s["spill"] for s in stages)
    skews = [max(s["task_reads"]) / M.median(s["task_reads"]) for s in stages
             if len(s["task_reads"]) > 1 and M.median(s["task_reads"]) > 0]
    if skews:
        out["shuffle.skew"] = max(skews)
    out["exec.task_ms"] = sum(s["run_ms"] for s in stages)
    out["exec.task_cpu_ms"] = sum(s["cpu_ms"] for s in stages)
    for k in by_type(recs, "kernel"):
        out[f"kernel.{k['fn']}_ns_per_doc"] = k["ns_per_doc"]
    jvm = one(recs, "jvm")
    out["jvm.gc_ms"] = jvm.get("gc_ms", 0)
    out["codegen.compiles"] = jvm.get("codegen_compiles", 0)
    # CodegenMetrics keeps a sampled histogram, so count × mean estimates the total
    out["codegen.compile_ms"] = jvm.get("codegen_compiles", 0) * jvm.get("codegen_compile_ms_mean", 0)
    out["setup.session_ms"] = setup_ms(recs, "session")
    out["setup.warmup_ms"] = setup_ms(recs, "warmup")
    if any(r["phase"] == "tables_open" for r in by_type(recs, "setup")):
        out["setup.tables_open_ms"] = setup_ms(recs, "tables_open")
    return out


# the order in which a micro-batch runs the phases its progress report times
TRIGGER_PHASES = ("latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch",
                  "commitOffsets")


def trace_report(recs, prog, run_dir):
    """Spans of the traced run and each layer's self time, written beside
    the run's records. Roots are queries (build / plan / exec) or streaming
    triggers (their progress phases, laid end to end); Spark jobs join the
    phase of their job group that was running when they started, and
    stages join their job."""
    spans, layer, phases_of = {}, {}, {}

    def add(sid, parent, s, e, name, group=None):
        spans[sid], layer[sid] = (parent, s, e), name
        if group is not None:
            phases_of.setdefault(group, []).append(sid)
    for q in by_type(recs, "query"):
        if q["ok"]:
            n = q["name"]
            add(n, None, q["start"], q["end"], "query")
            for ph, s, e in (("build", q["start"], q["build_end"]),
                             ("plan", q["build_end"], q["plan_end"]), ("exec", q["plan_end"], q["end"])):
                add(f"{n}/{ph}", n, s, e, ph, n)
    for name, ps in (prog or {}).items():
        for p in ps:
            root = f"{name}/b{p['batchId']}"
            t = iso_ms(p["timestamp"])
            add(root, None, t, t + p["durationMs"]["triggerExecution"], "trigger")
            for ph in TRIGGER_PHASES:
                dur = p["durationMs"].get(ph, 0)
                add(f"{root}/{ph}", root, t, t + dur, ph, p["runId"])
                t += dur
    ends = {j["job"]: j["end"] for j in by_type(recs, "job_end")}
    job_of = {}
    for j in by_type(recs, "job"):
        parent = next((sid for sid in phases_of.get(j["group"], [])
                       if spans[sid][1] <= j["start"] <= spans[sid][2]), None)
        if parent is not None and j["job"] in ends:
            add(f"job{j['job']}", parent, j["start"], ends[j["job"]], "job")
            job_of.update({s: f"job{j['job']}" for s in j["stages"]})
    for s in by_type(recs, "stage"):
        if s["stage"] in job_of and s["start"] is not None and s["end"] is not None:
            add(f"stage{s['stage']}", job_of[s["stage"]], s["start"], s["end"], "stage")
    trees = {}
    for sid in spans:
        root = sid
        while spans[root][0] is not None:
            root = spans[root][0]
        trees.setdefault(root, {})[sid] = spans[sid]
    self_ms = {}
    for tree in trees.values():  # per root, so concurrent queries' time is not shared
        for k, v in M.layer_self_times(tree, layer).items():
            self_ms[k] = self_ms.get(k, 0.0) + v
    report = {"root_wall_ms": sum(e - s for p, s, e in spans.values() if p is None),
              "self_ms_by_layer": self_ms,
              "unattributed_ms": self_ms.get("query", 0.0) + self_ms.get("trigger", 0.0)}
    with open(os.path.join(run_dir, "trace.json"), "w") as fh:
        json.dump({"report": report,
                   "spans": {k: [p, s, e, layer[k]] for k, (p, s, e) in spans.items()}}, fh)
    return report


# ---------------------------------------------------------------- main

def derive_shared(root, bdir):
    """Prints the catalog-shared membership list by its rule."""
    data_root = os.path.join(bdir, "data")
    run_dir = os.path.join(bdir, "runs", "derive-shared")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    _, recs = run_jvm(root, run_dir, {
        "workload": "derive-shared", "trace": 0, "cores": CONFIG["cores"], "out": run_dir,
        "data": datagen.ensure(data_root, 0.01, CONFIG["data_seed"])})
    print(json.dumps([r["name"] for r in by_type(recs, "member")]))


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[1])
    ap.add_argument("--workload", choices=sorted(CONFIG["workloads"]))
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cores", type=int, default=CONFIG["cores"])
    ap.add_argument("--derive-shared", action="store_true",
                    help="print the catalog-shared query list by its membership rule")
    args = ap.parse_args()
    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "src", "main", "scala", "graft")):
        log("run from the root of a graft checkout (src/main/scala/graft not found)")
        return 2
    bdir = build.build_dir(root)
    build.build(root)
    if args.derive_shared:
        derive_shared(root, bdir)
        return 0
    if args.workload is None or args.seed is None or args.seconds is None:
        ap.error("--workload, --seed and --seconds are required")
    wl = CONFIG["workloads"][args.workload]
    run_dir = os.path.join(bdir, "runs", args.workload)
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    jargs = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
             "trace": args.trace, "cores": args.cores, "out": run_dir}
    jargs.update({k: v for k, v in wl.items() if k in CONFIG["jvm_params"]})
    data_dir = None
    if wl["kind"] == "catalog":
        data_root = os.path.join(bdir, "data")
        data_dir = datagen.ensure(data_root, wl["sf"], CONFIG["data_seed"])
        jargs["data"] = data_dir
        jargs["warmup_data"] = datagen.ensure(data_root, CONFIG["warmup_sf"], CONFIG["data_seed"])
        lists = {"warmup": CONFIG["warmup_queries"]}
        if "sample" in wl:
            lists["exclude"] = CONFIG["warmup_queries"] + sorted(CONFIG["known_failing"])
        else:
            lists["queries"] = wl["queries"]
        for key, xs in lists.items():
            jargs[key] = os.path.join(run_dir, f"{key}.txt")
            with open(jargs[key], "w") as fh:
                fh.write("\n".join(xs) + "\n")
        if args.trace and wl.get("kernels"):
            jargs["kernel_data"] = data_dir
    spawn_ms, recs = run_jvm(root, run_dir, jargs)
    prog, extra = None, {}
    if wl["kind"] == "catalog":
        attempted, failed, e2e, notes, extra = eval_catalog(root, bdir, wl, run_dir, recs, data_dir)
    elif args.workload == "stream-reference":
        attempted, failed, e2e, notes, prog, extra = eval_reference(wl, run_dir, recs)
    else:
        attempted, failed, e2e, notes, prog, extra = eval_saturate(wl, run_dir, recs)
    e2e["setup_s"] = ((one(recs, "setup_done")["t"] - spawn_ms) / 1000.0, 1)
    e2e["peak_rss_mb"] = (one(recs, "jvm")["peak_rss_kb"] / 1024.0, 1)
    for n in notes:
        log(f"[check] {n}")
    units = {m["name"]: m["unit"] for m in BENCH["end_to_end"] + BENCH["per_layer"]}
    print(f"# {args.workload} seed={args.seed} trace={args.trace} cores={args.cores} "
          f"correct={not notes}")
    print(f"error_rate {failed / attempted:.4f} ratio ({failed} of {attempted} "
          f"{wl['operation']} operations failed)")
    for k, v in extra.items():
        print(f"{k} {v}")
    if args.trace:
        print("traced " + json.dumps({k: v for k, (v, _) in e2e.items()}))
        print("trace " + json.dumps(trace_report(recs, prog, run_dir)))
        measured = layer_metrics(wl, recs, prog, extra)
        # every per-layer metric is in the result line; one whose layer this
        # workload does not exercise reads 0 there and "not exercised" here
        values = {m["name"]: (measured.get(m["name"]), None) for m in BENCH["per_layer"]}
    else:
        values = e2e
    for name in sorted(values):
        v, n = values[name]
        print(f"{name} " + (f"{v:.6g} {units[name]}" if v is not None else
                            "not exercised" if args.trace else "not measured (failed operations)")
              + (f" (n={n})" if n is not None else ""))
    print(json.dumps({"correct": not notes and not failed, "attempted": attempted, "failed": failed,
                      "metrics": {k: {"value": float(v if v is not None else 0.0), "unit": units[k]}
                                  for k, (v, _) in values.items()
                                  if v is not None or args.trace}}))
    return 0


if __name__ == "__main__":
    try:
        sys.exit(main())
    except BenchError as e:
        log(f"benchmark failed: {e}")
        sys.exit(1)
