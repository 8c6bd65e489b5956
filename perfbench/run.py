#!/usr/bin/env python3
"""The repository benchmark: one command per workload and seed.

    python3 perfbench/run.py --workload <ingest|curation|panels> --seed <n> \
        --seconds <s> --trace <0|1>

Run from the repository root. It builds the engine and the harness from
source (once per checkout), generates the inputs from the seed, runs the
harness JVM, checks every output, and prints as its last stdout line one
JSON object: {"correct", "attempted", "failed", "metrics"}. With --trace 0
the metrics are the end-to-end ones; with --trace 1 the per-layer ones.
See perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import re
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import gen  # noqa: E402
import metrics as M  # noqa: E402

ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".bench_build")
LAUNCH = os.path.join(HERE, "target", "launch.txt")
# half the 6 GiB driver the workloads were sized with, because the host's
# memory is shared; jvm.heap_peak_mb and jvm.gc_ms show what this costs
JVM_HEAP = "3g"
JVM_TIMEOUT_S = 150
BUILD_TIMEOUT_S = 850

# what each workload's "op" and "unit of work" are (README.md)
WORKLOADS = {
    "ingest": "live send freshness / backlog catch-up",
    "curation": "curation stage / 18-stage chain",
    "panels": "panel execution / 22-panel refresh",
}

E2E = [("setup_s", "s"), ("work_s", "s"), ("op_ms", "ms"), ("resident_mb", "MB")]

STREAM_FIELDS = [("batches", "count"), ("rows_per_batch", "rows"),
                 ("trigger_ms", "ms"), ("add_batch_ms", "ms"), ("wal_ms", "ms"),
                 ("planning_ms", "ms"), ("state_commit_ms", "ms"),
                 ("state_update_ms", "ms"), ("state_rows", "rows"),
                 ("state_mem_mb", "MB"), ("dup_dropped", "rows"),
                 ("watermark_lag_ms", "ms")]
SOURCE_FIELDS = [("commit_ms", "ms"), ("rows_committed", "rows"),
                 ("dup_rows", "rows"), ("ledger_rows", "rows"), ("prune_ms", "ms")]
STAGES = ["llm_html_extract", "llm_lang_id", "llm_quality_score", "llm_pii_scrub",
          "llm_repetition", "llm_exact_dedup", "llm_minhash_lsh",
          "llm_simhash_neardup", "llm_semdedup", "llm_embed_neardup",
          "llm_bpe_apply", "llm_token_count", "llm_kn_lm_score", "llm_seq_pack",
          "llm_ann_ivf_trained", "llm_ann_pq", "mm_image_meta_real",
          "mm_audio_meta_real"]

PER_LAYER = (
    [("fixtures.load_ms", "ms"), ("fixtures.clear_ms", "ms"),
     ("fixtures.memo_builds", "count"), ("fixtures.resident_mb", "MB"),
     ("queries.build_ms", "ms"), ("queries.build_jobs", "count"),
     ("queries.self_ms", "ms"),
     ("spark.plan.analysis_ms", "ms"), ("spark.plan.optimization_ms", "ms"),
     ("spark.plan.planning_ms", "ms"), ("spark.plan.self_ms", "ms"),
     ("spark.exec.ms", "ms"), ("spark.exec.self_ms", "ms"),
     ("spark.exec.jobs", "count"), ("spark.exec.stages", "count"),
     ("spark.exec.tasks", "count"), ("spark.exec.task_busy_ms", "ms"),
     ("spark.exec.cpu_ms", "ms"), ("spark.exec.gc_ms", "ms"),
     ("spark.exec.sched_delay_ms", "ms"), ("spark.exec.busy_ratio", "ratio"),
     ("spark.exec.shuffle_read_mb", "MB"), ("spark.exec.shuffle_write_mb", "MB"),
     ("spark.exec.spill_mb", "MB"), ("spark.exec.input_mb", "MB"),
     ("spark.exec.failed_tasks", "count")]
    + [(f"streaming.{q}.{f}", u) for q in ("dedup", "candles") for f, u in STREAM_FIELDS]
    + [("streaming.self_ms", "ms")]
    + [(f"sources.{s}.{f}", u) for s in ("trades", "candles") for f, u in SOURCE_FIELDS]
    + [("sources.self_ms", "ms")]
    + [(f"curation.{s}_ms", "ms") for s in STAGES]
    + [("gen.late_ms", "ms"), ("gen.backlog_rows", "rows"),
       ("jvm.gc_ms", "ms"), ("jvm.heap_peak_mb", "MB"),
       ("trace.overhead", "ratio"), ("trace.unaccounted_ms", "ms"),
       ("trace.unreconciled_ops", "count")])

# an open-loop live phase is invalid if its generator ran this late
MAX_GEN_LATE_MS = 250.0


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(msg)
    sys.exit(code)


# ---------------------------------------------------------------- processes

_children = []


def _stop_children(signum, _frame):
    """On SIGTERM/SIGINT, kill every child process group, then exit."""
    for p in _children:
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
    sys.exit(128 + signum)


def run_proc(cmd, cwd, timeout, log_path, env=None):
    """Run `cmd` in its own process group; kill the group on timeout or when
    this process is told to stop. Returns the exit code (None on timeout)."""
    with open(log_path, "w") as out:
        p = subprocess.Popen(cmd, cwd=cwd, stdout=out, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL, env=env, start_new_session=True)
        _children.append(p)
        try:
            return p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            return None
        finally:
            if p.poll() is None:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()
            _children.remove(p)


def newest_mtime(paths):
    newest = 0.0
    for p in paths:
        if os.path.isfile(p):
            newest = max(newest, os.path.getmtime(p))
        for d, _, files in os.walk(p):
            for f in files:
                newest = max(newest, os.path.getmtime(os.path.join(d, f)))
    return newest


def build():
    """Compile the engine (its own build.sbt) and the harness once per
    checkout; rebuild when any source is newer than the launch file."""
    for need in ("build.sbt", os.path.join("src", "main", "scala")):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"no engine sources: {need} missing under {ROOT}")
    sources = [os.path.join(ROOT, p) for p in
               ("build.sbt", "project/build.properties", "src/main")] + \
              [os.path.join(HERE, p) for p in
               ("build.sbt", "project/build.properties", "src")]
    if os.path.exists(LAUNCH) and os.path.getmtime(LAUNCH) > newest_mtime(sources):
        return
    if shutil.which("sbt") is None:
        fail("sbt not found on PATH")
    os.makedirs(WORK, exist_ok=True)
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # offline, and every file sbt and its JVMs write kept under .bench_build
    env = dict(os.environ, COURSIER_MODE="offline",
               JAVA_TOOL_OPTIONS=f"-XX:-UsePerfData -Djava.io.tmpdir={tmp} -Djna.tmpdir={tmp}")
    # without SBT_OPTS, the same resolver settings the repository's own
    # test command falls back to
    repos = os.path.expanduser("~/.sbt/repositories")
    default = (f"-Dsbt.override.build.repos=true -Dsbt.repository.config={repos} -Xmx4g"
               if os.path.exists(repos) else "")
    env["SBT_OPTS"] = " ".join([env.get("SBT_OPTS", default), "-Dsbt.offline=true",
                                f"-Dsbt.global.base={os.path.join(WORK, 'sbt')}",
                                f"-Dsbt.ivy.home={os.path.join(WORK, 'ivy')}"]).strip()
    log("building engine and harness (sbt writeLaunch)")
    t = time.time()
    rc = run_proc(["sbt", "--batch", "-Dsbt.log.noformat=true", "writeLaunch"],
                  HERE, BUILD_TIMEOUT_S, os.path.join(WORK, "build.log"), env)
    if rc != 0 or not os.path.exists(LAUNCH):
        fail(f"build failed (rc={rc}); see .bench_build/build.log")
    log(f"built in {time.time() - t:.0f} s")


# ---------------------------------------------------------------- one run

def canon(rel):
    """A result in comparable form: columns sorted by name, values as
    strings where types differ between engines, rows sorted."""
    cols = sorted(rel.columns)
    df = rel.to_df()[cols]
    for c in df.columns:
        if str(df[c].dtype).startswith("datetime"):
            df[c] = df[c].astype("datetime64[us]").astype(str)
        elif df[c].dtype == object:
            df[c] = df[c].astype(str)
    return df.sort_values(by=cols, kind="mergesort").reset_index(drop=True)


def digest(df):
    text = ",".join(df.columns) + "\n" + df.to_csv(index=False, header=False)
    return hashlib.sha1(text.encode()).hexdigest()


def duck_check(data_dir, run_dir, oracle):
    """Compare each dumped Spark result with its DuckDB twin on the same
    parquet. A twin's answer is cached in .bench_build/twins under the hash
    of its SQL and of the input tables it names. Returns {entry: ok}."""
    import duckdb
    con = duckdb.connect()
    tables = {}
    for f in sorted(os.listdir(data_dir)):
        if f.endswith(".parquet"):
            path = os.path.join(data_dir, f)
            con.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM read_parquet('{path}')")
            with open(path, "rb") as fh:
                tables[f[:-8]] = hashlib.sha1(fh.read()).hexdigest()
    cache = os.path.join(WORK, "twins")
    os.makedirs(cache, exist_ok=True)
    result = {}
    for name, sql in sorted(oracle.items()):
        used = [t for t in tables if re.search(rf"\b{t}\b", sql)]
        key = hashlib.sha1((sql + "".join(tables[t] for t in used)).encode()).hexdigest()
        cached = os.path.join(cache, key)
        dump = os.path.join(run_dir, "dumps", name)
        try:
            files = sorted(os.path.join(dump, f) for f in os.listdir(dump)
                           if f.endswith(".parquet"))
            got = digest(canon(con.sql(f"SELECT * FROM read_parquet({files!r})")))
            if not os.path.exists(cached):
                want = digest(canon(con.sql(sql)))
                with open(cached, "w") as fh:
                    fh.write(want)
            with open(cached) as fh:
                ok = got == fh.read()
        except Exception as e:  # a twin that cannot run is a failed check
            log(f"duckdb twin {name}: {e}")
            ok = False
        if not ok:
            log(f"output mismatch against the DuckDB twin: {name}")
        result[name] = ok
    return result


def cpu_ticks():
    """Host CPU counters (Linux /proc/stat), to report stolen time; None
    where unavailable."""
    try:
        with open("/proc/stat") as f:
            return [int(x) for x in f.readline().split()[1:]]
    except OSError:
        return None


def run_once(workload, seed, seconds, trace, t0):
    """Generate inputs, run the harness JVM, return (result, data_dir, run_dir)."""
    run_dir = os.path.join(WORK, "runs", f"{workload}-{seed}-{os.getpid()}-{trace}")
    shutil.rmtree(run_dir, ignore_errors=True)
    data = os.path.join(run_dir, "data")
    gen.generate(data, seed)
    lines = open(LAUNCH).read().splitlines()
    cp, opts = lines[0], [x for x in lines[1:] if x]
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    cmd = (["java", f"-Xms{JVM_HEAP}", f"-Xmx{JVM_HEAP}", "-XX:-UsePerfData", "-Duser.timezone=UTC",
            f"-Djava.io.tmpdir={tmp}"] + opts +
           ["-cp", cp, "perfbench.Main", workload, data, run_dir, str(seconds),
            str(seed), "1" if trace else "0", str(t0 * 1000.0)])
    log_path = os.path.join(run_dir, "jvm.log")
    before = cpu_ticks()
    rc = run_proc(cmd, run_dir, JVM_TIMEOUT_S, log_path)
    after = cpu_ticks()
    if before and after and len(before) > 7:
        d = [b - a for a, b in zip(before, after)]
        log(f"host: {100.0 * d[7] / max(1, sum(d)):.1f}% of CPU time stolen during the run")
    if rc != 0:
        shutil.copy(log_path, os.path.join(WORK, "last-failure.log"))
        tail = open(log_path, errors="replace").read().splitlines()
        for line in [x for x in tail if "[perfbench]" in x][-5:] or tail[-15:]:
            print(line, file=sys.stderr)
        fail(f"harness failed (rc={rc}); log in .bench_build/last-failure.log",
             3 if rc == 3 else 1)
    with open(os.path.join(run_dir, "result.json")) as f:
        return json.load(f), data, run_dir


# ---------------------------------------------------------------- metrics

def ingest_view(res):
    """Freshness per live send, backlog samples and validity of the live phase."""
    batches = [[(b["end_offset"], b["commit_ms"]) for b in res["batches"][qid]]
               for qid in res["queries"]]
    sends = res["sends"]
    fresh = M.freshness([(s["sched_ms"], s["offset"]) for s in sends], batches)
    sent = [(s["sent_ms"], s["offset"], s["rows"]) for s in sends]
    samples = [M.backlog(sent, batches, s["sent_ms"]) for s in sends]
    late = max(s["sent_ms"] - s["sched_ms"] for s in sends)
    problems = []
    if late > MAX_GEN_LATE_MS:
        problems.append(f"generator fell behind by {late:.0f} ms")
    if M.backlog_grew(samples, res["rate_per_s"]):
        problems.append("backlog grew across the live phase")
    return fresh, samples, late, problems


def end_to_end(workload, res, ops):
    timed = [o for o in ops if o["kind"] in ("panel", "stage")]
    if workload == "ingest":
        fresh, _, _, _ = ingest_view(res)
        lat = [f for f in fresh if f is not None]
    else:
        lat = [o["ms"] for o in timed if o["ok"]]
    work = [u for u in res["units"] if u is not None]
    if not lat or not work:
        return None, lat
    # 18 stages that differ by 20x: their median jumps between stage
    # clusters, and their mean is work_s / 18. A curation op's typical
    # latency is the geometric mean of the stages after the first (which
    # pays JIT warm-up), so each stage weighs the same.
    if workload == "curation":
        op = statistics.geometric_mean([o["ms"] for o in timed[1:] if o["ok"]])
    else:
        op = M.percentile(lat, 50)
    return {
        "setup_s": res["setup_s"],
        "work_s": statistics.median(work) / 1000.0,
        "op_ms": op,
        "resident_mb": res["resident_mb"],
    }, lat


def mean(xs):
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def layer_of(span):
    """The layer a span's self time is charged to; op roots are "harness"."""
    for layer in ("spark.plan", "spark.exec", "queries", "fixtures", "streaming", "sources"):
        if span["name"].startswith(layer):
            return layer
    return "harness"


def batch_spans(res, jobs_by_owner):
    """Spans of each micro-batch from its progress durations: the phases
    run one after another inside triggerExecution; the sink's write stage
    (sources.commit) and then its ledger prune (sources.prune) end addBatch."""
    spans, nid = [], 10_000_000
    order = [("latestOffset", "streaming.latest_offset"), ("getBatch", "streaming.get_batch"),
             ("walCommit", "streaming.wal"), ("queryPlanning", "streaming.planning"),
             ("addBatch", "streaming.add_batch"), ("commitOffsets", "streaming.commit_offsets")]
    for qid, role in res["queries"].items():
        prunes = prunes_of(res, qid)
        for b in res["batches"][qid]:
            op = f"batch:{role}:{b['batch_id']}"
            d = b["duration"]
            root = {"op": op, "id": nid, "parent": 0, "name": "streaming.batch",
                    "start": b["start_ms"], "end": b["commit_ms"]}
            spans.append(root)
            t, nid = b["start_ms"], nid + 1
            for key, name in order:
                ms = d.get(key, 0)
                span = {"op": op, "id": nid, "parent": root["id"], "name": name,
                        "start": t, "end": t + ms}
                spans.append(span)
                nid += 1
                if key == "addBatch":
                    prune = prunes.get(b["batch_id"], 0.0)
                    commit = sink_commit_ms(jobs_by_owner.get(f"stream:{qid}:{b['batch_id']}", []))
                    end = t + ms
                    for name, dur in (("sources.prune", prune), ("sources.commit", commit)):
                        if dur:
                            spans.append({"op": op, "id": nid, "parent": span["id"],
                                          "name": name, "start": end - dur, "end": end})
                            nid += 1
                            end -= dur
                t += ms
    return spans


def prunes_of(res, qid):
    """The ledger prunes a query's sink made, each timed around its DELETE
    (traced runs only): {batch_id: ms}."""
    return {int(p["batch_id"]): p["end"] - p["start"] for p in res["prunes"]
            if p["query_id"] == qid}


def sink_commit_ms(jobs):
    """Duration of the sink's write stage: the result stage of the batch's
    last job (the foreachPartition insert)."""
    done = [j for j in jobs if j.get("result_stage")]
    if not done:
        return 0.0
    a, b = max(done, key=lambda j: j["id"])["result_stage"]
    return b - a


def per_layer(workload, res, ops, untraced_work_s):
    m = {name: 0.0 for name, _ in PER_LAYER}
    jobs = res.get("jobs", [])
    counters = res.get("counters", {})
    jobs_by_owner = {}
    for j in jobs:
        jobs_by_owner.setdefault(j["owner"], []).append(j)
    spans = [dict(s) for s in res["spans"]]
    # Spark's own intervals become spans of the op that caused them
    for j in jobs:
        if j["owner"] in {o["id"] for o in ops} and j["end"] is not None:
            spans.append({"op": j["owner"], "id": 20_000_000 + j["id"], "parent": -1,
                          "name": "spark.exec.job", "start": j["start"], "end": j["end"]})
    spans = M.attach(spans)
    timed = [o for o in ops if o["kind"] in ("panel", "stage")]
    timed_ids = {o["id"] for o in timed}

    m["fixtures.load_ms"] = res.get("setup.fixtures.load", 0.0)
    m["fixtures.clear_ms"] = res.get("clear_ms", 0.0)
    m["fixtures.memo_builds"] = sum(o.get("memo_builds", 0) for o in timed)
    m["fixtures.resident_mb"] = res["resident_mb"]
    m["jvm.gc_ms"] = res["gc_ms"]
    m["jvm.heap_peak_mb"] = res["heap_peak_mb"]

    # ops: panels or stages, or the micro-batches of the ingest chains
    if workload == "ingest":
        spans += batch_spans(res, jobs_by_owner)
        op_spans = [s for s in spans if s["op"].startswith("batch:")]
        owners = [k for k in counters if k.startswith("stream:")
                  and k.split(":")[1] in res["queries"]]
    else:
        op_spans = [s for s in spans if s["op"] in timed_ids]
        owners = [k for k in counters if k in timed_ids]
    recon = M.reconcile(op_spans, layer_of)
    n_ops = max(1, len(recon))

    def span_mean(name):
        by_op = {}
        for s in op_spans:
            if s["name"] == name:
                by_op[s["op"]] = by_op.get(s["op"], 0.0) + s["end"] - s["start"]
        return sum(by_op.values()) / n_ops

    m["queries.build_ms"] = span_mean("queries.build")
    m["queries.build_jobs"] = sum(1 for j in jobs if j["owner"] in timed_ids
                                  and j["phase"] == "build") / n_ops
    for phase in ("analysis", "optimization", "planning"):
        m[f"spark.plan.{phase}_ms"] = span_mean(f"spark.plan.{phase}")
    m["spark.exec.ms"] = span_mean("spark.exec")
    for layer in ("queries", "spark.plan", "spark.exec", "streaming", "sources"):
        m[f"{layer}.self_ms"] = mean(r["layers"].get(layer, 0.0) for r in recon)
    m["trace.unaccounted_ms"] = mean(r["unaccounted"] for r in recon)
    m["trace.unreconciled_ops"] = sum(1 for r in recon if not r["ok"])

    c = [counters[k] for k in owners]
    n_c = max(1, len(recon))
    for key in ("jobs", "stages", "tasks"):
        m[f"spark.exec.{key}"] = sum(x[key] for x in c) / n_c
    for key in ("task_busy_ms", "cpu_ms", "gc_ms", "sched_delay_ms"):
        m[f"spark.exec.{key}"] = sum(x[key] for x in c) / n_c
    for key, src in (("shuffle_read_mb", "shuffle_read_b"), ("shuffle_write_mb", "shuffle_write_b"),
                     ("spill_mb", "spill_b"), ("input_mb", "input_b")):
        m[f"spark.exec.{key}"] = sum(x[src] for x in c) / n_c / 1048576.0
    m["spark.exec.failed_tasks"] = sum(x["failed_tasks"] for x in c)
    wall = sum(r["wall"] for r in recon)
    if wall > 0:
        m["spark.exec.busy_ratio"] = sum(x["task_busy_ms"] for x in c) / (wall * res["cores"])

    if workload == "curation":
        for o in timed:
            m[f"curation.{o['name']}_ms"] = o["ms"]

    if workload == "ingest":
        for qid, role in res["queries"].items():
            bs = res["batches"][qid]
            pre = f"streaming.{role}."
            m[pre + "batches"] = len(bs)
            m[pre + "rows_per_batch"] = mean(b["rows"] for b in bs)
            for key, name in (("triggerExecution", "trigger_ms"), ("addBatch", "add_batch_ms"),
                              ("walCommit", "wal_ms"), ("queryPlanning", "planning_ms")):
                m[pre + name] = mean(b["duration"].get(key, 0) for b in bs)
            m[pre + "state_commit_ms"] = mean(b["state_commit_ms"] for b in bs)
            m[pre + "state_update_ms"] = mean(b["state_update_ms"] for b in bs)
            m[pre + "state_rows"] = mean(b["state_rows"] for b in bs)
            m[pre + "state_mem_mb"] = mean(b["state_mem_b"] for b in bs) / 1048576.0
            m[pre + "dup_dropped"] = sum(b["dup_dropped"] + b["late_dropped"] for b in bs)
            m[pre + "watermark_lag_ms"] = mean(b["watermark_lag_ms"] for b in bs)
            sink = "trades" if role == "dedup" else "candles"
            src = f"sources.{sink}."
            m[src + "commit_ms"] = mean(sink_commit_ms(jobs_by_owner.get(f"stream:{qid}:{b['batch_id']}", []))
                                        for b in bs)
            t = res["tables"][sink]
            m[src + "rows_committed"] = t["rows"]
            m[src + "dup_rows"] = t["dup_rows"]
            m[src + "ledger_rows"] = t["ledger_rows"]
            m[src + "prune_ms"] = mean(prunes_of(res, qid).values())
        _, samples, late, _ = ingest_view(res)
        m["gen.late_ms"] = late
        m["gen.backlog_rows"] = max(samples)

    work = [u for u in res["units"] if u is not None]
    if untraced_work_s and work:
        m["trace.overhead"] = statistics.median(work) / 1000.0 / untraced_work_s
    return m, spans, recon


def summarize(workload, res, data, run_dir):
    """Check outputs and compute the workload's metrics.
    Returns (correct, attempted, failed, e2e, latencies)."""
    ops = res["ops"]
    twins = duck_check(data, run_dir, res["oracle"]) if res["oracle"] else {}
    for o in ops:  # a result that disagrees with its twin fails every op of it
        if twins.get(o["name"]) is False:
            o["ok"] = False
    counted = [o for o in ops if o["kind"] in ("panel", "stage", "send", "catchup")]
    problems = []
    if workload == "ingest":
        fresh, samples, late, problems = ingest_view(res)
        sends = [o for o in counted if o["kind"] == "send"]
        for o, f in zip(sends, fresh):
            if f is None:
                o["ok"] = False
        log(f"live phase: {len(sends)} sends at {res['rate_per_s']} ticks/s, "
            f"generator max late {late:.1f} ms, backlog max {max(samples)} rows"
            + ("" if not problems else " -- INVALID: " + "; ".join(problems)))
    checks = res["checks"]
    attempted = len(counted) + len(checks)
    failed = sum(1 for o in counted if not o["ok"]) + sum(1 for c in checks if not c["ok"])
    e2e, lat = end_to_end(workload, res, ops)
    correct = failed == 0 and not problems and e2e is not None and all(twins.values())
    return correct, attempted, failed, e2e, lat


def untraced_store(workload):
    return os.path.join(WORK, "untraced", f"{workload}.json")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    signal.signal(signal.SIGTERM, _stop_children)
    signal.signal(signal.SIGINT, _stop_children)

    build()
    untraced = None
    if a.trace:
        store = untraced_store(a.workload)
        prior = json.load(open(store)) if os.path.exists(store) else []
        if not prior:
            log("no untraced run of this workload yet: running one for trace.overhead")
            res, data, run_dir = run_once(a.workload, a.seed, a.seconds, False, time.time())
            e2e, _ = end_to_end(a.workload, res, res["ops"])
            shutil.rmtree(run_dir, ignore_errors=True)
            prior = [e2e["work_s"]] if e2e else []
        untraced = statistics.median(prior) if prior else None

    t0 = time.time()  # setup_s counts from here: inputs, JVM, session, warm-up
    res, data, run_dir = run_once(a.workload, a.seed, a.seconds, bool(a.trace), t0)
    correct, attempted, failed, e2e, lat = summarize(a.workload, res, data, run_dir)
    for c in res["checks"]:
        log(f"check {c['name']}: {'ok' if c['ok'] else 'FAILED'} ({c['detail']})")
    tail = M.highest_reportable(lat) if lat else None
    log(f"{a.workload}: op = {WORKLOADS[a.workload]}; {len(lat)} latency samples"
        + (f", p{tail} = {M.percentile(lat, tail):.1f} ms" if tail else
           ", no tail percentile has 10 samples above it"))

    if a.trace:
        metrics, spans, recon = per_layer(a.workload, res, res["ops"], untraced)
        os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
        with open(os.path.join(WORK, "traces", f"{a.workload}-seed{a.seed}.json"), "w") as f:
            json.dump({"spans": spans, "ops": recon}, f)
        bad = metrics["trace.unreconciled_ops"]
        log(f"trace: {len(recon)} ops, {bad} outside tolerance "
            f"(unaccounted > max(5 ms, 5% of wall)); overhead {metrics['trace.overhead']:.3f} "
            f"against untraced work_s {untraced}")
        out = {k: {"value": metrics[k], "unit": u} for k, u in PER_LAYER}
    else:
        if e2e is None:
            fail("run produced no timed samples", 1)
        store = untraced_store(a.workload)
        os.makedirs(os.path.dirname(store), exist_ok=True)
        prior = json.load(open(store)) if os.path.exists(store) else []
        json.dump((prior + [e2e["work_s"]])[-20:], open(store, "w"))
        out = {k: {"value": e2e[k], "unit": u} for k, u in E2E}
        log("end-to-end: " + ", ".join(f"{k} = {e2e[k]:.4f} {u}" for k, u in E2E))

    shutil.copy(os.path.join(run_dir, "result.json"),
                os.path.join(WORK, f"last-result-{a.workload}.json"))
    shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": out}))


if __name__ == "__main__":
    main()
