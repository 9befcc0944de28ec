#!/usr/bin/env python3
"""The repository's benchmark: three seeded, single-client, closed-loop
workloads against the program's public functions, every answer checked
against the DuckDB oracle.

    python3 perfbench/run.py --workload adhoc|curate|refresh --seed N \
        --seconds S --trace 0|1

Run from the root of a source checkout. The first run builds the program
(`sbt compile`) and generates the input tables under .bench_work/; later
runs reuse both while the sources and the generator are unchanged.

The JVM is launched through the program's own launcher (tools/run_main.sh)
with perfbench/jvm/Driver.java as the main, so the program's JVM options
and -Dspark.* settings apply. The benchmark sets only what the host
decides: master local[nproc], spark.sql.shuffle.partitions = nproc, the
heap (the Tier-1 SPARK_DRIVER_MEM rule: MemTotal/2, clamped to 2..8 GiB)
and where Spark and the JVM put scratch files (inside .bench_work/).

--seconds sizes the window before the run: a warm pass, then as many
measured passes as fit in it at the workload's nominal pass lengths
(NOMINAL_S). With --trace 0 the last line carries the end-to-end
metrics, measured with no listener attached; with --trace 1 the
per-layer metrics, from one traced pass among untraced ones in the same
run. Every run writes a full artifact to .bench_work/artifacts/ (per-op
times and checks, spans, effective Spark conf, host facts and
calibration readings). perfbench/NOTES.md documents the workloads and
metrics.
"""
import argparse
import hashlib
import json
import os
import random
import shutil
import signal
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = ROOT / ".bench_work"
sys.path.insert(0, str(HERE))

SCALE = 0.01
SETUPS = 3
# Nominal lengths, in seconds, of a workload's warm pass and of one
# measured pass, as read on the development host (4 vCPUs). The window is
# the warm pass and as many measured passes as fit in --seconds at these
# lengths. The count is fixed before the run, so every run of a workload
# does the same work whatever the host's speed at the time, and so does
# a run of another commit: a slow moment cannot take a measured pass away.
NOMINAL_S = {"adhoc": (17, 11), "curate": (23, 15.5), "refresh": (16, 10)}
# a traced run has four passes: untraced warm, untraced, traced, untraced
TRACED_PASSES = 4
# the JVM stops starting passes once the next would end past this mark
# (only a host far slower than the nominal lengths reaches it)
WINDOW_LIMIT_S = 100
BUILD_TIMEOUT_S = 840
JVM_TIMEOUT_S = 160

# adhoc: every sixth query, in name order, of the modules an analyst's
# reports come from (graft.ops.Relational, Sql, Streaming, Multimodal,
# Quality and graft.sources; 110 queries, 19 taken).
ADHOC = [
    "q_ab_ztest", "q_agg_cube", "q_agg_multi_distinct", "q_anomaly_zscore",
    "q_filter_pred", "q_fn_json", "q_fn_try", "q_join_asof", "q_join_inner",
    "q_join_theta", "q_profile_table", "q_scan_jsonl", "q_sessionize_batch",
    "q_sink_jdbc", "q_sql_grouping_sets", "q_sql_tpch_q3",
    "q_stream_sliding_batch", "q_win_frame", "q_win_running"]
# curate: the five rows the ROADMAP asks to attribute (the round-16
# regressions, q_dedup_semantic among them), the minhash stage three of
# them build on through ResultCache, and fifteen single stages of a
# curation pipeline, all from graft.ops.Text, Vector and Graph (65
# queries, 21 taken). The single stages are cheap, so the median op is
# one of them rather than whichever mid-cost stage ranks in the middle;
# and eight of them take 0.32-0.39 s, so the median falls inside that
# band, not at a gap between two ops that trade places from run to run.
# A pass is a pipeline: the seed interleaves the chains, and a chain's
# stages keep their order, so a stage never runs before the one whose
# result it reuses.
CURATE = [
    ["q_dedup_minhash", "q_dedup_cluster", "q_dedup_keep_best", "q_split_leakage_safe"],
    ["q_dedup_semantic"], ["q_text_dedup_para_near"], ["q_text_stats"], ["q_text_langid"],
    ["q_text_quality"], ["q_text_gopher"], ["q_text_fingerprint"], ["q_text_redact"],
    ["q_text_decontaminate"], ["q_text_tokens_bpe"], ["q_pack_chunks"],
    ["q_sample_weighted"], ["q_sim_knn"], ["q_text_tokens"], ["q_text_editdist"],
    ["q_sample_stratified"], ["q_sample_mixture"]]
# refresh: six reports over orders/lineitem/customer and three
# graft.api.Dedup operators that memoize, re-issued after every refresh.
# Each op list has an odd length, so its median latency is one op's.
REFRESH = [
    "q_sql_tpch_q3", "q_sql_tpch_q4", "q_sql_tpch_q10", "q_rfm_segments",
    "q_join_inner", "q_agg_having", "q_dedup_exact", "q_dedup_minhash", "q_dedup_simhash"]
REFRESH_TABLES = ["orders", "documents"]
REPEATS = 1
# warm-up lists share no op with the measured list of their workload
WARMUP = {"adhoc": ["q_agg_groupby"], "curate": ["q_dedup_exact"], "refresh": ["q_agg_groupby"]}

END_TO_END = {"setup_s": "s", "wall_s": "s", "query_p50_s": "s", "query_tail_s": "s"}


def fail(msg, code):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def sha(*parts):
    h = hashlib.sha256()
    for p in parts:
        h.update(p if isinstance(p, bytes) else str(p).encode())
        h.update(b"\0")
    return h.hexdigest()


# ------------------------------------------------------------------ build

def build(log):
    """Compile the program with its own build, once per source state."""
    srcs = sorted(p for d in ("src/main", "project") for p in (ROOT / d).rglob("*")
                  if p.is_file() and "target" not in p.parts)
    stamp = sha(*(p.relative_to(ROOT).as_posix().encode() + p.read_bytes()
                  for p in srcs + [ROOT / "build.sbt"]))
    stamp_file = WORK / "build.stamp"
    classes = ROOT / "target" / "scala-2.13" / "classes"
    if classes.is_dir() and stamp_file.exists() and stamp_file.read_text() == stamp:
        return
    env = dict(os.environ, COURSIER_MODE="offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = Path.home() / ".sbt" / "repositories"
        if repos.exists():
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    with open(log, "w") as out:
        rc = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"],
                            cwd=ROOT, env=env, stdout=out, stderr=subprocess.STDOUT,
                            stdin=subprocess.DEVNULL, timeout=BUILD_TIMEOUT_S).returncode
    if rc != 0 or not classes.is_dir():
        fail(f"build failed (exit {rc}); see {log}", 3)
    stamp_file.write_text(stamp)


def inputs():
    """The generated tables, made once per (generator, scale)."""
    import gen
    d = WORK / "data" / sha((HERE / "gen.py").read_bytes(), SCALE)[:16]
    if not (d / "DONE").exists():
        tmp = d.with_name(d.name + f".tmp{os.getpid()}")
        shutil.rmtree(tmp, ignore_errors=True)
        gen.write(tmp, SCALE)
        shutil.rmtree(d, ignore_errors=True)
        tmp.rename(d)
        (d / "DONE").write_text("")
    return d


def host():
    mem_kb = 0
    for line in Path("/proc/meminfo").read_text().splitlines():
        if line.startswith("MemTotal:"):
            mem_kb = int(line.split()[1])
    g = min(8, max(2, mem_kb // 2097152))
    return {"nproc": len(os.sched_getaffinity(0)), "mem_total_kb": mem_kb,
            "driver_mem": f"{g}g"}


def cpu_ticks():
    """Host-wide CPU ticks (user nice system idle iowait irq softirq steal)."""
    return [int(x) for x in Path("/proc/stat").read_text().split("\n")[0].split()[1:9]]


# ------------------------------------------------------------------- plan

def pass_count(workload, seconds, trace):
    warm, each = NOMINAL_S[workload]
    n = 1 + max(1, int((seconds - warm) // each))
    return max(n, TRACED_PASSES) if trace else n


def make_plan(args, run, data, h):
    rng = random.Random(args.seed)
    n = pass_count(args.workload, args.seconds, args.trace)
    plan = {"workload": args.workload, "run_dir": str(run), "data_dir": str(data),
            "cores": h["nproc"], "window_limit_s": WINDOW_LIMIT_S, "trace": bool(args.trace),
            "setups": SETUPS, "warmup": WARMUP[args.workload]}
    if args.workload == "refresh":
        import gen
        import pyarrow.parquet as pq
        (run / "batches").mkdir()
        cycles = []
        base = {t: pq.read_table(data / f"{t}.parquet") for t in REFRESH_TABLES}
        for c in range(n):
            refreshes = []
            for t in REFRESH_TABLES:
                path = run / "batches" / f"{c}-{t}.parquet"
                pq.write_table(gen.change_batch(base[t], t, args.seed, c), path)
                refreshes.append({"table": t, "batch": str(path)})
            rounds = [{"kind": k, "queries": rng.sample(REFRESH, len(REFRESH))}
                      for k in ["query"] + ["repeat"] * REPEATS]
            cycles.append({"refreshes": refreshes, "rounds": rounds})
        plan["cycles"] = cycles
        plan["skip_clear_cycle"] = args.skip_clear_cycle
    elif args.workload == "adhoc":
        plan["clear"] = "op"
        plan["passes"] = [rng.sample(ADHOC, len(ADHOC)) for _ in range(n)]
    else:
        plan["clear"] = "pass"
        plan["passes"] = [interleave(CURATE, rng) for _ in range(n)]
    return plan


def interleave(chains, rng):
    """A uniformly random interleaving of the chains, each kept in order."""
    rest = [list(c) for c in chains]
    out = []
    while any(rest):
        pick = rng.choices(rest, weights=[len(c) for c in rest])[0]
        out.append(pick.pop(0))
    return out


def run_jvm(plan_path, run, h, deadline):
    env = dict(os.environ, SPARK_DRIVER_MEM=h["driver_mem"],
               SPARK_LOCAL_DIRS=str(run / "local"),
               JDK_JAVA_OPTIONS=f"-Djava.io.tmpdir={run / 'tmp'}")
    (run / "tmp").mkdir()
    with open(run / "jvm.out", "w") as out, open(run / "jvm.err", "w") as err:
        p = subprocess.Popen(["sh", "tools/run_main.sh", "perfbench/jvm/Driver.java",
                              str(plan_path)], cwd=ROOT, env=env, stdout=out, stderr=err,
                             stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            rc = p.wait(timeout=max(10.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            fail(f"JVM exceeded its time limit; see {run / 'jvm.err'}", 4)
    if rc != 0 or not (run / "result.json").exists():
        fail(f"JVM exited with {rc}; see {run / 'jvm.err'}", 4)
    return json.loads((run / "result.json").read_text())


# ------------------------------------------------------------------ check

def check(res, data, run, args):
    """Answer check after the timed window: every op's landed output
    against the oracle for the inputs it read. A mismatch is a failed op."""
    import gen
    import oracle
    import pyarrow.parquet as pq
    orc = oracle.Oracle(WORK / "oracle_memo.json")
    live = base_inputs(data)
    by_bytes = {}
    out = []
    for op in res["ops"]:
        if args.corrupt_op == op["i"] and not op.get("error"):
            corrupt(op["out"])
        status = {"i": op["i"], "ok": False}
        if op["kind"] == "refresh":
            # the expected version of the table, whatever the program wrote
            table = op["name"]
            batch = pq.read_table(op["batch"])
            key = sha(live[table][1], oracle.file_key(op["batch"]))
            path = WORK / "versions" / f"{key}.parquet"
            if not path.exists():
                path.parent.mkdir(exist_ok=True)
                prev = pq.read_table(live[table][0])
                tmp = path.with_name(path.name + f".tmp{os.getpid()}")
                pq.write_table(gen.merge(prev, batch, gen.CHANGE_KEYS[table]), tmp)
                tmp.replace(path)
            live[table] = (str(path), key)
        if op.get("error"):
            status["reason"] = op["error"]
            out.append(status)
            continue
        try:
            if op["kind"] == "refresh":
                got_t = oracle.read_output(data_path(run, op, res))
                exp_t = pq.read_table(live[op["name"]][0])
                ok = oracle.same_rows(got_t, exp_t)
                if not ok:
                    got, exp = oracle.fingerprint(got_t), oracle.fingerprint(exp_t)
                    ok = got == exp
            else:
                bkey = tree_key(op["out"])
                got = by_bytes.get(bkey) or oracle.fingerprint(oracle.read_output(op["out"]))
                by_bytes[bkey] = got
                exp = orc.expected(op["name"], res["oracle_sql"].get(op["name"]), live)
                ok = oracle.matches(op["name"], got, exp)
            status["ok"] = ok
            if not ok:
                status["reason"] = f"answer differs from the oracle: got {got}, expected {exp}"
        except Exception as e:  # an unreadable answer is a failed op
            status["reason"] = f"answer check error: {type(e).__name__}: {e}"
        out.append(status)
    orc.save()
    return out


def base_inputs(data):
    """table -> (file, content key) of the generated inputs; the data
    directory is named by the generator's hash, so its name keys them."""
    import oracle
    return {t: (str(data / f"{t}.parquet"), sha(data.name, t)) for t in oracle.TABLES}


def data_path(run, op, res):
    table = op["name"]
    if res["live_producers"].get(table) == op["i"]:
        return run / "data" / f"{table}.parquet"
    return run / "retired" / f"{table}-{op['i']}"


def tree_key(path):
    p = Path(path)
    files = sorted(p.glob("*.parquet")) if p.is_dir() else [p]
    return sha(*(f.read_bytes() for f in files))


def corrupt(path):
    """Self-test hook: rewrite one landed answer with its first row dropped."""
    import pyarrow.parquet as pq
    import oracle
    table = oracle.read_output(path)
    shutil.rmtree(path)
    Path(path).mkdir()
    pq.write_table(table.slice(1), Path(path) / "part-corrupt.parquet")


# ---------------------------------------------------------------- metrics

def quantile(values, q):
    s = sorted(values)
    if len(s) == 1:
        return s[0]
    return statistics.quantiles(s, n=100, method="inclusive")[round(q * 100) - 1]


def per_name(ops, kind):
    """Each op's latency, as the median over the measured passes that
    issued it (pass 0 warms the JVM; a traced pass is not measured)."""
    by = {}
    for o in ops:
        if o["kind"] == kind and not o["traced"] and o["pass"] > 0:
            by.setdefault(o["name"], []).append(o["wall_s"])
    return [statistics.median(v) for v in by.values()], sum(len(v) for v in by.values())


def end_to_end(res, ops):
    passes = [p for p in res["passes"] if not p["traced"] and p["pass"] > 0]
    q, n = per_name(ops, "query")
    m = {
        "setup_s": statistics.median(res["setup_s"]),
        "wall_s": statistics.median(p["op_wall_s"] for p in passes),
        "query_p50_s": statistics.median(q),
        "query_tail_s": quantile(q, 0.9),
    }
    extra = {"peak_rss_mb": res["vm_hwm_kb"] / 1024.0, "passes": len(passes),
             "query_ops": len(q), "query_samples": n,
             "query_tail_beyond": sum(1 for x in q if x > m["query_tail_s"])}
    r, n = per_name(ops, "repeat")
    if r:
        extra.update(repeat_p50_s=statistics.median(r), repeat_tail_s=quantile(r, 0.9),
                     repeat_samples=n)
    f, n = per_name(ops, "refresh")
    if f:
        extra.update(refresh_p50_s=statistics.median(f), refresh_samples=n)
    return m, extra


def union_ms(intervals):
    total, end = 0, None
    for s, e in sorted(intervals):
        if end is None or s > end:
            total += e - s
            end = e
        elif e > end:
            total += e - end
            end = e
    return total


def per_layer(res, ops, cores):
    """Per-layer totals per traced pass, and per-op attribution rows."""
    traced = [o for o in ops if o["traced"]]
    n = max(1, len({o["pass"] for o in traced}))
    rows = []
    S = {k: 0.0 for k in [
        "ops.build_s", "ops.build_jobs", "catalyst.analysis_s", "catalyst.optimization_s",
        "catalyst.planning_s", "catalyst.executions", "codegen.compile_s", "scheduler.jobs",
        "scheduler.stages", "scheduler.tasks", "scheduler.job_wall_s",
        "scheduler.driver_only_s", "scheduler.task_wait_s", "executor.run_s",
        "executor.cpu_s", "executor.gc_s", "shuffle.write_bytes", "shuffle.read_bytes",
        "shuffle.fetch_wait_s", "shuffle.spill_bytes", "io.input_bytes", "io.input_rows",
        "io.output_bytes", "io.output_rows", "io.write_s", "cache.blocks_evicted",
        "jvm.gc_s", "jvm.jit_s"]}
    peaks = {"executor.peak_mem_bytes": 0, "cache.storage_bytes_peak": 0, "jvm.heap_peak_mb": 0}
    jobs_by_kind = {"query": 0, "repeat": 0}
    for o in traced:
        t = o["trace"]
        lo, hi = t["start_ms"], t["end_ms"]
        jobs = [(max(lo, s), min(hi, e if e >= 0 else hi)) for _, s, e in t["jobs"]]
        job_wall = union_ms([j for j in jobs if j[1] > j[0]]) / 1e3
        build_jobs = sum(1 for _, s, _ in t["jobs"] if s <= t["build_end_ms"])
        ex = t["executions"]
        row = {
            "i": o["i"], "name": o["name"], "kind": o["kind"], "wall_s": o["wall_s"],
            "ops.build_s": o["build_s"], "ops.build_jobs": build_jobs,
            "io.write_s": o["land_s"],
            "catalyst.analysis_s": sum(x.get("analysis_ms", 0) for x in ex) / 1e3,
            "catalyst.optimization_s": sum(x.get("optimization_ms", 0) for x in ex) / 1e3,
            "catalyst.planning_s": sum(x.get("planning_ms", 0) for x in ex) / 1e3,
            "catalyst.executions": len(ex),
            "codegen.compile_s": t["codegen_ns"] / 1e9,
            "scheduler.jobs": len(t["jobs"]), "scheduler.stages": len(t["stages"]),
            "scheduler.tasks": t["tasks"], "scheduler.job_wall_s": job_wall,
            "scheduler.driver_only_s": o["wall_s"] - job_wall,
            "scheduler.task_wait_s": t["task_wait_ms"] / 1e3,
            "executor.run_s": t["run_ms"] / 1e3, "executor.cpu_s": t["cpu_ns"] / 1e9,
            "executor.gc_s": t["gc_ms"] / 1e3,
            "shuffle.write_bytes": t["shuffle_write_bytes"],
            "shuffle.read_bytes": t["shuffle_read_bytes"],
            "shuffle.fetch_wait_s": t["fetch_wait_ms"] / 1e3,
            "shuffle.spill_bytes": t["spill_disk_bytes"],
            "io.input_bytes": t["input_bytes"], "io.input_rows": t["input_rows"],
            "io.output_bytes": t["output_bytes"], "io.output_rows": t["output_rows"],
            "cache.blocks_evicted": t["blocks_dropped"],
            "jvm.gc_s": t["jvm_gc_ms"] / 1e3, "jvm.jit_s": t["jit_ms"] / 1e3,
            "untagged_jobs": t["untagged_jobs"],
        }
        rows.append(row)
        for k in S:
            S[k] += row[k]
        peaks["executor.peak_mem_bytes"] = max(peaks["executor.peak_mem_bytes"], t["peak_exec_mem"])
        peaks["cache.storage_bytes_peak"] = max(peaks["cache.storage_bytes_peak"],
                                                t["storage_peak_bytes"])
        peaks["jvm.heap_peak_mb"] = max(peaks["jvm.heap_peak_mb"], t["heap_peak_bytes"] / 2**20)
        if o["kind"] in jobs_by_kind:
            jobs_by_kind[o["kind"]] += len(t["jobs"])
    m = {k: v / n for k, v in S.items()}
    m.update(peaks)
    m["executor.slot_util"] = S["executor.run_s"] / (cores * S["scheduler.job_wall_s"]) \
        if S["scheduler.job_wall_s"] > 0 else 0.0
    m["cache.repeat_job_ratio"] = jobs_by_kind["repeat"] / jobs_by_kind["query"] \
        if jobs_by_kind["query"] else 0.0
    # passes run untraced (warm-up), untraced, traced, untraced: the traced
    # pass is set against the mean of its two neighbours
    p = [x["op_wall_s"] for x in res["passes"]]
    m["trace.overhead_frac"] = p[2] / ((p[1] + p[3]) / 2) - 1
    return m, rows


# shuffle.fetch_wait_s and shuffle.spill_bytes stay in the artifact only:
# in local mode at this scale they read 0 or a few milliseconds.
PER_LAYER_UNITS = {
    "ops.build_s": "s", "ops.build_jobs": "count", "catalyst.analysis_s": "s",
    "catalyst.optimization_s": "s", "catalyst.planning_s": "s", "catalyst.executions": "count",
    "codegen.compile_s": "s", "scheduler.jobs": "count", "scheduler.stages": "count",
    "scheduler.tasks": "count", "scheduler.job_wall_s": "s", "scheduler.driver_only_s": "s",
    "scheduler.task_wait_s": "s", "executor.run_s": "s", "executor.cpu_s": "s",
    "executor.gc_s": "s", "executor.peak_mem_bytes": "bytes", "executor.slot_util": "ratio",
    "shuffle.write_bytes": "bytes", "shuffle.read_bytes": "bytes",
    "io.input_bytes": "bytes", "io.input_rows": "count",
    "io.output_bytes": "bytes", "io.output_rows": "count", "io.write_s": "s",
    "cache.storage_bytes_peak": "bytes", "cache.blocks_evicted": "count",
    "cache.repeat_job_ratio": "ratio", "jvm.gc_s": "s", "jvm.jit_s": "s",
    "jvm.heap_peak_mb": "MB", "trace.overhead_frac": "ratio"}


def spans(ops):
    """op -> build/land -> jobs -> stages, with self time per span (ms)."""
    out = []
    for o in ops:
        if not o["traced"]:
            continue
        t = o["trace"]
        lo, mid, hi = t["start_ms"], t["build_end_ms"], t["end_ms"]
        jobs = [(j, max(lo, s), min(hi, e if e >= 0 else hi)) for j, s, e in t["jobs"]]
        children = []
        for name, a, b in (("build", lo, mid), ("land", mid, hi)):
            inside = [(max(a, s), min(b, e)) for _, s, e in jobs if min(b, e) > max(a, s)]
            children.append({"span": name, "start_ms": a, "end_ms": b,
                             "self_ms": (b - a) - union_ms(inside)})
        job_spans = []
        for j, s, e in jobs:
            st = [(sub, done) for sid, sub, done, _ in t["stages"]
                  if sub >= 0 and done >= 0 and s <= sub <= e]
            job_spans.append({"span": "job", "id": j, "start_ms": s, "end_ms": e,
                              "self_ms": (e - s) - union_ms(st)})
        out.append({"span": "op", "i": o["i"], "name": o["name"], "start_ms": lo,
                    "end_ms": hi, "children": children, "jobs": job_spans,
                    "stages": t["stages"], "executions": t["executions"]})
    return out


# ------------------------------------------------------------------- main

def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=["adhoc", "curate", "refresh"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    # self-test hooks (perfbench/selftest.py): both must surface as failed ops
    ap.add_argument("--skip-clear-cycle", type=int, default=-1, help=argparse.SUPPRESS)
    ap.add_argument("--corrupt-op", type=int, default=-1, help=argparse.SUPPRESS)
    args = ap.parse_args()
    start = time.monotonic()
    for need in ("build.sbt", "tools/run_main.sh", "src/main/scala/graft/SparkEntry.scala"):
        if not (ROOT / need).exists():
            fail(f"{need} is missing: run from the root of a full source checkout", 2)
    WORK.mkdir(exist_ok=True)
    build(WORK / "build.log")
    data = inputs()
    deadline = time.monotonic() + JVM_TIMEOUT_S
    h = host()
    run = WORK / "runs" / f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    shutil.rmtree(run, ignore_errors=True)
    run.mkdir(parents=True)
    try:
        plan = make_plan(args, run, data, h)
        (run / "plan.json").write_text(json.dumps(plan))
        cpu0 = cpu_ticks()
        res = run_jvm(run / "plan.json", run, h, deadline)
        cpu1 = cpu_ticks()
        h["steal_frac"] = (cpu1[7] - cpu0[7]) / max(1, sum(cpu1) - sum(cpu0))
        h["loadavg"] = Path("/proc/loadavg").read_text().split()[:3]
        checks = check(res, data, run, args)
    finally:
        # landed answers and table copies go; the JVM's result and logs stay
        keep = {"result.json", "jvm.err", "jvm.out", "plan.json"}
        for p in run.iterdir():
            if p.name not in keep:
                shutil.rmtree(p) if p.is_dir() else p.unlink()
    ops = res["ops"]
    failed = [c for c in checks if not c["ok"]]
    e2e, extra = end_to_end(res, ops)
    art = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
           "trace": args.trace, "host": h, "scale": SCALE, "launch_s": res["launch_s"],
           "setup_s": res["setup_s"], "window_s": res["window_s"],
           "calibration": {"before": res["calibration_before"],
                           "after": res["calibration_after"]},
           "conf": res["conf"], "end_to_end": e2e, "extra": extra,
           "failed_frac": len(failed) / len(ops),
           "failed_ops": [{"i": c["i"], "name": ops[c["i"]]["name"],
                           "kind": ops[c["i"]]["kind"], "reason": c["reason"]} for c in failed],
           "passes": res["passes"],
           "ops": [{k: v for k, v in o.items() if k != "trace"} for o in ops]}
    if args.trace:
        layers, rows = per_layer(res, ops, h["nproc"])
        art.update(per_layer=layers, attribution=rows, spans=spans(ops))
        metrics = {k: {"value": layers[k], "unit": u} for k, u in PER_LAYER_UNITS.items()}
    else:
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END.items()}
    adir = WORK / "artifacts"
    adir.mkdir(exist_ok=True)
    apath = adir / f"{args.workload}-s{args.seed}-t{args.trace}.json"
    apath.write_text(json.dumps(art, indent=1))
    for k, v in metrics.items():
        print(f"{args.workload:8s} {k:26s} {v['value']:14.6g} {v['unit']}")
    for k, v in extra.items():
        print(f"{args.workload:8s} {k:26s} {v:14.6g}")
    print(f"{args.workload:8s} {'failed_frac':26s} {art['failed_frac']:14.6g} "
          f"({len(failed)} of {len(ops)} ops)")
    for f in art["failed_ops"]:
        print(f"FAILED op {f['i']} {f['kind']} {f['name']}: {f['reason'][:300]}")
    print(f"artifact {apath.relative_to(ROOT)}; {time.monotonic() - start:.1f} s")
    print(json.dumps({"correct": not failed, "attempted": len(ops), "failed": len(failed),
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
