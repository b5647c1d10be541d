#!/usr/bin/env python3
"""The repo benchmark: one command runs one workload by name and seed.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the engine and harness if needed (`perfbench/build.py`), writes the
workload's seeded inputs and expected results, runs one JVM (`perfbench.Main`)
and prints, as the last line of stdout, one JSON object with `correct`,
`attempted`, `failed` and `metrics`: the end-to-end metrics of BENCHMARK.json
with `--trace 0`, its per-layer metrics with `--trace 1`. Host context and
the traced report go to stderr.

Other modes (each prints a report, not a result line):
    --report --seed <n>                 untraced + traced run of every workload:
                                        layer self times, count-vs-noop table,
                                        tracing overhead
    --steady <N> --workload <name>      N runs on seeds seed..seed+N-1: each
                                        metric's quartile spread next to its bound
    --selftest                          checks of the benchmark itself
"""
import argparse
import datetime
import decimal
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402
import gen  # noqa: E402

ROOT = build.ROOT
SPEC = json.load(open(os.path.join(HERE, "spec.json")))
# a run is killed after this many seconds on top of --seconds (JVM start,
# warm-up and the minimum rounds take 50-75 s on a 4-vCPU host)
RUN_SLACK_S = 160
# a catalog_sql round (eight operations, each at least one Spark job) takes
# longer than this; it bounds how many ingest batches a run can consume
ROUND_FLOOR_S = 2.0


def log(*a):
    print(*a, file=sys.stderr, flush=True)


def heap():
    """-Xmx as the tier-1 test command sizes SPARK_DRIVER_MEM: half of RAM,
    clamped to [2, 8] GiB."""
    try:
        kb = next(int(l.split()[1]) for l in open("/proc/meminfo") if l.startswith("MemTotal:"))
        g = kb // 2097152
    except (OSError, StopIteration):
        g = 2
    return f"{min(max(g, 2), 8)}g"


def git_commit():
    """The checkout's commit, when it is a git work tree (None otherwise)."""
    if not os.path.exists(os.path.join(ROOT, ".git")):
        return None
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                              text=True, timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


# ---- expected results -------------------------------------------------------

def _canon(v):
    if v is None or isinstance(v, (bool, str)):
        return v
    if isinstance(v, (int, float)):
        return float(v)
    if isinstance(v, decimal.Decimal):
        return float(v)
    if isinstance(v, datetime.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        d = v - datetime.datetime(1970, 1, 1)
        return float(d.days * 86400 * 10**6 + d.seconds * 10**6 + d.microseconds)
    if isinstance(v, datetime.date):
        return float((v - datetime.date(1970, 1, 1)).days)
    if isinstance(v, dict):
        return [_canon(x) for x in v.values()]
    if isinstance(v, (list, tuple)):
        return [_canon(x) for x in v]
    if isinstance(v, (bytes, bytearray)):
        return v.hex()
    return str(v)


def write_expected(data_dir, names, out_dir, corrupt=False):
    """Runs each query's DuckDB oracle over `data_dir`; one JSON file each.
    With `corrupt`, the first numeric cell of the first query is altered
    (used by the self-test to show the check catches a wrong result)."""
    import duckdb
    oracles = json.load(open(build.ORACLES))
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    for t in gen.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    paths = {}
    for i, n in enumerate(names):
        rel = con.sql(oracles[n])
        cols, rows = list(rel.columns), [[_canon(v) for v in r] for r in rel.fetchall()]
        if corrupt and i == 0:
            for r in rows:
                j = next((j for j, v in enumerate(r) if isinstance(v, float)), None)
                if j is not None:
                    r[j] += 1.0
                    break
        paths[n] = os.path.join(out_dir, f"{n}.json")
        with open(paths[n], "w") as fh:
            json.dump({"columns": cols, "rows": rows}, fh)
    con.close()
    return paths


# ---- standing_ingest inputs -------------------------------------------------

def ingest_batches(spec, seconds):
    """Micro-batches a catalog_sql run can consume: one per warm-up round
    and one per timed round, rounds being started until `seconds` have
    passed (at most seconds / ROUND_FLOOR_S + 1) and at least min_rounds."""
    timed = max(spec["min_rounds"], int(seconds / ROUND_FLOOR_S) + 1)
    return spec["warmup_rounds"] + timed


def write_ingest_inputs(out, seed, sizes, batches):
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq
    rng = np.random.Generator(np.random.PCG64([seed, 20]))
    vocab = np.array([f"w{i:04d}" for i in range(sizes["vocabulary"])])
    ranks = np.arange(1, sizes["vocabulary"] + 1)
    p = (1.0 / ranks) / (1.0 / ranks).sum()  # Zipf-like word frequencies
    lo, hi = sizes["doc_words"]
    os.makedirs(os.path.join(out, "batches"))
    n = sizes["batch_docs"]
    for k in range(batches):
        lens = rng.integers(lo, hi + 1, n)
        texts = [" ".join(vocab[rng.choice(len(vocab), int(m), p=p)]) for m in lens]
        pq.write_table(pa.table({
            "doc_id": pa.array(np.arange(k * n, (k + 1) * n, dtype=np.int64)),
            "text": pa.array(texts, pa.string())}),
            os.path.join(out, "batches", f"b{k:04d}.parquet"), compression="snappy")
    qlo, qhi = sizes["query_words"]
    qid, tok = [], []
    for q in range(sizes["queries"]):
        words = rng.choice(np.arange(20, 1000), int(rng.integers(qlo, qhi + 1)), replace=False)
        qid += [q] * len(words)
        tok += [str(vocab[w]) for w in words]
    pq.write_table(pa.table({"query_id": pa.array(qid, pa.int64()), "tok": pa.array(tok)}),
                   os.path.join(out, "queries.parquet"), compression="snappy")


BM25_TOP10 = """
WITH toked AS (
  SELECT doc_id, regexp_split_to_array(lower(text), '\\s+') AS toks FROM read_parquet({files})),
tf AS (
  SELECT doc_id, tok, COUNT(*) AS tf FROM (SELECT doc_id, unnest(toks) AS tok FROM toked)
  GROUP BY doc_id, tok),
dlen AS (SELECT doc_id, len(toks) AS len FROM toked),
stats AS (SELECT COUNT(*) AS n_docs, AVG(len) AS avg_len FROM dlen),
dftab AS (SELECT tok, COUNT(*) AS df FROM tf GROUP BY tok),
perdoc AS (
  SELECT q.query_id, tf.doc_id,
    ROUND(SUM(ln(1.0 + (s.n_docs - d.df + 0.5) / (d.df + 0.5)) *
      tf.tf / (tf.tf + 1.2 * (0.25 + 0.75 * l.len / s.avg_len))), 6) AS score
  FROM tf JOIN read_parquet('{queries}') q USING (tok) JOIN dftab d USING (tok)
  JOIN dlen l ON tf.doc_id = l.doc_id CROSS JOIN stats s
  GROUP BY q.query_id, tf.doc_id),
ranked AS (
  SELECT query_id, doc_id, score,
    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id ASC) AS rank
  FROM perdoc)
SELECT query_id, rank, doc_id, score FROM ranked WHERE rank <= 10"""


def write_ingest_expected(out, batches):
    """Expected top 10 per query after each batch k: BM25 (the engine's
    k1 = 1.2, b = 0.75, scores rounded to 6 decimals) over batches 0..k, in
    DuckDB."""
    import duckdb
    con = duckdb.connect()
    os.makedirs(os.path.join(out, "expected"))
    for k in range(batches):
        files = [os.path.join(out, "batches", f"b{i:04d}.parquet") for i in range(k + 1)]
        rel = con.sql(BM25_TOP10.format(files=files, queries=os.path.join(out, "queries.parquet")))
        with open(os.path.join(out, "expected", f"k{k:04d}.json"), "w") as fh:
            json.dump({"columns": list(rel.columns),
                       "rows": [[_canon(v) for v in r] for r in rel.fetchall()]}, fh)
    con.close()


# ---- one run ----------------------------------------------------------------

def percentile(xs, q):
    xs = sorted(xs)
    if not xs:
        return 0.0
    i = q * (len(xs) - 1)
    lo = int(i)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (i - lo)


def median_gm(ops):
    """Geometric mean, over operation names, of each name's median seconds.
    With one kind of operation (ida_etl) it is the plain median. A median
    over a mix of queries of different cost falls into a gap between two of
    them and jumps from run to run; every kind weighs the same here."""
    by = {}
    for o in ops:
        by.setdefault(o["name"], []).append(o["s"])
    if not by:
        return 0.0
    return math.exp(statistics.fmean(math.log(statistics.median(v)) for v in by.values()))


def run_jvm(plan, run_dir, deadline):
    plan_path = os.path.join(run_dir, "plan.json")
    with open(plan_path, "w") as fh:
        json.dump(plan, fh)
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", f"-Xmx{heap()}", *build.java_opens(), f"-Djava.io.tmpdir={tmp}",
           "-Duser.timezone=UTC", "-Dderby.system.home=" + tmp,
           "-cp", build.classpath(), "perfbench.Main", plan_path]
    with open(os.path.join(run_dir, "jvm.log"), "w") as err:
        proc = subprocess.Popen(cmd, stdout=err, stderr=subprocess.STDOUT, cwd=run_dir)
        try:
            proc.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            raise SystemExit("perfbench: run exceeded its time limit")
        finally:
            # on a time-out, an error or SIGTERM the JVM goes down with us
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    if proc.returncode != 0:
        tail = open(os.path.join(run_dir, "jvm.log")).read()[-3000:]
        log(tail)
        raise SystemExit(f"perfbench: JVM exited with {proc.returncode}")
    return json.load(open(plan["out"]))


def run_once(workload, seed, seconds, trace, corrupt=False, ida_shape=None, keep_spans=False):
    """Returns (result dict printed as the last line, raw JVM output)."""
    spec = SPEC["workloads"].get(workload)
    if spec is None:
        raise SystemExit(f"perfbench: unknown workload {workload!r}; one of {sorted(SPEC['workloads'])}")
    build.ensure_built()
    t_start = time.time()
    deadline = t_start + RUN_SLACK_S + seconds
    run_dir = os.path.join(build.BUILD, "runs", f"{workload}-{seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        plan = {"workload": workload, "seed": seed, "seconds": seconds, "trace": bool(trace),
                "work_dir": run_dir, "out": os.path.join(run_dir, "out.json"),
                "spans_out": os.path.join(run_dir, "spans.json"),
                "op_timeout_s": SPEC["op_timeout_s"], "corrupt": corrupt,
                "warmup_rounds": spec["warmup_rounds"], "min_rounds": spec["min_rounds"]}
        if workload == "catalog_sql":
            data = os.path.join(run_dir, "data")
            gen.write_tables(data, seed, spec["sizes"], corpus=spec["corpus"])
            exp_dir = os.path.join(run_dir, "expected")
            os.makedirs(exp_dir)
            paths = write_expected(data, spec["ops"], exp_dir, corrupt)
            plan["data_dir"] = data
            plan["ops"] = [{"name": n, "expected": paths[n]} for n in spec["ops"]]
            plan["ext_ops"] = spec["ext_ops"]
            ingest = os.path.join(run_dir, "ingest")
            batches = ingest_batches(spec, seconds)
            write_ingest_inputs(ingest, seed, spec["ingest"], batches)
            write_ingest_expected(ingest, batches)
            plan["ingest"] = {"batches_dir": os.path.join(ingest, "batches"),
                              "expected_dir": os.path.join(ingest, "expected"),
                              "batches": batches,
                              "queries": os.path.join(ingest, "queries.parquet")}
        elif workload == "ida_etl":
            plan["ida"] = ida_shape or spec["sizes"]
        gen_s = time.time() - t_start
        steal0, t_jvm = steal_s(), time.time()
        out = run_jvm(plan, run_dir, deadline)
        out["steal_frac"] = (steal_s() - steal0) / (os.cpu_count() * (time.time() - t_jvm))
        if keep_spans and trace:
            rep = os.path.join(build.BUILD, "reports")
            os.makedirs(rep, exist_ok=True)
            shutil.copy(plan["spans_out"], os.path.join(rep, f"{workload}-{seed}-spans.json"))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    out["gen_s"] = gen_s
    return summarize(workload, out, trace), out


def summarize(workload, out, trace):
    """`attempted` counts the timed operations (plus any warm-up operation
    that failed); on a healthy run it is the number of operations behind
    op_s_p50_gm."""
    ops = out["ops"]
    warm_failed = sum(1 for o in out["warmup"] if not o["ok"])
    ok = [o for o in ops if o["ok"]]
    failed = sum(1 for o in ops if not o["ok"]) + warm_failed
    attempted = len(ops) + warm_failed
    n = max(len(ok), 1)
    bench = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    if not trace:
        values = {
            "setup_s": out["setup_s"],
            "op_s_p50_gm": median_gm(ok),
        }
        specs = bench["end_to_end"]
    else:
        t = out["trace"]
        jobs_total = sum(t["jobs_by_layer"].values())
        jobs_action = t["jobs_by_span"].get("collect", 0)
        self_s = t["self_s"]
        module_self = sum(v for k, v in self_s.items() if k not in ("exec", "unattributed"))
        values = {
            "trace.op_s_p50_gm": median_gm(ok),
            "build.s": sum(o["build_s"] for o in ok) / n,
            "build.jobs": (jobs_total - jobs_action) / n,
            "plan.analysis_s": t["phase_ms"].get("analysis", 0) / 1e3 / n,
            "plan.optimization_s": t["phase_ms"].get("optimization", 0) / 1e3 / n,
            "plan.planning_s": t["phase_ms"].get("planning", 0) / 1e3 / n,
            "plan.codegen_compile_s": out["codegen_compile_s"] / n,
            "plan.codegen_compiles": out["codegen_compiles"] / n,
            "exec.s": sum(o["exec_s"] for o in ok) / n,
            "exec.noop_s": sum(o["noop_s"] for o in ok) / n,
            "exec.count_s": sum(o["count_s"] for o in ok) / n,
            "exec.jobs": jobs_total / n,
            "exec.stages": t["stages"] / n,
            "exec.tasks": t["tasks"] / n,
            "exec.task_run_s": t["task_run_s"] / n,
            "exec.task_cpu_s": t["task_cpu_s"] / n,
            "exec.task_queue_s": t["task_queue_s"] / n,
            "exec.max_task_share": t["max_task_share"],
            "exec.shuffle_write_mb": t["shuffle_write_mb"] / n,
            "exec.shuffle_read_mb": t["shuffle_read_mb"] / n,
            "exec.spill_mb": t["spill_mb"] / n,
            "exec.input_mb": t["input_mb"] / n,
            "exec.peak_exec_mem_mb": t["peak_exec_mem_mb"],
            "exec.failed_tasks": t["failed_tasks"] / n,
            "self.module_s": module_self / n,
            "self.exec_s": self_s.get("exec", 0.0) / n,
            "self.unattributed_s": self_s.get("unattributed", 0.0) / n,
            "jvm.gc_s": out["gc_s"] / n,
            "jvm.peak_rss_mb": out["peak_rss_mb"],
            "blocks.resident_mb_after": out["resident_mb_end"],
            "blocks.persisted_rdds_after": out["persisted_rdds_end"],
        }
        specs = bench["per_layer"]
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in specs}
    return {"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}


def module_metrics(workload, out):
    """Layer metrics that only some workloads produce (traced runs), per
    operation unless the name says otherwise."""
    t = out["trace"]
    ok = [o for o in out["ops"] if o["ok"]]
    n = max(len(ok), 1)
    span = t["span_s"]
    m = {k: v for k, v in t["module"].items()}
    per_op = lambda k: span.get(k, 0.0) / n  # noqa: E731
    if workload == "ida_etl":
        m.update({"io.ods_read_s": per_op("io.ods_read"), "io.tsv_read_s": per_op("io.tsv_read"),
                  "io.jdbc_write_s": per_op("io.jdbc_write"), "io.jdbc_read_s": per_op("io.jdbc_read"),
                  "ops.clean_s": per_op("ops.clean"), "ops.consolidate_s": per_op("ops.consolidate"),
                  "ops.view_s": per_op("ops.view")})
        for k in ("io.jdbc_rows", "ops.rows_long", "ops.rows_distinct"):
            m[k] = m.get(k, 0.0) / n
    if workload == "catalog_sql":
        m["tables.schema_jobs"] = t["tables_schema_jobs"] / n
        for q in SPEC["workloads"][workload]["ext_ops"]:
            qs = [o for o in ok if o["name"] == q]
            if qs:
                m[f"ext.kernel_s.{q}"] = statistics.median(o["s"] for o in qs)
                m[f"ext.result_rows.{q}"] = qs[0]["rows"]
        ing = [o for o in ok if o["name"] == "ingest_serve"]
        k = max(len(ing), 1)
        m.update({"streaming.ingest_s": span.get("streaming.ingest", 0.0) / k,
                  "streaming.serve_s": span.get("streaming.serve", 0.0) / k
                  + sum(o["exec_s"] for o in ing) / k})
    return m


def steal_s():
    """CPU seconds the hypervisor gave to other guests, summed over vCPUs
    (0 where /proc/stat has no steal column)."""
    try:
        f = open("/proc/stat").readline().split()
        return int(f[8]) / os.sysconf("SC_CLK_TCK") if len(f) > 8 else 0.0
    except (OSError, ValueError):
        return 0.0


def host_context(out):
    return {"calib_sec": out["calib_sec"], "calib_mt_sec": out["calib_mt_sec"],
            "steal_frac": round(out["steal_frac"], 4),
            "nproc": out["cpus"], "heap_mb": out["heap_mb"],
            "spark_version": out["spark_version"], "git_commit": git_commit(),
            "source_stamp": open(os.path.join(build.BUILD, "stamp")).read()[:16]}


def print_trace_report(workload, out):
    t = out["trace"]
    ok = [o for o in out["ops"] if o["ok"]]
    n = max(len(ok), 1)
    loop = sum(o["s"] for o in ok)
    log(f"[trace] {workload}: {len(ok)} timed operations, {loop:.3f} s in operations")
    log("[trace] layer self time per operation (s), share of operation time:")
    for layer, s in sorted(t["self_s"].items(), key=lambda kv: -kv[1]):
        log(f"[trace]   {layer:14s} {s / n:9.4f}  {100 * s / loop if loop else 0:5.1f} %")
    log("[trace] jobs per operation by layer: " +
        ", ".join(f"{k}={v / n:.1f}" for k, v in sorted(t["jobs_by_layer"].items())))
    for k, v in sorted(module_metrics(workload, out).items()):
        log(f"[trace]   {k:34s} {v:.4f}")


def count_vs_noop(out):
    """Per operation name: count, median collect() (the timed action),
    noop-sink and count() seconds (the last two from traced runs only)."""
    by = {}
    for o in out["ops"]:
        if o["ok"]:
            by.setdefault(o["name"], []).append(o)
    return [(name, len(os_), statistics.median(o["exec_s"] for o in os_),
             statistics.median(o["noop_s"] for o in os_),
             statistics.median(o["count_s"] for o in os_))
            for name, os_ in sorted(by.items())]


# ---- modes ------------------------------------------------------------------

def main_run(a):
    result, out = run_once(a.workload, a.seed, a.seconds, a.trace, keep_spans=True)
    ctx = host_context(out)
    ok = [o["s"] for o in out["ops"] if o["ok"]]
    log(f"[host] {json.dumps(ctx)}")
    if out["inputs_exhausted"]:
        log(f"[run] note: the generated inputs ran out after {out['rounds']} rounds; the loop "
            f"stopped at {out['loop_s']:.1f} s instead of {a.seconds} s")
    log(f"[run] {a.workload} seed={a.seed} rounds={out['rounds']} ops={len(out['ops'])} "
        f"ok={len(ok)} failed_frac={result['failed'] / result['attempted']:.4f} "
        f"gen_s={out['gen_s']:.2f} session_s={out['session_s']:.2f} setup_s={out['setup_s']:.2f} loop_s={out['loop_s']:.2f} "
        f"ops_per_s={len(ok) / sum(ok) if ok else 0:.4f} p50={percentile(ok, 0.5):.4f} p90={percentile(ok, 0.9):.4f} max={max(ok) if ok else 0:.4f} "
        f"resident_mb_end={out['resident_mb_end']:.2f} peak_rss_mb={out['peak_rss_mb']:.0f} "
        f"warmup_op_s={sum(o['s'] for o in out['warmup']):.2f} op_s={sum(ok):.2f}")
    log("[seq] " + " ".join(f"{o['name']}={o['s']:.3f}" for o in out["warmup"] + out["ops"]))
    for name, k, full, _, _ in count_vs_noop(out):
        w = [o["s"] for o in out["warmup"] if o["name"] == name]
        log(f"[ops] {name:24s} n={k} median_s={statistics.median(o['s'] for o in out['ops'] if o['ok'] and o['name'] == name):.4f} "
            f"exec_s={full:.4f} warmup_s={w[0] if w else 0:.4f}")
    for o in out["ops"] + out["warmup"]:
        if not o["ok"]:
            log(f"[run] FAILED {o['name']}: {o['error']}")
    if a.trace:
        print_trace_report(a.workload, out)
    print(json.dumps(result), flush=True)


def main_report(a):
    """Untraced then traced run of every workload on one seed."""
    bench = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    for w in SPEC["workloads"]:
        r0, o0 = run_once(w, a.seed, bench["run_seconds"], 0)
        r1, o1 = run_once(w, a.seed, bench["run_seconds"], 1, keep_spans=True)
        p0 = r0["metrics"]["op_s_p50_gm"]["value"]
        p1 = r1["metrics"]["trace.op_s_p50_gm"]["value"]
        print(f"== {w} (seed {a.seed}) correct={r0['correct'] and r1['correct']} "
              f"failed_frac={(r0['failed'] + r1['failed']) / (r0['attempted'] + r1['attempted']):.4f}")
        print(f"   end-to-end (untraced): " + ", ".join(
            f"{k}={v['value']:.4f} {v['unit']}" for k, v in r0["metrics"].items()))
        print(f"   tracing overhead: op_s_p50_gm traced {p1:.4f} - untraced {p0:.4f} = {p1 - p0:+.4f} s")
        print(f"   host: {json.dumps(host_context(o0))}")
        t = o1["trace"]
        ok = [o for o in o1["ops"] if o["ok"]]
        n = max(len(ok), 1)
        loop = sum(o["s"] for o in ok)
        print("   layer self time per operation:")
        for layer, s in sorted(t["self_s"].items(), key=lambda kv: -kv[1]):
            print(f"     {layer:14s} {s / n:9.4f} s  {100 * s / loop if loop else 0:5.1f} %")
        print("   per-layer metrics: " + ", ".join(
            f"{k}={v['value']:.4g}" for k, v in r1["metrics"].items()))
        print("   module metrics: " + ", ".join(
            f"{k}={v:.4g}" for k, v in sorted(module_metrics(w, o1).items())))
        if w == "catalog_sql":
            print("   | operation | n | collect() s | noop sink s | count() s | noop/count |")
            print("   |---|---|---|---|---|---|")
            for name, k, full, noop, cnt in count_vs_noop(o1):
                print(f"   | {name} | {k} | {full:.4f} | {noop:.4f} | {cnt:.4f} | {noop / cnt if cnt else 0:.2f} |")
        sys.stdout.flush()


def main_steady(a):
    bench = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    vals = {}
    for s in range(a.seed, a.seed + a.steady):
        r, out = run_once(a.workload, s, bench["run_seconds"], 0)
        print(f"seed {s}: correct={r['correct']} " + json.dumps(
            {k: round(v["value"], 4) for k, v in r["metrics"].items()})
            + f" calib_sec={out['calib_sec']:.3f} calib_mt_sec={out['calib_mt_sec']:.3f}"
            + f" steal_frac={out['steal_frac']:.3f} compiles={out['codegen_compiles']}", flush=True)
        log(f"[seq] seed {s}: " + " ".join(f"{o['name']}={o['s']:.3f}" for o in out["warmup"] + out["ops"]))
        for k, v in r["metrics"].items():
            vals.setdefault(k, []).append(v["value"])
    for m in bench["end_to_end"]:
        xs = vals[m["name"]]
        q = statistics.quantiles(xs, n=4)
        med = statistics.median(xs)
        spread = (q[2] - q[0]) / med if med else float("inf")
        flag = "ok" if spread < m["bound"] / 3 else ("within bound" if spread <= m["bound"] else "OVER")
        print(f"{a.workload:16s} {m['name']:12s} median {med:10.4f} {m['unit']:6s} "
              f"IQR/median {spread:.4f}  bound {m['bound']}  {flag}")


def main_selftest(a):
    import tempfile
    fails = []

    def expect(cond, what):
        print(("ok   " if cond else "FAIL ") + what, flush=True)
        if not cond:
            fails.append(what)

    def digest(d):
        import hashlib
        h = hashlib.sha256()
        for base, _, names in sorted(os.walk(d)):
            for f in sorted(names):
                h.update(f.encode())
                h.update(open(os.path.join(base, f), "rb").read())
        return h.hexdigest()

    build.ensure_built()
    os.makedirs(build.BUILD, exist_ok=True)
    with tempfile.TemporaryDirectory(dir=build.BUILD) as tmp:
        corpus = SPEC["workloads"]["catalog_sql"]["corpus"]
        sizes = SPEC["workloads"]["catalog_sql"]["sizes"]
        ingest = SPEC["workloads"]["catalog_sql"]["ingest"]
        for sub, seed in (("a", 11), ("b", 11), ("c", 12)):
            gen.write_tables(os.path.join(tmp, sub, "tables"), seed, sizes, corpus=corpus)
            write_ingest_inputs(os.path.join(tmp, sub, "ingest"), seed, ingest, batches=3)
        for part in ("tables", "ingest"):
            da, db, dc = (digest(os.path.join(tmp, s, part)) for s in "abc")
            expect(da == db, f"{part}: same seed gives byte-identical inputs")
            expect(da != dc, f"{part}: different seeds give different inputs")
    ida = subprocess.run(["java", "-Xmx1g", *build.java_opens(), "-cp", build.classpath(),
                          "perfbench.GenCheck"], capture_output=True, text=True)
    expect(ida.returncode == 0 and ida.stdout.strip().endswith("ok"),
           "ida_etl: same seed gives identical releases (cells and TSV bytes), different seeds differ"
           + ("" if ida.returncode == 0 else f": {ida.stdout.strip()} {ida.stderr[-500:]}"))
    small = {"years": 1, "groups": 4, "variables": 3, "dup_rows": 1}
    r, _ = run_once("ida_etl", 5, 1, 0, ida_shape=small)
    expect(r["correct"] and r["failed"] == 0,
           f"ida_etl: the expected view agrees with the engine on a small seed ({r['attempted']} ops)")
    r, _ = run_once("ida_etl", 5, 1, 0, corrupt=True, ida_shape=small)
    expect(r["failed"] > 0 and not r["correct"],
           f"ida_etl: a corrupted expected view drives failed_frac above 0 ({r['failed']}/{r['attempted']})")
    r, _ = run_once("catalog_sql", 5, 1, 0, corrupt=True)
    expect(r["failed"] > 0 and not r["correct"],
           f"catalog_sql: a corrupted expected result drives failed_frac above 0 ({r['failed']}/{r['attempted']})")
    print("selftest: " + ("FAILED" if fails else "passed"))
    return 1 if fails else 0


def main():
    # a SIGTERM unwinds like an error, so the JVM is stopped and the run
    # directory removed
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    p = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    p.add_argument("--workload")
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=None)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--report", action="store_true")
    p.add_argument("--steady", type=int, default=0)
    p.add_argument("--selftest", action="store_true")
    a = p.parse_args()
    if a.selftest:
        sys.exit(main_selftest(a))
    if a.report:
        return main_report(a)
    if not a.workload:
        p.error("--workload is required")
    if a.steady:
        return main_steady(a)
    if a.seconds is None:
        a.seconds = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))["run_seconds"]
    if a.seconds <= 0:
        p.error("--seconds must be positive")
    main_run(a)


if __name__ == "__main__":
    main()
