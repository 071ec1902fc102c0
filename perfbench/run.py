#!/usr/bin/env python3
"""Benchmark of the graft engine: three workloads, end-to-end and per-layer.

Run from the root of a source checkout:

    python3 perfbench/run.py --workload chat_log --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --self-test

Workloads (see BENCHMARK.json for why each was chosen):
  chat_log         closed loop, 1 writer + 3 readers, the cached store stack
  llm_batch        closed loop, 1 client, 22 declared faces once each
  refinery_stream  the composed streaming ingest over ordered parquet files

The first run in a checkout compiles the program together with the harness
(perfbench/harness, sbt) and generates the input tables (gen_tables.py);
both are kept under .bench_build and reused while the sources are unchanged.
Each run gets its own fresh java.io.tmpdir, which is deleted afterwards, so
every fixture the program builds is built cold. Outputs are checked after
the timed phase: chat_log against its seeded record generator, llm_batch
against each face's DuckDB oracle SQL, refinery_stream against stage counts
recomputed in DuckDB.

The last line of stdout is one JSON object: {"correct", "attempted",
"failed", "metrics"}; with --trace 0 the metrics are the end-to-end ones of
BENCHMARK.json, with --trace 1 the per-layer ones (from a traced run, plus
the tracing overhead against this checkout's untraced runs).
"""
import argparse
import glob
import hashlib
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(BUILD, "harness-target", "scala-2.13", "classes")

# Scale of the generated corpus (documents 50k*SF, lineitem ~6M*SF rows).
SF = 0.02
DATA_SEED = 42
JVM_TIMEOUT_S = 150
# layer values worth seeing in every run's log line
LOGGED = ("core.cache_hit_ratio", "core.fd_growth", "fds_open", "session_start_s",
          "workload_done_s", "spark.jobs", "streaming.input")

WORKLOADS = {
    # op = the request whose latency op_p50_ms / op_tail_ms report
    # chat_log: `getting` calls that missed the LRU and read the store's
    # files; LRU hits (microseconds) and buffer reads (sub-millisecond) are
    # other modes, and a median across modes is at the mercy of their mix
    "chat_log": "get_file_ms",
    "llm_batch": "face_ms",
    "refinery_stream": "batch_ms",
}

JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


# ---------------------------------------------------------------- statistics

def percentile(samples, p):
    """Nearest-rank percentile p (0-100) of a non-empty sample list."""
    s = sorted(samples)
    return s[max(0, math.ceil(p / 100.0 * len(s)) - 1)]


def tail_percentile(samples, candidates=(95, 90, 75)):
    """(p, value) at the highest candidate percentile that has at least ten
    samples beyond it; the median when none has."""
    n = len(samples)
    for p in candidates:
        if n * (100 - p) / 100.0 >= 10:
            return p, percentile(samples, p)
    return 50, percentile(samples, 50)


def median(samples):
    return statistics.median(samples) if samples else 0.0


# ---------------------------------------------------------------- build, data

def tree_digest(paths):
    h = hashlib.sha256()
    for base in paths:
        for dirpath, dirnames, filenames in os.walk(base):
            dirnames[:] = sorted(d for d in dirnames if d != "target")
            for f in sorted(filenames):
                p = os.path.join(dirpath, f)
                h.update(os.path.relpath(p, ROOT).encode())
                with open(p, "rb") as fh:
                    h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compiles program + harness unless the sources are unchanged."""
    stamp = os.path.join(BUILD, "build.stamp")
    digest = tree_digest([os.path.join(ROOT, "src", "main"), os.path.join(HERE, "harness")])
    if os.path.isdir(CLASSES) and os.path.exists(stamp) and open(stamp).read() == digest:
        return
    log("compiling program and harness (sbt)")
    # untraced results of an older build are no baseline for tracing overhead
    shutil.rmtree(os.path.join(BUILD, "results"), ignore_errors=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env["SPARK_HOME"] = spark_home()
    # every JVM sbt starts would otherwise write its perf data under /tmp
    env["JAVA_TOOL_OPTIONS"] = (env.get("JAVA_TOOL_OPTIONS", "") + " -XX:-UsePerfData").strip()
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true",
           f"-Dsbt.global.base={os.path.join(BUILD, 'sbt-global')}",
           f"-Djava.io.tmpdir={os.path.join(BUILD, 'sbt-tmp')}",
           "-Dsbt.server.forcestart=false", "compile"]
    t0 = time.time()
    os.makedirs(os.path.join(BUILD, "sbt-tmp"), exist_ok=True)
    r = subprocess.run(cmd, cwd=os.path.join(HERE, "harness"), env=env,
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        raise SystemExit("perfbench: build failed")
    for stale in glob.glob(os.path.join(BUILD, "oracle*.json")):
        os.remove(stale)
    with open(stamp, "w") as fh:
        fh.write(digest)
    log(f"build took {time.time() - t0:.1f} s")


def data_dir():
    """The generated input tables (fixed seed), generated once per checkout."""
    sys.path.insert(0, HERE)
    import gen_tables
    tag = hashlib.sha256(open(gen_tables.__file__, "rb").read()).hexdigest()[:12]
    out = os.path.join(BUILD, "data", f"sf{SF}-seed{DATA_SEED}-{tag}")
    if not os.path.isdir(out):
        tmp = out + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        gen_tables.generate(tmp, SF, DATA_SEED)
        os.rename(tmp, out)
    return out


def cpus():
    return len(os.sched_getaffinity(0))


def spark_home():
    """The Spark installation whose jars the program builds and runs on."""
    home = os.environ.get("SPARK_HOME")
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        raise SystemExit("perfbench: set SPARK_HOME to a Spark installation")
    return home


# ---------------------------------------------------------------- one JVM run

def java_cmd(*jvm_args):
    cp = CLASSES + os.pathsep + os.path.join(spark_home(), "jars", "*")
    return (["java"] + [a for p in JDK_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
            # a pre-touched heap keeps first-touch page faults out of the timed phase
            + ["-Xms2g", "-Xmx2g", "-XX:+AlwaysPreTouch", "-XX:+UseTransparentHugePages",
               "-XX:-UsePerfData", "-Dspark.ui.enabled=false",
               "-Dspark.sql.session.timeZone=UTC"] + list(jvm_args)
            + ["-cp", cp, "graft.perfbench.Main"])


def java(args):
    """Runs a short harness command (no Spark session) to completion."""
    subprocess.run(java_cmd() + args, check=True, timeout=JVM_TIMEOUT_S)


def run_jvm(workload, seed, seconds, trace, data):
    """Runs the harness for one workload in a fresh run directory; returns
    (result dict, run dir). The caller deletes the run dir."""
    run = os.path.join(BUILD, "runs", f"{workload}-{seed}-{os.getpid()}-{trace}")
    shutil.rmtree(run, ignore_errors=True)
    out, work, tmp = (os.path.join(run, d) for d in ("out", "work", "tmp"))
    for d in (out, work, tmp):
        os.makedirs(d)
    cmd = (java_cmd(f"-Djava.io.tmpdir={tmp}") + [
              "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
              "--trace", str(trace), "--out", out, "--work", work, "--data", data])
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(cpus()))
    logf = os.path.join(run, "jvm.log")
    with open(logf, "w") as fh:
        try:
            r = subprocess.run(cmd, cwd=run, env=env, stdout=fh, stderr=subprocess.STDOUT,
                               timeout=JVM_TIMEOUT_S)
            rc = r.returncode
        except subprocess.TimeoutExpired:
            rc = "timeout"
    res_file = os.path.join(out, "result.json")
    if rc != 0 or not os.path.exists(res_file):
        with open(logf) as fh:
            sys.stderr.write("".join(fh.readlines()[-60:]))
        shutil.rmtree(run, ignore_errors=True)
        raise SystemExit(f"perfbench: harness JVM for {workload} ended with {rc}")
    with open(res_file) as fh:
        return json.load(fh), run


# ---------------------------------------------------------------- output checks

def oracle_module():
    sys.path.insert(0, os.path.join(ROOT, "tools"))
    import oracle_check
    return oracle_check


def frame_digest(df, oc):
    rows = oc.frame_key(df)
    return len(rows), hashlib.sha256(repr(rows).encode()).hexdigest()


def duck_over(data, tables):
    import duckdb
    con = duckdb.connect()
    for t in tables:
        p = os.path.join(data, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    return con


ORACLE_CACHE = os.path.join(HERE, "oracle_cache.json")


def data_digest(data):
    h = hashlib.sha256()
    for f in sorted(glob.glob(os.path.join(data, "*.parquet"))):
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def oracle_digests(data, write_cache=False):
    """DuckDB side of the llm_batch check: per face, the row count, columns
    and digest of its oracle SQL over the inputs. An entry depends only on
    the input bytes and the SQL text, which key it; oracle_cache.json ships
    the entries for the generated inputs, and any other key (changed SQL,
    changed inputs) is computed in DuckDB. The result is kept per build."""
    path = os.path.join(BUILD, "oracle.json")
    if os.path.exists(path) and not write_cache:
        return json.load(open(path))
    sql_file = os.path.join(BUILD, "oracle_sql.json")
    java(["--oracle-sql", sql_file])
    cache = json.load(open(ORACLE_CACHE)) if os.path.exists(ORACLE_CACHE) else {}
    oc = oracle_module()
    con = duck_over(data, oc.TABLES)
    inputs = data_digest(data)
    digests, used = {}, {}
    for name, sql in json.load(open(sql_file)).items():
        key = hashlib.sha256(f"{inputs}\0{sql}".encode()).hexdigest()
        if key not in cache:
            t0 = time.time()
            df = con.sql(sql).df()
            n, d = frame_digest(df, oc)
            cache[key] = {"face": name, "rows": n, "digest": d, "columns": sorted(df.columns)}
            log(f"oracle {name}: {n} rows in {time.time() - t0:.1f} s")
        digests[name] = used[key] = cache[key]
    if write_cache:
        with open(ORACLE_CACHE, "w") as fh:
            json.dump(used, fh, indent=1, sort_keys=True)
            fh.write("\n")
    with open(path + ".tmp", "w") as fh:
        json.dump(digests, fh)
    os.rename(path + ".tmp", path)
    return digests


def check_faces(run, data, res):
    """Checks every face's Spark output against its DuckDB oracle digest.
    Returns the output rows written."""
    oc = oracle_module()
    faces_dir = os.path.join(run, "out", "faces")
    con = duck_over(data, [])
    rows_out = 0
    for name, duck in oracle_digests(data).items():
        files = glob.glob(os.path.join(faces_dir, name, "*.parquet"))
        if not files:
            res["failures"].append(f"llm_batch {name}: no output written")
            continue
        spark_df = con.sql(f"SELECT * FROM read_parquet({files!r})").df()
        rows_out += len(spark_df)
        if sorted(spark_df.columns) != duck["columns"]:
            res["failures"].append(f"llm_batch {name}: columns {sorted(spark_df.columns)} "
                                   f"!= oracle {duck['columns']}")
            continue
        n, d = frame_digest(spark_df, oc)
        if (n, d) != (duck["rows"], duck["digest"]):
            res["failures"].append(f"llm_batch {name}: {n} rows differ from the oracle's "
                                   f"{duck['rows']}")
    return rows_out


REFINERY_SQL = """
WITH fused AS (
  SELECT d.doc_id, d.text, d.n_chars, e.embedding
  FROM documents d JOIN embeddings e ON e.vec_id = d.doc_id
  WHERE d.doc_id % 50 <> 0 AND d.doc_id < $bound),
scored AS (
  SELECT doc_id, text, embedding,
    CAST(len(list_distinct(toks)) AS DOUBLE) / CAST(len(toks) AS DOUBLE) * 2.0
    + (CAST(n_chars AS DOUBLE) - (CAST(len(toks) AS DOUBLE) - 1.0)) / CAST(len(toks) AS DOUBLE) * 0.1
    - CAST(len(list_filter(toks, t -> t IN ('the','a','of','and'))) AS DOUBLE)
      / CAST(len(toks) AS DOUBLE) AS q
  FROM (SELECT *, string_split(text, ' ') AS toks FROM fused)),
gated AS (SELECT * FROM scored WHERE q >= 0.5),
kept AS (SELECT * FROM gated QUALIFY doc_id = MIN(doc_id) OVER (PARTITION BY md5(text))),
ev AS (SELECT embedding AS ee FROM embeddings WHERE vec_id % 50 = 0),
contam AS (
  SELECT k.doc_id FROM kept k, ev
  GROUP BY k.doc_id HAVING MAX(list_cosine_similarity(k.embedding, ev.ee)) >= 0.35)
SELECT (SELECT COUNT(*) FROM fused), (SELECT COUNT(*) FROM gated),
       (SELECT COUNT(*) FROM kept), (SELECT COUNT(*) FROM contam)
"""


def check_refinery(data, res):
    """Checks the stage counts that do not depend on batch boundaries
    (input, quality, exact) against DuckDB over the files that landed; the
    contamination drops can at most be the contaminated exact survivors."""
    v = res["values"]
    con = duck_over(data, ["documents", "embeddings"])
    n_in, n_gated, n_kept, n_contam = con.execute(
        REFINERY_SQL, {"bound": int(v.get("streaming.vec_id_bound", 0))}).fetchone()
    expect = {"streaming.input": n_in, "streaming.quality_dropped": n_in - n_gated,
              "streaming.exact_dropped": n_gated - n_kept}
    for k, want in expect.items():
        if v.get(k) != want:
            res["failures"].append(f"refinery_stream {k} = {v.get(k)}, DuckDB says {want}")
    if v.get("streaming.contam_dropped", 0) > n_contam:
        res["failures"].append(f"refinery_stream contam_dropped {v.get('streaming.contam_dropped')}"
                               f" > {n_contam} contaminated exact survivors")


# ---------------------------------------------------------------- metrics

def spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def rounds(samples, seconds, n):
    """Splits timestamped samples (values under `name`, start seconds under
    `name@s`) into n equal rounds of the measured window."""
    out = [{} for _ in range(n)]
    for name, times in samples.items():
        if name.endswith("@s"):
            base = name[:-2]
            for t, x in zip(times, samples[base]):
                out[min(n - 1, max(0, int(t / seconds * n)))].setdefault(base, []).append(x)
    return out


def end_to_end(workload, res, rows_out, seconds):
    """The end-to-end metrics. chat_log takes its median latency, its tail
    latency and its throughput per round of its measured window and reports
    the median round, so a burst of load from outside the benchmark moves at
    most one round; a round's tail is the highest percentile with ten
    samples beyond it (p90 at about 120 samples a round). A round is one
    flush cycle of its write buffer: every round then holds the same mix of
    reads served from the buffer and from flushed files."""
    s, v = res["samples"], res["values"]
    op = WORKLOADS[workload]

    def op_metrics(ops, rows_per_s):
        return {"op_p50_ms": percentile(ops, 50) if ops else 0.0,
                "op_tail_ms": tail_percentile(ops)[1] if ops else 0.0,
                "rows_per_s": rows_per_s}

    if workload == "chat_log":
        n = max(1, int(seconds / v["flush_cycle_s"]))
        per_round = [op_metrics(r.get(op, []), (len(r.get("get_ms", []))
                                                + 100 * len(r.get("range_ms", [])))
                                * n / seconds)
                     for r in rounds(s, seconds, n)]
        m = {k: median([r[k] for r in per_round]) for k in per_round[0]}
        log("rounds " + " ".join(f"{k}=[{', '.join(f'{r[k]:.4g}' for r in per_round)}]"
                                 for k in per_round[0]))
    else:
        ops = s.get(op, [])
        m = op_metrics(ops, rows_out / (sum(ops) / 1e3) if workload == "llm_batch" and ops
                       else v.get("rows_per_s", 0.0))
    return {"setup_s": median(s.get("setup_s", [])), **m}


def per_layer(workload, res, e2e, overhead, names):
    s, v = res["samples"], res["values"]
    m = {k: float(x) for k, x in v.items()}

    def p(name, q):
        return percentile(s[name], q) if s.get(name) else 0.0

    m.update({
        "core.get_p50_ms": p("get_ms", 50), "core.get_p95_ms": p("get_ms", 95),
        "core.fetch_p50_ms": p("fetch_ms", 50), "core.fetch_p95_ms": p("fetch_ms", 95),
        "core.range_p50_ms": p("range_ms", 50), "core.range_p95_ms": p("range_ms", 95),
        "core.push_ack_p50_ms": p("push_ack_ms", 50), "core.close_ms": p("close_ms", 50),
        "streaming.trigger_ms_p50": p("trigger_ms", 50),
        "streaming.add_batch_ms_p50": p("add_batch_ms", 50),
        "streaming.plan_ms_p50": p("plan_ms", 50),
        "streaming.get_batch_ms_p50": p("get_batch_ms", 50),
        "streaming.wal_commit_ms_p50": p("wal_commit_ms", 50),
        "failed_ops_frac": len(res["failures"]) / max(1, res["attempted"]),
    })
    for k, x in s.items():
        if k.startswith("setup."):
            m[k] = median(x)
    for k, x in e2e.items():
        m[f"trace.overhead.{k}"] = x - overhead[k] if k in overhead else 0.0
    # a layer the workload does not reach reads 0
    return {n: m.get(n, 0.0) for n in names}


def baseline_file(workload):
    return os.path.join(BUILD, "results", f"{workload}.jsonl")


def untraced_baseline(workload):
    """Median of each end-to-end metric over this checkout's untraced runs."""
    path = baseline_file(workload)
    if not os.path.exists(path):
        return {}
    rows = [json.loads(line) for line in open(path) if line.strip()]
    return {k: median([r[k] for r in rows if k in r]) for k in rows[0]} if rows else {}


def measure(workload, seed, seconds, trace, data):
    """One full run: JVM, output checks, metrics. Returns the result line."""
    t0 = time.time()
    res, run = run_jvm(workload, seed, seconds, trace, data)
    t1 = time.time()
    try:
        rows_out = 0
        if workload == "llm_batch":
            rows_out = check_faces(run, data, res)
        elif workload == "refinery_stream":
            check_refinery(data, res)
        log(f"harness JVM {t1 - t0:.1f} s, output checks {time.time() - t1:.1f} s")
        if trace:
            spans = os.path.join(run, "out", "spans.json")
            if os.path.exists(spans):
                os.makedirs(os.path.join(BUILD, "traces"), exist_ok=True)
                shutil.copy(spans, os.path.join(BUILD, "traces", f"{workload}-seed{seed}.json"))
    finally:
        shutil.rmtree(run, ignore_errors=True)
    for f in res["failures"]:
        log(f"FAILED: {f}")
    e2e = end_to_end(workload, res, rows_out, seconds)
    sp = spec()
    if trace:
        names = [m["name"] for m in sp["per_layer"]]
        units = {m["name"]: m["unit"] for m in sp["per_layer"]}
        values = per_layer(workload, res, e2e, untraced_baseline(workload), names)
    else:
        units = {m["name"]: m["unit"] for m in sp["end_to_end"]}
        values = e2e
        os.makedirs(os.path.dirname(baseline_file(workload)), exist_ok=True)
        with open(baseline_file(workload), "a") as fh:
            fh.write(json.dumps(e2e) + "\n")
    ops = res["samples"].get(WORKLOADS[workload], [])
    # chat_log's tail is taken per round (see end_to_end)
    tail_p = "per-round" if workload == "chat_log" else f"p{tail_percentile(ops)[0] if ops else 0}"
    log(f"{workload} seed={seed} nproc={cpus()} cpus_used={res['cpus']} "
        f"trace={trace} data_seed={DATA_SEED} sf={SF} op_samples={len(ops)} "
        f"op_tail={tail_p} " + " ".join(f"{k}={x:.4g}" for k, x in e2e.items())
        + "".join(f" {k}={res['values'][k]:.4g}" for k in LOGGED if k in res["values"]))
    if len(ops) <= 30:
        log("ops_ms=[" + ", ".join(f"{x:.0f}" for x in ops) + "]")
    failed = len(res["failures"])
    return {"correct": failed == 0, "attempted": max(1, int(res["attempted"])),
            "failed": failed,
            "metrics": {k: {"value": values[k], "unit": units[k]} for k in units}}


# ---------------------------------------------------------------- self-test

def self_test():
    assert percentile([3, 1, 2], 50) == 2
    xs = list(range(1, 201))
    assert tail_percentile(xs) == (95, 190), tail_percentile(xs)
    assert tail_percentile(xs[:100]) == (90, 90)
    assert tail_percentile(xs[:40]) == (75, 30)
    assert tail_percentile(xs[:19]) == (50, 10)
    sp = spec()
    for key in ("end_to_end", "per_layer"):
        names = [m["name"] for m in sp[key]]
        assert len(names) == len(set(names)), f"duplicate {key} names"
    assert set(end_to_end("chat_log", {"samples": {}, "values": {"flush_cycle_s": 2.5}},
                          0, 10)) == \
        {m["name"] for m in sp["end_to_end"]}, "end_to_end metrics and BENCHMARK.json disagree"
    for w in sp["workloads"]:
        assert w["name"] in WORKLOADS, w["name"]
    build()
    java(["--self-test"])
    print("perfbench self-test: ok")


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--self-test", action="store_true")
    ap.add_argument("--write-oracle-cache", action="store_true",
                    help="rewrite perfbench/oracle_cache.json for the current faces")
    a = ap.parse_args()
    for need in ("src/main/scala", "tools/oracle_check.py", "BENCHMARK.json"):
        if not os.path.exists(os.path.join(ROOT, need)):
            raise SystemExit(f"perfbench: {need} not found; run from the root of a source checkout")
    if a.self_test:
        return self_test()
    if a.write_oracle_cache:
        build()
        return oracle_digests(data_dir(), write_cache=True)
    if not a.workload:
        ap.error("--workload is required")
    # the first run in a checkout, of any workload, builds and prepares all
    # inputs, so no later run pays for them
    build()
    data = data_dir()
    oracle_digests(data)
    if a.trace and not os.path.exists(baseline_file(a.workload)):
        log("no untraced run recorded yet: measuring one for the tracing overhead")
        measure(a.workload, a.seed, a.seconds, 0, data)
    print(json.dumps(measure(a.workload, a.seed, a.seconds, a.trace, data)))


if __name__ == "__main__":
    main()
