#!/usr/bin/env python3
"""graft's benchmark: one workload, one seed, one run.

Usage (from the root of a checkout):
  python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

The first run in a checkout builds the engine and the harness from source
(sbt, offline) and generates the star-schema tables; later runs reuse both
until a source file changes. State lives in `.perfbench/` at the checkout
root. Each run starts one JVM (perfbench.Harness), checks the outputs, and
prints as its last stdout line one JSON object:
  {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
With --trace 0 the metrics are the end-to-end ones, with --trace 1 the
per-layer ones. See perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".perfbench")
# the query mixes (SparkEntry.queries names); upload_ingest generates its input
MIXES = {
    "api_lookup": ["q01_jobs_by_user", "q02_job_by_id", "q03_contacts_listing", "q04_count_jobs",
                   "q05_issue_counts", "q06_issues_join_jobs", "q07_threeway_join",
                   "q09_contact_by_email", "q10_duplicate_key", "q11_invalid_email",
                   "q12_existing_email", "q13_missing_required", "q16_status_update",
                   "q17_conditional_delete", "q18_topn_per_group", "q86_jobs_by_user_req",
                   "q189_keyset_page", "q193_scd2_lookup"],
    # the three cheapest of the nine checkpointed iterations (see README)
    "iterative_graph": ["q63_dedup_clusters", "q110_pagerank", "q224_bfs_distance"],
    "dedup_similarity": ["q24_minhash_lsh", "q26_ngram_jaccard", "q126_setsim_join",
                         "q138_doc_cosine", "q195_image_neardups", "q204_incremental_lsh",
                         "q165_containment", "q125_dup_spans", "q30_near_dup_cosine"],
}
WORKLOADS = ["api_lookup", "upload_ingest", "iterative_graph", "dedup_similarity"]
TABLES = ["region", "nation", "customer", "supplier", "part", "orders", "lineitem", "events",
          "documents", "embeddings"]
DATA_SCALE, DATA_SEED = 0.01, 42
JVM_HEAP = "2g"
BUILD_TIMEOUT_S = 840
END_TO_END = [("setup_s", "s"), ("latency_p50_s", "s"), ("throughput_rpm", "req/min"),
              ("heap_live_mb", "MiB")]


def jvm_timeout(seconds: float, trace: int) -> float:
    """How long the harness JVM may take before it is killed: an allowance
    for start-up, the warm-up pass and the minimum timed passes, plus the
    timed window again for the between-request hygiene; a traced run
    measures every request twice."""
    return 120 + 2 * seconds * (1 + trace)


def fail(msg: str, code: int = 2):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(code)


def fingerprint(paths) -> str:
    """Hash of every file's path and content under the given roots."""
    h = hashlib.sha256()
    for top in paths:
        if os.path.isfile(top):
            files = [top]
        else:
            files = sorted(os.path.join(d, f) for d, dirs, fs in os.walk(top)
                           for f in fs if "target" not in os.path.relpath(d, top).split(os.sep))
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def cpu_jiffies():
    """(steal, total) jiffies of the aggregate cpu line of /proc/stat, or
    None where there is no such file."""
    try:
        with open("/proc/stat") as f:
            parts = [int(x) for x in f.readline().split()[1:]]
        return (parts[7] if len(parts) > 7 else 0), sum(parts)
    except OSError:
        return None


def run_logged(cmd, cwd, log_path, timeout, env=None):
    """Runs `cmd` in its own process group with output to `log_path`; on
    timeout, or if this process is stopped, the whole group is killed and
    waited for."""
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, cwd=cwd, stdout=log, stderr=subprocess.STDOUT,
                             env=env, start_new_session=True)
        try:
            return p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            return None
        finally:
            if p.poll() is None:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()


def build() -> dict:
    """Compiles engine + harness once per source state; returns the launch
    spec (JVM options and classpath) the build wrote."""
    out = os.path.join(STATE, "build")
    os.makedirs(out, exist_ok=True)
    fp = fingerprint([os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
                      os.path.join(ROOT, "src", "main"), os.path.join(HERE, "build.sbt"),
                      os.path.join(HERE, "project", "build.properties"), os.path.join(HERE, "src", "main")])
    spec_path = os.path.join(out, "launch.json")
    if os.path.exists(spec_path):
        with open(spec_path) as f:
            spec = json.load(f)
        if spec.get("fingerprint") == fp:
            return spec
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "-Dsbt.offline=true" not in env.get("SBT_OPTS", ""):
        env["SBT_OPTS"] = (env.get("SBT_OPTS", "") + " -Dsbt.offline=true").strip()
    rc = run_logged(["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.forcestart=false",
                     "writeLaunch"], HERE, os.path.join(out, "sbt.log"), BUILD_TIMEOUT_S, env)
    launch = os.path.join(HERE, "target", "launch.txt")
    if rc != 0 or not os.path.exists(launch):
        fail(f"build failed (exit {rc}); see {os.path.join(out, 'sbt.log')}")
    with open(launch) as f:
        lines = f.read().splitlines()
    cut = lines.index("--")
    spec = {"fingerprint": fp, "jvm_options": lines[:cut], "classpath": lines[cut + 1:]}
    with open(spec_path, "w") as f:
        json.dump(spec, f)
    return spec


def data() -> tuple:
    """The star-schema tables (fixed scale and seed), generated once."""
    sys.path.insert(0, HERE)
    import datagen
    out = os.path.join(STATE, "data")
    stamp = os.path.join(out, "STAMP")
    fp = fingerprint([os.path.join(HERE, "datagen.py")]) + f"/{DATA_SCALE}/{DATA_SEED}"
    if not (os.path.exists(stamp) and open(stamp).read() == fp):
        shutil.rmtree(out, ignore_errors=True)
        datagen.write(out, DATA_SCALE, DATA_SEED)
        with open(stamp, "w") as f:
            f.write(fp)
    import pyarrow.parquet as pq
    contacts = pq.ParquetFile(os.path.join(out, "customer.parquet")).metadata.num_rows
    return out, contacts


def oracle_from_cache(verify: str, data_dir: str) -> dict:
    """Rewrites the Verify dump's oracle_sql.json so each entry reads the
    DuckDB oracle's answer from a cache, keyed by the data and the SQL text:
    the answer is a pure function of both, and computing it (up to ~10 s a
    query) on every run would cost more than the run. An entry DuckDB cannot
    answer keeps its SQL, so the compare reports it as before."""
    path = os.path.join(verify, "oracle_sql.json")
    if not os.path.exists(path):
        return {}
    with open(path) as f:
        oracle = json.load(f)
    import duckdb
    cache = os.path.join(STATE, "oracle")
    os.makedirs(cache, exist_ok=True)
    stamp = open(os.path.join(data_dir, "STAMP")).read()
    con = None
    rewritten = {}
    for name, sql in oracle.items():
        answer = os.path.join(cache, hashlib.sha256((stamp + sql).encode()).hexdigest() + ".parquet")
        if not os.path.exists(answer):
            if con is None:
                con = duckdb.connect()
                for t in TABLES:
                    con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
            try:
                con.execute(f"COPY ({sql}) TO '{answer}.tmp' (FORMAT PARQUET)")
                os.replace(answer + ".tmp", answer)
            except duckdb.Error:
                rewritten[name] = sql
                continue
        rewritten[name] = f"SELECT * FROM '{answer}'"
    os.replace(path, os.path.join(verify, "oracle_sql.orig.json"))
    with open(path, "w") as f:
        json.dump(rewritten, f)
    return oracle


def check_queries(run_dir: str, data_dir: str, mix: list) -> dict:
    """Per query: True when its Verify dump matches the DuckDB oracle (or,
    for a query without an oracle, when the dump exists)."""
    verify = os.path.join(run_dir, "verify")
    oracle = oracle_from_cache(verify, data_dir)
    verdict = {}
    if oracle:
        p = subprocess.run([sys.executable, os.path.join(ROOT, "tools", "compare_oracle.py"),
                            data_dir, verify], capture_output=True, text=True, timeout=120)
        with open(os.path.join(run_dir, "compare_oracle.txt"), "w") as f:
            f.write(p.stdout + p.stderr)
        for line in p.stdout.splitlines():
            parts = line.split()
            if len(parts) >= 2 and parts[0] in ("PASS", "PASS-unordered", "FAIL"):
                verdict[parts[1].rstrip(":")] = parts[0].startswith("PASS")
    for q in mix:
        if q not in oracle:
            qdir = os.path.join(verify, q)
            verdict[q] = os.path.isdir(qdir) and any(f.endswith(".parquet") for f in os.listdir(qdir))
        verdict.setdefault(q, False)
    return verdict


def check_uploads(run_dir: str, truths: dict) -> dict:
    """Per upload id: True when its staged rows and issue counts equal the
    generator's planted truth."""
    import duckdb
    con = duckdb.connect()
    def counts(sql):
        try:
            return con.execute(sql).fetchall()
        except duckdb.Error:
            return []
    staged = {u: n for u, n in counts(
        f"SELECT upload_id, count(*) FROM read_parquet('{run_dir}/staging/*/*.parquet', "
        f"hive_partitioning=true, union_by_name=true) GROUP BY 1")}
    issues = {}
    for u, kind, n in counts(
            f"SELECT upload_id, issue_type, count(*) FROM read_parquet('{run_dir}/issues/*/*.parquet', "
            f"hive_partitioning=true) GROUP BY 1, 2"):
        issues[(u, kind)] = n
    kinds = {"invalid_emails": "INVALID_EMAIL", "missing_required": "MISSING_REQUIRED_FIELD",
             "duplicate_keys": "DUPLICATE_EMAIL", "existing_emails": "EXISTING_EMAIL"}
    return {u: staged.get(u, 0) == t["rows"] and
            all(issues.get((u, k), 0) == t[f] for f, k in kinds.items())
            for u, t in truths.items()}


def main():
    # a SIGTERM unwinds through run_logged's cleanup like any other exit
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isfile(os.path.join(ROOT, "src", "main", "scala", "graft", "SparkEntry.scala"))):
        fail(f"no graft sources at {ROOT}: run from the root of a full checkout")
    spec = build()
    data_dir, contacts = data()

    run_dir = os.path.join(STATE, "runs", f"{a.workload}-s{a.seed}-t{a.trace}")
    shutil.rmtree(run_dir, ignore_errors=True)
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    cores = len(os.sched_getaffinity(0))
    mix = MIXES.get(a.workload, [])
    # SPARK_GRAFT_ONLY restricts the Verify dump that ends a query run
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(cores), SPARK_GRAFT_ONLY=",".join(mix),
               SPARK_LOCAL_DIRS=os.path.join(run_dir, "spark-local"))
    cmd = (["java"] + spec["jvm_options"] + [f"-Xmx{JVM_HEAP}", f"-Djava.io.tmpdir={tmp}",
            "-cp", os.pathsep.join(spec["classpath"]), "perfbench.Harness",
            a.workload, str(a.seed), str(a.seconds), str(a.trace), data_dir, run_dir,
            str(cores), str(contacts)] + mix)
    jiffies0 = cpu_jiffies()
    launched = time.time()
    rc = run_logged(cmd, ROOT, os.path.join(run_dir, "jvm.log"), jvm_timeout(a.seconds, a.trace), env)
    jiffies1 = cpu_jiffies()
    result_path = os.path.join(run_dir, "result.json")
    if rc != 0 or not os.path.exists(result_path):
        fail(f"harness failed (exit {rc}); see {os.path.join(run_dir, 'jvm.log')}", 3)
    with open(result_path) as f:
        res = json.load(f)
    shutil.rmtree(tmp, ignore_errors=True)
    shutil.rmtree(os.path.join(run_dir, "spark-local"), ignore_errors=True)

    timed = [r for r in res["requests"] if r["pass"] >= 0]
    if a.workload == "upload_ingest":
        good = check_uploads(run_dir, res["uploads"])
        wrong = lambda r: not good.get(r["name"], False)
        bad_items = sorted(u for u, ok in good.items() if not ok)
    else:
        good = check_queries(run_dir, data_dir, mix)
        wrong = lambda r: not good.get(r["name"], False)
        bad_items = sorted(q for q, ok in good.items() if not ok)
    failed = sum(1 for r in timed if not r["ok"] or wrong(r))
    attempted = len(timed)
    correct = failed == 0 and not bad_items

    setup_s = res["first_request_epoch_ms"] / 1000.0 - launched - res["gen_ms"] / 1000.0
    e2e = {"setup_s": setup_s, "latency_p50_s": res["latency_p50_s"],
           "throughput_rpm": res["throughput_rpm"], "heap_live_mb": res["heap_live_mb"]}
    print(f"[perfbench] {a.workload} seed={a.seed} trace={a.trace} cores={cores} "
          f"requests={attempted} failed={failed} error_rate={failed / max(1, attempted):.4f}")
    if bad_items:
        print(f"[perfbench] failed the correctness check: {' '.join(bad_items)}")
    if jiffies0 and jiffies1 and jiffies1[1] > jiffies0[1]:
        # CPU time the hypervisor gave to other guests during the run: the
        # context for reading a slow run, not a metric
        steal = 100.0 * (jiffies1[0] - jiffies0[0]) / (jiffies1[1] - jiffies0[1])
        print(f"[perfbench] cpu steal during the run: {steal:.1f}%")
    p90 = res["latency_p90_s"]
    print(f"[perfbench] latency_p90_s={p90 if p90 is not None else 'n/a (<100 requests)'}")
    for k, v in res["shares"].items():
        print(f"[perfbench] share {k} = {v:.4f}")
    if a.trace:
        print(f"[perfbench] per-layer table ({res['layers']['trace.requests']['value']:.0f} "
              f"traced requests; spans in {os.path.join(run_dir, 'spans.jsonl')})")
        for k, m in res["layers"].items():
            print(f"[perfbench]   {k:34s} {m['value']:14.3f} {m['unit']}")
        print(f"[perfbench] tracing overhead: {res['layers']['trace.overhead_pct']['value']:+.1f}% "
              f"on latency_p50_s")
        metrics = res["layers"]
    else:
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END}
        for k, m in metrics.items():
            print(f"[perfbench] {k} = {m['value']:.6g} {m['unit']}")
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
