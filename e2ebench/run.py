#!/usr/bin/env python3
"""Run one e2ebench workload and print its metrics.

    python3 e2ebench/run.py --workload curate-batch --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The script builds the program and the
harness from source (``build.py``), generates the workload's inputs from the
seed (``gen.py``), runs the harness JVM, checks the outputs and prints, as
its last line, one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics`` (every end-to-end metric with ``--trace 0``, every per-layer
metric with ``--trace 1``). It exits non-zero when a correctness check
fails or a metric could not be measured. Scratch state lives under
``.bench_work/`` and build output under ``$CARGO_TARGET_DIR`` (default
``.bench_build/``).
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

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402
import gen  # noqa: E402

WORKLOADS = ("curate-batch", "serve-search", "ingest-stream")
CORPUS_DOCS = 2000
INGEST_RATE = 10.0  # offered docs/s, below the knee on 4 cores
DOCS_PER_TICK = 10
REQUESTS = 3000
JVM_TIMEOUT_S = 170  # the whole command must end within 180 s

# name -> unit. Each workload defines the shared names for its own unit of
# work; see e2ebench/README.md.
END_TO_END = {
    "setup_s": "s", "p50_ms": "ms",
    "rate_per_s": "1/s", "heap_live_mb": "MB",
}
CURATE_KEYS = ("q8", "q12", "q151")
PER_LAYER = {}
for q in CURATE_KEYS:
    PER_LAYER.update({f"queries.{q}.jobs": "count", f"queries.{q}.shuffle_mb": "MB",
                      f"queries.{q}.wall_share": "%", f"queries.{q}.gap_share": "%",
                      f"queries.{q}.parallelism": "x"})
for rt in ("lex", "hybrid", "similar"):
    PER_LAYER.update({f"service.{rt}.p50_ms": "ms", f"service.{rt}.direct_ms": "ms",
                      f"service.{rt}.overhead_ms": "ms", f"service.{rt}.jobs_per_req": "count",
                      f"service.{rt}.planning_ms": "ms", f"service.{rt}.driver_gap_ms": "ms"})
PER_LAYER.update({"service.c4_p50_ms": "ms", "service.c4_p90_ms": "ms",
                  "service.queue_wait_ms": "ms"})
for s in ("records", "dedup", "postings", "frontier"):
    PER_LAYER.update({f"streaming.{s}.batches": "count", f"streaming.{s}.batch_p50_ms": "ms",
                      f"streaming.{s}.batch_max_ms": "ms", f"streaming.{s}.add_batch_ms": "ms",
                      f"streaming.{s}.overhead_ms": "ms"})
    if s != "records":
        PER_LAYER[f"streaming.{s}.index_parts"] = "count"
PER_LAYER.update({
    "streaming.records.state_rows": "count", "streaming.records.state_mb": "MB",
    "streaming.lag_end_ms": "ms", "generator.late_ms": "ms",
    "sources.documents_scan_ms": "ms", "sources.warc_parse_ms": "ms",
    "pipeline.consolidate_ms": "ms", "pipeline.enrich_ms": "ms",
    "ops.minhash_index_ms": "ms", "ops.minhash_index.jobs": "count",
    "ops.simhash_pairs_ms": "ms", "ops.simhash_pairs.jobs": "count",
    "ops.connected_components_ms": "ms", "ops.connected_components.jobs": "count",
    "queries.postings_build_ms": "ms", "queries.ivf_build_ms": "ms",
    "plans.planning_ms": "ms", "plans.executions": "count", "jvm.gc_ms": "ms",
    "jvm.peak_rss_mb": "MB",
    "trace.overhead_pct": "%", "failed_frac": "ratio",
})


def log(msg):
    print(f"[e2ebench] {msg}", file=sys.stderr, flush=True)


def check_checkout(root):
    need = ["src/main/scala/graft/SparkEntry.scala", "e2ebench/harness/Main.scala"]
    missing = [p for p in need if not os.path.exists(os.path.join(root, p))]
    if missing:
        log(f"not a checkout of the program (missing {', '.join(missing)}); "
            "run from the repository root")
        sys.exit(2)


def inputs(work, seed, seconds):
    """Generate (or reuse) this seed's corpus, request mix and ingest ticks."""
    data = os.path.join(work, "data")
    corpus = gen.write_corpus(os.path.join(data, f"corpus-s{seed}-n{CORPUS_DOCS}"),
                              seed, CORPUS_DOCS)
    requests = gen.write_requests(os.path.join(data, f"requests-s{seed}-n{REQUESTS}.jsonl"),
                                  seed, CORPUS_DOCS, REQUESTS)
    ticks = 2 + int(seconds * INGEST_RATE / DOCS_PER_TICK)
    landing = os.path.join(data, f"landing-s{seed}-t{ticks}-p{DOCS_PER_TICK}")
    gen.write_landing(landing, seed, ticks, DOCS_PER_TICK)
    return corpus, requests, landing


def dir_cache_key(path):
    """The program's key for per-corpus fixtures (graft.sources.Tables.dirCacheKey)."""
    canon = os.path.realpath(path)
    return f"{os.path.basename(canon)}_{hashlib.md5(canon.encode()).digest()[:4].hex()}"


def drop_program_fixtures(corpora):
    """The program keeps per-corpus fixtures and build-once artifacts under
    /tmp, keyed by the corpus path; remove this run's, so that every run
    starts from the same state and none is left behind."""
    for c in corpora:
        for d in glob.glob(f"/tmp/graft_*/{dir_cache_key(c)}*"):
            shutil.rmtree(d, ignore_errors=True)


def run_jvm(classes, run_dir, args, timeout):
    jars = os.path.join(build.spark_jars(), "*")
    opens = []
    for p in ("java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
              "java.nio", "java.util", "java.util.concurrent",
              "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
              "sun.security.action", "sun.util.calendar"):
        opens += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java"] + opens +
           ["-Xmx2g", "-XX:ReservedCodeCacheSize=1g", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC", "-cp", f"{classes}:{jars}",
            "graft.e2ebench.Main"] + args)
    with open(os.path.join(run_dir, "jvm.log"), "w") as out:
        p = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT,
                             start_new_session=True, cwd=run_dir)
        try:
            rc = p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            rc = None
    return rc


def norm_rows(rows):
    return sorted(tuple(repr(v) for v in r) for r in rows)


def oracle_check(outputs, corpus, cache_dir, alter):
    """Each curate query's Spark output must equal its oracle SQL in DuckDB.
    Oracle answers are cached per corpus (they depend only on the seed)."""
    import duckdb
    con = duckdb.connect()
    for t in ("documents", "embeddings"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{corpus}/{t}.parquet')")
    failures = []
    os.makedirs(cache_dir, exist_ok=True)
    with open(os.path.join(outputs, "oracle_sql.json")) as f:
        oracle = json.load(f)
    for i, (q, sql) in enumerate(sorted(oracle.items())):
        cache = os.path.join(cache_dir, q + ".json")
        sql_hash = hashlib.sha256(sql.encode()).hexdigest()
        exp = None
        if os.path.exists(cache):
            with open(cache) as f:
                c = json.load(f)
            if c["sql"] == sql_hash:
                exp = c
        if exp is None:
            rel = con.sql(sql)
            cols = sorted(rel.columns)
            rows = con.sql(f"SELECT {', '.join(cols)} FROM rel").fetchall()
            exp = {"sql": sql_hash, "cols": cols, "rows": norm_rows(rows)}
            with open(cache + ".tmp", "w") as f:
                json.dump(exp, f)
            os.replace(cache + ".tmp", cache)
        files = glob.glob(os.path.join(outputs, q, "*.parquet"))
        if not files:
            failures.append(f"{q}: no output")
            continue
        got_rel = con.sql(f"SELECT * FROM read_parquet({files!r})")
        cols = sorted(got_rel.columns)
        got = norm_rows(con.sql(f"SELECT {', '.join(cols)} FROM got_rel").fetchall())
        if alter and i == 0:
            got = got[:-1]
        exp_rows = [tuple(r) for r in exp["rows"]]
        if cols != exp["cols"]:
            failures.append(f"{q}: columns {cols} != oracle {exp['cols']}")
        elif got != exp_rows:
            failures.append(f"{q}: {len(got)} rows differ from the oracle's {len(exp_rows)}")
    return failures


def run_once(root, a, trace):
    work = os.path.join(root, ".bench_work")
    out_dir = os.path.abspath(os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    t_build = time.time()
    classes = build.build(root, out_dir)
    log(f"build ready in {time.time() - t_build:.1f}s")
    corpus, requests, landing = inputs(work, a.seed, a.seconds)
    run_dir = os.path.join(work, "runs", f"{a.workload}-s{a.seed}-t{trace}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    result = os.path.join(run_dir, "result.json")
    corpora = [corpus, os.path.join(run_dir, "probe_corpus")]
    drop_program_fixtures(corpora)
    args = ["--workload", a.workload, "--data", corpus, "--requests", requests,
            "--landing", landing, "--work", run_dir, "--out", result,
            "--seconds", str(a.seconds), "--trace", str(trace),
            "--rate", str(INGEST_RATE), "--alter", "1" if a.alter else "0"]
    try:
        rc = run_jvm(classes, run_dir, args, JVM_TIMEOUT_S)
        if rc != 0 or not os.path.exists(result):
            with open(os.path.join(run_dir, "jvm.log"), errors="replace") as f:
                sys.stderr.write(f.read()[-3000:])
            log(f"harness JVM ended with {'timeout' if rc is None else rc}")
            sys.exit(1)
        with open(result) as f:
            r = json.load(f)
        if a.workload == "curate-batch":
            r["failures"] += oracle_check(os.path.join(run_dir, "outputs"), corpus,
                                          os.path.join(work, "oracle", os.path.basename(corpus)),
                                          a.alter)
        keep = os.path.join(work, "results")
        os.makedirs(keep, exist_ok=True)
        with open(os.path.join(keep, f"{a.workload}-s{a.seed}-r{a.seconds}-t{trace}.json"), "w") as f:
            json.dump(r, f)
        if trace and os.path.exists(os.path.join(run_dir, "spans.jsonl")):
            shutil.copy(os.path.join(run_dir, "spans.jsonl"),
                        os.path.join(keep, f"{a.workload}-s{a.seed}-r{a.seconds}-spans.jsonl"))
        return r
    finally:
        drop_program_fixtures(corpora)
        shutil.rmtree(run_dir, ignore_errors=True)


def main():
    ap = argparse.ArgumentParser(description="Run one e2ebench workload.")
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--alter", action="store_true",
                    help="self-test: alter one output row or response before the check")
    a = ap.parse_args()
    root = os.getcwd()
    check_checkout(root)

    r = run_once(root, a, a.trace)
    metrics = dict(r["metrics"])
    metrics["failed_frac"] = r["failed"] / max(1, r["attempted"])
    wanted = PER_LAYER if a.trace else END_TO_END
    missing = [k for k in wanted if not isinstance(metrics.get(k), (int, float))]
    failures = list(r["failures"])
    if missing:
        failures.append(f"metrics not measured: {', '.join(missing)}")
    for f in failures:
        log(f"CHECK FAILED: {f}")
    print("env " + json.dumps(r["env"]))
    for k, unit in wanted.items():
        if k not in missing:
            print(f"{k:40s} {metrics[k]:14.4f} {unit}")
    correct = not failures and r["failed"] == 0
    print(json.dumps({
        "correct": correct, "attempted": max(1, int(r["attempted"])), "failed": int(r["failed"]),
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in wanted.items()
                    if k not in missing},
    }))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
