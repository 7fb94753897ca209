#!/usr/bin/env python3
"""perfbench: the repo's end-to-end and per-layer benchmark.

Usage (from the repo root):

    python3 perfbench/run.py --workload replicate|query-mix|dupgraph-ingest \
        --seed N --seconds S --trace 0|1

Builds the program and the benchmark's JVM harness from source on first use
(sbt, outputs cached under .bench_build/ keyed by a digest of the sources),
generates the workload's inputs from --seed, runs one JVM at local[nproc],
checks the program's outputs, and prints one JSON line last:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

--trace 0 reports the end-to-end metrics; --trace 1 reports the per-layer
metrics from a traced window (Spark's listener buses), plus the tracing
overhead, and writes the spans to .bench_build/traces/. See README.md.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.dataset as ds
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
sys.path.insert(0, HERE)
import gen  # noqa: E402

WORKLOADS = ["replicate", "query-mix", "dupgraph-ingest"]
END_TO_END = ["setup_s", "throughput_per_s", "latency_s_p50", "latency_s_tail", "ok_ratio"]
UNITS = {"setup_s": "s", "throughput_per_s": "1/s", "latency_s_p50": "s",
         "latency_s_tail": "s", "ok_ratio": "ratio"}
# replicate: records per micro-batch, as 4 files ("shards") per batch
BATCH_RECORDS = 50_000
FILES_PER_BATCH = 4
# every timed window holds at least this many units
MIN_UNITS = 10
# replicate: the fastest warm batch this backlog is sized for
MIN_BATCH_S = 1.0
# replicate: set-up batches, and the batches of a traced run's local[1]
# leg (Replicate.ColdBatches and Local1Batches in Workloads.scala)
COLD_BATCHES = 3
LOCAL1_BATCHES = 3
# query-mix: scale factor of the generated tables
QUERY_SF = 0.01
# query-mix tables and the dupgraph-ingest corpus are fixed data: --seed
# sets only the query order and the base/batch split and batch order, so
# seeds vary the work's order, not its content
DATA_SEED = 0
# dupgraph-ingest: documents per ingest batch, and the fastest warm batch
# the corpus is sized for
DOCS_PER_BATCH = 100
MIN_INGEST_S = 1.0
JVM_OPTS = ["-Xmx3g", "-XX:ReservedCodeCacheSize=512m", "-XX:-UsePerfData", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC"] + [
    f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
        "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
        "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]
RUN_LIMIT_S = 170
CDS_ARCHIVE = os.path.join(BUILD, "classes.jsa")


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def query_sample():
    with open(os.path.join(HERE, "query_sample.txt")) as f:
        return [ln.strip() for ln in f if ln.strip() and not ln.startswith("#")]


# ---------------------------------------------------------------- build

def source_digest():
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    for p in sorted(files):
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def build():
    """Compile the program and the harness, package both as jars, archive
    the classes a run loads (JVM class data sharing) and return the
    runtime classpath. Every run starts from the archive (-Xshare:on), so
    the build fails when it cannot make one."""
    stamp, cp_file = os.path.join(BUILD, "stamp"), os.path.join(BUILD, "classpath.txt")
    digest = source_digest()
    if os.path.exists(cp_file) and open(stamp).read() == digest:
        return open(cp_file).read().strip()
    os.makedirs(BUILD, exist_ok=True)
    log("building (sbt compile) ...")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    r = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.forcestart=false",
         "compile", "export Runtime/fullClasspathAsJars"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        stdin=subprocess.DEVNULL, text=True, timeout=850)
    lines = r.stdout.splitlines()
    cps = [ln for ln in lines if ".jar" in ln and not ln.startswith("[")]
    if r.returncode != 0 or not cps:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        raise SystemExit("build failed")
    cp = cps[-1].strip()
    work = os.path.join(BUILD, "class-list")
    shutil.rmtree(work, ignore_errors=True)
    if os.path.exists(CDS_ARCHIVE):
        os.remove(CDS_ARCHIVE)
    os.makedirs(work)
    r = subprocess.run([java_bin()] + JVM_OPTS + [f"-XX:ArchiveClassesAtExit={CDS_ARCHIVE}",
                        f"-Djava.io.tmpdir={work}", "-cp", cp, "perfbench.Main",
                        "--workload", "class-list", "--work", work],
                       cwd=work, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       stdin=subprocess.DEVNULL, text=True, timeout=300)
    shutil.rmtree(work, ignore_errors=True)
    if r.returncode != 0 or not os.path.exists(CDS_ARCHIVE):
        sys.stderr.write(r.stdout[-4000:])
        raise SystemExit("build failed: no class data sharing archive")
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp, "w") as f:
        f.write(digest)
    return cp


# ---------------------------------------------------------------- inputs

def window_units(seconds, fastest_s):
    """Units of one timed window: enough to last `seconds` at the fastest
    unit time the inputs are sized for, at least MIN_UNITS, and a multiple
    of 2 so a traced run splits it into four equal ABBA blocks over two
    windows."""
    n = max(MIN_UNITS, math.ceil(seconds / fastest_s))
    return n + n % 2


def gen_replicate(rng, work, trace, seconds):
    """Stage batches of 4 parquet files, one directory each, under
    work/stage: the cold batches, then one timed window (two in a traced
    run, plus the local[1] leg)."""
    per_window = window_units(seconds, MIN_BATCH_S)
    n_batches = COLD_BATCHES + per_window + ((per_window + LOCAL1_BATCHES) if trace else 0)
    table, inactive, commit_str, keys = gen.records(rng, n_batches * BATCH_RECORDS)
    per_file = BATCH_RECORDS // FILES_PER_BATCH
    for b in range(n_batches):
        os.makedirs(f"{work}/stage/b{b:05d}")
        for j in range(FILES_PER_BATCH):
            at = b * BATCH_RECORDS + j * per_file
            pq.write_table(table.slice(at, per_file), f"{work}/stage/b{b:05d}/f{j}.parquet")
    os.makedirs(f"{work}/config")
    pq.write_table(gen.region_config(inactive), f"{work}/config/part-0.parquet")
    return {"table": table, "inactive": inactive, "commit_str": commit_str, "keys": keys}


def gen_query_mix(rng, work):
    gen.write_tables(np.random.default_rng(DATA_SEED), QUERY_SF, f"{work}/data")
    names = query_sample()
    # the seed sets the query order of each pass
    with open(f"{work}/passes.txt", "w") as f:
        for _ in range(64):
            f.write(",".join(names[i] for i in rng.permutation(len(names))) + "\n")
    return {}


def gen_dupgraph(rng, work, seconds):
    """A corpus twice the size of one cold batch plus two timed windows:
    the base half, then the ingest batches. An untraced run ingests the cold batch
    and the first window, a traced run both windows, so a seed builds the
    same base graph in either mode."""
    n_docs = 2 * (1 + 2 * window_units(seconds, MIN_INGEST_S)) * DOCS_PER_BATCH
    docs = gen.documents(np.random.default_rng(DATA_SEED), n_docs)
    order = rng.permutation(n_docs)
    base, rest = np.sort(order[:n_docs // 2]), order[n_docs // 2:]
    os.makedirs(f"{work}/docs/batches")
    pq.write_table(docs.take(base), f"{work}/docs/base.parquet")
    for i in range(len(rest) // DOCS_PER_BATCH):
        part = rest[i * DOCS_PER_BATCH:(i + 1) * DOCS_PER_BATCH]
        pq.write_table(docs.take(part), f"{work}/docs/batches/b{i:05d}.parquet")
    return {}


# ---------------------------------------------------------------- checks

def check_replicate(inp, res, work):
    """Per-batch forwarded rows and metrics rows, the final checkpoint rows.
    Returns (checked units, failed units, records forwarded in the untraced
    windows, status)."""
    table, inactive = inp["table"], inp["inactive"]
    x = res["extra"]
    main = x["order"]  # position = streaming batchId
    streams = table.column("streamName").to_numpy(zero_copy_only=False)
    seq0 = int(table.column("sequenceNumber")[0].as_py())
    active = streams != inactive

    def expected(batch):
        sl = slice(batch * BATCH_RECORDS, (batch + 1) * BATCH_RECORDS)
        s, a = streams[sl], active[sl]
        names, counts = np.unique(s[a], return_counts=True)
        return dict(zip(names.tolist(), counts.tolist()))

    tgt = ds.dataset(f"{work}/out/target", format="parquet", partitioning="hive") \
        .to_table(columns=["sequenceNumber", "streamName", "cdc_key"])
    got_seq = pc.cast(tgt.column("sequenceNumber"), pa.int64()).to_numpy() - seq0
    got_stream = tgt.column("streamName").to_numpy(zero_copy_only=False).astype(str)
    want_rows = np.sort(np.concatenate([
        np.arange(b * BATCH_RECORDS, (b + 1) * BATCH_RECORDS)[
            active[b * BATCH_RECORDS:(b + 1) * BATCH_RECORDS]] for b in main]))
    order = np.argsort(got_seq)
    rows_ok = (len(got_seq) == len(want_rows) and np.array_equal(got_seq[order], want_rows)
               and np.array_equal(got_stream[order], streams[want_rows]))
    keys = pc.cast(tgt.column("cdc_key"), pa.int64()).to_numpy()[order]
    rows_ok = rows_ok and np.array_equal(keys, inp["keys"][want_rows])

    met = ds.dataset(f"{work}/out/metrics", format="parquet").to_table(
        columns=["streamName", "batchSize", "batchId"]).to_pylist()
    per_batch = {}
    for r in met:
        per_batch.setdefault(r["batchId"], {})[r["streamName"]] = r["batchSize"]
    metrics_ok = sum(r["batchSize"] for r in met) == len(want_rows)

    ckpt = ds.dataset(f"{work}/out/checkpoint", format="parquet", partitioning="hive") \
        .to_table().to_pylist()
    got_ckpt = {r["streamName"]: r["lastReplicatedCommitTimestamp"] for r in ckpt}
    commit_str = inp["commit_str"]
    want_ckpt = {}
    for row in want_rows:  # ascending sequence: the last one per stream wins
        want_ckpt[streams[row]] = row
    want_ckpt = {s: commit_str[int(r)].as_py() for s, r in want_ckpt.items()}
    ckpt_ok = got_ckpt == want_ckpt and inactive not in got_ckpt

    failed, forwarded, checked = 0, 0, 0
    for pos, b in enumerate(main):
        if b not in x["timed"] and b not in x["traced"]:
            continue
        want = expected(b)
        checked += 1
        if b in x["timed"]:
            forwarded += sum(want.values())
        if not (rows_ok and metrics_ok and ckpt_ok and per_batch.get(pos) == want):
            failed += 1
    status = {"rows": bool(rows_ok), "metrics": bool(metrics_ok), "checkpoint": bool(ckpt_ok),
              "inactive_stream": inactive, "forwarded_total": int(len(want_rows))}
    return checked, failed, forwarded, status


def norm(v):
    """Value normalisation of tools/check_oracle.py."""
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else f"{v!r}"
    return repr(v)


def check_query_mix(res, work):
    """DuckDB oracle fingerprints vs the Spark results of the cold pass,
    with the comparison rules of tools/check_oracle.py."""
    import duckdb
    oracle = json.load(open(f"{work}/oracle_sql.json"))
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in ["region", "nation", "customer", "supplier", "part", "orders", "lineitem",
              "events", "documents", "embeddings"]:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{work}/data/{t}.parquet'")
    bad = {}
    for name in sorted(set(res["extra"]["queries"])):
        if name in res["extra"]["cold_failed"]:
            bad[name] = "spark query failed"
            continue
        if name not in oracle:
            bad[name] = "no oracle SQL"
            continue
        try:
            want = con.execute(oracle[name]).fetch_arrow_table()
            got = con.execute(f"SELECT * FROM '{work}/dump/{name}/*.parquet'").fetch_arrow_table()
        except Exception as e:  # noqa: BLE001 - any error fails the query
            bad[name] = f"error: {e}"[:200]
            continue
        wcols, gcols = sorted(want.column_names), sorted(got.column_names)
        if wcols != gcols:
            bad[name] = f"columns differ: {wcols} vs {gcols}"
        elif want.num_rows != got.num_rows:
            bad[name] = f"rows differ: {want.num_rows} vs {got.num_rows}"
        else:
            wrows = [tuple(norm(r[c]) for c in wcols) for r in want.to_pylist()]
            grows = [tuple(norm(r[c]) for c in gcols) for r in got.to_pylist()]
            if wrows != grows:
                bad[name] = "values differ" + (" (order only)" if sorted(wrows) == sorted(grows) else "")
    units = list(zip(res["extra"]["queries"], res["extra"]["unit_ok"]))
    failed = sum(1 for n, ok in units if not ok or n in bad)
    return len(units), failed, {"oracle_failures": bad, "queries_checked": len(set(res["extra"]["queries"]))}


# ---------------------------------------------------------------- run

def tail(latencies):
    """The highest of p99/p95/p90/p75/p50 with >= 10 samples beyond it
    (the maximum when there are fewer than 20 samples)."""
    xs, n = sorted(latencies), len(latencies)
    for p in (99, 95, 90, 75, 50):
        if n * (100 - p) / 100 >= 10:
            return xs[max(0, math.ceil(p / 100 * n) - 1)], p
    return xs[-1], 100


def head_commit():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                              text=True, timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def java_bin():
    home = os.environ.get("JAVA_HOME")
    return os.path.join(home, "bin", "java") if home else "java"


def run_jvm(cp, args, work):
    os.makedirs(f"{work}/tmp")
    cmd = [java_bin()] + JVM_OPTS + ["-Xshare:on", f"-XX:SharedArchiveFile={CDS_ARCHIVE}",
                                     f"-Djava.io.tmpdir={work}/tmp", "-cp", cp,
                                     "perfbench.Main"] + args
    launch_ms = time.time() * 1000
    with open(f"{work}/jvm.log", "w") as logf:
        p = subprocess.Popen(cmd, cwd=work, stdout=logf, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            rc = p.wait(timeout=RUN_LIMIT_S)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            rc = "timeout"
    return rc, launch_ms


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        raise SystemExit("perfbench: no program sources next to perfbench/ (need ../build.sbt "
                         "and ../src/main/scala)")
    cp = build()
    cpus = len(os.sched_getaffinity(0))
    work = os.path.join(BUILD, "work", f"{a.workload}-s{a.seed}-t{a.trace}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    traces = os.path.join(BUILD, "traces")
    os.makedirs(traces, exist_ok=True)
    # one independent stream per workload, fixed by the seed
    rng = np.random.default_rng([a.seed, WORKLOADS.index(a.workload)])
    t0 = time.time()
    if a.workload == "replicate":
        inp = gen_replicate(rng, work, a.trace, a.seconds)
    elif a.workload == "query-mix":
        inp = gen_query_mix(rng, work)
    else:
        inp = gen_dupgraph(rng, work, a.seconds)
    gen_s = time.time() - t0
    spans_out = os.path.join(traces, f"{a.workload}-s{a.seed}.jsonl")
    rc, launch_ms = run_jvm(cp, [
        "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--trace", str(a.trace), "--cpus", str(cpus), "--work", work,
        "--out", f"{work}/result.json", "--spans", spans_out], work)
    if rc != 0 or not os.path.exists(f"{work}/result.json"):
        sys.stderr.write(open(f"{work}/jvm.log").read()[-6000:])
        log(f"JVM exit {rc}")
        print(json.dumps({"correct": False, "attempted": 1, "failed": 1, "metrics": {}}))
        return 1
    res = json.load(open(f"{work}/result.json"))

    units = int(res["units"])  # in the untraced windows
    if a.workload == "replicate":
        attempted, failed, work_done, status = check_replicate(inp, res, work)
        unit_name = "records"
    elif a.workload == "query-mix":
        attempted, failed, status = check_query_mix(res, work)
        work_done, unit_name = units, "queries"
    else:
        x = res["extra"]
        attempted, failed = int(x["checked_units"]), int(res["failed_units"])
        work_done = units * x["docs_per_batch"]
        unit_name = "documents"
        status = {k: x[k] for k in ("edges_incremental", "edges_reference", "only_incremental",
                                    "only_reference", "batches_ingested", "compactions", "base_build_s",
                                    "cold_batch_s", "state_files")}
    lat = res["latencies_s"]
    tail_v, tail_p = tail(lat)
    e2e = {
        "setup_s": gen_s + (res["setup_end_ms"] - launch_ms) / 1000 - res["sentinel_s"][0],
        "throughput_per_s": work_done / res["timed_s"],
        # the lower median is always one observed unit: with an even count
        # of distinct queries a mean of the middle two would straddle the
        # gap between two queries' times
        "latency_s_p50": statistics.median_low(lat),
        "latency_s_tail": tail_v,
        "ok_ratio": 1 - failed / attempted,
    }
    meta = {"workload": a.workload, "seed": a.seed, "cpus": cpus, "head": head_commit(),
            "source_digest": source_digest()[:16], "heap_max_mb": res["heap_max_mb"],
            "sentinel_pre_s": res["sentinel_s"][0], "sentinel_post_s": res["sentinel_s"][1],
            "setup_parts_s": {"inputs": gen_s,
                              "jvm": (res["main_ms"] - launch_ms) / 1000,
                              "session": (res["session_ms"] - res["main_ms"]) / 1000,
                              "warmup": (res["setup_end_ms"] - res["session_ms"]) / 1000
                              - res["sentinel_s"][0]},
            "units": units, "unit": unit_name, "timed_s": res["timed_s"],
            "tail_percentile": tail_p, "latencies_s": lat, "failed_ratio": failed / attempted,
            "check": status}
    print(json.dumps({"run": meta}))
    for k in END_TO_END:
        extra = f" (p{tail_p}, n={len(lat)})" if k == "latency_s_tail" else f" (n={len(lat)})" \
            if k == "latency_s_p50" else ""
        print(f"{a.workload:16s} {k:18s} {e2e[k]:12.4f} {UNITS[k]}{extra}")
    print(f"{a.workload:16s} failed_ratio       {failed / attempted:12.4f} ({failed}/{attempted}), "
          f"check {'pass' if failed == 0 else 'FAIL'}")
    if a.trace:
        layer = res["layer"]
        metrics = {n: {"value": float(layer.get(n, 0.0)), "unit": u}
                   for n, u in per_layer_units().items()}
        print(json.dumps({"traced_e2e": e2e, "spans": spans_out}))
    else:
        metrics = {k: {"value": e2e[k], "unit": UNITS[k]} for k in END_TO_END}
    bad = [n for n, m in metrics.items() if not math.isfinite(m["value"])]
    if bad:
        log(f"metrics without a finite value: {bad}")
        return 1
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    shutil.rmtree(work, ignore_errors=True)
    return 0


def per_layer_units():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)["per_layer"]}


if __name__ == "__main__":
    sys.exit(main())
