#!/usr/bin/env python3
"""Benchmark of the shipped data plane and the curation stores.

Usage (from the repository root):
    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the program and the benchmark from source on first use (sbt, offline),
runs one workload in a fresh JVM, checks its outputs, and prints a report
followed by one JSON line: {"correct", "attempted", "failed", "metrics"}.
With --trace 0 the metrics are the end-to-end metrics of BENCHMARK.json, with
--trace 1 its per-layer metrics. Exits non-zero when any check fails.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("route_batch", "route_stream", "curate")
DEADLINE_S = 170
JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


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
    """Compile program + benchmark with sbt unless the classpath is fresh."""
    cp_file = os.path.join(HERE, "target", "classpath.txt")
    sources = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "src", "main"),
               os.path.join(ROOT, "project", "build.properties"),
               os.path.join(HERE, "build.sbt"), os.path.join(HERE, "src", "main"),
               os.path.join(HERE, "project", "build.properties")]
    if os.path.exists(cp_file) and os.path.getmtime(cp_file) >= newest_mtime(sources):
        return open(cp_file).read().strip()
    if os.path.exists(ARCHIVE):
        os.remove(ARCHIVE)
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g", "-Dsbt.server.forcestart=false"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    log("building program and benchmark (sbt compile)")
    t0 = time.time()
    r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true",
                        "compile", "writeClasspath"],
                       cwd=HERE, env=env, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0 or not os.path.exists(cp_file):
        raise SystemExit(f"build failed (sbt exit {r.returncode})")
    log(f"built in {time.time() - t0:.0f} s")
    return open(cp_file).read().strip()


ARCHIVE = os.path.join(HERE, "target", "perfbench.jsa")


def jvm(cp, work, main_args, budget_s, cds):
    """Run perfbench.Main in a fresh JVM with a fixed heap limit. `cds` is
    the class-data sharing flag: use the archive, or write it at exit."""
    java = shutil.which("java") or "java"
    cmd = [java, "-Xms256m", "-Xmx2g", "-XX:+UseParallelGC",
           "-XX:-UsePerfData", cds,
           f"-Djava.io.tmpdir={work}/tmp", "-Dspark.ui.enabled=false"]
    for p in JVM_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main"] + main_args
    proc = subprocess.Popen(cmd, cwd=work, stdout=sys.stderr, stderr=sys.stderr,
                            start_new_session=True)
    try:
        return proc.wait(timeout=budget_s)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise SystemExit(f"perfbench.Main {' '.join(main_args[:2])} did not finish"
                         f" within {budget_s:.0f} s")


def ensure_archive(cp):
    """Write the class-data-sharing archive once per build: one short pass
    of every workload, so later runs load their classes from it."""
    if os.path.exists(ARCHIVE):
        return
    work = os.path.join(HERE, "work", "classload")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    log("writing the class-data-sharing archive")
    t0 = time.time()
    jvm(cp, work, ["--classload", work], 600, f"-XX:ArchiveClassesAtExit={ARCHIVE}")
    shutil.rmtree(work, ignore_errors=True)
    log(f"archive written in {time.time() - t0:.0f} s")


def table_digest(cols, rows):
    """Row count and the repository oracle's order-independent hash
    (tools/check_oracle.py), columns sorted by name."""
    sys.path.insert(0, os.path.join(ROOT, "tools"))
    from check_oracle import table_hash
    return len(rows), table_hash(cols, rows)


def jaccard_matrix(texts):
    """Exact Jaccard of every pair of texts over distinct character 5-grams
    of the normalized text (the shingling of the repository's minhash
    oracle SQL), by one matrix product. Returns (jaccard, shingle counts)."""
    import re
    import numpy as np
    vocab, grams = {}, []
    for t in texts:
        n = re.sub(r"\s+", " ", t.lower().strip())
        grams.append({vocab.setdefault(n[i:i + 5], len(vocab))
                      for i in range(len(n) - 4)})
    m = np.zeros((len(texts), max(len(vocab), 1)), dtype=np.float32)
    for r, g in enumerate(grams):
        m[r, list(g)] = 1.0
    inter = (m @ m.T).astype(np.float64)
    sizes = m.sum(axis=1).astype(np.float64)
    union = sizes[:, None] + sizes[None, :] - inter
    with np.errstate(divide="ignore", invalid="ignore"):
        return np.where(union == 0, 0.0, inter / union), sizes


def jaccard_pairs(corpus, threshold):
    """The pairs of the minhash oracle SQL: id_a < id_b, shingle counts
    within a factor 0.4, exact Jaccard at or above `threshold`. Returns
    (columns, rows) with jaccard rounded half-up to 6 places."""
    from decimal import Decimal, ROUND_HALF_UP
    import numpy as np
    import pyarrow.parquet as pq
    docs = pq.read_table(os.path.join(corpus, "documents.parquet"),
                         columns=["doc_id", "text"]).to_pylist()
    docs = [d for d in docs if d["text"] is not None]
    j, sizes = jaccard_matrix([d["text"] for d in docs])
    ids = np.array([d["doc_id"] for d in docs], dtype=np.int64)
    na, nb = sizes[:, None], sizes[None, :]
    keep = ((ids[:, None] < ids[None, :])
            & (np.minimum(na, nb) >= 0.4 * np.maximum(na, nb))
            & (j >= threshold))
    rows = []
    for a, b in zip(*np.nonzero(keep)):
        q = Decimal(repr(float(j[a, b]))).quantize(Decimal("0.000001"), ROUND_HALF_UP)
        rows.append((int(ids[a]), int(ids[b]), float(q)))
    return ["id_a", "id_b", "jaccard"], rows


# queries whose DuckDB oracle is too slow for a run: the same contract,
# computed directly
DIRECT_ORACLES = {
    "dedup_minhash": lambda corpus: jaccard_pairs(corpus, 0.4),
    "dedup_jaccard_prefix": lambda corpus: jaccard_pairs(corpus, 0.7),
}


def oracle_check(work):
    """Compare each checked query result with its oracle over the same
    generated corpus: columns, row count and hash must be equal. Returns
    the failure messages."""
    import duckdb
    odir = os.path.join(work, "oracle")
    sqls = json.load(open(os.path.join(odir, "oracle_sql.json")))
    con = duckdb.connect()
    con.execute("PRAGMA threads=2")
    corpus = os.path.join(work, "corpus")
    for t in ("documents", "lineitem"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{corpus}/{t}.parquet/*.parquet')")
    failures = []
    for name, sql in sorted(sqls.items()):
        try:
            if name in DIRECT_ORACLES:
                ocols, orows = DIRECT_ORACLES[name](corpus)
            else:
                cur = con.execute(sql)
                ocols, orows = [d[0] for d in cur.description], cur.fetchall()
            cur = con.execute(f"SELECT * FROM read_parquet('{odir}/{name}/*.parquet')")
            scols = [d[0] for d in cur.description]
            srows = cur.fetchall()
            if sorted(ocols) != sorted(scols):
                failures.append(f"{name}: columns {sorted(scols)} but oracle {sorted(ocols)}")
            elif table_digest(scols, srows) != table_digest(ocols, orows):
                failures.append(f"{name}: rows/hash {table_digest(scols, srows)}"
                                f" but oracle {table_digest(ocols, orows)}")
        except Exception as e:  # a missing result is a failure too
            failures.append(f"{name}: oracle check failed: {str(e).splitlines()[0][:200]}")
    return failures


def select_metrics(spec, measured, trace):
    """The metrics BENCHMARK.json names for this mode. A missing end-to-end
    metric is a failure; a per-layer metric the workload does not exercise
    reads 0."""
    wanted = spec["per_layer"] if trace else spec["end_to_end"]
    out, missing = {}, []
    for m in wanted:
        got = measured.get(m["name"])
        if got is None or got.get("value") is None:
            if not trace:
                missing.append(m["name"])
                continue
            got = {"value": 0, "unit": m["unit"]}
        out[m["name"]] = {"value": got["value"], "unit": m["unit"]}
    return out, missing


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        raise SystemExit("program sources not found next to the benchmark")
    spec = json.load(open(spec_path))

    cp = build()
    ensure_archive(cp)
    t0 = time.time()
    work = os.path.join(HERE, "work", args.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    out = os.path.join(work, "result.json")
    code = jvm(cp, work, ["--workload", args.workload, "--seed", str(args.seed),
                          "--seconds", str(args.seconds), "--trace", str(args.trace),
                          "--work", work, "--out", out],
               DEADLINE_S - 10, f"-XX:SharedArchiveFile={ARCHIVE}")
    if not os.path.exists(out):
        raise SystemExit(f"{args.workload}: JVM exited {code} without a result")
    res = json.load(open(out))
    failures = list(res["failures"])
    failed = res["failed"]
    if code != 0:
        failures.append(f"JVM exited {code}")
    if args.workload == "curate" and os.path.exists(
            os.path.join(work, "oracle", "oracle_sql.json")):
        bad = oracle_check(work)
        failures += bad
        failed += len(bad)

    metrics, missing = select_metrics(spec, res["metrics"], args.trace)
    failures += [f"metric {m} was not measured" for m in missing]
    correct = not failures and failed == 0 and code == 0

    for line in res["report"]:
        print(f"{args.workload}: {line}")
    print(f"{args.workload}: failed_ratio = {failed}/{res['attempted']}"
          f" = {failed / max(res['attempted'], 1):.4f}")
    for f in failures:
        print(f"{args.workload}: FAILED {f}")
    if args.trace:
        print(f"{args.workload}: spans written to "
              f"{os.path.relpath(os.path.join(work, 'spans.jsonl'), ROOT)}")
    print(f"{args.workload}: run took {time.time() - t0:.1f} s")
    print(json.dumps({"correct": correct, "attempted": res["attempted"],
                      "failed": failed, "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
