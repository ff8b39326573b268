#!/usr/bin/env python3
"""Benchmark of the graft engine: one seeded workload, one run.

    python3 perfbench/run.py --workload mr_wordcount --seed 1 --seconds 10 --trace 0

Workloads: mr_wordcount, curation_batch, index_mix (see perfbench/README.md).
Builds the engine and the harness from source with sbt on first use
(perfbench/build.sbt), then runs the harness JVM on local[nproc]. With
--trace 0 the last stdout line carries the end-to-end metrics, with
--trace 1 the per-layer metrics of the traced run. Every result is
checked outside the timer; a wrong result makes `correct` false and the
exit code 1. Full records are kept in perfbench/.work/records/ for
perfbench/compare.py.
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
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
WORK = os.path.join(HERE, ".work")
BUILD_LOG = os.path.join(WORK, "build.log")
CLASSPATH = os.path.join(HERE, "target", "runtime-classpath.txt")
# class-data archive of the classes a run loads: cuts each run's cold JVM
# and Spark start by several seconds; made once per build
ARCHIVE = os.path.join(HERE, "target", "perfbench.jsa")
STAMP = os.path.join(WORK, "build.stamp")
WORKLOADS = ("mr_wordcount", "curation_batch", "index_mix")
RUN_TIMEOUT_S = 170
HEAP = "3g"

# the JDK 17 module openings Spark needs outside spark-submit (the same
# list as the engine's build.sbt)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def die(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def spark_home():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        die("no Spark install: set SPARK_HOME")
    return home


def source_hash():
    h = hashlib.sha256()
    for top in (ENGINE_SRC, os.path.join(HERE, "src")):
        for d, _, files in sorted(os.walk(top)):
            for f in sorted(files):
                p = os.path.join(d, f)
                h.update(os.path.relpath(p, ROOT).encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    for f in ("build.sbt", os.path.join("project", "build.properties")):
        with open(os.path.join(HERE, f), "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build(env):
    """Compile engine + harness with sbt unless the sources are unchanged."""
    digest = source_hash()
    if os.path.exists(CLASSPATH) and os.path.exists(STAMP):
        with open(STAMP) as fh:
            if fh.read().strip() == digest:
                return digest
    # sbt's scratch files stay in the checkout too
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    sbt_env = dict(env, SBT_OPTS=f"{env.get('SBT_OPTS', '')} -Djava.io.tmpdir={tmp} "
                                 "-XX:-UsePerfData")
    with open(BUILD_LOG, "w") as log:
        rc = subprocess.call(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "writeClasspath"],
            cwd=HERE, env=sbt_env, stdout=log, stderr=subprocess.STDOUT,
            stdin=subprocess.DEVNULL, timeout=840)
    if rc != 0 or not os.path.exists(CLASSPATH):
        with open(BUILD_LOG) as fh:
            sys.stderr.write("".join(fh.readlines()[-40:]))
        die("build failed")
    # a short index_mix run that loads what the workloads load; without
    # the archive runs are only slower to start
    if os.path.exists(ARCHIVE):
        os.remove(ARCHIVE)
    work = os.path.join(WORK, "runs", f"archive-{os.getpid()}")
    try:
        harness(["--workload", "index_mix", "--seed", "0", "--seconds", "1",
                 "--trace", "0", "--setups", "1"], work, env,
                [f"-XX:ArchiveClassesAtExit={ARCHIVE}"])
    finally:
        shutil.rmtree(work, ignore_errors=True)
    with open(STAMP, "w") as fh:
        fh.write(digest)
    return digest


def cores():
    return len(os.sched_getaffinity(0)) if hasattr(os, "sched_getaffinity") \
        else os.cpu_count()


def harness(args, work, env, jvm_opts=()):
    """Run the harness JVM with fresh directories under `work`; returns
    its exit code, or "timeout"."""
    for d in ("tmp", "spark-local"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    env = dict(env, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
               SPARK_GRAFT_CPUS=str(cores()))
    with open(CLASSPATH) as fh:
        classpath = fh.read().strip()
    java = os.path.join(env["JAVA_HOME"], "bin", "java") if env.get("JAVA_HOME") else "java"
    cmd = [java, f"-Xmx{HEAP}", f"-Djava.io.tmpdir={work}/tmp", "-XX:-UsePerfData",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC", *jvm_opts]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "perfbench.Main", "--cores", str(cores()),
            "--work", work, "--inputs", os.path.join(WORK, "inputs"),
            "--out", os.path.join(work, "record.json"), *args]
    with open(os.path.join(work, "jvm.log"), "w") as log:
        proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=log,
                                stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)
        try:
            return proc.wait(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            return "timeout"
        finally:  # also on SIGTERM: never leave the JVM behind
            if proc.poll() is None:
                proc.kill()
                proc.wait()


def git_commit():
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                             capture_output=True, text=True, timeout=10)
        return out.stdout.strip() or None if out.returncode == 0 else None
    except OSError:
        return None


def prune_inputs(inputs, keep=6):
    """Inputs are cached per seed; keep only the most recent few."""
    if not os.path.isdir(inputs):
        return
    entries = sorted((os.path.join(inputs, e) for e in os.listdir(inputs)),
                     key=os.path.getmtime, reverse=True)
    for e in entries[keep:]:
        shutil.rmtree(e, ignore_errors=True)


def canon(df):
    """Sort columns by name and rows on the non-float columns (floats
    may differ in the last digits between engines)."""
    df = df[sorted(df.columns)]
    keys = [c for c in df.columns if df[c].dtype.kind != "f"]
    if not keys:
        for c in list(df.columns):
            df["_sk_" + c] = df[c].round(6)
        keys = [c for c in df.columns if c.startswith("_sk_")]
    df = df.sort_values(by=keys, kind="mergesort").reset_index(drop=True)
    return df[[c for c in df.columns if not c.startswith("_sk_")]]


def frame_diff(want, got):
    want, got = canon(want), canon(got)
    if list(want.columns) != list(got.columns):
        return f"columns {list(got.columns)} != {list(want.columns)}"
    if len(want) != len(got):
        return f"{len(got)} rows != {len(want)}"
    for c in want.columns:
        w, g = want[c], got[c]
        if w.dtype.kind == "f" or g.dtype.kind == "f":
            bad = ~((w.isna() & g.isna()) |
                    ((w.astype(float) - g.astype(float)).abs() < 1e-9))
        else:
            bad = ~((w.isna() & g.isna()) | (w.astype(str) == g.astype(str)))
        if bad.any():
            i = bad.idxmax()
            return f"column {c} row {i}: {g[i]!r} != {w[i]!r}"
    return None


def check_curation(record, work, inputs, cores):
    """Each row's first-pass result against SparkEntry.oracleSql run in
    DuckDB over the same corpus; the oracle result is cached per corpus."""
    import duckdb
    c = record["corpus"]
    corpus = os.path.join(inputs, f"corpus-s{record['seed']}-{c['documents']}-"
                                  f"{c['embeddings']}-{c['customer']}")
    results = os.path.join(work, "curation-results")
    with open(os.path.join(results, "oracle_sql.json")) as fh:
        oracle = json.load(fh)
    cache = os.path.join(corpus, "oracle")
    os.makedirs(cache, exist_ok=True)
    con = duckdb.connect()
    con.execute(f"SET threads TO {cores}")
    con.execute("SET TimeZone = 'UTC'")
    for t in ("documents", "embeddings", "customer"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{corpus}/{t}.parquet/*.parquet')")
    failed, notes = 0, []
    for name, sql in sorted(oracle.items()):
        cached = os.path.join(cache, f"{name}.parquet")
        try:
            if not os.path.exists(cached):
                con.execute(f"COPY ({sql}) TO '{cached}.tmp' (FORMAT PARQUET)")
                os.replace(cached + ".tmp", cached)
            want = con.execute(f"SELECT * FROM read_parquet('{cached}')").fetchdf()
            got = con.execute(f"SELECT * FROM read_parquet('{results}/{name}/*.parquet')").fetchdf()
            why = frame_diff(want, got)
        except Exception as e:  # an oracle that cannot run is a failed check
            why = f"{type(e).__name__}: {str(e)[:200]}"
        if why:
            failed += record["row_runs"].get(name, 1)
            notes.append(f"{name}: {why}")
    return failed, notes


def main():
    # a terminated run still cleans up: its JVM and its directories
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    if not os.path.isfile(os.path.join(ENGINE_SRC, "graft", "SparkEntry.scala")):
        die("the engine sources (src/main/scala) are not next to perfbench/")
    os.makedirs(WORK, exist_ok=True)
    env = dict(os.environ)
    env["SPARK_HOME"] = spark_home()
    digest = build(env)

    stamp = f"{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}-{int(time.time() * 1000)}"
    work = os.path.join(WORK, "runs", stamp)
    records = os.path.join(WORK, "records")
    os.makedirs(records, exist_ok=True)
    prune_inputs(os.path.join(WORK, "inputs"))
    try:
        rc = harness(["--workload", a.workload, "--seed", str(a.seed),
                      "--seconds", str(a.seconds), "--trace", str(a.trace)],
                     work, env,
                     [f"-XX:SharedArchiveFile={ARCHIVE}"] if os.path.exists(ARCHIVE) else [])
        out = os.path.join(work, "record.json")
        if rc != 0 or not os.path.exists(out):
            with open(os.path.join(work, "jvm.log")) as fh:
                sys.stderr.write("".join(fh.readlines()[-40:]))
            die(f"harness exited {rc}", 1)
        with open(out) as fh:
            record = json.load(fh)
        failed = record["failed"]
        notes = list(record.get("failures", []))
        if a.workload == "curation_batch":
            f2, n2 = check_curation(record, work, os.path.join(WORK, "inputs"), cores())
            failed = min(record["attempted"], failed + f2)
            notes += n2
    finally:
        shutil.rmtree(work, ignore_errors=True)

    attempted = record["attempted"]
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        declared = json.load(fh)
    record.update(failed=failed, failures=notes, source_sha256=digest,
                  git_commit=git_commit(), corpus_seed=a.seed)
    record["workload_metrics"]["fail_ratio"]["value"] = failed / max(1, attempted)
    correct = failed == 0 and (not a.trace or record["reconcile"]["ok"])
    record["correct"] = correct
    with open(os.path.join(records, stamp + ".json"), "w") as fh:
        json.dump(record, fh)

    for n in notes[:10]:
        print(f"FAIL {n}", file=sys.stderr)
    if a.trace:
        for e in record["reconcile"]["errors"][:10]:
            print(f"RECONCILE {e}", file=sys.stderr)
        metrics = {m["name"]: {"value": record["per_layer"].get(m["name"], 0.0),
                               "unit": m["unit"]} for m in declared["per_layer"]}
        print(f"trace overhead ({a.workload}): traced/untraced median latency = "
              f"{record['per_layer']['trace.overhead_ratio']:.4f}")
    else:
        metrics = {m["name"]: record["end_to_end"][m["name"]]
                   for m in declared["end_to_end"]}
        for k, m in record["workload_metrics"].items():
            print(f"{a.workload} {k} = {m['value']:.6g} {m['unit']}")
        print(f"tail = p{record['tail_percentile']} "
              f"({record['tail_samples_beyond']} samples beyond, "
              f"{record['primary_samples']} total)")
    print(json.dumps({"correct": correct, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
