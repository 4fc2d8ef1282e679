#!/usr/bin/env python3
"""Seeded benchmark of the graft engine: one workload, one JVM, one client
thread, at local[<cores of this machine>].

Usage (from the root of the repository):
    python3 perfbench/run.py --workload lab_queries --seed 1 --seconds 10 --trace 0

Steps: compile the engine and the benchmark harness from source (cached in
$CARGO_TARGET_DIR, default .bench_build), generate the seeded inputs, start
the harness JVM (session start, untimed warm-up pass, timed passes), check
every op's output, and print one JSON line with the metrics. `--trace 1`
reports the per-layer metrics instead of the end-to-end ones. Each run also
writes a full artifact to .bench_work/artifacts/ for perfbench/diff.py.
See perfbench/README.md for the workloads and metrics.
"""
import argparse
import glob
import hashlib
import json
import os
import re
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import gen  # noqa: E402
import stats  # noqa: E402

# rows_scale: row counts relative to the sf0.1 reference data; limit_s:
# the most one run may take. The two workloads in BENCHMARK.json must end
# within 180 s; neardup_graph and corpus_maintenance need minutes.
WORKLOADS = {
    "lab_queries": {"rows_scale": 0.1, "limit_s": 170},
    "neardup_graph": {"rows_scale": 0.1, "limit_s": 900},
    "corpus_maintenance": {"rows_scale": 0.1, "limit_s": 900},
    "lab_known_defects": {"rows_scale": 0.1, "limit_s": 170},
    "stream_ingest": {"rows_scale": 1.0, "limit_s": 170,
                      "tables": ["documents", "embeddings"]},
}
JVM_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def has_compiler(home):
    return bool(glob.glob(os.path.join(home, "jars", "scala-compiler-*.jar")))


def spark_home():
    """$SPARK_HOME, else the first Spark install on PATH (a bin directory
    holding spark-submit) whose jars include the Scala compiler."""
    if os.environ.get("SPARK_HOME"):
        return os.environ["SPARK_HOME"]
    for d in os.environ.get("PATH", "").split(os.pathsep):
        home = os.path.dirname(os.path.abspath(d))
        if os.path.exists(os.path.join(d, "spark-submit")) and has_compiler(home):
            return home
    return None


def spark_jars():
    home = spark_home()
    if not home or not has_compiler(home):
        fail("no Spark install with a Scala compiler found; set SPARK_HOME")
    return os.path.join(home, "jars")


def scalac(jars, classpath, out_dir, sources):
    """Compiles `sources` with the Scala compiler that ships with Spark."""
    shutil.rmtree(out_dir, ignore_errors=True)
    os.makedirs(out_dir)
    compiler = ":".join(glob.glob(os.path.join(jars, f"scala-{m}-*.jar"))[0]
                        for m in ("compiler", "library", "reflect"))
    argfile = out_dir + ".args"
    with open(argfile, "w") as f:
        f.write("\n".join(sources))
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx1536m", "-cp", compiler,
           "scala.tools.nsc.Main", "-nowarn", "-usejavacp",
           "-classpath", classpath, "-d", out_dir, "@" + argfile]
    r = subprocess.run(cmd, capture_output=True, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout + r.stderr)
        fail(f"compilation into {out_dir} failed")


def build(root, build_dir, jars):
    """Compiles the engine and the harness unless the sources are
    unchanged since the last build in `build_dir`."""
    engine = sorted(glob.glob(os.path.join(root, "src/main/scala/**/*.scala"),
                              recursive=True))
    harness = sorted(glob.glob(os.path.join(HERE, "src/**/*.scala"),
                               recursive=True))
    if not engine:
        fail("no engine sources under src/main/scala; run from the "
             "root of the repository")
    h = hashlib.sha256()
    for path in engine + harness:
        h.update(os.path.relpath(path, root).encode())
        with open(path, "rb") as f:
            h.update(f.read())
    stamp = os.path.join(build_dir, "perfbench.stamp")
    classes = os.path.join(build_dir, "perfbench-engine")
    bench = os.path.join(build_dir, "perfbench-harness")
    if os.path.exists(stamp) and open(stamp).read() == h.hexdigest():
        return classes, bench
    os.makedirs(build_dir, exist_ok=True)
    t0 = time.time()
    scalac(jars, f"{jars}/*", classes, engine)
    scalac(jars, f"{classes}:{jars}/*", bench, harness)
    with open(stamp, "w") as f:
        f.write(h.hexdigest())
    print(f"built engine and harness in {time.time() - t0:.1f} s",
          file=sys.stderr)
    return classes, bench


def generate(seed, spec, work):
    """Generates the inputs; returns the data dir, the row counts and the
    generation time."""
    d = os.path.join(work, "data")
    t0 = time.perf_counter()
    rows = gen.write(seed, spec["rows_scale"], d, spec.get("tables"))
    return d, rows, time.perf_counter() - t0


def run_jvm(a, classes, bench, jars, data, work, deadline):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # -UsePerfData: no hsperfdata file in the system temp directory
    cmd = ["java", "-XX:-UsePerfData", "-Xms2g", "-Xmx2g",
           f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
           f"-Dderby.system.home={tmp}"]
    if a.trace:
        cmd.append("-Dspark.callstack.depth=200")
    for p in JVM_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += ["-cp", f"{bench}:{classes}:{jars}/*", "perfbench.PerfBench",
            "--workload", a.workload, "--data", data, "--work", work,
            "--seconds", str(a.seconds), "--trace", str(a.trace)]
    spawn_ms = time.time() * 1e3
    with open(os.path.join(work, "jvm.log"), "w") as log:
        try:
            r = subprocess.run(cmd, stdout=log, stderr=subprocess.STDOUT,
                               cwd=work, timeout=max(10, deadline - time.time()))
        except subprocess.TimeoutExpired:
            fail(f"harness JVM passed the run's time limit; see {work}/jvm.log")
    path = os.path.join(work, "result.json")
    if r.returncode != 0 or not os.path.exists(path):
        tail = open(os.path.join(work, "jvm.log")).read()[-3000:]
        sys.stderr.write(tail)
        fail(f"harness JVM exited with {r.returncode}")
    with open(path) as f:
        res = json.load(f)
    # JVM launch to session ready
    res["session_s"] = (res["session_ready_epoch_ms"] - spawn_ms) / 1e3
    return res


# ---------------------------------------------------------------- checks

def oracle_check(root, data, verify):
    """Runs tools/oracle_check.py; returns {op: ok} for ops it covered."""
    r = subprocess.run([sys.executable, os.path.join(root, "tools/oracle_check.py"),
                        data, verify], capture_output=True, text=True)
    verdict = {}
    for line in r.stdout.splitlines():
        m = re.match(r"^(OK|FAIL)\s+(\S+?):", line)
        if m:
            ok = m.group(1) == "OK"
            verdict[m.group(2)] = verdict.get(m.group(2), True) and ok
            if not ok:
                print(line, file=sys.stderr)
    return verdict


def parquet_rows(path):
    import pyarrow.parquet as pq
    return sum(pq.ParquetFile(f).metadata.num_rows
               for f in glob.glob(os.path.join(path, "*.parquet")))


def check_batch(root, res, data, rows, work):
    """Per-op correctness of the warm-up pass outputs."""
    verify = os.path.join(work, "verify")
    with open(os.path.join(verify, "oracle_sql.json")) as f:
        oracle = json.load(f)
    verdict = oracle_check(root, data, verify) if oracle else {}
    n_li = rows.get("lineitem", 0)
    ok = {}
    for op in res["ops"]:
        if op in res["warmup_errors"]:
            ok[op] = False
            print(f"FAIL {op}: {res['warmup_errors'][op]}", file=sys.stderr)
        elif op in oracle:
            ok[op] = verdict.get(op, False)
        elif op.startswith("q18_"):
            # a 10% Bernoulli sample: within six standard deviations
            got = parquet_rows(os.path.join(verify, op))
            ok[op] = abs(got - 0.1 * n_li) <= 6 * (n_li * 0.09) ** 0.5
        elif op.startswith("q36_"):
            ok[op] = parquet_rows(os.path.join(verify, op)) == 1
        else:
            ok[op] = False
            print(f"FAIL {op}: no oracle to check it against", file=sys.stderr)
    return ok


def fingerprint(text):
    """The engine's exact-dedup key: md5 of the lower-cased, space-trimmed
    text with whitespace runs collapsed."""
    norm = re.sub(r"[ \t\n\x0b\f\r]+", " ", text.strip(" ").lower())
    return hashlib.md5(norm.encode()).hexdigest()


def expected_stream(docs, n_batches, batch_docs):
    """One-batch exact dedup of the documents in arrival order: for each
    fingerprint, the first batch that carries it keeps its lowest doc_id."""
    seen, keep = set(), set()
    for b in range(n_batches):
        first = {}
        for doc_id, text in docs[b * batch_docs:(b + 1) * batch_docs]:
            fp = fingerprint(text)
            if fp not in seen and (fp not in first or doc_id < first[fp]):
                first[fp] = doc_id
        seen.update(first)
        keep.update((b + 1, d) for d in first.values())
    return keep


def check_stream(res, data):
    import pyarrow.parquet as pq
    t = pq.read_table(os.path.join(data, "documents.parquet"),
                      columns=["doc_id", "text"])
    docs = list(zip(t.column("doc_id").to_pylist(), t.column("text").to_pylist()))
    ok = {}
    for run, path in res["outputs"].items():
        n = res["batches"] if run == "open" else res["drain_batches"]
        want = expected_stream(docs, n, res["batch_docs"])
        got = pq.read_table(path, columns=["doc_id", "batch_id"])
        have = set(zip((int(b) for b in got.column("batch_id").to_pylist()),
                       got.column("doc_id").to_pylist()))
        ok[run] = have == want and got.num_rows == len(want)
        if not ok[run]:
            print(f"FAIL stream {run}: {len(have ^ want)} rows differ from "
                  f"the one-batch exact dedup", file=sys.stderr)
    return ok


# --------------------------------------------------------------- metrics

def span_self_times(spans, passes):
    """Per span name: total and self time (total minus the union of its
    children) per pass, in ms."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    table = {}
    for s in spans:
        if s["end_ms"] is None:
            continue
        dur = s["end_ms"] - s["start_ms"]
        covered, hi = 0.0, float("-inf")
        for c in sorted(children.get(s["id"], []), key=lambda c: c["start_ms"]):
            lo, end = max(c["start_ms"], hi, s["start_ms"]), min(c["end_ms"], s["end_ms"])
            if end > lo:
                covered += end - lo
            hi = max(hi, end)
        row = table.setdefault(s["name"], {"count": 0, "total_ms": 0.0, "self_ms": 0.0})
        row["count"] += 1
        row["total_ms"] += dur
        row["self_ms"] += max(0.0, dur - covered)
    for row in table.values():
        for k in ("count", "total_ms", "self_ms"):
            row[k] /= max(1, passes)
    return table


def layer_medians(passes):
    keys = sorted({k for p in passes for k in p if k not in ("pass", "s")})
    return {k: statistics.median(p.get(k, 0.0) for p in passes) for k in keys}


def metrics(a, res, setup, correct_ops, stream_ok):
    samples = res["samples"]
    failed_ops = {op for op, ok in correct_ops.items() if not ok}
    bad = [s for s in samples if s.get("error") or s["op"] in failed_ops
           or (stream_ok is not None and not stream_ok.get("open", False))]
    attempted = len(samples)
    failed = len(bad)
    if stream_ok is not None:
        # the closed-loop drain ran the stream's first batches once more
        attempted += res["drain_batches"]
        if res["drain_errors"] or not stream_ok.get("drain", False):
            failed += res["drain_batches"]
    lat = [s["ms"] for s in samples]
    passes = res["passes"]
    e2e = {
        "setup_s": setup,
        "pass_s": statistics.median(p["s"] for p in passes),
        "op_p50_ms": stats.percentile(lat, 0.5),
        "op_p90_ms": stats.percentile(lat, 0.9),
        "driver_heap_mb": res["driver_heap_mb"],
        "error_rate": failed / attempted,
    }
    if a.workload == "stream_ingest":
        e2e["docs_per_s"] = res["docs_per_s"]
        e2e["gen_lag_ms"] = statistics.mean(s["lag_ms"] for s in samples)
    detail = {"op_latency_ms": stats.summary(lat),
              "pass_s": stats.summary([p["s"] for p in passes])}
    per_op = {}
    for s in samples:
        per_op.setdefault(s["op"], []).append(s)
    ops = {}
    for op, ss in per_op.items():
        row = {"ms": stats.summary([s["ms"] for s in ss]),
               "errors": sum(1 for s in ss if s.get("error")),
               "correct": op not in failed_ops}
        for k in ss[0]:
            if "." in k or k in ("build_ms", "action_ms"):
                row[k] = statistics.median(s.get(k, 0.0) or 0.0 for s in ss)
        ops[op] = row
    layers = {}
    if a.trace:
        layers = layer_medians(passes)
        layers["core.session_start_s"] = res["session_s"]
        for name, ms in res["functions"].items():
            layers[f"functions.{name}_ms"] = ms
        if "build_ms" in samples[0]:
            by_pass = {}
            for s in samples:
                b = by_pass.setdefault(s["pass"], [0.0, 0.0])
                b[0] += (s["build_ms"] or 0.0) / 1e3
                b[1] += (s["action_ms"] or 0.0) / 1e3
            layers["SparkEntry.build_s"] = statistics.median(b[0] for b in by_pass.values())
            layers["spark.action_s"] = statistics.median(b[1] for b in by_pass.values())
        if a.workload == "stream_ingest":
            spans = res["spans"]
            def span_ms(name):
                return [s["end_ms"] - s["start_ms"] for s in spans
                        if s["name"] == name and s["op"].startswith("open/")]
            layers["streaming.ingest_ms"] = statistics.median(span_ms("ingest"))
            layers["streaming.fold_ms"] = statistics.median(span_ms("fold") or [0.0])
            layers["streaming.store_partitions"] = res["store_partitions"]
            layers["streaming.backlog_max"] = res["backlog_max"]
            layers["streaming.gen_lag_ms"] = e2e["gen_lag_ms"]
            layers["streaming.docs_per_s"] = e2e["docs_per_s"]
    return attempted, failed, e2e, detail, ops, layers


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    deadline = time.time() + WORKLOADS[a.workload]["limit_s"]
    root = os.getcwd()
    if not os.path.exists(os.path.join(root, "src/main/scala/graft/SparkEntry.scala")):
        fail("the engine sources (src/main/scala/graft) are not here; run "
             "from the root of the repository")
    if not os.path.exists(os.path.join(root, "tools/oracle_check.py")):
        fail("tools/oracle_check.py is missing; cannot check correctness")
    try:
        with open(os.path.join(root, "BENCHMARK.json")) as f:
            contract = json.load(f)
    except OSError:
        fail("BENCHMARK.json (the metric list) is missing")
    jars = spark_jars()
    build_dir = os.environ.get("CARGO_TARGET_DIR", ".bench_build")
    classes, bench = build(root, os.path.abspath(build_dir), jars)

    spec = WORKLOADS[a.workload]
    base = os.path.join(root, ".bench_work")
    work = os.path.join(base, f"{a.workload}-s{a.seed}-t{a.trace}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    data, rows, gen_s = generate(a.seed, spec, work)
    res = run_jvm(a, classes, bench, jars, data, work, deadline)
    setup = gen_s + res["session_s"] + res["warmup_s"]

    if a.workload == "stream_ingest":
        stream_ok = check_stream(res, data)
        correct_ops = {}
    else:
        stream_ok = None
        correct_ops = check_batch(root, res, data, rows, work)
    attempted, failed, e2e, detail, ops, layers = metrics(
        a, res, setup, correct_ops, stream_ok)
    correct = failed == 0

    artifact = {
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds,
        "trace": a.trace, "cores": res["cores"], "rows": rows,
        "rows_scale": spec["rows_scale"], "warmup_ms": res.get("warmup_ms"),
        "stream": ({k: res[k] for k in ("batches", "drain_batches", "batch_docs",
                                         "cadence_ms")}
                   if a.workload == "stream_ingest" else None),
        "setup": {"gen_s": gen_s, "session_s": res["session_s"],
                  "warmup_s": res["warmup_s"]},
        "correct": correct, "attempted": attempted, "failed": failed,
        "end_to_end": e2e, "detail": detail, "ops": ops,
        "per_layer": layers,
        "self_time": span_self_times(res.get("spans", []), len(res["passes"])),
        "samples": res["samples"],
        "spans": res.get("spans", []),
    }
    art_dir = os.path.join(base, "artifacts")
    os.makedirs(art_dir, exist_ok=True)
    art = os.path.join(art_dir, f"{a.workload}-seed{a.seed}-trace{a.trace}.json")
    with open(art, "w") as f:
        json.dump(artifact, f, indent=1)
    shutil.rmtree(work, ignore_errors=True)

    wanted = contract["per_layer" if a.trace else "end_to_end"]
    values = layers if a.trace else e2e
    missing = [m["name"] for m in wanted if values.get(m["name"]) is None]
    if missing and any(w["name"] == a.workload for w in contract["workloads"]):
        fail(f"metrics not measured: {missing}")
    # a harness-only workload may lack some, e.g. a median of too few ops
    wanted = [m for m in wanted if m["name"] not in missing]
    print(f"artifact {os.path.relpath(art, root)}")
    print(json.dumps({"correct": correct, "attempted": attempted,
                      "failed": failed,
                      "metrics": {m["name"]: {"value": values[m["name"]],
                                              "unit": m["unit"]}
                                  for m in wanted}}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
