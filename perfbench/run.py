#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run builds the engine together with
the benchmark program (sbt, in ``perfbench/``) and caches the class path
under ``.perfbench/``; every run then generates its inputs, runs the JVM
program once and prints the metrics, with one JSON object as the last line
of stdout. ``--trace 0`` prints the end-to-end metrics, ``--trace 1`` the
per-layer metrics and writes the span file ``.perfbench/spans/``.
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
sys.path.insert(0, HERE)

import gen  # noqa: E402
import metrics  # noqa: E402

WORKLOADS = ("neardup_graph", "etl_analytics")
ETL_OPS = ("csv_to_parquet", "register", "readback")
JVM_TIMEOUT_S = 160  # one run of the JVM program
# A fixed heap with the stop-the-world parallel collector: G1's concurrent
# threads compete with the four task threads for the machine's cores, and
# with them the same runs took a fifth longer and spread further.
JVM_HEAP = ["-Xms2g", "-Xmx2g", "-XX:+UseParallelGC"]
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp():
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")] + [
        os.path.join(d, f) for d in (ROOT, HERE)
        for f in ("build.sbt", os.path.join("project", "build.properties"))]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(p.encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    """Compiles engine + benchmark once per source state; returns the class path."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("engine sources (src/main/scala/graft) not found; run from the repository root")
    stamp = source_stamp()
    cp_file = os.path.join(STATE, "build", "classpath")
    stamp_file = os.path.join(STATE, "build", "stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read()
    os.makedirs(os.path.dirname(cp_file), exist_ok=True)
    env = dict(os.environ, COURSIER_MODE=os.environ.get("COURSIER_MODE", "offline"))
    p = subprocess.run(
        ["sbt", "-batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdin=subprocess.DEVNULL, capture_output=True, text=True)
    lines = [ln for ln in p.stdout.splitlines() if ln.strip()]
    cp = next((ln for ln in reversed(lines)
               if not ln.startswith("[") and os.pathsep in ln and ".jar" in ln), None)
    if p.returncode != 0 or cp is None:
        sys.stderr.write(p.stdout[-4000:] + p.stderr[-4000:])
        fail("build failed")
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp


def prepare_inputs(workload, seed, input_dir):
    """Generates this run's inputs: the base tables as parquet and, for the
    ETL ops, the seeded CSVs. ``neardup_graph`` also gets a copy with fewer
    documents under ``warmup/`` for its warm-up pass, as its first pass
    over the full corpus costs twice a steady one; ``etl_analytics`` warms
    up on its timed inputs, which costs about as much as a copy with a
    tenth of the CSV rows did. Returns (warm-up input dir, ETL expectations
    or None)."""
    gen.write_base(os.path.join(input_dir, "parquet"), gen.base_tables(gen.QUERY_SF))
    warm_dir, etl_expect = input_dir, None
    if workload == "neardup_graph":
        warm_dir = os.path.join(input_dir, "warmup")
        gen.write_base(os.path.join(warm_dir, "parquet"),
                       gen.base_tables(gen.QUERY_SF, n_docs=gen.WARMUP_DOCS))
    else:
        etl_expect = gen.write_ingest_csvs(os.path.join(input_dir, "csv"), seed,
                                           gen.base_tables(gen.INGEST_SF, n_docs=0))
    # write the inputs back to disk now, not during a timed pass
    os.sync()
    return warm_dir, etl_expect


def run_jvm(classpath, workload, seed, seconds, trace, input_dir, warm_dir, run_dir,
            spans_path):
    out = os.path.join(run_dir, "result.json")
    work = os.path.join(run_dir, "work")
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java"] + JVM_HEAP + ["-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"] + ADD_OPENS +
           ["-cp", classpath, "perfbench.Main", "--workload", workload, "--seed", str(seed),
            "--seconds", str(seconds), "--trace", "1" if trace else "0",
            "--data", input_dir, "--warmup", warm_dir, "--work", work, "--out", out,
            "--spans", spans_path])
    log_path = os.path.join(run_dir, "jvm.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, cwd=run_dir, stdout=log, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL, start_new_session=True)

        def stop(*_):
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            fail("interrupted")
        previous = {s: signal.signal(s, stop) for s in (signal.SIGTERM, signal.SIGINT)}
        try:
            code = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            code = None
        finally:
            for s, h in previous.items():
                signal.signal(s, h)
    if code != 0:
        with open(log_path) as f:
            sys.stderr.write(f.read()[-6000:])
        fail("benchmark program timed out" if code is None else f"benchmark program exited {code}")
    with open(out) as f:
        return json.load(f)


def check(result, expected, etl_expect):
    """Returns the list of (pass, op, reason) for every op execution that
    threw or returned a wrong output, warm-up passes included (pass -1).
    Warm-up query ops may run on a smaller copy of the inputs than
    ``expected`` describes, so only their errors count."""
    bad = []
    runs = [(-1, op) for op in result["warmup"]] + [
        (p["pass"], op) for p in result["passes"] for op in p["ops"]]
    for pid, op in runs:
        name, r = op["name"], op["result"]
        if op["error"]:
            bad.append((pid, name, op["error"]))
            continue
        if name in ETL_OPS:
            reason = _check_etl(name, r, etl_expect)
        elif pid < 0:
            reason = None
        else:
            got = {"rows": r["rows"], "hash": r["hash"]}
            want = {k: expected.get(name, {}).get(k) for k in got}
            reason = None if got == want else f"fingerprint {got} != expected {want}"
        if reason:
            bad.append((pid, name, reason))
    return bad


def _check_etl(name, r, expect):
    if name == "csv_to_parquet":
        return None if r["tables"] == len(expect) else f"{r['tables']} tables written"
    if name == "register":
        return None if r["tables"] == sorted(expect) else f"registered {r['tables']}"
    bad = {t: r.get(t) for t in expect if r.get(t) != expect[t]}
    return f"table shapes {bad} != {({t: expect[t] for t in bad})}" if bad else None


def load_expected(workload):
    with open(os.path.join(HERE, "expected.json")) as f:
        return json.load(f)["workloads"].get(workload, {})


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)
    if not os.path.exists(os.path.join(HERE, "expected.json")):
        fail("expected.json missing")

    classpath = build()
    run_dir = os.path.join(STATE, "run")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    spans_dir = os.path.join(STATE, "spans")
    os.makedirs(spans_dir, exist_ok=True)
    spans_path = os.path.join(spans_dir, f"{a.workload}-seed{a.seed}.jsonl")

    # set-up runs from here to the first timed op: input generation, JVM
    # and session start, warm-up passes (the one-time build is not counted)
    setup_start_ms = time.time() * 1000.0
    input_dir = os.path.join(run_dir, "input")
    warm_dir, etl_expect = prepare_inputs(a.workload, a.seed, input_dir)
    result = run_jvm(classpath, a.workload, a.seed, a.seconds, a.trace, input_dir, warm_dir,
                     run_dir, spans_path)
    bad = check(result, load_expected(a.workload), etl_expect)

    timed = [(p["pass"], op["name"]) for p in result["passes"] for op in p["ops"]]
    failed = len({(pid, n) for pid, n, _ in bad if pid >= 0})
    for pid, name, reason in bad[:20]:
        print(f"FAIL pass {pid} {name}: {reason}", file=sys.stderr)
    if a.trace:
        with open(spans_path) as f:
            spans = [json.loads(ln) for ln in f if ln.strip()]
        values = metrics.per_layer(result, spans)
        notes = {"span_file": os.path.relpath(spans_path, ROOT)}
    else:
        values, notes = metrics.end_to_end(result, setup_start_ms)
    notes["fail_ratio"] = failed / len(timed)
    invalid = [k for k, (_, u) in values.items()
               if not (metrics.valid_name(k) and metrics.valid_unit(u))]
    if invalid:
        fail(f"invalid metric names or units: {invalid}")
    for k, (v, unit) in values.items():
        print(f"{k:32s} {v:14.6f} {unit}")
    print("# " + json.dumps(notes, sort_keys=True))
    print(json.dumps({
        "correct": not bad,
        "attempted": len(timed),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in values.items()},
    }))


if __name__ == "__main__":
    main()
