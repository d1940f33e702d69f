#!/usr/bin/env python3
"""Product-path benchmark of the Spark engine in this repository.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the benchmark
together with the program's sources (sbt, offline) into `.bench_build`
and `perfbench/target`; later runs reuse the build while the sources
are unchanged. Inputs are generated from `--seed` into a fresh work
directory under `.bench_build`, which is removed afterwards.

Workloads (see BENCHMARK.json and README.md for why each exists):
  etl_cycle       land uploads, rebuild the period report, upsert it; then
                  two reader clients serve a reports table while a writer commits
  analytics_cold  six SparkEntry queries in a fresh session, index and plain lists

Prints one line per metric (`metric <name> <value> <unit> n=<samples>`),
then one JSON object as the last line. Exits 1 if an output check
fails, 2 if the run could not be made.
"""
import argparse
import contextlib
import datetime
import hashlib
from decimal import Decimal
import io
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))

import gen  # noqa: E402

WORKLOADS = ("etl_cycle", "analytics_cold")
# The end-to-end metrics every workload reports; "op" is the workload's
# foreground operation (an ETL cycle, or a cold query pass).
END_TO_END = [("setup_s", "s"), ("op_p50_ms", "ms"), ("cpu_ms_per_op", "ms"),
              ("peak_rss_mb", "MB")]
ETL_CYCLES = 2          # cycles per round, one batch of uploads each
ETL_UPLOADS = 100       # uploads landed per cycle
WARM_UPLOADS = 20       # per warm-up cycle: a cycle's code paths, not its size, warm the JVM
MALFORMED_SHARE = 0.02
SERVE_DAYS = 1000       # daily periods in the served table
WRITE_DAYS = 5          # new days each serving-side commit adds
ANALYTICS_SCALE = 0.2   # 1.0 = the sf0.01 shape
RUN_LIMIT_S = 170       # a run must end within 180 s
BUILD_LIMIT_S = 800     # the first run in a checkout may also build
CORES = 4


def per_layer_names():
    with open(HERE.parent / "BENCHMARK.json") as f:
        return [(m["name"], m["unit"]) for m in json.load(f)["per_layer"]]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def run_child(cmd, cwd, env, limit_s, log):
    """Run `cmd` in its own process group; kill the group on timeout."""
    with open(log, "w") as out:
        p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=out, stderr=subprocess.STDOUT,
                             start_new_session=True)
        try:
            return p.wait(timeout=max(1, limit_s))
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            return None
        finally:
            if p.poll() is None:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()


def sources_hash(root):
    files = sorted((root / "src" / "main" / "scala").rglob("*.scala"))
    files += sorted((HERE / "src").rglob("*.scala"))
    files += [HERE / "build.sbt", HERE / "project" / "build.properties"]
    h = hashlib.sha256()
    for f in files:
        h.update(str(f.relative_to(root)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def build(root, build_dir):
    """Compile the benchmark and the program; returns the classpath."""
    if not (root / "src" / "main" / "scala" / "graft").is_dir():
        fail("no program sources under src/main/scala; run from the root of a checkout")
    stamp = build_dir / "stamp"
    cp_file = HERE / "target" / "classpath.txt"
    digest = sources_hash(root)
    if stamp.exists() and stamp.read_text() == digest and cp_file.exists():
        return cp_file.read_text().strip()
    build_dir.mkdir(parents=True, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    env["SBT_OPTS"] = (env.get("SBT_OPTS", "") + " -Dsbt.offline=true -Xmx2g").strip()
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
           f"-Dsbt.global.base={build_dir / 'sbt-global'}", "writeClasspath"]
    try:
        rc = run_child(cmd, HERE, env, BUILD_LIMIT_S, build_dir / "build.log")
    except FileNotFoundError:
        fail("sbt not found on PATH")
    if rc != 0 or not cp_file.exists():
        sys.stderr.write((build_dir / "build.log").read_text()[-4000:])
        fail("build failed")
    stamp.write_text(digest)
    return cp_file.read_text().strip()


def make_inputs(workload, seed, work, seconds):
    """Generate this run's inputs; returns ground truth where there is one."""
    if workload == "etl_cycle":
        day0 = datetime.date(2024, 1, 1)
        truth = gen.uploads(seed, 1, work / "etl" / "batches", ETL_CYCLES, ETL_UPLOADS,
                            MALFORMED_SHARE, day0, 90)
        # warm-up and serving inputs come from independent streams of the same seed
        gen.uploads(seed, 2, work / "etl" / "warm", ETL_CYCLES, WARM_UPLOADS, MALFORMED_SHARE,
                    day0, 90)
        serve0 = datetime.date(2021, 1, 1)
        served = gen.daily_uploads(seed, 3, work / "etl" / "serve" / "setup", serve0, SERVE_DAYS)
        # more write batches than the writer can commit in `seconds`
        for k in range(int(seconds * 4) + 4):
            first = serve0 + datetime.timedelta(days=SERVE_DAYS + k * WRITE_DAYS)
            gen.daily_uploads(seed, 4 + k, work / "etl" / "serve" / "writes" / f"w{k:04d}",
                              first, WRITE_DAYS)
        return {"cycles": gen.cumulative(truth), "served": served}
    gen.analytics_tables(seed, work / "analytics" / "tables", ANALYTICS_SCALE)
    gen.analytics_tables(seed + 1_000_003, work / "analytics" / "warm", 0.05)
    return None


def check_etl(truth, rounds, served):
    """Committed totals against the generator's ground truth."""
    want = truth["served"]
    got = {"periods": served["rows"], "transactions": served["transactions"],
           "total_spent": served["total_spent"]}
    problems = []
    if (got["periods"], got["transactions"], Decimal(got["total_spent"])) != \
            (want["periods"], want["transactions"], Decimal(want["total_spent"])):
        problems.append(f"served table at set-up {got} != expected {want}")
    truth = truth["cycles"]
    for r, rnd in enumerate(rounds):
        landed = rnd["landed"] // ETL_UPLOADS
        last = truth[landed - 1] if landed else None
        if last and rnd["kept"] != last["valid"]:
            problems.append(f"round {r}: source kept {rnd['kept']} rows, expected {last['valid']}")
        for c in rnd["cycles"]:
            t = truth[c["cycle"]]
            row = [x for x in c["rows"] if x[0] == t["begin"] and x[1] == t["end"]]
            want = (t["transactions"], float(t["total_spent"]))
            if len(row) != 1 or (row[0][2], float(row[0][3])) != want:
                problems.append(f"round {r} cycle {c['cycle']} v{c['version']}: "
                                f"report {row} != expected {want}")
    return problems


def oracle_check(root, adir):
    """The repository's DuckDB oracle comparison over this run's tables
    and the query results the JVM wrote; returns the failures."""
    sys.path.insert(0, str(root / "tools"))
    import compare_oracle
    out = io.StringIO()
    with contextlib.redirect_stdout(out):
        compare_oracle.main(str(adir / "tables"), str(adir / "out"))
    return [line for line in out.getvalue().splitlines() if line.startswith("FAIL")]


def fmt(v):
    return "nan" if v is None else f"{v:.6g}"


def summarize(res, traced, workload, truth):
    """Report lines and the result object. `res` is the untraced run;
    `traced`, if given, the traced run of the same inputs in another
    JVM, which yields the per-layer metrics."""
    ph = res["phase"]
    ops = ph["op_ms"]
    problems = []
    for r in filter(None, (res, traced)):
        problems += r["check_failures"]
        if workload == "etl_cycle":
            problems += check_etl(truth, r["etl_rounds"], r["served_setup"])
        if not r["phase"]["op_ms"]:
            problems.append("no operation completed")
    attempted = sum(r["phase"]["attempted"] for r in filter(None, (res, traced)))
    failed = sum(r["phase"]["failed"] for r in filter(None, (res, traced)))
    e2e = {
        "setup_s": statistics.median(res["setup_s"]),
        "op_p50_ms": statistics.median(ops) if ops else float("nan"),
        "cpu_ms_per_op": statistics.median(ph["op_cpu_ms"]) if ph["op_cpu_ms"] else float("nan"),
        "peak_rss_mb": res["peak_rss_mb"],
    }
    lines = [f"metric {k} {e2e[k]:.6g} {u} n={len(ops) if k != 'setup_s' else len(res['setup_s'])}"
             for k, u in END_TO_END]
    lines += [f"metric {k} {fmt(v['value'])} {v['unit']} n={v['n']}" for k, v in ph["named"].items()]
    lines.append(f"metric start_s {res['start_s']:.6g} s n=1")
    lines.append(f"metric warmup_s {res['warmup_s']:.6g} s n=1")
    lines += [f"info {k} {v}" for k, v in res["info"].items()]
    if traced:
        layer = dict(traced["phase"]["layer"])
        if workload == "etl_cycle":
            layer["sources.kept_ratio"] = statistics.median(
                r["kept"] / max(1, r["landed"]) for r in traced["etl_rounds"])
        base = e2e["op_p50_ms"]
        layer["trace.overhead_base_ms"] = base
        layer["trace.overhead_ratio"] = statistics.median(traced["phase"]["op_ms"]) / base
        names = per_layer_names()
        metrics = {n: {"value": float(layer.get(n, 0.0)), "unit": u} for n, u in names}
        lines += [f"layer {n} {metrics[n]['value']:.6g} {u}" for n, u in names]
        lines.append(f"info trace.overhead {layer['trace.overhead_ratio']:.4g} "
                     f"of untraced op_p50 {base:.6g} ms (another fresh JVM, same inputs)")
    else:
        metrics = {k: {"value": float(e2e[k]), "unit": u} for k, u in END_TO_END}
    for p in problems:
        lines.append(f"check FAILED {p}")
    correct = not problems
    return lines, {"correct": correct, "attempted": int(attempted), "failed": int(failed),
                   "metrics": metrics}


def run_jvm(a, root, work, classpath, trace, deadline):
    """One fresh benchmark JVM over the generated inputs; returns its
    results with the oracle check's failures added. Its outputs are
    removed afterwards, so another JVM can run on the same inputs."""
    java = str(Path(os.environ["JAVA_HOME"]) / "bin" / "java") if "JAVA_HOME" in os.environ else "java"
    opens = [x for p in ("java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
                         "java.net", "java.nio", "java.util", "java.util.concurrent",
                         "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
                         "sun.security.action", "sun.util.calendar")
             for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    out = work / "result.json"
    # a fixed heap: no resizing, which moves the RSS high-water mark from run to run
    cmd = [java, "-Xms3g", "-Xmx3g", "-XX:+UseParallelGC", "-XX:-UsePerfData", *opens,
           f"-Djava.io.tmpdir={work / 'tmp'}",
           f"-Dlog4j2.configurationFile={HERE / 'log4j2.properties'}",
           "-cp", classpath, "perfbench.Main", a.workload, str(work), str(a.seconds),
           str(trace), str(a.trace), str(min(CORES, os.cpu_count() or CORES)), str(a.seed),
           str(out)]
    env = dict(os.environ, SPARK_LOCAL_DIRS=str(work / "spark-local"))
    rc = run_child(cmd, root, env, deadline - time.monotonic(), work / "jvm.log")
    if rc != 0 or not out.exists():
        sys.stderr.write((work / "jvm.log").read_text()[-4000:])
        fail("the benchmark JVM " + ("timed out" if rc is None else f"exited with {rc}"))
    res = json.loads(out.read_text())
    if a.workload == "analytics_cold":
        res["check_failures"] += oracle_check(root, work / "analytics")
    for d in ("etl-run", "warehouse", "analytics/out", "spark-local"):
        shutil.rmtree(work / d, ignore_errors=True)
    out.unlink()
    return res


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    # a terminated run still stops its JVM (run_child's finally)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(3))

    root = Path.cwd()
    if not (root / "BENCHMARK.json").exists():
        fail("run from the root of a checkout (BENCHMARK.json not found)")
    build_dir = root / ".bench_build" / "perfbench"
    classpath = build(root, build_dir)
    t0 = time.monotonic()
    deadline = t0 + RUN_LIMIT_S - 10

    work = build_dir / "work" / f"{a.workload}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    try:
        truth = make_inputs(a.workload, a.seed, work, a.seconds)
        gen_s = time.monotonic() - t0
        res = run_jvm(a, root, work, classpath, 0, deadline)
        jvm_s = time.monotonic() - t0 - gen_s
        # the per-layer split comes from a traced run in its own fresh
        # JVM, so both runs start equally cold
        traced = run_jvm(a, root, work, classpath, 1, deadline) if a.trace else None
        lines, result = summarize(res, traced, a.workload, truth)
        lines.append(f"metric gen_s {gen_s:.6g} s n=1")
        lines.append(f"info jvm_s {jvm_s:.4g}")
        lines.append(f"info seed {a.seed}")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    for line in lines:
        print(line)
    print(json.dumps(result))
    sys.exit(0 if result["correct"] else 1)


if __name__ == "__main__":
    main()
