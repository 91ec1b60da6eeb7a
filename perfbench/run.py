#!/usr/bin/env python3
"""graft benchmark: the pipeline runner and the query suite, end to end and
per layer.

    python3 perfbench/run.py --workload dag_warm|query_suite \
        --seed N --seconds S --trace 0|1

Run from the root of a graft checkout. The first run builds graft and the
benchmark package with sbt (output under .bench_build/ and target/);
later runs reuse the build while the sources are unchanged. Inputs are
generated from the seed (tables: perfbench/gen_data.py; model project:
perfbench.ProjectGen). Every output is checked against DuckDB
(perfbench/oracle.py). The last stdout line is one JSON object:
{"correct", "attempted", "failed", "metrics"}; with --trace 0 the metrics
are the end-to-end ones, with --trace 1 the per-layer ones. The lines
before it list every metric with its unit and every iteration's values.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import gen_data  # noqa: E402
import oracle  # noqa: E402
import stats  # noqa: E402

ROOT = os.getcwd()
HERE = os.path.dirname(os.path.abspath(__file__))
BUILD = os.path.join(ROOT, ".bench_build")
SCALE = 0.01
WORKLOADS = ("dag_warm", "query_suite")
JVM_HEAP = "3g"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]

def die(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_stamp():
    """Hash of every file the build reads: graft's sources and build, and
    the benchmark package's."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")]
    files = [os.path.join(ROOT, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compile graft and the benchmark (sbt, offline) unless the sources
    are unchanged since the last build; returns the runtime classpath and
    the sources' stamp."""
    os.makedirs(BUILD, exist_ok=True)
    stamp_file = os.path.join(BUILD, "build.stamp")
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp = source_stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file) \
            and open(stamp_file).read() == stamp:
        return open(cp_file).read().strip(), stamp
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    if "SBT_OPTS" not in env and os.path.exists(repos):
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true "
                           f"-Dsbt.repository.config={repos} -Dsbt.offline=true -Xmx2g")
    log = os.path.join(BUILD, "sbt.log")
    with open(log, "w") as out:
        rc = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.supershell=false",
             "compile", "export Runtime/fullClasspath"],
            cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=out,
            text=True, timeout=840)
    lines = [l for l in rc.stdout.splitlines() if l.startswith("/") and ".jar" in l]
    with open(log, "a") as out:
        out.write(rc.stdout)
    if rc.returncode != 0 or not lines:
        die(f"build failed (sbt exit {rc.returncode}); see {log}", 1)
    cp = lines[-1].strip()
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp, stamp


def calibration(cp, stamp):
    """graft.Bench's pinned calibration jobs, timed once per build (the
    file is keyed to the build's source stamp) and attached to every
    record as drift metadata."""
    path = os.path.join(BUILD, f"calibration-{stamp[:16]}.json")
    if not os.path.exists(path):
        with open(os.path.join(BUILD, "calibration.log"), "w") as out:
            subprocess.run(java_cmd(cp, "perfbench.Calibration", [path]), cwd=ROOT,
                           env=java_env(), stdout=out, stderr=subprocess.STDOUT,
                           timeout=300)
    if not os.path.exists(path):
        return {}
    with open(path) as f:
        return json.load(f)


def java_env():
    return dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(BUILD, "spark-local"))


def java_cmd(cp, main, args):
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    return (["java", f"-Xmx{JVM_HEAP}", f"-Djava.io.tmpdir={tmp}",
             "-Dspark.ui.enabled=false",
             f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}"]
            + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
            + ["-cp", cp, main] + args)


def run_jvm(cp, args, work):
    """Run perfbench.Main and return its record."""
    record = os.path.join(work, "record.json")
    cmd = java_cmd(cp, "perfbench.Main", args + ["--work", work, "--out", record])
    log = os.path.join(work, "jvm.log")
    with open(log, "w") as out:
        proc = subprocess.Popen(cmd, cwd=ROOT, env=java_env(), stdout=out,
                                stderr=subprocess.STDOUT)
        try:
            rc = proc.wait(timeout=150)
        except subprocess.TimeoutExpired:
            proc.kill()
            rc = proc.wait()
    if rc != 0 or not os.path.exists(record):
        tail = open(log).read()[-2000:]
        die(f"benchmark JVM exited {rc}; see {log}\n{tail}", 1)
    with open(record) as f:
        return json.load(f)


def op_samples(iterations):
    """(op ms, failed) for every op of the given iterations."""
    out = []
    for it in iterations:
        if "nodes" in it:
            out += [(ms, bool(err)) for _, ms, _, err in it["nodes"]]
        else:
            out += [(b + x, not ok) for _, b, x, ok, _, _ in it["queries"]]
    return out


def check(rec, workload, data):
    """Apply every output check; returns (wrong ops per iteration, problems)."""
    wrong = [0] * len(rec["iterations"])
    problems = []
    if workload == "query_suite":
        expected = oracle.expected_query_results(rec["oracle_sql"], data)
        res = oracle.check_queries(rec["queries"], rec["outputs_dir"], expected)
        bad = {q for q, p in res.items() if p}
        problems += [f"{q}: {res[q]}" for q in sorted(bad)]
        for i, it in enumerate(rec["iterations"]):
            wrong[i] = sum(1 for q in it["queries"] if q[0] in bad and q[3])
        return wrong, problems
    per_it, prep = oracle.check_dag(rec)
    problems += [f"preparation: {p}" for p in prep]
    expected = set(rec["expected_exec"])
    for i, it in enumerate(rec["iterations"]):
        wrong[i] += len(per_it[i])
        problems += [f"iteration {i}: {p}" for p in per_it[i]]
        executed = {n[0] for n in it["nodes"] if not n[2].startswith("SKIP")}
        diff = executed ^ expected
        if diff:
            wrong[i] += len(diff)
            problems.append(f"iteration {i}: changed-only executed "
                            f"{len(executed)} models, expected {len(expected)}; "
                            f"differing: {sorted(diff)[:8]}")
    return wrong, problems


def e2e_metrics(rec):
    """The end-to-end metrics over the untraced iterations, and the op
    tail: (percentile, its value), the highest percentile with at least
    ten of the ops above it, or (0, 0) when even the median has fewer."""
    its = [it for it in rec["iterations"] if not it["traced"]]
    ops = [ms for ms, _ in op_samples(its)]
    tail = stats.tail_percentile(len(ops))
    return {
        "setup_s": stats.median([it["setup_s"] for it in its]),
        "run_s": stats.median([it["run_s"] for it in its]),
        "op_ms_p50": stats.op_median(ops, whole_ms="nodes" in its[0]),
    }, len(ops), (tail, stats.percentile(ops, tail)) if tail else (0.0, 0.0)


def layer_metrics(rec, names, bench):
    """Per-layer metrics: the median over traced iterations of each
    per-iteration value; metrics of layers the workload does not use are 0."""
    traced = [it for it in rec["iterations"] if it["traced"]]
    untraced = [it for it in rec["iterations"] if not it["traced"]]
    cpus = rec["cpus"]
    per_it = []
    for it in traced:
        m = {k: 0.0 for k in names}
        probe = it.get("probe", {})
        m.update({k: v for k, v in probe.items() if k in m})
        if "nodes" in it:
            node_ms = {n[0]: n[1] for n in it["nodes"]}
            executed = [n for n in it["nodes"] if not n[2].startswith("SKIP")]
            ms_sum = float(sum(node_ms.values()))
            crit = stats.critical_ms(rec["waves"], node_ms)
            m.update({k: v for k, v in it.get("layers", {}).items() if k in m})
            m.update({
                "pipeline.node.ms_sum": ms_sum,
                "pipeline.node.ms_max": float(max(node_ms.values())),
                "pipeline.node.executed": float(len(executed)),
                "pipeline.node.skipped": float(len(it["nodes"]) - len(executed)),
                "pipeline.node.failed": float(sum(1 for n in it["nodes"] if n[3])),
                "pipeline.skip_ratio": (len(it["nodes"]) - len(executed)) / rec["models"],
                "pipeline.wave.critical_ms": crit,
                "pipeline.overhead_ms": it["run_s"] * 1000 - ms_sum,
                "pipeline.viewstore.restore_ms": it["restore_ms"],
                "pipeline.viewstore.restored": float(it["restored"]),
                "pipeline.viewstore.store_bytes": float(it["store_bytes"]),
                "pipeline.viewstore.files": float(it["store_files"]),
                "pipeline.db_bytes": float(it["db_bytes"]),
            })
            n_ops = len(it["nodes"])
        else:
            qs = it["queries"]
            m["queries.build_ms"] = sum(q[1] for q in qs)
            m["queries.exec_ms"] = sum(q[2] for q in qs)
            m["queries.hidden_jobs"] = float(sum(q[4] for q in qs))
            for q in qs:
                if f"query.{q[0]}.s" in m:
                    m[f"query.{q[0]}.s"] = (q[1] + q[2]) / 1000.0
            n_ops = len(qs)
        if probe:
            m["spark.core_util"] = probe["spark.task_ms"] / (it["run_s"] * 1000 * cpus)
            m["spark.jobs_per_op"] = probe["spark.jobs"] / n_ops
        m["jvm.gc_ms"] = it["gc_ms"]
        m["jvm.gc_count"] = it["gc_count"]
        m["jvm.peak_rss_mb"] = rec["peak_rss_mb"]
        per_it.append(m)
    out = {k: stats.median([m[k] for m in per_it]) for k in per_it[0]}
    cold = rec.get("prep", [{}])[0]
    if "probe" in cold:  # dag_warm's cold build, probed in a traced run
        node_ms = {n[0]: n[1] for n in cold["nodes"]}
        out["pipeline.cold.run_ms"] = cold["run_s"] * 1000
        out["pipeline.cold.critical_ms"] = stats.critical_ms(rec["waves"], node_ms)
        out["pipeline.cold.core_util"] = (cold["probe"]["spark.task_ms"]
                                          / (cold["run_s"] * 1000 * cpus))
    out["trace.overhead_frac"] = stats.overhead_frac(
        [it["run_s"] for it in traced], [it["run_s"] for it in untraced])
    out.update(bench)
    return out


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        die("run from the root of a graft checkout: build.sbt and "
            "src/main/scala/graft are missing here")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}

    cp, stamp = build()
    drift = calibration(cp, stamp)
    data = os.path.join(BUILD, "data", f"seed-{a.seed}")
    gen_data.write(data, a.seed, SCALE)
    work = os.path.join(BUILD, "runs", f"{a.workload}-{a.seed}-t{a.trace}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    rec = run_jvm(cp, ["--workload", a.workload, "--seed", str(a.seed),
                       "--seconds", str(a.seconds), "--trace", str(a.trace),
                       "--data", data], work)

    wrong, problems = check(rec, a.workload, data)
    measured = [i for i, it in enumerate(rec["iterations"]) if not it["traced"]]
    samples = [op_samples([rec["iterations"][i]]) for i in measured]
    attempted = sum(len(s) for s in samples)
    failed = sum(sum(1 for _, f in s if f) + wrong[i] for i, s in zip(measured, samples))
    failed = min(failed, attempted)
    e2e, n_ops, (tail, tail_ms) = e2e_metrics(rec)
    bench = {"bench.ops": float(n_ops), "bench.op_ms_p50": e2e["op_ms_p50"],
             "bench.op_tail_pct": tail,
             "bench.op_ms_tail": tail_ms, "bench.fail_frac": failed / attempted}
    if a.trace:
        names = [m["name"] for m in spec["per_layer"]]
        values = layer_metrics(rec, names, bench)
    else:
        values = e2e
        names = [m["name"] for m in spec["end_to_end"]]

    its = rec["iterations"]
    print(f"perfbench {a.workload} seed={a.seed} seconds={a.seconds} trace={a.trace} "
          f"cpus={rec['cpus']} iterations={len(its)} "
          f"(traced {sum(1 for it in its if it['traced'])})")
    for k, v in e2e.items():
        print(f"  {k:<14} {v:12.4f} {units.get(k, '')}")
    if tail:
        print(f"  op_ms_p{tail:<8g} {tail_ms:12.4f} ms (the highest percentile with "
              f">=10 of the {n_ops} ops above it)")
    else:
        print(f"  ops            {n_ops:12d} (too few for a tail percentile)")
    print(f"  fail_frac      {failed / attempted:12.4f} ({failed} of {attempted})")
    print(f"  peak_rss_mb    {rec['peak_rss_mb']:12.1f} MB")
    db = [it["db_bytes"] for it in its if "db_bytes" in it]
    if db:
        print(f"  db_bytes       {stats.median(db):12.0f} B")
    for p in problems[:20]:
        print(f"  CHECK FAILED: {p}")
    if a.trace:
        with open(rec["spans_file"]) as f:
            spans = [json.loads(line) for line in f]
        span_name = {s["id"]: s["name"] for s in spans}
        self_ms = {}
        for sid, t in stats.self_times(spans).items():
            self_ms[span_name[sid]] = self_ms.get(span_name[sid], 0.0) + t / 1e6
        print(f"  spans: {len(spans)} in {rec['spans_file']}; self time by name:")
        for name, t in sorted(self_ms.items(), key=lambda kv: -kv[1])[:15]:
            print(f"    {t:12.1f} ms  {name}")
    per_rep = {k: [it.get(k) for it in its] for k in ("setup_s", "run_s")}
    per_rep["traced"] = [it["traced"] for it in its]
    print("record " + json.dumps({"workload": a.workload, "seed": a.seed,
                                  "repetitions": per_rep, "ops": n_ops,
                                  "drift": drift}))
    result = {
        "correct": not problems,
        "attempted": attempted,
        "failed": failed,
        "metrics": {n: {"value": values[n], "unit": units[n]} for n in names},
    }
    print(json.dumps(result))


if __name__ == "__main__":
    main()
