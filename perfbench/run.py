#!/usr/bin/env python3
"""graft end-to-end benchmark: one workload, one seed, one result line.

Usage (from the repository root):
  python3 perfbench/run.py --workload <mr_text|corpus_curation>
                           --seed <n> --seconds <s> --trace <0|1>

Builds the program and the harness from source (once per source state),
generates the workload's inputs from the seed, runs the harness JVMs,
checks every output, and prints the metrics. The last line of standard
output is the JSON result; everything else is for people. See README.md.
"""
import argparse
import glob
import hashlib
import importlib.util
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import gen  # noqa: E402

WORKLOADS = ("mr_text", "corpus_curation")
HEAP = "2g"
# fresh JVMs per untraced run: the JVM's own run-to-run variance (where
# the JIT settles) is the largest part of a warm pass's spread, so the
# metrics pool several JVMs' passes rather than more passes of one
JVMS = 2
JVM_TIMEOUT_S = 150
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]
# offline resolution from the local caches only
SBT_OPTS = ("-Dsbt.override.build.repos=true "
            f"-Dsbt.repository.config={os.path.expanduser('~/.sbt/repositories')} "
            "-Dsbt.offline=true -Xmx2g")


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp(root):
    """Hash of everything the build reads, so a checkout builds once."""
    h = hashlib.sha256()
    files = ["build.sbt", "project/build.properties",
             "perfbench/build.sbt", "perfbench/project/build.properties"]
    for d in ("src/main", "perfbench/src"):
        for dirpath, _, names in os.walk(os.path.join(root, d)):
            files += [os.path.relpath(os.path.join(dirpath, n), root) for n in names]
    for f in sorted(files):
        h.update(f.encode())
        with open(os.path.join(root, f), "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build(root):
    """Compiles the program and the harness; returns the run classpath."""
    out = os.path.join(root, ".bench_build")
    os.makedirs(out, exist_ok=True)
    stamp = source_stamp(root)
    cp_file, stamp_file = os.path.join(out, "classpath.txt"), os.path.join(out, "stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return open(cp_file).read()
    env = dict(os.environ, COURSIER_MODE="offline", SBT_OPTS=SBT_OPTS)
    with open(os.path.join(out, "sbt.log"), "w") as log:
        r = subprocess.run(
            ["sbt", "-batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            cwd=os.path.join(root, "perfbench"), env=env, stdout=subprocess.PIPE,
            stderr=log, stdin=subprocess.DEVNULL, text=True, timeout=800)
    lines = [ln for ln in r.stdout.splitlines() if ln.strip()]
    if r.returncode != 0 or not lines or "perfbench" not in lines[-1]:
        sys.stderr.write(r.stdout[-4000:])
        fail("build failed (log in .bench_build/sbt.log)")
    with open(cp_file, "w") as fh:
        fh.write(lines[-1].strip())
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return lines[-1].strip()


def run_jvm(cp, work, args, name):
    """Runs one harness JVM; returns its result dict."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    result = os.path.join(work, f"{name}.json")
    # a fixed heap: with a growable one, when G1 chooses to expand it
    # moves warm-pass times and peak RSS by tens of percent run to run
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp}",
           f"-Dspark.local.dir={tmp}",
           f"-Dspark.sql.warehouse.dir={os.path.join(work, 'warehouse')}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Harness"] + args + [result]
    # the CPUs this process may run on, as nproc counts them
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))))
    with open(os.path.join(work, f"{name}.log"), "w") as log:
        proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=log, stderr=log,
                                stdin=subprocess.DEVNULL)
        try:
            code = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail(f"{name} JVM timed out (log in {work}/{name}.log)")
    if code != 0 or not os.path.exists(result):
        with open(os.path.join(work, f"{name}.log")) as fh:
            sys.stderr.write(fh.read()[-3000:])
        fail(f"{name} JVM exited with {code}")
    with open(result) as fh:
        return json.load(fh)


# ---- output checks --------------------------------------------------------

def read_mr_output(path, split):
    """Reduce output lines as {key: value}; None if a line is malformed or
    a key repeats, neither of which a correct reduce writes."""
    got = {}
    for f in glob.glob(os.path.join(path, "part-*")):
        with open(f, encoding="utf-8") as fh:
            for line in fh:
                kv = split(line.rstrip("\n"))
                if len(kv) != 2 or kv[0] in got:
                    return None
                got[kv[0]] = kv[1]
    return got


def outputs(runs):
    """(pass index, job name, output directory) of every job that returned,
    over the (result, work directory) of each JVM."""
    for res, work in runs:
        for p in res["passes"]:
            for j in p["jobs"]:
                if not j["error"]:
                    yield p["index"], j["name"], os.path.join(
                        work, "out", f"p{p['index']}", j["name"])


def check_mr(runs, expected):
    """Every MRJob.run output of every pass against the generator's counts."""
    failures = []
    for i, name, path in outputs(runs):
        # "Yellow Banana 123": an agency name can hold a space, a word cannot
        split = (lambda ln: ln.rsplit(" ", 1)) if name == "credit" else \
            (lambda ln: ln.split(" ", 1))
        if read_mr_output(path, split) != expected[name]:
            failures.append((i, name))
        shutil.rmtree(path, ignore_errors=True)
    return failures


def load_oracle_check(root):
    spec = importlib.util.spec_from_file_location(
        "oracle_check", os.path.join(root, "scripts", "oracle_check.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def frames_equal(got, exp):
    """The same comparison as scripts/oracle_check.py, on normalized frames."""
    if list(got.columns) != list(exp.columns) or len(got) != len(exp):
        return False
    for c in got.columns:
        a, b = got[c], exp[c]
        if str(a.dtype).startswith("float") or str(b.dtype).startswith("float"):
            if not ((a.isna() & b.isna()) | (a == b)).all():
                return False
        elif not a.equals(b):
            return False
    return True


def check_queries(root, runs, data):
    """Every pass's parquet output of every job against SparkEntry.oracleSql
    in DuckDB; the oracle runs once per job."""
    import duckdb
    import pandas as pd
    oc = load_oracle_check(root)
    con = duckdb.connect()
    for t in oc.TABLES:
        p = os.path.join(data, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    failures, rows, oracle = [], {}, {}
    res = runs[0][0]
    for i, name, path in outputs(runs):
        files = sorted(glob.glob(os.path.join(path, "*.parquet")))
        sql = res["oracle_sql"].get(name)
        if not files or sql is None:
            failures.append((i, name))
            continue
        if name not in oracle:
            spec = res["oracle_scripted"].get(name)
            oracle[name] = oc.norm(oc.run_scripted(con, spec) if spec else con.sql(sql).df())
        got = oc.norm(pd.concat([pd.read_parquet(f) for f in files]))
        rows[name] = len(got)
        if not frames_equal(got, oracle[name]):
            failures.append((i, name))
        shutil.rmtree(path, ignore_errors=True)
    return failures, rows


# ---- metrics --------------------------------------------------------------

def med(xs):
    return statistics.median(xs) if xs else 0.0


def end_to_end(results):
    """Over the JVMs of a run, or over all their warm passes. The pass
    times are the fastest: CPU that other tenants of the host steal only
    ever slows a pass, so the fastest pass is the least disturbed."""
    warm = [p for r in results for p in r["passes"] if p["kind"] == "warm"]
    n = len(results)
    return {
        "setup_s": (med([r["setup_s"] for r in results]), "s", n),
        "cold_pass_s": (min(r["passes"][0]["wall_s"] for r in results), "s", n),
        "warm_pass_s": (min(p["wall_s"] for p in warm), "s", len(warm)),
        "cpu_s": (med([p["cpu_s"] for p in warm]), "s", len(warm)),
        "peak_rss_mb": (med([r["peak_rss_kb"] / 1024.0 for r in results]), "MB", n),
    }


def per_layer(res, spans, cores, mr_output_mb):
    """Per-layer metrics: medians over the traced warm passes."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    dur = lambda s: s["end_s"] - s["start_s"]

    def under(s):  # s and its descendants
        out = [s]
        for k in kids.get(s["id"], []):
            out += under(k)
        return out

    passes = {p["index"]: p for p in res["passes"]}
    traced_warm = [i for i, p in passes.items() if p["traced"] and p["kind"] == "warm"]
    untraced_warm = [p["wall_s"] for p in passes.values()
                     if not p["traced"] and p["kind"] == "warm"]

    def pass_metrics(i):
        ps = [s for s in spans if s["pass"] == i]
        named = lambda prefix: [s for s in ps if s["name"].split("/")[0] == prefix]
        total = lambda prefix: sum(dur(s) for s in named(prefix))
        jobs = named("job")
        # the job list's own work; the probes run after it, outside
        work = [x for j in jobs for x in under(j)]
        job_s = sum(dur(j) for j in jobs)
        # each span's counters come only from the Spark jobs it launched
        # itself, never from its children's
        c = lambda k: sum(x[k] for x in work)
        task_s = c("task_s")
        by_mod = {}
        for x in work:
            for mod, t in x["task_s_by_module"].items():
                layer = mod or x["layer"]
                by_mod[layer] = by_mod.get(layer, 0.0) + t
        capacity = cores * job_s
        longest = max(work, key=lambda x: x["longest_stage_s"])
        jvm = lambda k: sum(j[k] for j in jobs)
        m = {
            "tables.scan_s": total("tables.scan"),
            "tables.scan_mb": sum(x["input_bytes"] for x in work
                                  if x["layer"] == "queries") / 2**20,
            "mr.map_s": total("mr.map"),
            # groupByKey without a combiner shuffles one record per pair
            "mr.kv_pairs": sum(x["shuffle_records"] for x in named("mr.result")),
            "mr.shuffle_reduce_s": total("mr.result") - total("mr.map"),
            "mr.sink_s": total("mr.run") - total("mr.result"),
            "mr.output_mb": mr_output_mb.get(i, 0.0),
            "mr.combiner_s": total("mr.combiner"),
            "queries.plan_s": total("queries.plan"),
            "queries.exec_s": total("queries.exec"),
            "codegen.compiles": jvm("compiles"),
            "jvm.jit_s": jvm("jit_s"),
            "operators.cached_blocks": passes[i]["cached_blocks"],
            "operators.cached_mb": passes[i]["cached_bytes"] / 2**20,
            "operators.free_s": passes[i]["free_s"],
            "sched.jobs": c("jobs"), "sched.stages": c("stages"), "sched.tasks": c("tasks"),
            "sched.task_busy_s": task_s,
            "sched.core_busy_share": task_s / capacity if capacity else 0.0,
            "sched.task_skew": longest["longest_stage_skew"],
            "sched.failed_tasks": c("failed_tasks"),
            "shuffle.write_mb": c("shuffle_write_bytes") / 2**20,
            "shuffle.read_mb": c("shuffle_read_bytes") / 2**20,
            "shuffle.records": c("shuffle_records"),
            "shuffle.spill_mb": c("spill_bytes") / 2**20,
            "jvm.gc_s": jvm("gc_s"),
            "trace.warm_pass_s": job_s,
        }
        # the job list's task time by the graft module whose call launched
        # the stage (the harness's own calls count for the span's layer)
        for layer in ("mr", "queries", "tables", "operators"):
            m[f"share.{layer}"] = by_mod.get(layer, 0.0) / task_s if task_s else 0.0
        return m

    per_pass = [pass_metrics(i) for i in traced_warm]
    out = {k: med([m[k] for m in per_pass]) for k in per_pass[0]}
    # traced and untraced warm passes alternate in balanced blocks, so
    # their means differ by the tracing overhead, not by warm-up
    overhead = (statistics.mean(m["trace.warm_pass_s"] for m in per_pass)
                - statistics.mean(untraced_warm))
    cold = pass_metrics(0)
    out["codegen.cold_compiles"] = cold["codegen.compiles"]
    out["jvm.jit_s"] = cold["jvm.jit_s"]
    out["session.build_s"] = res["session_build_s"]
    out["trace.overhead_s"] = overhead
    shares = {k: out.pop(k) for k in list(out) if k.startswith("share.")}
    return out, shares


UNITS = {"_s": "s", "_mb": "MB", "_share": "ratio", ".task_skew": "ratio"}


def unit(name):
    for suffix, u in UNITS.items():
        if name.endswith(suffix):
            return u
    return "count"


def layer_table(spans, res):
    """Self time and task time per layer over the traced warm passes."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    traced = {p["index"] for p in res["passes"] if p["traced"] and p["kind"] == "warm"}
    rows = {}
    for s in spans:
        if s["pass"] not in traced:
            continue
        d = s["end_s"] - s["start_s"]
        self_s = d - sum(k["end_s"] - k["start_s"] for k in kids.get(s["id"], []))
        r = rows.setdefault(s["name"].split("/")[0], [0, 0.0, 0.0, 0])
        r[0] += 1
        r[1] += self_s
        r[2] += s["task_s"]
        r[3] += s["stages"]
    n = max(len(traced), 1)
    lines = [f"{'span':<18}{'calls':>7}{'self_s':>10}{'task_s':>10}{'stages':>8}"
             "   (per traced warm pass)"]
    for name, (calls, self_s, task_s, stages) in sorted(rows.items()):
        lines.append(f"{name:<18}{calls / n:>7.1f}{self_s / n:>10.3f}"
                     f"{task_s / n:>10.3f}{stages / n:>8.1f}")
    return "\n".join(lines)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    root = os.getcwd()
    if not os.path.exists(os.path.join(root, "build.sbt")) or \
            not os.path.isdir(os.path.join(root, "src", "main", "scala", "graft")):
        fail("run from the root of a graft checkout (no build.sbt or src/main/scala/graft)")
    cp = build(root)

    work = os.path.join(root, ".bench_work", a.workload)
    shutil.rmtree(work, ignore_errors=True)
    data = os.path.join(work, "data")
    t_gen = time.time()
    props, expected = gen.generate(a.workload, a.seed, data)
    t_jvm = time.time()

    mode = "trace" if a.trace else "plain"
    runs = []
    for k in range(1 if a.trace else JVMS):
        jwork = os.path.join(work, f"jvm{k}")
        runs.append((run_jvm(cp, jwork, [a.workload, data, jwork, str(a.seconds), mode],
                             "harness"), jwork))
    # a traced run has one JVM; the per-layer metrics read it
    res, work = runs[0]

    t_check = time.time()
    attempted = failed = 0
    for r, _ in runs:
        for p in r["passes"]:
            for j in p["jobs"]:
                attempted += 1
                failed += j["error"] is not None
    mr_output_mb = {}
    if a.workload == "mr_text":
        for p in res["passes"]:
            out = os.path.join(work, "out", f"p{p['index']}")
            mr_output_mb[p["index"]] = sum(
                os.path.getsize(f) for f in glob.glob(os.path.join(out, "*", "part-*"))) / 2**20
        bad = check_mr(runs, expected)
        failed += len(bad)
        check_note = f"{len(bad)} of {attempted} MRJob.run outputs differ from the generator's counts"
    else:
        bad, rows = check_queries(root, runs, data)
        failed += len(bad)
        check_note = (f"{len(bad)} of {attempted} outputs differ from "
                      f"the DuckDB oracle; rows {rows}")

    env = {k: res[k] for k in ("cores", "heap_max_mb", "spark_version", "java_version")}
    env["commit"] = git_commit(root)
    env["source_sha256"] = source_stamp(root)
    print(f"perfbench {a.workload} seed={a.seed} trace={a.trace} env={json.dumps(env)}")
    print(f"inputs {json.dumps(props)}")
    print(f"phases: generate {t_jvm - t_gen:.1f} s, harness JVMs {t_check - t_jvm:.1f} s, "
          f"checks {time.time() - t_check:.1f} s")
    print(f"checks: {check_note}; failed {failed} of {attempted} jobs "
          f"(error_rate {failed / attempted:.4f})")
    if a.trace:
        with open(os.path.join(work, "spans.json")) as fh:
            spans = json.load(fh)
        metrics, shares = per_layer(res, spans, res["cores"], mr_output_mb)
        table = layer_table(spans, res) + "\ntask time by call-site module: " + ", ".join(
            f"{k[6:]} {v:.1%}" for k, v in shares.items())
        with open(os.path.join(work, "layers.txt"), "w") as fh:
            fh.write(table + "\n")
        print(table)
        out = {k: {"value": v, "unit": unit(k)} for k, v in sorted(metrics.items())}
    else:
        e2e = end_to_end([r for r, _ in runs])
        for k, (v, u, n) in e2e.items():
            print(f"  {k:<12} {v:10.4f} {u:<3} (n={n})")
        out = {k: {"value": v, "unit": u} for k, (v, u, n) in e2e.items()}
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": out}))


def git_commit(root):
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=root, text=True,
                              capture_output=True, timeout=10).stdout.strip() or "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


if __name__ == "__main__":
    main()
