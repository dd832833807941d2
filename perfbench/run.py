"""The repository's benchmark: one command per workload run.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. It builds the program and the harness from
source (perfbench/build.py), runs the workload in one JVM on local[<cores>],
checks the outputs, prints every metric by name and unit, writes an artifact
to .bench_out/ and prints, as its last line, the result object
{"correct", "attempted", "failed", "metrics"}. The gates read the sf0.01
tables in perfbench/data/. With --trace 0 the metrics are
the end-to-end ones; with --trace 1 they are the per-layer ones of a separate
traced run. Workloads, metrics and the layer map: perfbench/README.md.
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
sys.dont_write_bytecode = True
sys.path.insert(0, HERE)
import build  # noqa: E402

WORKLOADS = ("ysb_open", "ysb_replay", "gates_read")
DATA_DIR = os.path.join(HERE, "data", "sf0.01")
RUN_LIMIT_S = 160
JVM_HEAP = "2g"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
    "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def commit(root):
    """The commit when the checkout is a git work tree, else a hash of the
    sources the benchmark compiled."""
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=root, capture_output=True,
                           text=True, timeout=10)
        if r.returncode == 0:
            return r.stdout.strip()
    except (OSError, subprocess.SubprocessError):
        pass
    h = hashlib.sha256()
    for p in build.sources(root):
        with open(p, "rb") as f:
            h.update(f.read())
    return "tree-sha256:" + h.hexdigest()[:16]


def cpu_times():
    """(busy, steal) jiffies of all processors, from /proc/stat."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    return sum(v[:3]) + v[5] + v[6], v[7]


def norm_cell(v):
    if isinstance(v, float):
        return ("f", repr(v))
    if isinstance(v, (list, tuple)):
        return ("l", tuple(norm_cell(x) for x in v))
    return ("v", str(v))


def norm_rows(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return [cols[i] for i in order], sorted(
        tuple(norm_cell(r[i]) for i in order) for r in rows)


def oracle_check(check_dir, data_dir):
    """Compare each gate's result with its DuckDB oracle SQL over the same
    tables: columns by name, rows as a sorted multiset, floats exactly."""
    import duckdb
    con = duckdb.connect(config={"autoinstall_known_extensions": False,
                                 "autoload_known_extensions": False})
    for t in glob.glob(os.path.join(data_dir, "*.parquet")):
        name = os.path.basename(t)[:-len(".parquet")]
        con.sql(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{t}')")
    with open(os.path.join(check_dir, "oracle.json")) as f:
        oracles = json.load(f)
    results, failures = {}, []
    for gate, sql in sorted(oracles.items()):
        try:
            if not sql:
                raise ValueError("no oracle SQL registered")
            got = con.sql(f"SELECT * FROM read_parquet('{os.path.join(check_dir, gate)}/*.parquet')")
            got_cols, got_rows = norm_rows(got.columns, got.fetchall())
            exp = con.sql(sql)
            exp_cols, exp_rows = norm_rows(exp.columns, exp.fetchall())
            if got_cols != exp_cols:
                raise ValueError(f"columns {got_cols} vs oracle {exp_cols}")
            if got_rows != exp_rows:
                raise ValueError(f"{len(got_rows)} rows differ from the oracle's "
                                 f"{len(exp_rows)}")
            results[gate] = {"ok": True, "rows": len(got_rows)}
        except Exception as e:  # any error is a failed check, never dropped
            msg = str(e).splitlines()[0] if str(e) else type(e).__name__
            results[gate] = {"ok": False, "error": msg}
            failures.append(f"{gate} oracle check: {msg}")
    return results, failures


def jvm(classpath, jars, extra, args, tmp):
    """The JVM command for one run of perfbench.Main."""
    return (["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] +
            [f"-Xmx{JVM_HEAP}", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
             "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"] + extra +
            ["-cp", classpath + os.pathsep + os.path.join(jars, "*"), "perfbench.Main"] + args)


def run_jvm(cmd, tmp, log_path, timeout):
    """Run `cmd` with its output in `log_path`; kill its process group on
    timeout. Returns the exit code, or None on timeout."""
    env = dict(os.environ, SPARK_LOCAL_DIRS=tmp)
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, env=env,
                                start_new_session=True)
        try:
            return proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            return None


def ensure_archive(root, jar, jars, out_dir, cores):
    """Record the classes a short replay run loads into a class-data archive,
    which cuts JVM start-up by several seconds in every later run. Made once
    per build; a run without it is slower to start, not wrong."""
    jsa = build.archive_path(root)
    if os.path.isfile(jsa):
        return [f"-XX:SharedArchiveFile={jsa}"]
    work = os.path.join(build.build_dir(root), "run", f"archive-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    try:
        code = run_jvm(jvm(jar, jars, [f"-XX:ArchiveClassesAtExit={jsa}.partial"],
                           ["--workload", "ysb_replay", "--seed", "0", "--seconds", "1",
                            "--trace", "0", "--cores", str(cores), "--data", "", "--work", work,
                            "--result", os.path.join(work, "result.json")], tmp),
                       tmp, os.path.join(out_dir, "archive.log"), 300)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if code == 0 and os.path.isfile(jsa + ".partial"):
        os.replace(jsa + ".partial", jsa)
        return [f"-XX:SharedArchiveFile={jsa}"]
    print("run: no class-data archive; JVM start-up stays slower", file=sys.stderr)
    return []


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    root = os.getcwd()

    jar, jars = build.ensure(root)
    bdir = build.build_dir(root)
    out_dir = os.path.join(root, ".bench_out")
    os.makedirs(out_dir, exist_ok=True)
    cores = len(os.sched_getaffinity(0))
    cds = ensure_archive(root, jar, jars, out_dir, cores)
    gates = a.workload == "gates_read"
    data = DATA_DIR if gates else ""
    started = time.monotonic()

    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    work = os.path.join(bdir, "run", f"{tag}-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    result_path = os.path.join(work, "result.json")
    cmd = jvm(jar, jars, cds, [
        "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--trace", str(a.trace), "--cores", str(cores), "--data", data,
        "--work", work, "--result", result_path], tmp)
    log_path = os.path.join(out_dir, f"{tag}.log")
    busy0, steal0 = cpu_times()
    try:
        j0 = time.monotonic()
        code = run_jvm(cmd, tmp, log_path, max(10, RUN_LIMIT_S - (time.monotonic() - started)))
        jvm_s = time.monotonic() - j0
        if code is None:
            raise SystemExit(f"run: {a.workload} exceeded {RUN_LIMIT_S} s; log: {log_path}")
        busy1, steal1 = cpu_times()
        if code != 0 or not os.path.isfile(result_path):
            raise SystemExit(f"run: the JVM exited with {code} and no result; log: {log_path}")
        with open(result_path) as f:
            res = json.load(f)
        failures = list(res["failures"])
        attempted = int(res["attempted"])
        checks = None
        if gates:
            o0 = time.monotonic()
            checks, check_failures = oracle_check(os.path.join(work, "check"), data)
            res["oracle_check_s"] = time.monotonic() - o0
            failures += check_failures
    finally:
        shutil.rmtree(work, ignore_errors=True)

    with open(os.path.join(root, "BENCHMARK.json")) as f:
        declared = json.load(f)["per_layer" if a.trace else "end_to_end"]
    measured = res["per_layer" if a.trace else "end_to_end"]
    unknown = sorted(set(measured) - {m["name"] for m in declared})
    if unknown:
        raise SystemExit(f"run: metrics {unknown} are not declared in BENCHMARK.json")
    missing = [m["name"] for m in declared if m["name"] not in measured]
    if missing and not a.trace and not failures:
        raise SystemExit(f"run: end-to-end metrics {missing} were not measured; log: {log_path}")
    # a layer the workload does not exercise, or a metric a failed run could
    # not measure, reads 0
    metrics = {m["name"]: {"value": measured.get(m["name"], 0.0), "unit": m["unit"]}
               for m in declared}
    res.update({"nproc": os.cpu_count(), "cores_used": cores, "commit": commit(root),
                "jvm_s": jvm_s,
                "cpu_steal_share": (steal1 - steal0) / max(1, busy1 - busy0 + steal1 - steal0),
                "data": os.path.relpath(data, root) if data else None, "oracle_checks": checks,
                "unmeasured": missing,
                "failures": failures, "failed": len(failures)})
    with open(os.path.join(out_dir, f"{tag}.json"), "w") as f:
        json.dump(res, f, indent=1)
    for name in sorted(metrics):
        print(f"{a.workload} {name} = {metrics[name]['value']} {metrics[name]['unit']}")
    for msg in failures:
        print(f"{a.workload} FAILED: {msg}")
    print(json.dumps({"correct": not failures, "attempted": attempted,
                      "failed": min(len(failures), attempted), "metrics": metrics}))


if __name__ == "__main__":
    main()
