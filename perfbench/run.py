"""Benchmark of the sales ETL job and the query registry.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the engine and the
harness from source (sbt, offline) into perfbench/target; every run then
starts one JVM that times the workload in a closed loop (one client, passes
back to back, local[nproc]), checks the outputs after the passes, and prints
one JSON result as the last line of stdout. `--trace 1` installs the layer
listener and reports per-layer metrics instead of the end-to-end ones.
Everything a run writes goes under .bench_build/ in the checkout.
See perfbench/README.md for the workloads, metrics and layers.
"""

import argparse
import hashlib
import json
import os
import random
import re
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True
import buckets  # noqa: E402
import gen  # noqa: E402

T_START = time.monotonic()
RUN_LIMIT_S = 170          # a run must end within 180 s,
FIRST_RUN_LIMIT_S = 880    # the first one in a checkout, which builds, within 900 s
HEAP = "3g"
GC = "Parallel"
REFERENCE_DATE = gen.REFERENCE_DATE.isoformat()
REGISTRY_DATA = os.path.join(HERE, "data", "sf0.01")
ETL_REF_VENDAS_ROWS = 1000

WORKLOADS = ("etl_ref", "registry_sf0.01")
JVM_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def remaining(limit):
    return limit - (time.monotonic() - T_START)


# ---- build ------------------------------------------------------------------

def source_digest(root):
    """Digest of every file the build reads: the engine's sources and the
    harness with its build definition."""
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for top in (os.path.join(root, "src", "main"), os.path.join(HERE, "src")):
        for d, dirs, names in os.walk(top):
            dirs.sort()
            files += [os.path.join(d, n) for n in sorted(names)]
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, root).encode() + b"\0")
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build(root, work):
    """Compile engine + harness; returns (classpath, whether it compiled).
    The classpath is reused until a source file changes, and then sbt
    recompiles incrementally."""
    if not os.path.isfile(os.path.join(root, "src", "main", "scala", "graft", "GraftSession.scala")):
        die("no engine sources under src/main/scala: run from the root of a checkout")
    digest = source_digest(root)
    state_file = os.path.join(work, "build.json")
    if os.path.exists(state_file):
        state = json.load(open(state_file))
        if state["sources"] == digest:
            return state["classpath"], False
    if shutil.which("sbt") is None:
        die("sbt not found")
    env = dict(os.environ, COURSIER_MODE="offline")
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true")
    log = os.path.join(work, "build.log")
    try:
        with open(log, "w") as f:
            p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true",
                                "-Dsbt.server.autostart=false",
                                "compile", "export Runtime/fullClasspath"],
                               cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=f, text=True,
                               timeout=remaining(FIRST_RUN_LIMIT_S) - RUN_LIMIT_S,
                               stdin=subprocess.DEVNULL)
            f.write(p.stdout)
    except subprocess.TimeoutExpired:
        die(f"build did not finish in time, see {log}")
    lines = [l for l in p.stdout.splitlines() if ".jar" in l and not l.startswith("[")]
    if p.returncode != 0 or not lines:
        die(f"build failed, see {log}")
    cp = lines[-1].strip()
    with open(state_file, "w") as f:
        json.dump({"sources": digest, "classpath": cp}, f)
    return cp, True


# ---- the JVM run ------------------------------------------------------------

def host_cpus():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def cpu_ticks():
    """(steal, total) jiffies of the host's CPUs, from /proc/stat."""
    try:
        with open("/proc/stat") as f:
            v = [int(x) for x in f.readline().split()[1:]]
        return v[7], sum(v[:8])
    except (OSError, IndexError, ValueError):
        return 0, 0


def run_jvm(cp, work, mode_args, trace, log_name, limit):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    result = os.path.join(work, f"{log_name}.jsonl")
    if os.path.exists(result):
        os.remove(result)
    # -UsePerfData: no hsperfdata file in the system temp dir
    cmd = ["java", f"-Xmx{HEAP}", f"-XX:+Use{GC}GC", "-XX:-UsePerfData"]
    for p in JVM_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
            f"-Dspark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
            f"-Dderby.system.home={tmp}"]
    if trace:
        cmd.append("-Dspark.extraListeners=perfbench.LayerListener")
    cmd += ["-cp", cp, "perfbench.Harness"] + mode_args + [result]
    # pin the engine's environment: local[nproc], every other knob at its default
    env = {k: v for k, v in os.environ.items()
           if not k.startswith("SPARK_GRAFT_") and k != "SPARK_LOCAL_DIRS"}
    env["SPARK_GRAFT_CPUS"] = str(host_cpus())
    with open(os.path.join(work, f"{log_name}.log"), "w") as log:
        p = subprocess.Popen(cmd, env=env, stdout=log, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL)
        try:
            p.wait(timeout=max(5, remaining(limit) - 5))
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            die(f"harness did not finish in time, see {log.name}")
    if p.returncode != 0 or not os.path.exists(result):
        die(f"harness failed (exit {p.returncode}), see {log.name}")
    return [json.loads(l) for l in open(result, encoding="utf-8") if l.strip()]


# ---- checks -----------------------------------------------------------------

def check_etl_stdout(stdout, inv):
    """main's summary line and its five `== Qn ... (N rows)` lines."""
    want = (f"[pipeline] produtos={inv['produtos']} vendas={inv['vendas']} "
            f"empregados={inv['empregados']} -> ")
    got = stdout.splitlines()
    if not got or not got[0].startswith(want):
        return False
    rows = [int(m.group(2)) for m in (re.match(r"== Q(\d) .*\((\d+) rows\)$", l) for l in got[1:]) if m]
    return rows == [inv[f"q{i}_rows"] for i in range(1, 6)]


def check_parquet(out_dir, inv):
    """Exported tables: one row per surviving id and no null where the
    generator guarantees a fill."""
    import pyarrow.parquet as pq
    counts = {"produtos.parquet": inv["produtos"], "resumo-vendas.parquet": inv["vendas"],
              "empregados.parquet": inv["empregados"]}
    for name, cols in inv["not_null"].items():
        t = pq.read_table(os.path.join(out_dir, name))
        if t.num_rows != counts[name]:
            return False
        if any(t.column(c).null_count for c in cols):
            return False
    return True


# ---- metrics ----------------------------------------------------------------

def median(xs):
    return statistics.median(xs) if xs else float("nan")


def union_ms(intervals):
    total, cur_s, cur_e = 0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def layer_metrics(recs, workload, root):
    """Per-layer numbers of the steady passes, averaged per pass."""
    passes = [r for r in recs if r["kind"] == "pass"]
    steady = passes[1:] or passes
    execs = {r["id"]: r for r in recs if r["kind"] == "exec"}
    jobs = [r for r in recs if r["kind"] == "job"]
    scopes = sorted((r for r in recs if r["kind"] in ("stage", "key", "etl")), key=lambda r: r["start"])
    kmods = {}
    if workload.startswith("registry"):
        kmods = buckets.key_modules(
            open(os.path.join(root, "src", "main", "scala", "graft", "SparkEntry.scala"),
                 encoding="utf-8").read())

    def scope_of(t):
        owner = None
        for s in scopes:
            if s["start"] <= t:
                owner = s
            else:
                break
        return owner

    def bucket(call_site, t):
        if workload.startswith("etl"):
            return buckets.etl_bucket(call_site)
        s = scope_of(t)
        return buckets.registry_bucket(s["kind"] if s else "stage", s["name"] if s else "",
                                       call_site, kmods)

    def in_steady(t):
        return any(p["start"] <= t <= p["end"] for p in steady)

    all_buckets = buckets.ETL_BUCKETS + buckets.REGISTRY_BUCKETS
    acc = {b: {"intervals": [], "jobs": 0, "tasks": 0, "cpu_ns": 0, "sw": 0} for b in all_buckets}
    whole = {"in": 0, "out": 0}
    busy = []
    exec_bucket = {}
    for x in execs.values():
        if x["end"] < 0 or not in_steady(x["start"]):
            continue
        b = bucket(x["callsite"], x["start"])
        exec_bucket[x["id"]] = b
        acc[b]["intervals"].append((x["start"], x["end"]))
        busy.append((x["start"], x["end"]))
    for j in jobs:
        if j["end"] < 0 or not in_steady(j["start"]):
            continue
        if j["exec"] in execs:
            b = exec_bucket.get(j["exec"]) or bucket(execs[j["exec"]]["callsite"], j["start"])
        else:
            b = bucket(j["callsite"], j["start"])
        a = acc[b]
        a["intervals"].append((j["start"], j["end"]))
        busy.append((j["start"], j["end"]))
        a["jobs"] += 1
        a["tasks"] += j["tasks"]
        a["cpu_ns"] += j["cpu_ns"]
        a["sw"] += j["shuffle_write_bytes"]
        whole["in"] += j["input_bytes"]
        whole["out"] += j["output_bytes"]

    n = len(steady)
    m = {}
    for b in all_buckets:
        a = acc[b]
        m[f"{b}.wall_s"] = (union_ms(a["intervals"]) / 1e3 / n, "s")
        m[f"{b}.jobs"] = (a["jobs"] / n, "count")
        m[f"{b}.tasks"] = (a["tasks"] / n, "count")
        m[f"{b}.exec_cpu_s"] = (a["cpu_ns"] / 1e9 / n, "s")
        m[f"{b}.shuffle_write_bytes"] = (a["sw"] / n, "bytes")
    for name in buckets.NEVER_NONZERO:
        del m[name]
    driver_s = 0.0
    if workload.startswith("etl"):
        driver_s = sum(p["sec"] - union_ms([(s, e) for s, e in busy if p["start"] <= s <= p["end"]]) / 1e3
                       for p in steady) / n
    m["etl.driver_s"] = (driver_s, "s")
    setup = next(r for r in recs if r["kind"] == "setup")
    m["session.build_s"] = (setup["session_build_s"], "s")
    gc_before = {p["pass"]: (passes[i - 1]["gc_ms"] if i else setup["gc_ms"]) for i, p in enumerate(passes)}
    m["spark.gc_s"] = (median([(p["gc_ms"] - gc_before[p["pass"]]) / 1e3 for p in steady]), "s")
    m["sources.input_bytes"] = (whole["in"] / n, "bytes")
    m["sources.output_bytes"] = (whole["out"] / n, "bytes")
    return m


def pass_times(setup, passes):
    """Wall and process-CPU seconds of the set-up, the first pass and the
    median later pass."""
    cpu = [setup["cpu_ms"]] + [p["cpu_ms"] for p in passes]
    return {
        "setup_wall_s": setup["setup_s"],
        "setup_cpu_s": setup["cpu_ms"] / 1e3,
        "first_pass_wall_s": passes[0]["sec"],
        "first_pass_cpu_s": (cpu[1] - cpu[0]) / 1e3,
        "pass_wall_s": median([p["sec"] for p in passes[1:]]),
        "pass_cpu_s": median([(b - a) / 1e3 for a, b in zip(cpu[1:], cpu[2:])]),
    }


# ---- workloads --------------------------------------------------------------

def registry_keys(seed):
    keys = [l.strip() for l in open(os.path.join(HERE, "registry_keys.txt"))
            if l.strip() and not l.startswith("#")]
    random.Random(seed).shuffle(keys)
    return keys


def oracle_rows(root):
    """Each registry key's row count in the DuckDB oracle at sf0.01."""
    with open(os.path.join(root, "CORRECTNESS_r19.json"), encoding="utf-8") as f:
        return {k: v["oracle_rows"] for k, v in json.load(f).items()}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    root = os.getcwd()
    work = os.path.join(root, ".bench_build")
    os.makedirs(work, exist_ok=True)
    cp, compiled = build(root, work)
    limit = FIRST_RUN_LIMIT_S if compiled else RUN_LIMIT_S

    tag = f"{a.workload}-s{a.seed}-t{a.trace}"
    steal0, total0 = cpu_ticks()
    attempted = failed = 0
    if a.workload.startswith("etl"):
        in_dir = os.path.join(work, "in", tag)
        out_dir = os.path.join(work, "out", tag)
        shutil.rmtree(out_dir, ignore_errors=True)
        inv = gen.generate(in_dir, ETL_REF_VENDAS_ROWS, a.seed)
        recs = run_jvm(cp, work, ["etl", in_dir, out_dir, REFERENCE_DATE, str(a.seconds)], a.trace, tag, limit)
        ops = [r for r in recs if r["kind"] == "etl"]
        for i, r in enumerate(ops):
            attempted += 1
            ok = r["ok"] and check_etl_stdout(r.get("stdout", ""), inv)
            if ok and i == len(ops) - 1:
                ok = check_parquet(out_dir, inv)
            failed += not ok
        extra = {"input_rows": inv["raw_rows"]}
    else:
        keys = registry_keys(a.seed)
        expected = oracle_rows(root)
        recs = run_jvm(cp, work, ["registry", REGISTRY_DATA, ",".join(keys), str(a.seconds)], a.trace, tag, limit)
        for r in recs:
            if r["kind"] == "stage":
                attempted += 1
                failed += not r["ok"]
            elif r["kind"] == "key":
                attempted += 1
                failed += not (r["ok"] and int(r["rows"]) == expected[r["name"]])
        extra = {}

    steal1, total1 = cpu_ticks()
    steal = (steal1 - steal0) / max(1, total1 - total0)
    passes = [r for r in recs if r["kind"] == "pass"]
    setup = next(r for r in recs if r["kind"] == "setup")
    end = next(r for r in recs if r["kind"] == "end")
    times = pass_times(setup, passes)
    if a.trace:
        metrics = layer_metrics(recs, a.workload, root)
        metrics.update({f"traced.{k}": (v, "s") for k, v in times.items()})
        metrics = {k: metrics[k] for k in buckets.layer_metric_names()}
    else:
        metrics = {
            "setup_s": (times["setup_cpu_s"], "s"),
            "first_pass_cpu_s": (times["first_pass_cpu_s"], "s"),
            "pass_cpu_s": (times["pass_cpu_s"], "s"),
            "peak_rss_mb": (end["peak_rss_mb"], "MiB"),
        }
    report = {
        "workload": a.workload, "seed": a.seed, "trace": a.trace,
        "passes": len(passes), "error_rate": failed / max(1, attempted),
        **extra, "steal_share": round(steal, 4),
        "times": {k: round(v, 3) for k, v in times.items()},
        "host": {"nproc": host_cpus(), "SPARK_GRAFT_CPUS": host_cpus(), "local_cpus": setup["cpus"],
                 "xmx": HEAP, "max_heap_mb": setup["max_heap_mb"], "gc": setup["gc"],
                 "java": setup["java"], "spark": setup["spark"]},
    }
    print(json.dumps(report))
    with open(os.path.join(work, f"{tag}.result.json"), "w") as f:
        json.dump(dict(report, metrics={k: v for k, (v, _) in metrics.items()}), f)
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))


if __name__ == "__main__":
    main()
