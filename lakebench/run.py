"""graft's benchmark: one command for the `maintain`, `upsert` and
`contract` workloads.

    python3 lakebench/run.py --workload maintain --seed 1 --seconds 15 --trace 0

Run from the repository root. The first run builds the engine and the
benchmark program with sbt (offline) into lakebench/target and caches the
classpath under .lakebench/; later runs reuse it while the sources are
unchanged. Each run works in its own directory under .lakebench/ and
deletes it on exit. The last line of stdout is one JSON object; lines
before it are a human-readable report. See lakebench/README.md.
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
sys.path.insert(0, HERE)
import stats  # noqa: E402

ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".lakebench")
WORKLOADS = ("maintain", "upsert", "contract")
MIN_FREE_BYTES = 4 << 30  # staged input + two table generations + Spark scratch, with margin
JAVA_TIMEOUT_S = 160
CONTRACT_SF = 0.01
JDK17_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
               "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
               "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]
# contract: read-only queries over the parquet tables (plain Spark, text
# language id, minhash), then table-lifecycle queries (SQL MERGE, the `graft`
# data source, position deletes, streaming CDC apply)
CONTRACT_READS = ["q01_recon_agg", "q14_langid", "q15_minhash_neardup"]
CONTRACT_WRITES = ["q30_merge_composite", "q41_replace_where", "q43_positional_mor",
                   "q47_cdc_apply"]


def log(msg):
    print(f"[lakebench] {msg}", file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(msg)
    sys.exit(code)


# ---- build -----------------------------------------------------------------

def source_stamp():
    h = hashlib.sha256()
    paths = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for d, _, files in sorted(os.walk(top)):
            paths += [os.path.join(d, f) for f in sorted(files)]
    for p in paths:
        h.update(p[len(ROOT):].encode())
        with open(p, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile engine + benchmark once per source state; return the classpath."""
    stamp_file = os.path.join(STATE, "build.stamp")
    cp_file = os.path.join(STATE, "classpath.txt")
    stamp = source_stamp()
    if os.path.exists(stamp_file) and os.path.exists(cp_file):
        with open(stamp_file) as fh:
            if fh.read() == stamp:
                with open(cp_file) as fh:
                    return fh.read().strip()
    log("building engine and benchmark with sbt (first run only)")
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    os.makedirs(STATE, exist_ok=True)
    with open(os.path.join(STATE, "build.log"), "w") as out:
        r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                            "export Runtime/fullClasspath"],
                           cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
                           stdin=subprocess.DEVNULL, timeout=840)
    with open(os.path.join(STATE, "build.log")) as fh:
        lines = fh.read().splitlines()
    cps = [ln for ln in lines if ln.startswith("/") and "scala-library" in ln]
    if r.returncode != 0 or not cps:
        log("\n".join(lines[-30:]))
        fail("build failed")
    with open(cp_file, "w") as fh:
        fh.write(cps[-1])
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return cps[-1]


# ---- contract oracle ---------------------------------------------------------

def _norm(v):
    import datetime
    import decimal
    if isinstance(v, decimal.Decimal):
        return float(v)
    if isinstance(v, datetime.datetime) and v.tzinfo is not None:
        return v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    if isinstance(v, dict):
        return tuple((k, _norm(x)) for k, x in v.items())
    return v


def _key(v):
    if isinstance(v, float):
        return f"{v:.6g}"
    if isinstance(v, tuple):
        return "(" + ",".join(_key(x) for x in v) + ")"
    return repr(v)


def _same(a, b):
    import math
    if isinstance(a, float) or isinstance(b, float):
        if a is None or b is None:
            return a is b
        return math.isclose(float(a), float(b), rel_tol=1e-6, abs_tol=1e-6)
    if isinstance(a, tuple) and isinstance(b, tuple):
        return len(a) == len(b) and all(_same(x, y) for x, y in zip(a, b))
    return a == b


def oracle_check(data_dir, out_dir, queries):
    """DuckDB runs each query's oracle SQL over the same parquet; returns the
    queries whose Spark output differs (as a row multiset)."""
    import duckdb
    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    for f in sorted(os.listdir(data_dir)):
        if f.endswith(".parquet"):
            con.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM read_parquet('{data_dir}/{f}')")
    bad = {}
    for q in queries:
        try:
            with open(os.path.join(out_dir, f"{q}.sql")) as fh:
                want = con.execute(fh.read()).fetchall()
            got = con.execute(
                f"SELECT * FROM read_parquet('{out_dir}/{q}/*.parquet')").fetchall()
            rows = [sorted((tuple(_norm(v) for v in r) for r in rs), key=_key) for rs in (want, got)]
            if len(rows[0]) != len(rows[1]) or not all(_same(a, b) for a, b in zip(*rows)):
                bad[q] = f"{len(rows[1])} rows differ from oracle's {len(rows[0])}"
        except Exception as e:  # a missing output (the query threw) is also a failure
            bad[q] = f"{type(e).__name__}: {e}"
    return bad


# ---- metrics -----------------------------------------------------------------

PER_LAYER_OPS = ["compact", "cluster", "merge_cow", "merge_mor", "read", "read_mor"]


def per_layer_names():
    names = ["ops.compact.plan_s", "ops.compact_s", "ops.cluster_s", "ops.compact_gbps",
             "ops.cluster_gbps", "ops.merge_cow_s", "ops.merge_mor_s",
             "ops.merge_cow.touched_s", "ops.merge_mor.touched_s",
             "ops.merge_cow.touched_ratio", "ops.merge_mor.touched_ratio",
             "ops.expire_s", "ops.manifest_rewrite_s"]
    names += [f"table.{op}.fileio" for op in
              ["compact", "cluster", "expire", "merge_cow", "merge_mor", "read", "read_mor"]]
    names += ["table.merge_cow.fileio_last", "table.merge_mor.fileio_last", "table.metadata_s",
              "table.plan_files_s", "table.plan_files_mor_s"]
    names += [f"table.files_kept_ratio{sfx}.{k}" for sfx in ("", "_mor")
              for k in ("point", "host", "lang_ts")]
    names += [f"table.live_files.{k}" for k in ("compacted", "clustered", "cow", "mor")]
    names += ["table.dv_rows", "table.dv_files", "table.bytes_written.cow",
              "table.bytes_written.mor", "table.write_amp.cow", "table.write_amp.mor",
              "functions.zkey_rows_per_s"]
    names += [f"spark.{op}.{m}" for op in PER_LAYER_OPS
              for m in ("jobs", "task_s", "occupancy", "gap_s")]
    names += ["spark.cluster.shuffle_write_bytes", "spark.cluster.spill_bytes",
              "spark.cluster.gc_s", "spark.merge_cow.shuffle_write_bytes",
              "spark.merge_cow.spill_bytes", "spark.maintain.scaling_1_to_4"]
    names += [f"query.{q}_s" for q in CONTRACT_READS + CONTRACT_WRITES]
    names += [f"spark.{q}.gap_s" for q in CONTRACT_WRITES]
    names += ["workload.read_p50_s", "workload.read_tail_s", "workload.read_mor_p50_s",
              "workload.read_mor_tail_s", "workload.queries_total_s", "workload.fail_ratio",
              "trace.overhead_s"]
    return names


def units_of(name):
    if name.endswith("_gbps"):
        return "GB/s"
    if name.endswith("_per_s"):
        return "1/s"
    if name.endswith("_s"):
        return "s"
    if name.endswith("bytes") or name.startswith("table.bytes_written"):
        return "bytes"
    if "ratio" in name or "occupancy" in name or "write_amp" in name or "scaling" in name:
        return "ratio"
    return "count"


# The end-to-end metrics of a workload: (write ops, reads), each a map from
# sample name to how many times one unit runs it. A metric is the sum over
# its map of count x median, i.e. a typical unit's time from per-op medians,
# which one slow unit (the JIT's first) cannot move.
RECIPES = {
    "maintain": ({"compact": 1, "cluster": 1, "manifest_rewrite": 1, "expire": 1},
                 {"read.point": 2, "read.host": 2, "read.lang_ts": 2}),
    "upsert": ({"merge_cow": 1, "merge_mor": 1},
               {f"{c}.{k}": n for c in ("read", "read_mor")
                for k, n in (("point", 1), ("host", 1), ("lang_ts", 2))}),
}


def recipe(workload, failed):
    if workload != "contract":
        return RECIPES[workload]
    ok = lambda qs: {f"query.{q}": 1 for q in qs if q not in failed}  # noqa: E731
    return ok(CONTRACT_WRITES), ok(CONTRACT_READS)


def unit_metric(samples, parts):
    """(sum of count x median, units sampled) over a recipe map."""
    if not parts or not all(samples.get(k) for k in parts):
        return 0.0, 0
    return (sum(n * stats.median(samples[k]) for k, n in parts.items()),
            min(len(samples[k]) for k in parts))


def span_metrics(res, cores, out):
    """Per-op Spark metrics from traced spans and the listener's jobs."""
    spans, jobs = res["spans"], res["jobs"]
    att = stats.attribute(spans, jobs)
    by_name = {}
    for s in spans:
        by_name.setdefault(s["name"], []).append(s)
    traced = {n: [s for s in ss if s["traced"]] for n, ss in by_name.items()}

    for op in PER_LAYER_OPS + CONTRACT_WRITES:
        ss = traced.get(op, [])
        if op in CONTRACT_WRITES:
            ss = ss[1:]  # pass 0 warms the JIT up
        if not ss:
            continue
        wall = sum((s["end"] - s["start"]) / 1e3 for s in ss)
        js = [j for s in ss for j in att[s["id"]]]
        task_s = sum(j["task_s"] for j in js)
        out[f"spark.{op}.gap_s"] = stats.median([stats.gap(s, att[s["id"]]) / 1e3 for s in ss])
        if op in PER_LAYER_OPS:
            out[f"spark.{op}.jobs"] = len(js) / len(ss)
            out[f"spark.{op}.task_s"] = task_s / len(ss)
            out[f"spark.{op}.occupancy"] = stats.occupancy(task_s, cores, wall)
        if op in ("cluster", "merge_cow"):
            out[f"spark.{op}.shuffle_write_bytes"] = sum(j["shuffle_write_bytes"] for j in js) / len(ss)
            out[f"spark.{op}.spill_bytes"] = sum(j["spill_bytes"] for j in js) / len(ss)
        if op == "cluster":
            out["spark.cluster.gc_s"] = sum(j["gc_s"] for j in js) / len(ss)
    # FileIO calls are counted in every span, traced or not
    for op in ("compact", "cluster", "expire", "merge_cow", "merge_mor", "read", "read_mor"):
        ss = by_name.get(op, [])
        if ss:
            out[f"table.{op}.fileio"] = sum(s["fileio"] for s in ss) / len(ss)
    for m in ("merge_cow", "merge_mor"):
        if by_name.get(m):
            out[f"table.{m}.fileio_last"] = by_name[m][-1]["fileio"]
    # tracing overhead: traced minus untraced units, first (warm-up) unit excluded
    units = [s for s in spans if s["parent"] == -1 and s["name"] in ("cycle", "batch")]
    on = [(s["end"] - s["start"]) / 1e3 for s in units[1:] if s["traced"]]
    off = [(s["end"] - s["start"]) / 1e3 for s in units[1:] if not s["traced"]]
    if on and off:
        out["trace.overhead_s"] = stats.median(on) - stats.median(off)


def metrics(workload, res, setup, failed_checks, cores, traced):
    """(end_to_end, per_layer, report lines) for one run."""
    s = res["samples"]
    v = res["values"]
    med = lambda k: stats.median(s.get(k, []))  # noqa: E731
    failed_queries = {f.split(":")[0] for f in res["failures"]} | set(failed_checks)
    if workload == "contract":
        # pass 0 warms the JIT up; later passes are measured
        s = {k: (xs[1:] if k.startswith("query.") else xs) for k, xs in s.items()}
    writes, reads = recipe(workload, failed_queries)
    e2e = {"setup_s": (stats.median(setup), len(setup)),
           "write_p50_s": unit_metric(s, writes),
           "read_p50_s": unit_metric(s, reads)}

    attempted = res["attempted"]
    failed = len(res["failures"]) + len(failed_checks)
    layer = {n: 0.0 for n in per_layer_names()}
    plain = {"ops.compact.plan_s": "compact.plan", "ops.compact_s": "compact",
             "ops.cluster_s": "cluster", "ops.compact_gbps": "compact_gbps",
             "ops.cluster_gbps": "cluster_gbps", "ops.merge_cow_s": "merge_cow",
             "ops.merge_mor_s": "merge_mor", "ops.merge_cow.touched_s": "touched_cow",
             "ops.merge_mor.touched_s": "touched_mor",
             "ops.merge_cow.touched_ratio": "touched_ratio_cow",
             "ops.merge_mor.touched_ratio": "touched_ratio_mor", "ops.expire_s": "expire",
             "ops.manifest_rewrite_s": "manifest_rewrite", "table.metadata_s": "metadata",
             "table.plan_files_s": "plan_files.read", "table.plan_files_mor_s": "plan_files.read_mor",
             "table.live_files.compacted": "live_files.compacted",
             "table.live_files.clustered": "live_files.clustered",
             "table.bytes_written.cow": "bytes_written_cow", "table.bytes_written.mor": "bytes_written_mor",
             "table.write_amp.cow": "write_amp_cow", "table.write_amp.mor": "write_amp_mor",
             "workload.read_p50_s": "read", "workload.read_mor_p50_s": "read_mor"}
    for name, key in plain.items():
        layer[name] = med(key)
    for sfx, op in (("", "read"), ("_mor", "read_mor")):
        for k in ("point", "host", "lang_ts"):
            layer[f"table.files_kept_ratio{sfx}.{k}"] = med(f"files_kept_ratio.{op}.{k}")
    for name, key in (("table.live_files.cow", "live_files.cow"), ("table.live_files.mor", "live_files.mor"),
                      ("table.dv_rows", "dv_rows"), ("table.dv_files", "dv_files"),
                      ("functions.zkey_rows_per_s", "zkey_rows_per_s"),
                      ("spark.maintain.scaling_1_to_4", "scaling_1_to_4")):
        layer[name] = v.get(key, 0.0)
    for q in CONTRACT_READS + CONTRACT_WRITES:
        if q not in failed_queries:
            layer[f"query.{q}_s"] = med(f"query.{q}")
    for k, op in (("workload.read_tail_s", "read"), ("workload.read_mor_tail_s", "read_mor")):
        t = stats.tail(s.get(op, []))
        layer[k] = t[0] if t else 0.0
    if workload == "contract":
        layer["workload.queries_total_s"] = e2e["write_p50_s"][0] + e2e["read_p50_s"][0]
    layer["workload.fail_ratio"] = failed / max(1, attempted)
    if traced:
        span_metrics(res, cores, layer)

    report = [f"workload={workload} cores={cores} traced={traced} attempted={attempted} failed={failed}"]
    for k, (val, n) in e2e.items():
        report.append(f"  {k:<28} {val:12.4f} s      n={n}")
    detail = {"maintain": [("compact_gbps", "GB/s"), ("cluster_gbps", "GB/s"), ("read", "s")],
              "upsert": [("merge_cow", "s"), ("merge_mor", "s"), ("read", "s"), ("read_mor", "s")],
              "contract": []}[workload]
    for key, unit in detail:
        xs = s.get(key, [])
        t = stats.tail(xs)
        tail_txt = f"tail p{t[1]}={t[0]:.4f}" if t else f"tail undefined (n={len(xs)} < 20)"
        report.append(f"  {key:<28} p50={stats.median(xs):.4f} {unit} {tail_txt} n={len(xs)}")
    if workload == "contract":
        report.append(f"  queries_total_s              {layer['workload.queries_total_s']:.4f} s "
                      f"n={e2e['write_p50_s'][1]} measured passes")
    report.append(f"  fail_ratio                   {layer['workload.fail_ratio']:.4f} ratio "
                  f"({failed}/{attempted})")
    for f in res["failures"] + [f"{q}: {m}" for q, m in failed_checks.items()]:
        report.append(f"  FAILED {f}")
    return e2e, layer, report, attempted, failed


# ---- main --------------------------------------------------------------------

def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    # a SIGTERM must still stop the JVM and delete the work dir (finally below)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail(f"engine sources not found under {ROOT}/src/main/scala; run from a full checkout")
    free = shutil.disk_usage(ROOT).free
    if free < MIN_FREE_BYTES:
        fail(f"only {free >> 20} MiB free under {ROOT}; need {MIN_FREE_BYTES >> 20} MiB", 3)
    if shutil.which("java") is None or shutil.which("sbt") is None:
        fail("java and sbt are required")

    cp = build()
    cores = len(os.sched_getaffinity(0))
    work = os.path.join(STATE, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    proc = None
    try:
        setup, data = [], os.path.join(work, "data")
        if a.workload == "contract":
            import contract_data
            for _ in range(5):  # cheap, and short enough that 3 would be noisy
                t0 = time.perf_counter()
                shutil.rmtree(data, ignore_errors=True)
                contract_data.generate(data, a.seed, CONTRACT_SF)
                setup.append(time.perf_counter() - t0)
        out = os.path.join(work, "result.json")
        cmd = (["java", "-Xmx3g", f"-Djava.io.tmpdir={work}/tmp"]
               + [x for p in JDK17_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
               + ["-cp", cp, "lakebench.Main", "--workload", a.workload, "--seed", str(a.seed),
                  "--seconds", str(a.seconds), "--trace", str(a.trace), "--cores", str(cores),
                  "--work", work, "--out", out, "--data", data,
                  "--queries", ",".join(CONTRACT_READS + CONTRACT_WRITES)])
        with open(os.path.join(work, "java.log"), "w") as jl:
            proc = subprocess.Popen(cmd, stdout=jl, stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)
            try:
                rc = proc.wait(timeout=JAVA_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
                rc = "timeout"
        if rc != 0 or not os.path.exists(out):
            with open(os.path.join(work, "java.log")) as fh:
                log("".join(fh.readlines()[-40:]))
            fail(f"benchmark JVM exited with {rc}", 4)
        with open(out) as fh:
            res = json.load(fh)
        failed_checks = {}
        if a.workload == "contract":
            # one oracle check per query that produced an output; a query
            # that threw is already counted failed by the JVM
            produced = [q for q in CONTRACT_READS + CONTRACT_WRITES
                        if os.path.exists(os.path.join(work, "out", q))]
            failed_checks = oracle_check(data, os.path.join(work, "out"), produced)
            res["attempted"] += len(produced)
        else:
            setup = res["samples"].get("setup", [])
        e2e, layer, report, attempted, failed = metrics(
            a.workload, res, setup, failed_checks, cores, bool(a.trace))
        for line in report:
            print(line)
        if a.trace:
            chosen = {k: {"value": val, "unit": units_of(k)} for k, val in layer.items()}
        else:
            chosen = {k: {"value": val, "unit": "s"} for k, (val, _) in e2e.items()}
        print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                          "metrics": chosen}))
    finally:
        if proc is not None and proc.poll() is None:
            proc.kill()
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
