#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

Usage (from the repository root):
  python3 perfbench/run.py --workload <price_serve|daily_refresh>
                           --seed <n> --seconds <s> --trace <0|1>

Builds the engine and the harness from source on first use, draws the
workload's requests and query order from the seed over the committed
fixture (perfbench/fixture/), runs the harness in a JVM, checks
every output against its oracle outside the timed windows, writes a
record with provenance under perfbench/records/, and prints one JSON
object as the last line of standard output. See perfbench/README.md.
"""
import argparse
import glob
import hashlib
import json
import math
import os
import platform
import re
import shutil
import statistics
import subprocess
import sys
import time

import stats

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
HARNESS_SRC = os.path.join(HERE, "src", "main", "scala")
CLASSES = os.path.join(HERE, "target", "scala-2.13", "classes")
STAMP = os.path.join(HERE, "target", "perfbench.stamp")
WORK = os.path.join(HERE, "work")
RECORDS = os.path.join(HERE, "records")
SPARK_JARS = os.path.join(os.environ.get("SPARK_HOME", ""), "jars")
HEAP = "2g"
JVM_TIMEOUT_S = 150

WORKLOADS = ("price_serve", "daily_refresh")
# The serving state is built at the bench scale; daily_refresh's
# warehouse leg (cold prestage, query pass) runs at the scale where it
# fits one run.
SERVE_SCALE, WAREHOUSE_SCALE = 0.1, 0.01
# The fixed tail percentile; a run records how many samples lie beyond it.
TAIL_PCT = 99.0
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def digest_files(paths):
    h = hashlib.sha256()
    for p in sorted(paths):
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def source_files():
    files = []
    for base in (ENGINE_SRC, HARNESS_SRC):
        files += glob.glob(os.path.join(base, "**", "*.scala"), recursive=True)
    return files + [os.path.join(HERE, "build.sbt"),
                    os.path.join(HERE, "project", "build.properties")]


def build():
    """Compile engine + harness with sbt unless the stamp matches."""
    tree = digest_files(source_files())
    if os.path.exists(STAMP) and open(STAMP).read() == tree:
        return tree
    log("building engine and harness (sbt compile)")
    r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"],
                       cwd=HERE, stdout=subprocess.PIPE,
                       stderr=subprocess.STDOUT, text=True, timeout=840)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        sys.exit("build failed")
    with open(STAMP, "w") as f:
        f.write(tree)
    return tree


def fixture(sf):
    """The committed copy of the engine's test fixture at this scale."""
    return os.path.join(HERE, "fixture", f"sf{sf}")


def private_tmp(tmp):
    """A command prefix that gives the JVM its own /tmp, bind-mounted
    from `tmp`, in a private mount namespace: the engine keeps staged
    indexes under a fixed /tmp path, and this keeps them in the checkout.
    Empty when the host does not allow it; the harness then removes the
    indexes it staged before it exits.
    """
    prefix = ["unshare", "-m", "sh", "-c", 'mount --bind "$0" /tmp && exec "$@"', tmp]
    try:
        ok = subprocess.run(prefix + ["test", "-e", "/tmp/.probe"], capture_output=True,
                            timeout=10).returncode == 0
    except (OSError, subprocess.SubprocessError):
        ok = False
    return prefix if ok else []


def run_jvm(args, data, warehouse, work, out):
    """Run the harness once; return its output (raw samples and counts)."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    open(os.path.join(tmp, ".probe"), "w").close()
    env = dict(os.environ, SPARK_GRAFT_SCRATCH_BASE=os.path.join(work, "scratch"),
               SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    # the heap is pinned and touched up front, so peak RSS does not
    # depend on how far the collector happened to grow the young
    # generation; the parallel collector, because G1's concurrent cycles
    # competed with the refresh jobs for the cores and made the refresh
    # time differ from JVM to JVM (quartile spread 16% of the median over
    # five seeds on 4 vCPUs, 6% with the parallel collector);
    # -XX:-UsePerfData leaves no hsperfdata file outside the checkout
    cmd = (private_tmp(tmp) + [
            "java", *ADD_OPENS, f"-Xmx{HEAP}", f"-Xms{HEAP}", "-XX:+AlwaysPreTouch",
            "-XX:+UseParallelGC", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={work}/tmp",
            "-Dspark.sql.session.timeZone=UTC", "-Dspark.ui.enabled=false",
            "-cp", f"{CLASSES}:{SPARK_JARS}/*", "perfbench.Main",
            "--workload", args.workload, "--data", data, "--warehouse", warehouse,
            "--work", work, "--seed", str(args.seed), "--seconds", str(args.seconds),
            "--trace", str(args.trace), "--out", out])
    with open(os.path.join(work, "jvm.log"), "w") as logf:
        p = subprocess.Popen(cmd, env=env, stdout=logf, stderr=subprocess.STDOUT)
        try:
            rc = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            rc = "timeout"
    if rc != 0:
        with open(os.path.join(work, "jvm.log")) as f:
            sys.stderr.write(f.read()[-4000:])
        sys.exit(f"harness exited with {rc}")
    with open(out) as f:
        return json.load(f)


# ---- correctness checks (outside every timed window) ---------------------

def same_value(a, b):
    if a is None or b is None:
        return a is None and b is None
    if isinstance(a, float) or isinstance(b, float):
        af, bf = float(a), float(b)
        if math.isnan(af) and math.isnan(bf):
            return True
        return af == bf or abs(af - bf) <= 1e-9 * max(1.0, abs(af), abs(bf))
    return str(a) == str(b)


def same_rows(got, exp):
    return len(got) == len(exp) and all(
        same_value(a, b) for g, e in zip(got, exp) for a, b in zip(g, e))


def check_catalog(res):
    """Each dumped query result against its DuckDB oracle: same columns,
    row count and values in order (floats to 1e-9 relative). Returns the
    names that do not match.
    """
    import duckdb
    data = res["warehouse_dir"]
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data}/{t}.parquet')")
    bad = []
    for name, sql in sorted(res["oracles"].items()):
        try:
            dumped = con.sql(f"SELECT * FROM read_parquet('{res['results_dir']}/{name}/*.parquet')")
            got, cols = dumped.fetchall(), dumped.columns
            rel = con.sql(sql)
            if sorted(rel.columns) != sorted(cols):
                raise ValueError(f"columns {cols} vs {rel.columns}")
            if not same_rows(got, rel.select(*[f'"{c}"' for c in cols]).fetchall()):
                raise ValueError("rows differ")
        except Exception as ex:  # an oracle that errors is a mismatch too
            log(f"catalog {name}: {str(ex).splitlines()[0][:160]}")
            bad.append(name)
    return bad


def check_refresh(res):
    """Each appended day's loaded means against DuckDB over the working
    copy's events. Returns (days checked, days that differ)."""
    import duckdb
    d = res["refresh_dir"]
    con = duckdb.connect()
    bad = 0
    for day in res["refresh_days"]:
        got = con.sql(f"""SELECT event_type, daily_mwh FROM read_parquet(
            '{d}/daily/date={day}/*.parquet') ORDER BY 1""").fetchall()
        exp = con.sql(f"""SELECT event_type, round(sum(value), 2) / count(value)
            FROM read_parquet('{d}/events.parquet/*.parquet')
            WHERE (ts::TIMESTAMP)::DATE = DATE '{day}' GROUP BY 1 ORDER BY 1""").fetchall()
        if not same_rows(got, exp):
            log(f"refresh day {day}: loaded means differ from the oracle")
            bad += 1
    return len(res["refresh_days"]), bad


# ---- provenance ----------------------------------------------------------

def provenance(args, tree, fixtures):
    def cmd(*c):
        try:
            return subprocess.run(c, cwd=ROOT, capture_output=True, text=True, timeout=10)
        except (OSError, subprocess.SubprocessError):
            return None
    sha = cmd("git", "rev-parse", "HEAD")
    dirty = cmd("git", "status", "--porcelain", "--untracked-files=no")
    jdk = cmd("java", "-version")
    spark = [os.path.basename(j) for j in glob.glob(f"{SPARK_JARS}/spark-core_*.jar")]
    mem = re.search(r"MemTotal:\s+(\d+)", open("/proc/meminfo").read())
    return {
        "git_sha": sha.stdout.strip() if sha and sha.returncode == 0 else None,
        "git_dirty": bool(dirty.stdout.strip()) if dirty and dirty.returncode == 0 else None,
        "tree_digest": tree,
        "nproc": os.cpu_count(),
        "mem_total_kb": int(mem.group(1)) if mem else None,
        "jdk": jdk.stderr.splitlines()[0] if jdk and jdk.stderr else None,
        "spark": spark[0].split("-")[-1].removesuffix(".jar") if spark else None,
        "fixture_digest": digest_files([f for d in fixtures for f in glob.glob(f"{d}/*.parquet")]),
        "fixture_scales": [SERVE_SCALE, WAREHOUSE_SCALE],
        "seed": args.seed,
        "traced": bool(args.trace),
        "host": platform.node(),
    }


def units(traced):
    """Metric name -> unit, as BENCHMARK.json declares them."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    return {m["name"]: m["unit"] for m in bench["per_layer" if traced else "end_to_end"]}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not os.path.isdir(os.path.join(ENGINE_SRC, "graft")):
        sys.exit(f"engine sources not found under {ENGINE_SRC}; run from a full checkout")
    if not os.path.isdir(SPARK_JARS):
        sys.exit("SPARK_HOME must name a Spark distribution (its jars/ directory)")

    tree = build()
    data, warehouse = fixture(SERVE_SCALE), fixture(WAREHOUSE_SCALE)
    work = os.path.join(WORK, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    try:
        t0 = time.monotonic()
        res = run_jvm(args, data, warehouse, work, work + ".json")
        t1 = time.monotonic()
        attempted, failed = res["attempted"], res["failed"]
        failures = dict(res["failures"])
        a, f = stats.count_replies(
            {"expect": e, "status": s, "price": p, "want": w} for e, s, p, w in res["replies"])
        attempted, failed = attempted + a, failed + f
        failures["price"] = f
        if "oracles" in res:
            bad = check_catalog(res)
            failed += len(bad)
            failures["catalog.oracle"] = bad
        if "refresh_days" in res:
            a, f = check_refresh(res)
            attempted, failed = attempted + a, failed + f
            failures["refresh.means"] = f
        res["jvm_s"], res["check_s"] = t1 - t0, time.monotonic() - t1
    finally:
        shutil.rmtree(work, ignore_errors=True)
        if os.path.exists(work + ".json"):
            os.remove(work + ".json")

    lat = res["latency_ms"]
    p50 = stats.percentile(lat, 50.0)
    ms = {
        "setup_s": (statistics.median(res["setup_s"]), "s"),
        "p50_ms": (p50, "ms"),
        "tail_ms": (stats.percentile(lat, TAIL_PCT), "ms"),
        "ops_per_s": (len(lat) / res["window_s"], "1/s"),
        "batch_ms": (statistics.median(res["batch_ms"]), "ms"),
        "peak_rss_mb": (res["peak_rss_mb"], "MB"),
    }
    metrics = {k: {"value": v, "unit": u} for k, (v, u) in ms.items()}
    if args.trace:
        shown = {k: {"value": v, "unit": units(args.trace).get(k)} for k, v in res["layers"].items()}
    else:
        shown = metrics
    if set(shown) != set(units(args.trace)):
        sys.exit(f"reported metrics differ from BENCHMARK.json: {sorted(set(shown) ^ set(units(args.trace)))}")

    extra = {k: res[k] for k in ("prestage_s", "catalog_tariff_s", "catalog_corpus_s", "query_s",
                                 "p50_traced_ms", "p50_paused_ms") if k in res}
    rec = {
        "schema": 1, "workload": args.workload, "seed": args.seed, "traced": bool(args.trace),
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "fail_ratio": stats.fail_ratio(failed, attempted), "failures": failures,
        "metrics": metrics,
        "layers": {k: v["value"] for k, v in shown.items()} if args.trace else {},
        "samples": {"n_latency": len(lat), "tail_pct": TAIL_PCT,
                    "tail_beyond": sum(1 for x in lat if x > ms["tail_ms"][0]),
                    "tail_rule_pct": stats.tail_percentile(len(lat)),
                    "setup_s": res["setup_s"], "batch_ms": res["batch_ms"],
                    **{k: res[k] for k in ("window_s", "session_s", "jvm_s", "check_s", "phase_end_s")
                       if k in res}, **extra},
        "provenance": provenance(args, tree, (data, warehouse)),
    }
    stats.check_record(rec)
    os.makedirs(RECORDS, exist_ok=True)
    name = f"{args.workload}-s{args.seed}-t{args.trace}-{time.strftime('%Y%m%dT%H%M%S')}-{os.getpid()}.json"
    with open(os.path.join(RECORDS, name), "w") as f:
        json.dump(rec, f, indent=1)

    for k, m in shown.items():
        print(f"{k} {m['value']:.6g} {m['unit']}")
    print(f"attempted {attempted} failed {failed} fail_ratio {rec['fail_ratio']:.6g} "
          f"samples {len(lat)} record perfbench/records/{name}")
    print(json.dumps({"correct": rec["correct"], "attempted": attempted, "failed": failed,
                      "metrics": shown}))


if __name__ == "__main__":
    main()
