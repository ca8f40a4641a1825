#!/usr/bin/env python3
"""graft benchmark: one workload, one seed, one measured window.

    python3 perfbench/run.py --workload medallion --seed 1 --seconds 12 --trace 0

Run from the root of a graft checkout. The first call compiles graft and
the benchmark (perfbench/build.sh) into .bench_build/; inputs, indexes
and checkpoints go to a fresh directory under .bench_work/ that is
removed afterwards. The last line of standard output is one JSON object:
with --trace 0 it carries the end-to-end metrics, with --trace 1 the
per-layer metrics of a traced window. Exits non-zero when the build or
the run fails, or when an output check fails. See perfbench/README.md.
"""
import argparse
import glob
import hashlib
import json
import math
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("medallion", "corpus_index")
E2E = {  # contract name -> unit
    "setup_s": "s",
    "peak_rss_mb": "MiB",
    "throughput_per_s": "1/s",
    "latency_p50_ms": "ms",
    "latency_tail_ms": "ms",
}
RUN_TIMEOUT_S = 170
JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources_digest():
    h = hashlib.sha1()
    files = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"), recursive=True)
                   + glob.glob(os.path.join(HERE, "src/*.scala")) + [os.path.join(HERE, "build.sh")])
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Build into .bench_build/perfbench unless the sources are unchanged."""
    if not os.path.isdir(os.path.join(ROOT, "src/main/scala/graft")):
        fail("no graft sources (src/main/scala/graft) next to the benchmark")
    out = os.path.join(ROOT, ".bench_build", "perfbench")
    stamp = os.path.join(ROOT, ".bench_build", "perfbench.stamp")
    digest = sources_digest()
    if os.path.exists(stamp) and os.path.isdir(out) and open(stamp).read() == digest:
        return out
    if os.path.exists(stamp):
        os.remove(stamp)
    t0 = time.time()
    r = subprocess.run(["bash", os.path.join(HERE, "build.sh"), out], cwd=ROOT,
                       stdout=sys.stderr, stderr=sys.stderr, timeout=800)
    if r.returncode != 0:
        fail(f"build failed (exit {r.returncode})")
    with open(stamp, "w") as fh:
        fh.write(digest)
    print(f"perfbench: built in {time.time() - t0:.1f} s", file=sys.stderr)
    return out


def jvm_cmd(out, work, cds):
    """The benchmark JVM's command line, up to the main class's arguments.
    `cds` is "dump" (record the class data sharing archive at exit) or
    "use" (start from it; the JVM refuses to start if it cannot)."""
    jars = os.path.join(os.environ.get("SPARK_HOME", ""), "jars")
    if not os.path.isdir(jars):
        fail("SPARK_HOME must name a Spark install")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    jsa = os.path.join(out, "perfbench.jsa")
    if cds == "use" and not os.path.exists(jsa):
        fail(f"no class data sharing archive at {jsa}; remove .bench_build/ to rebuild")
    share = ([f"-XX:ArchiveClassesAtExit={jsa}"] if cds == "dump" else
             ["-Xshare:on", f"-XX:SharedArchiveFile={jsa}"])
    return ["java"] + [x for p in JVM_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] + share + [
        "-Xms3g", "-Xmx3g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
        f"-Dspark.hadoop.hadoop.tmp.dir={tmp}",
        "-cp", os.path.join(out, "perfbench.jar") + os.pathsep + os.path.join(jars, "*"),
        "perfbench.Main", "--work", work]


def train(out):
    """Record the class data sharing archive from the set-up of a medallion run."""
    work = os.path.join(ROOT, ".bench_work", f"train-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        r = subprocess.run(jvm_cmd(out, work, "dump") + ["--workload", "medallion", "--seed", "0",
                           "--seconds", "1", "--trace", "0", "--out", os.path.join(work, "result.json"),
                           "--setup-only", "1"],
                           cwd=work, stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL, timeout=600)
        sys.exit(r.returncode)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def run_jvm(out, args, work):
    cmd = jvm_cmd(out, work, "use") + [
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--out", os.path.join(work, "result.json"),
    ]
    log = os.path.join(work, "jvm.log")
    with open(log, "w") as fh:
        p = subprocess.Popen(cmd, cwd=work, stdout=fh, stderr=subprocess.STDOUT)
        try:
            rc = p.wait(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            rc = "timeout"
    with open(log) as fh:
        sys.stderr.write("".join(l for l in fh if l.startswith("perfbench:")))
    res = os.path.join(work, "result.json")
    if rc != 0 or not os.path.exists(res):
        with open(log) as fh:
            sys.stderr.write("".join(fh.readlines()[-40:]))
        fail(f"benchmark JVM failed ({rc})")
    with open(res) as fh:
        return json.load(fh)


def close(a, b, rel=1e-9):
    if a is None or b is None:
        return a is None and b is None
    if isinstance(a, float) and math.isnan(a):
        return isinstance(b, float) and math.isnan(b)
    return abs(a - b) <= rel * max(1.0, abs(b))


def haversine_sql(lat1, lon1, lat2, lon2):
    """The Gold layer's haversine, term for term."""
    k = "0.017453292519943295"
    dlat, dlon = f"(({lat2} - {lat1}) * {k})", f"(({lon2} - {lon1}) * {k})"
    a = (f"(sin({dlat} / 2) * sin({dlat} / 2) + cos({lat1} * {k}) * cos({lat2} * {k})"
         f" * (sin({dlon} / 2) * sin({dlon} / 2)))")
    return f"(12742.0 * atan2(sqrt({a}), sqrt(1.0 - {a})))"


def duckdb_gold_check(spec, work):
    """The Gold report and drill-down of the last pass against DuckDB SQL
    over the same Bronze JSON (FIXTURES.md §2-3 semantics)."""
    import duckdb
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    con.execute(f"SET temp_directory = '{os.path.join(work, 'tmp')}'")
    struct = ('STRUCT("Lines" VARCHAR, "Lon" DOUBLE, "VehicleNumber" VARCHAR, '
              '"Time" VARCHAR, "Lat" DOUBLE)[]')
    bronze = os.path.join(spec["bronze"], "**", "*.json")
    day = spec["day"]
    enriched = f"""
      WITH raw AS (
        SELECT unnest(result) AS v FROM read_json('{bronze}', format = 'newline_delimited',
          columns = {{'result': '{struct}'}}, hive_partitioning = false,
          maximum_object_size = 67108864)),
      proj AS (
        SELECT trim(v."Lines") AS Lines, trim(v."VehicleNumber") AS VehicleNumber,
               v."Lat" AS Lat, v."Lon" AS Lon, TRY_CAST(v."Time" AS TIMESTAMP) AS t FROM raw),
      clean AS (
        SELECT * FROM proj
        WHERE Lines IS NOT NULL AND VehicleNumber IS NOT NULL AND Lat IS NOT NULL
          AND Lon IS NOT NULL AND t IS NOT NULL
          AND Lat BETWEEN 52.0 AND 52.4 AND Lon BETWEEN 20.5 AND 21.5
          AND CAST(t AS DATE) = DATE '{day}' AND Lines <> ''),
      dedup AS (
        SELECT * FROM (SELECT *, row_number() OVER (PARTITION BY VehicleNumber, t
                                                    ORDER BY Lines, Lat, Lon) AS rn FROM clean)
        WHERE rn = 1),
      prev AS (
        SELECT *, lag(Lat) OVER w AS plat, lag(Lon) OVER w AS plon, lag(t) OVER w AS pt
        FROM dedup WINDOW w AS (PARTITION BY VehicleNumber ORDER BY t)),
      m AS (
        SELECT Lines, VehicleNumber, coalesce({haversine_sql('plat', 'plon', 'Lat', 'Lon')}, 0.0) AS d,
               epoch(t) - epoch(pt) AS dt FROM prev),
      e AS (
        SELECT Lines, VehicleNumber, d, d / 100.0 * 30.0 * 6.5 AS cost,
               CASE WHEN dt > 0 THEN d / dt * 3600.0 ELSE 0.0 END AS speed FROM m)
      SELECT * FROM e WHERE speed <= 70.0"""
    con.execute(f"CREATE TEMP TABLE enriched AS {enriched}")
    want = con.execute("""
      SELECT Lines, sum(d), sum(cost), max(d), count(VehicleNumber), avg(speed), max(speed),
             count(DISTINCT VehicleNumber), sum(d) / count(DISTINCT VehicleNumber),
             sum(cost) / nullif(sum(d), 0.0)
      FROM enriched GROUP BY Lines ORDER BY Lines""").fetchall()
    got = con.execute(f"""
      SELECT Lines, total_distance_km, total_cost_pln, max_segment_km, data_points_count,
             avg_speed, max_recorded_speed, unique_vehicles_count, avg_dist_per_vehicle, cost_of_1km
      FROM read_parquet('{os.path.join(spec["gold"], "**", "*.parquet")}') ORDER BY Lines""").fetchall()
    bad = [w[0] for w, g in zip(want, got) if w[0] != g[0] or not all(close(x, y) for x, y in zip(g[1:], w[1:]))]
    checks = [{"name": "gold.report_equals_duckdb", "ok": len(want) == len(got) and not bad and len(want) > 0,
               "detail": f"{len(want)} lines expected, {len(got)} written, {len(bad)} differ {bad[:5]}"}]
    top = con.execute("""
      SELECT Lines FROM (SELECT Lines, sum(cost) AS c FROM enriched GROUP BY Lines)
      ORDER BY c DESC, Lines ASC LIMIT 1""").fetchone()[0]
    veh = con.execute(f"""
      SELECT VehicleNumber FROM (SELECT VehicleNumber, sum(d) AS s FROM enriched WHERE Lines = ?
      GROUP BY VehicleNumber) ORDER BY s DESC, VehicleNumber ASC LIMIT 1""", [top]).fetchone()[0]
    checks.append({"name": "gold.drilldown_equals_duckdb",
                   "ok": (top, veh) == (spec["top_line"], spec["top_vehicle"]),
                   "detail": f"expected line {top} vehicle {veh}, got {spec['top_line']} {spec['top_vehicle']}"})
    con.close()
    return checks


def main():
    if sys.argv[1:2] == ["--train"] and len(sys.argv) == 3:
        train(sys.argv[2])
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    classes = build()
    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        res = run_jvm(classes, args, work)
        checks = res["checks"]
        failed = res["failed"]
        attempted = res["attempted"]
        if "duckdb_check" in res:
            try:
                extra = duckdb_gold_check(res["duckdb_check"], work)
            except Exception as e:  # a broken check is a failed check
                extra = [{"name": "gold.duckdb", "ok": False, "detail": repr(e)}]
            checks += extra
            attempted += len(extra)
            failed += sum(1 for c in extra if not c["ok"])
    finally:
        spans = os.path.join(work, "spans.jsonl")
        if os.path.exists(spans):
            os.replace(spans, os.path.join(ROOT, ".bench_work", f"spans-{args.workload}-{args.seed}.jsonl"))
        shutil.rmtree(work, ignore_errors=True)

    correct = all(c["ok"] for c in checks)
    e2e = dict(res["e2e"], setup_s=res["setup_s"], peak_rss_mb=res["peak_rss_mb"])
    print(f"workload {args.workload} seed {args.seed} seconds {args.seconds} trace {args.trace}")
    for k, v in res["notes"].items():
        print(f"  note  {k}: {v}")
    for c in checks:
        print(f"  check {'ok  ' if c['ok'] else 'FAIL'} {c['name']}: {c['detail']}")
    print(f"  failed_share = {failed / max(1, attempted):.6f} ({failed} of {attempted} ops)")
    for k, unit in E2E.items():
        print(f"  {k} = {e2e[k]:.6g} {unit}")
    for k, v in res["named"].items():
        print(f"  {k} = {v['value']:.6g} {v['unit']}")
    if args.trace:
        for k, v in res["traced_e2e"].items():
            print(f"  traced {k} = {v:.6g} {E2E[k]}")
        metrics = {k: {"value": v, "unit": layer_unit(k)} for k, v in sorted(res["per_layer"].items())}
    else:
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in E2E.items()}
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed, "metrics": metrics}))
    sys.exit(0 if correct else 1)


def layer_unit(name):
    last = name.rsplit(".", 1)[-1]
    if last.endswith("_ms"):
        return "ms"
    if last.endswith("_bytes") or last == "bytes_rewritten":
        return "bytes"
    if last.endswith("_mb"):
        return "MiB"
    if last.endswith("_pct"):
        return "%"
    if last in ("yield", "admitted_share") or "_per_" in last:
        return "ratio"
    return "count"


if __name__ == "__main__":
    main()
