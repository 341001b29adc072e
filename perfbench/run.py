#!/usr/bin/env python3
"""Benchmark entry point: build, generate inputs, run one workload, check it.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <n> --trace <0|1>

Run from the repository root. The first run in a checkout compiles the
engine and the harness with sbt (``perfbench/build.sbt``); later runs reuse
the classpath while the sources are unchanged. Inputs are generated from the
seed (``gen.py``); one JVM then runs the workload closed-loop for about
``--seconds`` seconds of whole passes (``perfbench.Main``). Outputs are
checked afterwards, outside the timed region: medallion row counts against
the generator's predictions and final silver/gold against a DuckDB
recompute over the final bronze; query results against their DuckDB oracle
SQL with the canonicalisation of ``tools/check.py``. The last stdout line is
the result object; the exit code is non-zero when any check fails.

A run is stopped, without figures, ``LIMIT_S + --seconds`` seconds after it
starts (a first-run build does not count); see README.md, "Budget and scope".
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

T0 = time.time()
sys.dont_write_bytecode = True  # leave no caches next to gen.py or tools/check.py
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(HERE, ".build")
WORK = os.path.join(HERE, ".work")
# time limit past --seconds, and the part of it kept for the checks after the
# last pass (the JVM's own, session stop, the DuckDB checks here)
LIMIT_S = 160
CHECKS_S = 25

# gates per workload
WORKLOADS = {
    "medallion-daily": [],
    "index-lifecycle": "q149_lsh_rollover_cycle q182_hybrid_persisted".split(),
}

# metric names and units come from the benchmark's declaration at the repo root
SPEC = os.path.join(ROOT, "BENCHMARK.json")

JDK17_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp():
    """Hash of every file the build reads, to reuse a build only while current."""
    h = hashlib.sha256()
    tops = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
            os.path.join(ROOT, "project"), os.path.join(HERE, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for top in tops:
        for d, dirs, fs in os.walk(top):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            files += [os.path.join(d, f) for f in sorted(fs)]
    for f in files:
        if os.path.isfile(f):
            h.update(f.encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile engine + harness once per source state.

    Returns the classpath and whether this call compiled.
    """
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        fail("engine sources not found next to the benchmark; run from a full checkout")
    stamp = source_stamp()
    cp_file = os.path.join(BUILD, "classpath.txt")
    if os.path.isfile(cp_file):
        with open(cp_file) as f:
            saved = json.load(f)
        if saved.get("stamp") == stamp:
            return saved["classpath"], False
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true -Dsbt.offline=true -Xmx2g")
    env["SBT_OPTS"] += f" -Djava.io.tmpdir={tmp} -Djna.tmpdir={tmp}"
    with open(os.path.join(BUILD, "sbt.log"), "w") as log:
        p = subprocess.run(
            ["sbt", "-batch", "-Dsbt.log.noformat=true", "export perfbench/Runtime/fullClasspath"],
            cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=log, text=True, timeout=840)
    lines = [x for x in p.stdout.splitlines() if x.strip()]
    if p.returncode != 0 or not lines or ":" not in lines[-1]:
        sys.stderr.write(p.stdout[-4000:])
        fail("build failed")
    with open(cp_file, "w") as f:
        json.dump({"stamp": stamp, "classpath": lines[-1].strip()}, f)
    return lines[-1].strip(), True


def run_jvm(cp, args, work, deadline):
    """One benchmark JVM, killed at the ``deadline`` (epoch s); returns its result object."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ)
    env["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))  # local[nproc]
    env["SPARK_GRAFT_TMPFS"] = "0"  # keep scratch inside the checkout
    env.pop("SPARK_GRAFT_SHUFFLE", None)
    out = os.path.join(work, "result.json")
    cmd = (["java", "-Xms3g", "-Xmx3g", "-XX:+UseG1GC", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
            "-Dspark.callstack.depth=64", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC", "-Dspark.local.dir=" + tmp]
           + JDK17_OPENS + ["-cp", cp, "perfbench.Main", "--out", out, "--work", work] + args)
    with open(os.path.join(work, "jvm.log"), "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, env=env, cwd=work)
        try:
            proc.wait(timeout=max(5, deadline - time.time()))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail("workload exceeded its time limit; see " + log.name)
    if not os.path.isfile(out):
        fail(f"the benchmark JVM exited with {proc.returncode} and no result; see {log.name}")
    with open(out) as f:
        return json.load(f)


# ---------------------------------------------------------------- checks


def digest(rel):
    """Digest of a DuckDB relation: column names, then rows canonicalised as
    ``tools/check.py`` does (columns by name, floats at 9 digits, rows sorted)."""
    sys.path.insert(0, os.path.join(ROOT, "tools"))
    from check import canon
    cols = rel.columns
    text = "\n".join([",".join(sorted(cols))] + canon(rel.fetchall(), cols))
    return hashlib.sha256(text.encode()).hexdigest()[:32]


def oracle_view(con, data):
    sys.path.insert(0, os.path.join(ROOT, "tools"))
    from check import TABLES
    for t in TABLES:
        con.sql(f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM '{data}/{t}.parquet'")


def oracle_digest(con, data, sql):
    """Digest of an oracle's result over the tables in ``data``.

    The catalog tables are the same on every run, so the digest is kept in
    ``.build/oracles`` under a hash of the SQL and of the table files, and
    DuckDB runs an oracle only for SQL or tables it has not seen in this
    checkout (q149's oracle takes ~13 s on 4 cores).
    """
    h = hashlib.sha256(sql.encode())
    for name in sorted(os.listdir(data)):
        with open(os.path.join(data, name), "rb") as f:
            h.update(name.encode() + hashlib.sha256(f.read()).digest())
    memo = os.path.join(BUILD, "oracles", h.hexdigest()[:32])
    if not os.path.isfile(memo):
        os.makedirs(os.path.dirname(memo), exist_ok=True)
        with open(memo + ".tmp", "w") as f:
            f.write(digest(con.sql(sql)))
        os.replace(memo + ".tmp", memo)
    with open(memo) as f:
        return f.read()


def check_catalog(con, data, checks, errors):
    """Every oracle-backed query matches its DuckDB oracle over the same
    tables; rows-only queries return rows."""
    oracle_view(con, data)
    with open(os.path.join(os.path.dirname(data), "oracle_sql.json")) as f:
        oracles = json.load(f)
    bad = 0
    for name, c in sorted(checks.items()):
        sql = oracles.get(name)
        try:
            if c["rows"] <= 0:
                raise ValueError("no rows")
            if sql is None:
                continue
            if digest(con.sql(f"SELECT * FROM '{c['path']}/*.parquet'")) != oracle_digest(con, data, sql):
                raise ValueError("result differs from its oracle")
        except Exception as e:  # noqa: BLE001 - any failure is a failed check
            errors.append(f"{name}: {e}")
            bad += 1
    return bad


GOLD_SQL = """
WITH latest AS (
  SELECT * FROM (
    SELECT *, row_number() OVER (PARTITION BY event_id
      ORDER BY ts DESC, user_id DESC, event_type DESC, value DESC, props DESC) AS rn
    FROM read_parquet('{bronze}/*.parquet')) WHERE rn = 1),
silver AS (
  SELECT event_id, ts AS event_time,
    CASE WHEN value IS NULL OR value < 0 THEN 0.0 WHEN value > 300 THEN 300.0 ELSE value END AS depth_km
  FROM latest),
enriched AS (
  SELECT *, CASE WHEN depth_km >= 40 AND depth_km <= 120 THEN 'MID'
                 WHEN depth_km <= 50 THEN 'LOW' ELSE 'HIGH' END AS band_code,
    round(depth_km / 50, 4) AS magnitude,
    CAST(year(event_time) AS INTEGER) AS year, CAST(month(event_time) AS INTEGER) AS month
  FROM silver)
"""


def check_medallion(con, plan, checks, errors):
    """Counts per run against the generator; final silver and gold against DuckDB."""
    bad = 0
    expect = {("backfill", -1): (plan["history_rows"], plan["history_rows"], plan["history_gold"])}
    last = plan["days"][-1]
    for d, day in enumerate(plan["days"]):
        expect[("day", d)] = (day["new"], day["silver"], day["gold"])
    for s in checks["summaries"]:
        key = (s["kind"], s["day"])
        want = expect.get(key, (0, last["silver"], last["gold"]))
        if (s["new"], s["silver"], s["gold"]) != tuple(want):
            errors.append(f"{key}: new/silver/gold {s['new']}/{s['silver']}/{s['gold']} != {want}")
            bad += 1
    for dash in checks["dashboards"]:
        day = plan["days"][dash["day"]]
        if (dash["latest"], dash["deepest"], dash["kpi"]) != (3, 50, day["months"]):
            errors.append(f"dashboard day {dash['day']}: {dash}")
            bad += 1
    pre = GOLD_SQL.format(bronze=checks["bronze"] + "/events.parquet")
    silver_oracle = pre + "SELECT event_id, event_time, depth_km, band_code, year, month FROM enriched"
    silver_spark = (f"SELECT event_id, event_time, depth_km, band_code, year, month "
                    f"FROM read_parquet('{checks['silver']}/*/*/*.parquet', hive_partitioning = true)")
    diff = con.sql(f"SELECT count(*) FROM (({silver_oracle}) EXCEPT ALL ({silver_spark})) "
                   f"UNION ALL SELECT count(*) FROM (({silver_spark}) EXCEPT ALL ({silver_oracle}))"
                   ).fetchall()
    if any(r[0] for r in diff):
        errors.append(f"final silver differs from the recompute over bronze: {diff}")
        bad += 1
    sys.path.insert(0, os.path.join(ROOT, "tools"))
    from check import canon
    gold_oracle = con.sql(pre + """
      SELECT band_code, year, month, count(*) AS total_events,
        round(avg(magnitude) + 1e-6, 4) AS avg_magnitude, round(max(magnitude), 4) AS max_magnitude,
        sum(CASE WHEN magnitude >= 7 THEN 1 ELSE 0 END) AS critical_events,
        sum(CASE WHEN magnitude >= 7 AND depth_km < 70 THEN 1 ELSE 0 END) AS tsunami_events
      FROM enriched GROUP BY ALL""")
    gold_spark = con.sql(f"SELECT * FROM read_parquet('{checks['gold']}/*.parquet')")
    if canon(gold_oracle.fetchall(), gold_oracle.columns) != canon(gold_spark.fetchall(), gold_spark.columns):
        errors.append("final gold differs from a full recompute over the final bronze")
        bad += 1
    return bad


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=int)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if a.workload is None or a.seed is None or a.seconds is None:
        ap.error("--workload, --seed and --seconds are required")
    if a.workload not in WORKLOADS:
        fail(f"unknown workload {a.workload}; one of {sorted(WORKLOADS)}")
    with open(SPEC) as f:
        spec = json.load(f)
    end_to_end = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    per_layer = {m["name"]: m["unit"] for m in spec["per_layer"]}
    t_b0 = time.time()
    cp, compiled = build()
    build_s = time.time() - t_b0 if compiled else 0.0

    sys.path.insert(0, HERE)
    import gen
    work = os.path.join(WORK, a.workload)
    shutil.rmtree(work, ignore_errors=True)
    data = os.path.join(work, "data")
    kill_at = T0 + build_s + LIMIT_S + a.seconds
    jvm_args = ["--workload", a.workload, "--data", data, "--seconds", str(a.seconds),
                "--seed", str(a.seed), "--trace", str(a.trace),
                "--last-pass-by", str(int((kill_at - CHECKS_S) * 1000))]
    if a.workload == "medallion-daily":
        plan = gen.medallion(data, a.seed)
        gen.medallion(os.path.join(data, "warm"), a.seed + 1, **gen.WARM)
    else:
        gen.catalog(data)
        jvm_args += ["--queries", ",".join(WORKLOADS[a.workload])]
    t_gen = time.time()
    # the JVM is stopped early enough to leave time for the checks here
    res = run_jvm(cp, jvm_args, work, kill_at - 10)

    t_jvm = time.time()
    import duckdb
    con = duckdb.connect()
    errors = list(res.get("errors", []))
    failed = int(res.get("failed", 0))
    attempted = int(res.get("attempted", 0))
    if "fatal" in res:
        errors.append("fatal: " + res["fatal"])
        failed += 1
    else:
        sc = res["self_check"]
        if sc["scan_bytes"] != sc["file_bytes"]:
            errors.append(f"scan bytes self-check: {sc}")
            failed += 1
        if a.workload == "medallion-daily":
            failed += check_medallion(con, plan, res["checks"], errors)
        else:
            failed += check_catalog(con, data, res["checks"], errors)
    metrics = res.get("metrics", {})
    # set-up: process start to the first timed op, less a first-run build
    if "first_op_ms" in res:
        metrics["setup_s"] = res["first_op_ms"] / 1000.0 - T0 - build_s
    metrics["ops_failed_frac"] = failed / max(attempted, 1)
    # when each phase ended, in seconds since process start (build excluded)
    phases = {"inputs": t_gen - T0 - build_s, "jvm_exit": t_jvm - T0 - build_s,
              "checks": time.time() - T0 - build_s}
    for k in ("session_ms", "first_op_ms", "run_done_ms", "checks_done_ms"):
        if k in res:
            phases[k[:-3]] = res[k] / 1000.0 - T0 - build_s
    names = end_to_end if a.trace == 0 else per_layer
    detail = {k: v for k, v in metrics.items() if k not in names}
    print(json.dumps({"workload": a.workload, "seed": a.seed, "passes": res.get("passes"),
                      "detail": detail, "op_kinds_s": res.get("op_kinds_s"), "phases_s": phases,
                      "errors": errors[:20]}))
    correct = failed == 0 and all(metrics.get(k) is not None for k in names)
    result = {"correct": correct, "attempted": max(attempted, 1), "failed": failed,
              "metrics": {k: {"value": metrics.get(k), "unit": u} for k, u in names.items()}}
    print(json.dumps(result))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
