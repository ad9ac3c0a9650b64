#!/usr/bin/env python3
"""graft benchmark: one seeded workload, one closed-loop client, one result line.

    python3 perfbench/run.py --workload kv_ingest_lookup --seed 1 --seconds 12 --trace 0

Run from the repository root. The first run compiles the engine
(src/main/scala) together with the benchmark's own Scala sources
(perfbench/scala) with the Scala compiler shipped in the Spark jar
directory, into the build directory ($CARGO_TARGET_DIR, default
.bench_build); later runs reuse the build while the sources are unchanged.
The JVM runs the workload and writes its raw figures; this script checks
what the JVM could not check itself (sql_mixed against DuckDB), then prints
every end-to-end metric (--trace 0) or every per-layer metric (--trace 1)
as the last line of standard output.
"""
import argparse
import fcntl
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
SCALA_VERSION = "2.13.17"
HEAP = "3g"
RUN_LIMIT_S = 170  # a run (after the build) must finish well inside 180 s

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    """Spark's jar directory, $SPARK_HOME/jars: the engine's whole classpath."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        die("set SPARK_HOME to the Spark installation the engine builds against")
    jars = Path(home) / "jars"
    if not jars.is_dir():
        die(f"no Spark jar directory at {jars}")
    return jars


SPARK_JARS = spark_jars()


def sources(root):
    main = root / "src" / "main" / "scala"
    if not main.is_dir():
        die(f"no engine sources at {main}: run from the repository root")
    engine = sorted(main.rglob("*.scala"))
    bench = sorted((HERE / "scala").glob("*.scala"))
    resources = sorted(p for p in (root / "src" / "main" / "resources").rglob("*") if p.is_file())
    if not engine or not bench:
        die("engine or benchmark sources missing")
    return engine, bench, resources


def build(root, build_dir):
    """Compile engine + benchmark once per source state; returns the class dir."""
    engine, bench, resources = sources(root)
    h = hashlib.sha256(SCALA_VERSION.encode())
    for p in engine + bench + resources:
        h.update(str(p.relative_to(root)).encode())
        h.update(p.read_bytes())
    digest = h.hexdigest()[:16]
    out = build_dir / f"classes-{digest}"
    build_dir.mkdir(parents=True, exist_ok=True)
    with open(build_dir / "build.lock", "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if (out / ".complete").exists():
            return out, digest
        # Under the lock no other build runs: every older output is stale.
        for old in [*build_dir.glob("classes-*"), *build_dir.glob("building-*")]:
            shutil.rmtree(old, ignore_errors=True)
        tmp = build_dir / f"building-{os.getpid()}"
        tmp.mkdir()
        compiler_cp = ":".join(str(SPARK_JARS / f"scala-{n}-{SCALA_VERSION}.jar")
                               for n in ("compiler", "library", "reflect"))
        cmd = ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", "-cp", compiler_cp,
               "scala.tools.nsc.Main", "-nowarn", "-classpath", f"{SPARK_JARS}/*", "-d", str(tmp)]
        cmd += [str(p) for p in engine + bench]
        print(f"perfbench: compiling {len(engine)} engine + {len(bench)} benchmark sources",
              file=sys.stderr)
        r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
                           timeout=800)
        if r.returncode != 0:
            shutil.rmtree(tmp, ignore_errors=True)
            die("compile failed:\n" + r.stdout[-4000:])
        res_root = root / "src" / "main" / "resources"
        for p in resources:
            dst = tmp / p.relative_to(res_root)
            dst.parent.mkdir(parents=True, exist_ok=True)
            shutil.copyfile(p, dst)
        (tmp / ".complete").write_text(digest)
        tmp.rename(out)
        return out, digest


def git_sha(root):
    if not (root / ".git").exists():
        return None
    r = subprocess.run(["git", "-C", str(root), "rev-parse", "HEAD"],
                       stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
    return r.stdout.strip() or None


def duck_check(check_dir):
    """Replays every sql_mixed query in DuckDB over the same generated rows,
    as visible after the same number of INSERT batches. Returns (ok, total,
    first mismatches)."""
    import duckdb
    con = duckdb.connect()
    d = Path(check_dir)
    big = "BIGINT"
    specs = {
        "li": ("lineitem.csv", {"l_orderkey": big, "l_linenumber": big, "l_partkey": big,
                                "l_suppkey": big, "l_quantity": big, "l_price": big,
                                "l_discount": big, "l_shipday": big, "l_shipmonth": big,
                                "l_returnflag": "VARCHAR", "batch": big}),
        "ord": ("orders.csv", {"o_orderkey": big, "o_custkey": big, "o_status": "VARCHAR",
                               "o_total": big, "o_ver": big, "batch": big}),
        "part": ("part.csv", {"p_partkey": big, "p_brand": "VARCHAR", "p_type": "VARCHAR",
                              "p_size": big}),
    }
    for name, (f, cols) in specs.items():
        con.execute(f"CREATE TABLE {name}_all AS SELECT * FROM read_csv(?, header=true, "
                    f"columns={json.dumps(cols)})".replace('"', "'"), [str(d / f)])
    checks = [json.loads(line) for line in (d / "checks.jsonl").read_text().splitlines() if line]
    states = sorted({c["state"] for c in checks})
    for s in states:
        con.execute(f"CREATE VIEW li_{s} AS SELECT * EXCLUDE (batch) FROM li_all WHERE batch <= {s}")
        con.execute(f"CREATE VIEW ordf_{s} AS SELECT o_orderkey, o_custkey, o_status, o_total, o_ver "
                    f"FROM (SELECT *, row_number() OVER (PARTITION BY o_orderkey ORDER BY o_ver DESC) rn "
                    f"FROM ord_all WHERE batch <= {s}) WHERE rn = 1")

    def norm(v):
        if v is None or isinstance(v, (str, bool)):
            return v
        if isinstance(v, int):
            return v
        return float(v)

    def same(a, b):
        if isinstance(a, float) or isinstance(b, float):
            if a is None or b is None:
                return a is b
            return abs(a - b) <= 1e-9 * max(1.0, abs(a), abs(b))
        return a == b

    def key(row):
        return [(x is None, str(x)) for x in row]

    ok, bad = 0, []
    for c in checks:
        s = c["state"]
        q = c["sql"].replace("{li}", f"li_{s}").replace("{part}", "part_all").replace("{ordf}", f"ordf_{s}")
        want = sorted(([norm(v) for v in r] for r in con.execute(q).fetchall()), key=key)
        got = sorted(([norm(v) for v in r] for r in c["rows"]), key=key)
        if len(want) == len(got) and all(len(a) == len(b) and all(same(x, y) for x, y in zip(a, b))
                                         for a, b in zip(got, want)):
            ok += 1
        elif len(bad) < 5:
            bad.append(f"{c['cls']} state={s}: got {got[:3]} want {want[:3]} ({q})")
    con.close()
    return ok, len(checks), bad


def main():
    # A terminated run unwinds through the finally blocks, which stop the JVM
    # (or the compiler) and remove the run's scratch directory.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    root = Path.cwd()
    spec_path = root / "BENCHMARK.json"
    if not spec_path.is_file():
        die("BENCHMARK.json not found: run from the repository root")
    spec = json.loads(spec_path.read_text())
    if a.workload not in {w["name"] for w in spec["workloads"]}:
        die(f"unknown workload {a.workload}")
    build_dir = root / os.environ.get("CARGO_TARGET_DIR", ".bench_build")
    classes, digest = build(root, build_dir)

    run_start = time.monotonic()
    scratch = build_dir / f"run-{a.workload}-{os.getpid()}"
    shutil.rmtree(scratch, ignore_errors=True)
    (scratch / "tmp").mkdir(parents=True)
    out = scratch / "result.json"
    trace_file = build_dir / "traces" / f"{a.workload}.spans.jsonl"
    cpus = len(os.sched_getaffinity(0))
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(cpus), SPARK_LOCAL_DIRS=str(scratch / "spark-local"))
    cmd = ["java", f"-Xmx{HEAP}", "-Xss8m", "-XX:-UsePerfData"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += [f"-Djava.io.tmpdir={scratch / 'tmp'}",
            f"-Dspark.local.dir={scratch / 'spark-local'}",
            f"-Dspark.sql.warehouse.dir={scratch / 'warehouse'}",
            "-cp", f"{classes}:{SPARK_JARS}/*", "perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--scratch", str(scratch), "--out", str(out),
            "--trace-file", str(trace_file)]
    log = scratch / "jvm.log"
    proc = None
    try:
        with open(log, "w") as lf:
            proc = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT, env=env, cwd=scratch)
            try:
                rc = proc.wait(timeout=RUN_LIMIT_S - 10 - (time.monotonic() - run_start))
            except subprocess.TimeoutExpired:
                die("workload timed out:\n" + log.read_text()[-3000:])
        if rc != 0 or not out.is_file():
            die(f"workload exited with {rc}:\n" + log.read_text()[-5000:])
        res = json.loads(out.read_text())
        attempted, failed = res["attempted"], res["failed"]
        failures = list(res["failures"])
        e2e, layer, info = res["e2e"], res["layer"], res["info"]
        if "sql_check_dir" in info:
            ok, total, bad = duck_check(info.pop("sql_check_dir"))
            failed += total - ok
            failures += bad
            # A read that threw left no rows to check; it still counts as a
            # read that did not return the right answer.
            e2e["answer_recall"] = ok / max(1, total + info["reads_thrown"])
            layer["failed_ratio"] = failed / max(1, attempted)
            info["duckdb_checks"] = total
    finally:
        if proc is not None and proc.poll() is None:
            proc.kill()
            proc.wait()
        shutil.rmtree(scratch, ignore_errors=True)

    if a.trace:
        names = [(m["name"], m["unit"]) for m in spec["per_layer"]]
        unknown = set(layer) - {n for n, _ in names}
        if unknown:
            die(f"per-layer metrics missing from BENCHMARK.json: {sorted(unknown)}")
        metrics = {n: {"value": float(layer.get(n) or 0.0), "unit": u} for n, u in names}
        info["trace_file"] = str(trace_file.relative_to(root))
    else:
        names = [(m["name"], m["unit"]) for m in spec["end_to_end"]]
        missing = [n for n, _ in names if n not in e2e]
        if missing:
            die(f"workload did not report {missing}")
        metrics = {n: {"value": float(e2e[n] or 0.0), "unit": u} for n, u in names}

    info.update(git_sha=git_sha(root), source_digest=digest, heap=HEAP,
                spark_graft_cpus=cpus, python=sys.version.split()[0])
    for f in failures:
        print(f"# failed: {f}")
    print("# runtime " + json.dumps(info, sort_keys=True))
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
