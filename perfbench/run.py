#!/usr/bin/env python3
"""graft benchmark: one command per workload.

    python3 perfbench/run.py --workload curate|ingest --seed N \
        --seconds S --trace 0|1

Builds the program from the repository's sources together with the
harness in perfbench/src (sbt; skipped when nothing changed since the
last build), runs one JVM that generates the seeded input from the
fixture in perfbench/fixtures, sets up, warms up and measures, then checks the outputs: the last pass must agree
with the first, oracle-backed jobs must match DuckDB running the
program's own oracle SQL over the same generated input, and each
workload's own checks (near-dup and ANN recall floors, ingest
durability) must hold. The last stdout line is one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end metrics, with --trace 1
the per-layer metrics of the traced run. The exit code is non-zero when
a check fails or the program cannot be built.

Everything the run writes stays under perfbench/work (outputs, stores,
the trace in work/trace/spans.jsonl) and perfbench/target (the build).
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, "work")
STAMP = os.path.join(HERE, "target", "bench-classpath.json")
FIXTURE = os.path.join(HERE, "fixtures", "sf0.001")
WORKLOADS = ("curate", "ingest")

# Spark on JDK 17 needs these outside spark-submit (the same list the
# program's own build passes to forked runs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_digest():
    """Hash of every file the build reads, so an unchanged tree skips sbt."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
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
    """Compile program + harness; returns the runtime classpath."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")) or \
            not os.path.isfile(os.path.join(ROOT, "build.sbt")):
        log("the program's sources (src/main/scala, build.sbt) are not next to perfbench/")
        sys.exit(2)
    digest = source_digest()
    if os.path.isfile(STAMP):
        with open(STAMP) as fh:
            stamp = json.load(fh)
        if stamp.get("digest") == digest:
            return stamp["classpath"]
    log("building (sbt compile) ...")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    tmp = os.path.join(HERE, "target", "tmp")
    os.makedirs(tmp, exist_ok=True)
    opts = env.get("SBT_OPTS", "")
    if "sbt.offline" not in opts:
        opts += " -Dsbt.offline=true"
    env["SBT_OPTS"] = f"{opts} -Djava.io.tmpdir={tmp}".strip()
    proc = subprocess.run(
        ["sbt", "-batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdin=subprocess.DEVNULL,
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    # `export` prints the classpath as a bare line among sbt's log lines
    cps = [l.strip() for l in proc.stdout.splitlines() if ".jar" in l and not l.startswith("[")]
    if proc.returncode != 0 or not cps:
        sys.stderr.write(proc.stdout[-4000:])
        log(f"build failed (sbt exit {proc.returncode})")
        sys.exit(2)
    classpath = cps[-1]
    os.makedirs(os.path.dirname(STAMP), exist_ok=True)
    with open(STAMP, "w") as fh:
        json.dump({"digest": digest, "classpath": classpath}, fh)
    return classpath


def cores():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def run_jvm(classpath, args):
    shutil.rmtree(WORK, ignore_errors=True)
    os.makedirs(os.path.join(WORK, "tmp"))
    cmd = ["java", "-Xmx3g", "-XX:+UseParallelGC",
           f"-Djava.io.tmpdir={os.path.join(WORK, 'tmp')}",
           f"-Dderby.system.home={WORK}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "graftbench.Main", args.workload, str(args.seed),
            str(args.seconds), str(args.trace), WORK, str(cores()), FIXTURE]
    proc = subprocess.run(cmd, cwd=WORK, stdin=subprocess.DEVNULL,
                          stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    result = os.path.join(WORK, "result.json")
    if proc.returncode != 0 or not os.path.isfile(result):
        sys.stderr.write(proc.stderr[-6000:])
        log(f"benchmark JVM failed (exit {proc.returncode})")
        sys.exit(3)
    with open(result) as fh:
        return json.load(fh)


def output_checks(res):
    """Every job's last pass must give the rows of its first (count and an
    order-insensitive hash), and the first pass of every oracle-backed job
    must match DuckDB running the program's oracle SQL on the same input
    files."""
    import duckdb
    con = duckdb.connect()
    tables = res["tables"]
    for t in sorted(os.listdir(tables)):
        if t.endswith(".parquet"):
            con.execute(f"CREATE VIEW {t[:-8]} AS SELECT * FROM "
                        f"read_parquet('{tables}/{t}/*.parquet')")

    def digest(path):
        rel = f"read_parquet('{path}/*.parquet')"
        cols = ", ".join(f'"{d[0]}"' for d in con.execute(f"SELECT * FROM {rel} LIMIT 0").description)
        return con.execute(f"SELECT count(*), sum(hash({cols})::HUGEINT) FROM {rel}").fetchone()

    out = []
    for o in res["outputs"]:
        try:
            first, last = digest(o["path"]), digest(o["last_path"])
            out.append((f"passes_agree.{o['job']}", first == last, f"rows {first[0]} vs {last[0]}"))
        except Exception as e:  # a missing or unreadable output fails
            out.append((f"passes_agree.{o['job']}", False, str(e)[:300]))
        if not o["oracle"]:
            continue
        name = f"oracle.{o['job']}"
        try:
            got = con.execute(f"SELECT * FROM read_parquet('{o['path']}/*.parquet')")
            gcols = [d[0] for d in got.description]
            grows = got.fetchall()
            exp = con.execute(o["oracle"])
            ecols = [d[0] for d in exp.description]
            erows = exp.fetchall()
        except Exception as e:  # a failed read or query is a failed check
            out.append((name, False, str(e)[:300]))
            continue
        if sorted(gcols) != sorted(ecols):
            out.append((name, False, f"columns {sorted(gcols)} vs oracle {sorted(ecols)}"))
            continue
        gi = [gcols.index(c) for c in sorted(gcols)]
        ei = [ecols.index(c) for c in sorted(ecols)]
        # order-insensitive, exact: floats compare by repr, which
        # round-trips every bit
        g = sorted(repr(tuple(r[i] for i in gi)) for r in grows)
        e = sorted(repr(tuple(r[i] for i in ei)) for r in erows)
        if g == e:
            out.append((name, True, f"{len(g)} rows"))
        else:
            diff = next((i for i, (a, b) in enumerate(zip(g, e)) if a != b), min(len(g), len(e)))
            first = (g[diff] if diff < len(g) else None, e[diff] if diff < len(e) else None)
            out.append((name, False, f"{len(g)} rows vs oracle {len(e)}; first diff {first}"[:400]))
    return out


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    classpath = build()
    t0 = time.time()
    res = run_jvm(classpath, args)
    t1 = time.time()
    checks = [(c["name"], c["ok"], c["detail"]) for c in res["checks"]]
    checks += output_checks(res)
    t2 = time.time()
    bad = [c for c in checks if not c[1]]

    for e in res["errors"]:
        log(f"error: {e}")
    for n, ok, d in checks:
        if not ok:
            log(f"check FAILED {n}: {d}")
    log(f"{args.workload} seed={args.seed}: {res['passes']} passes, walls "
        f"{[round(w, 3) for w in res['pass_walls']]}, set-up "
        f"{res['setup_s']:.3f} s {res['setup_parts']}, {len(checks) - len(bad)}/{len(checks)} checks ok; "
        f"JVM {t1 - t0:.1f} s (checks {res['check_s']:.1f} s), DuckDB checks {t2 - t1:.1f} s")
    log("median seconds per operation: " + ", ".join(
        f"{k} {v:.3f}" for k, v in sorted(res["op_medians"].items(), key=lambda kv: -kv[1])))
    if args.trace == 0:
        p, n = res["tail_percentile"], res["op_samples"]
        print(f"trigger_tail_s is p{p:g} of {n} operations ({n * (1 - p / 100):.1f} above it)")
    for k, v in res["metrics"].items():
        print(f"{k} = {v['value']} {v['unit']}")
    if args.trace == 1:
        self_s = {k[5:-2]: v["value"] for k, v in res["metrics"].items()
                  if k.startswith("self.")}
        total = sum(self_s.values()) or 1.0
        print("span self time per traced pass, by layer:")
        for layer, v in sorted(self_s.items(), key=lambda kv: -kv[1]):
            print(f"  {layer:10s} {v:9.3f} s  {100 * v / total:5.1f}%")

    attempted = res["attempted"]
    failed = min(attempted, res["failed_ops"] + len(bad))
    print(json.dumps({
        "correct": not bad and res["failed_ops"] == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": res["metrics"],
    }))
    sys.exit(0 if not bad and res["failed_ops"] == 0 else 1)


if __name__ == "__main__":
    main()
