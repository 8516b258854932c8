#!/usr/bin/env python3
"""The repository benchmark: closed-loop workloads over the declared faces.

Run from the repository root:

    python3 perfbench/run.py --workload arc_etl --seed 1 --seconds 10 --trace 0

The first run in a checkout builds the program (``sbt compile`` at the root)
and the harness (``perfbench/harness``) and generates the fixtures; later
runs reuse all three. Each run starts one harness JVM, prints every metric
that BENCHMARK.json declares (end-to-end ones with ``--trace 0``, per-layer
ones with ``--trace 1``) by name and unit, and ends with one JSON line.

Other entry points:

    python3 perfbench/run.py --record   # re-record the expected output digests
    python3 perfbench/run.py --test     # the harness's own unit tests
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
HARNESS = os.path.join(HERE, "harness")
WORK = os.path.join(HERE, ".work")
FIXTURES = ("sf0.1", "x10")
WORKLOADS = ("arc_etl", "llm_curation")
RUN_LIMIT_S = 170

# Spark on JDK 17 outside spark-submit needs these (the root build.sbt's list).
ADD_OPENS = [a for p in (
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar") for a in ("--add-opens", f"{p}=ALL-UNNAMED")]


def log(msg):
    print(msg, file=sys.stderr, flush=True)


def cores():
    return len(os.sched_getaffinity(0))


def driver_mem():
    """Half the machine's memory, clamped to 2-8 GB (the tier-1 test formula)."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
        return f"{min(8, max(2, kb // 2097152))}g"
    except (OSError, StopIteration):
        return "2g"


def sbt(cwd, *tasks, env=None):
    env = dict(os.environ, **(env or {}))
    env.setdefault("COURSIER_MODE", "offline")
    p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", *tasks], cwd=cwd, env=env,
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True, timeout=840)
    if p.returncode != 0:
        log(p.stdout[-4000:])
        raise SystemExit(f"sbt {' '.join(tasks)} failed in {cwd}")
    return p.stdout


def source_hash():
    h = hashlib.sha256()
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HARNESS, "build.sbt")]
    for base in (ROOT, HARNESS):
        files += glob.glob(os.path.join(base, "project", "*.sbt"))
        files += glob.glob(os.path.join(base, "project", "*.properties"))
        files += glob.glob(os.path.join(base, "src", "main", "**", "*.*"), recursive=True)
    for path in sorted(files):
        h.update(os.path.relpath(path, ROOT).encode() + b"\0")
        with open(path, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def build():
    """Compile the program and the harness unless this source tree is built;
    return the harness JVM's classpath."""
    stamp, cp_file = os.path.join(WORK, "build.stamp"), os.path.join(WORK, "classpath")
    digest = source_hash()
    if os.path.exists(cp_file) and os.path.exists(stamp) and open(stamp).read() == digest:
        return open(cp_file).read()
    os.makedirs(WORK, exist_ok=True)
    out = sbt(ROOT, "compile", "export Runtime/fullClasspath")
    program_cp = [l for l in out.splitlines() if os.pathsep in l or l.endswith("classes")][-1].strip()
    sbt(HARNESS, "compile", env={"PERFBENCH_PROGRAM_CP": program_cp})
    cp = os.pathsep.join([os.path.join(HARNESS, "target", "scala-2.13", "classes"), program_cp])
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp, "w") as f:
        f.write(digest)
    return cp


def ensure_fixtures():
    """Generate each fixture once and check it against the recorded digests.
    A cached fixture is reused while its files keep their recorded sizes."""
    with open(os.path.join(HERE, "fixtures.json")) as f:
        recorded = json.load(f)
    root = os.path.join(WORK, "fixtures")
    for name in FIXTURES:
        marker = os.path.join(root, name, ".sizes.json")
        if os.path.exists(marker):
            with open(marker) as f:
                sizes = json.load(f)
            if all(os.path.exists(os.path.join(root, name, t)) and
                   os.path.getsize(os.path.join(root, name, t)) == n for t, n in sizes.items()):
                continue
        sys.path.insert(0, HERE)
        import fixture
        log(f"generating fixture {name}")
        got = fixture.write(root, name)
        if got != recorded[name]:
            bad = sorted(t for t in got if got[t] != recorded[name].get(t))
            raise SystemExit(f"fixture {name} does not match fixtures.json: {bad}")
        sizes = {f"{t}.parquet": os.path.getsize(os.path.join(root, name, f"{t}.parquet"))
                 for t in fixture.TABLES}
        with open(marker, "w") as f:
            json.dump(sizes, f)


def harness(cp, run_dir, timeout, **opts):
    """Run the harness JVM once in `run_dir`; return its result JSON."""
    result = os.path.join(run_dir, "result.json")
    args = [x for k, v in opts.items() for x in (f"--{k}", str(v))]
    cmd = ["java", *ADD_OPENS, "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           "-Duser.timezone=UTC", f"-Xmx{driver_mem()}",
           f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}", f"-Dderby.system.home={run_dir}",
           "-cp", cp, "perfbench.Main", "--cores", str(cores()), "--fixtures",
           os.path.join(WORK, "fixtures"), "--run-dir", run_dir, "--result", result, *args]
    with open(os.path.join(run_dir, "jvm.log"), "ab") as out:
        p = subprocess.run(cmd, cwd=run_dir, stdout=out, stderr=subprocess.STDOUT,
                           timeout=max(1.0, timeout))
    if p.returncode != 0 or not os.path.exists(result):
        with open(os.path.join(run_dir, "jvm.log"), errors="replace") as f:
            log(f.read()[-4000:])
        raise SystemExit(f"harness exited with {p.returncode}")
    with open(result) as f:
        return json.load(f)


def new_run_dir():
    """A private directory per run: tmpdir, warehouse, Spark local dirs."""
    run_dir = os.path.join(WORK, "runs", str(os.getpid()))
    shutil.rmtree(run_dir, ignore_errors=True)
    for d in ("tmp", "warehouse", "local"):
        os.makedirs(os.path.join(run_dir, d))
    return run_dir


def run(cp, args):
    t0 = time.monotonic()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    run_dir = new_run_dir()
    r = harness(cp, run_dir, RUN_LIMIT_S - (time.monotonic() - t0), mode="run",
                workload=args.workload, seed=args.seed, seconds=args.seconds, trace=args.trace,
                expected=os.path.join(HERE, "expected.json"))
    failures = list(r["failures"])
    attempted, failed = r["attempted"], r["failed"]
    # Every scratch dir in the run's private tmpdir was left by this run's JVM.
    attempted += 1
    leftovers = sorted(os.path.basename(p) for p in
                       glob.glob(os.path.join(run_dir, "tmp", "__graft_scratch__*")))
    if leftovers:
        failed += 1
        failures.append(f"scratch dirs left behind: {', '.join(leftovers)}")
    # Keep the raw result (wall times, steal shares, per-face times) and spans.
    keep = os.path.join(WORK, "results", f"{args.workload}-seed{args.seed}-trace{args.trace}")
    os.makedirs(os.path.dirname(keep), exist_ok=True)
    shutil.copy(os.path.join(run_dir, "result.json"), keep + ".json")
    if os.path.exists(os.path.join(run_dir, "spans.jsonl")):
        shutil.move(os.path.join(run_dir, "spans.jsonl"), keep + ".spans.jsonl")
        log(f"spans written to {os.path.relpath(keep, ROOT)}.spans.jsonl")
    shutil.rmtree(run_dir, ignore_errors=True)

    for f in failures:
        log(f"FAILED {f}")
    declared = spec["per_layer"] if args.trace else spec["end_to_end"]
    # peak_rss_mb spreads too far between runs for a bound (README), so it is
    # reported with the per-layer metrics.
    values = {**r.get("per_layer", {}), "peak_rss_mb": r["peak_rss_mb"]} if args.trace else r
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
               for m in declared if values.get(m["name"]) is not None}
    steal = sorted(r["pass_steal"][1:])
    print(f"workload {args.workload}: seed {args.seed}, {len(steal)} timed passes, "
          f"{attempted} executions, {failed} failed; times are net of CPU steal "
          f"(median steal share {steal[len(steal) // 2]:.3f})")
    print(f"failed_frac = {failed / attempted:.6f} frac")
    if not args.trace:
        print(f"peak_rss_mb = {r['peak_rss_mb']:.6g} MB")
    for name, m in metrics.items():
        extra = f" (p{r['query_tail_pct']:.4g} of n={r['query_n']})" if name == "query_tail_s" else ""
        print(f"{name} = {m['value']:.6g} {m['unit']}{extra}")
    print(json.dumps({"correct": failed == 0 and len(metrics) == len(declared),
                      "attempted": attempted, "failed": failed, "metrics": metrics}))


def record(cp):
    """Dump every face with graft.Verify, prove the dump against the DuckDB
    oracle (tools/check_oracle.py), and store the digests the run's check
    uses."""
    digests = {}
    for w in WORKLOADS:
        run_dir = new_run_dir()
        r = harness(cp, run_dir, 1800, mode="record", workload=w)
        dump = os.path.join(WORK, "dump", w)
        shutil.rmtree(dump, ignore_errors=True)
        subprocess.run(["java", *ADD_OPENS, "-Dspark.ui.enabled=false", "-Duser.timezone=UTC",
                        f"-Xmx{driver_mem()}", f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}",
                        "-cp", cp, "graft.Verify", r["fixture"], dump, ",".join(r["digests"])],
                       cwd=run_dir, env=dict(os.environ, SPARK_GRAFT_CPUS=str(cores())),
                       check=True, timeout=1800)
        subprocess.run([sys.executable, os.path.join(ROOT, "tools", "check_oracle.py"),
                        r["fixture"], dump], check=True)
        digests[w] = r["digests"]
        shutil.rmtree(run_dir, ignore_errors=True)
    with open(os.path.join(HERE, "expected.json"), "w") as f:
        json.dump(digests, f, indent=1, sort_keys=True)
        f.write("\n")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record", action="store_true")
    ap.add_argument("--test", action="store_true")
    args = ap.parse_args()
    if not os.path.exists(os.path.join(ROOT, "src", "main", "scala", "graft", "SparkEntry.scala")):
        log("the program's sources are not in this checkout")
        return 2
    cp = build()
    if args.test:
        program_cp = cp.split(os.pathsep, 1)[1]
        print(sbt(HARNESS, "test", env={"PERFBENCH_PROGRAM_CP": program_cp})[-3000:])
        return 0
    ensure_fixtures()
    if args.record:
        record(cp)
    elif args.workload:
        run(cp, args)
    else:
        ap.error("--workload is required")
    return 0


if __name__ == "__main__":
    sys.exit(main())
