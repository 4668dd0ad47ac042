"""Runs one benchmark workload and prints its result.

Usage (from the root of the repository):
  python3 perfbench/run.py --workload <er_full|er_delta> --seed <n>
      --seconds <s> --trace <0|1>

Builds the program and the benchmark if a source changed (see build.py),
then runs the workload in one JVM on local[4]. The last line of standard
output is one JSON object: {"correct", "attempted", "failed", "metrics"}.
The line before it holds the run's details (per-call walls and CPU seconds, CPU idle
and steal shares from /proc/stat, each correctness check). A traced er_full
run also runs every catalog query on the reference tables in
perfbench/tables and checks its outputs against the repo's DuckDB oracle,
scripts/check.py (see catalog_check). Every file the run writes is under
.bench_build, and its work directory is removed at the end. Exits non-zero,
after printing the result, when a correctness check fails, and without a
result when the run cannot complete.
"""

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ("er_full", "er_delta")
# the run's deadline after the build, for the JVM and the oracle check
TIMEOUT_S = 172
TABLES = os.path.join(build.ROOT, "perfbench", "tables")
CHECK = os.path.join(build.ROOT, "scripts", "check.py")
# fingerprint of each catalog query's output in a run whose outputs
# scripts/check.py accepted in full
ACCEPTED = os.path.join(build.ROOT, "perfbench", "catalog_accepted.json")
# what spark-submit passes to the JVM on JDK 17 (the program's build file
# sets the same list for its own forked runs)
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io",
             "java.base/java.net", "java.base/java.nio",
             "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs",
             "java.base/sun.security.action", "java.base/sun.util.calendar"]


def fingerprint(con, path):
    """Order-insensitive content hash of a parquet output: the hash of every
    row (columns in name order) combined with bit_xor, plus the row count,
    the form of the program's StageStore.fingerprint."""
    src = f"read_parquet('{path}/*.parquet')"
    cols = sorted(r[0] for r in con.execute(f"DESCRIBE SELECT * FROM {src}").fetchall())
    quoted = ", ".join('"' + c.replace('"', '""') + '"' for c in cols)
    h, n = con.execute(f"SELECT bit_xor(hash({quoted})), count(*) FROM {src}").fetchone()
    return f"{h or 0:x}-{n}"


def catalog_check(outputs, timeout):
    """Checks the catalog outputs against the DuckDB oracle.

    An output whose fingerprint is in catalog_accepted.json is an output
    the oracle accepted. The rest go to scripts/check.py: their oracle SQL
    is the only SQL left in <outputs>/oracle_sql.json. (The oracle for all
    69 queries takes about a minute on 4 cores, most of it in one query,
    which the run's time limit has no room for.)
    """
    import duckdb
    with open(ACCEPTED) as fh:
        accepted = json.load(fh)
    oracle_path = os.path.join(outputs, "oracle_sql.json")
    with open(oracle_path) as fh:
        oracle = json.load(fh)
    ran = [q for q in os.listdir(outputs) if os.path.isdir(os.path.join(outputs, q))]
    con = duckdb.connect()
    fingerprints = {q: fingerprint(con, os.path.join(outputs, q)) for q in ran}
    con.close()
    names = sorted(set(oracle) | set(ran))
    changed = [q for q in names if accepted.get(q) is None or fingerprints.get(q) != accepted[q]]
    detail = f"{len(names) - len(changed)}/{len(names)} outputs as accepted"
    if not changed:
        return {"name": "catalog.oracle", "ok": True, "detail": detail}, fingerprints
    unoracled = [q for q in changed if q not in oracle]
    with open(oracle_path, "w") as fh:
        json.dump({q: oracle[q] for q in changed if q in oracle}, fh)
    try:
        res = subprocess.run([sys.executable, CHECK, TABLES, outputs],
                             stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                             text=True, timeout=timeout)
        lines = res.stdout.splitlines()
        ok = res.returncode == 0 and not unoracled
        detail += "; the rest by scripts/check.py: " + "; ".join(
            lines[-1:] + [ln for ln in lines if ln.startswith("FAIL")]
            + [f"FAIL {q}: no oracle SQL" for q in unoracled])
    except subprocess.TimeoutExpired:
        ok = False
        detail += f"; scripts/check.py on {', '.join(changed)} ran out of time"
    return {"name": "catalog.oracle", "ok": ok, "detail": detail}, fingerprints


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    args = ap.parse_args()

    try:
        cp = build.build()
    except (build.BuildError, OSError) as e:
        sys.exit(f"build failed: {e}")

    work = os.path.join(build.OUT, "work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    # G1 and fixed sets of JIT compiler and GC threads, whose CPU time
    # Main reads
    cmd = [build.java(), "-Xms3g", "-Xmx3g", "-Xss8m", "-XX:+UseG1GC",
           "-XX:-UseDynamicNumberOfCompilerThreads", "-XX:-UseDynamicNumberOfGCThreads",
           f"-Djava.io.tmpdir={work}/tmp",
           f"-Dderby.stream.error.file={work}/derby.log"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", args.trace, "--work", work,
            "--tables", TABLES]
    deadline = time.monotonic() + TIMEOUT_S
    proc = subprocess.Popen(cmd, cwd=work, stdout=subprocess.PIPE, text=True)

    def stop():
        proc.kill()
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)

    def on_signal(signum, _frame):
        stop()
        sys.exit(128 + signum)
    signal.signal(signal.SIGTERM, on_signal)
    signal.signal(signal.SIGINT, on_signal)
    try:
        out, _ = proc.communicate(timeout=deadline - time.monotonic())
    except subprocess.TimeoutExpired:
        stop()
        sys.exit(f"{args.workload} did not finish within {TIMEOUT_S} s")

    lines = [line for line in out.splitlines() if line.startswith("{")]
    if len(lines) < 2 or not lines[-1].startswith('{"correct"'):
        shutil.rmtree(work, ignore_errors=True)
        sys.stderr.write(out)
        sys.exit(f"{args.workload} exited with code {proc.returncode} and no result")
    details, result = json.loads(lines[-2]), json.loads(lines[-1])
    code = proc.returncode
    outputs = details["details"].get("catalog_outputs")
    if outputs:
        check, fingerprints = catalog_check(outputs, max(1.0, deadline - time.monotonic()))
        details["details"]["checks"].append(check)
        details["details"]["catalog_fingerprints"] = fingerprints
        if not check["ok"]:
            result["correct"] = False
            code = code or 1
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(details))
    print(json.dumps(result), flush=True)
    sys.exit(code)


if __name__ == "__main__":
    main()
