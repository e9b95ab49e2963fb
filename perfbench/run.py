#!/usr/bin/env python3
"""Runs one benchmark workload and prints its metrics.

Usage (from the repository root):
  python3 perfbench/run.py --workload etl_curation --seed 1 --seconds 15 --trace 0

Builds the engine if needed (perfbench/build.py), generates the input
tables once (perfbench/gen_data.py), runs the JVM side (perfbench.Main)
and then checks the outputs it dumped: oracle-backed queries against
DuckDB by the rules of tools/compare.py, the others against the
fingerprint their first run recorded. `--seconds` is accepted and not
used: the JVM side runs a fixed protocol, whatever time it takes.
The last stdout line is one JSON object with `correct`, `attempted`,
`failed` and `metrics`; everything else goes to stderr. All files are
written under perfbench/.work.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
sys.path[:0] = [BENCH, os.path.join(ROOT, "tools")]
import build  # noqa: E402  (the benchmark's build file, beside this one)
import duckdb  # noqa: E402
import gen_data  # noqa: E402
try:
    import compare  # noqa: E402  (tools/compare.py, the oracle comparison rules)
except ImportError:
    raise SystemExit("perfbench: tools/compare.py not found; run from a checkout of the repository")
WORK = os.path.join(BENCH, ".work")
JVM_TIMEOUT_S = 170
OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
         "java.net", "java.nio", "java.util", "java.util.concurrent",
         "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
         "sun.security.action", "sun.util.calendar"]


def log(*a):
    print(*a, file=sys.stderr, flush=True)


def data_dir():
    """Generates the input tables once per checkout and generator version."""
    with open(gen_data.__file__, "rb") as f:
        tag = hashlib.sha256(f.read()).hexdigest()[:16]
    out = os.path.join(WORK, f"data-sf{gen_data.SCALE}-{tag}")
    if not os.path.exists(os.path.join(out, "_done")):
        shutil.rmtree(out, ignore_errors=True)
        gen_data.write(out)
        open(os.path.join(out, "_done"), "w").close()
    return out


def run_jvm(classes, args, data, run_dir):
    cores = len(os.sched_getaffinity(0))
    # A fixed heap size: the full GC after every operation would otherwise
    # shrink the heap and make the next operation pay to grow it again.
    cmd = (["java"] + [x for p in OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
           + ["-XX:-UsePerfData", "-Xms2g", "-Xmx2g", "-Xss4m", f"-Djava.io.tmpdir={run_dir}/tmp",
              "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
              "-cp", classes + os.pathsep + os.path.join(build.spark_jars(), "*"),
              "perfbench.Main", args.workload, str(args.seed), str(args.trace),
              data, run_dir, str(cores),
              os.path.join(BENCH, "manifest.tsv")])
    with open(os.path.join(run_dir, "jvm.log"), "w") as out:
        proc = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT)
        try:
            rc = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            rc = -9
    if rc != 0:
        with open(os.path.join(run_dir, "jvm.log")) as f:
            log(f.read()[-4000:])
        raise SystemExit(f"perfbench: JVM exited with {rc}")
    with open(os.path.join(run_dir, "jvm.log")) as f:
        for line in f:
            if line.startswith("[perfbench]"):
                log(line.rstrip())
    with open(os.path.join(run_dir, "result.json")) as f:
        return json.load(f)


def oracle_mismatch(con, got, sql):
    """None when `got` equals the DuckDB result of `sql` by the rules of
    tools/compare.py (columns, row count, dtypes, cells), else a reason."""
    want = compare.canon(con.execute(sql).fetchdf())
    if list(got.columns) != list(want.columns):
        return f"columns {list(got.columns)} != {list(want.columns)}"
    if len(got) != len(want):
        return f"rows {len(got)} != {len(want)}"
    for c in got.columns:
        if str(got[c].dtype) != str(want[c].dtype):
            return f"dtype of {c}: {got[c].dtype} != {want[c].dtype}"
        for i, (x, y) in enumerate(zip(got[c].tolist(), want[c].tolist())):
            if not compare.cell_eq(x, y):
                return f"{c}[{i}]: {x!r} != {y!r}"
    return None


def fingerprint(df):
    """Order-insensitive digest of a result's columns and rows."""
    rows = sorted(repr(tuple(r)) for r in df.astype(str).itertuples(index=False))
    h = hashlib.sha256(repr(list(df.columns)).encode())
    for r in rows:
        h.update(r.encode())
    return h.hexdigest()


def check_outputs(result, data):
    """Returns the names of dumped outputs that do not match."""
    con = duckdb.connect()
    for t in compare.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data}/{t}.parquet'")
    fp_path = os.path.join(WORK, f"fingerprints-sf{gen_data.SCALE}.json")
    fps = json.load(open(fp_path)) if os.path.exists(fp_path) else {}
    bad = []
    for chk in result["checks"]:
        files = sorted(glob.glob(os.path.join(chk["dir"], "*.parquet")))
        got = con.execute(f"SELECT * FROM read_parquet({files!r})").fetchdf()
        got = compare.canon(got)
        if chk["oracle"] is not None:
            try:
                why = oracle_mismatch(con, got, chk["oracle"])
            except Exception as e:  # an oracle that cannot run is a failed check
                why = f"oracle error: {e}"
        else:
            fp = fingerprint(got)
            why = None if fps.setdefault(chk["name"], fp) == fp else "fingerprint changed"
        if why:
            log(f"[perfbench] output check {chk['name']}: {why}")
            bad.append(chk["name"])
    with open(fp_path, "w") as f:
        json.dump(fps, f, indent=1, sort_keys=True)
    return bad


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not os.path.exists(os.path.join(ROOT, "src", "main", "scala", "graft", "SparkEntry.scala")):
        raise SystemExit("perfbench: engine sources not found; run from a checkout of the repository")
    os.makedirs(WORK, exist_ok=True)
    classes = build.build()
    data = data_dir()
    run_dir = os.path.join(WORK, "run")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    result = run_jvm(classes, args, data, run_dir)
    for name, secs in sorted(result["ops"].items(), key=lambda kv: -kv[1]):
        log(f"[perfbench] {secs:8.3f} s  {name}")
    bad = check_outputs(result, data)
    failed = result["failed"] + len(bad)
    if result["failed_ops"] or bad:
        log("[perfbench] failed:", ", ".join(result["failed_ops"] + bad))
    metrics = result["metrics"]
    print(json.dumps({"correct": failed == 0, "attempted": result["attempted"],
                      "failed": failed, "metrics": metrics}))
    shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    main()
