#!/usr/bin/env python3
"""graft benchmark launcher.

    python3 perfbench/run.py --workload <serve|ingest|analytics> --seed <n>
                             --seconds <s> --trace <0|1>

Run from the repository root. Builds the engine and the benchmark from
source (perfbench/build.py) into $CARGO_TARGET_DIR or .bench_build, runs
one workload in a fresh JVM (graft.bench.Main), checks the analytics
outputs against the DuckDB oracle, and prints one JSON object as the last
stdout line: {"correct", "attempted", "failed", "metrics"}. Everything the
run writes stays under the build directory. Exits non-zero, without a
result line, when the build or the run fails. See perfbench/README.md.
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

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

JVM_TIMEOUT_S = 165


def canon(df):
    """Order-independent digest of a result table: columns sorted by name,
    rows sorted, floats at 6 significant digits."""
    df = df.reindex(sorted(df.columns), axis=1)
    df = df.sort_values(by=list(df.columns)).reset_index(drop=True)
    return hashlib.md5(df.to_csv(index=False, float_format="%.6g").encode()
                       ).hexdigest()


def oracle_check(out_dir, corpus_dir):
    """Compares every entry's rows with its DuckDB oracle over the same
    corpus: row count, column names and canon() digest. Returns the list
    of mismatches."""
    import duckdb
    import pyarrow.parquet as pq
    con = duckdb.connect()
    for p in glob.glob(os.path.join(corpus_dir, "*.parquet")):
        name = os.path.basename(p)[:-len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM "
                    f"read_parquet('{p}/*.parquet')")
    with open(os.path.join(out_dir, "oracle_sql.json")) as f:
        oracle = json.load(f)
    bad = []
    for name in sorted(oracle):
        files = glob.glob(os.path.join(out_dir, name, "*.parquet"))
        if not files:
            bad.append(f"{name}: no output")
            continue
        got = pq.read_table(files).to_pandas()
        try:
            want = con.execute(oracle[name]).df()
        except Exception as e:  # an oracle that cannot run is a failed check
            bad.append(f"{name}: oracle error {e}")
            continue
        if len(got) != len(want) or sorted(got.columns) != sorted(want.columns):
            bad.append(f"{name}: {len(got)} rows {sorted(got.columns)} vs "
                       f"{len(want)} rows {sorted(want.columns)}")
        elif canon(got) != canon(want):
            bad.append(f"{name}: values differ")
    return bad


def run(args, root):
    build_dir = os.path.abspath(os.environ.get("CARGO_TARGET_DIR")
                                or os.path.join(root, ".bench_build"))
    os.makedirs(build_dir, exist_ok=True)
    build.build(root, build_dir)
    work = os.path.join(build_dir, "work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    out_dir = os.path.join(build_dir, "out")
    os.makedirs(out_dir, exist_ok=True)
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    # the archive the build recorded; -Xshare:on makes the JVM exit rather
    # than start without it
    cds = [f"-XX:SharedArchiveFile={os.path.join(build_dir, 'bench.jsa')}",
           "-Xshare:on"]
    cmd = build.java_cmd(build_dir, os.path.join(work, "tmp"), cds) + [
        "graft.bench.Main", "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--work", work]
    spans = os.path.join(out_dir, f"{tag}-spans.json")
    if args.trace:
        cmd += ["--spans", spans]
    env = build.spark_env()
    try:
        with open(os.path.join(out_dir, f"{tag}.log"), "w") as log:
            done = subprocess.run(cmd, cwd=work, env=env, stdout=subprocess.PIPE,
                                  stderr=log, text=True, timeout=JVM_TIMEOUT_S)
        lines = [l for l in done.stdout.splitlines()
                 if l.startswith("BENCH_RESULT ")]
        if done.returncode != 0 or not lines:
            raise RuntimeError(f"benchmark JVM exited {done.returncode} "
                               f"without a result; see {log.name}")
        res = json.loads(lines[-1][len("BENCH_RESULT "):])
        if args.trace:
            res["spans_file"] = spans
        if args.workload == "analytics":
            t0 = time.time()
            bad = oracle_check(res["info"].pop("check_outputs"),
                               res["info"].pop("check_corpus"))
            res["info"]["oracle_check_s"] = f"{time.time() - t0:.3f}"
            res["failed"] += len(bad)
            res["failures"] += bad
            res["correct"] = res["correct"] and not bad
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return res


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True,
                    choices=["serve", "ingest", "analytics"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    try:
        res = run(args, os.getcwd())
    except (build.BuildError, RuntimeError, subprocess.TimeoutExpired) as e:
        sys.exit(f"perfbench: {e}")
    for k, v in sorted(res["info"].items()):
        print(f"# {k}: {v}")
    for f in res["failures"]:
        print(f"# FAILED {f}")
    print(json.dumps({k: res[k] for k in
                      ("correct", "attempted", "failed", "metrics")}))


if __name__ == "__main__":
    main()
