#!/usr/bin/env python3
"""Run one benchmark workload and print its result as the last stdout line.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run in a checkout builds the
program and the harness (`sbt`, offline) and generates the input tables;
later runs reuse both while their sources are unchanged. Everything the
run writes stays under `.bench_build/` in the checkout. See README.md in
this directory for the workloads and metrics.
"""
import argparse
import hashlib
import json
import os
import re
import shutil
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path.cwd()
BENCH = Path(__file__).resolve().parent
BUILD = ROOT / ".bench_build"
WORKLOADS = ("sink_parity_bulk", "query_mix")
RUN_LIMIT_S = 150        # harness time limit; a whole run stays under 180 s
BUILD_LIMIT_S = 700      # sbt time limit; a run that builds stays under 900 s

# Spark on JDK 17 outside spark-submit needs these (the build.sbt list).
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def die(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def digest(files):
    h = hashlib.sha256()
    for f in sorted(files):
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def build():
    """Compile the program and the harness; returns the harness classpath."""
    if not (ROOT / "build.sbt").is_file() or not (ROOT / "src" / "main" / "scala").is_dir():
        die("no program sources (build.sbt, src/main/scala) in the current directory")
    sources = [ROOT / "build.sbt", *(ROOT / "project").glob("*.sbt"),
               *(ROOT / "project").glob("*.properties"),
               *(p for p in (ROOT / "src" / "main").rglob("*") if p.is_file()),
               *(p for p in (BENCH / "harness").rglob("*")
                 if p.is_file() and p.suffix in (".scala", ".sbt", ".properties")
                 and "target" not in p.relative_to(BENCH).parts)]
    key = digest(sources)
    cp_file = BUILD / "classpath.json"
    if cp_file.exists():
        saved = json.loads(cp_file.read_text())
        if saved["stamp"] == key:
            return saved["classpath"]
    BUILD.mkdir(exist_ok=True)
    (BUILD / "sbt-tmp").mkdir(exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env["SBT_OPTS"] = " ".join([env.get("SBT_OPTS", "-Dsbt.offline=true"),
                               "-XX:-UsePerfData", f"-Djava.io.tmpdir={BUILD / 'sbt-tmp'}"])
    with open(BUILD / "build.log", "w") as log:
        r = subprocess.run(
            ["sbt", "--batch", "--no-server", "-Dsbt.log.noformat=true",
             "compile", "export Runtime/fullClasspath"],
            cwd=BENCH / "harness", env=env, stdout=subprocess.PIPE,
            stderr=subprocess.STDOUT, text=True, timeout=BUILD_LIMIT_S)
        log.write(r.stdout)
    lines = [l for l in r.stdout.splitlines() if ".jar" in l and not l.startswith("[")]
    if r.returncode != 0 or not lines:
        die(f"build failed, see {BUILD / 'build.log'}", 1)
    cp_file.write_text(json.dumps({"stamp": key, "classpath": lines[-1].strip()}))
    return lines[-1].strip()


def data():
    """Generate the input tables once per version of datagen.py."""
    key = digest([BENCH / "datagen.py"])[:16]
    d = BUILD / "data" / key
    if (d / "DONE").exists():
        return d
    tmp = BUILD / "data" / f"{key}.tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    subprocess.run([sys.executable, str(BENCH / "datagen.py"), str(tmp)], check=True)
    (tmp / "DONE").touch()
    shutil.rmtree(d, ignore_errors=True)
    tmp.rename(d)
    return d


def run_harness(cp, args, data_dir, deadline):
    run = BUILD / "run" / args.workload
    shutil.rmtree(run, ignore_errors=True)
    for sub in ("out", "tmp"):
        (run / sub).mkdir(parents=True)
    cmd = ["java", "-XX:-UsePerfData", "-Xms2g", "-Xmx2g", *ADD_OPENS,
           f"-Djava.io.tmpdir={run / 'tmp'}", "-cp", cp, "perfbench.Main",
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--data", str(data_dir), "--out", str(run / "out")]
    with open(run / "harness.log", "w") as log:
        try:
            r = subprocess.run(cmd, stdout=log, stderr=subprocess.STDOUT,
                               timeout=max(deadline - time.monotonic(), 1))
        except subprocess.TimeoutExpired:
            die(f"harness exceeded the time limit, see {run / 'harness.log'}", 1)
    result = run / "out" / "result.json"
    if r.returncode != 0 or not result.exists():
        die(f"harness failed (exit {r.returncode}), see {run / 'harness.log'}", 1)
    return run, json.loads(result.read_text())


# ---------------------------------------------------------------- checks

def check_shards(d, prefix, written, strays):
    """The Parquet files are exactly {prefix}-0..n-1.parquet and equal the
    sink's writtenFiles, and no staging directory is left. Other leftover
    entries are appended to `strays`: they are reported, not failed,
    since Parquet readers skip hidden files."""
    names = sorted(os.listdir(d))
    pat = re.compile(re.escape(prefix) + r"-(\d+)\.parquet")
    idx = sorted(int(m.group(1)) for n in names if (m := pat.fullmatch(n)))
    problems = []
    if idx != list(range(len(idx))):
        problems.append(f"{d}: shard indices not contiguous: {idx[:10]}")
    if [n for n in names if n.endswith(".parquet") and not pat.fullmatch(n)]:
        problems.append(f"{d}: Parquet files outside the shard sequence")
    if written != [str(Path(d) / f"{prefix}-{i}.parquet") for i in range(len(idx))]:
        problems.append(f"{d}: writtenFiles differ from the shard files on disk")
    staging = [n for n in names if n.startswith((".graft-staging", ".batch-"))]
    if staging:
        problems.append(f"{d}: staging directories left behind: {staging[:5]}")
    strays += [str(Path(d) / n) for n in names if not pat.fullmatch(n)
               and n not in staging and n != "_graft_commits.tsv"]
    return problems, [Path(d) / f"{prefix}-{i}.parquet" for i in range(len(idx))]


def compare_stream(shards, pieces):
    """Reads `shards` in order with pyarrow and compares them, row for row
    and in order, with the concatenation of the expected `pieces`."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    expected = pa.concat_tables(pieces)
    pos = 0
    for f in shards:
        t = pq.read_table(f)
        if pos + t.num_rows > expected.num_rows:
            return [f"{f}: more rows read back than written"]
        want = expected.slice(pos, t.num_rows).cast(t.schema)
        for name in t.column_names:
            if not t.column(name).equals(want.column(name)):
                return [f"{f}: column {name} differs from the rows written (row offset {pos})"]
        pos += t.num_rows
    if pos != expected.num_rows:
        return [f"read back {pos} rows, wrote {expected.num_rows}"]
    return []


def check_parity(checks, strays):
    import pyarrow.parquet as pq
    problems = []
    for p in checks["passes"]:
        found, shards = check_shards(p["dir"], p["prefix"], p["written"], strays)
        problems += found
        problems += compare_stream(shards, [pq.read_table(f) for f in p["sources"]])
    return problems


def check_queries(checks, strays):
    """Each query's rows against DuckDB running its oracle SQL over the same
    tables. The oracle's normalised result depends only on the tables and
    the SQL, so it is cached under .bench_build/oracle."""
    import duckdb
    import pandas as pd
    sys.path.insert(0, str(ROOT / "scripts"))
    from verify_local import norm  # the project's own oracle normalisation
    con = duckdb.connect()
    tables = sorted(Path(checks["tables"]).glob("*.parquet"))
    for f in tables:
        con.execute(f"CREATE VIEW {f.stem} AS SELECT * FROM '{f}'")
    cache = BUILD / "oracle"
    cache.mkdir(exist_ok=True)
    problems = []
    for name, sql in checks["oracle"].items():
        out = Path(checks["results"]) / name
        if not out.exists():
            continue  # the query itself failed; already counted
        try:
            got = norm(con.sql(f"SELECT * FROM '{out}/*.parquet'").df())
            key = hashlib.sha256((str(tables[0].parent) + "\0" + sql).encode()).hexdigest()
            if (cache / key).exists():
                want = pd.read_pickle(cache / key)
            else:
                want = norm(con.sql(sql).df())
                want.to_pickle(cache / key)
            if list(got.columns) != list(want.columns):
                problems.append(f"{name}: columns {list(got.columns)} vs oracle {list(want.columns)}")
            elif not got.equals(want):
                problems.append(f"{name}: {len(got)} rows differ from the oracle's {len(want)}")
        except Exception as e:  # noqa: BLE001 - any error is a failed check
            problems.append(f"{name}: oracle check error {type(e).__name__}: {e}")
    return problems


CHECKS = {"sink_parity_bulk": check_parity, "query_mix": check_queries}


def pyarrow_reference(data_dir, out, n_copies=2, buffer_bytes=16 << 20, shard_bytes=64 << 20):
    """The reference writer's loop in pyarrow over the parity sink's input
    copies: 65 536-row batches buffered to 16 MiB of Arrow bytes, one
    ParquetWriter per 64 MiB shard; rows/s."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    copies = [pq.read_table(data_dir / "sink" / f"lineitem-{i}.parquet") for i in range(n_copies)]
    out.mkdir(parents=True, exist_ok=True)
    t0 = time.perf_counter()
    writer, shard, flushed, buf, nbuf = None, 0, 0, [], 0

    def flush():
        nonlocal writer, shard, flushed, buf, nbuf
        if writer is None or flushed > shard_bytes:
            if writer is not None:
                writer.close()
            writer = pq.ParquetWriter(out / f"ref-{shard}.parquet", copies[0].schema, compression="snappy")
            shard, flushed = shard + 1, 0
        writer.write_table(pa.Table.from_batches(buf))
        flushed, buf, nbuf = flushed + nbuf, [], 0
    for table in copies:
        for b in table.to_batches(max_chunksize=65536):
            buf.append(b)
            nbuf += b.nbytes
            if nbuf >= buffer_bytes:
                flush()
    if buf:
        flush()
    writer.close()
    rate = sum(t.num_rows for t in copies) / (time.perf_counter() - t0)
    shutil.rmtree(out)
    return rate


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not (ROOT / "BENCHMARK.json").is_file():
        die("BENCHMARK.json not found in the current directory")
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())

    t0 = time.monotonic()
    cp = build()
    data_dir = data()
    run, res = run_harness(cp, args, data_dir, max(time.monotonic(), t0 + 20) + RUN_LIMIT_S - 20)

    problems = [f"operation failed: {f}" for f in res["failures"]]
    strays = []
    problems += CHECKS[args.workload](res["checks"], strays)
    res["context"]["stray_files_left"] = len(strays)
    attempted = res["attempted"]
    failed = min(len(problems), attempted)

    declared = spec["per_layer"] if args.trace else spec["end_to_end"]
    got = res["metrics"]
    if args.trace:
        got["reference.pyarrow_rows_per_s"] = {
            "value": pyarrow_reference(data_dir, run / "pyarrow-ref"), "unit": "rows/s"}
    metrics = {}
    for m in declared:
        value = got.get(m["name"], {}).get("value", 0.0)  # 0: layer not on this workload
        metrics[m["name"]] = {"value": value, "unit": m["unit"]}

    artifact = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
                "metrics": metrics, "context": res["context"], "problems": problems,
                "stray_files": strays}
    (run / "artifact.json").write_text(json.dumps(artifact, indent=1))
    for name, m in metrics.items():
        print(f"{name:32s} {m['value']:>16.6g} {m['unit']}")
    for k, v in res["context"].items():
        print(f"context {k}: {v}")
    for p in problems:
        print(f"FAILED {p}")
    print(json.dumps({"correct": not problems, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
