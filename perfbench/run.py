#!/usr/bin/env python3
"""graft's benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload sql --seed 1 --seconds 15 --trace 0

Run from the root of a graft checkout. The first run builds graft and the
benchmark (see build.py); every run then starts one JVM (Spark
`local[nproc]`), generates its inputs from the seed, measures for
`--seconds`, checks every output, and prints `metric <name> <value>
<unit>` lines followed by one JSON line with the keys correct, attempted,
failed and metrics. `--trace 0` reports the end-to-end metrics, `--trace
1` the per-layer ones. The full artifact (run facts, sample counts,
per-query detail, spans) is written to `.perfbench/out/`.

`--record` (declared_cold only) rewrites `expected_cold.json` from this
run's outputs after checking each row count against DuckDB where the
query declares an oracle SQL.
"""

import argparse
import json
import os
import shutil
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))
sys.dont_write_bytecode = True
import build  # noqa: E402

WORKLOADS = ("sql", "declared_cold")
JVM_TIMEOUT_S = 170
# the module opens Spark needs on JDK 17 outside spark-submit (as build.sbt)
OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
         "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
         "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
         "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
         "java.base/sun.util.calendar"]


def run_jvm(args, cp, work, out, expected):
    cmd = ["java"] + [x for p in OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
        "-Xms3g", "-Xmx3g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={work / 'tmp'}",
        f"-Dlog4j2.configurationFile={HERE / 'log4j2.properties'}",
        f"-Dperfbench.expected={expected}", "-Dspark.ui.enabled=false",
        "-cp", os.pathsep.join(cp), "perfbench.Main",
        "--workload", args.workload, "--seed", str(args.seed), "--seconds", str(args.seconds),
        "--trace", str(args.trace), "--work", str(work), "--cache", str(build.ROOT / ".perfbench"),
        "--out", str(out)]
    env = {k: v for k, v in os.environ.items() if k != "SPARK_LOCAL_DIRS"}
    (work / "tmp").mkdir(parents=True, exist_ok=True)
    log = out.with_suffix(".log")
    with open(log, "w") as err:
        proc = subprocess.Popen(cmd, cwd=build.ROOT, stdout=subprocess.PIPE, stderr=err,
                                stdin=subprocess.DEVNULL, env=env, text=True)
        try:
            stdout, _ = proc.communicate(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.communicate()
            raise RuntimeError(f"benchmark JVM timed out after {JVM_TIMEOUT_S} s; see {log}")
    if proc.returncode != 0:
        raise RuntimeError(f"benchmark JVM exited {proc.returncode}; see {log}")
    result = None
    for line in stdout.splitlines():
        if line.startswith("RESULT "):
            result = json.loads(line[len("RESULT "):])
        else:
            print(line)
    if result is None:
        raise RuntimeError(f"benchmark JVM printed no result; see {log}")
    return result


def duckdb_rows(data_dir, sql):
    import duckdb
    con = duckdb.connect()
    for t in Path(data_dir).glob("*.parquet"):
        con.execute(f"CREATE VIEW {t.stem} AS SELECT * FROM read_parquet('{t}')")
    return con.execute(f"SELECT count(*) FROM ({sql}) AS q").fetchone()[0]


def record(artifact):
    """Writes expected_cold.json from a declared_cold run's outputs."""
    facts = json.loads(artifact.read_text())
    data_dir = build.ROOT / ".perfbench" / facts["data_dir"]
    expected = {}
    for name, r in sorted(facts["results"].items()):
        if r["error"] is not None:
            raise RuntimeError(f"{name} failed: {r['error']}")
        entry = {"rows": r["rows"], "checksum": r["checksum"]}
        sql = facts["oracle_sql"].get(name)
        if sql is not None:
            oracle = duckdb_rows(data_dir, sql)
            if oracle != r["rows"]:
                raise RuntimeError(f"{name}: {r['rows']} rows, DuckDB oracle {oracle}")
            entry["duckdb_rows"] = oracle
        expected[name] = entry
    (HERE / "expected_cold.json").write_text(json.dumps(expected, indent=1) + "\n")


def main():
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", required=True, type=int)
    p.add_argument("--seconds", required=True, type=int)
    p.add_argument("--trace", required=True, type=int, choices=(0, 1))
    p.add_argument("--record", action="store_true")
    args = p.parse_args()
    if args.record and (args.workload != "declared_cold" or args.trace):
        p.error("--record needs --workload declared_cold --trace 0")
    try:
        cp = build.build()
    except build.BuildError as e:
        print(f"build failed: {e}", file=sys.stderr)
        return 2
    outdir = build.ROOT / ".perfbench" / "out"
    outdir.mkdir(parents=True, exist_ok=True)
    out = outdir / f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
    work = build.ROOT / ".perfbench" / f"run-{os.getpid()}"
    expected = HERE / ("expected_cold.absent" if args.record else "expected_cold.json")
    try:
        result = run_jvm(args, cp, work, out, expected)
        if args.record:
            record(out)
            return 0
    except RuntimeError as e:
        print(str(e), file=sys.stderr)
        return 1
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
