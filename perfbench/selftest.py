"""Self-test of the benchmark at sf0.001.

    python3 perfbench/selftest.py [workload ...]

For each workload (those of BENCHMARK.json by default) it checks that:
- an untraced run prints every end-to-end metric of BENCHMARK.json, in
  the table and in the JSON line, with its unit, and reports no failed
  operation;
- a traced run prints every per-layer metric the same way;
- a run whose expected result for one operation is corrupted reports
  that operation as failed (`correct` false, `failed` 1).

It also checks that the fast dedup_keep_best oracle of the
corpus_pipeline workload returns the rows of the entry's own oracle, and
that the benchmark exits non-zero, printing no result, in a directory
holding only BENCHMARK.json and the benchmark. Runs one benchmark
process at a time; exits 1 on the first failed check.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import tempfile
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
SF = "0.001"
SECONDS = "2"
# one operation per workload whose expectation the corrupted run alters
CORRUPT = {"ksql_rest": "pricing_summary",
           "corpus_pipeline": "distinct_ngrams",
           "stream_ingest": "stateless_filter"}


def _run(args: list[str], cwd: Path = ROOT) -> tuple[int, list[str]]:
    proc = subprocess.run([sys.executable, "perfbench/run.py", *args],
                          cwd=cwd, stdout=subprocess.PIPE,
                          stderr=subprocess.DEVNULL, text=True, timeout=600)
    return proc.returncode, proc.stdout.splitlines()


def _fail(msg: str) -> None:
    print(f"FAIL {msg}")
    sys.exit(1)


def _check_metrics(workload: str, trace: int, spec: list[dict]) -> None:
    code, lines = _run(["--workload", workload, "--seed", "1",
                        "--seconds", SECONDS, "--trace", str(trace),
                        "--sf", SF])
    if code != 0 or not lines:
        _fail(f"{workload} trace={trace}: exit code {code}")
    result = json.loads(lines[-1])
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        _fail(f"{workload}: result keys {sorted(result)}")
    if not result["correct"] or result["failed"] or result["attempted"] < 1:
        _fail(f"{workload} trace={trace}: {result['failed']} of "
              f"{result['attempted']} operations failed")
    want = {m["name"]: m["unit"] for m in spec}
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    if got != want:
        _fail(f"{workload} trace={trace}: metrics {got} != {want}")
    table = "\n".join(lines[:-1])
    for name, unit in want.items():
        if not any(ln.split()[:1] == [name] and ln.split()[-1] == unit
                   for ln in table.splitlines()):
            _fail(f"{workload} trace={trace}: {name} [{unit}] not in table")
    print(f"ok   {workload} trace={trace}: {len(want)} metrics printed")


def _check_corrupt(workload: str) -> None:
    op = CORRUPT[workload]
    code, lines = _run(["--workload", workload, "--seed", "1",
                        "--seconds", SECONDS, "--trace", "0", "--sf", SF,
                        "--corrupt", op])
    result = json.loads(lines[-1]) if code == 0 and lines else None
    if result is None or result["correct"] or result["failed"] != 1:
        _fail(f"{workload}: corrupted expectation for {op} gave {result}")
    print(f"ok   {workload}: corrupted expectation for {op} -> 1 failed")


def _check_dedup_oracle() -> None:
    sys.path[:0] = [str(HERE), str(ROOT)]
    import duckdb

    import __spark_entry__ as entry
    import datagen
    import wl_corpus

    with tempfile.TemporaryDirectory(dir=ROOT / ".perfbench_work") as d:
        datagen.generate(d, 1, float(SF))
        con = duckdb.connect()
        con.execute(f"CREATE VIEW documents AS SELECT * FROM "
                    f"read_parquet('{d}/documents.parquet')")
        fast = sorted(con.sql(wl_corpus.DEDUP_KEEP_BEST_ORACLE).fetchall())
        full = sorted(con.sql(entry.oracle_sql()["dedup_keep_best"])
                      .fetchall())
        con.close()
    if fast != full:
        _fail("fast dedup_keep_best oracle differs from the entry's")
    print(f"ok   dedup_keep_best oracle: {len(fast)} rows equal")


def _check_bare_checkout() -> None:
    with tempfile.TemporaryDirectory(dir=ROOT / ".perfbench_work") as d:
        bare = Path(d)
        shutil.copy(ROOT / "BENCHMARK.json", bare)
        shutil.copytree(HERE, bare / "perfbench",
                        ignore=shutil.ignore_patterns("__pycache__"))
        code, lines = _run(["--workload", "ksql_rest", "--seed", "1",
                            "--seconds", SECONDS, "--trace", "0"], cwd=bare)
    if code == 0 or any(ln.startswith("{") for ln in lines):
        _fail(f"bare checkout: exit code {code}, output {lines[-1:]}")
    print(f"ok   bare checkout: exit code {code}, no result")


def main() -> int:
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    names = [w["name"] for w in spec["workloads"]]
    chosen = sys.argv[1:] or names
    os.makedirs(ROOT / ".perfbench_work", exist_ok=True)
    _check_bare_checkout()
    for w in chosen:
        _check_metrics(w, 0, spec["end_to_end"])
        _check_metrics(w, 1, spec["per_layer"])
        _check_corrupt(w)
    if "corpus_pipeline" in chosen:
        _check_dedup_oracle()
    print("selftest passed")
    return 0


if __name__ == "__main__":
    sys.exit(main())
