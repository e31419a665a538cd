#!/usr/bin/env python3
"""Self-test of the benchmark itself (not of the engine).

    python3 perfbench/selftest.py

1. Toy-scale smoke: every workload runs at ``--size toy``, untraced and
   traced. Each result line must carry exactly the metrics BENCHMARK.json
   names, each with its unit, and the traced run must attribute
   ``ArrowEvalPython`` time to ``functions.parsing`` (``parsing.run_s``)
   and ``FlatMapGroupsInPandas`` time to ``operators.dedup``
   (``dedup.densify_s``).
2. Failure counting: a crawl whose items output has one corrupted row
   must be counted as failed (``correct`` false, ``failed`` ==
   ``attempted``).

Exits 0 when every check passes. Takes several minutes: each run starts
its own Spark driver.
"""

from __future__ import annotations

import contextlib
import io
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def result_line(stdout: str) -> dict:
    return json.loads(stdout.strip().splitlines()[-1])


def run(workload: str, trace: int) -> dict:
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", "7", "--seconds", "1", "--trace", str(trace), "--size", "toy"],
        cwd=ROOT, capture_output=True, text=True, timeout=400,
    )
    if proc.returncode != 0:
        sys.stderr.write(proc.stderr[-4000:])
        raise AssertionError(f"{workload} trace={trace} exited {proc.returncode}")
    return result_line(proc.stdout)


def check_metrics(res: dict, expected: list[dict], what: str) -> None:
    got = {k: v["unit"] for k, v in res["metrics"].items()}
    want = {m["name"]: m["unit"] for m in expected}
    assert got == want, f"{what}: metrics/units differ: {sorted(set(got.items()) ^ set(want.items()))}"
    for k, v in res["metrics"].items():
        assert isinstance(v["value"], (int, float)), f"{what}: {k} is not a number"
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1, f"{what}: {res}"


def corrupted_row_is_a_failure() -> None:
    from pyspark.sql import functions as F

    sys.path.insert(0, HERE)
    import run as bench

    def corrupt(items):
        first = items.agg(F.min("url")).collect()[0][0]
        return items.withColumn(
            "title",
            F.when(F.col("url") == first, F.concat(F.col("title"), F.lit("#")))
            .otherwise(F.col("title")),
        )

    out = io.StringIO()
    with contextlib.redirect_stdout(out):
        rc = bench.main(["--workload", "fat_wave", "--seed", "7", "--seconds", "1",
                         "--trace", "0", "--size", "toy"], transform=corrupt)
    res = result_line(out.getvalue())
    assert rc == 0, rc
    assert not res["correct"] and res["failed"] == res["attempted"] >= 1, res
    print("ok: a corrupted items row is counted as a failed crawl", flush=True)


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    for w in spec["workloads"]:
        name = w["name"]
        check_metrics(run(name, 0), spec["end_to_end"], f"{name} untraced")
        traced = run(name, 1)
        check_metrics(traced, spec["per_layer"], f"{name} traced")
        m = traced["metrics"]
        assert m["parsing.run_s"]["value"] > 0, "ArrowEvalPython time not attributed to parsing"
        assert m["parsing.rows"]["value"] > 0, "ArrowEvalPython rows not attributed to parsing"
        assert m["dedup.densify_s"]["value"] > 0, "FlatMapGroupsInPandas time not attributed to dedup"
        print(f"ok: {name} emits every metric with its unit; UDF time is attributed", flush=True)
    corrupted_row_is_a_failure()
    return 0


if __name__ == "__main__":
    sys.exit(main())
