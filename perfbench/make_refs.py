"""Rebuild ``refs.json``: the stored (row count, checksum) of every registry
op of every workload, on the generated dataset.

    python3 perfbench/make_refs.py [--all]   # from the repository root

A reference is accepted only after the op's full output, canonicalised,
equals its DuckDB oracle's on the same input. Ops without an oracle are
recorded as rows-only: the run checks their row count, and their checksum is
kept for information. An op whose output differs from its oracle gets no
reference, so the benchmark counts it as failed. Existing references are
kept unless ``--all`` is given.
"""

from __future__ import annotations

import json
import os
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(0, os.getcwd())

import check  # noqa: E402
import run  # noqa: E402
import workloads  # noqa: E402


def main() -> None:
    work = os.path.join(os.getcwd(), ".perfbench_work")
    tmp = os.path.join(work, "make-refs")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tempfile.tempdir = tmp
    os.environ.setdefault("PYTHONPATH", os.getcwd())

    import etl_suite_spark  # noqa: F401
    from etl_suite_spark.registry import ORACLES, QUERIES
    from etl_suite_spark.session import get_spark

    spark = get_spark("perfbench-refs")
    spark.sparkContext.setLogLevel("ERROR")
    path = os.path.join(HERE, "refs.json")
    refs, rejected = {}, {}
    if "--all" not in sys.argv[1:] and os.path.isfile(path):
        with open(path) as f:
            refs = json.load(f)["refs"]
    run.ensure_data(work)
    sf_dir = os.path.join(work, "data", workloads.DATASET)
    con = check.duck_connect(sf_dir)
    for ops in workloads.REGISTRY_OPS.values():
        for name in ops:
            key = f"{workloads.DATASET}/{name}"
            if key in refs or key in rejected:
                continue
            df = QUERIES[name](spark, sf_dir)
            rows, checksum = check.read_checksum(check.checksum_frame(df))
            ref = {"rows": rows, "checksum": checksum, "rows_only": name not in ORACLES}
            if name in ORACLES:
                got = check.spark_digest(df)
                want = check.duck_digest(con, ORACLES[name])
                if got != want or got[0] != rows:
                    rejected[key] = f"spark {got} vs duckdb {want}"
                    print(f"REJECTED {key}: {rejected[key]}", flush=True)
                    continue
                ref["oracle_digest"] = want[1]
            refs[key] = ref
            print(f"ok {key} {ref}", flush=True)
    con.close()
    spark.stop()
    with open(path, "w") as f:
        json.dump({"refs": refs, "rejected": rejected}, f, indent=1, sort_keys=True)
        f.write("\n")


if __name__ == "__main__":
    main()
