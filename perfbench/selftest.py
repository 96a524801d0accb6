#!/usr/bin/env python3
"""Self-test of the result check: a correct result passes, and a result
with one planted wrong row, a missing row, an extra row or a changed
dtype fails.

Usage (from the repository root): python3 perfbench/selftest.py
Exits 0 when the check behaves, 1 otherwise. Needs no build: it runs the
same `check.check_results` path a benchmark run uses, on the reference
inputs in data/sf0.1 and a fixed oracle query.
"""
import os
import shutil
import sys

sys.dont_write_bytecode = True  # write nothing beside the sources
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import check  # noqa: E402

BUILD = os.path.abspath(os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
SQL = """SELECT l_returnflag, l_linestatus,
  CAST(count(*) AS BIGINT) AS n,
  round(sum(l_extendedprice), 2) AS revenue
FROM lineitem GROUP BY ALL ORDER BY l_returnflag, l_linestatus"""

PLANTS = {
    "correct": None,
    "wrong_row": "UPDATE r SET revenue = revenue + 0.01 WHERE rowid = 2",
    "missing_row": "DELETE FROM r WHERE rowid = 5",
    "extra_row": "INSERT INTO r SELECT * FROM r LIMIT 1",
    "dtype": "ALTER TABLE r ALTER n TYPE DOUBLE",
}


def main():
    root = os.path.join(BUILD, "selftest")
    shutil.rmtree(root, ignore_errors=True)
    base = os.path.join(HERE, "data", "sf0.1")
    con = check.connect(base)
    ok = True
    for case, plant in PLANTS.items():
        res = os.path.join(root, case, "results")
        os.makedirs(os.path.join(res, "q_selftest"))
        con.execute(f"CREATE OR REPLACE TABLE r AS {SQL}")
        if plant:
            con.execute(plant)
        con.execute(f"COPY (SELECT * FROM r ORDER BY rowid) TO "
                    f"'{res}/q_selftest/part-0.parquet' (FORMAT PARQUET)")
        why = check.check_results(base, os.path.join(root, "oracle"), res,
                                  {"q_selftest": SQL}, ["q_selftest"])
        why = why["q_selftest"]
        good = (why is None) == (plant is None)
        ok &= good
        print(f"{'ok  ' if good else 'BAD '} {case}: "
              f"{'pass' if why is None else 'FAIL ' + why}")
    con.close()
    shutil.rmtree(root, ignore_errors=True)
    print("self-test", "passed" if ok else "FAILED")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
