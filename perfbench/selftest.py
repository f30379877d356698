"""Shows that every output check rejects a corrupted output.

Runs one round of each workload, requires its checks to pass, then for
each operation changes one value and, separately, drops one row of the
output, and requires the operation's check to fail both times.

    python3 perfbench/selftest.py --seed 1
"""

from __future__ import annotations

import argparse
import os
import shutil
import sys
import time

import numpy as np
import pandas as pd

import checks
import gen
import run

#: the CSV column whose middle value is changed, per operation
CSV_COLUMN = {"summary": "FOPR", "summary_monthly": "FOPT", "grid": "VOLUME",
              "grid_rst": "PRESSURE", "pillars": "PORV_SUM", "rft": "PRESSURE",
              "compdat": "K1", "wcon": "ORAT", "gruptree": "PARENT"}


def _csv(path, drop: bool, column: str) -> None:
    df = pd.read_csv(path, dtype=str, keep_default_na=False)
    mid = len(df) // 2
    if drop:
        df = df.drop(index=mid)
    else:
        col = next(c for c in df.columns if c.startswith(column))
        v = df.at[mid, col]
        try:
            df.at[mid, col] = repr(float(v) + 1.0)
        except ValueError:
            df.at[mid, col] = v + "X"
    df.to_csv(path, index=False)


def _grdecl(path, drop: bool) -> None:
    with open(path) as f:
        lines = f.read().split("\n")
    toks = lines[1].split()
    n, star, v = toks[0].rpartition("*")
    if drop:
        toks[0] = f"{int(n) - 1}*{v}" if n and int(n) > 2 else v
        if not n:
            toks.pop(0)
    else:
        toks[0] = f"{n}{star}{float(v) + 1.0!r}"
    lines[1] = "  " + " ".join(toks)
    with open(path, "w") as f:
        f.write("\n".join(lines))


def _unsmry(path, drop: bool) -> None:
    path = os.path.splitext(path)[0] + ".UNSMRY"
    with open(path, "rb") as f:
        recs = checks.read_records(f.read())
    steps = [i for i, r in enumerate(recs) if r[0] == "PARAMS"]
    mid = steps[len(steps) // 2]
    if drop:
        del recs[mid - 1:mid + 1]  # its MINISTEP and PARAMS
    else:
        vals = np.array(recs[mid][2], dtype=np.float32)
        vals[1] += 1.0
        recs[mid] = ("PARAMS", "REAL", vals)
    with open(path, "wb") as f:
        for kw, typ, vals in recs:
            gen.write_kw(f, kw, typ.strip(), vals)


def _include(path, drop: bool) -> None:
    with open(path) as f:
        lines = f.read().split("\n")
    mid = 1 + (len(lines) - 3) // 2
    if drop:
        del lines[mid]
    else:
        toks = lines[mid].split()
        toks[2] = str(int(toks[2]) + 1)  # a grid index column
        lines[mid] = "  " + " ".join(toks)
    with open(path, "w") as f:
        f.write("\n".join(lines))


def _parquet(path, drop: bool) -> None:
    df = pd.read_parquet(path)
    if drop:
        df = df.drop(index=len(df) // 2)
    else:
        df.loc[len(df) // 2, "MEAN"] += 1.0
    shutil.rmtree(path)
    os.makedirs(path)
    df.to_parquet(os.path.join(path, "part-0.parquet"), index=False)


def corrupt(op: str, out: str, drop: bool) -> None:
    if op in CSV_COLUMN:
        _csv(os.path.join(out, op + ".csv"), drop, CSV_COLUMN[op])
    elif op in ("permx", "fipnum"):
        _grdecl(os.path.join(out, op.upper() + ".grdecl"), drop)
    elif op == "csv2res_summary":
        _unsmry(os.path.join(out, "WRITTEN.SMSPEC"), drop)
    elif op in ("csv2res_compdat", "csv2res_welspecs"):
        _include(os.path.join(out, op.split("_")[1] + ".inc"), drop)
    elif op == "ensemble_stats":
        _parquet(os.path.join(out, "stats"), drop)
    else:
        raise KeyError(op)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--seed", type=int, default=1)
    a = ap.parse_args()
    env = run._env()
    data, truth = run._inputs(a.seed, env, time.time() + 120)
    bad = 0
    for workload in run.WORKLOADS:
        out = os.path.join(run.WORK, "out", f"selftest-{workload}")
        shutil.rmtree(out, ignore_errors=True)
        try:
            res = run._worker(workload, data, out, 0, 0, env, time.time() + run.DEADLINE_S)
            rnd = res["rounds"][0]
            for op in rnd["ops"]:
                check = checks.CHECKS[workload][op["name"]]
                clean = op["ok"] and not check(rnd["out"], truth)
                rejected = []
                for drop in (False, True):
                    scratch = rnd["out"] + "-corrupt"
                    shutil.rmtree(scratch, ignore_errors=True)
                    shutil.copytree(rnd["out"], scratch)
                    corrupt(op["name"], scratch, drop)
                    rejected.append(bool(check(scratch, truth)))
                    shutil.rmtree(scratch)
                good = clean and all(rejected)
                bad += not good
                print(f"{workload:17s} {op['name']:17s} clean={'pass' if clean else 'FAIL'} "
                      f"changed-value={'rejected' if rejected[0] else 'ACCEPTED'} "
                      f"dropped-row={'rejected' if rejected[1] else 'ACCEPTED'}")
        finally:
            shutil.rmtree(out, ignore_errors=True)
    print("selftest", "passed" if not bad else f"FAILED for {bad} operations")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
