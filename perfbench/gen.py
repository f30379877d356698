"""Seeded input generator for the benchmark.

Writes one Reek-shaped simulation case (deck, EGRID, INIT, UNRST,
SMSPEC/UNSMRY, RFT), the inputs of the write-direction workload and a
summary ensemble, all from ``numpy.random.default_rng(seed)``.  The
binaries come from this file's own Fortran-record writer, never from the
program's writers, so a fault shared by the program's reader and writer
cannot pass the output checks.  Besides the files it returns (and pickles
next to them) the arrays the checks compare against.

    python3 perfbench/gen.py --seed 1 --out .perfbench/data/seed-1
"""

from __future__ import annotations

import argparse
import datetime as dt
import os
import pickle
import struct

import numpy as np

# --- sizes ------------------------------------------------------------------
NX, NY, NZ = 20, 32, 7
INACTIVE_SHARE = 0.08
N_WELLS = 20
N_DATES = 120
N_RESTART_STEPS = 12
N_SUMMARY_STEPS = 400
N_RFT = 30
INIT_PROPS = ["PORO", "PERMX", "PERMY", "PERMZ", "NTG", "DX", "DY", "DZ",
              "TOPS", "DEPTH"]
UNRST_VECTORS = ["PRESSURE", "SWAT", "SGAS", "RS"]
START = dt.datetime(2000, 1, 1)
ENS_REALIZATIONS = 40
ENS_STEPS = 400
ENS_WELLS = 10
MONTHS = ["JAN", "FEB", "MAR", "APR", "MAY", "JUN", "JUL", "AUG", "SEP",
          "OCT", "NOV", "DEC"]

_BLOCK = {"INTE": 1000, "REAL": 1000, "DOUB": 1000, "LOGI": 1000,
          "CHAR": 105}
_NUMERIC = {"INTE": ">i4", "REAL": ">f4", "DOUB": ">f8", "LOGI": ">i4"}


# --- Fortran sequential records (big-endian markers) --------------------------


def _record(out, payload: bytes) -> None:
    out.write(struct.pack(">i", len(payload)))
    out.write(payload)
    out.write(struct.pack(">i", len(payload)))


def write_kw(out, name: str, typ: str, values) -> None:
    """One keyword: a 16-byte header record, then data records of at
    most 1000 numbers or 105 strings each."""
    if typ == "MESS":
        items = []
    elif typ == "CHAR":
        items = [str(v).ljust(8)[:8].encode("ascii") for v in values]
    else:
        arr = np.asarray(values)
        if typ == "LOGI":
            arr = np.where(arr.astype(bool), -1, 0)
        items = arr.astype(_NUMERIC[typ])
    _record(out, name.ljust(8).encode("ascii")
            + struct.pack(">i", len(items)) + typ.encode("ascii"))
    block = _BLOCK.get(typ, 1000)
    for i in range(0, len(items), block):
        chunk = items[i:i + block]
        _record(out, b"".join(chunk) if typ == "CHAR" else chunk.tobytes())


# --- the case -----------------------------------------------------------------


def _geometry(rng):
    dx = rng.uniform(40.0, 60.0, NX).astype(np.float32)
    dy = rng.uniform(40.0, 60.0, NY).astype(np.float32)
    xs = np.concatenate([[0.0], np.cumsum(dx, dtype=np.float64)]).astype(np.float32)
    ys = np.concatenate([[0.0], np.cumsum(dy, dtype=np.float64)]).astype(np.float32)
    # one depth offset per column and one thickness per cell: every cell
    # is an axis-aligned box, so its volume has a closed form
    top0 = (1500.0 + rng.uniform(0.0, 30.0, (NY, NX))).astype(np.float32)
    thick = rng.uniform(2.0, 8.0, (NZ, NY, NX)).astype(np.float32)
    tops = np.empty((NZ + 1, NY, NX), dtype=np.float32)
    tops[0] = top0
    for k in range(NZ):
        tops[k + 1] = (tops[k] + thick[k]).astype(np.float32)
    return xs, ys, tops


def _write_egrid(path, xs, ys, tops, actnum):
    coord = np.zeros((NY + 1, NX + 1, 6), dtype=np.float32)
    coord[..., 0] = xs[None, :]
    coord[..., 3] = xs[None, :]
    coord[..., 1] = ys[:, None]
    coord[..., 4] = ys[:, None]
    coord[..., 2] = 1000.0
    coord[..., 5] = 2000.0
    zc = np.empty((2 * NZ, 2 * NY, 2 * NX), dtype=np.float32)
    for k in range(NZ):
        for dk, layer in ((0, tops[k]), (1, tops[k + 1])):
            zc[2 * k + dk] = np.repeat(np.repeat(layer, 2, axis=0), 2, axis=1)
    with open(path, "wb") as f:
        write_kw(f, "FILEHEAD", "INTE", np.zeros(100, dtype=np.int32))
        write_kw(f, "MAPUNITS", "CHAR", ["METRES"])
        write_kw(f, "GRIDUNIT", "CHAR", ["METRES", ""])
        write_kw(f, "GRIDHEAD", "INTE",
                 np.array([1, NX, NY, NZ] + [0] * 96, dtype=np.int32))
        write_kw(f, "COORD", "REAL", coord.ravel())
        write_kw(f, "ZCORN", "REAL", zc.ravel())
        write_kw(f, "ACTNUM", "INTE", actnum)
        write_kw(f, "ENDGRID", "INTE", [0])


def _intehead(day, month, year):
    ih = np.zeros(411, dtype=np.int32)
    ih[8], ih[9], ih[10] = NX, NY, NZ
    ih[64], ih[65], ih[66] = day, month, year
    return ih


def _summary_vectors(wells, groups, rng):
    """(keyword, wgname, num) triples, TIME first."""
    spec = [("TIME", ":+:+:+:+", 0)]
    for kw in ["FOPR", "FOPT", "FWPR", "FWPT", "FGPR", "FGPT", "FWIR",
               "FWIT", "FPR", "FWCT", "FGOR", "FOIP", "FWIP", "FGIP"]:
        spec.append((kw, ":+:+:+:+", 0))
    for w in wells:
        for kw in ["WOPR", "WWPR", "WGPR", "WBHP", "WOPT", "WWCT", "WGOR"]:
            spec.append((kw, w, 0))
    for g in groups:
        for kw in ["GOPR", "GWPR", "GOPT"]:
            spec.append((kw, g, 0))
    for r in range(1, 4):
        spec.append(("RPR", ":+:+:+:+", r))
    for g in np.sort(rng.choice(NX * NY * NZ, 3, replace=False)):
        spec.append(("BPR", ":+:+:+:+", int(g) + 1))
    return spec


def vector_name(kw, wg, num):
    if kw[0] in "WG":
        return f"{kw}:{wg}"
    if kw[0] == "R":
        return f"{kw}:{num}"
    if kw[0] == "B":
        n = num - 1
        return f"{kw}:{n % NX + 1},{n // NX % NY + 1},{n // (NX * NY) + 1}"
    return kw


def _write_summary(root, spec, days, rng):
    nvec = len(spec)
    vals = rng.uniform(0.0, 1000.0, (len(days), nvec)).astype(np.float32)
    vals[:, 0] = days
    with open(root + ".SMSPEC", "wb") as f:
        write_kw(f, "INTEHEAD", "INTE", [1, 100])
        write_kw(f, "RESTART", "CHAR", [""] * 9)
        write_kw(f, "DIMENS", "INTE", [nvec, NX, NY, NZ, 0, -1])
        write_kw(f, "KEYWORDS", "CHAR", [s[0] for s in spec])
        write_kw(f, "WGNAMES", "CHAR", [s[1] for s in spec])
        write_kw(f, "NUMS", "INTE", [s[2] for s in spec])
        write_kw(f, "UNITS", "CHAR", [unit_of(s[0]) for s in spec])
        write_kw(f, "STARTDAT", "INTE",
                 [START.day, START.month, START.year, 0, 0, 0])
    with open(root + ".UNSMRY", "wb") as f:
        for step in range(len(days)):
            if step == 0:
                write_kw(f, "SEQHDR", "INTE", [0])
            write_kw(f, "MINISTEP", "INTE", [step])
            write_kw(f, "PARAMS", "REAL", vals[step])
    return vals


def unit_of(kw):
    """SMSPEC unit: per-day rates, cumulative totals, pressures."""
    if kw == "TIME":
        return "DAYS"
    if kw.endswith("PR") and kw[-3] in "OWG" or kw.endswith("IR"):
        return "SM3/DAY"
    if kw.endswith("PT") or kw.endswith("IT"):
        return "SM3"
    return "BARSA" if kw.endswith("PR") or kw.endswith("BHP") else ""


def _deck(wells, groups, well_ij, conns, dates, hist, shut_events):
    lines = ["RUNSPEC", "DIMENS", f" {NX} {NY} {NZ} /", "START",
             f" {START.day} '{MONTHS[START.month - 1]}' {START.year} /",
             "GRID", "SCHEDULE", "GRUPTREE"]
    for g in groups:
        lines.append(f" '{g}' 'FIELD' /")
    lines.append("/")
    lines.append("WELSPECS")
    for w, g in zip(wells, np.resize(groups, len(wells))):
        i, j = well_ij[w]
        lines.append(f" '{w}' '{g}' {i} {j} 1* 'OIL' /")
    lines.append("/")
    lines.append("COMPDAT")
    for w, i, j, k1, k2 in conns:
        lines.append(f" '{w}' {i} {j} {k1} {k2} 'OPEN' 1* 1* 0.216 /")
    lines.append("/")
    for d_i, d in enumerate(dates):
        lines += ["DATES", f" {d.day} '{MONTHS[d.month - 1]}' {d.year} /", "/"]
        lines.append("WCONHIST")
        for w in wells:
            orat, wrat, grat = hist[d_i][w]
            lines.append(f" '{w}' 'OPEN' 'ORAT' {orat!r} {wrat!r} {grat!r} /")
        lines.append("/")
        if d_i in shut_events:
            lines.append("WELOPEN")
            for w, status in shut_events[d_i]:
                lines.append(f" '{w}' '{status}' /")
            lines.append("/")
    return "\n".join(lines) + "\n"


def _add_months(d, n):
    m = d.month - 1 + n
    return dt.datetime(d.year + m // 12, m % 12 + 1, 1)


def make_case(rng, out):
    os.makedirs(out, exist_ok=True)
    root = os.path.join(out, "CASE")
    truth = {"dims": (NX, NY, NZ)}
    xs, ys, tops = _geometry(rng)
    actnum = (rng.random(NX * NY * NZ) >= INACTIVE_SHARE).astype(np.int32)
    nact = int(actnum.sum())
    truth.update(xs=xs, ys=ys, tops=tops, actnum=actnum)
    _write_egrid(root + ".EGRID", xs, ys, tops, actnum)

    init = {}
    for p in INIT_PROPS:
        init[p] = rng.uniform(0.05, 500.0, nact).astype(np.float32)
    init["FIPNUM"] = rng.integers(1, 6, nact).astype(np.int32)
    init["SATNUM"] = rng.integers(1, 4, nact).astype(np.int32)
    porv = np.zeros(NX * NY * NZ, dtype=np.float32)
    porv[actnum != 0] = rng.uniform(100.0, 5000.0, nact).astype(np.float32)
    truth["init"], truth["porv"] = init, porv
    with open(root + ".INIT", "wb") as f:
        write_kw(f, "INTEHEAD", "INTE", _intehead(1, 1, 2000))
        write_kw(f, "LOGIHEAD", "LOGI", np.zeros(121, dtype=bool))
        write_kw(f, "DOUBHEAD", "DOUB", np.zeros(229))
        write_kw(f, "PORV", "REAL", porv)
        for p in INIT_PROPS:
            write_kw(f, p, "REAL", init[p])
        write_kw(f, "FIPNUM", "INTE", init["FIPNUM"])
        write_kw(f, "SATNUM", "INTE", init["SATNUM"])

    rst_dates, rst = [], []
    with open(root + ".UNRST", "wb") as f:
        for s in range(N_RESTART_STEPS):
            d = _add_months(START, 3 * (s + 1))
            rst_dates.append(d)
            sw = rng.uniform(0.0, 0.6, nact).astype(np.float32)
            sg = rng.uniform(0.0, 0.3, nact).astype(np.float32)
            step = {"PRESSURE": rng.uniform(150.0, 350.0, nact).astype(np.float32),
                    "SWAT": sw, "SGAS": sg,
                    "RS": rng.uniform(50.0, 150.0, nact).astype(np.float32)}
            rst.append(step)
            write_kw(f, "SEQNUM", "INTE", [s + 1])
            write_kw(f, "INTEHEAD", "INTE", _intehead(d.day, d.month, d.year))
            write_kw(f, "LOGIHEAD", "LOGI", np.zeros(121, dtype=bool))
            write_kw(f, "STARTSOL", "MESS", [])
            for v in UNRST_VECTORS:
                write_kw(f, v, "REAL", step[v])
            write_kw(f, "ENDSOL", "MESS", [])
    truth["rst_dates"], truth["rst"] = rst_dates, rst

    wells = [f"OP_{n + 1}" if n % 4 else f"WI_{n + 1}" for n in range(N_WELLS)]
    groups = ["OP", "WI", "NORTH", "SOUTH"]
    spec = _summary_vectors(wells, groups, rng)
    days = np.sort(rng.choice(np.arange(1, 4000), N_SUMMARY_STEPS,
                              replace=False)).astype(np.float32)
    truth["smry_spec"] = [vector_name(*s) for s in spec]
    truth["smry_vals"] = _write_summary(root, spec, days, rng)

    # each survey is one well at one date
    surveys = []
    with open(root + ".RFT", "wb") as f:
        for s in range(N_RFT):
            w = wells[s % N_WELLS]
            d = _add_months(START, 2 * s + 1)
            ncon = int(rng.integers(2, 6))
            arrs = {"CONIPOS": rng.integers(1, NX + 1, ncon).astype(np.int32),
                    "CONJPOS": rng.integers(1, NY + 1, ncon).astype(np.int32),
                    "CONKPOS": np.arange(1, ncon + 1, dtype=np.int32),
                    "DEPTH": rng.uniform(1500, 1600, ncon).astype(np.float32),
                    "PRESSURE": rng.uniform(200, 300, ncon).astype(np.float32),
                    "SWAT": rng.uniform(0, 1, ncon).astype(np.float32),
                    "SGAS": rng.uniform(0, 0.2, ncon).astype(np.float32)}
            surveys.append((d, w, arrs))
            write_kw(f, "TIME", "REAL", [float((d - START).days)])
            write_kw(f, "DATE", "INTE", [d.day, d.month, d.year])
            write_kw(f, "WELLETC", "CHAR",
                     ["  METRES", w, "", "", "", "R", "STANDARD", "", "", "",
                      "", "", "", "", "", ""])
            for k, a in arrs.items():
                write_kw(f, k, "INTE" if k.startswith("CON") else "REAL", a)
    truth["rft"] = surveys

    well_ij = {w: (int(rng.integers(1, NX + 1)), int(rng.integers(1, NY + 1)))
               for w in wells}
    conns = []
    for w in wells:
        i, j = well_ij[w]
        k1 = int(rng.integers(1, NZ))
        conns.append((w, i, j, k1, int(rng.integers(k1, NZ + 1))))
    dates = [_add_months(START, m + 1) for m in range(N_DATES)]
    hist = [{w: tuple(float(np.round(x, 1)) for x in rng.uniform(0, 3000, 3))
             for w in wells} for _ in dates]
    # every 10th date shuts one well, and five dates later opens it again
    shut_events = {}
    for n, d_i in enumerate(range(9, N_DATES, 10)):
        w = wells[n % N_WELLS]
        shut_events[d_i] = [(w, "SHUT")]
        if d_i + 5 < N_DATES:
            shut_events[d_i + 5] = [(w, "OPEN")]
    with open(root + ".DATA", "w") as f:
        f.write(_deck(wells, groups, well_ij, conns, dates, hist, shut_events))
    truth.update(wells=wells, groups=groups, well_ij=well_ij, conns=conns,
                 dates=dates, hist=hist, shut_events=shut_events)
    return truth


# --- write-direction inputs -----------------------------------------------------


def make_csv2res(rng, out, truth):
    """A Parquet grid table, a wide summary CSV and deck-record CSVs."""
    import pandas as pd

    os.makedirs(out, exist_ok=True)
    act = np.flatnonzero(truth["actnum"])
    n = len(act)
    # PERMX repeats in short runs so the RLE output has both n*v and
    # single tokens
    permx = np.repeat(rng.uniform(1.0, 900.0, n // 3 + 1), 3)[:n]
    permx = np.round(permx, 3)
    fipnum = np.repeat(rng.integers(1, 6, n // 40 + 1), 40)[:n].astype(np.int64)
    pd.DataFrame({"GLOBAL_INDEX": act.astype(np.int64), "PERMX": permx,
                  "FIPNUM": fipnum}).to_parquet(
        os.path.join(out, "grid.parquet"), index=False)
    truth["w_permx"], truth["w_fipnum"] = permx, fipnum

    wells = truth["wells"]
    names = [vector_name(*v) for v in
             _summary_vectors(wells, truth["groups"], rng)[1:]]
    days = np.sort(rng.choice(np.arange(1, 4000), N_SUMMARY_STEPS,
                              replace=False))
    vals = rng.uniform(0.0, 1000.0, (len(days), len(names))).astype(np.float32)
    dates = [START + dt.timedelta(days=int(d)) for d in days]
    wide = pd.DataFrame(vals.astype(np.float64), columns=names)
    wide.insert(0, "DATE", [d.strftime("%Y-%m-%d") for d in dates])
    wide.to_csv(os.path.join(out, "summary.csv"), index=False)
    truth["w_smry"] = (names, days.astype(np.int64), vals)

    rows = []
    for w, i, j, k1, k2 in truth["conns"]:
        for k in range(k1, k2 + 1):
            rows.append({"WELL": w, "I": i, "J": j, "K1": k, "K2": k,
                         "OP/SH": "OPEN", "KH": float(np.round(rng.uniform(1, 900), 2)),
                         "SKIN": 0.0})
    cd = pd.DataFrame(rows)
    cd.to_csv(os.path.join(out, "compdat.csv"), index=False)
    ws = pd.DataFrame({"WELL": wells,
                       "GROUP": [truth["groups"][n % 4] for n in range(len(wells))],
                       "I": [truth["well_ij"][w][0] for w in wells],
                       "J": [truth["well_ij"][w][1] for w in wells],
                       "REF_DEPTH": [float(1500 + n) for n in range(len(wells))],
                       "PHASE": ["OIL"] * len(wells)})
    ws.to_csv(os.path.join(out, "welspecs.csv"), index=False)
    truth["w_compdat"], truth["w_welspecs"] = cd, ws


# --- the ensemble ---------------------------------------------------------------


def make_ensemble(rng, out, truth):
    wells = [f"OP_{n + 1}" for n in range(ENS_WELLS)]
    spec = _summary_vectors(wells, ["OP", "WI"], rng)
    days = np.arange(1, ENS_STEPS + 1, dtype=np.float32) * 15.0
    vals = []
    for r in range(ENS_REALIZATIONS):
        d = os.path.join(out, f"realization-{r}", "iter-0", "eclipse", "model")
        os.makedirs(d, exist_ok=True)
        vals.append(_write_summary(os.path.join(d, f"CASE-{r}"), spec, days, rng))
    truth["ens_spec"] = [vector_name(*s) for s in spec]
    truth["ens_days"] = days
    truth["ens_vals"] = np.stack(vals)


def generate(seed: int, out: str) -> dict:
    """Write every input for ``seed`` under ``out`` once; later calls
    load the pickled truth."""
    done = os.path.join(out, "truth.pkl")
    if os.path.exists(done):
        with open(done, "rb") as f:
            return pickle.load(f)
    rng = np.random.default_rng(seed)
    truth = make_case(rng, os.path.join(out, "case"))
    make_csv2res(rng, os.path.join(out, "csv2res"), truth)
    make_ensemble(rng, os.path.join(out, "ensemble"), truth)
    tmp = done + ".tmp"
    with open(tmp, "wb") as f:
        pickle.dump(truth, f)
    os.replace(tmp, done)
    return truth


if __name__ == "__main__":
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    generate(a.seed, a.out)
