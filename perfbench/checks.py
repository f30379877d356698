"""Output checks, computed apart from the program.

Every expected value comes from the generator's arrays (``gen.py``) or a
closed form in NumPy, never from the program's own readers or writers.
Each ``check_*`` returns a list of error strings; empty means the output
is correct.  ``CHECKS[workload]`` maps each operation to its check.
"""

from __future__ import annotations

import datetime as dt
import os
import re
import struct

import numpy as np
import pandas as pd

import gen

_RATIO = re.compile(r"^[FWGC](WCT|GOR|OGR|WGR|GLR)H?$")
US_PER_DAY = 86_400_000_000


def _fail(errs, msg):
    errs.append(msg)
    return errs


def _close(a, b, rtol=1e-9, atol=1e-9) -> bool:
    a, b = np.asarray(a, dtype=np.float64), np.asarray(b, dtype=np.float64)
    return a.shape == b.shape and bool(np.allclose(a, b, rtol=rtol, atol=atol))


def _dates_us(values) -> np.ndarray:
    return pd.to_datetime(pd.Series(values)).to_numpy("datetime64[us]").astype(np.int64)


def _start_us() -> int:
    return int(np.datetime64(gen.START, "us").astype(np.int64))


# --- case: res2csv ---------------------------------------------------------------


def check_summary(path, t):
    errs: list[str] = []
    df = pd.read_csv(path, float_precision="round_trip")
    names = t["smry_spec"][1:]
    vals = t["smry_vals"].astype(np.float64)
    if set(df.columns) != {"DATE", *names}:
        return _fail(errs, f"summary: columns differ from the {len(names)} vectors")
    if len(df) != len(vals):
        return _fail(errs, f"summary: {len(df)} rows, expected {len(vals)}")
    want = _start_us() + (vals[:, 0] * US_PER_DAY).astype(np.int64)
    if not np.array_equal(_dates_us(df["DATE"]), want):
        errs.append("summary: DATE differs from START + TIME")
    for i, n in enumerate(names, start=1):
        if not np.array_equal(df[n].to_numpy(np.float64), vals[:, i]):
            errs.append(f"summary: {n} differs")
            break
    return errs


def _month_spine(first_us: int, last_us: int) -> np.ndarray:
    first = pd.Timestamp(first_us, unit="us")
    last = pd.Timestamp(last_us, unit="us")
    start = pd.Timestamp(first.year, first.month, 1)
    end = pd.Timestamp(last.year, last.month, 1)
    if end != last:
        end = end + pd.DateOffset(months=1)
    return pd.date_range(start, end, freq="MS").to_numpy("datetime64[us]").astype(np.int64)


def check_summary_monthly(path, t):
    """Month-start spine; rate vectors (unit per day, or a ratio keyword)
    take the next sample and 0 past the last one, every other vector is
    linear in time and held constant outside the samples."""
    errs: list[str] = []
    df = pd.read_csv(path, float_precision="round_trip")
    names = t["smry_spec"][1:]
    vals = t["smry_vals"].astype(np.float64)
    x = _start_us() + (vals[:, 0] * US_PER_DAY).astype(np.int64)
    spine = _month_spine(int(x[0]), int(x[-1]))
    if set(df.columns) != {"DATE", *names}:
        return _fail(errs, "summary_monthly: columns differ")
    if len(df) != len(spine) or not np.array_equal(_dates_us(df["DATE"]), spine):
        return _fail(errs, f"summary_monthly: {len(df)} dates, expected {len(spine)} month starts")
    nxt = np.searchsorted(x, spine, side="left")
    for i, n in enumerate(names, start=1):
        kw = n.split(":")[0]
        if gen.unit_of(kw).endswith("/DAY") or _RATIO.match(kw):
            want = np.where(nxt < len(x), vals[np.minimum(nxt, len(x) - 1), i], 0.0)
        else:
            want = np.interp(spine.astype(np.float64), x.astype(np.float64), vals[:, i])
        if not _close(df[n], want):
            errs.append(f"summary_monthly: {n} differs")
            break
    return errs


def _cells(t):
    nx, ny, _ = t["dims"]
    g = np.flatnonzero(t["actnum"])
    i, j, k = g % nx, g // nx % ny, g // (nx * ny)
    xs, ys = t["xs"].astype(np.float64), t["ys"].astype(np.float64)
    top = t["tops"][k, j, i].astype(np.float64)
    bot = t["tops"][k + 1, j, i].astype(np.float64)
    return {"g": g, "i": i, "j": j, "k": k,
            "X": (xs[i] + xs[i + 1]) / 2, "Y": (ys[j] + ys[j + 1]) / 2,
            "Z": (top + bot) / 2, "Z_MIN": top, "Z_MAX": bot,
            "VOLUME": (xs[i + 1] - xs[i]) * (ys[j + 1] - ys[j]) * (bot - top),
            "PORV": t["porv"][g].astype(np.float64)}


def check_grid(path, t):
    errs: list[str] = []
    df = pd.read_csv(path, float_precision="round_trip").sort_values("GLOBAL_INDEX", kind="stable")
    c = _cells(t)
    if len(df) != int(t["actnum"].sum()):
        return _fail(errs, f"grid: {len(df)} cells, ACTNUM has {int(t['actnum'].sum())}")
    if not np.array_equal(df["GLOBAL_INDEX"].to_numpy(), c["g"]):
        return _fail(errs, "grid: GLOBAL_INDEX differs from the active cells")
    for col, want in (("I", c["i"] + 1), ("J", c["j"] + 1), ("K", c["k"] + 1)):
        if not np.array_equal(df[col].to_numpy(), want):
            errs.append(f"grid: {col} differs")
    for col in ("X", "Y", "Z", "Z_MIN", "Z_MAX", "VOLUME", "PORV"):
        if not _close(df[col], c[col], rtol=1e-7):
            errs.append(f"grid: {col} differs from the closed form")
    for p, v in t["init"].items():
        if not np.array_equal(df[p].to_numpy(np.float64), v.astype(np.float64)):
            errs.append(f"grid: INIT {p} differs")
    return errs


def check_grid_rst(path, t):
    errs: list[str] = []
    df = pd.read_csv(path, float_precision="round_trip", usecols=["DATE", "ACTIVE_INDEX", *gen.UNRST_VECTORS, "SOIL"])
    nact = int(t["actnum"].sum())
    if len(df) != nact * len(t["rst_dates"]):
        return _fail(errs, f"grid_rst: {len(df)} rows, expected {nact} x {len(t['rst_dates'])}")
    df = df.assign(_d=_dates_us(df["DATE"])).sort_values(["_d", "ACTIVE_INDEX"], kind="stable")
    want_d = np.repeat(_dates_us(t["rst_dates"]), nact)
    if not np.array_equal(df["_d"].to_numpy(), want_d):
        return _fail(errs, "grid_rst: DATE x ACTIVE_INDEX keys differ")
    if not np.array_equal(df["ACTIVE_INDEX"].to_numpy(), np.tile(np.arange(nact), len(t["rst_dates"]))):
        return _fail(errs, "grid_rst: ACTIVE_INDEX differs")
    for v in gen.UNRST_VECTORS:
        want = np.concatenate([s[v] for s in t["rst"]]).astype(np.float64)
        if not np.array_equal(df[v].to_numpy(np.float64), want):
            errs.append(f"grid_rst: {v} differs")
    sw = np.concatenate([s["SWAT"] for s in t["rst"]]).astype(np.float64)
    sg = np.concatenate([s["SGAS"] for s in t["rst"]]).astype(np.float64)
    if not _close(df["SOIL"], 1.0 - sw - sg, rtol=1e-12, atol=1e-12):
        errs.append("grid_rst: SOIL differs from 1 - SWAT - SGAS")
    return errs


def check_pillars(path, t):
    """Per-pillar volume and pore-volume sums at the last report step."""
    errs: list[str] = []
    df = pd.read_csv(path, float_precision="round_trip")
    c = _cells(t)
    last = t["rst"][-1]
    sw, sg = last["SWAT"].astype(np.float64), last["SGAS"].astype(np.float64)
    key = pd.Series([f"{i + 1}-{j + 1}" for i, j in zip(c["i"], c["j"])])
    want = pd.DataFrame({"VOLUME": c["VOLUME"], "PORV": c["PORV"],
                         "WATVOL": c["PORV"] * sw, "GASVOL": c["PORV"] * sg,
                         "OILVOL": c["PORV"] * (1.0 - sw - sg)}).groupby(key).sum()
    if len(df) != len(want):
        return _fail(errs, f"pillars: {len(df)} pillars, expected {len(want)}")
    tag = "@" + t["rst_dates"][-1].date().isoformat()
    df = df.set_index("PILLAR").reindex(want.index)
    for col in want.columns:
        got = df.get(f"{col}_SUM{tag}")
        if got is None or not _close(got, want[col], rtol=1e-9):
            errs.append(f"pillars: {col}_SUM differs")
    return errs


def check_rft(path, t):
    errs: list[str] = []
    df = pd.read_csv(path, float_precision="round_trip")
    rows = []
    for d, w, arrs in t["rft"]:
        n = len(arrs["DEPTH"])
        rows.append(pd.DataFrame({"DATE": [d] * n, "WELL": w, "CONIDX": np.arange(n),
                                  **{k: v.astype(np.float64) for k, v in arrs.items()}}))
    want = pd.concat(rows, ignore_index=True)
    if len(df) != len(want):
        return _fail(errs, f"rft: {len(df)} rows, expected {len(want)}")
    df = df.assign(_d=_dates_us(df["DATE"])).sort_values(["_d", "WELL", "CONIDX"], kind="stable")
    want = want.assign(_d=_dates_us(want["DATE"])).sort_values(["_d", "WELL", "CONIDX"], kind="stable")
    for col in ["_d", "WELL", "CONIDX", "CONIPOS", "CONJPOS", "CONKPOS", "DEPTH",
                "PRESSURE", "SWAT", "SGAS"]:
        if not np.array_equal(df[col].to_numpy(), want[col].to_numpy()):
            errs.append(f"rft: {col} differs")
    return errs


def _rows(df: pd.DataFrame, cols) -> list[tuple]:
    return sorted(tuple(r) for r in df[cols].astype(str).itertuples(index=False))


def check_compdat(path, t):
    """One row per connection layer at START, and one more per WELOPEN
    event of its well, carrying the event's status."""
    start = gen.START.date().isoformat()
    want = []
    events = {}
    for d_i, evs in t["shut_events"].items():
        for w, status in evs:
            events.setdefault(w, []).append((t["dates"][d_i].date().isoformat(), status))
    for w, i, j, k1, k2 in t["conns"]:
        for k in range(k1, k2 + 1):
            for d, status in [(start, "OPEN")] + events.get(w, []):
                want.append((w, str(i), str(j), str(k), str(k), d, status))
    df = pd.read_csv(path, float_precision="round_trip")
    df["DATE"] = pd.to_datetime(df["DATE"]).dt.date.astype(str)
    got = _rows(df, ["WELL", "I", "J", "K1", "K2", "DATE", "OP/SH"])
    if got != sorted(want):
        return [f"compdat: {len(got)} rows, expected {len(want)}, or values differ"]
    return []


def check_wcon(path, t):
    want = []
    for d, hist in zip(t["dates"], t["hist"]):
        for w in t["wells"]:
            orat, wrat, grat = hist[w]
            want.append((d.date().isoformat(), "WCONHIST", w, "OPEN", "ORAT",
                         repr(orat), repr(wrat), repr(grat)))
    df = pd.read_csv(path, float_precision="round_trip")
    df["DATE"] = pd.to_datetime(df["DATE"]).dt.date.astype(str)
    for c in ("ORAT", "WRAT", "GRAT"):
        df[c] = df[c].astype(np.float64).map(repr)
    got = _rows(df, ["DATE", "KEYWORD", "WELL", "STATUS", "CMODE", "ORAT", "WRAT", "GRAT"])
    if got != sorted(want):
        return [f"wcon: {len(got)} rows, expected {len(want)}, or values differ"]
    return []


def check_gruptree(path, t):
    """The tree never changes: FIELD, the groups under it and each well
    under its WELSPECS group, all dated START."""
    start = gen.START.date().isoformat()
    want = [(start, "FIELD", "nan", "GRUPTREE")]
    want += [(start, g, "FIELD", "GRUPTREE") for g in t["groups"]]
    groups = np.resize(t["groups"], len(t["wells"]))
    want += [(start, w, str(g), "WELSPECS") for w, g in zip(t["wells"], groups)]
    df = pd.read_csv(path, float_precision="round_trip")
    df["DATE"] = pd.to_datetime(df["DATE"]).dt.date.astype(str)
    got = _rows(df, ["DATE", "CHILD", "PARENT", "KEYWORD"])
    if got != sorted(want):
        return [f"gruptree: {len(got)} edges, expected {len(want)}, or values differ"]
    return []


# --- case: csv2res -----------------------------------------------------------------


def _expand_rle(path, keyword):
    with open(path) as f:
        lines = f.read().split("\n")
    if lines[0].strip() != keyword:
        raise ValueError(f"first line is not {keyword}")
    toks = " ".join(lines[1:]).split()
    if "/" not in toks:
        raise ValueError("no terminating slash")
    out = []
    for tok in toks[:toks.index("/")]:
        n, _, v = tok.rpartition("*")
        out.extend([float(v)] * (int(n) if n else 1))
    return np.array(out)


def check_grid_property(path, t, keyword):
    n = int(np.prod(t["dims"]))
    want = np.zeros(n)
    src = t["w_permx"] if keyword == "PERMX" else t["w_fipnum"]
    want[np.flatnonzero(t["actnum"])] = src
    try:
        got = _expand_rle(path, keyword)
    except ValueError as exc:
        return [f"{keyword}: {exc}"]
    if got.shape != want.shape or not np.array_equal(got, want):
        return [f"{keyword}: expanded RLE differs from the global array ({len(got)} of {n} values)"]
    return []


def read_records(buf: bytes):
    """(keyword, type, values) from big-endian Fortran records."""
    pos, out = 0, []
    while pos < len(buf):
        (n,) = struct.unpack_from(">i", buf, pos)
        if n != 16:
            raise ValueError(f"bad header marker at {pos}")
        kw = buf[pos + 4:pos + 12].decode().strip()
        (count,) = struct.unpack_from(">i", buf, pos + 12)
        typ = buf[pos + 16:pos + 20].decode()
        pos += 24
        size = 8 if typ == "CHAR" else {"INTE": 4, "REAL": 4, "DOUB": 8, "LOGI": 4}.get(typ, 0)
        data = b""
        while len(data) < count * size:
            (n,) = struct.unpack_from(">i", buf, pos)
            data += buf[pos + 4:pos + 4 + n]
            if struct.unpack_from(">i", buf, pos + 4 + n)[0] != n:
                raise ValueError(f"unbalanced record at {pos}")
            pos += n + 8
        if typ == "CHAR":
            vals = [data[i:i + 8].decode().strip() for i in range(0, len(data), 8)]
        elif size:
            vals = np.frombuffer(data, {"INTE": ">i4", "REAL": ">f4", "DOUB": ">f8",
                                        "LOGI": ">i4"}[typ])
        else:
            vals = []
        out.append((kw, typ, vals))
    return out


def check_csv2res_summary(path, t):
    names, days, vals = t["w_smry"]
    try:
        with open(path, "rb") as f:
            spec = {k: v for k, _, v in read_records(f.read())}
        with open(os.path.splitext(path)[0] + ".UNSMRY", "rb") as f:
            params = np.array([v for k, _, v in read_records(f.read()) if k == "PARAMS"])
    except (OSError, ValueError, struct.error) as exc:
        return [f"csv2res summary: unreadable output ({exc})"]
    nx, ny = int(spec["DIMENS"][1]), int(spec["DIMENS"][2])
    got = []
    for kw, wg, num in zip(spec["KEYWORDS"], spec["WGNAMES"], spec["NUMS"]):
        if kw[0] == "B":
            n = int(num) - 1
            got.append(f"{kw}:{n % nx + 1},{n // nx % ny + 1},{n // (nx * ny) + 1}")
        elif kw[0] == "R":
            got.append(f"{kw}:{int(num)}")
        elif kw[0] in "WG":
            got.append(f"{kw}:{wg}")
        else:
            got.append(kw)
    errs = []
    if got != ["TIME", *names]:
        errs.append("csv2res summary: vector names differ from the CSV header")
    want = np.column_stack([(days - days[0]).astype(np.float32), vals])
    start = tuple(int(x) for x in spec["STARTDAT"][:3])
    d0 = gen.START + dt.timedelta(days=int(days[0]))
    if start != (d0.day, d0.month, d0.year):
        errs.append("csv2res summary: STARTDAT differs from the first DATE")
    if params.shape != want.shape or not np.array_equal(params, want):
        errs.append(f"csv2res summary: PARAMS differ ({params.shape} vs {want.shape})")
    return errs


def _include_records(path, keyword):
    with open(path) as f:
        lines = [ln.strip() for ln in f if ln.strip() and not ln.startswith("--")]
    if not lines or lines[0] != keyword or lines[-1] != "/":
        raise ValueError("not one keyword block")
    recs = []
    for ln in lines[1:-1]:
        toks = re.findall(r"'[^']*'|\S+", ln)
        if toks[-1] != "/":
            raise ValueError("record without a slash")
        items = []
        for tok in toks[:-1]:
            m = re.fullmatch(r"(\d+)\*", tok)
            items.extend([None] * int(m.group(1)) if m else [tok.strip("'")])
        recs.append(items)
    return recs


def _check_include(path, want: pd.DataFrame, keyword, positions):
    try:
        recs = _include_records(path, keyword)
    except (OSError, ValueError) as exc:
        return [f"{keyword}: {exc}"]
    got = sorted(tuple(_norm(r[p]) if p < len(r) else "None" for p in positions.values())
                 for r in recs)
    exp = sorted(tuple(_norm(v) for v in row)
                 for row in want[list(positions)].itertuples(index=False))
    if got != exp:
        return [f"{keyword}: {len(got)} records, expected {len(exp)}, or values differ"]
    return []


def _norm(v) -> str:
    if v is None:
        return "None"
    try:
        return repr(float(v))
    except ValueError:
        return str(v)


def check_csv2res_compdat(path, t):
    pos = {"WELL": 0, "I": 1, "J": 2, "K1": 3, "K2": 4, "OP/SH": 5, "KH": 9, "SKIN": 10}
    return _check_include(path, t["w_compdat"], "COMPDAT", pos)


def check_csv2res_welspecs(path, t):
    pos = {"WELL": 0, "GROUP": 1, "I": 2, "J": 3, "REF_DEPTH": 4, "PHASE": 5}
    return _check_include(path, t["w_welspecs"], "WELSPECS", pos)


# --- ensemble ----------------------------------------------------------------------


def check_ensemble(path, t):
    errs: list[str] = []
    try:
        df = pd.read_parquet(path)
    except (OSError, ValueError) as exc:
        return [f"ensemble: unreadable output ({exc})"]
    names = t["ens_spec"][1:]
    vals = t["ens_vals"][:, :, 1:].astype(np.float64)  # (real, step, vector)
    days = t["ens_days"].astype(np.float64)
    if len(df) != vals.shape[1] * vals.shape[2]:
        return _fail(errs, f"ensemble: {len(df)} rows, expected {vals.shape[1] * vals.shape[2]}")
    step = {int(d): s for s, d in enumerate(_start_us() + (days * US_PER_DAY).astype(np.int64))}
    col = {n: c for c, n in enumerate(names)}
    d_us = _dates_us(df["DATE"])
    try:
        s_idx = np.array([step[int(d)] for d in d_us])
        v_idx = np.array([col[v] for v in df["VECTOR"]])
    except KeyError as exc:
        return _fail(errs, f"ensemble: unexpected key {exc}")
    if len(set(zip(s_idx, v_idx))) != len(df):
        errs.append("ensemble: duplicate (DATE, VECTOR) rows")
    cells = vals[:, s_idx, v_idx]
    if not np.array_equal(df["MIN"].to_numpy(), cells.min(axis=0)):
        errs.append("ensemble: MIN differs")
    if not np.array_equal(df["MAX"].to_numpy(), cells.max(axis=0)):
        errs.append("ensemble: MAX differs")
    if not _close(df["MEAN"], cells.mean(axis=0), rtol=1e-12, atol=0):
        errs.append("ensemble: MEAN differs")
    return errs


CHECKS = {
    "case_cli": {
        "summary": lambda d, t: check_summary(os.path.join(d, "summary.csv"), t),
        "summary_monthly": lambda d, t: check_summary_monthly(os.path.join(d, "summary_monthly.csv"), t),
        "grid": lambda d, t: check_grid(os.path.join(d, "grid.csv"), t),
        "grid_rst": lambda d, t: check_grid_rst(os.path.join(d, "grid_rst.csv"), t),
        "pillars": lambda d, t: check_pillars(os.path.join(d, "pillars.csv"), t),
        "rft": lambda d, t: check_rft(os.path.join(d, "rft.csv"), t),
        "compdat": lambda d, t: check_compdat(os.path.join(d, "compdat.csv"), t),
        "wcon": lambda d, t: check_wcon(os.path.join(d, "wcon.csv"), t),
        "gruptree": lambda d, t: check_gruptree(os.path.join(d, "gruptree.csv"), t),
        "permx": lambda d, t: check_grid_property(os.path.join(d, "PERMX.grdecl"), t, "PERMX"),
        "fipnum": lambda d, t: check_grid_property(os.path.join(d, "FIPNUM.grdecl"), t, "FIPNUM"),
        "csv2res_summary": lambda d, t: check_csv2res_summary(os.path.join(d, "WRITTEN.SMSPEC"), t),
        "csv2res_compdat": lambda d, t: check_csv2res_compdat(os.path.join(d, "compdat.inc"), t),
        "csv2res_welspecs": lambda d, t: check_csv2res_welspecs(os.path.join(d, "welspecs.inc"), t),
    },
    "ensemble_summary": {
        "ensemble_stats": lambda d, t: check_ensemble(os.path.join(d, "stats"), t),
    },
}
