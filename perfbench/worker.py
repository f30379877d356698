"""One measured process: start the session, run whole rounds of one
workload's operations for at least the given seconds, and report
per-operation latencies (and, traced, per-layer numbers) as one JSON line.

Started by ``run.py``; output checks run there, after this process has
exited, so they add nothing to its memory peak or its timings.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time


def _ops_case(data: str, out: str) -> list[tuple[str, object]]:
    from res2df_spark import cli
    from res2df_spark.sinks import df2res

    case = os.path.join(data, "case", "CASE")
    w = os.path.join(data, "csv2res")
    global_size = _global_size(data)

    def res2csv(name, *args, deck=False):
        target = os.path.join(out, name + ".csv")
        return name, lambda: cli.main(
            [args[0], case + (".DATA" if deck else ""), "-o", target, *args[1:]])

    def grid_property(keyword, int_dtype):
        def op():
            spark = cli.get_spark()
            grid = spark.read.parquet(os.path.join(w, "grid.parquet"))
            text = df2res.df2res_grid_property(
                grid, keyword, global_size=global_size, fill=0,
                int_dtype=int_dtype)
            with open(os.path.join(out, keyword + ".grdecl"), "w") as f:
                f.write(text)
        return keyword.lower(), op

    def csv2res(module, target):
        return "csv2res_" + module, lambda: cli.csv2res_main(
            [module, os.path.join(w, module + ".csv"), "-o",
             os.path.join(out, target)])

    return [
        res2csv("summary", "summary"),
        res2csv("summary_monthly", "summary", "--time_index", "monthly"),
        res2csv("grid", "grid"),
        res2csv("grid_rst", "grid", "--rstdates", "all", "--stackdates"),
        res2csv("pillars", "pillars", "--rstdates", "last"),
        res2csv("rft", "rft"),
        res2csv("compdat", "compdat", deck=True),
        res2csv("wcon", "wcon", deck=True),
        res2csv("gruptree", "gruptree", deck=True),
        grid_property("PERMX", False),
        grid_property("FIPNUM", True),
        csv2res("summary", "WRITTEN.SMSPEC"),
        csv2res("compdat", "compdat.inc"),
        csv2res("welspecs", "welspecs.inc"),
    ]


def _global_size(data: str) -> int:
    import numpy as np

    with open(os.path.join(data, "case", "CASE.DATA")) as f:
        lines = f.read().split("\n")
    dims = lines[lines.index("DIMENS") + 1].split()[:3]
    return int(np.prod([int(d) for d in dims]))


def _ops_ensemble(data: str, out: str) -> list[tuple[str, object]]:
    from pyspark.sql import functions as F

    from res2df_spark.session import get_spark
    from res2df_spark.sinks import writers
    from res2df_spark.sources import eclbin

    glob = os.path.join(data, "ensemble", "realization-*", "iter-0", "eclipse",
                        "model", "*")

    def op():
        long = eclbin.summary_long_many(get_spark(), glob)
        stats = long.groupBy("DATE", "VECTOR").agg(
            F.mean("VALUE").alias("MEAN"), F.min("VALUE").alias("MIN"),
            F.max("VALUE").alias("MAX"))
        writers.write_dataframe(stats, os.path.join(out, "stats"), fmt="parquet")

    return [("ensemble_stats", op)]


#: workload -> (operations of one round, fewest rounds a run makes).  The
#: ensemble's first two operations still start Python workers and compile
#: code; with five rounds the median round is one that does not.
WORKLOADS = {"case_cli": (_ops_case, 1), "ensemble_summary": (_ops_ensemble, 5)}


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--data", required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--t0", type=float, required=True,
                    help="wall-clock time at which the launcher started this process")
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--spans", help="traced runs write their spans here")
    ap.add_argument("--setup-only", action="store_true",
                    help="exit once the session is ready")
    a = ap.parse_args()

    tracer = None
    if a.trace:
        import tracing

        tracer = tracing.Tracer()
        tracer.install()
    from res2df_spark import session

    t_spark = time.time()
    spark = session.get_spark("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    get_spark_s = time.time() - t_spark
    # no discarded warm-up: the first operation pays the first job's
    # class loading and code generation, as a caller's first command does
    setup_s = time.time() - a.t0
    result = {"setup_s": setup_s, "get_spark_s": get_spark_s}
    if a.setup_only:
        return _finish(result)

    store = None
    if tracer is not None:
        import tracing

        store = tracing.StatusStore(spark)
        tracer.sql_count = store.count
    ops_for, min_rounds = WORKLOADS[a.workload]
    rounds, t_start = [], time.time()
    while len(rounds) < min_rounds or time.time() - t_start < a.seconds:
        out = os.path.join(a.out, f"round-{len(rounds)}")
        os.makedirs(out, exist_ok=True)
        rec = {"out": out, "ops": []}
        for name, op in ops_for(a.data, out):
            op_id = f"{len(rounds)}:{name}"
            first = store.count() if store else 0
            if tracer:
                tracer.op, tracer.decode_bytes = op_id, 0
                tracer.collected_bytes = tracer.collected_rows = tracer.build_sql = 0
            t = time.perf_counter()
            try:
                op()
                ok, err = True, None
            except Exception as exc:  # one failed operation must not end the run
                ok, err = False, f"{type(exc).__name__}: {exc}"
            lat = time.perf_counter() - t
            entry = {"name": name, "latency_s": lat, "ok": ok, "error": err}
            if tracer:
                tracer.op = None
                counters, timeline = store.counters(first)
                counters.update(tracer.layer_times(op_id, timeline))
                counters.update({
                    "sources.eclbin.decode_bytes": tracer.decode_bytes,
                    "sinks.writers.collected_bytes": tracer.collected_bytes,
                    "sinks.df2res.collected_rows": tracer.collected_rows,
                    "modules.build_sql_executions": tracer.build_sql,
                })
                entry["layers"] = counters
            rec["ops"].append(entry)
        rounds.append(rec)
    result["rounds"] = rounds
    result["driver_rss_peak_mb"] = _rss()
    if tracer:
        result["jvm_rss_peak_mb"] = _rss(
            spark._jvm.java.lang.ProcessHandle.current().pid())
        if a.spans:
            tracer.dump(a.spans)
    return _finish(result)


def _finish(result: dict) -> int:
    """Print the result, stop the JVM and wait for it, then leave without
    the slower graceful shutdown.  The launcher stops whatever is left of
    this process group (the JVM's Python workers)."""
    from pyspark import SparkContext

    print(json.dumps(result), flush=True)
    jvm = SparkContext._gateway.proc
    jvm.terminate()
    jvm.wait(timeout=30)
    os._exit(0)


def _rss(pid="self") -> float:
    """Peak resident set (VmHWM) of a process, in MB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("no VmHWM line")


if __name__ == "__main__":
    sys.exit(main())
