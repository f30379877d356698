"""Traced mode: spans around each layer's public functions, plus engine
counters read from Spark's SQL status store.

Nothing here is imported by an untraced run, so untraced runs contain no
wrappers.  Spans are (layer, name, start, end, parent, op) tuples kept in
memory and written out once when the run ends.  A layer's self time is
its spans' durations minus the parts covered by child spans and, for the
sink and CLI layers, minus the SQL executions that start inside them
(that time belongs to ``exec``).
"""

from __future__ import annotations

import functools
import inspect
import re
import sys
import time

#: layer -> [(module, attribute)]; a dotted attribute names a method.
LAYERS = {
    "session": [("res2df_spark.session", "get_spark")],
    "sources.deck": [("res2df_spark.sources.deck", n) for n in
                     ("read_deck", "parse_deck", "deck_records",
                      "schedule_events")],
    "sources.eclbin.decode": [("res2df_spark.sources.eclbin", n) for n in
                              ("summary_long_pandas", "grid_geometry_pandas",
                               "init_vectors_pandas", "unrst_vectors_pandas",
                               "rft_pandas", "parse_smspec", "parse_unsmry",
                               "read_keywords")],
    "sources.eclbin.ingest": [("res2df_spark.sources.eclbin", n) for n in
                              ("summary_long", "summary_meta", "grid_geometry",
                               "grid_table", "rft_table", "nnc_table",
                               "summary_long_many")],
    "sinks.writers": [("res2df_spark.sinks.writers", n) for n in
                      ("write_dataframe", "to_pandas_datesafe",
                       "to_arrow_table")],
    "sinks.df2res": [("res2df_spark.sinks.writers", "rle_encode_distributed"),
                     ("res2df_spark.sources.eclbin", "write_summary")],
    "cli": [("res2df_spark.cli", "main"), ("res2df_spark.cli", "csv2res_main")],
}
#: every public function defined in these modules joins the layer
MODULE_LAYERS = {
    "modules": ["res2df_spark.modules." + m for m in
                ("compdat", "faults", "fipreports", "grid", "gruptree", "rft",
                 "summary", "tables", "vfp", "wcon", "wellcompletiondata",
                 "wellconnstatus", "wlist")],
    "sinks.df2res": ["res2df_spark.sinks.df2res"],
}
#: layers whose self time excludes the SQL executions started inside them
EXCLUDE_SQL = {"sinks.writers", "sinks.df2res", "cli"}
#: layer -> the metric its self time is reported as
SELF_METRIC = {"sources.deck": "sources.deck.self_s",
               "sources.eclbin.decode": "sources.eclbin.decode_s",
               "sources.eclbin.ingest": "sources.eclbin.ingest_s",
               "modules": "modules.build_s", "sinks.writers": "sinks.writers.self_s",
               "sinks.df2res": "sinks.df2res.self_s", "cli": "cli.self_s"}


class Tracer:
    def __init__(self):
        self.spans: list[list] = []
        self.stack: list[int] = []
        self.op: str | None = None
        self.decode_bytes = 0
        self.collected_bytes = 0
        self.collected_rows = 0
        self.build_sql = 0
        #: SQL executions started so far; set once the session exists
        self.sql_count = None

    # -- wrapping ----------------------------------------------------------

    def _wrap(self, layer: str, fn):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            parent = tracer.stack[-1] if tracer.stack else None
            outer_build = layer == "modules" and not any(
                tracer.spans[i][0] == "modules" for i in tracer.stack)
            before = tracer.sql_count() if outer_build and tracer.sql_count else None
            rec = [layer, fn.__qualname__, time.time(), None, parent, tracer.op]
            tracer.stack.append(len(tracer.spans))
            tracer.spans.append(rec)
            try:
                return fn(*args, **kwargs)
            finally:
                rec[3] = time.time()
                tracer.stack.pop()
                if before is not None:
                    tracer.build_sql += tracer.sql_count() - before

        return traced

    def install(self) -> None:
        """Replace each traced function at every place it is bound: its
        own module, modules that imported it by name, and classes."""
        import importlib

        import res2df_spark.case as case_mod
        import res2df_spark.cli  # noqa: F401  (binds write_dataframe, get_spark)

        targets = []
        for layer, names in LAYERS.items():
            for mod, attr in names:
                targets.append((layer, getattr(importlib.import_module(mod), attr)))
        for layer, mods in MODULE_LAYERS.items():
            for mod in mods:
                m = importlib.import_module(mod)
                for name, obj in vars(m).items():
                    if (inspect.isfunction(obj) and not name.startswith("_")
                            and obj.__module__ == m.__name__):
                        targets.append((layer, obj))
        wrapped = {id(fn): self._wrap(layer, fn) for layer, fn in targets}
        for name, m in list(sys.modules.items()):
            if not name.startswith("res2df_spark") or m is None:
                continue
            for attr, obj in list(vars(m).items()):
                if id(obj) in wrapped:
                    setattr(m, attr, wrapped[id(obj)])
        for name, obj in list(vars(case_mod.ResdataCase).items()):
            if inspect.isfunction(obj) and not name.startswith("__"):
                setattr(case_mod.ResdataCase, name, self._wrap("modules", obj))
        self._count_io()

    def _count_io(self) -> None:
        """Bytes walked by the binary decoder and results materialized on
        the driver inside sink spans."""
        # the session hands out this subclass, which overrides both methods
        from pyspark.sql.classic.dataframe import DataFrame

        from res2df_spark.sources import eclbin

        tracer = self
        iter_keywords = eclbin.iter_keywords

        @functools.wraps(iter_keywords)
        def counted_iter(buf, *a, **k):
            tracer.decode_bytes += len(buf)
            return iter_keywords(buf, *a, **k)

        eclbin.iter_keywords = counted_iter
        collect, to_pandas = DataFrame.collect, DataFrame.toPandas

        def innermost_sink():
            for i in reversed(tracer.stack):
                if tracer.spans[i][0].startswith("sinks."):
                    return tracer.spans[i][0]
            return None

        @functools.wraps(collect)
        def counted_collect(df):
            rows = collect(df)
            if innermost_sink() == "sinks.df2res":
                tracer.collected_rows += len(rows)
            return rows

        @functools.wraps(to_pandas)
        def counted_to_pandas(df):
            pdf = to_pandas(df)
            sink = innermost_sink()
            if sink == "sinks.writers":
                tracer.collected_bytes += int(pdf.memory_usage(deep=True).sum())
            elif sink == "sinks.df2res":
                tracer.collected_rows += len(pdf)
            return pdf

        DataFrame.collect, DataFrame.toPandas = counted_collect, counted_to_pandas

    # -- per-operation accounting -------------------------------------------

    def layer_times(self, op: str, executions: list[dict]) -> dict[str, float]:
        """Self time per layer metric for one operation's spans, in
        seconds (``session`` is reported from set-up instead)."""
        idx = [i for i, s in enumerate(self.spans) if s[5] == op]
        child = {i: 0.0 for i in idx}
        for i in idx:
            p = self.spans[i][4]
            if p in child:
                child[p] += self.spans[i][3] - self.spans[i][2]
        sql_in = {i: 0.0 for i in idx}
        for e in executions:
            host = None
            for i in idx:  # innermost span holding the submission
                s = self.spans[i]
                if s[2] <= e["start"] <= s[3] and (
                        host is None or s[2] >= self.spans[host][2]):
                    host = i
            if host is not None:
                sql_in[host] += e["duration"]
        out: dict[str, float] = {}
        for i in idx:
            layer, _, t0, t1 = self.spans[i][:4]
            own = t1 - t0 - child[i]
            if layer in EXCLUDE_SQL:
                own = max(own - sql_in[i], 0.0)
            if layer in SELF_METRIC:
                key = SELF_METRIC[layer]
                out[key] = out.get(key, 0.0) + own
        return out

    def dump(self, path: str) -> None:
        import json

        with open(path, "w") as f:
            json.dump([{"layer": s[0], "name": s[1], "start": s[2],
                        "end": s[3], "parent": s[4], "op": s[5]}
                       for s in self.spans], f)


# --- engine counters ------------------------------------------------------------

_UNITS = {"B": 1, "KiB": 1024, "MiB": 1024 ** 2, "GiB": 1024 ** 3,
          "TiB": 1024 ** 4, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
          "ns": 1e-9}
_TOTAL = re.compile(r"([-\d.,]+)\s*([A-Za-z]*)")


def parse_metric(text: str) -> float:
    """Total of a formatted SQL metric: '60,000', '111.1 KiB', or the
    'total (min, med, max ...)\\n1.1 s (...)' form."""
    if "\n" in text:
        text = text.split("\n", 1)[1]
    m = _TOTAL.match(text.strip())
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2), 1.0)


#: expression ids differ between two scans of one relation; strip them
_EXPR_ID = re.compile(r"#\d+L?")
_NODE_METRICS = {
    "shuffle bytes written": "exec.shuffle_write_bytes",
    "shuffle records written": "exec.shuffle_records",
    "spill size": "exec.spill_bytes",
    "data sent to Python workers": "exec.python_bytes",
    "data returned from Python workers": "exec.python_bytes",
}


class StatusStore:
    """Reads finished SQL executions from the session's status store."""

    def __init__(self, spark):
        self.spark = spark
        self.store = spark._jsparkSession.sharedState().statusStore()
        self.bus = spark._jsc.sc().listenerBus()
        self.tracker = spark.sparkContext.statusTracker()

    def count(self) -> int:
        self.bus.waitUntilEmpty()
        return int(self.store.executionsCount())

    def _settled(self, first: int):
        """Executions from index ``first`` on, once each has completed."""
        deadline = time.time() + 30.0
        while True:
            self.bus.waitUntilEmpty()
            seq = self.store.executionsList()
            execs = [seq.apply(i) for i in range(first, seq.size())]
            if all(e.completionTime().isDefined() for e in execs):
                return execs
            if time.time() > deadline:
                raise RuntimeError("SQL executions did not complete in 30 s")
            time.sleep(0.01)

    def counters(self, first: int) -> tuple[dict, list[dict]]:
        """Counters summed over the executions from index ``first``."""
        c = {k: 0.0 for k in ("exec.sql_s", "exec.sql_executions", "exec.tasks",
                              "exec.failed_tasks", "exec.scan_rows",
                              "exec.shuffle_write_bytes", "exec.shuffle_records",
                              "exec.spill_bytes", "exec.python_bytes")}
        scans, inputs, timeline = 0, 0, []
        for e in self._settled(first):
            eid = e.executionId()
            start = e.submissionTime() / 1000.0
            dur = (e.completionTime().get().getTime() - e.submissionTime()) / 1000.0
            timeline.append({"start": start, "duration": dur})
            c["exec.sql_s"] += dur
            c["exec.sql_executions"] += 1
            jobs = e.jobs().keys().toSeq()
            for j in range(jobs.size()):
                info = self.tracker.getJobInfo(int(jobs.apply(j)))
                for sid in (info.stageIds if info else []):
                    st = self.tracker.getStageInfo(sid)
                    if st:
                        c["exec.tasks"] += st.numCompletedTasks
                        c["exec.failed_tasks"] += st.numFailedTasks
            values = self.store.executionMetrics(eid)
            nodes = self.store.planGraph(eid).allNodes()
            descs = set()
            for n in (nodes.apply(i) for i in range(nodes.size())):
                name = n.name()
                is_scan = name.startswith(("Scan", "LocalTableScan", "BatchScan"))
                if is_scan:
                    scans += 1
                    descs.add(_EXPR_ID.sub("", n.desc()))
                ms = n.metrics()
                for k in range(ms.size()):
                    m = ms.apply(k)
                    key = _NODE_METRICS.get(m.name())
                    if key is None and not (is_scan and m.name() == "number of output rows"):
                        continue
                    v = values.get(m.accumulatorId())
                    if v.isDefined():
                        c[key or "exec.scan_rows"] += parse_metric(v.get())
            inputs += len(descs)
        c["exec.scans"], c["exec.inputs"] = scans, inputs
        return c, timeline
