"""The repository's benchmark: one command, one workload per run.

    python3 perfbench/run.py --workload case_cli --seed 1 --seconds 10 --trace 0

Run from the root of a checkout.  It generates the seed's inputs under
``.perfbench/`` (once per seed), sets up three fresh Spark processes, runs
whole rounds of the workload's operations in the last one for at least
``--seconds``, checks every output apart from the program, and prints one
JSON object as its last line.  ``--trace 0`` reports the end-to-end
metrics, ``--trace 1`` the per-layer ones.  See README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import pickle
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
WORKLOADS = ("case_cli", "ensemble_summary")
#: fresh processes whose set-up time is measured; the median is reported
SETUPS = 3
#: wall-clock limit for one run, below the 180 s a run may take
DEADLINE_S = 170.0


def _units(kind: str) -> dict[str, str]:
    """Metric name -> unit for ``end_to_end`` or ``per_layer``, as
    BENCHMARK.json declares them."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[kind]}


def _env() -> dict:
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(os.path.join(tmp, "spark-local"), exist_ok=True)
    env = dict(os.environ)
    with open("/proc/meminfo") as f:
        total_mb = int(f.readline().split()[1]) // 1024
    env.update({
        # the ensemble reader's Python workers import the package too
        "PYTHONPATH": ROOT + os.pathsep + env.get("PYTHONPATH", ""),
        "PYSPARK_PYTHON": sys.executable,
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_DRIVER_MEMORY": f"{min(4096, total_mb // 4)}m",
        "SPARK_LOCAL_DIRS": os.path.join(tmp, "spark-local"),
        "TMPDIR": tmp,
        # keep the JVMs (spark-submit's launcher and the driver) out of /tmp
        "SPARK_LAUNCHER_OPTS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "PYSPARK_SUBMIT_ARGS": f"--conf spark.driver.extraJavaOptions="
                               f"'-Djava.io.tmpdir={tmp} -XX:-UsePerfData' pyspark-shell",
    })
    for k in ("SPARK_MASTER", "PYSPARK_GATEWAY_PORT", "RES2DF_SPARK_CHECKPOINT_DIR"):
        env.pop(k, None)
    return env


def _child(args: list[str], env: dict, deadline: float) -> str:
    """Run a child in its own process group; return its last stdout
    line.  Every process of the group is gone when this returns."""
    proc = subprocess.Popen([sys.executable, *args], env=env, cwd=os.path.join(WORK, "tmp"),
                            stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                            text=True, start_new_session=True)
    try:
        out, err = proc.communicate(timeout=max(deadline - time.time(), 1.0))
    except subprocess.TimeoutExpired:
        _reap(proc.pid)
        proc.communicate()
        raise RuntimeError(f"{args[0]} ran past the run's deadline")
    finally:
        _reap(proc.pid)
    if proc.returncode != 0:
        sys.stderr.write(err[-4000:])
        raise RuntimeError(f"{os.path.basename(args[0])} exited with {proc.returncode}")
    lines = out.strip().splitlines()
    return lines[-1] if lines else ""


def _group(pgid: int) -> list[int]:
    pids = []
    for p in os.listdir("/proc"):
        if p.isdigit():
            try:
                with open(f"/proc/{p}/stat") as f:
                    fields = f.read().rsplit(")", 1)[1].split()
            except OSError:
                continue
            if int(fields[2]) == pgid and fields[0] != "Z":
                pids.append(int(p))
    return pids


def _reap(pgid: int) -> None:
    """Stop whatever the child left in its process group (the JVM and
    its Python workers) and wait until none is left."""
    for sig, wait in ((signal.SIGTERM, 5.0), (signal.SIGKILL, 10.0)):
        if not _group(pgid):
            return
        try:
            os.killpg(pgid, sig)
        except ProcessLookupError:
            return
        end = time.time() + wait
        while _group(pgid) and time.time() < end:
            time.sleep(0.05)
    if _group(pgid):
        raise RuntimeError(f"processes of group {pgid} did not stop")


def _inputs(seed: int, env: dict, deadline: float) -> tuple[str, dict]:
    data = os.path.join(WORK, "data", f"seed-{seed}")
    truth = os.path.join(data, "truth.pkl")
    if not os.path.exists(truth):
        _child([os.path.join(HERE, "gen.py"), "--seed", str(seed), "--out", data],
               env, deadline)
    with open(truth, "rb") as f:
        return data, pickle.load(f)


def _worker(workload, data, out, seconds, trace, env, deadline, setup_only=False,
            spans=None):
    args = [os.path.join(HERE, "worker.py"), "--workload", workload, "--data", data,
            "--out", out, "--seconds", str(seconds), "--trace", str(trace),
            "--t0", repr(time.time())]
    if setup_only:
        args.append("--setup-only")
    if spans:
        args += ["--spans", spans]
    return json.loads(_child(args, env, deadline))


def _check(workload: str, rounds: list[dict], truth: dict) -> list[str]:
    import checks

    errs = []
    for rnd in rounds:
        for op in rnd["ops"]:
            if op["ok"]:
                try:
                    errs += checks.CHECKS[workload][op["name"]](rnd["out"], truth)
                except Exception as exc:  # unreadable output: report, keep checking
                    errs.append(f"{op['name']}: check raised {type(exc).__name__}: {exc}")
    return errs


def _per_layer(res: dict, names) -> dict[str, float]:
    """Per-round totals of each layer's numbers, median over the rounds."""
    per_round = []
    for rnd in res["rounds"]:
        tot: dict[str, float] = {}
        for op in rnd["ops"]:
            for k, v in op["layers"].items():
                tot[k] = tot.get(k, 0.0) + v
        tot["exec.scans_per_input"] = tot.pop("exec.scans") / max(tot.pop("exec.inputs"), 1)
        tot["trace.run_s"] = sum(op["latency_s"] for op in rnd["ops"])
        per_round.append(tot)
    out = {k: statistics.median(r.get(k, 0.0) for r in per_round) for k in names}
    out["session.get_spark_s"] = res["get_spark_s"]
    out["exec.jvm_rss_peak_mb"] = res["jvm_rss_peak_mb"]
    return out


def run(workload: str, seed: int, seconds: float, trace: int) -> dict:
    deadline = time.time() + DEADLINE_S
    env = _env()
    data, truth = _inputs(seed, env, deadline)
    out = os.path.join(WORK, "out", f"{workload}-{os.getpid()}")
    shutil.rmtree(out, ignore_errors=True)
    try:
        # set-up time is an end-to-end metric only; a traced run skips it
        setups = [_worker(workload, data, out, seconds, trace, env, deadline,
                          setup_only=True)["setup_s"]
                  for _ in range(0 if trace else SETUPS - 1)]
        spans = os.path.join(WORK, "traces", f"{workload}-seed-{seed}.json")
        os.makedirs(os.path.dirname(spans), exist_ok=True)
        res = _worker(workload, data, out, seconds, trace, env, deadline,
                      spans=spans if trace else None)
        setups.append(res["setup_s"])
        errs = _check(workload, res["rounds"], truth)
    finally:
        shutil.rmtree(out, ignore_errors=True)
    ops = [op for rnd in res["rounds"] for op in rnd["ops"]]
    for op in ops:
        if not op["ok"]:
            sys.stderr.write(f"{op['name']} failed: {op['error']}\n")
    for e in errs:
        sys.stderr.write(f"check: {e}\n")
    units = _units("per_layer" if trace else "end_to_end")
    if trace:
        values = _per_layer(res, units)
    else:
        values = {
            "setup_s": statistics.median(setups),
            "run_s": statistics.median(sum(op["latency_s"] for op in rnd["ops"])
                                       for rnd in res["rounds"]),
            "driver_rss_peak_mb": res["driver_rss_peak_mb"],
        }
    metrics = {k: {"value": values[k], "unit": u} for k, u in units.items()}
    return {"correct": not errs, "attempted": len(ops),
            "failed": sum(not op["ok"] for op in ops), "metrics": metrics}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", choices=WORKLOADS, required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if not os.path.isfile(os.path.join(ROOT, "res2df_spark", "cli.py")):
        sys.stderr.write(f"no res2df_spark package under {ROOT}: run from a checkout\n")
        return 2
    print(json.dumps(run(a.workload, a.seed, a.seconds, a.trace)))
    return 0


if __name__ == "__main__":
    sys.exit(main())
