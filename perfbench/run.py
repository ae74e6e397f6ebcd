"""Benchmark of the medallion engine, run from the root of a checkout.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Workloads (one ``local[nproc]`` process per pass loop, one client, a
closed loop of passes):

- ``medallion_acordos``: the paper's whole dataflow on a seeded
  ``acordos_raw`` table: bronze write, silver read + dedup + write, the
  four gold parquet writes, and a SQLite DBAPI sink of the gold tables.
- ``registry``: registry keys through ``__spark_entry__.queries()`` on a
  seeded star schema, each forced through the ``noop`` sink; builder-
  bound keys (Python plan build, iterative driver loops, a streaming
  run) next to scan-bound keys (scan, shuffle, Python UDF work).

Inputs are generated from ``--seed`` and cached under
``.perfbench_cache/``; expected outputs are computed once per seed next
to them. Neither counts towards any metric. The run starts one worker
process in a fresh root under ``.perfbench_runs/`` holding Spark's local
dir, temp files, the warehouse, the program's scratch dir and the event
log; the root is deleted at exit.

Untraced (``--trace 0``) it reports:

- ``setup_s``: process start until the session is up and the package is
  shipped;
- ``cold_s``: wall time of the first pass in the fresh session;
- ``warm_s``: median wall time of the later passes in the same session;

and prints, by name with units, ``fail_ratio`` (failed over attempted
operations; an operation is one layer call or one key call) and, for
``medallion_acordos``, ``write_amp`` (parquet and SQLite bytes written
per raw input byte; it repeats exactly for a seed, so it is reported as
the per-layer count ``medallion.write_amp``).

Traced (``--trace 1``) the session also writes Spark's event log and
runs a streaming listener; the cold pass and half of the warm passes
record spans that tag their jobs, and the run reports the per-layer
split named in ``BENCHMARK.json`` from those passes. The tracing
overhead is the mean traced minus the mean untraced warm pass of that
session (both with the event log on).

Outputs are checked outside the timed passes (see ``checks.py``); a
failed or mismatching operation counts in ``failed`` and makes the exit
code 1. A full sidecar (box, inputs, passes, spans) goes to
``.perfbench_out/``. The last stdout line is the JSON result.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
CHECKOUT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import checks  # noqa: E402
import datagen  # noqa: E402
from worker import READY  # noqa: E402

#: a run must end within this many seconds
DEADLINE_S = 140.0

WORKLOADS = {
    "medallion_acordos": {"kind": "medallion", "input": "acordos",
                          "scale": 6000},
    "registry": {
        "kind": "registry", "input": "star", "scale": 0.05,
        "keys": [
            # builder-bound: the stream runs inside the builder
            "ext_stream_stateful",
            # scan-bound: scans, joins, shuffles, window sorts
            "ext_groupby_agg", "ext_window_ranking",
        ],
    },
}


def box_stamp() -> dict:
    import pyspark

    mem_kb = None
    try:
        with open("/proc/meminfo", encoding="utf-8") as fh:
            for line in fh:
                if line.startswith("MemTotal:"):
                    mem_kb = int(line.split()[1])
    except OSError:
        pass
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "ram_gb": round(mem_kb / 1024 / 1024, 1) if mem_kb else None,
        "python": platform.python_version(),
        "spark": pyspark.__version__,
        "platform": platform.platform(),
        "load_before": list(os.getloadavg()),
    }


def program_present() -> str | None:
    for rel in ("__spark_entry__.py", "etl_acordos_spark/session.py",
                "etl_acordos_spark/plans/medallion.py"):
        if not os.path.exists(os.path.join(CHECKOUT, rel)):
            return rel
    return None


def expected_outputs(spec: dict, inputs: dict, workload: str, seed: int,
                     run_root: str) -> str:
    """Write the expected frames for this run; return the file path.
    The frames are cached next to the input; committed hashes are read
    fresh from ``expected.json``."""
    import hashlib

    tag = hashlib.sha256(json.dumps(spec).encode()).hexdigest()[:10]
    cached = os.path.join(inputs["dir"], f"_EXPECTED-{tag}.json")
    if not os.path.exists(cached):
        if spec["kind"] == "medallion":
            frames = checks.medallion_reference(
                os.path.join(inputs["dir"], "acordos_raw.parquet"))
        else:
            sys.path.insert(0, CHECKOUT)
            import __spark_entry__ as contract

            frames = checks.registry_oracles(
                inputs["dir"], spec["keys"], contract.oracle_sql())
        tmp = f"{cached}.{os.getpid()}"
        with open(tmp, "w", encoding="utf-8") as fh:
            json.dump(frames, fh)
        os.replace(tmp, cached)
    with open(cached, encoding="utf-8") as fh:
        frames = json.load(fh)
    out = os.path.join(run_root, "expected.json")
    with open(out, "w", encoding="utf-8") as fh:
        json.dump({"frames": frames,
                   "committed": checks.committed_expected(workload, seed)}, fh)
    return out


class Process:
    """One worker process in its own fresh root and process group."""

    def __init__(self, run_root: str, cfg: dict, cpus: int):
        self.root = run_root
        dirs = {d: os.path.join(self.root, d) for d in
                ("tmp", "local", "scratch", "warehouse", "eventlog", "work")}
        for d in dirs.values():
            os.makedirs(d)
        conf = {
            "spark.local.dir": dirs["local"],
            # JVM temp files into the root; no hsperfdata file in /tmp
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={dirs['tmp']} -XX:-UsePerfData",
        }
        if cfg.get("trace"):
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": dirs["eventlog"],
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        self.cfg = {**cfg, "repo": CHECKOUT, "root": dirs["work"],
                    "cpus": cpus, "spark_conf": conf,
                    "result_path": os.path.join(self.root, "result.json")}
        self.env = {
            **os.environ,
            "SPARK_GRAFT_CPUS": str(cpus),
            "SPARK_GRAFT_DRIVER_MEM": "8g",
            "SPARK_GRAFT_SCRATCH": dirs["scratch"],
            "SPARK_GRAFT_WAREHOUSE": dirs["warehouse"],
            "SPARK_LOCAL_DIRS": dirs["local"],
            "TMPDIR": dirs["tmp"],
            # the launcher JVM of spark-submit: no hsperfdata file in /tmp
            "SPARK_LAUNCHER_OPTS": "-XX:-UsePerfData",
            "PYTHONUNBUFFERED": "1",
            # inherited by every process the worker starts (the JVM and
            # Spark's Python daemon, which leaves the process group)
            "PERFBENCH_RUN": self.root,
        }
        self.log = os.path.join(self.root, "worker.log")

    def run(self, timeout: float) -> tuple[float | None, dict | None]:
        """(set-up seconds, result); either is None when the process
        failed before reaching it."""
        cfg_path = os.path.join(self.root, "config.json")
        with open(cfg_path, "w", encoding="utf-8") as fh:
            json.dump(self.cfg, fh)
        ready: list[float] = []
        with open(self.log, "w", encoding="utf-8") as log:
            t0 = time.perf_counter()
            proc = subprocess.Popen(
                [sys.executable, os.path.join(HERE, "worker.py"), cfg_path],
                stdout=subprocess.PIPE, stderr=log, env=self.env,
                cwd=CHECKOUT, start_new_session=True, text=True)

            def pump():
                for line in proc.stdout:
                    if line.strip() == READY and not ready:
                        ready.append(time.perf_counter() - t0)
                    else:
                        log.write(line)

            reader = threading.Thread(target=pump, daemon=True)
            reader.start()
            try:
                code = proc.wait(timeout=timeout)
            except subprocess.TimeoutExpired:
                code = None
            finally:
                _end_group(proc)
                reader.join(timeout=10)
                _end_marked(self.env["PERFBENCH_RUN"])
        setup = ready[0] if ready else None
        if code != 0:
            return setup, None
        with open(self.cfg["result_path"], encoding="utf-8") as fh:
            return setup, json.load(fh)

    def tail(self, n: int = 40) -> str:
        try:
            with open(self.log, encoding="utf-8", errors="replace") as fh:
                return "".join(fh.readlines()[-n:])
        except OSError:
            return ""


def _end_group(proc: subprocess.Popen) -> None:
    """Wait for every process of the worker's group (the JVM included)
    to end; kill what is left after 20 s."""
    deadline = time.monotonic() + 20
    while True:
        try:
            os.killpg(proc.pid, 0)
        except ProcessLookupError:
            break
        if proc.poll() is None and time.monotonic() > deadline - 15:
            proc.terminate()
        if time.monotonic() > deadline:
            os.killpg(proc.pid, signal.SIGKILL)
        time.sleep(0.1)
        proc.poll()
    proc.wait()


def _end_marked(marker: str) -> None:
    """Wait for every process whose environment carries
    ``PERFBENCH_RUN=marker`` to end; kill what is left after 10 s."""
    tag = f"PERFBENCH_RUN={marker}".encode() + b"\0"

    def marked() -> list[int]:
        pids = []
        for name in os.listdir("/proc"):
            if name.isdigit() and int(name) != os.getpid():
                try:
                    with open(f"/proc/{name}/environ", "rb") as fh:
                        if tag in fh.read():
                            pids.append(int(name))
                except OSError:
                    pass
        return pids

    deadline = time.monotonic() + 10
    while (pids := marked()) and time.monotonic() < deadline + 5:
        if time.monotonic() > deadline:
            for pid in pids:
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
        time.sleep(0.1)


def write_amp(passes: list[dict], inputs: dict) -> float | None:
    """Parquet and SQLite bytes of the checked pass per raw input byte
    (medallion only: registry passes keep nothing on disk)."""
    layers = [p["layers"] for p in passes if p.get("layers")]
    if not layers:
        return None
    raw = sum(f["bytes"] for f in inputs["files"].values())
    return sum(v["bytes_written"] for v in layers[-1].values()) / raw


def layer_metrics(kind: str, keys: list[str], res: dict,
                  setup: float) -> dict:
    """The per-layer metrics of a traced process's result."""
    t = res["trace"]
    cold = next(p for p in t["passes"] if p["kind"] == "cold")
    warm = [p for p in t["passes"] if p["kind"] == "warm"]

    def mean(f):
        return statistics.fmean(f(p) for p in warm)

    def warm_walls(traced: bool) -> list[float]:
        return [p["wall_s"] for p in res["passes"]
                if p["kind"] == "warm" and p["traced"] == traced]

    m = {
        "session.setup_s": setup,
        "session.jvm_peak_rss_mb": res.get("jvm_peak_rss_mb") or 0.0,
        "trace.overhead_s": (statistics.fmean(warm_walls(True))
                             - statistics.fmean(warm_walls(False))),
        "trace.coverage": mean(lambda p: p["covered_s"] / p["wall_s"]),
        "spark.jobs": mean(lambda p: p["jobs"]),
        "spark.tasks": mean(lambda p: p["tasks"]),
        "spark.outside_job_s": mean(lambda p: p["outside_job_s"]),
        "executor.run_s": mean(lambda p: p["run_ms"] / 1e3),
        "executor.cpu_s": mean(lambda p: p["cpu_ns"] / 1e9),
        "executor.gc_s": mean(lambda p: p["gc_ms"] / 1e3),
        "executor.busy_ratio": mean(
            lambda p: p["run_ms"] / 1e3 / (p["wall_s"] * p["cores"])),
        "shuffle.read_bytes": mean(lambda p: p["shuffle_read"]),
        "shuffle.write_bytes": mean(lambda p: p["shuffle_write"]),
        "spill.disk_bytes": mean(lambda p: p["spill_disk"]),
        "python.bytes_sent": mean(lambda p: p["py_sent"]),
        "python.bytes_received": mean(lambda p: p["py_recv"]),
        "streaming.batches": mean(lambda p: p["stream"]["batches"]),
        "streaming.trigger_s": mean(lambda p: p["stream"]["trigger_s"]),
        "streaming.add_batch_s": mean(lambda p: p["stream"]["add_batch_s"]),
        "streaming.commit_s": mean(lambda p: p["stream"]["commit_s"]),
    }
    if kind == "registry":
        def call(p, key, part):
            return p["ops"][key]["calls"].get(part, 0.0)

        m["queries.builder_s"] = mean(
            lambda p: sum(call(p, k, "builder") for k in keys))
        m["queries.action_s"] = mean(
            lambda p: sum(call(p, k, "action") for k in keys))
        for k in keys:
            m[f"queries.{k}.builder_s"] = mean(lambda p: call(p, k, "builder"))
            m[f"queries.{k}.action_s"] = mean(lambda p: call(p, k, "action"))
            m[f"queries.{k}.jobs"] = mean(lambda p: p["ops"][k]["jobs"])
            m[f"queries.{k}.cold_builder_s"] = call(cold, k, "builder")
            m[f"queries.{k}.cold_jobs"] = cold["ops"][k]["jobs"]
    else:
        last = [p for p in res["passes"] if p.get("layers")][-1]["layers"]
        for layer in ("bronze", "silver", "gold", "sink"):
            pre = f"medallion.{layer}."
            m[pre + "wall_s"] = mean(lambda p: p["ops"][layer]["wall_s"])
            m[pre + "jobs"] = mean(lambda p: p["ops"][layer]["jobs"])
            m[pre + "bytes_read"] = mean(lambda p: p["ops"][layer]["bytes_read"])
            for f in ("rows_in", "rows_out", "bytes_written", "files_written"):
                m[pre + f] = last[layer][f]
        m["medallion.sink.rows_per_s"] = (
            m["medallion.sink.rows_in"] / m["medallion.sink.wall_s"])
    return m


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    t_start = time.monotonic()

    missing = program_present()
    if missing:
        print(f"perfbench: the program is not in this checkout "
              f"({missing} missing)", file=sys.stderr)
        return 2
    with open(os.path.join(CHECKOUT, "BENCHMARK.json"), encoding="utf-8") as fh:
        bench = json.load(fh)
    spec = WORKLOADS[args.workload]
    box = box_stamp()
    cpus = box["nproc"]

    inputs = datagen.ensure(os.path.join(CHECKOUT, ".perfbench_cache"),
                            spec["input"], args.seed, spec["scale"])
    run_root = os.path.join(CHECKOUT, ".perfbench_runs",
                            f"{args.workload}-{os.getpid()}")
    shutil.rmtree(run_root, ignore_errors=True)
    os.makedirs(run_root)
    try:
        cfg = {"workload": spec["kind"], "keys": spec.get("keys", []),
               "inputs": inputs, "seconds": args.seconds,
               "expected_path": expected_outputs(
                   spec, inputs, args.workload, args.seed, run_root)}

        def budget() -> float:
            return max(5.0, DEADLINE_S - (time.monotonic() - t_start))

        proc = Process(run_root, {**cfg, "trace": bool(args.trace)}, cpus)
        setup, res = proc.run(budget())
        if setup is None or res is None:
            sys.stderr.write("perfbench: the worker failed\n" + proc.tail())
            return 3
        if "error" in res:
            sys.stderr.write(res["error"] + "\n")
        for f in res["failures"]:
            sys.stderr.write(f"perfbench: FAILED pass {f['pass']} {f['op']}: "
                             f"{f['error']}\n")

        passes = res["passes"]
        warm = [p["wall_s"] for p in passes
                if p["kind"] == "warm" and not p["traced"]]
        e2e = {
            "setup_s": setup,
            "cold_s": passes[0]["wall_s"] if passes else 0.0,
            "warm_s": statistics.median(warm) if warm else 0.0,
        }
        amp = write_amp(passes, inputs)
        ok = (res["failed"] == 0 and "error" not in res
              and len(warm) >= 2)
        if args.trace:
            values = (layer_metrics(spec["kind"], spec.get("keys", []), res,
                                    setup) if ok else {})
            if amp is not None:
                values["medallion.write_amp"] = amp
            wanted = bench["per_layer"]
        else:
            values = e2e
            wanted = bench["end_to_end"]
        metrics = {m["name"]: {"value": float(values.get(m["name"], 0.0)),
                               "unit": m["unit"]} for m in wanted}
        attempted = max(1, res["attempted"])
        failed = res["failed"] or (0 if ok else 1)
        box["load_after"] = list(os.getloadavg())
        sidecar = {
            "workload": args.workload, "seed": args.seed,
            "seconds": args.seconds, "trace": args.trace, "box": box,
            "env": {"SPARK_GRAFT_CPUS": cpus, "SPARK_GRAFT_DRIVER_MEM": "8g"},
            "inputs": inputs, "setup_s": setup, "passes": passes,
            "end_to_end": e2e, "write_amp": amp,
            "per_layer": values if args.trace else None,
            "failures": res["failures"], "trace": res.get("trace"),
            "spans": res.get("spans"),
        }
        out_dir = os.path.join(CHECKOUT, ".perfbench_out")
        os.makedirs(out_dir, exist_ok=True)
        side_path = os.path.join(
            out_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}.json")
        with open(side_path, "w", encoding="utf-8") as fh:
            json.dump(sidecar, fh, indent=1, default=str)

        for name, v in metrics.items():
            print(f"{name:40s} {v['value']:14.6g} {v['unit']}")
        if amp is not None:
            print(f"{'write_amp':40s} {amp:14.6g} bytes/byte")
        print(f"{'fail_ratio':40s} {failed / attempted:14.6g} ratio "
              f"({failed}/{attempted})")
        for name, f in inputs["files"].items():
            print(f"input {name}: {f['rows']} rows, {f['bytes']} bytes")
        print("box: " + json.dumps(box))
        print(f"sidecar: {os.path.relpath(side_path, CHECKOUT)}")
        print(json.dumps({"correct": failed == 0, "attempted": attempted,
                          "failed": failed, "metrics": metrics}))
        return 0 if failed == 0 else 1
    finally:
        shutil.rmtree(run_root, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
