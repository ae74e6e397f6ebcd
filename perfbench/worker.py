"""One benchmark process: bring the session up, run the passes, check
the outputs and, when traced, attribute the engine's work to the spans.

Started by ``run.py`` as ``python3 perfbench/worker.py CONFIG.json``.
It prints ``PERFBENCH_READY`` once the session is up and the package is
shipped (the parent times process start to that line as set-up), runs
the passes (see ``run_passes``) and writes its result JSON to the path
the config names.
"""

from __future__ import annotations

import functools
import json
import os
import sqlite3
import sys
import time
import traceback

READY = "PERFBENCH_READY"
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import checks  # noqa: E402
from spans import (  # noqa: E402
    StreamProgress,
    Tracer,
    attribute,
    descendants,
    job_totals,
    read_event_log,
    stream_totals,
    union_s,
)


def _parquet_stats(path: str) -> dict:
    import pyarrow.parquet as pq

    files = [os.path.join(root, f) for root, _, names in os.walk(path)
             for f in names if f.startswith("part-")]
    return {
        "rows": sum(pq.read_metadata(f).num_rows for f in files),
        "bytes": sum(os.path.getsize(f) for f in files),
        "files": len(files),
    }


class Medallion:
    """raw -> bronze -> silver -> gold (4 tables) -> SQLite, per pass."""

    def __init__(self, spark, cfg, tracer):
        self.spark, self.tracer = spark, tracer
        self.root = cfg["root"]
        self.raw = os.path.join(cfg["inputs"]["dir"], "acordos_raw.parquet")
        self.raw_rows = cfg["inputs"]["files"]["acordos_raw"]["rows"]
        with open(cfg["expected_path"], encoding="utf-8") as fh:
            self.expected = json.load(fh)

    def _paths(self, i: int) -> tuple[str, str]:
        base = os.path.join(self.root, "passes", f"p{i}")
        return os.path.join(base, "lake"), os.path.join(base, "gold.sqlite")

    def ops(self, i: int):
        from etl_acordos_spark.plans.medallion import (
            ACORDOS_CONFIG,
            acordos_gold_outputs,
            bronze_transform,
            silver_transform,
        )
        from etl_acordos_spark.sources.dbapi_sink import write_dbapi_append
        from etl_acordos_spark.sources.parquet_io import (
            layer_key,
            read_parquet,
            write_parquet_layer,
        )

        spark, span = self.spark, self.tracer.span
        lake, db = self._paths(i)

        def path(layer, name):
            return os.path.join(lake, layer_key(layer, name))

        def bronze():
            with span("bronze_transform"):
                df = bronze_transform(read_parquet(spark, self.raw),
                                      ACORDOS_CONFIG)
            with span("write_parquet_layer"):
                write_parquet_layer(df, lake, "bronze", "acordos")

        def silver():
            with span("silver_transform"):
                df = silver_transform(
                    read_parquet(spark, path("bronze", "acordos")),
                    ACORDOS_CONFIG)
            with span("write_parquet_layer"):
                write_parquet_layer(df, lake, "silver", "acordos")

        def gold():
            with span("acordos_gold_outputs"):
                outs = acordos_gold_outputs(
                    read_parquet(spark, path("silver", "acordos")))
            for name, df in outs.items():
                with span("write_parquet_layer", table=name):
                    write_parquet_layer(df, lake, "gold", name)

        def sink():
            connect = functools.partial(sqlite3.connect, db)
            for name in checks.GOLD_TABLES:
                with span("write_dbapi_append", table=name):
                    write_dbapi_append(
                        read_parquet(spark, path("gold", name)),
                        f"gld_{name}", connect, writer_partitions=1)

        return [("bronze", bronze), ("silver", silver), ("gold", gold),
                ("sink", sink)]

    def layer_stats(self, i: int) -> dict:
        from etl_acordos_spark.sources.parquet_io import layer_key

        lake, db = self._paths(i)
        bronze = _parquet_stats(os.path.join(lake, layer_key("bronze", "acordos")))
        silver = _parquet_stats(os.path.join(lake, layer_key("silver", "acordos")))
        golds = [_parquet_stats(os.path.join(lake, layer_key("gold", n)))
                 for n in checks.GOLD_TABLES]
        gold = {k: sum(g[k] for g in golds) for k in ("rows", "bytes", "files")}
        conn = sqlite3.connect(db)
        try:
            sunk = sum(conn.execute(f'SELECT count(*) FROM "gld_{n}"')
                       .fetchone()[0] for n in checks.GOLD_TABLES)
        finally:
            conn.close()
        return {
            "bronze": {"rows_in": self.raw_rows, "rows_out": bronze["rows"],
                       "bytes_written": bronze["bytes"],
                       "files_written": bronze["files"]},
            "silver": {"rows_in": bronze["rows"], "rows_out": silver["rows"],
                       "bytes_written": silver["bytes"],
                       "files_written": silver["files"]},
            "gold": {"rows_in": silver["rows"], "rows_out": gold["rows"],
                     "bytes_written": gold["bytes"],
                     "files_written": gold["files"]},
            "sink": {"rows_in": gold["rows"], "rows_out": sunk,
                     "bytes_written": os.path.getsize(db), "files_written": 1},
        }

    def check(self, i: int) -> dict[str, str]:
        """Failures by op name: silver and gold vs the reference (gold
        also vs the committed hashes), SQLite vs the gold parquet."""
        from etl_acordos_spark.sources.parquet_io import layer_key

        lake, db = self._paths(i)
        bad: dict[str, str] = {}
        # silver keeps exactly gold acordos' columns, deduplicated
        reason = checks.compare(
            checks.parquet_frame(os.path.join(lake, layer_key("silver", "acordos"))),
            self.expected["frames"]["acordos"])
        if reason:
            bad["silver"] = f"slv_acordos: {reason}"
        for name in checks.GOLD_TABLES:
            got = checks.parquet_frame(os.path.join(lake, layer_key("gold", name)))
            want = self.expected["frames"][name]
            reason = checks.compare(got, want)
            pinned = (self.expected.get("committed") or {}).get(name)
            if reason is None and pinned and pinned != checks.digest(got):
                reason = f"hash {checks.digest(got)} != committed {pinned}"
            if reason:
                bad.setdefault("gold", f"gld_{name}: {reason}")
            reason = checks.compare(checks.sqlite_frame(db, f"gld_{name}"), got)
            if reason:
                bad.setdefault("sink", f"gld_{name}: {reason}")
        return bad

    def cleanup(self, i: int) -> None:
        import shutil

        shutil.rmtree(os.path.join(self.root, "passes", f"p{i}"),
                      ignore_errors=True)


class Registry:
    """Each key through ``__spark_entry__.queries()``, forced with noop."""

    def __init__(self, spark, cfg, tracer):
        import __spark_entry__ as contract

        self.spark, self.tracer = spark, tracer
        self.sf_dir = cfg["inputs"]["dir"]
        self.keys = cfg["keys"]
        self.queries = contract.queries()
        with open(cfg["expected_path"], encoding="utf-8") as fh:
            self.expected = json.load(fh)["frames"]
        self.last: dict = {}

    def ops(self, i: int):
        span = self.tracer.span
        self.last = {}

        def call(key):
            def run():
                with span("builder"):
                    df = self.queries[key](self.spark, self.sf_dir)
                with span("action"):
                    df.write.format("noop").mode("overwrite").save()
                self.last[key] = df
            return run

        return [(key, call(key)) for key in self.keys]

    def layer_stats(self, i: int) -> dict:
        return {}

    def check(self, i: int) -> dict[str, str]:
        bad = {}
        for key, df in self.last.items():
            reason = checks.compare(checks.spark_frame(df), self.expected[key])
            if reason:
                bad[key] = reason[:300]
        return bad

    def cleanup(self, i: int) -> None:
        self.last = {}


WORKLOADS = {"medallion": Medallion, "registry": Registry}


def run_passes(work, tracer, seconds: float, result: dict) -> None:
    """One cold pass, then warm passes until their summed wall time
    reaches *seconds* (at least three, whose median is ``warm_s``). A
    traced run adds one untraced settling pass (the JIT is still
    compiling) and then runs its warm passes traced, untraced, untraced,
    traced (repeating; at least four), so the traced-minus-untraced
    difference cancels a linear warm-up drift. Outputs of the last pass
    are checked after it, outside the timing."""

    def one(i: int, kind: str) -> None:
        ops = work.ops(i)
        t0 = time.perf_counter()
        timings = {}
        with tracer.span("pass", index=i, kind=kind):
            for name, fn in ops:
                result["attempted"] += 1
                a = time.perf_counter()
                try:
                    with tracer.span(name):
                        fn()
                except Exception:
                    result["failed"] += 1
                    result["failures"].append(
                        {"pass": i, "op": name,
                         "error": traceback.format_exc(limit=3)[-600:]})
                    raise
                timings[name] = time.perf_counter() - a
        wall = time.perf_counter() - t0
        result["passes"].append({"index": i, "kind": kind, "wall_s": wall,
                                 "traced": tracer.active, "ops": timings})

    min_passes = 6 if tracer.enabled else 4
    i, spent = 0, 0.0
    while i < min_passes or spent < seconds:
        if i:
            work.cleanup(i - 1)
        settle = tracer.enabled and i == 1
        tracer.active = tracer.enabled and (i == 0 or (
            i > 1 and (i - 2) % 4 in (0, 3)))
        one(i, "cold" if i == 0 else "settle" if settle else "warm")
        if i and not settle:
            spent += result["passes"][-1]["wall_s"]
        i += 1
    for op, reason in work.check(i - 1).items():
        result["failed"] += 1
        result["failures"].append({"pass": i - 1, "op": op, "error": reason})
    result["passes"][-1]["layers"] = work.layer_stats(i - 1)
    work.cleanup(i - 1)


def trace_metrics(spans, jobs, stream_events, cores: int) -> dict:
    """Per-pass split of wall time and engine work over the spans."""
    attribute(spans, jobs)
    children: dict = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)

    def work_of(span_id: int) -> list[dict]:
        ids = descendants(spans, span_id)
        return [j for j in jobs if j["span"] in ids]

    out = []
    for p in (s for s in spans if s["name"] == "pass"):
        wall = p["end"] - p["start"]
        pj = work_of(p["id"])
        rec = {"index": p["index"], "kind": p["kind"], "wall_s": wall,
               "covered_s": sum(c["end"] - c["start"]
                                for c in children.get(p["id"], [])),
               "outside_job_s": wall - union_s(
                   [(j["submit"], j["end"] or j["submit"]) for j in pj],
                   p["start"], p["end"]),
               "cores": cores, **job_totals(pj),
               "stream": stream_totals(stream_events, p["start"], p["end"]),
               "ops": {}}
        for op in children.get(p["id"], []):
            sub = {c["name"]: 0.0 for c in children.get(op["id"], [])}
            for c in children.get(op["id"], []):
                sub[c["name"]] += c["end"] - c["start"]
            rec["ops"][op["name"]] = {"wall_s": op["end"] - op["start"],
                                      "calls": sub,
                                      **job_totals(work_of(op["id"]))}
        out.append(rec)
    return {"passes": out}


def jvm_peak_rss_mb(spark) -> float | None:
    try:
        pid = spark.sparkContext._gateway.proc.pid
        with open(f"/proc/{pid}/status", encoding="utf-8") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except (AttributeError, OSError, ValueError):
        pass
    return None


def main(cfg_path: str) -> int:
    with open(cfg_path, encoding="utf-8") as fh:
        cfg = json.load(fh)
    sys.path.insert(0, cfg["repo"])
    from etl_acordos_spark.queries.base import ensure_package_shipped
    from etl_acordos_spark.session import get_spark

    spark = get_spark("perfbench", extra_conf=cfg["spark_conf"])
    ensure_package_shipped(spark)
    print(READY, flush=True)

    spark.sparkContext.setLogLevel("ERROR")
    traced = cfg["trace"]
    tracer = Tracer(spark, enabled=traced)
    stream = StreamProgress(spark) if traced else None
    result = {"attempted": 0, "failed": 0, "failures": [], "passes": []}
    try:
        work = WORKLOADS[cfg["workload"]](spark, cfg, tracer)
        run_passes(work, tracer, cfg["seconds"], result)
    except Exception:
        result["error"] = traceback.format_exc(limit=5)[-2000:]
    finally:
        result["jvm_peak_rss_mb"] = jvm_peak_rss_mb(spark)
        if stream is not None:
            time.sleep(0.5)  # let the listener bus deliver the last events
            result["stream_events"] = stream.snapshot()
        spark.stop()
    if traced and "error" not in result:
        jobs = read_event_log(cfg["spark_conf"]["spark.eventLog.dir"])
        result["spans"] = tracer.spans
        result["trace"] = trace_metrics(tracer.spans, jobs,
                                        result["stream_events"],
                                        int(cfg["cpus"]))
    with open(cfg["result_path"], "w", encoding="utf-8") as fh:
        json.dump(result, fh)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1]))
