"""One run of one workload in a fresh process: set up, one cold pass,
checks, metrics.

Started by ``run.py`` with the run environment already pinned (see
``run.py``); writes its result as JSON to ``<run dir>/result.json``.
Every layer is timed from outside: calls into ``session``, ``queries``,
``plans.inspect``, ``streaming.jobs`` and ``sources.laketable`` are wrapped
here, CPU and RSS come from ``/proc``, and the traced run reads Spark's
event log. No package code is changed or patched.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import random
import statistics
import sys
import time
import traceback

import procfs

ROOT = os.getcwd()
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [ROOT, os.path.join(ROOT, "tests")]

STAR = ("region", "nation", "customer", "supplier", "part", "orders", "lineitem")

#: tables (name → scale factor, fixture row counts: sf0.01 = 15 000 orders,
#: 500 documents) and the queries of each query workload
QUERY_WORKLOADS = {
    "llm_dedup": {
        "tables": {"documents": 0.02, "embeddings": 0.02},
        "queries": ["q_dedup_sketch", "q_setsim_join", "q_dedup_clusters",
                    "q_cosine_topk", "q_dedup_minhash"],
    },
    "relational": {
        "tables": {**{t: 0.02 for t in STAR}, "events": 0.02, "documents": 0.01},
        "queries": ["q_pricing_summary", "q_join_inner", "q_star_join",
                    "q_market_share", "q_join_asof", "q_win_running_sum",
                    "q_topk_per_key", "q_session_window", "q_tumbling_window",
                    "q_agg_combine", "q_wordcount"],
    },
}
#: lake_ingest: orders rows, stream files, merge batches × keys per batch
LAKE = {"n_orders": 40_000, "n_files": 8, "n_merges": 3, "merge_keys": 2_000}
WORKLOADS = [*QUERY_WORKLOADS, "lake_ingest"]
STAGE_REPEATS = 3
CHECK_GROUP = "perfbench.check"

now = time.perf_counter


class Run:
    def __init__(self, args):
        self.args = args
        self.run_dir = os.environ["PERFBENCH_RUN_DIR"]
        self.trace = bool(args.trace)
        self.layers: dict[str, float] = {}
        self.detail: dict = {"workload": args.workload, "seed": args.seed,
                             "trace": args.trace, "ops": {}}
        self.checks: dict[str, bool] = {}
        self.groups: set[str] = set()

    def add(self, key: str, value: float) -> None:
        self.layers[key] = self.layers.get(key, 0.0) + value

    def group(self, name: str) -> None:
        if self.trace:
            self.groups.add(name)
            self.spark.sparkContext.setJobGroup(name, name)

    def timed(self, name: str, key: str, layer: str | None, fn):
        """Run one pass operation; a raised error is a failed check named
        after the operation, and the pass goes on."""
        op = self.detail["ops"].setdefault(name, {})
        t = now()
        try:
            return fn()
        except Exception:  # reported as a failed operation; the pass goes on
            self.check(name, False, {"error": traceback.format_exc()[-1500:]})
        finally:
            op[key] = now() - t
            if layer:
                self.add(layer, op[key])

    def check(self, name: str, ok: bool, info) -> None:
        """Record one check of an operation; the operation passes only if
        every check of it passed, and each check's info is kept."""
        self.checks[name] = self.checks.get(name, True) and bool(ok)
        self.detail["ops"].setdefault(name, {}).setdefault("checks", []).append(info)

    # ---- setup ---------------------------------------------------------
    def setup(self, t0: float) -> None:
        t = now()
        from apachebeam_python_spark.session import get_spark

        self.spark = get_spark(f"perfbench-{self.args.workload}")
        self.add("session.start_s", now() - t)
        self.spark.sparkContext.setLogLevel("ERROR")
        t = now()
        import apachebeam_python_spark.queries  # noqa: F401  (the registry)

        self.add("session.import_s", now() - t)
        up = time.time() - t0
        stage_s = []
        for i in range(STAGE_REPEATS):
            self.data = os.path.join(self.run_dir, f"input{i}")
            t = now()
            self.stage(self.data, self.args.seed)
            stage_s.append(now() - t)
        self.add("sources.stage_s", statistics.median(stage_s))
        self.detail["stage_s"] = stage_s
        self.setup_s = up + statistics.median(stage_s)

    def stage(self, out: str, seed: int) -> None:
        import datagen

        if self.args.workload in QUERY_WORKLOADS:
            datagen.stage_tables(out, QUERY_WORKLOADS[self.args.workload]["tables"])
        else:
            self.lake_in = datagen.lake_inputs(out, seed, **LAKE)
            # the file source replays in modification-time order: pin it
            for i, f in enumerate(self.lake_in["stream_files"]):
                os.utime(f, (1e9 + i, 1e9 + i))

    # ---- query workloads -------------------------------------------------
    def query_pass(self) -> None:
        from apachebeam_python_spark.plans import inspect
        from apachebeam_python_spark.queries import QUERIES

        names = list(QUERY_WORKLOADS[self.args.workload]["queries"])
        random.Random(self.args.seed).shuffle(names)
        self.detail["order"] = names
        self.out = os.path.join(self.run_dir, "out")
        for name in names:
            self.group(name)
            df = self.timed(name, "build_s", "queries.build_s",
                            lambda: QUERIES[name](self.spark, self.data))
            if df is None:
                continue
            plan = self.trace and self.timed(name, "plan_s", "plans.plan_s",
                                             lambda: inspect.executed_plan(df))
            if plan:
                op = self.detail["ops"][name]
                op["plan_sha"] = inspect.plan_fingerprint(df)
                op["exchanges"] = inspect.count_exchanges(df)
                self.add("plans.exchanges", op["exchanges"])
            self.timed(name, "exec_s", "queries.exec_s", lambda: df.write.mode(
                "overwrite").parquet(os.path.join(self.out, name)))

    def query_checks(self) -> None:
        import duckdb
        import pyarrow.parquet as pq
        from parity import driver_canon

        from apachebeam_python_spark.queries import ORACLES

        with open(os.path.join(HERE, "expected.json")) as fh:
            expected = json.load(fh)["rows_only"]
        con = duckdb.connect()
        for t in QUERY_WORKLOADS[self.args.workload]["tables"]:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"read_parquet('{os.path.join(self.data, t)}.parquet')")
        for name in self.detail["order"]:
            try:
                got = canon_digest(driver_canon(
                    pq.read_table(os.path.join(self.out, name)).to_pandas()))
                if name in ORACLES:
                    want = canon_digest(driver_canon(con.execute(ORACLES[name]).df()))
                else:
                    want = expected.get(name)
                self.check(name, got == want,
                           {"oracle": name in ORACLES, "got": got, "want": want})
            except Exception:  # a failed check is reported, not raised
                self.check(name, False, {"error": traceback.format_exc()[-1500:]})

    # ---- lake_ingest -----------------------------------------------------
    def lake_pass(self) -> None:
        from pyspark.sql import functions as F

        from apachebeam_python_spark.sources import laketable as LT
        from apachebeam_python_spark.streaming import jobs

        spark, li = self.spark, self.lake_in
        self.lake = os.path.join(self.run_dir, "lake", "orders")
        self.lake_out: dict = {}
        ops = self.detail["ops"]
        batch_s: list[float] = []

        def body(df, batch_id):
            t = now()
            LT.append_stream_batch(df, self.lake, batch_id)
            batch_s.append(now() - t)

        def stream():
            schema = spark.read.parquet(li["stream_files"][0]).schema
            src = (spark.readStream.schema(schema)
                   .option("maxFilesPerTrigger", 1).parquet(li["stream_dir"]))
            jobs.run_foreach_batch(src, body, checkpoint=os.path.join(
                self.run_dir, "lake", "checkpoint"))
            self.lake_out["stream_version"] = LT.current_version(self.lake)

        def reads():
            row = LT.read_table(spark, self.lake).agg(
                F.count("*").alias("n"), F.sum("o_totalprice").alias("s")).collect()[0]
            v = self.lake_out["stream_version"]
            self.lake_out.update(
                final_rows=row["n"], final_sum=row["s"],
                time_travel_rows=LT.read_table(spark, self.lake, version=v).count(),
                change_rows=LT.read_changes(spark, self.lake, 0, v).count())

        self.group("lake.stream")
        self.timed("lake.stream", "drain_s", "streaming.drain_s", stream)
        self.lake_out["stream_batches"] = len(batch_s)
        ops["lake.stream"]["batch_s"] = batch_s
        self.layers.update({
            "streaming.batches": len(batch_s),
            "streaming.sink_s": sum(batch_s),
            "streaming.engine_s": ops["lake.stream"]["drain_s"] - sum(batch_s),
            "streaming.batch_p50_s": statistics.median(batch_s) if batch_s else 0.0,
            "streaming.batch_max_s": max(batch_s, default=0.0),
            "sources.laketable.append_s": sum(batch_s),
        })
        self.group("lake.merge")
        for i, f in enumerate(li["merge_files"]):
            self.timed(f"lake.merge{i}", "exec_s", "sources.laketable.merge_s",
                       lambda: LT.merge(spark, self.lake, spark.read.parquet(f), "o_orderkey"))
        self.group("lake.delete")
        self.timed("lake.delete", "exec_s", "sources.laketable.delete_s",
                   lambda: LT.delete_where(spark, self.lake, li["delete_predicate"]))
        self.group("lake.compact")
        self.timed("lake.compact", "exec_s", "sources.laketable.compact_s",
                   lambda: LT.compact(spark, self.lake))
        self.group("lake.read")
        self.timed("lake.read", "exec_s", "sources.laketable.read_s", reads)

    def lake_checks(self) -> None:
        """Replay the same seeded operations in DuckDB and compare."""
        import duckdb

        from apachebeam_python_spark.sources import laketable as LT

        li = self.lake_in
        con = duckdb.connect()
        files = li["stream_files"]
        con.execute(f"CREATE TABLE t AS SELECT * FROM read_parquet({files!r})")
        stream_rows = con.execute("SELECT count(*) FROM t").fetchone()[0]
        first = con.execute(
            f"SELECT count(*) FROM read_parquet('{files[0]}')").fetchone()[0]
        for f in li["merge_files"]:
            con.execute(f"DELETE FROM t WHERE o_orderkey IN "
                        f"(SELECT o_orderkey FROM read_parquet('{f}'))")
            con.execute(f"INSERT INTO t SELECT * FROM read_parquet('{f}')")
        con.execute(f"DELETE FROM t WHERE {li['delete_predicate']}")
        n, s = con.execute("SELECT count(*), sum(o_totalprice) FROM t").fetchone()
        got = self.lake_out
        want = {"final_rows": n, "final_sum": s, "time_travel_rows": stream_rows,
                "change_rows": stream_rows - first, "stream_batches": len(files)}
        for k in want:
            g = got.get(k)
            ok = g is not None and (abs(g - want[k]) <= 1e-9 * max(1.0, abs(want[k]))
                                    if k == "final_sum" else g == want[k])
            self.check(f"lake.{k}", ok, {"got": g, "want": want[k]})
        for op in ("lake.stream", *(f"lake.merge{i}" for i in range(len(li["merge_files"]))),
                   "lake.delete", "lake.compact", "lake.read"):
            self.checks.setdefault(op, True)
        hist = LT.history(self.lake)
        data_bytes = dir_bytes(os.path.join(self.lake, "data"))
        self.layers.update({
            "sources.laketable.commits": len(hist),
            "sources.laketable.files_live": hist[-1]["n_files"],
            "sources.laketable.bytes_written_mb": data_bytes / 2**20,
            "sources.laketable.space_amp": dir_bytes(self.lake) / li["staged_bytes"],
        })

    def event_log(self) -> dict:
        """Pass totals from the event log; the check jobs are left out and
        the micro-batch jobs (grouped by Spark under the stream's run id)
        are labelled ``lake.stream.batches``."""
        import eventlog

        groups = eventlog.parse(os.path.join(self.run_dir, "eventlog"))["groups"]
        groups.pop(CHECK_GROUP, None)
        labelled: dict[str, dict] = {}
        for gid, g in groups.items():
            lake_batch = gid not in self.groups and self.args.workload == "lake_ingest"
            name = "lake.stream.batches" if lake_batch else gid
            into = labelled.setdefault(name, dict.fromkeys(g, 0.0))
            for k, v in g.items():
                into[k] += v
        self.detail["groups"] = labelled
        return {k: sum(g[k] for g in labelled.values())
                for k in next(iter(labelled.values()), {})}

    # ---- the run -----------------------------------------------------------
    def main(self, t0: float) -> dict:
        lake = self.args.workload == "lake_ingest"
        with procfs.RssSampler() as rss:
            self.setup(t0)
            a = procfs.pass_window()
            (self.lake_pass if lake else self.query_pass)()
            b = procfs.pass_window()
        win = procfs.pass_delta(a, b)
        self.group(CHECK_GROUP)
        t = now()
        (self.lake_checks if lake else self.query_checks)()
        self.detail["check_s"] = now() - t
        t = now()
        self.spark.stop()
        self.detail["stop_s"] = now() - t
        if self.trace:
            self.layers.update(self.event_log())
        cpu = win["cpu"]
        self.layers.update({
            "python.worker_cpu_s": cpu["python_worker"],
            "python.worker_peak_rss_mb": rss.peak["python_worker"],
            "jvm.cpu_s": cpu["jvm"],
            "jvm.peak_rss_mb": rss.peak["jvm"],
            "driver.cpu_s": cpu["driver"],
            "host.other_cpu_s": win["host_other_cpu_s"],
            "host.steal_s": win["host_steal_s"],
        })
        self.detail["host"] = {k: win[k] for k in
                               ("host_other_cpu_s", "host_steal_s",
                                "loadavg_start", "loadavg_end")}
        self.detail["rss_samples"] = rss.samples
        self.detail["rss_peak_procs"] = rss.peak_procs
        self.detail["failures"] = [k for k, ok in self.checks.items() if not ok]
        attempted = len(self.checks)
        failed = len(self.detail["failures"])
        return {
            "attempted": attempted,
            "failed": failed,
            "e2e": {
                "setup_s": self.setup_s,
                "batch_s": win["wall_s"],
                "batch_cpu_s": cpu["total"],
                "peak_rss_mb": rss.peak["total"],
                "success_rate": (attempted - failed) / attempted if attempted else 0.0,
            },
            "layers": self.layers,
            "detail": self.detail,
        }


def canon_digest(rows: list[tuple[str, ...]]) -> dict:
    """Row count + sha256 of the canonical (sorted, stringified) rows."""
    h = hashlib.sha256()
    for r in rows:
        h.update(("\x1f".join(r) + "\n").encode())
    return {"rows": len(rows), "sha256": h.hexdigest()}


def dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, fs in os.walk(path) for f in fs)


def main() -> None:
    t0 = float(os.environ["PERFBENCH_T0"])
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS, required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    run = Run(args)
    result = run.main(t0)
    with open(os.path.join(run.run_dir, "result.json"), "w") as fh:
        json.dump(result, fh)


if __name__ == "__main__":
    main()
