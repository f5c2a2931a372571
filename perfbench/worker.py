"""The measuring process of one benchmark run.

``run.py`` generates the inputs, then starts this script as a fresh
process (own working directory, temp and Spark local dirs, ``PYTHONPATH``
set so the JVM's Python workers import the engine) and reads back the
result file it writes. Usage: ``python worker.py <spec.json>``.

Untraced run (``trace`` false): the Spark event log is off and no layer
wrapper records anything. Traced run: the same rounds run twice in one
process, first untraced and then traced, so ``trace.overhead`` compares
the two halves; the event log is on for the whole traced process.
"""

from __future__ import annotations

import datetime
import json
import os
import random
import sys
import time
import traceback

import procfs
from spans import Tracer
from workloads import INGEST_PREFIX, PACKAGE, TABLES, WARM_ROUNDS


class Run:
    def __init__(self, spec: dict) -> None:
        self.spec = spec
        self.traced = bool(spec["trace"])
        self.tracer = Tracer()
        self.rng = random.Random(spec["seed"])
        self.ops: list[str] = spec["ops"]
        self.failed_keys: set[str] = set()
        self.errors: list[str] = []
        self.info: dict = {}

    # -- setup ---------------------------------------------------------

    def start(self) -> None:
        from nyc_taxi_data_engineering_project_spark import (
            catalog,
            io as nio,
            pinning,
            registry,
            session,
        )

        self.registry, self.pinning, self.nio = registry, pinning, nio
        self.cpus = len(os.sched_getaffinity(0))
        conf = {}
        if self.traced:
            conf = {"spark.eventLog.enabled": "true",
                    "spark.eventLog.dir": f"file://{self.spec['evlog_dir']}",
                    "spark.eventLog.compress": "false"}
        t0 = time.perf_counter()
        self.spark = session.get_session("perfbench", cpus=self.cpus,
                                         extra_conf=conf)
        t1 = time.perf_counter()
        registry.load_all()
        self.info["session_start_s"] = t1 - t0
        self.info["cpus"] = self.cpus
        self.sc = self.spark.sparkContext

        tr = self.tracer
        tr.wrap(catalog, "table", "catalog.table", PACKAGE)
        tr.wrap(pinning, "pin", "pinning.pin", PACKAGE)
        tr.wrap(catalog, "stream_append_layout", "catalog.publish", PACKAGE)
        tr.wrap(nio, "conform_trips", "conform.conform", PACKAGE)
        write = nio.write_trips_month_idempotent

        def write_month(*args, **kwargs):
            # the write's own job group lets its task count be read back
            if tr.on:
                self.sc.setJobGroup(f"op{tr.op_id}/write", "write")
            try:
                with tr.span("io.write"):
                    return write(*args, **kwargs)
            finally:
                if tr.on:
                    self.sc.setJobGroup(f"op{tr.op_id}", "op")

        nio.write_trips_month_idempotent = write_month

    # -- ops -----------------------------------------------------------

    def run_op(self, op: str):
        """One op; returns what the output check needs."""
        tr, spark = self.tracer, self.spark
        if op.startswith(INGEST_PREFIX):
            path = self.spec["months"][op[len(INGEST_PREFIX):]][0]
            with tr.span("io.ingest"):
                return self.nio.ingest_trips(spark, path,
                                             self.spec["target"])
        with tr.span("registry.build"):
            df = self.registry.QUERIES[op](spark, self.spec["data_dir"])
        if tr.on:
            with tr.span("catalyst.plan"):
                df._jdf.queryExecution().executedPlan()
        with tr.span("executor.exec"):
            df.write.format("noop").mode("overwrite").save()
        with tr.span("executor.cleanup"):
            spark.catalog.clearCache()
            self.pinning.release_pins(spark)
        return df

    def check(self, op: str, out) -> None:
        """Compare one op's output with its reference; record failures."""
        if op.startswith(INGEST_PREFIX):
            want = self.spec["months"][op[len(INGEST_PREFIX):]][1]
            if out != want:
                self._fail(op, f"ingested {out} rows, expected {want}")
            return
        try:
            got = out.toPandas()
        finally:
            self.spark.catalog.clearCache()
            self.pinning.release_pins(self.spark)
        want = self._oracle(op)
        cols = sorted(got.columns)
        if cols != sorted(want.columns):
            self._fail(op, f"columns {cols} vs {sorted(want.columns)}")
        elif len(got) != len(want):
            self._fail(op, f"{len(got)} rows vs oracle {len(want)}")
        elif (self.canon_rows(got[cols].itertuples(index=False))
              != self.canon_rows(want[cols].itertuples(index=False))):
            self._fail(op, "values differ from the oracle")

    def _oracle(self, key: str):
        if not hasattr(self, "duck"):
            import duckdb

            sys.path.insert(0, os.path.join(self.spec["root"], "scripts"))
            from canon import canon_rows

            self.canon_rows = canon_rows
            self.duck = duckdb.connect()
            self.duck.execute("SET threads = 2")
            for name in TABLES:
                self.duck.execute(
                    f"CREATE VIEW {name} AS SELECT * FROM read_parquet("
                    f"'{self.spec['data_dir']}/{name}.parquet')")
        return self.duck.sql(self.registry.ORACLES[key]).df()

    def _fail(self, op: str, why: str) -> None:
        self.failed_keys.add(op)
        self.errors.append(f"{op}: {why}")

    # -- phases --------------------------------------------------------

    def rounds_order(self, rounds: int) -> list[str]:
        order = []
        for _ in range(rounds):
            mix = list(self.ops)
            self.rng.shuffle(mix)
            order += mix
        return order

    def warm(self) -> None:
        for op in self.rounds_order(WARM_ROUNDS):
            try:
                self.run_op(op)
            except Exception:
                self._fail(op, "warm-up raised\n" + traceback.format_exc())

    def timed(self, schedule: list[tuple[str, bool, bool]]) -> list[dict]:
        """Closed loop, one client: each op starts when the last ends.
        ``schedule`` holds (op, traced, check); the outputs of checked
        ops are compared with their references after the last op, so no
        check runs between timed ops."""
        tr, records, n_traced, outputs = self.tracer, [], 0, []
        for op, traced, check in schedule:
            rec = {"op": op, "traced": traced}
            tr.on = traced
            if traced:
                tag = f"op{n_traced}"
                tr.op_id, rec["tag"] = n_traced, tag
                n_traced += 1
                self.sc.setJobGroup(tag, "op")
                gc0 = self._gc_s()
            cpu0 = procfs.tree_cpu()
            w0 = time.time() * 1000.0
            t0 = time.perf_counter()
            out = None
            try:
                with tr.span("op"):
                    out = self.run_op(op)
                rec["ok"] = True
            except Exception:
                rec["ok"] = False
                self.errors.append(f"{op}: raised\n{traceback.format_exc()}")
            rec["wall_s"] = time.perf_counter() - t0
            rec["window"] = (w0, time.time() * 1000.0)
            tr.on = False
            cpu1 = procfs.tree_cpu()
            rec["cpu"] = {k: cpu1[k] - cpu0[k] for k in cpu0}
            if traced:
                rec["gc_s"] = self._gc_s() - gc0
                self.sc.setJobGroup("untagged", "")
                rec["jobs"], rec["tasks"] = self._jobs_tasks(tag)
                if op.startswith(INGEST_PREFIX):
                    rec["write_tasks"] = self._jobs_tasks(f"{tag}/write")[1]
                    rec.update(self._target_listing(op))
            if rec["ok"] and check:
                outputs.append((op, out))
            records.append(rec)
        for op, out in outputs:
            try:
                self.check(op, out)
            except Exception:
                self._fail(op, "check raised\n" + traceback.format_exc())
        return records

    def _gc_s(self) -> float:
        mf = self.sc._jvm.java.lang.management.ManagementFactory
        return sum(b.getCollectionTime()
                   for b in mf.getGarbageCollectorMXBeans()) / 1000.0

    def _jobs_tasks(self, group: str) -> tuple[int, int]:
        st = self.sc.statusTracker()
        jobs = st.getJobIdsForGroup(group)
        tasks = 0
        for jid in jobs:
            info = st.getJobInfo(jid)
            for sid in (info.stageIds if info else []):
                stage = st.getStageInfo(sid)
                tasks += stage.numCompletedTasks if stage else 0
        return len(jobs), tasks

    def _target_listing(self, op: str) -> dict:
        month = op[len(INGEST_PREFIX):]
        part = os.path.join(self.spec["target"], f"pickup_month={month}")
        files = [f for f in os.listdir(part) if f.endswith(".parquet")]
        out_bytes = sum(os.path.getsize(os.path.join(part, f))
                        for f in files)
        in_bytes = os.path.getsize(self.spec["months"][month][0])
        return {"files_written": len(files),
                "bytes_ratio": out_bytes / in_bytes}


def _streaming_listener():
    from pyspark.sql.streaming import StreamingQueryListener

    class Triggers(StreamingQueryListener):
        def __init__(self):
            self.progress: list[dict] = []

        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            # trigger start time, so the trigger can be matched to its op
            start = datetime.datetime.fromisoformat(
                event.progress.timestamp.replace("Z", "+00:00"))
            self.progress.append((start.timestamp() * 1000.0,
                                  dict(event.progress.durationMs)))

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    return Triggers()


def main() -> None:
    with open(sys.argv[1]) as fh:
        spec = json.load(fh)
    run = Run(spec)
    result = {"info": run.info}
    try:
        run.start()
        t_warm = time.perf_counter()
        run.warm()
        run.info["warmup_s"] = time.perf_counter() - t_warm
        run.info["setup_s"] = time.time() - spec["spawn_time"]
        order = run.rounds_order(spec["rounds"])
        last_round = len(order) - len(run.ops)
        if not run.traced:
            total0, steal0 = procfs.host_cpu_ticks()
            result["records"] = run.timed(
                [(op, False, i >= last_round) for i, op in enumerate(order)])
            total1, steal1 = procfs.host_cpu_ticks()
            run.info["steal_share"] = (steal1 - steal0) / max(
                1, total1 - total0)
        else:
            # each op runs untraced and traced back to back, alternating
            # which goes first, so warm-down cancels out of the overhead
            schedule = []
            for i, op in enumerate(order):
                pair = [(op, False, False), (op, True, i >= last_round)]
                schedule += pair if i % 2 == 0 else pair[::-1]
            listener = _streaming_listener()
            run.spark.streams.addListener(listener)
            records = run.timed(schedule)
            # progress events reach the listener asynchronously
            seen, deadline = -1, time.time() + 5
            while len(listener.progress) != seen and time.time() < deadline:
                seen = len(listener.progress)
                time.sleep(0.5)
            run.spark.streams.removeListener(listener)
            traced = [r for r in records if r["traced"]]
            windows = [r["window"] for r in traced]
            result["records"] = traced
            result["plain_records"] = [r for r in records
                                       if not r["traced"]]
            result["progress"] = [
                d for ts, d in listener.progress
                if any(lo <= ts <= hi for lo, hi in windows)]
            result["layers"] = run.tracer.layer_totals()
            result["coverage"] = run.tracer.coverage("op")
            result["peak_rss_bytes"] = procfs.tree_peak_rss_bytes()
            run.tracer.dump(spec["trace_path"])
    except Exception:
        run.errors.append("run raised\n" + traceback.format_exc())
    finally:
        spark = getattr(run, "spark", None)
        if spark is not None:
            spark.stop()
    if run.traced and "records" in result:
        from nyc_taxi_data_engineering_project_spark.evlog import (
            group_task_metrics,
        )

        windows = {r["tag"]: tuple(r["window"]) for r in result["records"]}
        result["evlog"] = group_task_metrics(spec["evlog_dir"], windows)
    result["failed_keys"] = sorted(run.failed_keys)
    result["errors"] = run.errors
    with open(spec["result_path"], "w") as fh:
        json.dump(result, fh)


if __name__ == "__main__":
    main()
