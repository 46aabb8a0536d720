"""The ``ingest_mirror`` workload: the CDC consumer's bucketed upsert-mirror
path, driven closed loop by one client over a seeded envelope changelog.

Epoch file *i+1* is renamed into the source directory only after epoch
*i* has committed (its progress event arrived) and its read-back has
returned. An epoch's latency runs from that rename to the arrival of the
``StreamingQueryListener`` progress event for its batch. The traced replay
also calls the log path (``land_log_batch``, ``read_log_table``) on the
same batches, so its layers are measured too.
"""

from __future__ import annotations

import os
import shutil
import threading
import time

import duckdb
import pandas as pd
import pyarrow.parquet as pq
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming import StreamingQueryListener

from cdc_poc_spark.cdc import apply as cdc_apply
from cdc_poc_spark.cdc import envelope as env
from cdc_poc_spark.sources.files import ENVELOPE_FILE_SCHEMA, envelope_json_stream
from cdc_poc_spark.streaming.consumer import CDCConsumer, TableSpec

from .common import StageCounters, median, p90
from .gen import POISON_KINDS, Changelog

ORDERS_SCHEMA = T.StructType([
    T.StructField("o_orderkey", T.LongType()),
    T.StructField("o_custkey", T.LongType()),
    T.StructField("o_orderstatus", T.StringType()),
    T.StructField("o_totalprice", T.DoubleType()),
    T.StructField("o_orderdate", T.LongType()),
    T.StructField("o_orderpriority", T.StringType()),
])
EVENTS_SCHEMA = T.StructType([
    T.StructField("user_id", T.LongType()),
    T.StructField("event_id", T.LongType()),
    T.StructField("value", T.DoubleType()),
    T.StructField("event_type", T.StringType()),
])
TABLES = {
    "public_orders": TableSpec(ORDERS_SCHEMA, ("o_orderkey",)),
    "public_events": TableSpec(EVENTS_SCHEMA, ("user_id",)),
}
N_BUCKETS = CDCConsumer.__dataclass_fields__["mirror_buckets"].default

#: input sizes, recorded in BENCHMARK.json's why-sentence; the timed phase
#: stops early if it runs out of change epochs
CHANGELOG = dict(n_orders=30_000, n_epochs=6, events_per_epoch=5_000, hot_keys=1_500,
                 change_lo=0.01, change_hi=0.02, poison_frac=0.01)
#: change epochs replayed on the throwaway warehouse during set-up
WARMUP_EPOCHS = 1
EPOCH_TIMEOUT_S = 120


class ProgressListener(StreamingQueryListener):
    """Keeps each batch's arrival time and durationMs, keyed by run id."""

    def __init__(self) -> None:
        self.cv = threading.Condition()
        self.batches: dict[tuple[str, int], tuple[float, dict]] = {}

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        p = event.progress
        with self.cv:
            self.batches[(str(p.runId), p.batchId)] = (time.perf_counter(), dict(p.durationMs))
            self.cv.notify_all()

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass

    def wait(self, run_id: str, batch_id: int) -> tuple[float, dict]:
        deadline = time.perf_counter() + EPOCH_TIMEOUT_S
        with self.cv:
            while (run_id, batch_id) not in self.batches:
                left = deadline - time.perf_counter()
                if left <= 0:
                    raise TimeoutError(f"batch {batch_id} did not commit in {EPOCH_TIMEOUT_S} s")
                self.cv.wait(left)
            return self.batches[(run_id, batch_id)]


def _walk(root: str) -> dict[str, tuple[int, int, int]]:
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            st = os.stat(p)
            out[p] = (st.st_size, st.st_mtime_ns, st.st_ino)
    return out


class WriteTracker:
    """Files created or rewritten under a consumer's warehouse and DLQ."""

    def __init__(self, consumer: CDCConsumer) -> None:
        self.wh, self.dlq = consumer.warehouse_dir, consumer.dlq_dir
        self.state: dict[str, tuple[int, int, int]] = {}

    def written(self) -> dict:
        """Since the previous call: bytes of all files, and parquet files,
        rows and bucket directories per area."""
        now = {**_walk(self.wh), **_walk(self.dlq)}
        new = [p for p, s in now.items() if self.state.get(p) != s]
        self.state = now
        out = {"bytes": sum(now[p][0] for p in new), "log_files": 0, "mirror_files": 0,
               "mirror_rows": 0, "buckets": set()}
        for p in new:
            if not p.endswith(".parquet"):
                continue
            rel = os.path.relpath(p, self.wh)
            if rel.startswith("cdc_log" + os.sep):
                out["log_files"] += 1
            elif rel.startswith("mirror" + os.sep):
                out["mirror_files"] += 1
                out["mirror_rows"] += pq.read_metadata(p).num_rows
                out["buckets"].add(os.path.dirname(rel))
        return out

    def totals(self) -> dict[str, int]:
        rel = [os.path.relpath(p, self.wh) for p in _walk(self.wh) if p.endswith(".parquet")]
        return {area: sum(r.startswith(area + os.sep) for r in rel)
                for area in ("cdc_log", "mirror")}


def read_back(spark, consumer: CDCConsumer, log: bool = False) -> dict[str, tuple[int, int]]:
    """Rows and max seq per table through the consumer's read API."""
    out = {}
    for t in TABLES:
        df = consumer.read_log_table(spark, t) if log else consumer.read_mirror(spark, t)
        r = df.agg(F.count(F.lit(1)).alias("n"), F.max("seq").alias("s")).collect()[0]
        out[t] = (r["n"], r["s"])
    return out


class Pipeline:
    """A mirror-mode consumer query over its own warehouse, fed by renaming
    the staged epoch files into its source directory."""

    def __init__(self, spark, root: str, stage: str, files: list[str],
                 listener: ProgressListener) -> None:
        self.spark, self.stage, self.files, self.listener = spark, stage, files, listener
        self.root = root
        self.src = os.path.join(root, "src")
        os.makedirs(self.src)
        self.consumer = CDCConsumer(
            warehouse_dir=os.path.join(root, "wh"),
            checkpoint_dir=os.path.join(root, "ckpt"),
            tables=TABLES, dlq_dir=os.path.join(root, "dlq"))
        self.tracker = WriteTracker(self.consumer)
        stream = envelope_json_stream(spark, self.src, max_files_per_trigger=1)
        self.query = self.consumer.start_mirror_query(stream, available_now=False)
        self.run_id = str(self.query.runId)

    def epoch(self, i: int) -> tuple[float, dict]:
        """Release file i; return (latency s, durationMs) of its batch."""
        name = os.path.basename(self.files[i])
        staged = os.path.join(self.stage, f"{self.run_id}-{name}")
        os.link(self.files[i], staged)  # same content, a name new to this pipeline
        t0 = time.perf_counter()
        os.rename(staged, os.path.join(self.src, name))
        t1, durations = self.listener.wait(self.run_id, i)
        return t1 - t0, durations

    def read_back(self) -> dict[str, tuple[int, int]]:
        return read_back(self.spark, self.consumer)

    def stop(self) -> None:
        self.query.stop()


class IngestWorkload:
    """Set-up, timed phase, output checks and traced replay."""

    def __init__(self, spark, ws, seed: int) -> None:
        self.ws, self.seed = ws, seed
        self.attach(spark)
        self.n_pipelines = 0
        self.cl = Changelog(seed=seed, **CHANGELOG)
        files_dir = ws.sub("changelog")
        self.files, self.in_bytes = [], []
        for i, recs in enumerate(self.cl.files):
            p = os.path.join(files_dir, f"e{i:05d}.json")
            self.in_bytes.append(Changelog.write_file(recs, p))
            self.files.append(p)
        self.stage = ws.sub("stage")

    def attach(self, spark) -> None:
        """Use ``spark`` from now on, with a fresh progress listener."""
        self.spark = spark
        self.listener = ProgressListener()
        spark.streams.addListener(self.listener)

    def detach(self) -> None:
        self.spark.streams.removeListener(self.listener)

    def pipeline(self) -> Pipeline:
        self.n_pipelines += 1
        root = self.ws.sub(f"pipe{self.n_pipelines}")
        return Pipeline(self.spark, root, self.stage, self.files, self.listener)

    def prepare(self) -> None:
        """Warm up on a throwaway warehouse (snapshot, then the first change
        epochs with their read-backs), then land the snapshot in the
        warehouse the timed phase uses."""
        pipe = self.pipeline()
        for i in range(WARMUP_EPOCHS + 1):
            pipe.epoch(i)
            if i:
                pipe.read_back()
        pipe.stop()
        shutil.rmtree(pipe.root)
        self.load_snapshot()

    def load_snapshot(self) -> None:
        self.pipe = self.pipeline()
        self.pipe.epoch(0)
        self.pipe.tracker.written()

    def timed(self, seconds: float, meter, n_max: int | None = None) -> dict:
        """Closed loop: epoch, then read-back, until ``seconds`` have passed,
        ``n_max`` epochs ran or the changelog is exhausted."""
        pipe = self.pipe
        r = {k: [] for k in ("epoch_s", "epoch_cpu_s", "read_s", "read_cpu_s",
                             "durations", "written", "reads")}
        t_end = time.perf_counter() + seconds
        last = min(len(self.files) - 1, n_max or len(self.files))
        stages = StageCounters(self.spark)
        s0 = stages.totals()
        a = meter.sample()
        i = 1
        while i <= last and (i == 1 or time.perf_counter() < t_end):
            c0 = meter.sample()
            lat, dur = pipe.epoch(i)
            c1 = meter.sample()
            t0 = time.perf_counter()
            r["reads"].append(pipe.read_back())
            r["read_s"].append(time.perf_counter() - t0)
            c2 = meter.sample()
            r["epoch_s"].append(lat)
            r["epoch_cpu_s"].append(meter.cpu_s(c0, c1))
            r["read_cpu_s"].append(meter.cpu_s(c1, c2))
            r["durations"].append(dur)
            r["written"].append(pipe.tracker.written())
            i += 1
        b = meter.sample()
        r["stages"] = StageCounters.diff(s0, stages.totals())
        pipe.stop()
        r["n"] = i - 1
        r["ops"] = 2 * r["n"]  # epochs and read-backs
        r["external_frac"] = meter.external_frac(a, b)
        return r

    @staticmethod
    def op_samples(r: dict) -> list[float]:
        return r["epoch_s"]

    def metrics(self, r: dict) -> dict[str, tuple[float, str]]:
        """Write amplification, and per-epoch and per-read-back CPU and wall
        times (medians over the timed epochs) and throughput."""
        n = r["n"]
        envelopes = sum(len(self.cl.files[i]) for i in range(1, n + 1))
        return {
            "op_cpu_ms": (1000 * median(r["epoch_cpu_s"]), "ms"),
            "read_cpu_ms": (1000 * median(r["read_cpu_s"]), "ms"),
            "task_cpu_ms": (1000 * r["stages"]["task_cpu_s"] / n, "ms"),
            "write_amp": (sum(w["bytes"] for w in r["written"])
                          / sum(self.in_bytes[1:n + 1]), "ratio"),
            "op_ms": (1000 * median(r["epoch_s"]), "ms"),
            "op_ms_p90": (1000 * p90(r["epoch_s"]), "ms"),
            "read_ms": (1000 * median(r["read_s"]), "ms"),
            "throughput_per_s": (envelopes / sum(r["epoch_s"]), "1/s"),
        }

    # -- checks -------------------------------------------------------------

    def check(self, r: dict) -> tuple[int, list[str]]:
        """Compare the landed outputs after the timed epochs with the
        generator: DLQ rows by reason, each mirror against an independent
        DuckDB last-writer-wins replay of the good records, and the last
        read-back's row counts. Returns the number of checks and failures."""
        n, consumer = r["n"], self.pipe.consumer
        fails = []
        con = duckdb.connect()
        dlq = os.path.join(consumer.dlq_dir, "**", "*.parquet")
        got = dict(con.execute(
            f"SELECT reason, count(*) FROM read_parquet('{dlq}', hive_partitioning=true) "
            "GROUP BY 1").fetchall())
        want = {k: sum(self.cl.poisoned_per_file[i][k] for i in range(n + 1))
                for k in POISON_KINDS}
        if got != want:
            fails.append(f"dlq rows by reason {got} != {want}")
        for t, spec in TABLES.items():
            fails += self._check_mirror(con, consumer, t, spec, self.cl.last_offset[n])
            want_rows = con.execute(f"SELECT count(*) FROM expected_{t}").fetchone()[0]
            if r["reads"][-1][t][0] != want_rows:
                fails.append(f"read-back of {t}: {r['reads'][-1][t][0]} rows != {want_rows}")
        con.close()
        return 1 + 2 * len(TABLES), fails

    def _check_mirror(self, con, consumer, t: str, spec: TableSpec, last_off: int) -> list[str]:
        cols = [f.name for f in spec.schema.fields]
        key = spec.key_cols[0]
        good = pd.DataFrame(
            [(off, op, *[row[c] for c in cols])
             for off, op, row in self.cl.good[t] if off <= last_off],
            columns=["off", "op", *cols])
        con.register(f"good_{t}", good)
        sel = ", ".join(cols)
        con.execute(f"""
            CREATE TABLE expected_{t} AS
            SELECT {sel}, CAST(off AS BIGINT) AS seq,
                   CASE op WHEN 'u' THEN 'U' ELSE 'I' END AS op
            FROM (SELECT *, row_number() OVER (PARTITION BY {key} ORDER BY off DESC) AS rn
                  FROM good_{t})
            WHERE rn = 1 AND op <> 'd'""")
        path = os.path.join(consumer.warehouse_dir, "mirror", t, "**", "*.parquet")
        con.execute(f"""
            CREATE TABLE landed_{t} AS
            SELECT {sel}, seq, op FROM read_parquet('{path}', hive_partitioning=true)""")
        missing, extra = (con.execute(
            f"SELECT count(*) FROM (SELECT * FROM {a} EXCEPT ALL SELECT * FROM {b})"
        ).fetchone()[0] for a, b in ((f"expected_{t}", f"landed_{t}"),
                                     (f"landed_{t}", f"expected_{t}")))
        if missing or extra:
            return [f"mirror {t}: {missing} rows missing, {extra} unexpected"]
        return []

    def _check_log(self, consumer: CDCConsumer, n: int) -> list[str]:
        """The landed log holds every good record of files 0..n once: rows
        per table equal the generator's counts and no (table_name, seq)
        pair appears twice."""
        con = duckdb.connect()
        log = os.path.join(consumer.warehouse_dir, "cdc_log", "**", "*.parquet")
        src = f"read_parquet('{log}', hive_partitioning=true)"
        got = dict(con.execute(f"SELECT table_name, count(*) FROM {src} GROUP BY 1").fetchall())
        want = {t: sum(self.cl.good_per_file[i][t] for i in range(n + 1)) for t in TABLES}
        dups = con.execute(f"SELECT count(*) FROM (SELECT table_name, seq FROM {src} "
                           "GROUP BY 1, 2 HAVING count(*) > 1)").fetchone()[0]
        con.close()
        fails = [f"log rows by table {got} != {want}"] if got != want else []
        return fails + ([f"{dups} (table_name, seq) pairs landed twice"] if dups else [])

    # -- traced replay --------------------------------------------------------

    def replay(self, tracer, n: int) -> tuple[list[str], dict]:
        """Land the snapshot on a fresh warehouse, then replay epochs 1..n
        through direct calls into each layer, one trace per epoch: the source read,
        the envelope functions, both consumer paths (mirror merge and log
        landing) and their read-backs. Returns the log path's check failures
        and the layout counts."""
        root = self.ws.sub("replay")
        consumer = CDCConsumer(
            warehouse_dir=os.path.join(root, "wh"),
            checkpoint_dir=os.path.join(root, "ckpt"),
            tables=TABLES, dlq_dir=os.path.join(root, "dlq"))
        tracker = WriteTracker(consumer)
        layout = {"touched": [], "rows_per_change": [], "mirror_files": [],
                  "log_files": [], "dead": []}
        merge = cdc_apply.merge_into_parquet_bucketed
        trace = None

        def traced_merge(spark, target, *a, **k):
            table = os.path.basename(target).replace("public_", "")
            with tracer.span(f"cdc.apply.merge.{table}", trace):
                return merge(spark, target, *a, **k)

        cdc_apply.merge_into_parquet_bucketed = traced_merge
        try:
            # the snapshot is set-up: land it without the per-layer probes
            snapshot = self.spark.read.schema(ENVELOPE_FILE_SCHEMA).json(self.files[0])
            consumer.merge_mirror_batch(snapshot, 0)
            consumer.land_log_batch(snapshot, 0)
            tracker.written()
            for i in range(1, n + 1):
                trace = f"epoch{i}"
                with tracer.span("epoch", trace):
                    self._replay_epoch(tracer, trace, i, consumer, tracker, layout)
        finally:
            cdc_apply.merge_into_parquet_bucketed = merge
        totals = tracker.totals()
        return self._check_log(consumer, n), {
            "cdc.envelope.dead_letter_frac": median(layout["dead"]),
            "cdc.apply.buckets_touched_frac": median(layout["touched"]),
            "cdc.apply.rows_rewritten_per_change": median(layout["rows_per_change"]),
            "cdc.apply.files_written": median(layout["mirror_files"]),
            "log.files_written": median(layout["log_files"]),
            "mirror.files_total": totals["mirror"],
            "log.files_total": totals["cdc_log"],
        }

    def _replay_epoch(self, tracer, trace: str, i: int, consumer: CDCConsumer,
                      tracker: WriteTracker, layout: dict) -> None:
        spark = self.spark

        def force(df):
            df.write.format("noop").mode("overwrite").save()

        with tracer.span("sources.files.read", trace):
            batch = spark.read.schema(ENVELOPE_FILE_SCHEMA).json(self.files[i]).persist()
            total = batch.count()
        with tracer.span("cdc.envelope.quarantine", trace):
            good, bad = env.split_dead_letters(batch)
            n_bad = bad.count()
            force(good)
        layout["dead"].append(n_bad / total)
        with tracer.span("streaming.consumer.route", trace):
            good.select(env.table_from_topic("topic").alias("t")).distinct().collect()
        with tracer.span("cdc.envelope.parse_raw", trace):
            force(env.parse_envelope_raw(good)
                  .withColumn("table_name", env.table_from_topic("topic")))
        with tracer.span("cdc.envelope.parse_typed", trace):
            for t, spec in TABLES.items():
                sub = good.filter(env.table_from_topic("topic") == t)
                force(env.parse_envelope_typed(sub, spec.schema, key_cols=spec.key_cols))
        with tracer.span("cdc.apply.apply_changes", trace):
            self._apply_changes(consumer, good)
        with tracer.span("streaming.consumer.merge_mirror", trace):
            consumer.merge_mirror_batch(batch, i)
        with tracer.span("streaming.consumer.land_log", trace):
            consumer.land_log_batch(batch, i)
        w = tracker.written()
        layout["log_files"].append(w["log_files"])
        layout["mirror_files"].append(w["mirror_files"])
        changes = sum(self.cl.good_per_file[i].values())
        layout["rows_per_change"].append(w["mirror_rows"] / changes)
        layout["touched"].append(len(w["buckets"]) / (N_BUCKETS * len(TABLES)))
        with tracer.span("cdc.apply.read_state", trace):
            read_back(spark, consumer)
        with tracer.span("streaming.consumer.read_log", trace):
            read_back(spark, consumer, log=True)
        batch.unpersist()

    def _apply_changes(self, consumer: CDCConsumer, good) -> None:
        """``apply_changes`` over the touched state buckets and the typed
        batch, forced: the merge's compute without its file swap."""
        for t, spec in TABLES.items():
            target = os.path.join(consumer.warehouse_dir, "mirror", t)
            if not os.path.exists(target):
                continue
            keys = list(spec.key_cols)
            typed = env.parse_envelope_typed(
                good.filter(env.table_from_topic("topic") == t), spec.schema,
                key_cols=spec.key_cols,
            ).select("*", F.col("_cdc.op").alias("op"),
                     F.col("_cdc.offset").alias("seq")).drop("_cdc")
            bucket = F.pmod(F.xxhash64(*[F.col(c).cast("string") for c in keys]),
                            F.lit(consumer.mirror_buckets))
            typed = typed.withColumn("__bucket", bucket)
            touched = [r[0] for r in typed.select("__bucket").distinct().collect()]
            state = self.spark.read.parquet(target).filter(F.col("__bucket").isin(touched))
            (cdc_apply.apply_changes(state.unionByName(typed, allowMissingColumns=True),
                                     keys, delete_ops=("D",))
             .write.format("noop").mode("overwrite").save())
