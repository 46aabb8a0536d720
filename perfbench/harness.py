"""One benchmark run: set-up, timed phase, output checks and, for a traced
run, the event-log session, the layer replay and the per-layer fold."""

from __future__ import annotations

import json
import os
import time

from .common import (ROOT, TreeMeter, Workspace, emit, geomean, live_heap_mb, loadavg,
                     median, nproc, start_spark, stop_spark)
from .trace import Tracer, fold_event_log

OUT_DIR = os.path.join(ROOT, ".perfbench_out")


class Run:
    def __init__(self, args, spec: dict, t0: float) -> None:
        self.args, self.spec, self.t0 = args, spec, t0
        self.ws = Workspace(args.workload)
        self.meter = TreeMeter()
        self.spark = None

    def close(self) -> None:
        if self.spark is not None:
            stop_spark(self.spark)
            self.spark = None
        self.ws.close()

    def _workload(self):
        a = self.args
        if a.workload == "query_core":
            from .query import QueryWorkload

            return QueryWorkload(self.spark, self.ws, a.seed)
        from .ingest import IngestWorkload

        return IngestWorkload(self.spark, self.ws, a.seed)

    def execute(self) -> int:
        a = self.args
        load_start = loadavg()
        phases = {}
        self.spark = start_spark(self.ws)
        phases["session_s"] = time.perf_counter() - self.t0
        w = self._workload()
        phases["inputs_s"] = time.perf_counter() - self.t0 - sum(phases.values())
        w.prepare()
        setup_wall_s = time.perf_counter() - self.t0
        setup_cpu_s = self.meter.sample()[1] / self.meter.hz
        phases["warm_up_s"] = setup_wall_s - sum(phases.values())
        r = w.timed(a.seconds, self.meter)
        phases["timed_s"] = time.perf_counter() - self.t0 - setup_wall_s
        peak_rss = self.meter.peak_rss_mb()
        heap = live_heap_mb(self.spark)
        n_checks, fails = w.check(r)
        e2e = {"setup_s": (setup_cpu_s, "s"), **w.metrics(r),
               "live_heap_mb": (heap, "MB"), "peak_rss_mb": (peak_rss, "MB"),
               "setup_wall_s": (setup_wall_s, "s")}
        covariates = {
            "nproc": nproc(), "loadavg_start": load_start, "loadavg_end": loadavg(),
            "external_cpu_frac": round(r["external_frac"], 4), "samples": r["n"],
            "seed": a.seed, "seconds": a.seconds,
            "phases_s": {k: round(v, 2) for k, v in phases.items()},
            "op_s": [round(x, 3) for x in w.op_samples(r)],
        }
        if a.trace:
            layers, more_checks, more_fails = self._traced(w, r, e2e)
            n_checks += more_checks
            fails += more_fails
            metrics = self._select("per_layer", layers)
        else:
            w.detach()
            metrics = self._select("end_to_end", e2e)
        for name, (v, unit) in e2e.items():
            print(f"{a.workload} {name} = {v:.6g} {unit}")
        print(f"{a.workload} covariates {json.dumps(covariates)}")
        for f in fails:
            print(f"{a.workload} CHECK FAILED: {f}")
        attempted = r["ops"] + n_checks
        emit(not fails, attempted, len(fails), metrics)
        return 1 if fails else 0

    def _select(self, kind: str, values: dict) -> dict:
        """The metrics BENCHMARK.json names for ``kind``, in its units."""
        out = {}
        for m in self.spec[kind]:
            v = values.get(m["name"], (0.0, m["unit"]))
            out[m["name"]] = (v[0] if isinstance(v, tuple) else v, m["unit"])
        return out

    # -- traced run -------------------------------------------------------------

    def _traced(self, w, r: dict, e2e: dict) -> tuple[dict, int, list[str]]:
        """Repeat the timed phase on a session with the event log on, replay
        it through the layer calls with spans, and fold the results. Returns
        the per-layer metrics and the replay's checks and their failures."""
        a = self.args
        w.detach()
        self.spark.stop()
        log_dir = self.ws.sub("eventlog")
        self.spark = start_spark(self.ws, event_log_dir=log_dir)
        w.attach(self.spark)
        tracer = Tracer(self.spark.sparkContext)
        ingest = a.workload != "query_core"
        if ingest:
            w.load_snapshot()
            r2 = w.timed(a.seconds, self.meter, n_max=r["n"])
            traced_e2e = w.metrics(r2)
            fails, extra = w.replay(tracer, r["n"])
            traces = [f"epoch{i}" for i in range(1, r["n"] + 1)]
        else:
            fails, extra = [], {}
            reads = w.traced(tracer, r["n"])
            traces = [f"pass{i}" for i in range(r["n"])]
            traced_e2e = {"op_ms": (_query_op_ms(tracer, reads), "ms")}
        w.detach()
        stop_spark(self.spark)
        self.spark = None
        counters = fold_event_log(log_dir)
        out = _span_metrics(tracer, counters, traces)
        out.update(extra)
        if ingest:
            out.update(_engine_metrics(r))
            out.update(_ingest_shares(out, e2e))
        else:
            out.update(_query_counters(out))
            out.update(_query_shares(out, reads))
        base = e2e["op_ms"][0]
        out["trace.overhead_ms"] = traced_e2e["op_ms"][0] - base
        out["trace.overhead_frac"] = out["trace.overhead_ms"] / base
        os.makedirs(OUT_DIR, exist_ok=True)
        stem = os.path.join(OUT_DIR, f"{a.workload}-seed{a.seed}")
        tracer.write(stem + ".spans.jsonl")
        with open(stem + ".counters.json", "w") as fh:
            json.dump(counters, fh, indent=1, sort_keys=True)
        for name in sorted(out):
            print(f"{a.workload} {name} = {out[name]:.6g}")
        print(f"{a.workload} spans and event-log counters written to {stem}.*")
        return out, int(ingest), fails


def _span_metrics(tracer: Tracer, counters: dict, traces: list[str]) -> dict:
    """For every span name: <name>_ms and <name>.self_ms, the medians over
    traces of the span's total and self time in a trace, and <name>.cpu_s /
    <name>.shuffle_bytes, the event-log counters of its jobs per trace."""
    keep = set(traces)
    self_s = tracer.self_times()
    per_trace: dict[str, dict[str, list[float]]] = {}
    for s in tracer.spans:
        if s["trace"] in keep:
            d = per_trace.setdefault(s["name"], {}).setdefault(s["trace"], [0.0, 0.0])
            d[0] += s["end"] - s["start"]
            d[1] += self_s[s["id"]]
    out = {}
    for name, d in per_trace.items():
        out[f"{name}_ms"] = 1000 * median([v[0] for v in d.values()])
        out[f"{name}.self_ms"] = 1000 * median([v[1] for v in d.values()])
        cpu = shuffle = 0.0
        for t in keep:
            c = counters.get(f"{name} {t}")
            if c:
                cpu += c["cpu_s"]
                shuffle += c["shuffle_bytes"]
        out[f"{name}.cpu_s"] = cpu / len(keep)
        out[f"{name}.shuffle_bytes"] = shuffle / len(keep)
    return out


def _engine_metrics(r: dict) -> dict:
    """Medians of the micro-batch engine's durationMs over the untraced
    timed epochs."""
    d = r["durations"]

    def med(*keys):
        return median([sum(x.get(k, 0) for k in keys) for x in d])

    return {
        "engine.latest_offset_ms": med("latestOffset"),
        "engine.query_planning_ms": med("queryPlanning"),
        "engine.add_batch_ms": med("addBatch"),
        "engine.commit_ms": med("walCommit", "commitOffsets"),
    }


def _ingest_shares(m: dict, e2e: dict) -> dict:
    """Split a mirror epoch's blocking path into the engine's own time
    (epoch latency minus addBatch), the source read, envelope work (DLQ
    split and typed parse), merge work, and the consumer's remaining time
    (DLQ write, batch persist, topic routing), each as a share of their sum.
    Also derives the log path's write time net of its envelope work."""
    g = m.get
    engine = max(e2e["op_ms"][0] - g("engine.add_batch_ms", 0.0), 0.0)
    quarantine = g("cdc.envelope.quarantine_ms", 0.0)
    parse = g("cdc.envelope.parse_typed_ms", 0.0)
    merges = g("cdc.apply.merge.orders_ms", 0.0) + g("cdc.apply.merge.events_ms", 0.0)
    parts = {
        "engine": engine,
        "sources": g("sources.files.read_ms", 0.0),
        "envelope": quarantine + parse,
        "apply": max(merges - parse, 0.0),  # the typed parse runs inside the merges
        "consumer": max(g("streaming.consumer.merge_mirror.self_ms", 0.0) - quarantine, 0.0),
    }
    total = sum(parts.values()) or 1.0
    out = {f"share.{k}": v / total for k, v in parts.items()}
    out["streaming.consumer.log_write_self_ms"] = max(
        g("streaming.consumer.land_log_ms", 0.0) - quarantine
        - g("cdc.envelope.parse_raw_ms", 0.0), 0.0)
    return out


def _query_counters(m: dict) -> dict:
    """queries.<name>.cpu_s / .shuffle_bytes: build and exec together."""
    out = {}
    names = {k.split(".")[1] for k in m if k.startswith("queries.")}
    for n in names:
        for c in ("cpu_s", "shuffle_bytes"):
            out[f"queries.{n}.{c}"] = (m.get(f"queries.{n}.build.{c}", 0.0)
                                       + m.get(f"queries.{n}.exec.{c}", 0.0))
    return out


def _query_shares(m: dict, reads: dict) -> dict:
    """Split a pass: registry calls (queries), the scans each query's tables
    cost on their own (tables), and the rest of execution (operators)."""
    build = sum(m.get(f"queries.{n}.build_ms", 0.0) for n in reads)
    execs = scans = 0.0
    for n, tabs in reads.items():
        ex = m.get(f"queries.{n}.exec_ms", 0.0)
        sc = min(sum(m.get(f"tables.scan.{t}_ms", 0.0) for t in tabs), ex)
        execs += ex - sc
        scans += sc
    total = (build + execs + scans) or 1.0
    return {"share.queries": build / total, "share.tables": scans / total,
            "share.operators": execs / total}


def _query_op_ms(tracer: Tracer, reads: dict) -> float:
    """The traced passes' op_ms: geometric mean over queries of the median
    of build + exec span time."""
    per_query: dict[str, list[float]] = {n: [] for n in reads}
    for s in tracer.spans:
        parts = s["name"].split(".")
        if parts[0] == "queries":
            per_query[parts[1]].append(s["end"] - s["start"])
    # a query's build and exec spans run back to back: pair them up
    return 1000 * geomean([median([b + e for b, e in zip(xs[0::2], xs[1::2])])
                           for xs in per_query.values()])
