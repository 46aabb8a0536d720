"""The ``query_core`` workload: the fixed core-15 query set, run in passes
over seeded tables, each query forced to the ``noop`` sink."""

from __future__ import annotations

import os
import sys
import time

import duckdb

from cdc_poc_spark import tables as tables_mod
from cdc_poc_spark.queries import all_specs
from cdc_poc_spark.tables import load_table
from tools.run_parity_sweep import TABLES, compare

from .common import StageCounters, geomean, median, p90
from .gen import write_tables

#: bench.CORE, frozen here so a change to the repository's list cannot
#: silently change what this workload measures
CORE = (
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q13_customer_distribution",
    "cdc_current_state_by_segment",
    "win_top3_orders_per_customer",
    "tw_session_30min_by_user",
    "agg_rollup_segment_nation",
    "join_asof_purchase_to_view",
    "dedup_minhash_lsh_pairs",
    "dedup_cc_clusters",
    "sim_cosine_topk",
    "text_bm25_topk",
    "pipeline_corpus_curation",
    "pipeline_pack_sequences",
    "graph_pagerank_5iter",
)
#: the tables whose forced scans are the read-path samples
SCAN_TABLES = ("lineitem", "orders", "customer", "events", "documents", "embeddings")
SF = 0.01

JACCARD_THRESHOLD = 0.5


def exact_jaccard_pairs(docs) -> set[tuple[int, int]]:
    """Document pairs (a < b) whose word 3-shingle sets have Jaccard >= 0.5:
    the truth set of the registry's exact-Jaccard oracles (``_CC_PREFIX``,
    ``dedup_minhash_lsh_recall``), computed with Python sets because DuckDB's
    all-pairs list join takes ~40 s on 500 documents."""
    sh = {}
    for doc_id, text in zip(docs["doc_id"], docs["text"]):
        toks = text.split(" ")
        if len(toks) >= 3:
            sh[int(doc_id)] = {" ".join(toks[i:i + 3]) for i in range(len(toks) - 2)}
    by_shingle: dict[str, list[int]] = {}
    for d, s in sh.items():
        for g in s:
            by_shingle.setdefault(g, []).append(d)
    cands = {(a, b) for ds in by_shingle.values() for a in ds for b in ds if a < b}
    return {(a, b) for a, b in cands
            if len(sh[a] & sh[b]) / len(sh[a] | sh[b]) >= JACCARD_THRESHOLD}


def cc_clusters(pairs: set[tuple[int, int]]):
    """``_CC_CLUSTERS_ORACLE``: connected components of the pair graph,
    cluster_id = min member, with size and the sorted member list."""
    import pandas as pd

    parent: dict[int, int] = {}

    def find(x: int) -> int:
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        parent[max(ra, rb)] = min(ra, rb)
    comps: dict[int, list[int]] = {}
    for node in list(parent):
        comps.setdefault(find(node), []).append(node)
    rows = [(min(m), len(m), ",".join(str(x) for x in sorted(m))) for m in comps.values()]
    return pd.DataFrame(rows, columns=["cluster_id", "n_docs", "members"])


def _force(df) -> None:
    df.write.format("noop").mode("overwrite").save()


class QueryWorkload:
    def __init__(self, spark, ws, seed: int) -> None:
        self.dir = ws.sub("tables")
        write_tables(self.dir, seed, SF)
        specs = all_specs()
        self.specs = {n: specs[n] for n in CORE}
        self.attach(spark)

    def attach(self, spark) -> None:
        self.spark = spark
        self.counters = StageCounters(spark)

    def detach(self) -> None:
        pass

    def scan(self, table: str) -> None:
        _force(load_table(self.spark, self.dir, table))

    def run_query(self, name: str) -> None:
        _force(self.specs[name].fn(self.spark, self.dir))
        self.spark.catalog.clearCache()

    # -- warm-up with output checks ----------------------------------------

    def prepare(self) -> None:
        self.checks = self.warm_up_and_check()

    def check(self, r: dict) -> tuple[int, list[str]]:
        return self.checks

    def warm_up_and_check(self) -> tuple[int, list[str]]:
        """One pass through the same registry calls and scans, collecting
        every result and comparing it with its oracle. Returns the number of
        checks made and the failures."""
        con = duckdb.connect()
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"read_parquet('{os.path.join(self.dir, t)}.parquet')")
        for t in SCAN_TABLES:
            self.scan(t)
        truth = exact_jaccard_pairs(con.execute("SELECT * FROM documents").fetchdf())
        fails = []
        for name, spec in self.specs.items():
            got = spec.fn(self.spark, self.dir).toPandas()
            self.spark.catalog.clearCache()
            if name == "dedup_minhash_lsh_pairs":
                status = self._check_lsh_pairs(truth, got)
            elif name == "dedup_cc_clusters":
                status = compare(got, cc_clusters(truth))
            else:
                status = compare(got, con.execute(spec.oracle).fetchdf())
            if status != "green":
                fails.append(f"{name}: {status}")
        con.close()
        return len(self.specs), fails

    @staticmethod
    def _check_lsh_pairs(truth: set[tuple[int, int]], got) -> str:
        """The contract dedup_minhash_lsh_recall states: precision 1 and
        recall >= 0.8 against exact Jaccard >= 0.5."""
        pairs = {(int(a), int(b)) for a, b in zip(got["id_a"], got["id_b"])}
        if not truth:
            return "no true pairs in the input (check is not discriminating)"
        spurious = pairs - truth
        recall = len(pairs & truth) / len(truth)
        if spurious or recall < 0.8:
            return f"precision {1 - len(spurious) / max(len(pairs), 1):.3f}, recall {recall:.3f}"
        return "green"

    # -- timed passes --------------------------------------------------------

    def timed(self, seconds: float, meter) -> dict:
        """Whole passes (six scans, then the 15 queries) until ``seconds``
        have passed; wall and process-tree CPU per scan and per query."""
        r = {"query_s": {n: [] for n in CORE}, "query_cpu_s": {n: [] for n in CORE},
             "read_s": {t: [] for t in SCAN_TABLES}, "read_cpu_s": {t: [] for t in SCAN_TABLES},
             "pass_s": []}
        s0 = self.counters.totals()
        a = meter.sample()
        t_end = time.perf_counter() + seconds
        while not r["pass_s"] or time.perf_counter() < t_end:
            t_pass = time.perf_counter()
            for kind, names, run in (("read", SCAN_TABLES, self.scan),
                                     ("query", CORE, self.run_query)):
                for name in names:
                    c0, t0 = meter.sample(), time.perf_counter()
                    run(name)
                    r[f"{kind}_s"][name].append(time.perf_counter() - t0)
                    r[f"{kind}_cpu_s"][name].append(meter.cpu_s(c0, meter.sample()))
            r["pass_s"].append(time.perf_counter() - t_pass)
        b = meter.sample()
        r["stages"] = StageCounters.diff(s0, self.counters.totals())
        r["n"] = len(r["pass_s"])
        r["ops"] = r["n"] * (len(CORE) + len(SCAN_TABLES))
        r["external_frac"] = meter.external_frac(a, b)
        return r

    @staticmethod
    def op_samples(r: dict) -> list[float]:
        return r["pass_s"]

    def metrics(self, r: dict) -> dict[str, tuple[float, str]]:
        """Shuffle amplification, and per-query and per-scan CPU and wall
        times. Each query, and each table, weighs equally: geometric means
        of per-name medians."""
        def typical(samples: dict) -> float:
            return 1000 * geomean([median(xs) for xs in samples.values()])

        return {
            "op_cpu_ms": (typical(r["query_cpu_s"]), "ms"),
            "read_cpu_ms": (typical(r["read_cpu_s"]), "ms"),
            "task_cpu_ms": (1000 * r["stages"]["task_cpu_s"] / (len(CORE) * r["n"]), "ms"),
            "write_amp": (r["stages"]["shuffle_bytes"] / r["stages"]["scanned_bytes"], "ratio"),
            "op_ms": (typical(r["query_s"]), "ms"),
            "op_ms_p90": (1000 * p90([x for xs in r["query_s"].values() for x in xs]), "ms"),
            "read_ms": (typical(r["read_s"]), "ms"),
            "pass_s": (median(r["pass_s"]), "s"),
        }

    # -- traced passes ---------------------------------------------------------

    def traced(self, tracer, passes: int) -> dict[str, set[str]]:
        """Replay ``passes`` passes with a span around every scan, registry
        call (build) and force (exec). Returns the tables each query read."""
        reads: dict[str, set[str]] = {n: set() for n in CORE}
        current = [None]
        original = tables_mod.load_table

        def recording_load_table(spark, sf_dir, name):
            if current[0]:
                reads[current[0]].add(name)
            return original(spark, sf_dir, name)

        patched = [m for m in list(sys.modules.values())
                   if getattr(m, "__name__", "").startswith("cdc_poc_spark")
                   and getattr(m, "load_table", None) is original]
        for m in patched:
            m.load_table = recording_load_table
        try:
            for p in range(passes):
                trace = f"pass{p}"
                with tracer.span("pass", trace):
                    for t in SCAN_TABLES:
                        with tracer.span(f"tables.scan.{t}", trace):
                            self.scan(t)
                    for name in CORE:
                        current[0] = name
                        with tracer.span(f"queries.{name}.build", trace):
                            df = self.specs[name].fn(self.spark, self.dir)
                        current[0] = None
                        with tracer.span(f"queries.{name}.exec", trace):
                            _force(df)
                        self.spark.catalog.clearCache()
        finally:
            for m in patched:
                m.load_table = original
        return reads
