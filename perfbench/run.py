"""Benchmark of the CDC consumer's ingest paths and the core-15 query mix.

Usage (from the repository root):

    python3 perfbench/run.py --workload ingest_mirror --seed 1 --seconds 8 --trace 0

Workloads (BENCHMARK.json records why each was chosen):

- ``ingest_mirror`` CDCConsumer.start_mirror_query (64-bucket merge, DLQ on)
                    over a seeded Debezium-envelope changelog, closed loop;
                    read_mirror per table after every epoch.
- ``query_core``    the frozen core-15 registry queries in passes, each
                    forced to the noop sink; a forced scan of six tables per
                    pass is the read path.

The last line of standard output is one JSON object. With ``--trace 0``
it holds the end-to-end metrics that stay steady on a shared host:

- ``setup_s``      process-tree CPU seconds from process start to the first
                   timed operation (session, inputs, warm-up);
- ``write_amp``    ingest: bytes of files created or rewritten under the
                   warehouse and DLQ per byte of envelope input; queries:
                   shuffle bytes written per byte scanned;
- ``live_heap_mb`` JVM heap in use after full collections at the end of the
                   timed phase.

The lines before it print, with units, the figures that move with CPU
contention from outside the process tree and so are not in the result:
per-operation (epoch or query) and per-read wall and CPU times, Spark task
CPU, throughput, peak RSS and wall set-up time, plus the run's covariates
(nproc, loadavg, the share of machine CPU used outside the tree, sample
counts, phase times).

``--trace 1`` reports the per-layer metrics instead: after the same set-up
and timed phase, the session restarts with Spark's event log on, the timed
phase runs again (the difference is the tracing overhead), and a replay
calls each layer directly with a span around each call. A failed output
check makes the exit code 1. Every file a run writes goes under
``.perfbench_work/`` (removed at exit); traced runs leave their spans and
event-log counters under ``.perfbench_out/``.
"""

from __future__ import annotations

import time

PROCESS_T0 = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("ingest_mirror", "query_core")


def parse_args(argv: list[str]) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    sys.path.insert(0, ROOT)
    try:
        import cdc_poc_spark  # noqa: F401
    except ImportError as exc:
        print(f"the program under test is not importable here: {exc}", file=sys.stderr)
        return 2
    from perfbench.harness import Run

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    run = Run(args, spec, PROCESS_T0)
    try:
        return run.execute()
    except Exception:  # noqa: BLE001 - the run's boundary: report, exit non-zero
        traceback.print_exc()
        return 1
    finally:
        run.close()


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
