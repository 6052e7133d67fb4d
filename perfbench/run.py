"""Benchmark of record for the KG-construction pipeline.

    python3 perfbench/run.py --workload backfill_dense --seed 1 --seconds 8 --trace 0

Run from the repository root.  Each run generates its corpus from
``--seed``, computes the DuckDB oracle's answer for it (outside timing),
starts a ``local[<nproc>]`` session, warms up, then repeats the
workload's unit of work for ``--seconds`` seconds:

* ``backfill_dense`` / ``backfill_longtail``: one unit is a KG build,
  ``materialize_kg`` (fast path, or with a fresh checkpoint warehouse)
  followed by ``sources.standoff.write_triples`` into a fresh sink.
* ``incremental_ingest``: one unit is one conversation-atomic delta file
  landed in the stream source, then ``run_stream_kg(extend_canon=True)``
  until the delta's ``v=N`` KG version is committed (closed loop, one
  client).

Every build's KG is compared with the oracle; the stream's last version
with the oracle re-keyed through the stream's final canonical map.
``--trace 1`` instead measures the same units traced (Spark event log
on, spans around every call into the pipeline) and untraced, and adds
the per-layer probes; spans are written to ``.perfbench_out/``.

The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = "cross_sentence_relation_extraction_idepnn_spark"


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    # a terminated run still stops its JVM and removes its scratch data
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    if not os.path.isfile(os.path.join(ROOT, PKG, "__init__.py")) or not os.path.isfile(
        os.path.join(ROOT, "__spark_entry__.py")
    ):
        print(f"perfbench: no {PKG} package under {ROOT}; run from a full checkout",
              file=sys.stderr)
        return 2
    # the benchmark's own modules, then the package, importable here and
    # (through PYTHONPATH) in Spark's Python workers
    sys.path.insert(1, ROOT)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    import harness

    if args.workload not in harness.WORKLOADS:
        ap.error(f"--workload must be one of {sorted(harness.WORKLOADS)}")

    os.environ.setdefault("SPARK_DRIVER_MEM", "2g")
    work = os.path.join(
        ROOT, ".perfbench_work", f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    )
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.makedirs(os.environ["TMPDIR"])
    try:
        result, info = harness.run(args, work)
    finally:
        harness.shutdown_jvm()
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass  # another run's scratch data is still there

    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    with open(
        os.path.join(out_dir, f"{args.workload}-s{args.seed}-trace{args.trace}.json"), "w"
    ) as f:
        json.dump({"result": result, "info": info}, f, indent=1)
    for k, m in result["metrics"].items():
        print(f"{k:32s} {m['value']:14.4f} {m['unit']}")
    print(f"{'failed_share':32s} {info['failed_share']:14.4f} ratio")
    print(json.dumps({k: info[k] for k in ("nproc", "cores", "mem_total_mb", "driver_mem")}
                     | {k: info.get(k) for k in ("corpus", "latency_tail_s",
                                                 "latency_tail_percentile",
                                                 "latency_samples", "steal_share_run",
                                                 "steal_share_timed")}))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
