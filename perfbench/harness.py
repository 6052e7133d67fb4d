"""Workloads, measurement and layer probes of the benchmark.

Imported by ``run.py`` once the repository root is on ``sys.path``.
"""

from __future__ import annotations

import os
import shutil
import statistics
import sys
import time
import traceback

import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark import SparkContext

import corpus
import oracle
from cross_sentence_relation_extraction_idepnn_spark import kernels
from cross_sentence_relation_extraction_idepnn_spark.operators.candidates import (
    candidate_pairs_fast,
)
from cross_sentence_relation_extraction_idepnn_spark.operators.graph import candidate_windows
from cross_sentence_relation_extraction_idepnn_spark.operators.linking import (
    canonicalize,
    dedup_triples,
    rekey_canonical,
)
from cross_sentence_relation_extraction_idepnn_spark.operators.mentions import detect_mentions
from cross_sentence_relation_extraction_idepnn_spark.operators.scoring import (
    emit_triples,
    featurize_and_score,
)
from cross_sentence_relation_extraction_idepnn_spark.operators.segmentation import segment
from cross_sentence_relation_extraction_idepnn_spark.plans.checkpoint import Checkpointer
from cross_sentence_relation_extraction_idepnn_spark.plans.pipeline import (
    materialize_kg,
    triples_from_transcripts,
)
from cross_sentence_relation_extraction_idepnn_spark.session import get_spark, release_caches
from cross_sentence_relation_extraction_idepnn_spark.sources.standoff import write_triples
from cross_sentence_relation_extraction_idepnn_spark.sources.transcripts import transcripts
from cross_sentence_relation_extraction_idepnn_spark.streaming.triples import (
    TRANSCRIPT_SCHEMA,
    run_stream_kg,
)
from cross_sentence_relation_extraction_idepnn_spark.training import load_weights
from probe import (
    MemorySampler,
    Spans,
    cpu_ticks,
    in_window,
    read_event_log,
    shuffle_stage_skew,
    steal_share,
)

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# Sizes and unit counts for a 4-core box.  Comparing two commits takes 48
# runs of two workloads, which must end within 3,420 s; on a quiet host
# the JVM start and the cold first unit alone take ~35 s of a run and
# every further unit ~6 s, which leaves room for one warm-up and two
# timed units.  A third timed unit (~6 s more a run) left the spread
# between runs as it was: that spread comes from whole runs running
# faster or slower, not from single units.
WORKLOADS = {
    "backfill_dense": {"shape": "dense", "docs": 400, "warehouse": False},
    "backfill_longtail": {"shape": "longtail", "docs": 300, "warehouse": True},
    "incremental_ingest": {"shape": "dense", "docs_per_delta": 20, "deltas": 40},
}
WARMUP_UNITS = 1
MIN_UNITS = 2
STAGES = [
    "sentences", "mentions", "candidates", "featurized",
    "quarantine", "scored", "triples", "kg",
]
KERNEL_SAMPLE = 1500
PREFIX_PASSES = 2


def _nproc() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def _mem_total_mb() -> float:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def tail(values: list[float]) -> tuple[float, float]:
    """(value, percentile) of the highest percentile with at least ten
    samples beyond it; the maximum (p100) when there are fewer than 11."""
    s = sorted(values)
    n = len(s)
    if n >= 11:
        return s[n - 11], 100.0 * (n - 10) / n
    return s[-1], 100.0


class Bench:
    """One run's state: inputs, the Spark session, counters and spans."""

    def __init__(self, args, work: str):
        self.args = args
        self.work = work
        self.spec = WORKLOADS[args.workload]
        self.cores = _nproc()
        self.spans = Spans(enabled=False)
        self.sampler = MemorySampler()
        self.spark = None
        self.tmp = os.environ["TMPDIR"]
        self.attempted = 0
        self.failed = 0
        self.checks: list[str] = []
        self.info: dict = {}
        self.unit_no = 0
        self.next_delta = 0
        self.ingested_turns = 0

    # ------------------------------------------------------------ inputs

    def make_inputs(self) -> None:
        spec, seed = self.spec, self.args.seed
        threads = self.cores
        if self.args.workload == "incremental_ingest":
            n = spec["docs_per_delta"] * spec["deltas"]
            self.docs = corpus.dense(
                seed, n, os.path.join(self.work, "corpus"), block=spec["docs_per_delta"]
            )
            table = oracle.transcript_table(self.docs, threads)
            self.delta_files = self._split_deltas(table, spec["docs_per_delta"])
            # one delta's documents: the per-layer probes' input
            self.probe_sf = self._subset_docs(spec["docs_per_delta"])
        else:
            gen = corpus.dense if spec["shape"] == "dense" else corpus.longtail
            self.docs = gen(seed, spec["docs"], os.path.join(self.work, "corpus"))
            self.probe_sf = os.path.dirname(self.docs)
            t0 = time.perf_counter()
            self.oracle = oracle.batch_kg(self.docs, threads)
            self.info["oracle_s"] = round(time.perf_counter() - t0, 3)
        self.sf = os.path.dirname(self.docs)
        self.info["corpus"] = corpus.describe(self.docs)
        self.info["corpus_sha256_16"] = corpus.file_digest(self.docs)
        self.turns = self.info["corpus"]["turns"]

    def _split_deltas(self, table, per: int) -> list[tuple[str, int]]:
        out = []
        ddir = os.path.join(self.work, "deltas")
        os.makedirs(ddir)
        delta_of = pc.divide(table.column("doc_id"), per)
        for i in range(self.spec["deltas"]):
            part = table.filter(pc.equal(delta_of, i)).drop_columns(["doc_id"])
            path = os.path.join(ddir, f"delta-{i:05d}.parquet")
            pq.write_table(part, path)
            out.append((path, part.num_rows))
        return out

    def _subset_docs(self, n_docs: int) -> str:
        t = pq.read_table(self.docs)
        sub = os.path.join(self.work, "probe_corpus")
        os.makedirs(sub)
        pq.write_table(
            t.filter(pc.less(t.column("doc_id"), n_docs)),
            os.path.join(sub, "documents.parquet"),
        )
        return sub

    # ----------------------------------------------------------- session

    def start_session(self, event_log: str | None = None) -> None:
        conf = {
            "spark.ui.showConsoleProgress": "false",
            # keep the JVM's scratch files (and its perf data, which
            # otherwise goes to /tmp) inside the checkout
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={self.tmp} -XX:-UsePerfData",
        }
        if event_log:
            os.makedirs(event_log, exist_ok=True)
            conf.update(
                {
                    "spark.eventLog.enabled": "true",
                    "spark.eventLog.dir": "file://" + event_log,
                    "spark.eventLog.compress": "false",
                }
            )
        self.spark = get_spark(app_name="perfbench", cores=self.cores, extra_conf=conf)
        self.spark.sparkContext.setLogLevel("ERROR")
        self.sampler.watch(SparkContext._gateway.proc.pid)

    # ------------------------------------------------------------- units

    def _fresh(self, name: str) -> str:
        d = os.path.join(self.work, "units", name)
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d)
        return d

    def _fail(self, what: str) -> None:
        self.failed += 1
        self.checks.append(what)
        print(f"perfbench: FAILED {what}", file=sys.stderr)

    def backfill_unit(self) -> float | None:
        """One timed KG build into fresh directories; returns its wall
        seconds, or None when it raised or its KG differs from the oracle."""
        i = self.unit_no
        self.unit_no += 1
        self.attempted += 1
        d = self._fresh(f"u{i}")
        wh = os.path.join(d, "warehouse") if self.spec.get("warehouse") else None
        sink = os.path.join(d, "sink")
        spark, sp = self.spark, self.spans
        try:
            release_caches()
            spark.catalog.clearCache()
            spark.sparkContext.setJobDescription(f"unit:{i}")
            t0 = time.perf_counter()
            with sp.span("unit", unit=i):
                with sp.span("plans.pipeline.materialize_kg"):
                    kg = (
                        materialize_kg(spark, self.sf, warehouse=wh)
                        if wh
                        else materialize_kg(spark, self.sf)
                    )
                with sp.span("sources.standoff.write_triples"):
                    out = write_triples(kg, sink)
            dt = time.perf_counter() - t0
            got = oracle.digest(out.select(*oracle.KG_COLS).collect())
            if got != self.oracle:
                self._fail(f"unit {i}: KG {got} != oracle {self.oracle}")
                return None
            if wh:
                stages = [m["stage"] for m in Checkpointer(spark, wh).meta()]
                if sorted(stages) != sorted(STAGES):
                    self._fail(f"unit {i}: checkpoint meta stages {stages}")
                    return None
            return dt
        except Exception:
            traceback.print_exc()
            self._fail(f"unit {i}: raised")
            return None
        finally:
            spark.sparkContext.setJobDescription(None)
            shutil.rmtree(d, ignore_errors=True)

    def start_stream(self) -> None:
        """Fresh source, KG, checkpoint and canon directories; the next
        delta lands as batch 0 of the new stream."""
        base = self._fresh(f"stream{self.unit_no}")
        self.src = os.path.join(base, "src")
        self.kg_dir = os.path.join(base, "kg")
        self.ckpt = os.path.join(base, "ckpt")
        self.canon_dir = os.path.join(base, "canon")
        os.makedirs(self.src)
        self.stream_first = self.next_delta
        self.batch = 0

    def _trigger(self):
        with self.spans.span("streaming.triples.run_stream_kg"):
            run_stream_kg(
                self.spark, self.src, self.kg_dir, self.ckpt,
                extend_canon=True, canon_dir=self.canon_dir,
            )

    def delta_unit(self) -> float | None:
        """Land the next delta file, trigger the stream, and wait for its
        KG version; returns the delta's latency in seconds."""
        i, v = self.next_delta, self.batch
        if i >= len(self.delta_files):
            raise RuntimeError("corpus has no more deltas; raise WORKLOADS deltas")
        self.attempted += 1
        self.unit_no += 1
        path, rows = self.delta_files[i]
        spark = self.spark
        try:
            spark.sparkContext.setJobDescription(f"unit:{self.unit_no}")
            t0 = time.perf_counter()
            with self.spans.span("unit", unit=i, turns=rows):
                os.replace(path, os.path.join(self.src, os.path.basename(path)))
                self.next_delta += 1
                self.batch += 1
                self._trigger()
            dt = time.perf_counter() - t0
            if not os.path.exists(os.path.join(self.kg_dir, f"v={v}", "_SUCCESS")):
                self._fail(f"delta {i}: version v={v} not committed")
                return None
            self.ingested_turns += rows
            return dt
        except Exception:
            traceback.print_exc()
            self._fail(f"delta {i}: raised")
            return None
        finally:
            spark.sparkContext.setJobDescription(None)

    def check_stream(self) -> None:
        """The stream's last KG version must equal the oracle's gold
        triple set over every document it ingested, re-keyed through the
        stream's final canonical map."""
        last = self.batch - 1
        kg = self.spark.read.parquet(os.path.join(self.kg_dir, f"v={last}"))
        got = oracle.digest(kg.select(*oracle.KG_COLS).collect())
        per = self.spec["docs_per_delta"]
        t0 = time.perf_counter()
        want = oracle.rekeyed_kg(
            self.docs,
            (self.stream_first * per, self.next_delta * per),
            os.path.join(self.canon_dir, f"v={last}"),
            self.cores,
        )
        self.info["oracle_s"] = round(time.perf_counter() - t0, 3)
        if got != want:
            self._fail(f"stream v={last}: KG {got} != rebuild {want}")

    def unit(self) -> float | None:
        if self.args.workload == "incremental_ingest":
            return self.delta_unit()
        return self.backfill_unit()

    # ----------------------------------------------------------- phases

    def setup(self, warmups: int, event_log: str | None = None) -> float:
        """Session start (a fresh stream for the incremental workload)
        through ``warmups`` warm-up units; returns its seconds."""
        t0 = time.perf_counter()
        with self.spans.span("setup"):
            self.start_session(event_log)
            if self.args.workload == "incremental_ingest":
                self.start_stream()
            for _ in range(warmups):
                self.unit()
        return time.perf_counter() - t0

    def measure(self, seconds: float) -> tuple[list[float], float]:
        """Repeat units for ``seconds`` and at least MIN_UNITS times;
        returns (successful unit latencies, wall seconds)."""
        lat: list[float] = []
        n = 0
        t0 = time.perf_counter()
        while time.perf_counter() - t0 < seconds or n < MIN_UNITS:
            dt = self.unit()
            n += 1
            if dt is not None:
                lat.append(dt)
        return lat, time.perf_counter() - t0

    def end_session(self, check: bool = True) -> None:
        """Check the stream's final KG (incremental workload), then stop
        the session."""
        if self.spark is None:
            return
        if check and self.args.workload == "incremental_ingest":
            self.check_stream()
        self.spark.stop()
        self.spark = None

    def end_to_end(
        self, setup_s: float, lat: list[float], wall: float, streamed_turns: int
    ) -> dict:
        """The end-to-end metrics of one measured loop; ``streamed_turns``
        are the turns the timed deltas carried (incremental workload)."""
        if not lat:
            return {}
        med = statistics.median(lat)
        # recorded, not bounded: with 2-3 units a run's tail is its maximum
        tail_v, tail_p = tail(lat)
        self.info["latency_tail_s"] = tail_v
        self.info["latency_tail_percentile"] = tail_p
        self.info["latency_samples"] = len(lat)
        self.info["latencies_s"] = [round(x, 4) for x in lat]
        if self.args.workload == "incremental_ingest":
            tps = streamed_turns / wall
        else:
            tps = self.turns / med
        return {
            "setup_s": (setup_s, "s"),
            "turns_per_s": (tps, "1/s"),
            "latency_p50_s": (med, "s"),
        }

    # ------------------------------------------------------- layer probes

    def layer_probes(self) -> dict:
        """Per-layer numbers, measured by calling each module directly."""
        out: dict = {}
        # first, before any probe builds plans over the probe corpus
        out.update(self.plan_build_probe())
        out.update(self.prefix_self_times())
        out.update(self.checkpoint_probe())
        out.update(self.idle_trigger_probe())
        out.update(self.kernel_probe())
        return out

    def _noop(self, df, desc: str) -> float:
        self.spark.sparkContext.setJobDescription(desc)
        t0 = time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
        dt = time.perf_counter() - t0
        self.spark.sparkContext.setJobDescription(None)
        return dt

    def prefix_self_times(self) -> dict:
        """Cumulative-prefix ``noop`` actions over the probe corpus;
        a layer's self time is its prefix minus the one before it."""
        spark, sf = self.spark, self.probe_sf
        tdf = transcripts(spark, sf)
        sents = segment(tdf)
        mens = detect_mentions(spark, sents)
        cands = candidate_pairs_fast(mens)
        wins = candidate_windows(cands, sents)
        scored = featurize_and_score(wins, weights=load_weights())
        kg = dedup_triples(rekey_canonical(emit_triples(scored), canonicalize(mens)))
        chain = [
            ("sources", tdf), ("segmentation", sents), ("mentions", mens),
            ("candidates", cands), ("graph", wins), ("scoring", scored),
            ("linking", kg),
        ]
        # the fastest of PREFIX_PASSES passes: the first pass also pays
        # for planning and compiling each new prefix query
        times: dict[str, float] = {}
        for p in range(PREFIX_PASSES):
            for name, df in chain:
                with self.spans.span(f"prefix.{name}", rep=p):
                    dt = self._noop(df, f"prefix:{name}")
                times[name] = min(times.get(name, dt), dt)
        out = {"sources.scan_s": (times["sources"], "s")}
        prev = times["sources"]
        label = {"graph": "graph.windows_self_s"}
        for name, _ in chain[1:]:
            out[label.get(name, f"{name}.self_s")] = (times[name] - prev, "s")
            prev = times[name]
        return out

    def plan_build_probe(self) -> dict:
        """Time for the Python call to return a lazy plan, on inputs no
        plan memo has seen: ``materialize_kg`` over a fresh copy of the
        probe corpus (a new ``sf_dir``, so the reader, plan and KG memos
        miss), or, on the incremental workload, ``triples_from_transcripts``
        over a DataFrame read from an unlanded delta file -- the plan
        ``run_stream_kg`` builds on every trigger."""
        release_caches()
        self.spark.catalog.clearCache()
        if self.args.workload == "incremental_ingest":
            if self.next_delta >= len(self.delta_files):
                raise RuntimeError("corpus has no unlanded delta; raise WORKLOADS deltas")
            path = self.delta_files[self.next_delta][0]
            tdf = self.spark.read.schema(TRANSCRIPT_SCHEMA).parquet(path)
            with self.spans.span("session.plan_build"):
                t0 = time.perf_counter()
                triples_from_transcripts(self.spark, tdf)
                plan = time.perf_counter() - t0
        else:
            sf = self._fresh("plan_corpus")
            shutil.copy(os.path.join(self.probe_sf, "documents.parquet"), sf)
            with self.spans.span("session.plan_build"):
                t0 = time.perf_counter()
                materialize_kg(self.spark, sf)
                plan = time.perf_counter() - t0
        release_caches()
        return {"session.plan_build_s": (plan, "s")}

    def checkpoint_probe(self) -> dict:
        """Per-stage checkpoint costs and counts from ``Checkpointer.meta()``
        of one checkpointed build of the probe corpus, and the sink write
        of the KG it checkpointed."""
        d = self._fresh("ckprobe")
        wh = os.path.join(d, "warehouse")
        release_caches()
        self.spark.catalog.clearCache()
        with self.spans.span("checkpoint.probe_build"):
            kg = materialize_kg(self.spark, self.probe_sf, warehouse=wh)
        meta = Checkpointer(self.spark, wh).meta()
        written = _du_mb(wh)
        with self.spans.span("standoff.sink_write"):
            t0 = time.perf_counter()
            write_triples(kg, os.path.join(d, "sink"))
            sink = time.perf_counter() - t0
        shutil.rmtree(d, ignore_errors=True)
        rows = {m["stage"]: m["rows"] for m in meta}
        out = {f"checkpoint.{m['stage']}_s": (m["wall_sec"], "s") for m in meta}
        skew = max(
            m["partitions"]["max_rows"] / (m["rows"] / m["n_files"])
            for m in meta
            if m["rows"] and m["n_files"]
        )
        words = corpus.describe(os.path.join(self.probe_sf, "documents.parquet"))["words"]
        out.update(
            {
                "standoff.sink_write_s": (sink, "s"),
                "checkpoint.written_mb": (written, "MB"),
                "checkpoint.file_rows_skew": (skew, "ratio"),
                "mentions.hit_rate": (rows["mentions"] / words, "ratio"),
                "scoring.ok_ratio": (1.0 - rows["quarantine"] / rows["featurized"], "ratio"),
                "scoring.accept_ratio": (rows["triples"] / rows["scored"], "ratio"),
                "linking.dedup_ratio": (rows["kg"] / rows["triples"], "ratio"),
            }
        )
        return out

    def idle_trigger_probe(self) -> dict:
        """A ``run_stream_kg`` call that finds no new file: the stream's
        checkpoint after the loop, or a fresh stream over an empty source."""
        if self.args.workload != "incremental_ingest":
            self.start_stream()
        before = sorted(os.listdir(self.kg_dir)) if os.path.isdir(self.kg_dir) else []
        with self.spans.span("streaming.idle_trigger"):
            t0 = time.perf_counter()
            self._trigger()
            idle = time.perf_counter() - t0
        after = sorted(os.listdir(self.kg_dir)) if os.path.isdir(self.kg_dir) else []
        if after != before:
            self._fail("idle trigger committed a KG version")
        return {"streaming.idle_trigger_s": (idle, "s")}

    def kernel_probe(self) -> dict:
        """Single-process rates of ``kernels.featurize_window`` and
        ``kernels.score_batch`` on a fixed sample of candidate windows,
        with the kernel memos emptied before each repetition."""
        spark = self.spark
        sents = segment(transcripts(spark, self.probe_sf))
        wins = candidate_windows(candidate_pairs_fast(detect_mentions(spark, sents)), sents)
        sample = [
            (list(r.wtexts), r.sent1, r.tok1, r.sent2, r.tok2, r.smin)
            for r in wins.orderBy("cand_id")
            .select("wtexts", "sent1", "tok1", "sent2", "tok2", "smin")
            .limit(KERNEL_SAMPLE)
            .collect()
        ]
        W = load_weights()
        feat_rates, score_rates = [], []
        for r in range(3):
            for cache in (kernels._win_cache, kernels._tree_arrays, kernels._head_cache,
                          kernels._pos_cache, kernels._post_cache):
                cache.clear()
            with self.spans.span("kernels.featurize_window", rep=r, rows=len(sample)):
                t0 = time.perf_counter()
                feats = [kernels.featurize_window(*s) for s in sample]
                feat_rates.append(len(sample) / (time.perf_counter() - t0))
            ok = [f for f in feats if f is not None]
            with self.spans.span("kernels.score_batch", rep=r, rows=len(ok)):
                t0 = time.perf_counter()
                for b in range(0, len(ok), 2048):
                    kernels.score_batch(ok[b : b + 2048], W)
                score_rates.append(len(ok) / (time.perf_counter() - t0))
        return {
            "kernels.featurize_rows_per_s": (statistics.median(feat_rates), "1/s"),
            "kernels.score_rows_per_s": (statistics.median(score_rates), "1/s"),
        }

    def event_log_metrics(self, log_dir: str) -> dict:
        """Engine totals per traced unit, and the candidate layer's shuffle
        write and task skew, from the Spark event log; tasks are matched
        to units and prefix actions by the spans' time windows."""
        tasks = read_event_log(log_dir)
        mb = 1024.0 * 1024.0

        def windows(name: str) -> list[list[dict]]:
            return [
                in_window(tasks, r["start"], r["end"])
                for r in self.spans.rows
                if r["name"] == name and r["parent"] is None
            ]

        def med_sum(groups: list[list[dict]], key: str) -> float:
            return statistics.median([sum(t[key] for t in g) for g in groups] or [0])

        units = windows("unit")
        cands = windows("prefix.candidates")
        self.info["spark_spill_mb_per_unit"] = med_sum(units, "spill") / mb
        return {
            # everything the prefix through the candidate self-join
            # writes: the scan's fan-out and the one conv_id exchange that
            # the segmentation window and the self-join share
            "candidates.shuffle_write_mb": (med_sum(cands, "shuffle_write") / mb, "MB"),
            "candidates.task_skew": (shuffle_stage_skew(cands[0]), "ratio"),
            "spark.shuffle_write_mb": (med_sum(units, "shuffle_write") / mb, "MB"),
            "spark.gc_s": (med_sum(units, "gc_ms") / 1000.0, "s"),
        }


def _du_mb(path: str) -> float:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total / (1024.0 * 1024.0)


def run(args, work: str) -> tuple[dict, dict]:
    b = Bench(args, work)
    result = {"correct": False, "attempted": 0, "failed": 0, "metrics": {}}
    ticks = cpu_ticks()
    try:
        b.make_inputs()
        setup_s = b.setup(WARMUP_UNITS)
        if args.trace:
            b.end_session()
            metrics = traced(b)
        else:
            turns_before = b.ingested_turns
            timed_ticks = cpu_ticks()
            lat, wall = b.measure(args.seconds)
            b.info["steal_share_timed"] = steal_share(timed_ticks, cpu_ticks())
            metrics = b.end_to_end(setup_s, lat, wall, b.ingested_turns - turns_before)
            b.end_session()
        result["metrics"] = {
            k: {"value": float(v), "unit": u} for k, (v, u) in sorted(metrics.items())
        }
        result["correct"] = b.failed == 0 and bool(metrics)
    finally:
        b.end_session(check=False)
        b.sampler.stop()
        result["attempted"] = max(b.attempted, 1)
        result["failed"] = b.failed if b.attempted else 1
        b.info.update(
            nproc=_nproc(),
            cores=b.cores,
            mem_total_mb=round(_mem_total_mb()),
            driver_mem=os.environ.get("SPARK_DRIVER_MEM"),
            failed_share=result["failed"] / result["attempted"],
            steal_share_run=steal_share(ticks, cpu_ticks()),
            checks=b.checks,
        )
    return result, b.info


def traced(b: Bench) -> dict:
    """The per-layer run, after the usual set-up.  The session restarts
    in the same JVM with the event log on and spans recorded (B: units,
    then the layer probes), and once more untraced (C: units).  The
    first unit after a restart (new Python workers, a new stream) is the
    slow one in both phases alike.  The tracing overhead is B's median
    unit latency minus C's; C runs later, on a warmer JVM, so the
    difference errs high."""
    log_dir = os.path.join(b.work, "eventlog")
    b.spans = Spans(enabled=True)
    b.setup(0, log_dir)
    lat_b, _ = b.measure(0)
    layers = b.layer_probes()
    b.end_session()
    layers.update(b.event_log_metrics(log_dir))
    b.spans.write(
        os.path.join(ROOT, ".perfbench_out", f"spans-{b.args.workload}-s{b.args.seed}.jsonl")
    )
    b.info["span_self_s"] = {k: round(v, 4) for k, v in b.spans.self_times().items()}
    b.spans = Spans(enabled=False)
    b.setup(0)
    lat_c, _ = b.measure(0)
    b.end_session()
    traced_p50 = statistics.median(lat_b)
    layers["trace.latency_p50_s"] = (traced_p50, "s")
    layers["trace.overhead_s"] = (traced_p50 - statistics.median(lat_c), "s")
    layers["process.peak_pss_mb"] = (b.sampler.peak_mb, "MB")
    return layers


def shutdown_jvm() -> None:
    """Close the gateway JVM (it exits when its stdin closes) and wait."""
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    try:
        gw.shutdown()
    except Exception:
        pass  # the gateway is already gone; the process wait below still runs
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None
